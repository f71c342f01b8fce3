package graft.hash

import java.io.{DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Scalable Bloom filter (reference:
  * scio-core/src/main/scala/com/spotify/scio/hash/
  * MutableScalableBloomFilter.scala, after Almeida et al., "Scalable
  * Bloom Filters", Inf. Process. Lett. 101(6)): a STACK of fixed
  * filters — inserts go to the newest; when it fills, a new filter
  * opens with `growthRate`× its capacity and `tighteningRatio`× its
  * error rate, so total capacity is unbounded while the compounded
  * false-positive probability stays below fpp/(1−tighteningRatio).
  *
  * Where [[GraftBloom]] is the build-once-over-a-known-corpus
  * artifact (capacity fixed up front by a distributed aggregation),
  * this is the INCREMENTAL artifact: a driver/stream-side accumulator
  * for key sets of unknown size — ingest dedup lists, rolling
  * deny-lists — persisted and probed with the same machinery
  * (Hadoop-FS save/load; the probe over a Dataset is an OR of native
  * codegen [[graft.expressions.BloomProbe]] kernels, one per stacked
  * filter, still inside whole-stage codegen).
  *
  * Like the reference, `approximateElementCount` counts only inserts
  * that changed some filter's bits, so re-adding a present item does
  * not grow the stack.
  */
final class ScalableBloom private (
    val initialCapacity: Long,
    val fpp: Double,
    val growthRate: Int,
    val tighteningRatio: Double,
    private var stack: List[ScalableBloom.Slice]) extends Serializable {
  import ScalableBloom.Slice

  def numFilters: Int = stack.length
  def approximateElementCount: Long = stack.map(_.count).sum

  private def ensureRoom(): Slice = stack match {
    case head :: _ if head.count < head.capacity => head
    case _ =>
      val (cap, err) =
        if (stack.isEmpty) (initialCapacity, fpp)
        else (stack.head.capacity * growthRate, stack.head.err * tighteningRatio)
      val s = Slice(BloomFilter.create(cap, err), cap, err, 0L)
      stack = s :: stack
      s
  }

  /** Insert; returns true if the stack's bits changed (new item). */
  def putLong(v: Long): Boolean = {
    if (mightContainLong(v)) return false
    val s = ensureRoom()
    val changed = s.filter.putLong(v)
    if (changed) s.count += 1
    changed
  }

  /** Strings insert as UTF-8 bytes — the same representation
    * [[GraftBloom]] and the probe expression use.
    */
  def putString(v: String): Boolean = {
    if (mightContainString(v)) return false
    val s = ensureRoom()
    val changed = s.filter.putBinary(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (changed) s.count += 1
    changed
  }

  def mightContainLong(v: Long): Boolean = stack.exists(_.filter.mightContainLong(v))
  def mightContainString(v: String): Boolean = {
    val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    stack.exists(_.filter.mightContainBinary(b))
  }

  /** Probe column over `df(key)`: OR of one native codegen probe per
    * stacked filter (stacks stay short — geometric growth — so this
    * is a handful of static calls per row, not a loop).
    */
  def probe(df: DataFrame, key: String): Column = {
    require(stack.nonEmpty, "empty scalable filter: probe would reject every row")
    stack.map(s => GraftBloom.probe(df, key, s.filter)).reduce(_ || _)
  }

  def filterByBloom(df: DataFrame, key: String): DataFrame = df.filter(probe(df, key))

  /** Persist: header (params + slice count) then each slice's
    * capacity/err/count and LENGTH-PREFIXED Spark BloomFilter V1
    * bytes, newest first. The length prefix matters: Spark's
    * `BloomFilter.readFrom(InputStream)` buffers past the filter's
    * own bytes, so back-to-back filters on one stream cannot be read
    * positionally — each slice is framed and parsed from its own
    * buffer instead. Temp + atomic rename: a failed write leaves the
    * old file intact.
    */
  def write(spark: SparkSession, path: String): Unit =
    graft.util.Artifacts.write(spark, path) { os =>
      val out = new DataOutputStream(os)
      out.writeInt(ScalableBloom.Magic)
      out.writeLong(initialCapacity); out.writeDouble(fpp)
      out.writeInt(growthRate); out.writeDouble(tighteningRatio)
      out.writeInt(stack.length)
      stack.foreach { s =>
        out.writeLong(s.capacity); out.writeDouble(s.err); out.writeLong(s.count)
        val buf = new java.io.ByteArrayOutputStream()
        s.filter.writeTo(buf)
        out.writeInt(buf.size())
        buf.writeTo(out)
      }
    }
}

object ScalableBloom {

  private val Magic = 0x47534246 // "GSBF"

  private[hash] final case class Slice(filter: BloomFilter, capacity: Long,
                                       err: Double, var count: Long)

  /** Empty scalable filter. Defaults follow the reference
    * (growthRate 2, tighteningRatio 0.5).
    */
  def apply(initialCapacity: Long, fpp: Double = 0.01,
            growthRate: Int = 2, tighteningRatio: Double = 0.5): ScalableBloom = {
    require(initialCapacity > 0, s"initialCapacity must be positive, got $initialCapacity")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    require(growthRate >= 2, s"growthRate must be >= 2, got $growthRate")
    require(tighteningRatio > 0 && tighteningRatio <= 1,
      s"tighteningRatio must be in (0,1], got $tighteningRatio")
    new ScalableBloom(initialCapacity, fpp, growthRate, tighteningRatio, Nil)
  }

  /** Load a previously written filter stack. */
  def read(spark: SparkSession, path: String): ScalableBloom =
    graft.util.Artifacts.read(spark, path) { is =>
      val in = new DataInputStream(is)
      require(in.readInt() == Magic, s"$path is not a graft scalable Bloom filter")
      val (cap0, fpp) = (in.readLong(), in.readDouble())
      val (gr, tr) = (in.readInt(), in.readDouble())
      val n = in.readInt()
      val slices = (0 until n).map { _ =>
        val (cap, err, count) = (in.readLong(), in.readDouble(), in.readLong())
        val buf = new Array[Byte](in.readInt())
        in.readFully(buf)
        Slice(BloomFilter.readFrom(new java.io.ByteArrayInputStream(buf)), cap, err, count)
      }.toList
      new ScalableBloom(cap0, fpp, gr, tr, slices)
    }
}
