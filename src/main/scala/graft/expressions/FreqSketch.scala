package graft.expressions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch, LongsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequent-items (heavy-hitter) sketch — DataSketches' Misra-Gries
  * family (Anderson et al., "A High-Performance Algorithm for
  * Identifying Frequent Items in Data Streams", IMC 2017) — as a ONE-
  * pass mergeable aggregate.
  *
  * Complements [[graft.hash.GraftCms]]: CMS answers "how often does
  * KEY k occur?" (you must already hold k) and graft's CMS
  * heavyHitters therefore re-scans the data to enumerate candidates;
  * the frequent-items sketch DISCOVERS the heavy keys in the same
  * single pass that counts them, and merges across
  * partitions/crawls. Error model is two-sided deterministic (not
  * probabilistic): every estimate satisfies est−maxError ≤ true ≤
  * est, with maxError = 0 while the item map never purged — so a
  * sketch sized above the distinct-key count is EXACT, which is what
  * makes q_freq_items oracle-checkable.
  *
  * Payloads are tagged ('L' = LongsSketch over bigint keys — a
  * primitive-map fast path — 'S' = ItemsSketch<String>) so a
  * persisted sketch is self-describing.
  */
object FreqOps extends SketchFamily[AnyRef]("freq") {
  final val TagLong: Byte = 'L'.toByte
  final val TagString: Byte = 'S'.toByte

  private val serde = new ArrayOfStringsSerDe

  def serialize(buf: AnyRef): Array[Byte] = buf match {
    case s: LongsSketch =>
      val b = s.toByteArray
      val out = new Array[Byte](b.length + 1)
      out(0) = TagLong; System.arraycopy(b, 0, out, 1, b.length); out
    case s: ItemsSketch[_] =>
      val b = s.asInstanceOf[ItemsSketch[String]].toByteArray(serde)
      val out = new Array[Byte](b.length + 1)
      out(0) = TagString; System.arraycopy(b, 0, out, 1, b.length); out
    case other => throw new IllegalStateException(s"not a frequency sketch: $other")
  }

  def deserialize(bytes: Array[Byte]): AnyRef = {
    require(bytes.length > 1, "truncated frequency-sketch payload")
    val body = java.util.Arrays.copyOfRange(bytes, 1, bytes.length)
    bytes(0) match {
      case TagLong => LongsSketch.getInstance(Memory.wrap(body))
      case TagString => ItemsSketch.getInstance(Memory.wrap(body), serde)
      case t => throw new IllegalArgumentException(
        s"unknown frequency-sketch tag $t (expected 'L' or 'S')")
    }
  }

  /** Merge two serialized sketches (same tag required). */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a(0) == b(0),
      s"cannot merge frequency sketches of different item types (${a(0).toChar} vs ${b(0).toChar})")
    serialize(merge(deserialize(a), deserialize(b), 0))
  }

  /** Items with estimate ≥ threshold as rows of
    * (item string, est, lb, ub). noFalsePositives=true → every
    * returned item truly meets the threshold (possibly missing some);
    * false → every qualifying item is returned (possibly with
    * extras). Identical sets when the sketch is exact.
    */
  def topItems(bytes: Array[Byte], threshold: Long,
               noFalsePositives: Boolean): GenericArrayData = {
    val et = if (noFalsePositives) ErrorType.NO_FALSE_POSITIVES else ErrorType.NO_FALSE_NEGATIVES
    val rows: Array[AnyRef] = deserialize(bytes) match {
      case s: LongsSketch =>
        s.getFrequentItems(threshold, et).map { r =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(r.getItem.toString),
            r.getEstimate, r.getLowerBound, r.getUpperBound)): AnyRef
        }
      case s: ItemsSketch[_] =>
        s.asInstanceOf[ItemsSketch[String]].getFrequentItems(threshold, et).map { r =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(r.getItem),
            r.getEstimate, r.getLowerBound, r.getUpperBound)): AnyRef
        }
    }
    new GenericArrayData(rows)
  }

  /** The sketch's deterministic error half-width (0 ⇒ exact). */
  def maxError(bytes: Array[Byte]): Long = deserialize(bytes) match {
    case s: LongsSketch => s.getMaximumError
    case s: ItemsSketch[_] => s.asInstanceOf[ItemsSketch[String]].getMaximumError
  }

  // graft_freq_sketch_agg(v, maxMapSize): a frequent-items sketch of
  // the values of `v` per group. maxMapSize (power of 2) bounds memory
  // at ~18 bytes/slot and sets the deterministic error bound
  // ≤ 3.5·streamLength/maxMapSize; a map never filled past 75% never
  // purges ⇒ exact. Nulls are skipped; empty input → empty sketch.

  def checkParam(maxMapSize: Int): Unit =
    require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
      s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")

  def inputError(types: Seq[DataType]): Option[String] = types match {
    case Seq(LongType | StringType) => None
    case _ => Some("long/string input (cast narrower integrals to long)")
  }

  def create(types: Seq[DataType], maxMapSize: Int): AnyRef = types.head match {
    case LongType => new LongsSketch(maxMapSize)
    case StringType => new ItemsSketch[String](maxMapSize)
  }

  def update(buf: AnyRef, v: Any, same: Any): AnyRef = {
    buf match {
      case s: LongsSketch => s.update(v.asInstanceOf[Long])
      case s: ItemsSketch[_] =>
        s.asInstanceOf[ItemsSketch[String]].update(v.asInstanceOf[UTF8String].toString)
    }
    buf
  }

  def merge(x: AnyRef, y: AnyRef, maxMapSize: Int): AnyRef = (x, y) match {
    case (a: LongsSketch, b: LongsSketch) => a.merge(b)
    case (a: ItemsSketch[_], b: ItemsSketch[_]) =>
      a.asInstanceOf[ItemsSketch[String]].merge(b.asInstanceOf[ItemsSketch[String]])
    case _ => throw new IllegalStateException("mismatched frequency-sketch buffers")
  }

  def deserialize(bytes: Array[Byte], maxMapSize: Int): AnyRef = deserialize(bytes)
}
