package graft.expressions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.sampling.{VarOptItemsSketch, VarOptItemsUnion}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** VarOpt weighted sampling (Cohen et al., "Stream sampling for
  * variance-optimal estimation of subset sums", SODA 2009; the
  * DataSketches implementation) as a mergeable aggregate: a bounded
  * sample of k items from a weighted stream whose Horvitz-Thompson
  * adjusted weights make any subset-sum estimate unbiased with
  * optimal variance.
  *
  * The 100 TB story: "keep 10k representative documents, weighted by
  * token count, refreshed as crawls land" — a fixed-size, MERGEABLE
  * corpus sample artifact. scio's A-Res `sampleWeighted`
  * (scio-core util/random/RandomSampler.scala family) draws a
  * per-run sample that cannot be combined later; VarOpt sketches
  * union across partitions and across crawls, so the stored sample
  * extends without re-reading history.
  *
  * Invariants the spec pins:
  *  - n ≤ k ⇒ the sample IS the input (items with exact weights) —
  *    the oracle-exact mode;
  *  - adjusted weights always sum EXACTLY to the total input weight
  *    (zero-variance whole-set estimate);
  *  - items heavier than the sampling threshold are always kept with
  *    their true weight.
  */
object VarOptOps extends SketchFamily[VarOptItemsSketch[String]]("varopt") {
  private val serde = new ArrayOfStringsSerDe

  def serialize(s: VarOptItemsSketch[String]): Array[Byte] = s.toByteArray(serde)

  def deserialize(bytes: Array[Byte], k: Int): VarOptItemsSketch[String] =
    VarOptItemsSketch.heapify(Memory.wrap(bytes), serde)

  def merge(a: VarOptItemsSketch[String], b: VarOptItemsSketch[String],
            k: Int): VarOptItemsSketch[String] = {
    val u = VarOptItemsUnion.newInstance[String](math.min(a.getK, b.getK))
    u.update(a); u.update(b)
    u.getResult
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    serialize(merge(deserialize(a, 0), deserialize(b, 0), 0))

  /** The sample as rows of (item, weight) with HT-adjusted weights. */
  def samples(bytes: Array[Byte]): GenericArrayData = {
    val s = deserialize(bytes, 0)
    val out = new Array[AnyRef](s.getNumSamples)
    val it = s.getSketchSamples.iterator()
    var i = 0
    while (it.hasNext) {
      val ws = it.next()
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(ws.getItem), ws.getWeight))
      i += 1
    }
    new GenericArrayData(out)
  }

  // graft_varopt_sketch_agg(item, weight, k): a k-item VarOpt sample
  // per group. Item is string (render keys to string upstream); weight
  // double and strictly positive — null items/weights and weight ≤ 0
  // rows are skipped (a zero-weight item can never be sampled;
  // negative weights are meaningless for subset sums). Empty input →
  // empty sketch.

  def checkParam(k: Int): Unit =
    require(k >= 1 && k <= (1 << 24), s"varopt k must be in [1, 2^24], got $k")

  def inputError(types: Seq[DataType]): Option[String] = types match {
    case Seq(StringType, DoubleType) => None
    case _ => Some("(string item, double weight)")
  }

  def create(types: Seq[DataType], k: Int): VarOptItemsSketch[String] =
    VarOptItemsSketch.newInstance[String](k)

  def update(buf: VarOptItemsSketch[String], item: Any, w: Any): VarOptItemsSketch[String] = {
    val wd = w.asInstanceOf[Double]
    if (wd > 0.0 && !wd.isNaN && !wd.isInfinite) buf.update(item.toString, wd)
    buf
  }
}
