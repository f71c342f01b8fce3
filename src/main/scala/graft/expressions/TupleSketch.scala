package graft.expressions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.tuple.{Sketch => TSketch, Sketches => TSketches, Union => TUnion}
import org.apache.datasketches.tuple.adouble.{DoubleSketch, DoubleSummary, DoubleSummaryDeserializer, DoubleSummarySetOperations}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tuple sketch with a Sum double summary (DataSketches tuple/adouble)
  * — aggregation over DISTINCT keys, mergeable.
  *
  * The question it answers that no other sketch here can: "sum of X
  * per DISTINCT key" — revenue per distinct customer, tokens per
  * distinct document — WITHOUT deduplicating the stream first.
  * Repeated observations of a key fold into that key's summary
  * (Sum mode); the retained-summary total scaled by 1/θ is an
  * unbiased estimate of the whole population's per-distinct-key sum.
  * Like theta (its keyed sibling), the sketch is EXACT below 2^lgK
  * distinct keys: θ = 1 and the value estimate is the plain SUM.
  *
  * Merges across partitions and crawls like the rest of the family —
  * the per-key summaries combine under the same Sum mode.
  */
object TupleOps extends SketchFamily[AnyRef]("tuple") {
  private val deser = new DoubleSummaryDeserializer
  private val mode = DoubleSummary.Mode.Sum
  private def setOps = new DoubleSummarySetOperations(mode, mode)

  def wrap(bytes: Array[Byte]): TSketch[DoubleSummary] =
    TSketches.heapifySketch(Memory.wrap(bytes), deser)

  def serialize(s: AnyRef): Array[Byte] = s match {
    case u: DoubleSketch => u.compact().toByteArray
    case c: TSketch[_] => c.asInstanceOf[TSketch[DoubleSummary]].compact().toByteArray
    case other => throw new IllegalStateException(s"not a tuple sketch: $other")
  }

  private def asSketch(s: AnyRef): TSketch[DoubleSummary] = s match {
    case u: DoubleSketch => u.compact()
    case c: TSketch[_] => c.asInstanceOf[TSketch[DoubleSummary]]
    case other => throw new IllegalStateException(s"not a tuple sketch: $other")
  }

  def merge(x: AnyRef, y: AnyRef, lgK: Int): AnyRef = {
    val u = new TUnion[DoubleSummary](1 << lgK, setOps)
    u.union(asSketch(x)); u.union(asSketch(y))
    u.getResult
  }

  def merge(a: Array[Byte], b: Array[Byte], lgK: Int): Array[Byte] =
    serialize(merge(wrap(a), wrap(b), lgK))

  /** (distinct_est, value_est): distinct-key estimate and the
    * Horvitz-Thompson estimate of the summed value over ALL distinct
    * keys (exact SUM while θ = 1).
    */
  def estimates(bytes: Array[Byte]): GenericInternalRow = {
    val s = wrap(bytes)
    var total = 0.0
    val it = s.iterator()
    while (it.next()) total += it.getSummary.getValue
    new GenericInternalRow(Array[Any](s.getEstimate, total / s.getTheta))
  }

  // graft_tuple_sketch_agg(key, value, lgK): a Sum-mode tuple sketch
  // per group. Key long/string; value double (a null key or value
  // skips the row; NaN values are skipped — they would poison every
  // sum they touch). Empty input → empty sketch.

  def checkParam(lgK: Int): Unit =
    require(lgK >= 4 && lgK <= 26, s"tuple lgK must be in [4,26], got $lgK")

  def inputError(types: Seq[DataType]): Option[String] = types match {
    case Seq(LongType | StringType, DoubleType) => None
    case _ => Some("(long/string key, double value)")
  }

  def create(types: Seq[DataType], lgK: Int): AnyRef = new DoubleSketch(lgK, mode)

  def update(buf: AnyRef, k: Any, v: Any): AnyRef = {
    val vd = v.asInstanceOf[Double]
    if (!vd.isNaN) buf match {
      case s: DoubleSketch => k match {
        case l: Long => s.update(l, Double.box(vd))
        case u: UTF8String => s.update(u.toString, Double.box(vd))
      }
      case other => throw new IllegalStateException(
        s"update after merge on a tuple-sketch buffer: $other")
    }
    buf
  }

  def deserialize(bytes: Array[Byte], lgK: Int): AnyRef = wrap(bytes)
}
