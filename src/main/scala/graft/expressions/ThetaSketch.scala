package graft.expressions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketch, Sketches, Union}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Theta-sketch distinct-count set algebra (Apache DataSketches — the
  * library Spark itself bundles for `hll_sketch_agg`).
  *
  * Why theta next to HLL: HLL sketches union losslessly but can only
  * INTERSECT by inclusion-exclusion (|A∩B| = |A|+|B|−|A∪B|), whose
  * error is amplified by the magnitude of the inputs — useless when
  * the overlap is small relative to the sides, which is exactly the
  * interesting case for corpus-overlap questions ("how many documents
  * do these two crawls share?"). Theta sketches carry a sample of the
  * distinct-hash SET, so intersection and difference are first-class
  * with bounded relative error (Dasgupta et al., "Theta-Sketch
  * Framework" 2016).
  *
  * Exactness contract used by the oracle gate: an UpdateSketch stays
  * in EXACT mode until it retains 2^lgK hashes; while exact, estimate
  * == true distinct count and set ops are exact too. Size lgK above
  * the expected distinct cardinality and the whole algebra is exact —
  * the spec pins estimation-mode error bounds separately.
  *
  * Reference intent: scio's ApproxDistinctCounter estimator surface
  * (scio-core estimators/ApproxDistinctCounter.scala) and the
  * scio-extra hll module stop at per-key distinct ESTIMATES; the
  * set-algebra layer is the part a 100 TB curation pipeline needs for
  * crawl-overlap planning (dedup budget, incremental-crawl novelty).
  */
object ThetaOps extends SketchFamily[Union]("theta") {
  final val OpUnion = 0
  final val OpIntersect = 1
  final val OpANotB = 2

  /** Canonical empty compact sketch bytes (null input ≡ empty set). */
  lazy val emptyBytes: Array[Byte] =
    org.apache.datasketches.theta.UpdateSketch.builder().build().compact().toByteArray

  def wrap(bytes: Array[Byte]): Sketch =
    if (bytes == null) Sketches.wrapCompactSketch(Memory.wrap(emptyBytes))
    else Sketches.wrapCompactSketch(Memory.wrap(bytes))

  def estimate(bytes: Array[Byte]): Double = wrap(bytes).getEstimate

  /** numStdDev ∈ {1,2,3}; upper=false → lower bound. */
  def bound(bytes: Array[Byte], numStdDev: Int, upper: Boolean): Double = {
    val s = wrap(bytes)
    if (upper) s.getUpperBound(numStdDev) else s.getLowerBound(numStdDev)
  }

  /** Set-combine two compact sketches; null operand ≡ empty set.
    * Output is an ordered compact sketch (deterministic bytes in
    * exact mode — the set of retained hashes is partition-order
    * independent).
    *
    * The union GADGET is sized at theta's maximum (lgK=26) so the
    * combine step never degrades precision below the inputs' own:
    * precision is the build-time lgK's job, and a QuickSelect gadget
    * grows with retained entries, so the big nominal costs nothing
    * until sketches actually carry that many hashes (two compact
    * inputs retain ≤ 2·2^buildLgK ≪ 2^26). Intersection and aNotB
    * never sample — their capacity is bounded by the smaller input.
    */
  def combine(a: Array[Byte], b: Array[Byte], op: Int): Array[Byte] = {
    val sa = wrap(a)
    val sb = wrap(b)
    val out: CompactSketch = op match {
      case OpUnion =>
        val u = SetOperation.builder().setLogNominalEntries(26).buildUnion()
        u.union(sa); u.union(sb); u.getResult
      case OpIntersect =>
        val i = SetOperation.builder().buildIntersection()
        i.intersect(sa); i.intersect(sb); i.getResult
      case OpANotB =>
        SetOperation.builder().buildANotB().aNotB(sa, sb)
      case other => throw new IllegalArgumentException(s"unknown theta op $other")
    }
    out.toByteArray
  }

  // graft_theta_sketch_agg(v, lgK): one compact theta sketch of the
  // distinct values of `v` per group. Buffer is a heap theta Union; a
  // null is not a distinct value (matching count(distinct)); empty
  // input → the empty sketch (estimate 0), so set algebra downstream
  // treats absence and emptiness identically.

  def checkParam(lgK: Int): Unit =
    require(lgK >= 4 && lgK <= 26, s"theta lgK must be in [4,26], got $lgK")

  def inputError(types: Seq[DataType]): Option[String] = types match {
    case Seq(LongType | StringType | BinaryType) => None
    case _ => Some("long/string/binary input (cast narrower integrals to long)")
  }

  def create(types: Seq[DataType], lgK: Int): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  def update(buf: Union, v: Any, same: Any): Union = {
    v match {
      case l: Long => buf.update(l)
      case s: UTF8String => buf.update(s.toString)
      case b: Array[Byte] => buf.update(b)
    }
    buf
  }

  def merge(x: Union, y: Union, lgK: Int): Union = { x.union(y.getResult); x }

  def serialize(buf: Union): Array[Byte] = buf.getResult.toByteArray

  def deserialize(bytes: Array[Byte], lgK: Int): Union = {
    val u = create(Nil, lgK)
    u.union(Memory.wrap(bytes))
    u
  }
}
