package graft.expressions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Cast, Expression, GreaterThan, KllSketchGetNDouble, KllSketchGetQuantileDouble, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{KllSketchAggDouble, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** One native sketch family (theta, freq, tuple, varopt): what
  * [[SketchAgg]] needs to build a sketch of type `B` per group.
  * `param` is the family's size parameter (lgK, maxMapSize or k).
  */
private[graft] abstract class SketchFamily[B <: AnyRef](val name: String) extends Serializable {
  def checkParam(param: Int): Unit
  /** None when the input types are accepted, else what is required. */
  def inputError(types: Seq[DataType]): Option[String]
  def create(types: Seq[DataType], param: Int): B
  /** Fold one row; every input is non-null (unary families get `a` twice). */
  def update(buf: B, a: Any, b: Any): B
  def merge(x: B, y: B, param: Int): B
  def serialize(buf: B): Array[Byte]
  def deserialize(bytes: Array[Byte], param: Int): B
}

/** graft_<family>_sketch_agg(inputs…, param) → binary: one sketch per
  * group. Rows with a null input are skipped; empty input → the
  * empty sketch, never null. Partial aggregation works like any
  * TypedImperativeAggregate — each task ships one sketch, never rows.
  */
private[graft] case class SketchAgg(
    family: SketchFamily[_ <: AnyRef],
    param: Int,
    children: Seq[Expression],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AnyRef] {

  family.checkParam(param)
  private def f = family.asInstanceOf[SketchFamily[AnyRef]]
  private val binary = children.length > 1

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = s"graft_${family.name}_sketch_agg"
  override protected def stringArgs: Iterator[Any] = children.iterator ++ Iterator(param)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    family.inputError(types).fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(need =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires $need, got ${types.map(_.simpleString).mkString("(", ", ", ")")}"))
  }

  override def createAggregationBuffer(): AnyRef = f.create(children.map(_.dataType), param)

  override def update(buffer: AnyRef, input: InternalRow): AnyRef = {
    val a = children.head.eval(input)
    val b = if (binary) children(1).eval(input) else a
    if (a == null || b == null) buffer else f.update(buffer, a, b)
  }

  override def merge(buffer: AnyRef, other: AnyRef): AnyRef = f.merge(buffer, other, param)
  override def eval(buffer: AnyRef): Any = f.serialize(buffer)
  override def serialize(buffer: AnyRef): Array[Byte] = f.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): AnyRef = f.deserialize(bytes, param)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchAgg =
    copy(children = newChildren)
}

/** One sketch read or merge, named by its SQL function: evaluates the
  * children and hands them to the family's XxxOps function from
  * [[SketchCall.kernels]]. A null input gives null, except for theta's
  * set algebra, where a null side is the empty set and the output is
  * never null.
  */
private[graft] case class SketchCall(name: String, children: Seq[Expression])
  extends Expression {

  @transient private lazy val kernel = SketchCall.kernels(name)

  override def checkInputDataTypes(): TypeCheckResult = {
    def show(ts: Seq[DataType]) = ts.map(_.simpleString).mkString("(", ", ", ")")
    val types = children.map(_.dataType)
    if (types == kernel.inputs) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${show(kernel.inputs)}, got ${show(types)}")
  }
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = !kernel.nullAsEmpty
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator

  def call(args: Array[Any]): Any =
    if (!kernel.nullAsEmpty && args.contains(null)) null else kernel.fn(args)

  override def eval(input: InternalRow): Any = call(children.map(_.eval(input)).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("sketchCall", this)
    val args = children.map(_.genCode(ctx))
    val (arr, r) = (ctx.freshName("args"), ctx.freshName("r"))
    val fill = args.zipWithIndex.map { case (a, i) =>
      s"$arr[$i] = ${a.isNull} ? null : (Object) ${a.value};" }
    ev.copy(code = code"""
      |${args.map(_.code).mkString("\n")}
      |Object[] $arr = new Object[${args.length}];
      |${fill.mkString("\n")}
      |Object $r = $self.call($arr);
      |boolean ${ev.isNull} = $r == null;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
      |  ${CodeGenerator.defaultValue(dataType)} : (${CodeGenerator.boxedType(dataType)}) $r;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchCall =
    copy(children = newChildren)
}

private[graft] object SketchCall {
  final case class Kernel(inputs: Seq[DataType], dataType: DataType,
                          nullAsEmpty: Boolean = false)(val fn: Array[Any] => Any)

  private def b(v: Any): Array[Byte] = v.asInstanceOf[Array[Byte]]
  private val one = Seq(BinaryType)
  private val two = Seq(BinaryType, BinaryType)
  private def theta(op: Int) =
    Kernel(two, BinaryType, nullAsEmpty = true)(a => ThetaOps.combine(b(a(0)), b(a(1)), op))
  private def row(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  val kernels: Map[String, Kernel] = Map(
    "graft_theta_estimate" -> Kernel(one, DoubleType)(a => ThetaOps.estimate(b(a(0)))),
    "graft_theta_union" -> theta(ThetaOps.OpUnion),
    "graft_theta_intersect" -> theta(ThetaOps.OpIntersect),
    "graft_theta_anotb" -> theta(ThetaOps.OpANotB),
    "graft_freq_top_items" -> Kernel(Seq(BinaryType, LongType, BooleanType), ArrayType(
        row("item" -> StringType, "est" -> LongType, "lb" -> LongType, "ub" -> LongType),
        containsNull = false))(a =>
      FreqOps.topItems(b(a(0)), a(1).asInstanceOf[Long], a(2).asInstanceOf[Boolean])),
    "graft_freq_merge" -> Kernel(two, BinaryType)(a => FreqOps.merge(b(a(0)), b(a(1)))),
    "graft_tuple_estimates" -> Kernel(one,
      row("distinct_est" -> DoubleType, "value_est" -> DoubleType))(a => TupleOps.estimates(b(a(0)))),
    "graft_tuple_merge" -> Kernel(two :+ IntegerType, BinaryType)(a =>
      TupleOps.merge(b(a(0)), b(a(1)), a(2).asInstanceOf[Int])),
    "graft_varopt_samples" -> Kernel(one, ArrayType(
        row("item" -> StringType, "weight" -> DoubleType), containsNull = false))(a =>
      VarOptOps.samples(b(a(0)))),
    "graft_varopt_merge" -> Kernel(two, BinaryType)(a => VarOptOps.merge(b(a(0)), b(a(1)))),
    // Spark's kll_sketch_get_rank_double takes only a foldable value,
    // so per-row ranks read the sketch here; empty sketch → null
    "graft_kll_rank" -> Kernel(Seq(BinaryType, DoubleType), DoubleType) { a =>
      val s = KllDoublesSketch.heapify(Memory.wrap(b(a(0))))
      if (s.isEmpty) null else s.getRank(a(1).asInstanceOf[Double], INCLUSIVE)
    })
}

/** Column helpers for every sketch family. theta/freq/tuple/varopt run
  * on [[SketchAgg]] and [[SketchCall]]; KLL builds and reads quantiles
  * with Spark's built-in `kll_sketch_*_double` (DataSketches KLL
  * doubles — the bytes graft's own aggregate wrote) under graft's
  * contracts: input double or long, and an empty sketch reads as null.
  * KLL merges are Spark's `kll_sketch_merge_double` as is; the per-row
  * rank is the `graft_kll_rank` kernel.
  */
object SketchColumns {
  import ColumnBridge.{column, expression => e}

  private def agg(family: SketchFamily[_ <: AnyRef], param: Int, in: Column*): Column =
    column(SketchAgg(family, param, in.map(e)).toAggregateExpression())
  private def call(name: String, in: Column*): Column = column(SketchCall(name, in.map(e)))

  /** Theta sketch of long/string/binary values (cast narrower integrals to long). */
  def thetaAgg(v: Column, lgK: Int): Column = agg(ThetaOps, lgK, v)
  def thetaEstimate(sketch: Column): Column = call("graft_theta_estimate", sketch)
  def thetaUnion(a: Column, b: Column): Column = call("graft_theta_union", a, b)
  def thetaIntersect(a: Column, b: Column): Column = call("graft_theta_intersect", a, b)
  def thetaANotB(a: Column, b: Column): Column = call("graft_theta_anotb", a, b)

  /** Frequent-items sketch of long/string values; maxMapSize a power of 2. */
  def freqAgg(v: Column, maxMapSize: Int): Column = agg(FreqOps, maxMapSize, v)
  def freqTopItems(sketch: Column, threshold: Long, noFalsePositives: Boolean = true): Column =
    call("graft_freq_top_items", sketch, lit(threshold), lit(noFalsePositives))
  def freqMerge(a: Column, b: Column): Column = call("graft_freq_merge", a, b)

  /** Sum-mode tuple sketch of (long/string key, value cast to double). */
  def tupleAgg(key: Column, value: Column, lgK: Int): Column =
    agg(TupleOps, lgK, key, value.cast(DoubleType))
  def tupleEstimates(sketch: Column): Column = call("graft_tuple_estimates", sketch)
  def tupleMerge(a: Column, b: Column, lgK: Int): Column = {
    TupleOps.checkParam(lgK)
    call("graft_tuple_merge", a, b, lit(lgK))
  }

  /** VarOpt sample of items rendered to string, weights cast to double. */
  def varoptAgg(item: Column, weight: Column, k: Int): Column =
    agg(VarOptOps, k, item.cast(StringType), weight.cast(DoubleType))
  def varoptSamples(sketch: Column): Column = call("graft_varopt_samples", sketch)
  def varoptMerge(a: Column, b: Column): Column = call("graft_varopt_merge", a, b)

  /** KLL sketch of a double or long input (long via toDouble; every
    * other type is refused — Spark's agg would take floats). Nulls
    * and NaNs are skipped; empty input → the empty sketch.
    */
  private[graft] def kllAgg(v: Column, inputType: DataType, k: Int): Column =
    column(kllAgg(e(v), inputType, k))
  /** INCLUSIVE quantiles (`quantile_disc` semantics); empty sketch → null. */
  def kllQuantiles(sketch: Column, probs: Seq[Double]): Column =
    column(kllQuantiles(e(sketch), probs))
  /** Inclusive normalized rank of a double; empty sketch → null. */
  def kllRank(sketch: Column, value: Column): Column = call("graft_kll_rank", sketch, value)

  private[graft] def kllAgg(v: Expression, inputType: DataType, k: Int): Expression = {
    val d = inputType match {
      case DoubleType => v
      case LongType => Cast(v, DoubleType)
      case other => throw new IllegalArgumentException(
        s"graft_kll_sketch_agg requires double/long input, got ${other.simpleString} " +
          "(cast other numerics explicitly)")
    }
    KllSketchAggDouble(d, Some(Literal(k))).toAggregateExpression()
  }

  private[graft] def kllQuantiles(sketch: Expression, probs: Seq[Double]): Expression = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile probs must be in [0,1], got $probs")
    nonEmptyKll(sketch, KllSketchGetQuantileDouble(sketch, Literal.create(probs.toArray)))
  }

  /** Spark's reads raise on an empty sketch; graft's answer there is null. */
  private def nonEmptyKll(sketch: Expression, read: Expression): Expression =
    CaseWhen(Seq(GreaterThan(KllSketchGetNDouble(sketch), Literal(0L)) -> read))
}
