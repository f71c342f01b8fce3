package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, KllSketchMergeDouble, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** SparkSessionExtensions hook registering graft's native expressions
  * as SQL functions, so `spark.sql` users get the fused kernels too.
  * Every registered `graft_*` name is one row of `functions` below
  * (name, usage, accepted arities, builder); the usage is what an
  * arity mismatch raises.
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or spark.sql.extensions=graft.expressions.GraftExtensions
  *
  * GraftSession wires this in by default.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def literal(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a literal")
    e.eval()
  }

  /** Foldable integral arguments evaluated at plan time (SQL literal
    * parameters like numHashes/seed/cellBits). Int conversion is
    * exact — a bigint literal out of int range errors instead of
    * silently truncating to wrong hyperplanes/hash counts.
    */
  private def longArg(e: Expression, what: String): Long = literal(e, what) match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalArgumentException(s"$what must be integral, got $other")
  }

  private def intArg(e: Expression, what: String): Int = {
    val l = longArg(e, what)
    require(l >= Int.MinValue && l <= Int.MaxValue, s"$what out of int range: $l")
    l.toInt
  }

  private def typedArg[T](e: Expression, what: String, kind: String)(
      pf: PartialFunction[Any, T]): T = {
    val v = literal(e, what)
    pf.applyOrElse(v, (o: Any) =>
      throw new IllegalArgumentException(s"$what must be $kind literal, got $o"))
  }

  private case class Fn(name: String, usage: String, arities: Set[Int],
                        build: Seq[Expression] => Expression)

  /** A sketch read or merge whose arguments pass straight to [[SketchCall]]. */
  private def kernel(name: String, usage: String): Fn =
    Fn(name, usage, Set(SketchCall.kernels(name).inputs.size), SketchCall(name, _))

  private def sketchAgg(family: SketchFamily[_ <: AnyRef], param: Expression, what: String,
                        in: Expression*): Expression =
    SketchAgg(family, intArg(param, what), in).toAggregateExpression()

  private val functions: Seq[Fn] = Seq(
    Fn("graft_cosine", "graft_cosine(a, b) takes two array<float> arguments", Set(2),
      c => CosineSimilarity(c(0), c(1))),
    Fn("graft_dot", "graft_dot(a, b) takes two array<float> arguments", Set(2),
      c => DotProduct(c(0), c(1))),
    Fn("graft_hyperplane_cell",
      "graft_hyperplane_cell(vec, dim, nBits, seed) takes (array<float>, int, int, bigint)", Set(4),
      c => HyperplaneCell(c(0), graft.functions.VectorFunctions.hyperplanes(
        intArg(c(1), "dim"), intArg(c(2), "nBits"), longArg(c(3), "seed")).map(_.toSeq).toSeq)),
    Fn("graft_normalize",
      "graft_normalize(str, form) takes (string, literal form NFC/NFD/NFKC/NFKD)", Set(2),
      c => UnicodeNormalize(c(0),
        typedArg(c(1), "graft_normalize form", "a string") { case s: UTF8String => s.toString })),
    Fn("graft_minhash_agg", "graft_minhash_agg(h, numHashes) takes (bigint, int literal)", Set(2),
      c => MinHashAgg(c(0), intArg(c(1), "numHashes")).toAggregateExpression()),
    Fn("graft_simhash_agg", "graft_simhash_agg(h) takes one bigint argument", Set(1),
      c => SimHashAgg(c(0)).toAggregateExpression()),
    Fn("graft_excise_tokens",
      "graft_excise_tokens(units, positions, k) takes (array<string>, array<bigint>, int)", Set(3),
      c => ExciseTokens(c(0), c(1), intArg(c(2), "k"))),

    Fn("graft_theta_sketch_agg",
      "graft_theta_sketch_agg(v, lgK) takes (long/string/binary, int literal)", Set(2),
      c => sketchAgg(ThetaOps, c(1), "lgK", c(0))),
    kernel("graft_theta_estimate", "graft_theta_estimate(sketch) takes one binary argument"),
    kernel("graft_theta_union", "graft_theta_union(a, b) takes two binary arguments"),
    kernel("graft_theta_intersect", "graft_theta_intersect(a, b) takes two binary arguments"),
    kernel("graft_theta_anotb", "graft_theta_anotb(a, b) takes two binary arguments"),

    Fn("graft_freq_sketch_agg",
      "graft_freq_sketch_agg(v, maxMapSize) takes (long/string, int literal)", Set(2),
      c => sketchAgg(FreqOps, c(1), "maxMapSize", c(0))),
    Fn("graft_freq_top_items", "graft_freq_top_items(sketch, threshold[, noFalsePositives]) " +
      "takes (binary, bigint literal[, boolean literal])", Set(2, 3),
      c => SketchCall("graft_freq_top_items", Seq(c(0), Literal(longArg(c(1), "threshold")),
        Literal(c.lift(2).forall(typedArg(_, "noFalsePositives", "a boolean") {
          case b: java.lang.Boolean => b.booleanValue() }))))),
    kernel("graft_freq_merge", "graft_freq_merge(a, b) takes two binary arguments"),

    Fn("graft_tuple_sketch_agg",
      "graft_tuple_sketch_agg(key, value, lgK) takes (long/string, double, int literal)", Set(3),
      c => sketchAgg(TupleOps, c(2), "lgK", c(0), c(1))),
    kernel("graft_tuple_estimates", "graft_tuple_estimates(sketch) takes one binary argument"),
    Fn("graft_tuple_merge", "graft_tuple_merge(a, b, lgK) takes (binary, binary, int literal)",
      Set(3), c => {
        val lgK = intArg(c(2), "lgK")
        TupleOps.checkParam(lgK)
        SketchCall("graft_tuple_merge", Seq(c(0), c(1), Literal(lgK)))
      }),

    Fn("graft_varopt_sketch_agg",
      "graft_varopt_sketch_agg(item, weight, k) takes (string, double, int literal)", Set(3),
      c => sketchAgg(VarOptOps, c(2), "k", c(0), c(1))),
    kernel("graft_varopt_samples", "graft_varopt_samples(sketch) takes one binary argument"),
    kernel("graft_varopt_merge", "graft_varopt_merge(a, b) takes two binary arguments"),

    Fn("graft_kll_sketch_agg", "graft_kll_sketch_agg(v, k) takes (double/long, int literal)",
      Set(2), c => SketchColumns.kllAgg(c(0), c(0).dataType, intArg(c(1), "k"))),
    Fn("graft_kll_quantiles",
      "graft_kll_quantiles(sketch, array(probs…)) takes (binary, literal array<double>)", Set(2),
      c => SketchColumns.kllQuantiles(c(0),
        typedArg(c(1), "quantile probs", "an array<double>") {
          case a: ArrayData => a.toDoubleArray().toSeq })),
    kernel("graft_kll_rank", "graft_kll_rank(sketch, value) takes (binary, double)"),
    Fn("graft_kll_merge", "graft_kll_merge(a, b) takes two binary arguments", Set(2),
      c => KllSketchMergeDouble(c(0), c(1))))

  override def apply(ext: SparkSessionExtensions): Unit = functions.foreach { f =>
    ext.injectFunction((
      new FunctionIdentifier(f.name),
      new ExpressionInfo(classOf[GraftExtensions].getName, f.name),
      (children: Seq[Expression]) => {
        require(f.arities(children.size), f.usage)
        f.build(children)
      }))
  }
}
