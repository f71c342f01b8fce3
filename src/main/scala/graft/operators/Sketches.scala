package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.expressions.SketchColumns._
import graft.util.Artifacts

/** Mergeable distinct-count sketches as PERSISTED, incrementally
  * growable artifacts — the cross-crawl accounting layer of a 100 TB
  * curation pipeline.
  *
  * Reference intent: scio's distinct-count surface is
  * `SCollection.countApproxDistinct` backed by the
  * `ApproxDistinctCounter` estimator SPI (scio-core
  * estimators/ApproxDistinctCounter.scala) with zetasketch HLL++ as
  * the production implementation (scio-extra hll/zetasketch) — chosen
  * precisely because its sketches MERGE, so per-shard results
  * combine without recount. Graft re-expresses that design Spark-first:
  *
  *  - per-group HLL sketches via Spark's codegen'd DataSketches
  *    `hll_sketch_agg` (partial-aggregated map-side like any agg);
  *  - the sketch table saved ONCE as a parquet artifact with a
  *    parameter sidecar (`_GRAFT_SKETCH`), the same
  *    train-once-persist-reuse contract as the MinHash / IVF / BPE
  *    artifacts;
  *  - `extendHllIndex`: a new crawl unions its sketches into the
  *    stored ones per group — historical rows are NEVER re-read
  *    (register-max union is lossless and order-independent, so the
  *    extended artifact equals a from-scratch rebuild, spec-pinned);
  *  - theta sketches ([[graft.expressions.ThetaOps]]) for the
  *    set-ALGEBRA questions HLL cannot answer without error
  *    amplification: crawl-overlap (intersection), novelty
  *    (difference) — `thetaSetEstimates` joins two sketch tables
  *    full-outer per group and emits union/intersection/difference
  *    estimates from sketch-sized inputs only;
  *  - frequent-items sketches ([[graft.expressions.FreqOps]])
  *    for ONE-pass heavy-hitter discovery with deterministic bounds
  *    (`frequentItems`);
  *  - KLL quantile sketches (Spark's built-in `kll_sketch_*_double`) for
  *    MERGEABLE percentiles — each crawl sketches itself, the stored
  *    distribution extends without re-scanning history (the
  *    incremental counterpart of `Stats.saveQuantileGrid`).
  *
  *  - VarOpt weighted samples ([[graft.expressions.VarOptOps]])
  *    — a bounded MERGEABLE representative sample (k items, HT
  *    weights) that extends as crawls land, where scio's A-Res
  *    `sampleWeighted` draw cannot be combined after the fact;
  *  - Sum-mode tuple sketches ([[graft.expressions.TupleOps]])
  *    — aggregation over DISTINCT keys ("revenue per distinct
  *    customer") without deduplicating the stream first.
  *
  * All six kinds share one artifact contract via
  * `saveIndex(kind = "hll" | "theta" | "freq" | "kll" | "varopt" |
  * "tuple")`; the sidecar's `lgK` slot carries each kind's size
  * parameter (hll lgConfigK, theta/tuple lgK, freq log2(maxMapSize),
  * kll k, varopt k), and `weightCol` is non-empty for varopt (the
  * sampling weight) and tuple (the summed value).
  *
  * Everything here moves sketches (≤ ~1 MB), never rows: build is one
  * shuffle of partial sketches per side; set ops join tables whose
  * row count is the number of GROUPS.
  */
object Sketches {

  final case class SketchIndexParams(kind: String, lgK: Int, valueCol: String,
                                     groupCols: Seq[String], weightCol: String = "")

  private val Meta = "_GRAFT_SKETCH"

  // ---------------------------------------------------------------
  // build

  /** `agg` per group as groupCols* + `sketch`; no groupCols → one row. */
  private def perGroup(df: DataFrame, groupCols: Seq[String], agg: Column): DataFrame =
    if (groupCols.isEmpty) df.agg(agg.as("sketch"))
    else df.groupBy(groupCols.map(col): _*).agg(agg.as("sketch"))

  private def hllAgg(v: Column, lgK: Int): Column = {
    require(lgK >= 4 && lgK <= 21, s"hll lgConfigK must be in [4,21], got $lgK")
    hll_sketch_agg(v, lgK)
  }

  /** KLL agg over `valueCol`, whose type decides the double/long contract. */
  private def kllAggOf(df: DataFrame, valueCol: String, k: Int): Column =
    kllAgg(col(valueCol), df.select(col(valueCol)).schema.head.dataType, k)

  /** Per-group HLL sketch table: groupCols* + `sketch` binary.
    * No groupCols → one global row (group key `_global` omitted).
    */
  def hllSketches(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  lgK: Int = 12): DataFrame =
    perGroup(df, groupCols, hllAgg(col(valueCol), lgK))

  /** Per-group theta sketch table: groupCols* + `sketch` binary. */
  def thetaSketches(df: DataFrame, valueCol: String, groupCols: Seq[String],
                    lgK: Int = 14): DataFrame =
    perGroup(df, groupCols, thetaAgg(col(valueCol), lgK))

  /** Per-group frequent-items sketch table: groupCols* + `sketch`.
    * maxMapSize must be a power of 2; exact while distinct keys per
    * group stay under ~75% of it.
    */
  def freqSketches(df: DataFrame, valueCol: String, groupCols: Seq[String],
                   maxMapSize: Int = 1 << 12): DataFrame =
    perGroup(df, groupCols, freqAgg(col(valueCol), maxMapSize))

  /** ONE-pass heavy hitters: per group, the items whose frequency
    * estimate meets `threshold`, with the sketch's deterministic
    * bounds (lb ≤ true ≤ ub). Unlike the CMS two-pass heavyHitters
    * (sketch prefilter + exact recount), this never re-reads the
    * data — the discovery and the counts come from the same pass,
    * which is the only option when the source is a stream or a
    * crawl you won't scan twice. Exact (and then identical to the
    * exact groupBy-HAVING answer) while the per-group sketch never
    * purges.
    */
  def frequentItems(df: DataFrame, valueCol: String, groupCols: Seq[String],
                    threshold: Long, maxMapSize: Int = 1 << 12,
                    noFalsePositives: Boolean = true): DataFrame = {
    val sk = freqSketches(df, valueCol, groupCols, maxMapSize)
    sk.select(groupCols.map(col) :+
        explode(freqTopItems(col("sketch"), threshold, noFalsePositives))
          .as("hit"): _*)
      .select(groupCols.map(col) ++ Seq(
        col("hit.item").as("item"), col("hit.est").as("est"),
        col("hit.lb").as("lb"), col("hit.ub").as("ub")): _*)
  }


  /** Per-group KLL quantile sketch table: groupCols* + `sketch`. */
  def kllSketches(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  k: Int = 200): DataFrame =
    perGroup(df, groupCols, kllAggOf(df, valueCol, k))

  /** Append per-prob quantile columns (`p50`, `p99`, …; prob 0.5 →
    * "p50", 0.995 → "p99_5") to a KLL sketch table — the read side of
    * a persisted quantile artifact.
    */
  def withQuantiles(sketchTable: DataFrame, probs: Seq[Double]): DataFrame = {
    val qs = kllQuantiles(col("sketch"), probs)
    val named = probs.zipWithIndex.map { case (p, i) =>
      val label = "p" + (BigDecimal(p) * 100).bigDecimal.stripTrailingZeros
        .toPlainString.replace(".", "_")
      element_at(col("_q"), i + 1).as(label)
    }
    sketchTable.withColumn("_q", qs)
      .select(sketchTable.columns.map(col).toSeq ++ named: _*)
      .drop("_q")
  }

  /** Percentile rank of each row's `valueCol` against a KLL sketch
    * table's distribution for its group — calibration against a
    * persisted (possibly extended) corpus distribution. Sketch-sized
    * broadcast join, then a pure projection.
    */
  def kllRank(df: DataFrame, valueCol: String, sketchTable: DataFrame,
              groupCols: Seq[String], outCol: String = "pct_rank"): DataFrame = {
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(sketchTable))
      else df.join(broadcast(sketchTable), groupCols, "left")
    joined.withColumn(outCol,
        graft.expressions.SketchColumns.kllRank(col("sketch"), col(valueCol).cast("double")))
      .drop("sketch")
  }

  /** Per-group VarOpt weighted-sample sketch table: groupCols* +
    * `sketch`. Items render to string; weights must be positive
    * doubles (zero/negative/NaN rows are skipped).
    */
  def varoptSketches(df: DataFrame, itemCol: String, weightCol: String,
                     groupCols: Seq[String], k: Int): DataFrame =
    perGroup(df, groupCols, varoptAgg(col(itemCol), col(weightCol), k))

  /** Per-group bounded weighted sample: one row per retained item with
    * its Horvitz-Thompson adjusted weight (subset-sum estimates over
    * these rows are unbiased; the whole-group sum is exact). With
    * n ≤ k per group this IS the input.
    */
  def weightedSample(df: DataFrame, itemCol: String, weightCol: String,
                     groupCols: Seq[String], k: Int): DataFrame = {
    val sk = varoptSketches(df, itemCol, weightCol, groupCols, k)
    sk.select(groupCols.map(col) :+ explode(varoptSamples(col("sketch"))).as("s"): _*)
      .select(groupCols.map(col) ++ Seq(
        col("s.item").as("item"), col("s.weight").as("weight")): _*)
  }

  /** Per-group Sum-mode tuple sketch table: groupCols* + `sketch`
    * over (keyCol, valueCol) — aggregation over DISTINCT keys.
    */
  def tupleSketches(df: DataFrame, keyCol: String, valueCol: String,
                    groupCols: Seq[String], lgK: Int = 14): DataFrame =
    perGroup(df, groupCols, tupleAgg(col(keyCol), col(valueCol), lgK))

  /** Per-group (distinct_est, value_est) read off a tuple sketch
    * table: distinct keys and the per-distinct-key value sum — exact
    * while the sketch never sampled.
    */
  def distinctValueEstimates(sketchTable: DataFrame): DataFrame =
    sketchTable
      .withColumn("_e", tupleEstimates(col("sketch")))
      .withColumn("distinct_est", col("_e.distinct_est"))
      .withColumn("value_est", col("_e.value_est"))
      .drop("_e")

  /** Append a `distinct_est` column to an hll or theta sketch table. */
  def withEstimate(sketchTable: DataFrame, kind: String): DataFrame = {
    val est = kindOf(kind).distinct.getOrElse(throw new IllegalArgumentException(
      s"withEstimate reads hll or theta sketch tables, not '$kind'"))
    sketchTable.withColumn("distinct_est", est(col("sketch")))
  }

  // ---------------------------------------------------------------
  // artifact

  /** One index kind: its build column over (frame, valueCol,
    * weightCol, size), the merge of two non-null sketches (given the
    * sidecar's lgK), the sidecar `lgK` slot → the family's size
    * parameter, whether it needs a weightCol, and its distinct-count
    * read (hll/theta only).
    */
  private final case class Kind(build: (DataFrame, String, String, Int) => Column,
                                merge: (Column, Column, Int) => Column,
                                size: Int => Int = identity,
                                weighted: Boolean = false,
                                distinct: Option[Column => Column] = None)

  private val kinds: Map[String, Kind] = Map(
    "hll" -> Kind((_, v, _, n) => hllAgg(col(v), n), (a, b, _) => hll_union(a, b),
      distinct = Some(hll_sketch_estimate(_: Column))),
    "theta" -> Kind((_, v, _, n) => thetaAgg(col(v), n), (a, b, _) => thetaUnion(a, b),
      distinct = Some(thetaEstimate)),
    "freq" -> Kind((_, v, _, n) => freqAgg(col(v), n), (a, b, _) => freqMerge(a, b),
      size = 1 << _),
    "kll" -> Kind((df, v, _, n) => kllAggOf(df, v, n),
      (a, b, _) => kll_sketch_merge_double(a, b)),
    "varopt" -> Kind((_, v, w, n) => varoptAgg(col(v), col(w), n),
      (a, b, _) => varoptMerge(a, b), weighted = true),
    "tuple" -> Kind((_, v, w, n) => tupleAgg(col(v), col(w), n), tupleMerge, weighted = true))

  private def kindOf(kind: String): Kind = kinds.getOrElse(kind,
    throw new IllegalArgumentException(s"unknown sketch kind '$kind'"))

  private def buildTable(df: DataFrame, p: SketchIndexParams): DataFrame = {
    val k = kindOf(p.kind)
    require(!k.weighted || p.weightCol.nonEmpty,
      s"${p.kind} index needs weightCol (the sampling weight or summed value)")
    perGroup(df, p.groupCols, k.build(df, p.valueCol, p.weightCol, k.size(p.lgK)))
  }

  /** Build and persist a sketch index: parquet sketch table + param
    * sidecar. `kind` ∈ {hll, theta, freq, kll, varopt, tuple}; `lgK`
    * is the kind's size parameter (see the object doc) and varopt and
    * tuple need `weightCol`. A rewrite removes the old sidecar before
    * the table write and writes the new one last, so a rewrite that
    * dies midway reads as "not a graft sketch index" ([[extendIndex]]
    * too).
    */
  def saveIndex(df: DataFrame, valueCol: String, groupCols: Seq[String],
                path: String, kind: String = "hll", lgK: Int = 12,
                weightCol: String = ""): Unit = {
    val p = SketchIndexParams(kind, lgK, valueCol, groupCols, weightCol)
    Artifacts.delete(df.sparkSession, s"$path/$Meta")
    buildTable(df, p).write.mode("overwrite").parquet(s"$path/sketches")
    writeMeta(df.sparkSession, path, p)
  }

  private def writeMeta(spark: SparkSession, path: String,
                        p: SketchIndexParams): Unit = {
    val node = Artifacts.json.createObjectNode().put("kind", p.kind).put("lgK", p.lgK)
      .put("valueCol", p.valueCol).put("weightCol", p.weightCol)
    val groups = node.putArray("groupCols")
    p.groupCols.foreach(g => groups.add(g))
    Artifacts.writeJson(spark, s"$path/$Meta", node)
  }

  /** Read back an index's parameter sidecar (loud failure when absent —
    * the directory is not a sketch artifact).
    */
  def loadIndexParams(spark: SparkSession, path: String): SketchIndexParams = {
    def malformed(n: Any) = s"malformed $Meta sidecar at $path: $n"
    val n = Artifacts.readJson(spark, s"$path/$Meta",
      s"$path is not a graft sketch index (no $Meta sidecar)", malformed("not JSON"))
    def field(name: String)(ok: JsonNode => Boolean) = Artifacts.field(n, name, malformed(n))(ok)
    val groups = field("groupCols")(g => g.isArray && g.elements().asScala.forall(_.isTextual))
    SketchIndexParams(field("kind")(_.isTextual).asText, field("lgK")(_.isInt).asInt,
      field("valueCol")(_.isTextual).asText, groups.elements().asScala.map(_.asText).toSeq,
      // weightCol is absent in pre-varopt sidecars → ""
      n.path("weightCol").asText(""))
  }

  /** The stored sketch table. */
  def loadIndex(spark: SparkSession, path: String): DataFrame = {
    loadIndexParams(spark, path) // sidecar validation
    spark.read.parquet(s"$path/sketches")
  }

  /** Merge two sketch tables of the SAME params per group (full outer
    * on the group keys; a group absent from one side contributes the
    * empty set, so the present side's sketch passes through).
    */
  private def unionTables(kind: Kind, lgK: Int, groupCols: Seq[String],
                          a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.withColumnRenamed("sketch", "sk_a")
    val bb = b.withColumnRenamed("sketch", "sk_b")
    val joined =
      if (groupCols.isEmpty) aa.crossJoin(bb) // both single-row global sketches
      else aa.join(bb, groupCols, "full_outer")
    val (x, y) = (col("sk_a"), col("sk_b"))
    val merged = when(x.isNull, y).when(y.isNull, x).otherwise(kind.merge(x, y, lgK))
    joined.select(groupCols.map(col) :+ merged.as("sketch"): _*)
  }

  /** Grow a persisted sketch index with a new crawl WITHOUT re-reading
    * any historical rows: the new crawl sketches itself, the stored
    * sketches union in as-is (register-max / set union — lossless and
    * order-independent, so extended == from-scratch, spec-pinned).
    * Writes a complete artifact at `outPath` (must differ from
    * `indexPath` — an in-place rewrite of a lazily-read source would
    * destroy the only copy on failure).
    */
  def extendIndex(newDf: DataFrame, indexPath: String, outPath: String): Unit = {
    val spark = newDf.sparkSession
    require(new Path(outPath).toUri.normalize != new Path(indexPath).toUri.normalize,
      s"extendIndex cannot rewrite an index in place; write to a new path ($indexPath)")
    val p = loadIndexParams(spark, indexPath)
    val fresh = buildTable(newDf, p)
    val old = spark.read.parquet(s"$indexPath/sketches")
    Artifacts.delete(spark, s"$outPath/$Meta")
    unionTables(kindOf(p.kind), p.lgK, p.groupCols, old, fresh)
      .write.mode("overwrite").parquet(s"$outPath/sketches")
    writeMeta(spark, outPath, p)
  }

  // ---------------------------------------------------------------
  // set algebra (theta)

  /** Per-group set-operation estimates between two theta sketch
    * tables: est_a, est_b, est_union, est_intersection, est_a_only,
    * est_b_only (+ ±2σ bounds on the intersection — the op whose
    * error users must see). Inputs are sketch tables from
    * [[thetaSketches]] with the SAME lgK and group columns; groups
    * absent from one side count as empty. Join traffic is
    * groups × sketch bytes — never rows.
    */
  def thetaSetEstimates(a: DataFrame, b: DataFrame,
                        groupCols: Seq[String]): DataFrame = {
    val aa = a.withColumnRenamed("sketch", "sk_a")
    val bb = b.withColumnRenamed("sketch", "sk_b")
    val joined =
      if (groupCols.isEmpty) aa.crossJoin(bb)
      else aa.join(bb, groupCols, "full_outer")
    // a side's sketch column is null for groups it never saw — that is
    // the empty set (estimate 0), matching the combine null contract
    val est = (c: Column) =>
      coalesce(thetaEstimate(c), lit(0.0))
    val inter = thetaIntersect(col("sk_a"), col("sk_b"))
    joined.select(groupCols.map(col) ++ Seq(
      est(col("sk_a")).as("est_a"),
      est(col("sk_b")).as("est_b"),
      est(thetaUnion(col("sk_a"), col("sk_b"))).as("est_union"),
      est(inter).as("est_intersection"),
      est(thetaANotB(col("sk_a"), col("sk_b"))).as("est_a_only"),
      est(thetaANotB(col("sk_b"), col("sk_a"))).as("est_b_only")): _*)
  }

  /** One-row corpus-overlap summary between two frames: distinct
    * counts per side, union, intersection, difference, and the
    * containment/Jaccard ratios curation planning reads ("how much of
    * crawl B is already in A?"). Exact when lgK exceeds the true
    * distinct cardinality (theta exact mode).
    */
  def overlap(a: DataFrame, b: DataFrame, valueCol: String,
              lgK: Int = 20): DataFrame = {
    val sa = thetaSketches(a, valueCol, Seq.empty, lgK)
    val sb = thetaSketches(b, valueCol, Seq.empty, lgK)
    thetaSetEstimates(sa, sb, Seq.empty)
      .withColumn("jaccard",
        when(col("est_union") > 0, col("est_intersection") / col("est_union"))
          .otherwise(lit(0.0)))
      .withColumn("containment_b_in_a",
        when(col("est_b") > 0, col("est_intersection") / col("est_b"))
          .otherwise(lit(0.0)))
  }
}
