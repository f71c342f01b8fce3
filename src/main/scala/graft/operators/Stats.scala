package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.util.Artifacts

/** Bucketed histograms with the reference's exact interval contract
  * (scio-core values/DoubleSCollectionFunctions.scala:108 `histogram`,
  * itself Spark's classic DoubleRDDFunctions semantics): buckets
  * `[b0,b1), [b1,b2), …, [b_{k-1}, b_k]` — half-open except the LAST,
  * which includes its upper bound; values outside `[b0, b_k]` and
  * nulls/NaN are ignored. `q_histogram` covers the fixed-width form;
  * this operator takes arbitrary boundaries and the bucketCount form
  * computes min/max in one aggregate first (scio
  * DoubleSCollectionFunctions.scala:67).
  *
  * Scale shape: boundaries ride a broadcast 1-row frame, bucket id is
  * a single-pass fold per row, counts partial-aggregate; the
  * all-buckets frame (`spark.range(k)`) left-joins the counts so empty
  * buckets report 0 — one scan, one tiny shuffle.
  */
object Stats {

  /** Histogram rows (bucket, lo, hi, n) for explicit boundaries
    * (ascending, length ≥ 2).
    */
  def histogram(df: DataFrame, colName: String, buckets: Array[Double]): DataFrame = {
    require(buckets.length >= 2, s"need >= 2 boundaries, got ${buckets.length}")
    require(buckets.zip(buckets.tail).forall { case (a, b) => a < b },
      "boundaries must be strictly ascending")
    val k = buckets.length - 1
    val inner = buckets.slice(1, buckets.length - 1)
    val innerArr = array(inner.map(lit(_)): _*)
    val counts = df
      .select(col(colName).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__v") >= buckets.head && col("__v") <= buckets.last)
      .select(least(
        aggregate(innerArr, lit(0), (acc, b) => acc + when(col("__v") >= b, 1).otherwise(0)),
        lit(k - 1)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val lows = array(buckets.dropRight(1).map(lit(_)): _*)
    val highs = array(buckets.drop(1).map(lit(_)): _*)
    df.sparkSession.range(k).select(col("id").cast("int").as("bucket"))
      .join(broadcast(counts), Seq("bucket"), "left")
      .select(col("bucket"),
        element_at(lows, col("bucket") + 1).as("lo"),
        element_at(highs, col("bucket") + 1).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Even-width histogram over the observed [min, max] — the
    * bucketCount form. Throws on an empty/NaN/infinite column (the
    * reference contract); min == max collapses to a single bucket.
    */
  def histogram(df: DataFrame, colName: String, bucketCount: Int): DataFrame = {
    require(bucketCount >= 1, s"bucketCount must be >= 1, got $bucketCount")
    val row = df.select(col(colName).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .agg(min(col("__v")).as("mn"), max(col("__v")).as("mx"))
      .collect()(0)
    require(!row.isNullAt(0), s"histogram on an empty column $colName")
    val (mn, mx) = (row.getDouble(0), row.getDouble(1))
    require(!mn.isNaN && !mx.isNaN && !mn.isInfinite && !mx.isInfinite,
      s"histogram on a column containing NaN/infinity: [$mn, $mx]")
    if (mn == mx) {
      // all values identical → single bucket (reference contract)
      val n = df.select(col(colName).cast("double").as("__v"))
        .filter(col("__v").isNotNull).count()
      df.sparkSession.range(1).select(lit(0).as("bucket"),
        lit(mn).as("lo"), lit(mx).as("hi"), lit(n).as("n"))
    } else {
      val bounds = (0 to bucketCount).map(i => mn + (mx - mn) * i / bucketCount).toArray
      histogram(df, colName, bounds)
    }
  }

  /** Winsorization: clamp `colName` into its exact [pLo, pHi]
    * percentile band — the standard outlier-taming step before
    * statistics or feature export. Adds `outCol` next to the
    * original; null and NaN pass through unchanged (they carry no
    * magnitude to clamp). Thresholds come from ONE exact-percentile agg broadcast
    * back as a 1-row frame (the Drift boundary pattern); the clamp
    * itself is a pure projection — no shuffle of the data.
    */
  def winsorize(df: DataFrame, colName: String, pLo: Double = 0.01,
                pHi: Double = 0.99, outCol: String = ""): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1, got $pLo/$pHi")
    val out = if (outCol.nonEmpty) outCol else s"${colName}_w"
    require(!df.columns.contains(out), s"output column '$out' already exists")
    val v = col(colName).cast("double")
    val th = broadcast(df.filter(v.isNotNull && !isnan(v))
      .agg(percentile(v, lit(pLo)).as("__wlo"), percentile(v, lit(pHi)).as("__whi")))
    // NaN passes through unchanged: Spark orders NaN above every
    // double, so an unguarded least/greatest would silently fabricate
    // the p-hi threshold where the NaN was
    df.crossJoin(th)
      .withColumn(out, when(v.isNull || isnan(v), v)
        .otherwise(greatest(least(v, col("__whi")), col("__wlo"))))
      .drop("__wlo", "__whi")
  }

  /** Robust z-score outlier flags: |x − median| / (1.4826·MAD) > k —
    * the median/MAD form that, unlike mean/stddev, is not dragged by
    * the outliers it is hunting. Adds `robust_z` and `is_outlier`;
    * null/NaN values carry null z and false. Degenerate MAD == 0
    * (over half the values identical) yields null z and flags exactly
    * the values different from the median — disclosed contract.
    *
    * Scale shape: two percentile aggs (median, then MAD over the
    * residuals), each a broadcast 1-row frame; flagging is a pure
    * projection.
    */
  def robustOutliers(df: DataFrame, colName: String, k: Double = 3.5): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(!df.columns.contains("robust_z") && !df.columns.contains("is_outlier"),
      "input already has robust_z/is_outlier columns")
    val v = col(colName).cast("double")
    val med = broadcast(df.filter(v.isNotNull && !isnan(v))
      .agg(percentile(v, lit(0.5)).as("__med")))
    val withMed = df.crossJoin(med)
    val mad = broadcast(withMed.filter(v.isNotNull && !isnan(v))
      .agg(percentile(abs(v - col("__med")), lit(0.5)).as("__mad")))
    withMed.crossJoin(mad)
      .withColumn("robust_z",
        when(v.isNull || isnan(v) || col("__mad") === 0.0, lit(null).cast("double"))
          .otherwise(abs(v - col("__med")) / (lit(1.4826) * col("__mad"))))
      .withColumn("is_outlier",
        when(v.isNull || isnan(v), lit(false))
          .when(col("__mad") === 0.0, v =!= col("__med"))
          .otherwise(col("robust_z") > k))
      .drop("__med", "__mad")
  }

  // ------------------------------------------------------------------
  // Persisted quantile-grid artifact: score calibration against a
  // historical corpus — the percentile-rank companion of the other
  // train-once artifacts (GraftBloom/GraftCms/MinHash index/unigram LM).
  // ------------------------------------------------------------------

  private val QuantileMeta = "_GRAFT_QGRID"

  /** Persist the exact interpolated quantile grid of `colName` at
    * `path`: gridSize+1 boundary values (p=0 … p=1 inclusive) from ONE
    * `percentile` aggregation, stored as a JSON sidecar (a few KB —
    * the sketch IS the artifact). Exact interpolated quantiles are
    * engine-reproducible (the [[graft.operators.Drift]] boundary
    * rule), so an oracle can rebuild the identical grid.
    */
  def saveQuantileGrid(df: DataFrame, colName: String, path: String,
                       gridSize: Int = 1024): Unit = {
    require(gridSize >= 2, s"gridSize must be >= 2, got $gridSize")
    val spark = df.sparkSession
    val ps = (0 to gridSize).map(_.toDouble / gridSize)
    val grid = df
      .filter(col(colName).isNotNull && !isnan(col(colName).cast("double")))
      .agg(percentile(col(colName), typedLit(ps)).as("q"))
      .collect()(0).getAs[scala.collection.Seq[Double]](0)
    require(grid != null && grid.nonEmpty,
      s"cannot build a quantile grid over an empty/all-null '$colName'")
    // raw bits, not decimal rendering: the probe-side <= compares must
    // see the EXACT doubles the aggregation produced
    val node = Artifacts.json.createObjectNode().put("marker", QuantileMeta)
      .put("gridSize", gridSize)
    val bits = node.putArray("bits")
    grid.foreach(d => bits.add(java.lang.Double.doubleToLongBits(d)))
    Artifacts.writeJson(spark, path, node)
  }

  /** Load a quantile grid's boundary values. */
  def loadQuantileGrid(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[Double] = {
    val notGrid = s"$path is not a graft quantile-grid artifact"
    val n = Artifacts.readJson(spark, path, s"$path does not exist", notGrid)
    require(n.path("marker").asText == QuantileMeta, notGrid)
    Artifacts.field(n, "bits", s"malformed quantile grid at $path")(b =>
      b.isArray && !b.isEmpty &&
        b.elements().asScala.forall(v => v.isIntegralNumber && v.canConvertToLong))
      .elements().asScala.map(b => java.lang.Double.longBitsToDouble(b.asLong)).toArray
  }

  /** Percentile rank of `colName` against a PERSISTED grid
    * ([[saveQuantileGrid]]): rank = (#{grid boundaries ≤ x} − 1) /
    * gridSize, clamped to [0, 1] — 0 at/below the historical min, 1
    * at/above the historical max, resolution 1/gridSize between. The
    * grid broadcasts as a literal array; the count is one single-pass
    * HOF per row (≤ gridSize+1 compares against a few-KB array —
    * no join, no shuffle, the corpus that built the grid untouched).
    * Adds `outCol`; null/NaN values rank null.
    */
  def percentileRank(df: DataFrame, colName: String, gridPath: String,
                     outCol: String = "pct_rank"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column; pass a different outCol")
    val grid = loadQuantileGrid(df.sparkSession, gridPath)
    val gridSize = grid.length - 1
    val v = col(colName).cast("double")
    val cnt = size(filter(typedLit(grid.toSeq), b => b <= v))
    val rank = least(greatest((cnt - 1).cast("double") / gridSize, lit(0.0)), lit(1.0))
    df.withColumn(outCol,
      when(v.isNull || isnan(v), lit(null).cast("double")).otherwise(rank))
  }
}
