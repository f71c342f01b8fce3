package graft.hash

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.CountMinSketch

/** Count-Min sketch artifact + CMS-guided heavy hitters (reference
  * intent: scio's Algebird CMS usage — skewedJoin hot-key detection
  * and topCMS in PairSCollectionFunctions / scio-extra). Like
  * [[GraftBloom]], the sketch is a first-class persistable value:
  * build once over a corpus, save, reuse across jobs.
  *
  * Spark-first shape: the build is `stat.countMinSketch` (a
  * distributed partial-merged aggregation — executors merge their
  * sketch buffers, only the final depth×width counter table reaches
  * the driver); the probe is the native codegen
  * [[graft.expressions.CmsEstimate]] kernel riding inside whole-stage
  * codegen.
  *
  * The CMS guarantee — estimates NEVER undercount (estimate ≥ true ≤
  * true + eps·N at the chosen confidence) — is what makes
  * [[heavyHitters]] exact: filtering on `estimate >= minCount` can
  * only admit extra candidates, never drop a true heavy key, and the
  * exact aggregation over the (tiny) candidate set removes the false
  * ones. At 100 TB this is THE heavy-hitter pattern: the full keyed
  * aggregation (a shuffle of every row) is replaced by one map-side
  * sketch pass + a shuffle of only the candidate rows.
  */
object GraftCms {

  private[graft] def requireCmsKey(df: DataFrame, key: String, op: String): Unit =
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType | BinaryType => ()
      case other => throw new IllegalArgumentException(
        s"$op key '$key' has unsupported type $other (integral/string/binary only)")
    }

  /** Distributed build: relative error eps (over the TOTAL row count)
    * at `confidence`. Sketch size = depth×width counters ≈
    * ceil(2/eps) × ceil(ln(1/(1−confidence))) ints — a driver value,
    * never a per-row cost.
    */
  def build(df: DataFrame, key: String, eps: Double = 1e-5,
            confidence: Double = 0.99, seed: Int = 42): CountMinSketch = {
    requireCmsKey(df, key, "GraftCms.build")
    df.stat.countMinSketch(key, eps, confidence, seed)
  }

  /** Persist to any Hadoop-visible path (Spark CountMinSketch V1
    * format — readable without graft), via temp + atomic rename: a
    * failed write leaves the old file intact.
    */
  def write(spark: SparkSession, cms: CountMinSketch, path: String): Unit =
    graft.util.Artifacts.write(spark, path)(cms.writeTo)

  def read(spark: SparkSession, path: String): CountMinSketch =
    graft.util.Artifacts.read(spark, path)(CountMinSketch.readFrom)

  /** Per-row frequency-estimate column over `df(key)`: native
    * codegen, one static call per row; null keys estimate 0.
    * Integral keys are probed as longs — the representation
    * `stat.countMinSketch` inserted.
    */
  def estimate(df: DataFrame, key: String, cms: CountMinSketch): Column = {
    requireCmsKey(df, key, "GraftCms.estimate")
    val probeKey = df.schema(key).dataType match {
      case StringType | BinaryType => col(key)
      case _ => col(key).cast("long")
    }
    estimate(probeKey, cms)
  }

  /** Expression form for composed keys (e.g. `xxhash64(k1, k2)`): the
    * caller guarantees the column's type/representation matches what
    * the sketch was built over (long/string/binary; cast integrals to
    * long). Type errors still fail at analysis via the kernel's
    * input check.
    */
  def estimate(key: Column, cms: CountMinSketch): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.CmsEstimate(ColumnBridge.expression(key), cms))
  }

  /** EXACT heavy hitters — every key appearing at least `minCount`
    * times, with its exact count — computed the sketch-guided way:
    * CMS prefilter (map-side, estimate ≥ minCount keeps candidate
    * rows only) then an exact count over the surviving rows. All
    * rows of a key share one estimate, so keys pass all-or-nothing;
    * no true heavy key can be lost (CMS never undercounts) and false
    * candidates die on the exact HAVING. Only candidate rows shuffle.
    *
    * NULL keys: SQL GROUP BY counts NULL as a group, but the sketch
    * never sees nulls (`stat.countMinSketch` skips them, so a null
    * probe estimates 0 and the prefilter would silently drop a heavy
    * null group). Null-key rows therefore BYPASS the prefilter and go
    * straight to the exact aggregation — still one pass, and the
    * HAVING keeps the null group only if it truly clears `minCount`.
    *
    * Pass a pre-built `sketch` to reuse a persisted artifact;
    * otherwise one is built with `eps`/`confidence` (size eps to the
    * corpus: admitted false candidates ≈ keys within eps·N of
    * minCount).
    */
  def heavyHitters(df: DataFrame, key: String, minCount: Long,
                   eps: Double = 1e-5, confidence: Double = 0.99, seed: Int = 42,
                   sketch: Option[CountMinSketch] = None): DataFrame = {
    require(minCount > 0, s"minCount must be positive, got $minCount")
    val cms = sketch.getOrElse(build(df, key, eps, confidence, seed))
    df.filter(col(key).isNull || estimate(df, key, cms) >= minCount)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }
}
