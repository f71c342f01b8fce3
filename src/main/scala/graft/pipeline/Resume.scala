package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Artifacts

/** Marker-committed stage checkpointing — restartable multi-stage
  * pipelines over plain parquet. At 100 TB a curation DAG runs for
  * hours across many shuffle barriers; when an executor pool dies at
  * stage 7 of 9, recomputing stages 1–6 is the difference between a
  * restart and a re-run. Beam/Dataflow gets this from durable shuffle;
  * Spark-first the same property is a materialized artifact per
  * barrier stage with a two-marker commit protocol:
  *
  *  - `_GRAFT_STAGE` (OWNERSHIP, stamped BEFORE writing — the
  *    [[graft.sources.Dynamic]] lesson): a run that dies mid-write
  *    leaves a tree the retry still recognizes as its own, instead of
  *    tripping the foreign-directory guard and demanding manual
  *    intervention;
  *  - `_GRAFT_STAGE_COMPLETE` (COMMIT, stamped AFTER the parquet
  *    write succeeds, recording row count + schema DDL for audit): a
  *    stage is reused ONLY when this marker exists, so a partial
  *    write is always recomputed, never trusted.
  *
  * Stage identity is the NAME: callers version names (or
  * `invalidate`) when stage logic changes — the dbt-style incremental
  * contract, kept deliberately free of config-hash magic.
  *
  * Downstream consumers read the materialized parquet, which also
  * truncates lineage and restores column pruning/filter pushdown at
  * every stage boundary — the same reasons the Curate DAG persists
  * its fan-out inputs, made durable.
  */
object Resume {

  private val Ownership = "_GRAFT_STAGE"
  private val Complete = "_GRAFT_STAGE_COMPLETE"
  // the parquet artifact lives one level below the markers: Spark's
  // overwrite-mode write deletes its target root, which must not take
  // the ownership stamp with it
  private val Data = "data"

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  private def stagePath(dir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"stage name must be [A-Za-z0-9._-]+, got '$name'")
    require(dir.trim.nonEmpty, "empty checkpoint dir")
    new Path(dir, name)
  }

  /** True when `name` committed a complete artifact under `dir`. */
  def isComplete(spark: SparkSession, dir: String, name: String): Boolean = {
    val p = stagePath(dir, name)
    fsFor(spark, p).exists(new Path(p, Complete))
  }

  /** Drop `name`'s artifact (complete or partial) so the next
    * [[stage]] call recomputes it. Foreign-directory guarded like the
    * compute path.
    */
  def invalidate(spark: SparkSession, dir: String, name: String): Unit = {
    val p = stagePath(dir, name)
    val fs = fsFor(spark, p)
    if (fs.exists(p)) {
      require(fs.exists(new Path(p, Ownership)),
        s"$p exists without an $Ownership stamp — not a graft stage artifact; " +
          "remove it manually if that is intended")
      fs.delete(p, true)
      ()
    }
  }

  /** Compute-or-load `name`: if a committed artifact exists (and
    * `force` is false) read it back WITHOUT evaluating `f`; otherwise
    * evaluate `f`, materialize it as parquet, commit, and return the
    * materialized frame. Either way the caller consumes the parquet
    * artifact, never the live plan.
    */
  def stage(spark: SparkSession, dir: String, name: String, force: Boolean = false)(
      f: => DataFrame): DataFrame = {
    val p = stagePath(dir, name)
    val fs = fsFor(spark, p)
    val done = fs.exists(new Path(p, Complete))
    if (done && !force) return spark.read.parquet(new Path(p, Data).toString)

    if (fs.exists(p)) {
      // recompute path: wipe the stale/partial artifact — but refuse
      // to delete a non-empty tree this module didn't write
      val visible = fs.listStatus(p).filterNot { s =>
        val n = s.getPath.getName; n.startsWith(".") || n.startsWith("_")
      }
      require(visible.isEmpty || fs.exists(new Path(p, Ownership)),
        s"$p exists with ${visible.length} entries and no $Ownership stamp — it was not " +
          "written by Resume.stage; remove it manually if that is intended")
      fs.delete(p, true)
      ()
    }
    fs.mkdirs(p)
    fs.create(new Path(p, Ownership), true).close()

    val out = f
    val dataPath = new Path(p, Data).toString
    out.write.mode("overwrite").parquet(dataPath)
    // the count below is the commit's read-back validation (the
    // artifact must be re-readable end-to-end before it is trusted);
    // a column-less parquet scan touches row-group headers, not data.
    // Empty-plan edge: a ZERO-partition frame (empty source, fully
    // filtered scan) writes only _SUCCESS — no part file, so schema
    // inference throws and would abort a legitimately-empty stage.
    // Rewrite it as ONE empty parquet file carrying the plan's schema,
    // so this commit AND every later cold-start read stay
    // self-describing.
    val committed =
      try spark.read.parquet(dataPath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.toUpperCase.contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.contains("Unable to infer schema") =>
          spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](), out.schema)
            .repartition(1)
            .write.mode("overwrite").parquet(dataPath)
          spark.read.parquet(dataPath)
      }
    Artifacts.writeJson(spark, new Path(p, Complete).toString, Artifacts.json.createObjectNode()
      .put("rows", committed.count()).put("schema", committed.schema.toDDL))
    committed
  }

  /** Fold `input` through named stages, each compute-or-load — a
    * resumable linear pipeline in one call. Stage names must be
    * distinct; re-running after a failure reuses every committed
    * prefix stage and recomputes from the first uncommitted one.
    */
  def chain(spark: SparkSession, dir: String, input: DataFrame)(
      stages: (String, DataFrame => DataFrame)*): DataFrame = {
    require(stages.nonEmpty, "chain needs at least one stage")
    require(stages.map(_._1).distinct.size == stages.size,
      s"stage names must be distinct, got ${stages.map(_._1).mkString(", ")}")
    stages.foldLeft(input) { case (df, (name, fn)) =>
      stage(spark, dir, name)(fn(df))
    }
  }
}
