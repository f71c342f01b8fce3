package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.Tables
import graft.pipeline.{Curate, Pack}
import graft.queries.{AnalyticsQueries, MaintenanceQueries, PairQueries, StatsWindowQueries, TextVectorQueries}
import graft.similarity.KNN

import scala.jdk.CollectionConverters._

/** What one op sees: the live session, the seed's data, the run's
  * scratch space, and whether this is the pass whose outputs are
  * checked.
  */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: String,
                     check: Boolean, pass: Int, spans: Spans, params: JsonNode) {
  def param(name: String): JsonNode = params.get(name)
  def outDir(op: String): String = s"$workDir/out/$op"
}

/** A workload runs named ops; each returns details the checker and
  * the layer attribution read (output paths, oracle SQL, counts).
  * Names it does not know are registry ops.
  */
trait Workload {
  def open(spark: SparkSession): Unit = ()
  def run(op: String, ctx: Ctx): Map[String, Any] =
    Workloads.checked(Workloads.queries(op)(ctx.spark, ctx.dataDir), op, ctx, op)
  /** Work after each pass that is not part of it (cache release). */
  def afterPass(ctx: Ctx): Unit = ()
  /** Traced runs only: standalone timings of graft calls that a pass
    * runs fused inside one plan, so their cost can be attributed.
    */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  /** The registry packs (graft.SparkEntry's) that hold the ops run here.
    * SparkEntry itself would also initialise IoQueries, whose oracle
    * table creates a scratch directory under a fixed path outside the
    * benchmark's directory.
    */
  private val packs = Seq(AnalyticsQueries, MaintenanceQueries, PairQueries,
    StatsWindowQueries, TextVectorQueries)
  val queries: Map[String, graft.queries.QueryDsl.Q] = packs.flatMap(_.queries).toMap
  val oracleSql: Map[String, String] = packs.flatMap(_.oracles).toMap

  def apply(name: String): Workload = name match {
    case "batch" => new Batch
    case "interactive" => new Interactive
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Materialise `df`: to parquet for the check pass (the checker
    * hashes it against the oracle), to the noop sink otherwise (a full
    * scan and compute with no write, as graft.Bench does).
    */
  def sink(df: DataFrame, op: String, ctx: Ctx): Map[String, Any] =
    ctx.spans("action", op) {
      if (ctx.check) {
        df.write.mode("overwrite").parquet(ctx.outDir(op))
        Map("output" -> ctx.outDir(op))
      } else {
        df.write.format("noop").mode("overwrite").save()
        Map.empty[String, Any]
      }
    }

  /** Build and materialise an op; on the check pass also hand over the
    * oracle SQL of registry entry `oracle` (the op itself, or the
    * registry shape an op re-runs through the library directly).
    */
  def checked(df: => DataFrame, op: String, ctx: Ctx, oracle: String): Map[String, Any] = {
    val frame = ctx.spans("build", op)(df)
    val out = sink(frame, op, ctx)
    if (ctx.check) out ++ oracleSql.get(oracle).map("oracle_sql" -> _) else out
  }

  def files(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
}

import Workloads._

/** Throughput work: the TPC-H-shape and keyed registry ops, and the
  * LLM-data path — curate the corpus into parquet shards (`curate`),
  * read the shards back and pack them into training sequences
  * (`pack`), and semantic dedup over the embeddings (`semdedup`).
  */
class Batch extends Workload {
  private def docs(ctx: Ctx) = Tables(ctx.spark, ctx.dataDir).documents
  private def bench(ctx: Ctx) = ctx.spark.read.parquet(s"${ctx.dataDir}/bench_texts.parquet")
  private def shardDir(ctx: Ctx) = s"${ctx.workDir}/shards"

  override def run(op: String, ctx: Ctx): Map[String, Any] = op match {
    case "curate" =>
      val curated = ctx.spans("build", op) {
        Curate.curate(docs(ctx), "doc_id", "text",
          nearDup = true,
          removeDupSpansK = Some(ctx.param("spans_k").asInt),
          benchmark = Some(bench(ctx)), benchTextCol = "bench_text",
          decontamK = ctx.param("decontam_k").asInt,
          gopherRules = true,
          split = Some((Seq("train" -> 0.95, "val" -> 0.05), "perfbench")))
      }
      ctx.spans("action", op) {
        Pack.writeShards(curated, "doc_id", ctx.param("shards").asInt, "perfbench", shardDir(ctx))
      }
      val written = Files.walk(new File(shardDir(ctx)).toPath).iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet"))
      Map("writes" -> true, "files" -> written, "output" -> shardDir(ctx))
    case "pack" =>
      val packed = ctx.spans("build", op) {
        Pack.packedSequences(ctx.spark.read.parquet(shardDir(ctx)), "doc_id", "text",
            ctx.param("window").asInt)
          .agg(count(lit(1)).as("n_seqs"), sum(col("n_tokens")).as("n_tokens"))
      }
      val row = ctx.spans("action", op)(packed.collect().head)
      Map("sequences" -> row.getLong(0), "packed_tokens" -> row.getLong(1))
    case "semdedup" =>
      checked(queries("q_semantic_dedup")(ctx.spark, ctx.dataDir), op, ctx, "q_semantic_dedup")
    case _ => super.run(op, ctx)
  }

  /** Curate persists its fan-out inputs and never releases them. */
  override def afterPass(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()

  override def probes(ctx: Ctx): Map[String, Double] = {
    import graft.dedup.Dedup
    def noop(df: DataFrame): Double = timed(df.write.format("noop").mode("overwrite").save())._2
    val d = docs(ctx)
    val out = Map(
      "dedup.minhash_s" -> noop(Dedup.minhashClusters(d, "doc_id", "text")),
      "dedup.spans_s" -> noop(Dedup.removeDuplicateSpans(d, "doc_id", "text",
        ctx.param("spans_k").asInt)),
      "dedup.decontam_s" -> noop(Dedup.decontaminate(d, "doc_id", "text", bench(ctx),
        "bench_text", ctx.param("decontam_k").asInt)))
    ctx.spark.catalog.clearCache()
    out
  }
}

/** Many short jobs: registry ops (the graph loops, DSIR), the PQ search
  * called through graft.similarity.KNN with its codebooks trained once
  * per session (the registry version persists them under a fixed
  * scratch path outside the benchmark's directory), and two legs of the
  * event stream through graft.streaming. The registry ops include two
  * TPC-H-shape ones, so that a run has enough ops for a median latency.
  */
class Interactive extends Workload {
  private var books: Seq[Seq[Seq[Double]]] = null
  private val stream = new Stream

  override def open(spark: SparkSession): Unit = stream.listen(spark)
  override def afterPass(ctx: Ctx): Unit = stream.clear()

  override def run(op: String, ctx: Ctx): Map[String, Any] = op match {
    case "knn_pq" =>
      checked({
        val emb = Tables(ctx.spark, ctx.dataDir).embeddings
        if (books == null)
          books = KNN.trainPqCodebooks(emb, "vec_id", "embedding", m = 8, k = 16, dim = 64, iters = 3)
        KNN.pqTopK(emb, emb.filter(col("vec_id") <= 10), "vec_id", "embedding",
            k = 5, codebooks = books, refine = 1000000)
          .select(col("probe_id"), col("rank").cast("long").as("rank"), col("id").as("neighbor_id"))
          .orderBy(col("probe_id"), col("rank"))
      }, op, ctx, "q_knn_pq")
    case "stream_drain" => stream.drain(ctx)
    case "stream_open" => stream.openLoop(ctx)
    case _ => super.run(op, ctx)
  }
}

/** The event stream: a graft.streaming stream dedup feeding a windowed
  * stateful count, into a memory sink. The first `drain_files` of the
  * seed's equal-sized stream files feed the drain leg; the open leg has
  * its own, smaller, equal-sized files.
  *
  *  - `stream_drain` reads a backlog one file per trigger as fast as it
  *    can (closed loop).
  *  - `stream_open` has a thread land files at `open_rate` per second
  *    while the query runs (open loop), each trigger taking what has
  *    landed; a file's lag runs from when it was due to when the batch
  *    that consumed it committed.
  *
  * Two sentinel files, days past the data, land after each leg's files:
  * the watermark they set closes every real window, so the output is
  * final and the checker compares it with a batch recomputation.
  */
class Stream {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def listen(spark: SparkSession): Unit = spark.streams.addListener(listener)
  def clear(): Unit = progress.clear()

  /** Copy under a name the file source skips, then rename into place,
    * so a trigger never lists a half-written file. */
  private def land(f: File, dir: File, mtime: Long): Unit = {
    val tmp = new File(dir, s".${f.getName}.tmp")
    Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    tmp.setLastModified(mtime)
    Files.move(tmp.toPath, new File(dir, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def start(ctx: Ctx, src: File, name: String, trigger: Trigger,
                    maxFiles: Option[Int]): StreamingQuery = {
    val schema = ctx.spark.read.parquet(files(s"${ctx.dataDir}/events_sentinel").head.getPath).schema
    val reader = ctx.spark.readStream.schema(schema)
    val ev = Tables.normalizeTs(
      maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n)).parquet(src.getPath))
    // the window groups directly on the deduped stream: the dedup's
    // watermark carries through, and Windows.fixedGroups would define a
    // second one on the same column, which Spark rejects
    graft.streaming.StreamDedup.dedup(ev, Seq("event_id"), "ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
        col("event_type"), col("n"), col("cents"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", s"${src.getPath}_ckp")
      .outputMode("append").trigger(trigger).start()
  }

  private def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.runId == q.runId).sortBy(_.batchId)

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  private def finish(ctx: Ctx, op: String, name: String, q: StreamingQuery,
                     nFiles: Int): Map[String, Any] = {
    val recs = batches(q).map { p =>
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val states = p.stateOperators.toSeq
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "trigger_ms" -> d("triggerExecution"), "plan_ms" -> d("queryPlanning"),
        "addbatch_ms" -> d("addBatch"), "wal_ms" -> d("walCommit"),
        "state_rows" -> states.map(_.numRowsTotal).sum,
        "state_bytes" -> states.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> states.map(_.commitTimeMs).sum)
    }
    val out = Map[String, Any]("batches" -> recs, "files" -> nFiles)
    val checkOut =
      if (!ctx.check) Map.empty
      else {
        ctx.spark.table(name).write.mode("overwrite").parquet(ctx.outDir(op))
        Map("output" -> ctx.outDir(op))
      }
    ctx.spark.sql(s"DROP VIEW IF EXISTS $name")
    out ++ checkOut
  }

  private def leg(ctx: Ctx, op: String): (Seq[File], Seq[File], File, String) = {
    val fs =
      if (op == "stream_drain") files(s"${ctx.dataDir}/events_stream").take(ctx.param("drain_files").asInt)
      else files(s"${ctx.dataDir}/events_open")
    val src = new File(s"${ctx.workDir}/stream/p${ctx.pass}_$op")
    src.mkdirs()
    (fs, files(s"${ctx.dataDir}/events_sentinel"), src, s"perfbench_p${ctx.pass}_$op")
  }

  private def timeoutMs(ctx: Ctx): Long = ctx.param("timeout_s").asLong * 1000

  def drain(ctx: Ctx): Map[String, Any] = {
    val (fs, sentinels, src, name) = leg(ctx, "stream_drain")
    // the file source takes files oldest first: stamp them in order
    val base = System.currentTimeMillis() - 1000L * (fs.size + sentinels.size)
    (fs ++ sentinels).zipWithIndex.foreach { case (f, i) => land(f, src, base + 1000L * i) }
    val q = ctx.spans("action", "stream_drain") {
      val q = start(ctx, src, name, Trigger.AvailableNow(), maxFiles = Some(1))
      if (!q.awaitTermination(timeoutMs(ctx))) {
        q.stop()
        throw new IllegalStateException(s"drain leg did not finish in ${timeoutMs(ctx)} ms")
      }
      q.exception.foreach(e => throw e)
      q
    }
    finish(ctx, "stream_drain", name, q, fs.size)
  }

  def openLoop(ctx: Ctx): Map[String, Any] = {
    val (fs, sentinels, src, name) = leg(ctx, "stream_open")
    val rowsPerFile = ctx.param("open_rows_per_file").asLong
    val rate = ctx.param("open_rate").asDouble
    val q = start(ctx, src, name, Trigger.ProcessingTime(0L), maxFiles = None)
    val t0 = System.currentTimeMillis() + 200L
    val due = fs.indices.map(i => t0 + (1000.0 * i / rate).toLong)
    val lander = new Thread(() => {
      (fs ++ sentinels).zipWithIndex.foreach { case (f, i) =>
        val at = if (i < fs.size) due(i) else due.last + (1000.0 * (i - fs.size + 1) / rate).toLong
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(f, src, System.currentTimeMillis())
      }
    }, "perfbench-lander")
    val expected = rowsPerFile * fs.size + sentinels.size
    ctx.spans("action", "stream_open") {
      lander.start()
      val deadline = System.currentTimeMillis() + timeoutMs(ctx)
      def consumed = batches(q).map(_.numInputRows).sum
      while (consumed < expected && q.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      // the batch after the last input runs under the watermark the
      // sentinels set, which closes every real window
      val last = batches(q).lastOption.map(_.batchId).getOrElse(-1L)
      while (!batches(q).exists(_.batchId > last) && q.isActive &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      lander.join()
      q.stop()
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() >= deadline)
        throw new IllegalStateException(s"open leg did not finish in ${timeoutMs(ctx)} ms")
    }
    // files are equal-sized and taken oldest first, so a batch's row
    // count says which files it consumed
    var taken = 0L
    val lags = batches(q).filter(_.numInputRows > 0).flatMap { p =>
      val before = taken
      taken += p.numInputRows / rowsPerFile
      (before until math.min(taken, fs.size.toLong)).map(i => (commitMs(p) - due(i.toInt)) / 1000.0)
    }
    finish(ctx, "stream_open", name, q, fs.size) + ("lags_s" -> lags)
  }
}
