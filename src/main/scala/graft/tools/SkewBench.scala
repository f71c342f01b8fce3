package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.JobScope

/** Measures the chunked variants' straggler win on a skewed corpus —
  * the recording behind SCALING.md's "hot-key chunking" section. The
  * r12 verdict's point: rollingChunked / asofJoinChunked exist for
  * hot keys, but every shipped check was CORRECTNESS (bit-identical
  * to the plain form); nothing recorded that the spread actually
  * beats the plain form's single linear window task. This does.
  *
  *   runMain graft.tools.SkewBench [rows] [arms]
  *
  * `arms` is a comma list of `rolling,asof,dynamic,join,agg,gather`
  * (default all), so one new arm can be recorded without re-burning
  * the others' multi-minute straggler runs.
  *
  * Corpus: `rows` events (default 5 M), ONE key carrying 30% of them
  * (the ultra-hot instrument of a feed), the rest uniform over 2000
  * cold keys; timestamps hash-uniform over ~11.6 days so the hot key
  * spreads over many window chunks. An r14 arm measures the dynamic-
  * destination scatter the same way: one destination at 30%,
  * fanout=1 vs AutoFanout. Prints one JSON line per
  * (operator, variant) with wall seconds, the MAX single-task wall
  * inside the measured jobs (the straggler signal — cluster wall
  * clock is bounded below by it), and the max records one task read
  * from the shuffle (the skew itself).
  */
object SkewBench {

  /** Runs `body` in a JobScope of its own and prints its JSON line,
    * from that body's jobs only.
    */
  private def measure(spark: SparkSession, op: String, variant: String)(body: => Unit): Unit = {
    val (wall, m) = JobScope.run(spark, s"$op/$variant") {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val reads = m.tasks.map(_.taskMetrics.shuffleReadMetrics.recordsRead)
    println(f"""{"op":"$op%s","variant":"$variant%s","wall_sec":$wall%.3f,""" +
      f""""max_task_sec":${m.tasks.map(_.taskInfo.duration).maxOption.getOrElse(0L) / 1000.0}%.3f,""" +
      f""""max_task_shuffle_records":${reads.maxOption.getOrElse(0L)}%d,""" +
      f""""tasks_with_rows":${reads.count(_ > 0)}%d,""" +
      f""""tasks":${m.tasks.size}%d}""")
  }

  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 5000000L
    // optional second arg: comma list of arms to run ("rolling,asof,
    // dynamic"; default all) — re-recording one new arm must not
    // re-burn the ~7-minute rolling-plain straggler already on record
    val knownArms = Set("rolling", "asof", "dynamic", "join", "agg", "gather")
    val arms: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else knownArms
    // a typo'd arm name must fail loudly, not silently record nothing
    require(arms.nonEmpty && arms.subsetOf(knownArms),
      s"unknown arm(s): ${(arms -- knownArms).mkString(",")}; known: ${knownArms.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-skewbench"),
      cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 30% of rows on key 0, the rest uniform over 2000 cold keys;
    // hash-uniform timestamps over ~11.6 days (1M seconds) — all
    // deterministic integer arithmetic, no RNG
    val corpus = spark.range(0, rows).select(
        when(pmod(xxhash64(col("id"), lit("skew")), lit(10)) < 3, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit("key")), lit(2000)) + 1L).as("k"),
        timestamp_seconds(pmod(xxhash64(col("id"), lit("ts")), lit(1000000L))).as("ts"),
        (col("id") % 1000).cast("double").as("v"),
        col("id"))
      .persist()
    val n = corpus.count()
    val hotN = corpus.filter(col("k") === 0L).count()
    System.err.println(s"[skewbench] rows=$n hot=$hotN (${100.0 * hotN / n}%)")

    lazy val quotes = spark.range(0, rows / 10).select(
        when(pmod(xxhash64(col("id"), lit("qskew")), lit(10)) < 3, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit("qkey")), lit(2000)) + 1L).as("k"),
        timestamp_seconds(pmod(xxhash64(col("id"), lit("qts")), lit(1000000L))).as("q_ts"),
        (col("id") % 500).cast("double").as("q_v"))
      // asof contract: unique (key, ts) on the right for determinism
      .groupBy(col("k"), col("q_ts")).agg(max(col("q_v")).as("q_v"))
      .persist()
    if (arms("asof")) { quotes.count(); () }

    val winSec = 3600L

    def run(op: String, variant: String)(df: => DataFrame): Unit =
      measure(spark, op, variant)(df.write.format("noop").mode("overwrite").save())

    // warm EVERY measured path once on a small slice (codegen compile,
    // shuffle machinery, plan-node classloading), untimed — otherwise
    // whichever variant runs first absorbs one-time costs and the
    // published ratios mix skew spread with JIT noise
    val warmCorpus = corpus.limit(10000)
    if (arms("rolling")) {
      graft.operators.TimeSeries.rolling(warmCorpus, "k", "ts", "v", winSec)
        .write.format("noop").mode("overwrite").save()
      graft.operators.TimeSeries.rollingChunked(warmCorpus, "k", "ts", "v", winSec, winSec)
        .write.format("noop").mode("overwrite").save()
      run("rolling", "plain") {
        graft.operators.TimeSeries.rolling(corpus, "k", "ts", "v", winSec)
      }
      run("rolling", "chunked") {
        graft.operators.TimeSeries.rollingChunked(corpus, "k", "ts", "v", winSec, winSec)
      }
    }
    if (arms("asof")) {
      val warmQuotes = quotes.limit(1000)
      graft.operators.Temporal.asofJoin(warmCorpus, warmQuotes, "k", "ts", "q_ts", Seq("q_v"))
        .write.format("noop").mode("overwrite").save()
      graft.operators.Temporal.asofJoinChunked(warmCorpus, warmQuotes, "k", "ts", "q_ts",
          Seq("q_v"), chunkSize = winSec)
        .write.format("noop").mode("overwrite").save()
      run("asof", "plain") {
        graft.operators.Temporal.asofJoin(corpus, quotes, "k", "ts", "q_ts", Seq("q_v"))
      }
      run("asof", "chunked") {
        graft.operators.Temporal.asofJoinChunked(corpus, quotes, "k", "ts", "q_ts",
          Seq("q_v"), chunkSize = winSec)
      }
    }

    // r14: the dynamic-destination scatter under a hot DESTINATION
    // (dest-0 carries 30% of the corpus) — fanout=1 serializes it into
    // ONE write task; AutoFanout spreads it per the sampled histogram.
    // AQE off for both variants: its partition coalescing would re-merge
    // the salt spread at this corpus size (real exports are far past
    // the advisory partition size) and muddy the comparison.
    val destCorpus = corpus.select(
      concat(lit("dest-"), col("k")).as("dest"),
      concat(col("id"), lit(","), col("v")).as("text"))
    val dynBase = s"/tmp/graft_skewbench_dyn_${System.nanoTime()}"
    def runDynamic(variant: String, fanout: graft.sources.Dynamic.Fanout): Unit = {
      val dir = s"$dynBase/$variant"
      measure(spark, "dynamic_text", variant) {
        graft.sources.Dynamic.saveAsDynamicText(destCorpus, dir, "dest", "text",
          fanout = fanout)
      }
    }
    if (arms("dynamic")) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        // warm the scatter path untimed (codegen + commit machinery)
        graft.sources.Dynamic.saveAsDynamicText(
          destCorpus.limit(10000), s"$dynBase/warm", "dest", "text")
        runDynamic("plain", fanout = 1)
        runDynamic("auto", fanout = graft.sources.Dynamic.AutoFanout)
        // r15: recurring-export path — salts replayed from the AUTO
        // run's manifest (exact per-destination counts, a kilobyte
        // metadata read), so the wall should be the auto spread win
        // WITHOUT the sampling pass over the input
        runDynamic("manifest",
          graft.sources.Dynamic.Fanout.FromManifest(s"$dynBase/auto"))
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dynBase))
      }
    }

    // r16: the many-small-files GATHER — prices the round's
    // manifest-planned size batching. The scatter writes one shard
    // per (destination, task)-run; 2001 destinations of ~10k rows
    // each make a tree of thousands of small files. per_file plans
    // one task per shard (the pre-r16 shape, forced via a 1-byte
    // target); batched groups shards to the default 128 MB target —
    // same bytes read, scheduler/open-stream overhead collapsed.
    if (arms("gather")) {
      val dir = s"/tmp/graft_skewbench_gather_${System.nanoTime()}"
      try {
        graft.sources.Dynamic.saveAsDynamicText(destCorpus, dir, "dest", "text")
        def gatherAll() = graft.sources.Dynamic.readDynamicText(spark, dir)
        // warm both planning paths untimed
        spark.conf.set(graft.sources.Dynamic.GatherTargetBytesKey, "1")
        gatherAll().limit(1000).write.format("noop").mode("overwrite").save()
        run("gather", "per_file") { gatherAll() }
        spark.conf.unset(graft.sources.Dynamic.GatherTargetBytesKey)
        gatherAll().limit(1000).write.format("noop").mode("overwrite").save()
        run("gather", "batched") { gatherAll() }
      } finally {
        spark.conf.unset(graft.sources.Dynamic.GatherTargetBytesKey)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }

    // r15: the join-side skew verbs, measured like the operators above.
    // AQE off for like-for-like task accounting (its skew split would
    // partially mitigate the plain arm at THIS corpus size; at real
    // scale the verbs and AQE compose); broadcast threshold off because
    // the scenario skewedJoin exists for is a right side too big to
    // broadcast — with the 2001-row bench dim left broadcastable, BOTH
    // arms would broadcast and neither would shuffle at all.
    if (arms("join")) {
      // restore the SESSION's threshold after, not Spark's built-in
      // default (GraftSession configures 64MB — unset would hand the
      // arms that run after 'join' a different plan regime than a
      // standalone run of the same arm)
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val dim = spark.range(0, 2001).select(col("id").as("k"),
          (col("id") % 997).cast("double").as("attr")).persist()
        dim.count()
        val warmDim = dim.limit(100)
        corpus.limit(10000).join(warmDim, Seq("k"))
          .write.format("noop").mode("overwrite").save()
        graft.operators.Joins.skewedJoinSampled(corpus.limit(10000), warmDim, Seq("k"),
            fanout = 32)
          .write.format("noop").mode("overwrite").save()
        graft.operators.Joins.skewedJoinCms(corpus.limit(10000), warmDim, Seq("k"),
            fanout = 32)
          .write.format("noop").mode("overwrite").save()
        run("join", "plain") { corpus.join(dim, Seq("k")) }
        // defaults: hotKeyThreshold 9000 (cold keys carry ~rows/2000·0.7,
        // the hot key 0.3·rows — cleanly separated at any bench size
        // ≥ 1M), 1% detection sample
        run("join", "sampled") {
          graft.operators.Joins.skewedJoinSampled(corpus, dim, Seq("k"), fanout = 32)
        }
        // r16: the CMS variant — scio's literal shape
        // (PairSkewedSCollectionFunctions): a Count-Min sketch over
        // the LEFT keys (one full pass, included in the measured wall
        // — the price a real run pays), hot/cold split as a pure
        // codegen probe of the broadcast registers, no sampled hot-key
        // frame at all
        run("join", "cms") {
          graft.operators.Joins.skewedJoinCms(corpus, dim, Seq("k"), fanout = 32)
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }

    // r15: hot-key aggregation — fanoutAgg's documented use case is a
    // NON-ALGEBRAIC payload (collect_list: map-side combine cannot
    // shrink it below the value count, so the hot key's reducer reads
    // 30% of the corpus as individual shuffle records). The fanout arm
    // pre-collects per (key, salt) and merges 32 pre-combined blobs.
    if (arms("agg")) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        corpus.limit(10000).groupBy(col("k")).agg(collect_list(col("v")).as("vs"))
          .write.format("noop").mode("overwrite").save()
        graft.operators.Joins.fanoutAgg(corpus.limit(10000), Seq("k"), 32)(
            Seq(collect_list(col("v")).as("vs")),
            Seq(flatten(collect_list(col("vs"))).as("vs")))
          .write.format("noop").mode("overwrite").save()
        run("agg", "plain") {
          corpus.groupBy(col("k")).agg(collect_list(col("v")).as("vs"))
        }
        run("agg", "fanout") {
          graft.operators.Joins.fanoutAgg(corpus, Seq("k"), 32)(
            Seq(collect_list(col("v")).as("vs")),
            Seq(flatten(collect_list(col("vs"))).as("vs")))
        }
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
    spark.stop()
  }
}
