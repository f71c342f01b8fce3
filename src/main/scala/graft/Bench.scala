package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (SURVEY §6): runs the headline query suite — the
  * TPC-H-shape analytics plus the pipeline-scale dedup/KNN/window
  * entries — on SPARK_GRAFT_SF_DIR, forcing full materialization via
  * the noop sink (count() would let Catalyst prune every column and
  * under-measure the scan/compute). Prints ONE JSON line.
  */
object Bench {

  /** Headline set. Kept small and representative on purpose: the full
    * ~60-query correctness suite belongs to Verify, not the bench (a
    * full sweep at sf0.1 blows the bench time budget without telling
    * us anything new about scan/join/agg throughput).
    */
  private val headline: Seq[String] = Seq(
    "q1_pricing",
    "q3_shipping",
    "q5_local_supplier",
    "q_dedup_minhash",
    "q_decontaminate",
    "q_knn_brute",
    "q_knn_lsh",
    "q_sparse_join",
    "q_skewed_split",
    "q_knn_ivf",
    "q_smb_write",
    "q_smb_join",
    "q_window_session",
    "q_top_by_key",
    "q_multimodal_bulk",
    // r10 training-pipeline additions: corpus-wide gram counting and
    // the bucketed global prefix sum — both all-doc shuffle shapes
    // worth tracking per round.
    "q_substr_dup",
    "q_pack_sequences",
    // r10 continuation: the event-funnel join chain — a multi-round
    // keyed-join shape (per-step min-aggs through shrinking joins)
    // the suite didn't represent.
    "q_funnel",
    // r10 second continuation: the two new curation-scoring shapes —
    // a pure-codegen per-row rule scan (no shuffle at all: measures
    // expression throughput over the text corpus) and the DSIR
    // featurize→broadcast-ratio-join→partial-agg pipeline.
    "q_gopher_quality",
    "q_dsir",
    // r10 final continuation: the substring-dedup TRANSFORM — the
    // gram census plus a full text rebuild (interval fold + per-token
    // survival filter), the heaviest text-rewrite shape in the suite.
    "q_substr_remove",
    // r11: the two biggest r10 machines previously unbenched — the
    // PQ two-phase ADC scan (train-once codebooks, LUT broadcast,
    // asymmetric-distance inner loop) and an iterative graph query
    // (5 power-iteration rounds: keyed join + partial agg +
    // localCheckpoint per round — the multi-round shuffle shape).
    "q_knn_pq",
    "q_pagerank",
    // r12: the per-key trailing-window RANGE-frame shape (one hash
    // exchange + per-key sort) — previously unrepresented, and one of
    // the 8 heavy shapes the sf10 spot gate tracks.
    "q_rolling",
    // r12: the realistic-nprobe IVF probe (bench-internal aux entry —
    // the GATE's q_knn_ivf moved to exhaustive nprobe for its oracle
    // promotion, which no longer exercises the pruned-scan path)
    "q_knn_ivf_probe"
  )

  /** Fixed-work CPU calibration probe. Two rounds running (r12, r13),
    * cross-round bench deltas have had to be adjudicated by forensics
    * on untouched queries because the shared VM drifts 10-20% round to
    * round with zero code cause. This makes the drift a MEASURED
    * divisor instead of an argument: a deterministic xxhash64-style
    * avalanche loop of exactly `Iters` iterations — pure ALU work,
    * immune to page cache, parquet footers, or JVM heap state — timed
    * single-thread and all-cores, before and after the suite, stamped
    * into the artifact's env block. To compare round A to round B,
    * normalize each query time by the rounds' calib ratio
    * (SCALING.md "Calibration" section); a probe that itself moved
    * >10% between pre and post flags in-run interference.
    */
  private object Calib {
    val Iters = 200000000L
    @volatile private var sink: Long = 0L // defeat dead-code elimination
    private def mixLoop(seed: Long): Long = {
      var h = seed; var i = 0L
      while (i < Iters) {
        h ^= h >>> 33; h *= 0x9E3779B185EBCA87L // xxh64 prime 1
        h ^= h >>> 29; h *= 0xC2B2AE3D27D4EB4FL // xxh64 prime 2
        h ^= h >>> 32; h += i
        i += 1
      }
      h
    }
    private def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    /** (single-thread sec, all-cores sec): min-of-3 each (min, not
      * median — the probe is fixed work, so every deviation above the
      * true time is interference by construction), after one untimed
      * JIT-warming pass.
      */
    def probe(): (Double, Double) = {
      sink ^= mixLoop(0x5eedL) // untimed: C2-compile the loop first
      val single = (1 to 3).map(r => timed { sink ^= mixLoop(r.toLong) }).min
      val n = Runtime.getRuntime.availableProcessors()
      val multi = (1 to 3).map { r =>
        timed {
          val ts = (0 until n).map(t => new Thread(() => { sink ^= mixLoop(r * 1000L + t) }))
          ts.foreach(_.start()); ts.foreach(_.join())
        }
      }.min
      (single, multi)
    }

    /** Memory-BANDWIDTH leg (r15): two same-session, idle-stamped,
      * ALU-calib-flat recordings of behaviorally identical code
      * differed +7%/+23% (sf0.1/sf10) — proof the residual shared-host
      * drift lives in the memory/IO subsystem the pure-ALU loop never
      * touches. Fixed work: every core streams its own 64 MB long
      * array (sequential sum — DRAM-bound at this size, caches are
      * 1000× smaller), min-of-3 after an untimed warm pass. Seconds
      * returned; aggregate GB/s = [[BwThreads]] × 0.064 / seconds.
      * Stamped as calib_bw_pre/post so bandwidth drift becomes a
      * divisor too.
      */
    private val BwLongsPerCore = 8 * 1024 * 1024 // 64 MB of longs

    /** Threads the bw probe can afford: one 64 MB array per thread,
      * ALL live across the warm pass plus three timed passes — on a
      * many-core host at a default heap that is its own OOM trap (64
      * cores × 64 MB = 4 GB before any query runs, the same
      * under-provisioned-driver class max_heap_gb documents). Capped
      * so the probe's total footprint fits in a QUARTER of the heap;
      * fails fast with a sizing message if even one array doesn't.
      * Stamped as calib_bw_threads: two recordings are
      * bandwidth-comparable only at the SAME thread count (the probe
      * is fixed work per thread).
      */
    val BwThreads: Int = {
      val cores = Runtime.getRuntime.availableProcessors()
      val budget = Runtime.getRuntime.maxMemory() / 4
      val fit = (budget / (BwLongsPerCore * 8L)).toInt
      require(fit >= 1,
        f"bw probe needs ${BwLongsPerCore * 8L / 1048576}%d MB within a quarter of the " +
          f"heap but max heap is ${Runtime.getRuntime.maxMemory() / 1048576}%d MB — " +
          "raise -Xmx (the suite itself needs more than this anyway)")
      math.min(cores, fit)
    }

    def bwProbe(): Double = {
      val n = BwThreads
      val arrays = Array.fill(n)(Array.tabulate(BwLongsPerCore)(_.toLong))
      def pass(): Unit = {
        val ts = (0 until n).map { t =>
          new Thread(() => {
            val a = arrays(t); var s = 0L; var j = 0
            while (j < a.length) { s += a(j); j += 1 }
            sink ^= s
          })
        }
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      pass() // untimed warm (C2 + page faults on first touch)
      (1 to 3).map(_ => timed(pass())).min
    }
  }

  /** 1-minute system load average — the machine-busy dial. Sampled at
    * start and end of the run and stamped into the bench JSON so an
    * artifact recorded under ambient load SELF-IDENTIFIES instead of
    * reading as a regression (the r8 artifact was inflated ~35% by a
    * concurrent job; nothing in the JSON said so).
    */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Wait (bounded) for the 1-minute load average to decay below the
    * pollution threshold before timing anything. The driver runs the
    * bench right after the correctness sweep, so the load the sweep
    * left behind pollutes the first minutes — two consecutive rounds
    * shipped a flagged official artifact for exactly this reason.
    * Waiting out the decay turns a flagged artifact into a clean one;
    * if the machine stays busy past the budget we proceed and the
    * polluted stamp still tells the truth. SPARK_GRAFT_BENCH_WAIT
    * overrides the budget in seconds (0 disables).
    */
  private def awaitIdle(threshold: Double): Double = {
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT", "300").toInt
    val deadline = System.nanoTime() + budgetSec * 1000000000L
    var load = loadAvg()
    var announced = false
    while (load > threshold && System.nanoTime() < deadline) {
      if (!announced) {
        System.err.println(
          f"[bench] load_avg=$load%.2f > $threshold%.1f — waiting up to ${budgetSec}s for idle")
        announced = true
      }
      Thread.sleep(5000)
      load = loadAvg()
    }
    load
  }

  def main(args: Array[String]): Unit = {
    // Wait to WELL BELOW the 0.5 polluted threshold (r10 shipped at
    // 0.48 vs 0.5 — a 0.02 margin is a coin flip): target 0.3, so a
    // clean artifact records with visible headroom. The polluted stamp
    // itself still keys off 0.5.
    val loadStart = awaitIdle(0.3)
    // calibration probe BEFORE the suite (post-idle-wait, so it
    // measures the machine the suite is about to run on)
    val (calSinglePre, calMultiPre) = Calib.probe()
    val calBwPre = Calib.bwProbe()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the suite — the sf10+
    // spot-gate knob (a full headline sweep at 100× the bench sf blows
    // the wall-clock budget without adding signal beyond the targeted
    // heavy shapes). The emitted total then covers ONLY those queries
    // and is not comparable to a full-suite total.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val headline: Seq[String] =
      if (only.isEmpty) Bench.headline else Bench.headline.filter(only)
    // q_stream_window is a bench-internal entry (not in headline) but a
    // legal ONLY target — see includeStream below. The r16 REGISTRY
    // query of the same name is the correctness side of the same
    // operator (sentinel-flushed windowed agg, queries/StreamQueries
    // .scala); here the name always means this throughput pass.
    only.filterNot(n => Bench.headline.contains(n) || n == "q_stream_window").foreach(n =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY names unknown query '$n'"))
    // registered gate queries + bench-internal entries (timed like any
    // other, but NOT part of the correctness registry)
    val all = SparkEntry.queries +
      ("q_knn_ivf_probe" -> (graft.queries.TextVectorQueries.knnIvfProbeBench _))
    // Warm the whole headline suite with one untimed pass (JMH-style
    // steady state): codegen compiler, parquet footer cache, shuffle
    // machinery, and the write-commit path all initialize once here,
    // so the timed passes measure sustained throughput — the figure
    // that scales — not per-session one-time setup. The bounded
    // headline suite (the `headline` list above) at sf0.1 keeps the
    // extra passes inside the bench time budget (the r1 timeout came
    // from sweeping the full registry).
    headline.filter(all.contains).foreach { name =>
      try all(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // A rename must not silently shrink the suite (and its total).
    headline.filterNot(all.contains).foreach(n =>
      System.err.println(s"[bench] WARNING: headline query '$n' missing from SparkEntry.queries"))
    // Median-of-N timing: single-shot numbers on this box have a ~3×
    // run-to-run noise floor (r4-r6 recorded 31/19/40 s on byte-
    // identical code), which makes round-over-round deltas — and the
    // 2× baseline gate — meaningless. N timed passes per query,
    // interleaved BY PASS (pass 1 of every query, then pass 2, …) so
    // a transient machine stall degrades one pass of many queries
    // instead of every pass of one query; report the per-query median
    // (and min, the low-noise bound), total = sum of medians.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val names = headline.filter(all.contains)
    val samples = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    // Each query's first timed pass (post-warmup steady state; the
    // volumes are deterministic across passes) runs in its own JobScope,
    // which reports, once the pass is over and outside its timing:
    //  - the pass's total shuffle read/write and spill bytes. Wall-clock
    //    says how fast a query ran on THIS box; shuffle bytes say what it
    //    would COST on a 1000-executor cluster — the number that decides
    //    whether a shape survives 100 TB (e.g. the substring-dedup census
    //    must shuffle 8-byte hashes, never text);
    //  - the rows the dedup/ANN operators' maxBucket caps excluded
    //    (Dedup.observeCap) — the recall-loss dial a 100 TB run watches,
    //    so each BENCH records how much the caps dropped at this sf.
    val shuffleStats = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    val capMetrics = scala.collection.mutable.Map[String, graft.dedup.Dedup.CapCounts]()
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      try all(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    def measured(name: String): Double = {
      val (secs, m) = graft.util.JobScope.run(spark, name)(timed(name))
      shuffleStats(name) = (m.sum(_.shuffleReadMetrics.totalBytesRead),
        m.sum(_.shuffleWriteMetrics.bytesWritten),
        m.sum(t => t.memoryBytesSpilled + t.diskBytesSpilled))
      m.actions.foreach { case (_, qe) => capMetrics ++= graft.dedup.Dedup.capCounts(qe.observedMetrics) }
      secs
    }
    for (pass <- 1 to reps; name <- names)
      samples(name) = samples(name) :+ (if (pass == 1) measured(name) else timed(name))
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = names.map(n => n -> median(samples(n)))
    val mins = names.map(n => n -> samples(n).min)
    // q_smb_write exists so the bucketed WRITE's own cost is visible
    // (q_smb_join reuses a write-once layout); it reports alongside
    // but OUTSIDE the total, like q_stream_window — keeping the total
    // comparable round over round (r7's total had no write entry).
    // q_knn_ivf_probe reports alongside but OUTSIDE the total too: it
    // exists for pruned-path regression visibility, and keeping it out
    // keeps the total comparable with pre-r12 recordings.
    val auxiliary = Set("q_smb_write", "q_knn_ivf_probe")
    // Streaming throughput: the same events feed as q_window_fixed,
    // driven through Structured Streaming (AvailableNow) into a noop
    // sink — measures the micro-batch engine end-to-end. Median of
    // `reps` runs like the batch suite; each pass gets a FRESH
    // checkpoint dir (reusing one would turn later passes into no-op
    // resumes of a finished query).
    // Returns (wall seconds, trigger-execution seconds): the second
    // component sums the engine's own per-micro-batch triggerExecution
    // durations, so the artifact separates the fixed engine-start cost
    // (wall − exec: stream planning, checkpoint setup, source listing
    // before the first batch) from the data-proportional batch work —
    // one mixed median hid which component moved round over round (r17,
    // VERDICT ask #8).
    def streamingPass(): (Double, Double) = {
      val ckp = s"/tmp/graft_bench_ckp_${System.nanoTime()}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckp))
      var execMs = 0L
      val t0 = System.nanoTime()
      try {
        // the file source needs a directory. The driver's sf dirs hold
        // events.parquet as a single FILE (stream the parent with a
        // glob selecting it); a ScaleUp dir holds it as a DIRECTORY of
        // part files (stream it directly — pathGlobFilter matches leaf
        // files only, so the single-file glob would match nothing and
        // silently stream empty).
        val evPath = s"$sfDir/events.parquet"
        val schema = spark.read.parquet(evPath).schema
        val evHPath = new org.apache.hadoop.fs.Path(evPath)
        val evFs = org.apache.hadoop.fs.FileSystem.get(
          evHPath.toUri, spark.sparkContext.hadoopConfiguration)
        val raw =
          if (evFs.getFileStatus(evHPath).isDirectory)
            spark.readStream.schema(schema).parquet(evPath)
          else
            spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        val ev = Tables.normalizeTs(raw)
        val q = graft.streaming.Windows
          .fixedGroups(ev, "ts", "1 hour", "10 minutes",
            org.apache.spark.sql.functions.col("event_type"))
          .count()
          .writeStream.format("noop")
          .option("checkpointLocation", ckp)
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        if (!q.awaitTermination(120000)) {
          q.stop() // truncated measurement — don't leave it consuming cores
          System.err.println("[bench] q_stream_window timed out at 120s; reported time truncated")
        }
        execMs = q.recentProgress
          .map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
          .sum
      } catch { case e: Throwable => System.err.println(s"[bench] q_stream_window failed: $e") }
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckp))
      ((System.nanoTime() - t0) / 1e9, execMs / 1000.0)
    }
    // spot-gate mode skips the streaming entry unless asked for — it
    // rides outside the total anyway, and its fixed micro-batch
    // startup is pure wall-clock at 100× sf
    val includeStream = only.isEmpty || only.contains("q_stream_window")
    // total = sum of per-query medians over the batch headline suite
    // (comparable round over round); the streaming median is reported
    // alongside, not in the total — its fixed micro-batch-engine
    // startup would dominate at small sf.
    val all2 =
      if (includeStream) {
        val passes = (1 to reps).map(_ => streamingPass()).toList
        // q_stream_window stays the WALL median (the pre-r17 meaning,
        // comparable across rounds); _exec is the new data-proportional
        // component (sum of triggerExecution per pass, median across
        // passes) — engine startup ≈ wall − exec. Both ride OUTSIDE the
        // suite total like every streaming/aux entry.
        results :+ ("q_stream_window" -> median(passes.map(_._1))) :+
          ("q_stream_window_exec" -> median(passes.map(_._2)))
      } else results
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.filterNot(r => auxiliary(r._1)).map(_._2).sum
    val caps = capMetrics.toSeq.sortBy(_._1).map { case (op, graft.dedup.Dedup.CapCounts(capped, rows)) =>
      s""""$op":{"rows_in_capped_buckets":$capped,"bucket_rows":$rows}"""
    }.mkString("{", ",", "}")
    val shuffles = names.flatMap(n => shuffleStats.get(n).map(n -> _))
      .map { case (n, (r, w, s)) =>
        f""""$n":{"read_mb":${r / 1048576.0}%.1f,"write_mb":${w / 1048576.0}%.1f,"spill_mb":${s / 1048576.0}%.1f}"""
      }.mkString("{", ",", "}")
    // environment fingerprint: load_avg ≳ a few × the bench's own core
    // use at either sample means a polluted artifact — compare
    // queries_min or rerun idle before reading deltas as regressions.
    // A start load over 0.5 means other work was already running when
    // the bench began: the artifact SELF-GATES with a machine-checkable
    // "polluted": true so it can never again be read as a regression
    // without a human cross-checking a second idle recording.
    val polluted = loadStart > 0.5
    if (polluted) System.err.println(
      f"[bench] WARNING: load_avg_start=$loadStart%.2f > 0.5 — recording under ambient " +
        "load; artifact stamped \"polluted\": true. Re-run idle for a comparable number.")
    // calibration probe AFTER the suite: pre≈post means the machine
    // held steady for the whole recording; a >10% pre→post move means
    // something started/stopped mid-run (compare queries_min, or rerun)
    val (calSinglePost, calMultiPost) = Calib.probe()
    val calBwPost = Calib.bwProbe()
    val env = f""""env":{"load_avg_start":$loadStart%.2f,"load_avg_end":${loadAvg()}%.2f,""" +
      s""""idle_wait_target":0.3,"polluted_threshold":0.5,""" +
      s""""available_processors":${Runtime.getRuntime.availableProcessors()},""" +
      f""""calib_iters":${Calib.Iters}%d,""" +
      f""""calib_single_pre":$calSinglePre%.3f,"calib_multi_pre":$calMultiPre%.3f,""" +
      f""""calib_single_post":$calSinglePost%.3f,"calib_multi_post":$calMultiPost%.3f,""" +
      f""""calib_bw_pre":$calBwPre%.4f,"calib_bw_post":$calBwPost%.4f,""" +
      s""""calib_bw_threads":${Calib.BwThreads},""" +
      // heap self-identification: the r15 sf10 first attempt ran at
      // the default 8g instead of the method's 64g and read as a
      // phantom +12% — only forensics (a 34 GB spill block) said why.
      // An artifact must carry the JVM sizing that shaped it.
      f""""max_heap_gb":${Runtime.getRuntime.maxMemory() / 1073741824.0}%.1f,""" +
      s""""spark_cpus":$cpus}"""
    // KEY ORDER IS LOAD-BEARING: the driver archives only a 2,000-char
    // TAIL of this line, so the verdict-critical fields — per-query
    // medians, the env fingerprint, the polluted stamp, and the suite
    // total — must be the LAST keys (r11's archived artifact lost its
    // totals and idle fingerprint because they were printed first).
    // Least-critical first: cap/shuffle detail (duplicated in
    // SCALING.md), then mins, then medians + env + polluted + total.
    println(f"""{"metric":"total","cap_metrics":$caps,"shuffle_bytes":$shuffles,""" +
      f""""queries_min":${jmap(mins)},"reps":$reps,"sf":"$sfDir",""" +
      f""""queries":${jmap(all2)},$env,"polluted":$polluted,""" +
      f""""value":$total%.3f,"unit":"sec"}""")
    // COMPACT final line (r17): the fat line above (~10 KB of cap/io/
    // env maps) has overflowed the driver's 2000-char stdout tail since
    // r14 — BENCH_r14/r15/r16 all archived `parsed: null`, so PERF lost
    // its per-query ground truth for three rounds. The LAST stdout line
    // is therefore a compact duplicate — total, per-query medians, sf,
    // cpus, polluted — well under the tail budget. Same measurements,
    // same methodology; nothing timed changed. The fat line stays above
    // for humans and the repo's own BenchCompare tooling.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      f""""queries":${jmap(all2)},"sf":"$sfDir","cpus":$cpus,""" +
      f""""reps":$reps,"polluted":$polluted}""")
    spark.stop()
  }
}
