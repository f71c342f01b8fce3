package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Mirrors the role of scio's `ScioContext`
  * (reference: scio-core/src/main/scala/com/spotify/scio/ScioContext.scala:1)
  * as the single entry point that owns execution configuration — but
  * Spark-first: AQE on (runtime coalescing + skew-join handling),
  * broadcast threshold tuned for dimension tables, UTC session time.
  */
object GraftSession {

  /** Build a local session. `cpus` drives both parallelism and the
    * shuffle partition count (≈ cores in local mode; at cluster scale
    * you'd set 2-3× total executor cores and let AQE coalesce).
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    configure(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()

  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.appName("graft")
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst=false (the Spark tuning guide's advice to
      // respect the advisory size) was A/B'd per query at sf0.1: it cut
      // q_pagerank ~30% (its loop is all tiny vertex exchanges) but cost
      // +15% on reduce-CPU-bound shapes (q_window_session, q_substr_dup's
      // census) whose small-byte/high-CPU reduce stages serialize when
      // coalesced to one partition. Net ≈ wash, so the CPU-parallel
      // default stays.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Headroom for wide plans (rollup/cube grouping sets, wide
      // aggs): default maxFields=100 silently drops such stages out of
      // whole-stage codegen. (The 128-column MinHash aggregate that
      // first motivated this is now a single native MinHashAgg.)
      .config("spark.sql.codegen.maxFields", "256")
      // Codegen class cache: the default 100 entries thrash in any
      // session that runs more than a handful of distinct queries —
      // measured on the bench suite, where q_pagerank's 5-round loop
      // re-COMPILES its per-round codegen units on every run once other
      // queries have cycled the cache (~5.9 s suite-context vs ~4.0 s
      // alone at sf0.1; the subset experiment in OPTIMIZATION_r17.md
      // reproduces it with six queries). Two caveats:
      //  - this is a STATIC conf: it takes effect only when the session
      //    is created, and is silently ignored when getOrCreate reuses a
      //    live session (contextAndArgs in a REPL or test harness);
      //  - every cached entry pins its compiled classes in the driver's
      //    metaspace (KB–MB each, a few hundred MB at worst at 5000)
      //    until evicted.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // events.parquet has shipped in two shapes across test-data
      // generations: TIMESTAMP(NANOS) (rejected by default — read as
      // Long and convert in Tables.events) and timezone-less
      // TIMESTAMP(MICROS) (inferred as TIMESTAMP_NTZ by default, which
      // unix_micros/window() reject). Pin both to plain TimestampType:
      // with a UTC session the NTZ wall clock and the instant coincide,
      // matching what DuckDB computes on the same files.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(LocalFileSystemKey, classOf[graft.util.LocalFs.Checksummed].getName)
      .config(LocalFsKey, classOf[graft.util.LocalFs.Context].getName)

  /** The `file` scheme's classes for Hadoop's FileSystem API (parquet
    * writers, commit protocols, the file stream source) and FileContext
    * API (Spark's default checkpoint file manager): see
    * [[graft.util.LocalFs]].
    *
    * Why: with no native Hadoop library (`libhadoop.so`), Hadoop's
    * local file system forks one `chmod` process for every file or
    * directory it creates and one `readlink` for every link-status
    * check, four of which come with each checkpoint file. Measured with
    * JFR `jdk.ProcessStart` on 4 cores:
    *  - one `interactive` benchmark run (seed 11, warm pass + 1 pass)
    *    forked 6,039 processes without these keys (4,688 `readlink`,
    *    1,343 `chmod`), and 8 with them, none from Hadoop's fs code
    *    (Hadoop's one-time `setsid` probe, Spark's `getconf` and six
    *    `rm -rf` at shutdown);
    *  - one `batch` run (seed 11) forked 164 without them (159 `chmod`
    *    from the parquet writers and the commit protocol), and 6 with
    *    them, none from Hadoop's fs code;
    *  - the benchmark's stream shape (stream dedup into an hourly
    *    window count, 6 files, one per trigger) forks 78, 199 and 360
    *    per micro-batch at 1, 4 and 8 shuffle partitions without them
    *    (one state store per partition per stateful operator), and 0
    *    with them.
    *
    * Session reuse (checked): neither key takes effect on a session
    * that `getOrCreate` reuses. It copies them into the session's SQL
    * conf under their `spark.hadoop.` names, and Hadoop reads only the
    * bare names, which come from the SparkContext's Hadoop
    * configuration, built once when the context starts. On a new
    * session the FileContext key always holds; the FileSystem key does
    * not when the JVM cached a `file` FileSystem before the session
    * started (Hadoop caches one per scheme and user, whatever the
    * conf). */
  val LocalFileSystemKey = "spark.hadoop.fs.file.impl"
  val LocalFsKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"

  /** scio's `ContextAndArgs(cmdlineArgs)` program entry (reference
    * ScioContext.scala `ContextAndArgs`): split the command line into
    * `--key=value` job arguments and execution context in one call.
    * Spark-first the context is a [[SparkSession]]; master/app-name
    * come from `--master`/`--appName` when present (otherwise
    * spark-submit's own config owns them, as it should on a cluster),
    * and every other `--key=value` lands in the returned
    * [[graft.util.Args]].
    *
    * Session-reuse caveat: this resolves through `getOrCreate()`, so
    * when the JVM already holds an active [[SparkSession]] (a REPL, a
    * test harness, a prior job in the same process) that session is
    * returned and the builder's MODIFIABLE runtime confs — including
    * `--shufflePartitions` and [[configure]]'s AQE/timezone/broadcast
    * settings — ARE applied to it, while `--master`/`--appName` are
    * silently ignored (a live session's context cannot be re-mastered
    * or renamed). That case logs a warning naming any ignored args
    * (scio's ContextAndArgs always owns a fresh context, so a caller
    * porting from it would otherwise assume every flag took effect).
    */
  def contextAndArgs(cmdlineArgs: Array[String]): (SparkSession, graft.util.Args) = {
    val args = graft.util.Args(cmdlineArgs)
    val cpus = Runtime.getRuntime.availableProcessors()
    val b0 = SparkSession.builder()
    val b1 = args.optional("master").fold(b0)(b0.master)
    val shuffle = args.optional("shufflePartitions").map(_.toInt).getOrElse(cpus)
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val session = configure(b1, shuffle)
      .appName(args.optional("appName").getOrElse("graft"))
      .getOrCreate()
    if (preexisting.contains(session)) {
      // getOrCreate applies MODIFIABLE settings (shuffle partitions,
      // AQE, timezone) to the live session; only context-level args
      // are genuinely ignored — and only when they actually DIFFER
      // from the live session's values (a matching --master/--appName
      // is a no-op, not an ignored request; warning on it would spam
      // REPL/test harnesses that always pass both)
      val ignored = Seq(
        "master" -> session.sparkContext.master,
        "appName" -> session.sparkContext.appName
      ).collect { case (k, live) if args.optional(k).exists(_ != live) => k }
      if (ignored.nonEmpty)
        System.err.println(
          s"[graft] contextAndArgs reused the active SparkSession; context-level args " +
            s"${ignored.map("--" + _).mkString(", ")} were IGNORED (a live session " +
            "cannot be re-mastered or renamed; runtime confs were applied)")
    }
    (session, args)
  }
}
