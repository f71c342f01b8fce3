package graft

import org.apache.spark.sql.SparkSession

/** Dev-only: run registry queries on args(1) sf dir (default sf0.01).
  *
  * Usage: runMain graft.Diag <name[,name2,…]> [sfDir] [N | explain | profile]
  *  - `N` (default 1): one untimed warm pass of each query, then N
  *    timed passes through the noop sink, interleaved BY PASS (A, B,
  *    A, B, …) so an A/B of two queries shares the machine's drift;
  *    prints each pass and a median/min line per query;
  *  - `explain`: the formatted plan of one query;
  *  - `profile`: one warm pass, then one profiled pass of one query
  *    with its stages by wall time and their timeline.
  * Env: SPARK_GRAFT_CPUS (default 16).
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(q: String = name): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (args.length > 2 && args(2) == "explain") {
      // built here, not above: IO-query lambdas perform eager writes
      // that must not run (untimed) before the timed branch
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    } else if (args.length > 2 && args(2) == "profile") {
      // Stage-level attribution (optimization guide §1.1): one warm
      // pass, then a profiled pass recording every stage's wall /
      // task count / shuffle volumes, printed slowest-first — says
      // WHERE a query's seconds go without the (disabled) UI. Each row
      // names the query and the Fixpoint round ("-" outside loops)
      // whose job ran the stage.
      val warm = run() // codegen/footer caches + any train-once artifacts
      val (timed, m) = graft.util.JobScope.run(spark, name)(run())
      println(f"[diag] $name warm=$warm%.3f s profiled=$timed%.3f s — stages by wall:")
      def tag(s: graft.util.JobScope.Stage): String =
        s"s${s.info.stageId} q=${s.label} round=${s.round.getOrElse("-")}"
      def wallMs(s: graft.util.JobScope.Stage): Long =
        (for { a <- s.info.submissionTime; b <- s.info.completionTime } yield b - a).getOrElse(-1L)
      val rows = m.stages.sortBy(-wallMs(_))
      rows.foreach { s =>
        val t = s.info.taskMetrics
        println(f"[stage] ${wallMs(s)}%6d ms  run=${t.executorRunTime}%6d ms  " +
          f"cpu=${t.executorCpuTime / 1000000L}%6d ms  gc=${t.jvmGCTime}%5d ms  " +
          f"tasks=${s.info.numTasks}%4d  sread=${t.shuffleReadMetrics.totalBytesRead / 1024}%8d KB  " +
          f"swrite=${t.shuffleWriteMetrics.bytesWritten / 1024}%8d KB  ${tag(s)}%-28s " +
          s.info.name.takeWhile(_ != '\n').take(90))
      }
      println(f"[diag] stage wall sum=${rows.map(wallMs).sum}%d ms over ${rows.size}%d stages " +
        "(stages overlap; sum > query wall is normal)")
      // timeline: stage submission/completion offsets expose DRIVER
      // gaps (planning, AQE rounds, broadcast builds) between stages
      val t0all = m.stages.flatMap(_.info.submissionTime).minOption.getOrElse(0L)
      m.stages.sortBy(_.info.submissionTime.getOrElse(0L)).foreach { s =>
        val at = s.info.submissionTime.getOrElse(0L) - t0all
        println(f"[timeline] ${tag(s)}%-28s submit=+$at%6d ms  wall=${wallMs(s)}%5d ms  " +
          f"tasks=${s.info.numTasks}%4d")
      }
    } else {
      val names = name.split(",").toSeq
      names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
      val reps = if (args.length > 2) args(2).toInt else 1
      // warm pass: codegen, footer caches, train-once artifacts
      names.foreach(n => println(f"[diag] $n warm: ${run(n)}%.3f s"))
      val samples = (1 to reps).flatMap { r =>
        names.map { n =>
          val dt = run(n)
          println(f"[diag] $n run $r: $dt%.3f s")
          n -> dt
        }
      }
      names.foreach { n =>
        val s = samples.collect { case (`n`, dt) => dt }.sorted
        val med = if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
        println(f"[diag] $n median: $med%.3f s min: ${s.head}%.3f s")
      }
    }
    spark.stop()
  }
}
