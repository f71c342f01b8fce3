package graft

import org.apache.spark.sql.SparkSession

/** Dev-only: run one named query (args(0)) on args(1) sf dir, print
  * timing; args(2) = `explain` prints the formatted plan instead, an
  * integer N times the query N times in one session (run 1 = cold,
  * rest warm — codegen/footer caches populated).
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
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
      val reps = if (args.length > 2) args(2).toInt else 1
      (1 to reps).foreach(r => println(f"[diag] $name run $r: ${run()}%.3f s"))
    }
    spark.stop()
  }
}
