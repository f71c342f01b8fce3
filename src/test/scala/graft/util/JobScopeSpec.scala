package graft.util

import graft.SparkSpec
import org.apache.spark.graft.BusListeners

/** util.JobScope: what it counts, how it leaves the job group, and how
  * it leaves the listener bus.
  */
class JobScopeSpec extends SparkSpec {

  private def sc = spark.sparkContext

  /** A job whose one shuffle writes exactly `rows` records. */
  private def shuffle(rows: Long): Unit =
    spark.range(0, rows, 1, 4).repartition(3).write.format("noop").mode("overwrite").save()

  private def written(r: JobScope.Result): Long = r.sum(_.shuffleWriteMetrics.recordsWritten)

  private def group: String = sc.getLocalProperty("spark.jobGroup.id")

  test("a job another thread runs during the scope is not counted") {
    // a thread takes Spark's local properties when it is created, so
    // this one runs outside the scope's job group
    val other = new Thread(() => shuffle(5000))
    val (_, r) = JobScope.run(spark, "own jobs") {
      other.start()
      shuffle(100)
      other.join()
    }
    assert(written(r) == 100L)
    assert(r.stages.nonEmpty && r.stages.forall(_.label == "own jobs"))
  }

  test("shuffle-record counts are exact as soon as run returns") {
    (1 to 5).foreach { i =>
      val rows = 1000L * i + 7
      val (_, r) = JobScope.run(spark, s"repartition $i")(shuffle(rows))
      assert(written(r) == rows, s"pass $i")
      assert(r.actions.size == 1, s"pass $i: ${r.actions.map(_._1)}")
    }
  }

  test("a nested scope restores the outer scope's job group") {
    sc.setJobGroup("caller", "caller's jobs")
    try {
      val (inner, outer) = JobScope.run(spark, "outer") {
        shuffle(11)
        val (_, in) = JobScope.run(spark, "inner")(shuffle(7))
        shuffle(13) // after the inner scope: the outer group again
        in
      }
      assert(written(inner) == 7L)
      assert(written(outer) == 24L)
      assert(group == "caller")
      assert(sc.getLocalProperty("spark.job.description") == "caller's jobs")
    } finally sc.clearJobGroup()
  }

  test("a throwing body leaves no listener behind and restores the job group") {
    val before = BusListeners(sc)
    sc.setJobGroup("caller", "caller's jobs")
    try {
      val e = intercept[IllegalStateException](JobScope.run(spark, "throws") {
        shuffle(3)
        throw new IllegalStateException("boom")
      })
      assert(e.getMessage == "boom")
      assert(BusListeners(sc) == before)
      assert(group == "caller")
    } finally sc.clearJobGroup()
    JobScope.run(spark, "returns")(shuffle(3))
    assert(BusListeners(sc) == before)
    assert(group == null)
  }

  test("each stage carries its job's label and Fixpoint round") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val (_, r) = JobScope.run(spark, "pagerank")(
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 2).collect())
    assert(r.stages.forall(_.label == "pagerank"))
    // the loop checkpoints its init (round 0), then rounds 1 and 2; the
    // cache builds before it and the collect after carry no round
    assert(r.stages.flatMap(_.round).toSet == Set(0, 1, 2))
    assert(r.stages.exists(_.round.isEmpty))
    assert(sc.getLocalProperty(JobScope.RoundKey) == null)
  }
}
