package graft.util

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graft.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.ExecutionEnd

/** The one way graft measures what a piece of driver code ran: Bench,
  * Diag, SkewBench and the specs that pin shuffle volumes or executed
  * plans all read Spark's own records through [[run]].
  *
  * `run(spark, label)(body)` runs `body` under a job group of its own,
  * with `label` as the job description, and keeps
  *  - the `StageInfo` of every stage that group's jobs ran, with the
  *    label and Fixpoint round ([[RoundKey]]) of the job that ran it;
  *  - the task-end event of each of those stages' tasks that reported
    *    `TaskMetrics`;
  *  - the `(funcName, QueryExecution)` of each successful action of the
  *    group, as a `QueryExecutionListener` would see it (so its
  *    `observedMetrics` carry the `observe()` metrics).
  *
  * Jobs of other threads do not count: a thread takes Spark's job group
  * when it is created, so only jobs started from `body`'s thread, or
  * from threads it creates, carry the group. A nested scope counts its
  * own jobs only, and the outer scope's group is back once it returns.
  *
  * Listener events arrive asynchronously, so after `body` returns the
  * scope drains Spark's listener bus once; every event of a finished
  * job is on the bus by then, so the records are complete. A drain that
  * times out raises an error naming the label rather than returning
  * partial counts. The caller's job group is restored and the listener
  * removed on every path.
  */
private[graft] object JobScope {

  /** Local property `Fixpoint.iterate` sets to the round number of each
    * round's jobs.
    */
  val RoundKey = "graft.round"

  final case class Stage(info: StageInfo, label: String, round: Option[Int])

  final case class Result(stages: Seq[Stage], tasks: Seq[SparkListenerTaskEnd],
                          actions: Seq[(String, QueryExecution)]) {
    def sum(f: TaskMetrics => Long): Long = tasks.map(t => f(t.taskMetrics)).sum
  }

  private val DrainTimeoutMs = 60000L
  private val GroupKey = "spark.jobGroup.id"
  private val DescriptionKey = "spark.job.description"
  /** The local properties `setJobGroup` sets. */
  private val GroupKeys = Seq(GroupKey, DescriptionKey, "spark.job.interruptOnCancel")
  private val groups = new java.util.concurrent.atomic.AtomicLong()

  def run[T](spark: SparkSession, label: String)(body: => T): (T, Result) = {
    val sc = spark.sparkContext
    val group = s"graft-scope-${groups.incrementAndGet()}"
    val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
    // written on the one listener-bus thread, read after the drain
    val own = mutable.Map[Int, (String, Option[Int])]()
    val executions = mutable.Set[Long]()
    val (stages, tasks) = (mutable.ArrayBuffer[Stage](), mutable.ArrayBuffer[SparkListenerTaskEnd]())
    val actions = mutable.ArrayBuffer[(String, QueryExecution)]()
    val recorder = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val p = e.properties
        if (p != null && group == p.getProperty(GroupKey))
          own(e.stageInfo.stageId) =
            (p.getProperty(DescriptionKey), Option(p.getProperty(RoundKey)).map(_.toInt))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && own.contains(e.stageId)) tasks += e
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        own.get(e.stageInfo.stageId).foreach { case (l, r) => stages += Stage(e.stageInfo, l, r) }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          executions += s.executionId
        case end: SparkListenerSQLExecutionEnd if executions(end.executionId) =>
          actions ++= ExecutionEnd.success(end)
        case _ =>
      }
    }
    sc.addSparkListener(recorder)
    try {
      sc.setJobGroup(group, label)
      val out = body
      try BusBridge.waitUntilEmpty(sc, DrainTimeoutMs) catch {
        case e: java.util.concurrent.TimeoutException => throw new IllegalStateException(
          s"job scope '$label': Spark's listener bus did not drain within " +
            s"${DrainTimeoutMs / 1000} s; its metrics would be partial", e)
      }
      (out, Result(stages.toSeq, tasks.toSeq, actions.toSeq))
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(recorder)
    }
  }
}
