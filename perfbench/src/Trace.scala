package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock on Spark's scale (epoch milliseconds) but with nanoTime
  * resolution, so harness spans line up with listener timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Harness spans: (name, start, end, parent, op id), kept in memory and
  * written out when the run ends. Spans cost two clock reads, so they
  * are kept in untraced runs too.
  */
final class Spans {
  private val done = mutable.ArrayBuffer[Map[String, Any]]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()

  def apply[A](name: String, op: String = null)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    stack.push(id)
    val start = Clock.nowMs
    try body
    finally {
      stack.pop()
      done += Map("id" -> id, "name" -> name, "start" -> start, "end" -> Clock.nowMs,
        "parent" -> parent.getOrElse(-1), "op" -> op)
    }
  }

  def all: Seq[Map[String, Any]] = done.toSeq
}

/** The traced run's view of Spark, through public hooks only: a
  * SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for planning phases and observed metrics.
  * Jobs carry the harness's `perfbench.op` local property, so stages
  * are attributed to the op that submitted them.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[(Long, Long)]]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def seen(): Unit = lastEventMs = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty("perfbench.op")).orNull
      jobs.add(Map("job" -> e.jobId, "submit" -> e.time, "stages" -> e.stageIds, "op" -> op))
      seen()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time)
      seen()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val read = Option(e.taskMetrics).map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L)
      tasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue())
        .add((e.taskInfo.finishTime, read))
      seen()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val ts = Option(tasks.remove((s.stageId, s.attemptNumber()))).map(_.asScala.toSeq).getOrElse(Nil)
      val reads = ts.map(_._2).sorted
      val base = Map[String, Any]("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "name" -> s.name, "submit" -> s.submissionTime.getOrElse(0L),
        "complete" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
        "failed" -> s.failureReason.isDefined,
        "last_task_end" -> (if (ts.isEmpty) 0L else ts.map(_._1).max),
        "task_read_max" -> (if (reads.isEmpty) 0L else reads.last),
        "task_read_median" -> (if (reads.isEmpty) 0L else reads(reads.size / 2)))
      val metrics = if (m == null) Map.empty[String, Any] else Map[String, Any](
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "input_bytes" -> m.inputMetrics.bytesRead, "input_records" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      stages.add(base ++ metrics)
      seen()
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
      val caps = qe.observedMetrics.collect {
        case (name, row) if name.startsWith("graft_cap_") =>
          def at(f: String): Long = { val i = row.fieldIndex(f); if (row.isNullAt(i)) 0L else row.getLong(i) }
          name -> Seq(at("rows_in_capped_buckets"), at("bucket_rows"))
      }
      queries.add(Map("func" -> funcName, "ok" -> ok, "end" -> System.currentTimeMillis(),
        "phases" -> phases, "caps" -> caps))
      seen()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Listener events arrive asynchronously; wait (bounded) until the bus
    * has been quiet for a while before detaching and reading.
    */
  def uninstall(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs < 500 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.map(j => j + ("end" -> jobEnds.getOrDefault(j("job").asInstanceOf[Int], 0L))),
    "stages" -> stages.asScala.toSeq,
    "queries" -> queries.asScala.toSeq)
}
