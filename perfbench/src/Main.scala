package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM, driven by the plan run.py writes:
  *
  *  1. set up: create the session and run one warm pass, which writes
  *     every output for the checker;
  *  2. run passes, untraced, until `seconds` have gone by;
  *  3. traced runs only: attach the Spark listeners and run passes for
  *     another `seconds`, detach them and run untraced passes for another
  *     `seconds`, then time the workload's attribution probes.
  *
  * Everything measured is written, raw, to one JSON file; run.py turns
  * it into metrics. Usage: `perfbench.Main <plan.json> <raw.json>`.
  */
object Main {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val dataDir = plan.get("data_dir").asText
    val workDir = plan.get("work_dir").asText
    val cores = plan.get("cores").asInt
    val seconds = plan.get("seconds").asDouble
    val orders = plan.get("op_orders").elements().asScala.map(Json.strings).toIndexedSeq
    val params = plan.get("params")
    val wl = Workloads(plan.get("workload").asText)
    val spans = new Spans
    var passNo = 0

    def newSession(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$cores]")
        .config("spark.local.dir", s"$workDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
      val s = graft.GraftSession.configure(b, cores).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    def runOp(ctx: Ctx, op: String): Map[String, Any] = {
      ctx.spark.sparkContext.setLocalProperty("perfbench.op", s"${ctx.pass}:$op")
      val start = Clock.nowMs
      val (detail, wall) = Workloads.timed {
        try spans(op, op)(wl.run(op, ctx)) + ("ok" -> true)
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] pass ${ctx.pass} op $op failed: $e")
            Map("ok" -> false, "error" -> e.toString)
        }
      }
      System.err.println(f"[perfbench] pass ${ctx.pass} $op%s $wall%.2f s")
      Map("op" -> op, "start" -> start, "end" -> Clock.nowMs, "wall_s" -> wall) ++ detail
    }

    def runPass(spark: SparkSession, check: Boolean): Map[String, Any] = {
      val ctx = Ctx(spark, dataDir, workDir, check, passNo, spans, params)
      passNo += 1
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val start = Clock.nowMs
      val (ops, wall) = Workloads.timed(spans("pass")(orders(ctx.pass % orders.size).map(runOp(ctx, _))))
      val rec = Map("pass" -> ctx.pass, "start" -> start, "end" -> Clock.nowMs, "wall_s" -> wall,
        "gc_ms" -> (gcMs - gc0), "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "ops" -> ops)
      wl.afterPass(ctx)
      rec
    }

    /** Whole passes until `seconds` have gone by; at least one. */
    def window(spark: SparkSession): Seq[Map[String, Any]] = {
      val t0 = System.nanoTime()
      val passes = Seq.newBuilder[Map[String, Any]]
      do passes += runPass(spark, check = false)
      while ((System.nanoTime() - t0) / 1e9 < seconds)
      passes.result()
    }

    val (spark, createS) = Workloads.timed(spans("session.create")(newSession()))
    wl.open(spark)
    val warm = spans("session.warm")(runPass(spark, check = true))
    val untraced = window(spark)
    val traced =
      if (!plan.get("trace").asBoolean) Map.empty[String, Any]
      else {
        val tracer = new Tracer(spark)
        tracer.install()
        val passes = window(spark)
        tracer.uninstall()
        // untraced again: with untraced passes on both sides, the JVM's
        // warm-up drift cancels out of the tracing overhead
        val after = window(spark)
        val probes = spans("probes") {
          wl.probes(Ctx(spark, dataDir, workDir, check = false, passNo, spans, params))
        }
        Map("passes" -> passes, "untraced_after" -> after, "probes" -> probes) ++ tracer.dump
      }
    spark.stop()
    Json.write(args(1), Map(
      "workload" -> plan.get("workload").asText, "cores" -> cores,
      "setup" -> Map("create_s" -> createS, "warm_s" -> warm("wall_s"), "pass" -> warm),
      "untraced" -> untraced, "traced" -> traced,
      "spans" -> spans.all,
      "jvm" -> Map("rss_peak_mb" -> vmHwmMb, "gc_ms" -> gcMs,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)))
    sys.exit(0)
  }
}
