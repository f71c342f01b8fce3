package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming coverage: the same declarative transforms run
  * on unbounded input (scio/Beam streaming ≈ readStream → transform →
  * writeStream), plus the custom-state sessionizer.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("streaming fixed-window aggregation matches the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0), Event(2L, ts(7), 3.0),
      Event(1L, ts(65), 4.0), Event(2L, ts(70), 5.0))
    input.addData(events: _*)

    val windowed = Windows.fixedGroups(input.toDF(), "ts", "1 hour", "10 minutes")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
    val q = windowed.writeStream.format("memory").queryName("fixed_win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("fixed_win")
      .select(col("window.start").as("w"), col("n"), col("sum_v"))
    val batch = events.toDF().groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("window.start").as("w"), col("n"), col("sum_v"))
    assert(sortedRows(streamed) == sortedRows(batch))
    assert(streamed.count() == 2) // two distinct hours
  }

  test("streaming session_window merges events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 1: two sessions (gap > 30min between minute 10 and 90)
    input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(10), 1.0), Event(1L, ts(90), 1.0))
    val sessions = Windows.sessionGroups(input.toDF(), "ts", "30 minutes", "10 minutes",
        col("userId"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("sess_win").select(col("n")).as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("streaming sliding-window aggregation matches the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1L, ts(0), 1.0), Event(1L, ts(20), 2.0), Event(2L, ts(45), 3.0),
      Event(2L, ts(75), 4.0))
    input.addData(events: _*)
    val windowed = Windows.slidingGroups(input.toDF(), "ts", "1 hour", "30 minutes",
        "10 minutes")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
    val q = windowed.writeStream.format("memory").queryName("slide_win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("slide_win")
      .select(col("window.start").as("w"), col("n"), col("sum_v"))
    val batch = events.toDF().groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("window.start").as("w"), col("n"), col("sum_v"))
    assert(sortedRows(streamed) == sortedRows(batch))
    // each event lands in 2 overlapping windows
    assert(streamed.agg(sum("n")).head().getLong(0) == events.size * 2L)
  }

  test("late data beyond the watermark is dropped from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val windowed = Windows.fixedGroups(input.toDF(), "ts", "1 hour", "10 minutes")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("window.start").as("w"), col("n"), col("sum_v"))
    val q = windowed.writeStream.format("memory").queryName("late_win")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0))
      q.processAllAvailable()
      // advance the watermark far past hour 0 → that window closes+emits
      input.addData(Event(2L, ts(200), 5.0))
      q.processAllAvailable()
      // 100.0 arrives with ts in hour 0, way behind the watermark (190m):
      // Spark must drop it, not reopen or re-emit the closed window
      input.addData(Event(1L, ts(10), 100.0))
      q.processAllAvailable()
      // advance again so hour 3 also closes
      input.addData(Event(2L, ts(400), 7.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_win").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).sortBy(_._1.getTime)
    // exactly the two closed (epoch-hour-aligned) windows; the late
    // 100.0 appears nowhere
    assert(out.map(o => (o._2, o._3)).toSeq == Seq((2L, 3.0), (1L, 5.0)), out.mkString(", "))
  }

  test("Sessionize merges a late in-watermark event and extends the session start backward") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = Sessionize.sessions(
      input.toDS().withWatermark("ts", "1 hour").as[Event], gapSec = 1800L)
    val q = sessions.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(10), 1.0))
      q.processAllAvailable()
      // late but within the 1h watermark, BEFORE the open session's
      // start and within the gap → must merge and move the start back
      input.addData(Event(1L, ts(5), 2.0))
      q.processAllAvailable()
      // advance event time so the session times out and emits
      input.addData(Event(2L, ts(600), 0.0))
      q.processAllAvailable()
      input.addData(Event(2L, ts(1300), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess_late").as[SessionAgg].collect()
      .filter(_.userId == 1L)
    assert(out.length == 1)
    assert(out.head.sessStart == ts(5), s"session start not extended backward: ${out.head}")
    assert(out.head.nEvents == 2L && out.head.sumValue == 3.0)
  }

  test("Sessionize: a late event predating the open session by more than the gap " +
      "becomes its own session and does not disturb the open one") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = Sessionize.sessions(
      input.toDS().withWatermark("ts", "10 hours").as[Event], gapSec = 1800L)
    val q = sessions.writeStream.format("memory").queryName("sess_stray")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(100), 1.0))
      q.processAllAvailable()
      // in-watermark but 95 min before the open session's start (gap 30m):
      // belongs to an earlier, elapsed session
      input.addData(Event(1L, ts(5), 7.0))
      q.processAllAvailable()
      // advance event time so the open session times out and emits
      input.addData(Event(2L, ts(1200), 0.0))
      q.processAllAvailable()
      input.addData(Event(2L, ts(2400), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess_stray").as[SessionAgg].collect()
      .filter(_.userId == 1L).sortBy(_.sessStart.getTime)
    assert(out.length == 2, out.mkString(", "))
    assert(out(0).sessStart == ts(5) && out(0).nEvents == 1L && out(0).sumValue == 7.0)
    assert(out(1).sessStart == ts(100) && out(1).nEvents == 1L && out(1).sumValue == 1.0)
  }

  test("Sessionize: late events bridging toward the open session merge into ONE session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = Sessionize.sessions(
      input.toDS().withWatermark("ts", "10 hours").as[Event], gapSec = 1800L)
    val q = sessions.writeStream.format("memory").queryName("sess_bridge")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(100), 1.0))
      q.processAllAvailable()
      // two late events: 45 is > gap before the open start (100), but 75
      // bridges them — all three belong to one session [45, 100]
      input.addData(Event(1L, ts(45), 2.0), Event(1L, ts(75), 4.0))
      q.processAllAvailable()
      input.addData(Event(2L, ts(1300), 0.0))
      q.processAllAvailable()
      input.addData(Event(2L, ts(2600), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess_bridge").as[SessionAgg].collect().filter(_.userId == 1L)
    assert(out.length == 1, out.mkString(", "))
    assert(out.head.sessStart == ts(45) && out.head.sessEnd == ts(100) &&
      out.head.nEvents == 3L && out.head.sumValue == 7.0)
  }

  test("Sessionize (flatMapGroupsWithState) emits sessions closed by the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = Sessionize.sessions(
      input.toDS().withWatermark("ts", "0 seconds").as[Event], gapSec = 1800L)
    val q = sessions.writeStream.format("memory").queryName("sess_state")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(10), 2.0), Event(2L, ts(5), 5.0))
      q.processAllAvailable()
      // advance event time far past both sessions' gap → timeout fires
      input.addData(Event(3L, ts(600), 0.0))
      q.processAllAvailable()
      input.addData(Event(3L, ts(1300), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess_state").as[SessionAgg].collect()
      .map(s => (s.userId, s.nEvents, s.sumValue)).sortBy(_._1)
    // user 1: one session of 2 events; user 2: one of 1; user 3's first closed too
    assert(out.take(2).toSeq == Seq((1L, 2L, 3.0), (2L, 1L, 5.0)))
  }

  test("sweepMerge properties on 200 random interval sets") {
    val rng = new scala.util.Random(11L)
    val gapUs = 1800L * 1000000L
    (1 to 200).foreach { _ =>
      val sessions = Vector.fill(1 + rng.nextInt(30)) {
        val start = rng.nextLong(86400L * 1000000L)
        val len = rng.nextLong(3600L * 1000000L)
        Sessionize.OpenSession(start, start + len, 1 + rng.nextInt(5), rng.nextDouble())
      }
      val merged = Sessionize.sweepMerge(sessions, gapUs)
      // totals preserved
      assert(merged.map(_.n).sum == sessions.map(_.n).sum)
      assert(math.abs(merged.map(_.sum).sum - sessions.map(_.sum).sum) < 1e-9)
      // sorted, disjoint, separated by more than the gap
      merged.sliding(2).foreach {
        case Seq(a, b) => assert(b.startUs - a.lastUs > gapUs, s"not separated: $a | $b")
        case _ =>
      }
      merged.foreach(s => assert(s.startUs <= s.lastUs))
      // idempotent: a merged set has nothing left to merge
      assert(Sessionize.sweepMerge(merged, gapUs) == merged)
    }
  }

  test("stream-stream windowedJoin matches the batch (key, window) join") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val clickRows = Seq(Event(1L, ts(5), 1.0), Event(1L, ts(50), 2.0),
      Event(2L, ts(10), 3.0), Event(3L, ts(20), 4.0))
    val buyRows = Seq(Event(1L, ts(30), 10.0), Event(2L, ts(55), 20.0),
      Event(2L, ts(70), 30.0))
    clicks.addData(clickRows: _*)
    buys.addData(buyRows: _*)

    val l = clicks.toDF().select(col("userId"), col("ts").as("c_ts"), col("value").as("c_v"))
    val r = buys.toDF().select(col("userId"), col("ts").as("b_ts"), col("value").as("b_v"))
    val joined = StreamJoins.windowedJoin(l, r, "userId", "c_ts", "b_ts",
      "1 hour", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance both watermarks so every window closes and emits
      // (distinct users per side so the flush rows can't join)
      clicks.addData(Event(8L, ts(600), 0.0)); buys.addData(Event(9L, ts(600), 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val lb = clickRows.toDF().select(col("userId"), col("ts").as("c_ts"), col("value").as("c_v"))
      .withColumn("w", window(col("c_ts"), "1 hour"))
    val rb = buyRows.toDF().select(col("userId"), col("ts").as("b_ts"), col("value").as("b_v"))
      .withColumn("w", window(col("b_ts"), "1 hour"))
    val batch = lb.join(rb, Seq("userId", "w")).drop("w")
    // user 1: click@5 ⨝ buy@30 (same hour); user 2: click@10 misses
    // buy@55/70 (next hour) — nothing else matches
    assert(sortedRows(spark.table("ss_join")) == sortedRows(batch))
    assert(spark.table("ss_join").count() == 1)
  }

  test("stream-stream intervalJoin matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val clickRows = Seq(Event(1L, ts(40), 1.0), Event(2L, ts(100), 2.0))
    val buyRows = Seq(Event(1L, ts(30), 10.0), Event(1L, ts(60), 20.0),
      Event(1L, ts(90), 30.0), Event(2L, ts(104), 40.0))
    clicks.addData(clickRows: _*)
    buys.addData(buyRows: _*)

    val l = clicks.toDF().select(col("userId"), col("ts").as("c_ts"))
    val r = buys.toDF().select(col("userId").as("userId"), col("ts").as("b_ts"),
      col("value").as("b_v"))
    // buys within [click-15m, click+30m] per user
    val joined = StreamJoins.intervalJoin(l, r, "userId", "c_ts", "b_ts",
      "15 minutes", "30 minutes", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_range")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      clicks.addData(Event(8L, ts(600), 0.0)); buys.addData(Event(9L, ts(600), 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val batch = clickRows.toDF().select(col("userId"), col("ts").as("c_ts"))
      .join(buyRows.toDF().select(col("userId").as("rk"), col("ts").as("b_ts"),
          col("value").as("b_v")),
        col("userId") === col("rk") &&
          col("b_ts") >= col("c_ts") - expr("INTERVAL 15 minutes") &&
          col("b_ts") <= col("c_ts") + expr("INTERVAL 30 minutes"))
      .drop("rk")
    // click@40 catches buys@30,60 (not 90); click@100 catches buy@104
    assert(sortedRows(spark.table("ss_range")) == sortedRows(batch))
    assert(spark.table("ss_range").count() == 3)
  }

  test("StreamDedup suppresses replays and key-dups within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    // exact replay dedup: same (userId, ts) delivered twice across batches
    val in1 = MemoryStream[Event]
    val d1 = StreamDedup.dedup(in1.toDF(), Seq("userId"), "ts", "1 hour")
    val q1 = d1.writeStream.format("memory").queryName("dedup_replay")
      .outputMode("append").start()
    try {
      in1.addData(Event(1L, ts(0), 1.0), Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0))
      q1.processAllAvailable()
      in1.addData(Event(1L, ts(0), 1.0)) // replay in a later batch
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.table("dedup_replay").count() == 2) // (1,ts0) once + (1,ts5)

    // key-only dedup within watermark: same content hash, new timestamps
    val in2 = MemoryStream[Event]
    val d2 = StreamDedup.dedupWithinWatermark(in2.toDF(), Seq("userId"), "ts", "1 hour")
    val q2 = d2.writeStream.format("memory").queryName("dedup_key")
      .outputMode("append").start()
    try {
      in2.addData(Event(1L, ts(0), 1.0), Event(1L, ts(10), 9.0), Event(2L, ts(3), 2.0))
      q2.processAllAvailable()
      in2.addData(Event(1L, ts(20), 9.9)) // same key, still within horizon
      q2.processAllAvailable()
    } finally q2.stop()
    val byUser = spark.table("dedup_key").groupBy("userId").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byUser == Map(1L -> 1L, 2L -> 1L))
  }

  test("text operators run unchanged on a stream (quality/token counts match batch)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val texts = Seq("the quick brown fox jumps over the lazy dog again and again",
      "short", "Der schnelle braune Fuchs springt hier wieder und wieder heute")
    input.addData(texts: _*)
    val transform = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("value"),
      graft.functions.TextFunctions.qualityStruct(col("value")).getField("n_tokens").as("n_tokens"),
      graft.functions.TextFunctions.tokenCounts(col("value")).getField("n_bpe_est").as("bpe"))
    val q = transform(input.toDF()).writeStream.format("memory")
      .queryName("stream_text").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(sortedRows(spark.table("stream_text")) == sortedRows(transform(texts.toDF("value"))))
  }

  test("file-based readStream → windowed agg → parquet writeStream (end-to-end)") {
    val src = "/tmp/graft_test/stream_src"
    val dst = "/tmp/graft_test/stream_dst"
    val ckp = "/tmp/graft_test/stream_ckp"
    Seq(src, dst, ckp).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val events = Seq(Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0), Event(2L, ts(70), 4.0))
    events.toDF().write.parquet(src)

    val stream = spark.readStream.schema(events.toDF().schema).parquet(src)
    val agg = Windows.fixedGroups(stream, "ts", "1 hour", "10 minutes")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("window.start").as("w"), col("n"), col("sum_v"))
    val q = agg.writeStream.format("parquet")
      .option("path", dst).option("checkpointLocation", ckp)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    // Append mode only emits windows the watermark has closed: the
    // hour-0 window closes once the minute-70 event advances the
    // watermark past 60+10 minutes; the last window stays open.
    val out = spark.read.parquet(dst)
    assert(sortedRows(out) == sortedRows(
      events.toDF().filter(col("ts") < ts(60)).groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .select(col("window.start").as("w"), col("n"), col("sum_v"))))
  }

  test("a stateful stream stopped after 2 micro-batches and restarted from its checkpoint " +
    "writes the rows of an uninterrupted run") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_restart").toFile
    try {
      val (data, sentinels) = EventStream.files(spark, sf, new java.io.File(root, "in"), 5)
      def run(tag: String, landings: Seq[Seq[java.io.File]]): Seq[String] = {
        val src = new java.io.File(root, s"$tag/src")
        val out = new java.io.File(root, s"$tag/out")
        val ckp = new java.io.File(root, s"$tag/ckp")
        val batches = landings.map { fs =>
          EventStream.land(fs, src)
          EventStream.run(spark, src, ckp, _.format("parquet").option("path", out.getPath))
            .recentProgress.count(_.numInputRows > 0)
        }
        // one file per trigger, and a restart reads only the new files
        assert(batches == landings.map(_.size))
        sortedRows(spark.read.parquet(out.getPath))
      }
      val whole = run("whole", Seq(data ++ sentinels))
      val restarted = run("restarted", Seq(data.take(2), data.drop(2) ++ sentinels))
      assert(whole.nonEmpty)
      assert(restarted == whole)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("Sessionize batch mode (emitOpen) matches declarative sessionization") {
    val ev = graft.Tables.normalizeTs(spark.read.parquet(s"$sf/events.parquet"))
      .select(col("user_id").as("userId"), col("ts"), col("value")).as[Event]
    val stateful = Sessionize.sessions(ev, gapSec = 1800L, emitOpen = true)
      .toDF().select(col("userId"), col("sessStart"), col("nEvents"))
    // declarative lag+cumsum sessionization (the q_window_session shape)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("userId")).orderBy(col("ts"))
    val declarative = ev.toDF()
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("userId"), col("sess_id"))
      .agg(min(col("ts")).as("sessStart"), count(lit(1)).as("nEvents"))
      .select(col("userId"), col("sessStart"), col("nEvents"))
    assert(sortedRows(stateful) == sortedRows(declarative))
  }

  test("StreamSinks write per-batch shards readable by the batch readers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "alpha"), (2L, "beta"))
    val dir = java.nio.file.Files.createTempDirectory("graft_streamsink").toFile
    dir.deleteOnExit()
    val ckp = new java.io.File(dir, "ckp").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath

    val q = StreamSinks.toTfExample(input.toDF().toDF("id", "name"), out)
      .option("checkpointLocation", ckp)
      .start()
    try q.processAllAvailable() finally q.stop()
    // second micro-batch lands in its own batch dir
    input.addData((3L, "gamma"))
    val q2 = StreamSinks.toTfExample(input.toDF().toDF("id", "name"), out)
      .option("checkpointLocation", ckp)
      .start()
    try q2.processAllAvailable() finally q2.stop()

    val batchDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-"))
    assert(batchDirs.length == 2, s"expected 2 batch dirs, got ${batchDirs.map(_.getName).toSeq}")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val all = batchDirs.flatMap(d =>
      graft.sources.TfExample.read(spark, d.getAbsolutePath, schema).collect())
    assert(all.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
  }

  test("StreamSinks.toProtobuf shards parse back through the proto reader") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "alpha"), (2L, "beta"))
    val dir = java.nio.file.Files.createTempDirectory("graft_protosink").toFile
    dir.deleteOnExit()
    val ckp = new java.io.File(dir, "ckp").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath
    val q = StreamSinks.toProtobuf(input.toDF().toDF("id", "name"), out)
      .option("checkpointLocation", ckp)
      .start()
    try q.processAllAvailable() finally q.stop()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val batchDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-"))
    val all = batchDirs.flatMap(d =>
      graft.sources.Protobuf.read(spark, d.getAbsolutePath, schema).collect())
    assert(all.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "alpha"), (2L, "beta")))
  }

  /** Runs `sink` over two micro-batches of (id, name) rows — ids 1 and
    * 2, then 3 — and hands `check` the output dir and a restart of the
    * same query (same stream, same checkpoint); cleans up after.
    */
  private def twoBatches(tag: String)(
      sink: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])(
      check: (java.io.File, () => Unit) => Unit): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory(tag).toFile
    try {
      val out = new java.io.File(dir, "out")
      val input = MemoryStream[(Long, String)]
      def start() = sink(input.toDF().toDF("id", "name"), out.getPath)
        .option("checkpointLocation", new java.io.File(dir, "ckp").getPath).start()
      input.addData((1L, "alpha"), (2L, "beta"))
      val q = start()
      try {
        q.processAllAvailable()
        input.addData((3L, "gamma"))
        q.processAllAvailable()
      } finally q.stop()
      assert(out.list().filter(_.startsWith("batch-")).sorted.toSeq ==
        Seq("batch-00000", "batch-00001"))
      check(out, () => {
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      })
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("StreamSinks.toTfRecord shards read back through TfRecord.read") {
    twoBatches("graft_tfrecordsink") { (df, out) =>
      StreamSinks.toTfRecord(
        df.select(encode(concat_ws(":", col("id"), col("name")), "UTF-8").as("value")), out)
    } { (out, _) =>
      val back = Seq("batch-00000", "batch-00001").flatMap { b =>
        graft.sources.TfRecord.read(spark, s"$out/$b").select("value").collect()
          .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8"))
      }
      assert(back.sorted == Seq("1:alpha", "2:beta", "3:gamma"))
    }
  }

  test("StreamSinks.toAvro shards read back through Avro.read") {
    twoBatches("graft_avrosink")(StreamSinks.toAvro) { (out, _) =>
      val back = Seq("batch-00000", "batch-00001").map { b =>
        graft.sources.Avro.read(spark, s"$out/$b").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      }
      assert(back == Seq(Seq((1L, "alpha"), (2L, "beta")), Seq((3L, "gamma"))))
    }
  }

  test("StreamSinks.toDynamicProtobuf destination shards read back through Protobuf.read") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    twoBatches("graft_dynprotosink") { (df, out) =>
      StreamSinks.toDynamicProtobuf(
        df.withColumn("dest", when(col("id") % 2 === 0, "even").otherwise("odd")), out, "dest")
    } { (out, _) =>
      val back: Seq[(String, String, Long, String)] = for {
        b <- Seq("batch-00000", "batch-00001")
        d <- new java.io.File(out, b).list().toSeq.filterNot(n => n.startsWith("_") || n.startsWith("."))
        // the dynamic tree stamps its root, not each destination: glob the shards
        r <- graft.sources.Protobuf.read(spark, s"$out/$b/$d/part-*", schema).collect().toSeq
      } yield (b, d, r.getLong(0), r.getString(1))
      assert(back.sorted == Seq(
        ("batch-00000", "even", 2L, "beta"), ("batch-00000", "odd", 1L, "alpha"),
        ("batch-00001", "odd", 3L, "gamma")))
    }
  }

  test("a micro-batch replayed after a restart rewrites its own batch dir and nothing else") {
    // the idempotent-sink half of Structured Streaming's exactly-once
    // contract (Armbrust et al., SIGMOD 2018): batch 1 ran but its
    // commit is lost, so the restart replays it from the offset log
    twoBatches("graft_stream_replay")(StreamSinks.toAvro) { (out, restart) =>
      def files(b: String) = new java.io.File(out, b).listFiles().sortBy(_.getName).toSeq
        .map(f => (f.getName, f.lastModified(), java.nio.file.Files.readAllBytes(f.toPath).toSeq))
      def rows(b: String) = sortedRows(graft.sources.Avro.read(spark, s"$out/$b"))
      val (batch0, batch1, rows1) = (files("batch-00000"), files("batch-00001"), rows("batch-00001"))
      val commits = new java.io.File(out.getParentFile, "ckp/commits")
      assert(new java.io.File(commits, "1").delete())
      new java.io.File(commits, ".1.crc").delete()
      Thread.sleep(20) // a rewrite must show in the millisecond mtimes
      restart()
      assert(new java.io.File(commits, "1").exists(), "the restart did not commit batch 1")
      assert(files("batch-00001").map(_._2) != batch1.map(_._2), "batch 1 was not replayed")
      assert(rows("batch-00001") == rows1)
      assert(files("batch-00000") == batch0)
      assert(out.list().filter(_.startsWith("batch-")).sorted.toSeq ==
        Seq("batch-00000", "batch-00001"))
    }
  }

  test("streaming tar sink: per-batch shards list and read back intact") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_tar").toString
    val ckp = s"$dir/ckp"
    val input = MemoryStream[(String, String)]
    input.addData(("m1.txt", "first"), ("m2.txt", "second"))
    val frame = input.toDF().toDF("name", "text")
      .select(col("name"), encode(col("text"), "UTF-8").as("value"))
    val q = StreamSinks.toTar(frame, s"$dir/out")
      .option("checkpointLocation", ckp).start()
    try {
      q.processAllAvailable()
      input.addData(("m3.txt", "third"))
      q.processAllAvailable()
    } finally q.stop()
    val batchDirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.startsWith("batch-")).map(_.getAbsolutePath)
    assert(batchDirs.length == 2)
    val back = batchDirs.flatMap(d => graft.sources.Tar.read(spark, d)
      .select("name", "value").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")))
      .toMap
    assert(back == Map("m1.txt" -> "first", "m2.txt" -> "second", "m3.txt" -> "third"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("streaming dynamic Avro sink: two-batch roundtrip; a replayed batch " +
       "overwrites its own dir only") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dynavro").toFile
    val ckp = new java.io.File(dir, "ckp").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath
    val input = MemoryStream[(String, Long, String)]
    input.addData(("t/a", 1L, "alpha"), ("t/b", 2L, "beta"))
    val q = StreamSinks.toDynamicAvro(input.toDF().toDF("dest", "id", "name"), out, "dest")
      .option("checkpointLocation", ckp).start()
    try {
      q.processAllAvailable()
      input.addData(("t/a", 3L, "gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    def gather(): Set[(String, String, Long, String)] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-")).toSet
        .flatMap { (d: java.io.File) =>
          graft.sources.Dynamic.readDynamicAvro(spark, d.getAbsolutePath, schema)
            .collect().map(r => (d.getName, r.getString(0), r.getLong(1), r.getString(2)))
        }
    val expect = Set(
      ("batch-00000", "t/a", 1L, "alpha"), ("batch-00000", "t/b", 2L, "beta"),
      ("batch-00001", "t/a", 3L, "gamma"))
    assert(gather() == expect)
    // replay batch 0 (what foreachBatch does after a failure between
    // write and commit): re-run the SAME batch writer over batch-00000 —
    // it must replace its own dir whole and leave batch-00001 untouched
    val replay = Seq(("t/a", 1L, "alpha"), ("t/b", 2L, "beta")).toDF("dest", "id", "name")
    graft.sources.Dynamic.saveAsDynamicAvro(replay, s"$out/batch-00000", "dest")
    assert(gather() == expect, "replay must be invisible to the committed tree")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("streaming dynamic CSV sink: two-batch roundtrip through readDynamicCsv") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dyncsv").toFile
    val ckp = new java.io.File(dir, "ckp").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath
    val input = MemoryStream[(String, Long, String)]
    input.addData(("d1", 1L, "with,comma"), ("d2", 2L, ""))
    val q = StreamSinks.toDynamicCsv(input.toDF().toDF("dest", "id", "name"), out, "dest")
      .option("checkpointLocation", ckp).start()
    try {
      q.processAllAvailable()
      input.addData(("d1", 3L, null: String))
      q.processAllAvailable()
    } finally q.stop()
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val all = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-")).toSet
      .flatMap { (d: java.io.File) =>
        graft.sources.Dynamic.readDynamicCsv(spark, d.getAbsolutePath, schema)
          .collect().map(r => (d.getName, r.getString(0), r.getLong(1), r.getString(2)))
      }
    // the writer's null-vs-empty distinction survives the stream path too
    assert(all == Set(
      ("batch-00000", "d1", 1L, "with,comma"), ("batch-00000", "d2", 2L, ""),
      ("batch-00001", "d1", 3L, null)))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("streaming dynamic parquet sink: two-batch roundtrip through readDynamicParquet") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dynpq").toFile
    val ckp = new java.io.File(dir, "ckp").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath
    val input = MemoryStream[(String, Long, String)]
    input.addData(("p/x", 10L, "ten"), ("p/y", 20L, "twenty"))
    val q = StreamSinks.toDynamicParquet(input.toDF().toDF("dest", "id", "name"), out, "dest")
      .option("checkpointLocation", ckp).start()
    try {
      q.processAllAvailable()
      input.addData(("p/x", 30L, "thirty"))
      q.processAllAvailable()
    } finally q.stop()
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val all = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-")).toSet
      .flatMap { (d: java.io.File) =>
        graft.sources.Dynamic.readDynamicParquet(spark, d.getAbsolutePath, schema)
          .collect().map(r => (d.getName, r.getString(0), r.getLong(1), r.getString(2)))
      }
    assert(all == Set(
      ("batch-00000", "p/x", 10L, "ten"), ("batch-00000", "p/y", 20L, "twenty"),
      ("batch-00001", "p/x", 30L, "thirty")))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("streaming dynamic tar sink: two-batch roundtrip through readDynamicTar") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dyntar").toFile
    val ckp = new java.io.File(dir, "ckp").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath
    val input = MemoryStream[(String, String, String)]
    input.addData(("w/a", "0001.txt", "alpha"), ("w/b", "0001.txt", "beta"))
    val q = StreamSinks.toDynamicTar(
        input.toDF().toDF("dest", "name", "text")
          .withColumn("value", encode(col("text"), "UTF-8")).drop("text"),
        out, "dest")
      .option("checkpointLocation", ckp).start()
    try {
      q.processAllAvailable()
      input.addData(("w/a", "0002.txt", "gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val all = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-")).toSet
      .flatMap { (d: java.io.File) =>
        graft.sources.Dynamic.readDynamicTar(spark, d.getAbsolutePath)
          .collect().map(r => (d.getName, r.getString(0), r.getString(1),
            new String(r.getAs[Array[Byte]](2), "UTF-8")))
      }
    assert(all == Set(
      ("batch-00000", "w/a", "0001.txt", "alpha"),
      ("batch-00000", "w/b", "0001.txt", "beta"),
      ("batch-00001", "w/a", "0002.txt", "gamma")))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("carryManifest: batch N sizes its fanout from batch N-1's manifest, not a fresh sample") {
    implicit val sqlCtx = spark.sqlContext
    // knobs: target 1000 rows/dest-task, FULL detection sample (so the
    // sampled path's decisions are deterministic), growth 1.2. Batch 0
    // sends 2600 hot rows (sampled: 3 salts); batch 1 sends 900 hot
    // rows — UNDER target, so a fresh sample would NOT spread it, but
    // the carried batch-0 manifest (2600·1.2 = 3120 rows expected)
    // does. The spread of batch 1 is therefore only explainable by the
    // manifest reuse.
    spark.conf.set("spark.graft.dynamic.autoTargetRows", "1000")
    spark.conf.set("spark.graft.dynamic.autoSampleFraction", "1.0")
    spark.conf.set("spark.graft.dynamic.autoMaxSalts", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def run(carry: Boolean): java.io.File = {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_carry").toFile
      val ckp = new java.io.File(dir, "ckp").getAbsolutePath
      val out = new java.io.File(dir, "out").getAbsolutePath
      val input = MemoryStream[(String, String)]
      input.addData((1 to 2600).map(i => ("hot", s"h$i")) ++ Seq(("cold", "c1")))
      val q = StreamSinks.toDynamicText(input.toDF().toDF("dest", "text"),
          out, "dest", "text", fanout = graft.sources.Dynamic.AutoFanout,
          carryManifest = carry)
        .option("checkpointLocation", ckp).start()
      try {
        q.processAllAvailable()
        input.addData((1 to 900).map(i => ("hot", s"g$i")))
        q.processAllAvailable()
      } finally q.stop()
      dir
    }
    try {
      def hotFiles(dir: java.io.File, batch: String): Int =
        new java.io.File(new java.io.File(dir, s"out/$batch"), "hot")
          .listFiles().count(_.getName.startsWith("part-"))
      val carried = run(carry = true)
      assert(hotFiles(carried, "batch-00000") > 1,
        "batch 0 has no prior manifest: it samples, and 2600 > target must spread")
      assert(hotFiles(carried, "batch-00001") > 1,
        "batch 1 is under target — only the carried batch-0 manifest can spread it")
      val fresh = run(carry = false)
      assert(hotFiles(fresh, "batch-00001") == 1,
        "without carryManifest, batch 1's own sample must NOT spread 900 < target")
      // content is mode-independent: every row lands exactly once
      def rows(dir: java.io.File): Seq[String] =
        new java.io.File(dir, "out").listFiles().filter(_.getName.startsWith("batch-"))
          .flatMap(d => graft.sources.Dynamic.readDynamicText(spark, d.getAbsolutePath)
            .collect().map(r => r.getString(0) + "/" + r.getString(1))).toSeq.sorted
      assert(rows(carried) == rows(fresh))
      org.apache.commons.io.FileUtils.deleteQuietly(carried)
      org.apache.commons.io.FileUtils.deleteQuietly(fresh)
    } finally {
      spark.conf.unset("spark.graft.dynamic.autoTargetRows")
      spark.conf.unset("spark.graft.dynamic.autoSampleFraction")
      spark.conf.unset("spark.graft.dynamic.autoMaxSalts")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("StreamMonitor: per-micro-batch expectation counts ride the query") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val monitored = StreamMonitor.withExpectations(input.toDF(), Seq(
      "value_positive" -> (col("value") > 0),
      "user_known" -> (col("userId") < 100L)))
    val q = monitored.writeStream.format("noop").start()
    try {
      input.addData(Event(1L, ts(0), 1.0), Event(2L, ts(1), -3.0), Event(999L, ts(2), 2.0))
      q.processAllAvailable()
      val c1 = StreamMonitor.latestCounts(q)
      assert(c1 == Map("n_rows" -> 3L, "viol_value_positive" -> 1L, "viol_user_known" -> 1L))
      input.addData(Event(3L, ts(3), 5.0))
      q.processAllAvailable()
      val c2 = StreamMonitor.latestCounts(q)
      assert(c2 == Map("n_rows" -> 1L, "viol_value_positive" -> 0L, "viol_user_known" -> 0L))
    } finally q.stop()
    intercept[IllegalArgumentException](
      StreamMonitor.withExpectations(input.toDF(), Nil))
  }

  test("StreamNearDup.againstIndex: streamed micro-batches equal the batch probe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val words = Vector("sun", "moon", "star", "rain", "wind", "snow", "fog")
    def doc(seed: Int): String =
      (0 until 30).map(i => words((seed * 3 + i) % words.size)).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_streamdedup").toFile
    dir.deleteOnExit()
    val idx = new java.io.File(dir, "idx").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath
    val ckp = new java.io.File(dir, "ckp").getAbsolutePath
    val corpus = (1 to 12).map(i => (i.toLong, doc(i)))
    graft.dedup.Dedup.saveMinhashIndex(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx)
    // stream two micro-batches: re-crawls of docs 2 and 7 + a novel doc
    val input = MemoryStream[(Long, String)]
    input.addData((102L, doc(2)))
    val q = StreamNearDup.againstIndex(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, out)
      .option("checkpointLocation", ckp).start()
    try q.processAllAvailable() finally q.stop()
    input.addData((107L, doc(7)), (200L, "quasar " * 30))
    val q2 = StreamNearDup.againstIndex(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, out)
      .option("checkpointLocation", ckp).start()
    try q2.processAllAvailable() finally q2.stop()
    val batchDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-"))
    assert(batchDirs.length == 2, s"expected 2 batch dirs: ${batchDirs.map(_.getName).toSeq}")
    val streamed = batchDirs.flatMap(d => spark.read.parquet(d.getAbsolutePath).collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = graft.dedup.Dedup.minhashNewVsIndex(
        Seq((102L, doc(2)), (107L, doc(7)), (200L, "quasar " * 30))
          .toDF("doc_id", "text"), "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == direct, s"stream != batch: $streamed vs $direct")
    assert(streamed.exists(h => h._1 == 102L && h._2 == 2L && h._3 == 1.0))
    assert(streamed.exists(h => h._1 == 107L && h._2 == 7L && h._3 == 1.0))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
