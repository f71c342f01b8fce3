package graft.operators

import graft.SparkSpec
import graft.util.JobScope
import org.apache.spark.sql.functions._

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("gapFill: last-per-bucket downsample, forward fill across empty buckets") {
    val df = Seq(
      ("a", ts(0), 1.0),
      ("a", ts(5), 2.0),   // same bucket as t=0 (step 10): last wins
      ("a", ts(35), 5.0),  // buckets 10, 20 empty → filled with 2.0
      ("b", ts(100), 7.0)  // single observation → single grid row
    ).toDF("k", "t", "v")
    val got = TimeSeries.gapFill(df, "k", "t", Seq("v"), 10L)
      .select(col("k"), unix_seconds(col("t")), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("a", 0L, 2.0), ("a", 10L, 2.0), ("a", 20L, 2.0), ("a", 30L, 5.0),
      ("b", 100L, 7.0)))
  }

  test("gapFill: same-timestamp ties break on the larger value struct (deterministic)") {
    val df = Seq(("a", ts(1), 3.0), ("a", ts(1), 9.0)).toDF("k", "t", "v")
    val got = TimeSeries.gapFill(df, "k", "t", Seq("v"), 10L)
      .select("v").as[Double].collect().toSeq
    assert(got == Seq(9.0))
  }

  test("coalesceIntervals: overlap and abutment merge; gaps split; per-key isolation") {
    val df = Seq(
      ("a", 0L, 10L), ("a", 5L, 12L),   // overlap → [0, 12]
      ("a", 12L, 20L),                  // abuts → extends to [0, 20]
      ("a", 25L, 30L),                  // gap → own group
      ("a", 26L, 27L),                  // contained → same group
      ("b", 0L, 1L)
    ).toDF("k", "s", "e")
    val got = TimeSeries.coalesceIntervals(df, Seq("k"), "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 0L, 20L, 3L), ("a", 25L, 30L, 2L), ("b", 0L, 1L, 1L)))
  }

  test("coalesceIntervals: containment with early long interval; null endpoints dropped") {
    val df = Seq(
      ("a", Some(0L), Some(100L)), ("a", Some(10L), Some(20L)), ("a", Some(50L), Some(150L)),
      ("a", None, Some(5L)), ("a", Some(3L), None)
    ).toDF("k", "s", "e")
    val got = TimeSeries.coalesceIntervals(df, Seq("k"), "s", "e")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0L, 150L, 3L)))
  }

  test("ema: matches the local recursive fold; per-key isolation; repartition-stable") {
    val rnd = new scala.util.Random(7)
    val rows = for {
      k <- 1 to 5; i <- 1 to 40
    } yield (k.toLong, i.toLong, rnd.nextDouble() * 100)
    val df = rows.toDF("k", "t", "v")
    val alpha = 0.3
    def ref(xs: Seq[Double]): Double = xs.tail.foldLeft(xs.head)((a, x) => alpha * x + (1 - alpha) * a)
    val want = rows.groupBy(_._1).map { case (k, rs) =>
      k -> ref(rs.sortBy(_._2).map(_._3))
    }
    val last = TimeSeries.ema(df, "k", "t", "v", alpha)
      .groupBy(col("k")).agg(max(struct(col("t"), col("ema"))).as("l"))
      .select(col("k"), col("l.ema"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    want.foreach { case (k, w) => assert(math.abs(last(k) - w) < 1e-12, s"key $k") }
    // every row carries the running value, not just the last
    val allRows = TimeSeries.ema(df, "k", "t", "v", alpha)
      .filter(col("k") === 1L).orderBy(col("t"))
      .select("ema").as[Double].collect()
    val xs = rows.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val running = xs.tail.scanLeft(xs.head)((a, x) => alpha * x + (1 - alpha) * a)
    allRows.zip(running).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
    // stability under input partitioning
    val again = TimeSeries.ema(df.repartition(13), "k", "t", "v", alpha)
      .groupBy(col("k")).agg(max(struct(col("t"), col("ema"))).as("l"))
      .select(col("k"), col("l.ema"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    last.foreach { case (k, v) => assert(again(k) == v) }
  }

  test("ema: null values dropped; alpha bounds enforced; out column collision rejected") {
    val df = Seq((1L, 1L, Some(2.0)), (1L, 2L, None), (1L, 3L, Some(4.0))).toDF("k", "t", "v")
    val got = TimeSeries.ema(df, "k", "t", "v", 0.5).select("ema").as[Double].collect().toSeq
    assert(got.sorted == Seq(2.0, 3.0)) // null row skipped entirely
    intercept[IllegalArgumentException](TimeSeries.ema(df, "k", "t", "v", 0.0))
    intercept[IllegalArgumentException](TimeSeries.ema(df, "k", "t", "v", 1.5))
    intercept[IllegalArgumentException](
      TimeSeries.ema(df.withColumn("ema", lit(1)), "k", "t", "v", 0.5))
  }

  test("rolling: trailing time-window stats equal brute force, ties framed together") {
    val rnd = new scala.util.Random(23)
    // irregular timestamps incl. exact duplicates (frame peers)
    val rows = for {
      k <- 1L to 4L
      i <- 1 to 40
    } yield (k, (rnd.nextInt(500) * 10).toLong, rnd.nextInt(100).toDouble)
    val df = rows.toDF("k", "t_s", "v")
      .withColumn("ts", timestamp_seconds(col("t_s")))
    val win = 100L
    val got = TimeSeries.rolling(df.repartition(7), "k", "ts", "v", win)
      .select(col("k"), col("t_s"), col("v"), col("roll_n"), col("roll_sum"),
        col("roll_min"), col("roll_max"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)) ->
        (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    for (((k, t, _), (n, s, mn, mx)) <- got) {
      val frame = rows.filter { case (k2, t2, _) => k2 == k && t2 > t - win && t2 <= t }
      assert(n == frame.size.toLong, s"count at ($k,$t)")
      assert(math.abs(s - frame.map(_._3).sum) < 1e-9, s"sum at ($k,$t)")
      assert(mn == frame.map(_._3).min && mx == frame.map(_._3).max)
    }
    intercept[IllegalArgumentException](TimeSeries.rolling(df, "k", "ts", "v", 0L))
  }

  test("rollingChunked equals rolling at every chunk size; hot key spreads") {
    val rnd = new scala.util.Random(41)
    // ultra-hot key 1 (~60% of rows) + 3 cold keys; irregular
    // timestamps including exact duplicates (frame peers)
    val rows = (1 to 1200).map { _ =>
      val k = if (rnd.nextInt(10) < 6) 1L else 2L + rnd.nextInt(3)
      (k, (rnd.nextInt(3000) * 7).toLong, rnd.nextInt(100).toDouble)
    }
    val df = rows.toDF("k", "t_s", "v")
      .withColumn("ts", timestamp_seconds(col("t_s")))
    val win = 150L
    val want = sortedRows(TimeSeries.rolling(df, "k", "ts", "v", win))
    // chunk < window (multi-carry), == window, barely over, >> window,
    // and one chunk so large everything is one chunk (degenerate)
    for (chunk <- Seq(40L, 150L, 151L, 1000L, 1000000L)) {
      val got = TimeSeries.rollingChunked(df.repartition(7), "k", "ts", "v", win, chunk)
      assert(sortedRows(got) == want, s"chunkSec=$chunk diverges from rolling")
    }
    // the straggler bound: at chunkSec=150 the hot key's rows spread
    // over ~140 (key, chunk) window partitions instead of ONE
    val hotChunks = rows.filter(_._1 == 1L).map(_._2 / 150L).distinct.size
    assert(hotChunks > 10, s"fixture regressed: only $hotChunks hot chunks")
    intercept[IllegalArgumentException](
      TimeSeries.rollingChunked(df, "k", "ts", "v", win, 0L))
  }

  /** Rows entering rollingChunked's window stage == records written to
    * the plan's ONE shuffle (the (key, chunk) exchange feeding the
    * window). Counted from the task metrics of `body`'s jobs only, so
    * a concurrent suite sharing the SparkContext can't inflate it.
    */
  private def shuffleRecordsOf(body: => Unit): Long =
    JobScope.run(spark, "rollingChunked cost contract")(body)._2
      .sum(_.shuffleWriteMetrics.recordsWritten)

  test("rollingChunked cost contract: ≤1 carry copy per row at chunkSec == windowSec, " +
      "and the carry filter prunes rows whose tail stays inside the chunk") {
    // chunk == window: a row carries into the next chunk iff its tail
    // crosses the boundary, i.e. t % chunk != 0 — at most ONE copy.
    // Rows pinned exactly on chunk starts (t % 300 == 0) must NOT carry.
    val rows = Seq(
      (1L, 0L), (1L, 10L), (1L, 299L), (1L, 300L), (1L, 450L),
      (2L, 600L), (2L, 601L), (2L, 900L), (2L, 1199L), (2L, 1200L))
    val df = rows.toDF("k", "t_s")
      .withColumn("v", col("t_s").cast("double"))
      .withColumn("ts", timestamp_seconds(col("t_s")))
    val win = 300L
    val expectedCarries = rows.count(_._2 % win != 0) // 5 of the 10
    val records = shuffleRecordsOf {
      TimeSeries.rollingChunked(df, "k", "ts", "v", win, win).collect(); ()
    }
    assert(records == rows.size + expectedCarries,
      s"window input rows: got $records, want ${rows.size} natives + " +
        s"$expectedCarries carries — the ≤1-copy operating-point contract " +
        "(scaladoc: chunkSec >= windowSec ⇒ at most one carry, only for rows " +
        "within windowSec of a chunk end) has drifted")
    // chunkSec = 2×windowSec with every row in the FIRST half of its
    // chunk: no tail reaches a boundary, so ZERO carry rows — the
    // carry filter must prune them all, not just cap replication.
    val firstHalf = Seq((1L, 0L), (1L, 50L), (1L, 299L), (2L, 600L), (2L, 650L))
    val df2 = firstHalf.toDF("k", "t_s")
      .withColumn("v", col("t_s").cast("double"))
      .withColumn("ts", timestamp_seconds(col("t_s")))
    val records2 = shuffleRecordsOf {
      TimeSeries.rollingChunked(df2, "k", "ts", "v", win, 2 * win).collect(); ()
    }
    assert(records2 == firstHalf.size.toLong,
      s"zero-carry corpus shuffled $records2 rows, want ${firstHalf.size} — " +
        "the carry filter no longer prunes non-crossing tails")
  }

  /** Max shuffle records any single task READ inside `body`'s jobs —
    * the straggler signal: a hot key serialized on one window task
    * shows up as one task reading the whole key.
    */
  private def maxTaskShuffleReadOf(body: => Unit): Long =
    JobScope.run(spark, "rollingChunked skew spread")(body)._2.tasks
      .map(_.taskMetrics.shuffleReadMetrics.recordsRead).maxOption.getOrElse(0L)

  test("rollingChunked spreads a hot key across tasks where rolling serializes it " +
      "(execution-level, task shuffle-read metrics)") {
    // one key carrying 75% of the corpus, timestamps over ~67 chunks
    val hotRows = 30000
    val coldRows = 10000
    val win = 600L
    val df = spark.range(0, hotRows + coldRows).select(
        when(col("id") < hotRows, 0L)
          .otherwise(pmod(col("id"), lit(100)) + 1L).as("k"),
        timestamp_seconds(pmod(col("id") * 2654435761L, lit(40000L))).as("ts"),
        (col("id") % 97).cast("double").as("v"))
    // AQE's small-partition coalescing would re-merge this test-sized
    // corpus (a few MB) into one partition and mask the spread; at
    // production scale each (key, chunk) partition exceeds the
    // advisory size and no such merge happens. Pin the mechanism.
    // … and the test harness runs 4 shuffle partitions — at 4, ANY
    // layout's worst task reads ~1/4 of the corpus, drowning the
    // signal. 32 partitions, as the bench/production session sets.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val savedCoalesce = spark.conf.get(coalesceKey)
    val savedParts = spark.conf.get(partsKey)
    spark.conf.set(coalesceKey, "false")
    spark.conf.set(partsKey, "32")
    val (plainMax, chunkedMax) =
      try {
        val p = maxTaskShuffleReadOf {
          TimeSeries.rolling(df, "k", "ts", "v", win)
            .write.format("noop").mode("overwrite").save()
        }
        val c = maxTaskShuffleReadOf {
          TimeSeries.rollingChunked(df, "k", "ts", "v", win, win)
            .write.format("noop").mode("overwrite").save()
        }
        (p, c)
      } finally {
        spark.conf.set(coalesceKey, savedCoalesce)
        spark.conf.set(partsKey, savedParts)
      }
    assert(plainMax >= hotRows,
      s"fixture regressed: plain rolling's worst task read $plainMax rows, " +
        s"expected the whole hot key ($hotRows) in one task")
    assert(chunkedMax <= hotRows / 4,
      s"rollingChunked's worst task read $chunkedMax of $hotRows hot rows — " +
        "the (key, chunk) window key no longer spreads the hot key " +
        "(SkewBench @5M rows measured 6.4x better max-task wall; this pins it)")
  }
}
