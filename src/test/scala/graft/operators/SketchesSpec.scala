package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.{SketchColumns, ThetaOps}

/** Theta-sketch set algebra + the persisted mergeable sketch index.
  *
  * The two contracts the oracle gate can't check directly:
  *  - EXACT mode: while a theta sketch retains fewer than 2^lgK
  *    hashes, estimates and set ops equal the true distinct counts
  *    (what makes q_theta_overlap oracle-exact);
  *  - estimation mode: error stays inside the sketch's own ±Nσ
  *    bounds, and union/extend is order- and partitioning-independent.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")
  private lazy val customer = spark.read.parquet(s"$sf/customer.parquet")

  private def estimateOf(df: org.apache.spark.sql.DataFrame): Double =
    df.select(SketchColumns.thetaEstimate(col("sketch")).as("e")).as[Double].head()

  /** A KLL sketch's bytes as DataSketches reads them. */
  private def kll(bytes: Array[Byte]) =
    org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes))

  private def kllRetainsAll(bytes: Array[Byte]): Boolean = {
    val s = kll(bytes)
    s.getN == s.getNumRetained
  }

  test("theta exact mode: global estimate equals countDistinct exactly") {
    val exact = orders.select(countDistinct(col("o_custkey"))).as[Long].head()
    val est = estimateOf(Sketches.thetaSketches(orders, "o_custkey", Seq.empty, lgK = 18))
    assert(est == exact.toDouble, s"exact-mode theta must be exact: est=$est exact=$exact")
  }

  test("theta exact mode: per-group estimates equal countDistinct, any partitioning") {
    val exact = orders.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("e"))
      .as[(String, Long)].collect().toMap
    for (parts <- Seq(1, 7)) {
      val got = Sketches.withEstimate(
          Sketches.thetaSketches(orders.repartition(parts), "o_custkey",
            Seq("o_orderpriority"), lgK = 18), "theta")
        .select(col("o_orderpriority"), col("distinct_est"))
        .as[(String, Double)].collect().toMap
      assert(got.keySet == exact.keySet)
      got.foreach { case (k, e) =>
        assert(e == exact(k).toDouble, s"parts=$parts key=$k est=$e exact=${exact(k)}")
      }
    }
  }

  test("theta set algebra is exact on a constructed overlap") {
    // A = [0, 3000), B = [2000, 6000): |A∩B| = 1000, |A∪B| = 6000
    val a = spark.range(0, 3000).toDF("v")
    val b = spark.range(2000, 6000).toDF("v")
    val row = Sketches.thetaSetEstimates(
        Sketches.thetaSketches(a, "v", Seq.empty, lgK = 14),
        Sketches.thetaSketches(b, "v", Seq.empty, lgK = 14), Seq.empty)
      .select(col("est_a"), col("est_b"), col("est_union"),
        col("est_intersection"), col("est_a_only"), col("est_b_only"))
      .as[(Double, Double, Double, Double, Double, Double)].head()
    assert(row == ((3000.0, 4000.0, 6000.0, 1000.0, 2000.0, 3000.0)))
  }

  test("overlap() reports exact jaccard/containment in exact mode") {
    val a = spark.range(0, 3000).toDF("v")
    val b = spark.range(2000, 6000).toDF("v")
    val (j, c) = Sketches.overlap(a, b, "v", lgK = 14)
      .select(col("jaccard"), col("containment_b_in_a")).as[(Double, Double)].head()
    assert(j == 1000.0 / 6000.0 && c == 1000.0 / 4000.0, s"jaccard=$j containment=$c")
  }

  test("estimation mode: estimate within the sketch's own ±3σ bounds") {
    val n = 20000L
    val df = spark.range(0, n).toDF("v")
    val bytes = Sketches.thetaSketches(df, "v", Seq.empty, lgK = 4)
      .select(col("sketch")).as[Array[Byte]].head()
    val est = ThetaOps.estimate(bytes)
    val lo = ThetaOps.bound(bytes, 3, upper = false)
    val hi = ThetaOps.bound(bytes, 3, upper = true)
    assert(est != n.toDouble, "lgK=4 over 20k distincts must be estimating, not exact")
    assert(lo <= n && n <= hi, s"true $n outside [$lo, $hi] (est $est)")
  }

  test("estimation mode: union is partitioning-independent") {
    val df = spark.range(0, 20000).toDF("v")
    val e1 = estimateOf(Sketches.thetaSketches(df.repartition(1), "v", Seq.empty, lgK = 6))
    val e8 = estimateOf(Sketches.thetaSketches(df.repartition(8), "v", Seq.empty, lgK = 6))
    // theta union keeps the k smallest hashes under min-theta — a set
    // property, not an order property
    assert(e1 == e8, s"repartition changed the theta estimate: $e1 vs $e8")
  }

  test("null inputs are skipped; all-null and empty relations sketch to 0") {
    val mixed = Seq(Some(1L), None, Some(2L), Some(1L)).toDF("v")
    assert(estimateOf(Sketches.thetaSketches(mixed, "v", Seq.empty, lgK = 10)) == 2.0)
    val allNull = Seq[Option[Long]](None, None).toDF("v")
    assert(estimateOf(Sketches.thetaSketches(allNull, "v", Seq.empty, lgK = 10)) == 0.0)
    val empty = spark.range(0).toDF("v")
    assert(estimateOf(Sketches.thetaSketches(empty, "v", Seq.empty, lgK = 10)) == 0.0)
  }

  test("ThetaCombine treats a null side as the empty set") {
    val s = Sketches.thetaSketches(spark.range(0, 100).toDF("v"), "v", Seq.empty, lgK = 10)
      .select(col("sketch")).as[Array[Byte]].head()
    val one = Seq((Option(s), Option.empty[Array[Byte]])).toDF("a", "b")
    val (u, i, d1, d2) = one.select(
        SketchColumns.thetaEstimate(SketchColumns.thetaUnion(col("a"), col("b"))).as("u"),
        SketchColumns.thetaEstimate(SketchColumns.thetaIntersect(col("a"), col("b"))).as("i"),
        SketchColumns.thetaEstimate(SketchColumns.thetaANotB(col("a"), col("b"))).as("d1"),
        SketchColumns.thetaEstimate(SketchColumns.thetaANotB(col("b"), col("a"))).as("d2"))
      .as[(Double, Double, Double, Double)].head()
    assert((u, i, d1, d2) == ((100.0, 0.0, 100.0, 0.0)))
  }

  test("missing group in one table counts as empty (full-outer semantics)") {
    val a = Seq((1L, "g1"), (2L, "g1"), (3L, "g2")).toDF("v", "g")
    val b = Seq((2L, "g1"), (9L, "g3")).toDF("v", "g")
    val rows = Sketches.thetaSetEstimates(
        Sketches.thetaSketches(a, "v", Seq("g"), lgK = 10),
        Sketches.thetaSketches(b, "v", Seq("g"), lgK = 10), Seq("g"))
      .select(col("g"), col("est_a"), col("est_b"), col("est_intersection"))
      .as[(String, Double, Double, Double)].collect()
      .map { case (g, ea, eb, ei) => g -> ((ea, eb, ei)) }.toMap
    assert(rows("g1") == ((2.0, 1.0, 1.0)))
    assert(rows("g2") == ((1.0, 0.0, 0.0)))
    assert(rows("g3") == ((0.0, 1.0, 0.0)))
  }

  test("grouped theta build partial-aggregates: one exchange, object hash agg") {
    val plan = Sketches.thetaSketches(orders, "o_custkey", Seq("o_orderpriority"), lgK = 14)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"grouped sketch build should shuffle exactly once:\n${plan.take(800)}")
  }

  test("SQL registration: the theta algebra is reachable from spark.sql") {
    orders.createOrReplaceTempView("sk_orders")
    val est = spark.sql(
      """SELECT graft_theta_estimate(graft_theta_sketch_agg(o_custkey, 18)) AS e
        |FROM sk_orders""".stripMargin).as[Double].head()
    val exact = orders.select(countDistinct(col("o_custkey"))).as[Long].head()
    assert(est == exact.toDouble)
  }

  // ---------------------------------------------------------------
  // persisted index

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_sketch_spec").toString

  test("hll index: save → params roundtrip, estimates within 5% of exact") {
    val base = tmpDir()
    Sketches.saveIndex(customer, "c_custkey", Seq("c_mktsegment"),
      s"$base/idx", kind = "hll", lgK = 14)
    val p = Sketches.loadIndexParams(spark, s"$base/idx")
    assert(p == Sketches.SketchIndexParams("hll", 14, "c_custkey", Seq("c_mktsegment")))
    val exact = customer.groupBy("c_mktsegment")
      .agg(countDistinct(col("c_custkey")).as("e")).as[(String, Long)].collect().toMap
    val got = Sketches.withEstimate(Sketches.loadIndex(spark, s"$base/idx"), "hll")
      .select(col("c_mktsegment"), col("distinct_est")).as[(String, Double)].collect().toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (k, e) =>
      assert(math.abs(e - exact(k)) / exact(k) < 0.05, s"key=$k est=$e exact=${exact(k)}")
    }
  }

  test("hll extendIndex == from-scratch rebuild; history never re-read") {
    val base = tmpDir()
    val even = customer.filter(col("c_custkey") % 2 === 0)
    val odd = customer.filter(col("c_custkey") % 2 === 1)
    Sketches.saveIndex(even, "c_custkey", Seq("c_mktsegment"),
      s"$base/idx0", kind = "hll", lgK = 12)
    Sketches.extendIndex(odd, s"$base/idx0", s"$base/idx1")
    Sketches.saveIndex(customer, "c_custkey", Seq("c_mktsegment"),
      s"$base/full", kind = "hll", lgK = 12)
    val ext = Sketches.withEstimate(Sketches.loadIndex(spark, s"$base/idx1"), "hll")
      .select(col("c_mktsegment"), col("distinct_est")).as[(String, Double)].collect().toMap
    val full = Sketches.withEstimate(Sketches.loadIndex(spark, s"$base/full"), "hll")
      .select(col("c_mktsegment"), col("distinct_est")).as[(String, Double)].collect().toMap
    assert(ext == full, "register-max union must equal the from-scratch sketch")
  }

  test("theta index: save/extend keeps exact-mode estimates exact") {
    val base = tmpDir()
    val even = customer.filter(col("c_custkey") % 2 === 0)
    val odd = customer.filter(col("c_custkey") % 2 === 1)
    Sketches.saveIndex(even, "c_custkey", Seq("c_mktsegment"),
      s"$base/idx0", kind = "theta", lgK = 16)
    Sketches.extendIndex(odd, s"$base/idx0", s"$base/idx1")
    val exact = customer.groupBy("c_mktsegment")
      .agg(countDistinct(col("c_custkey")).as("e")).as[(String, Long)].collect().toMap
    val got = Sketches.withEstimate(Sketches.loadIndex(spark, s"$base/idx1"), "theta")
      .select(col("c_mktsegment"), col("distinct_est")).as[(String, Double)].collect().toMap
    assert(got.view.mapValues(_.toLong).toMap == exact)
  }

  // ---------------------------------------------------------------
  // frequent-items

  private lazy val events = spark.read.parquet(s"$sf/events.parquet")

  test("freq exact mode: one-pass heavy hitters equal groupBy-HAVING, any partitioning") {
    val exact = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 20).as[(Long, Long)].collect().toMap
    for (parts <- Seq(1, 7)) {
      val got = Sketches.frequentItems(
          events.repartition(parts).select(col("user_id")), "user_id", Seq.empty,
          threshold = 20L, maxMapSize = 1 << 12)
        .select(col("item").cast("long"), col("est"), col("lb"), col("ub"))
        .as[(Long, Long, Long, Long)].collect()
      assert(got.map(r => r._1 -> r._2).toMap == exact, s"parts=$parts")
      got.foreach { case (_, est, lb, ub) => assert(lb == est && est == ub,
        "exact-mode bounds must collapse onto the estimate") }
    }
  }

  test("freq string items: per-group event-type counts, exact") {
    val exact = events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val got = Sketches.frequentItems(events, "event_type", Seq.empty,
        threshold = 1L, maxMapSize = 1 << 8)
      .select(col("item"), col("est")).as[(String, Long)].collect().toMap
    assert(got == exact)
  }

  test("freq estimation mode: deterministic bounds hold, NFP ⊆ NFN") {
    // skewed stream: 10 heavy keys × 5000 + 1000 singleton tail keys,
    // forced through a 64-slot map so the tail purges
    val heavy = spark.range(1, 11)
      .selectExpr("explode(sequence(1, 5000)) AS x", "id AS v").select(col("v"))
    val tail = spark.range(100, 1100).toDF("v")
    val sk = Sketches.freqSketches(heavy.union(tail), "v", Seq.empty, maxMapSize = 64)
      .select(col("sketch")).as[Array[Byte]].head()
    val maxErr = graft.expressions.FreqOps.maxError(sk)
    assert(maxErr > 0, "64-slot map over 1010 keys must purge")
    // the guarantees are only meaningful for thresholds above the
    // sketch's own reported error — pick one well above it
    val threshold = 4000L
    assert(maxErr < threshold, s"reported maxError $maxErr defeats the test threshold")
    val items = (nfp: Boolean) => {
      val g = graft.expressions.FreqOps.topItems(sk, threshold, noFalsePositives = nfp)
      (0 until g.numElements()).map { i =>
        val r = g.getStruct(i, 4); (r.getUTF8String(0).toString.toLong,
          r.getLong(1), r.getLong(2), r.getLong(3))
      }
    }
    val nfpItems = items(true); val nfnItems = items(false)
    assert(nfpItems.map(_._1).toSet.subsetOf(nfnItems.map(_._1).toSet))
    // NO_FALSE_NEGATIVES must include every truly-heavy key, and every
    // reported bound interval must contain the true count (5000)
    assert((1L to 10L).toSet.subsetOf(nfnItems.map(_._1).toSet))
    nfnItems.filter(_._1 <= 10).foreach { case (k, _, lb, ub) =>
      assert(lb <= 5000 && 5000 <= ub, s"true count of key $k outside [$lb, $ub]") }
  }

  test("freq nulls are skipped; long/string sketches refuse to merge") {
    val mixed = Seq(Some(1L), None, Some(1L)).toDF("v")
    val got = Sketches.frequentItems(mixed, "v", Seq.empty, 1L, 1 << 4)
      .select(col("item").cast("long"), col("est")).as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L)))
    val sl = Sketches.freqSketches(Seq(1L).toDF("v"), "v", Seq.empty, 1 << 4)
      .select(col("sketch")).as[Array[Byte]].head()
    val ss = Sketches.freqSketches(Seq("a").toDF("v"), "v", Seq.empty, 1 << 4)
      .select(col("sketch")).as[Array[Byte]].head()
    val err = intercept[IllegalArgumentException] {
      graft.expressions.FreqOps.merge(sl, ss)
    }
    assert(err.getMessage.contains("different item types"))
  }

  test("freq index: save/extend == from-scratch in exact mode") {
    val base = tmpDir()
    val even = events.filter(col("event_id") % 2 === 0)
    val odd = events.filter(col("event_id") % 2 === 1)
    Sketches.saveIndex(even, "user_id", Seq("event_type"),
      s"$base/idx0", kind = "freq", lgK = 12)
    Sketches.extendIndex(odd, s"$base/idx0", s"$base/idx1")
    val exact = events.groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 10).as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val got = Sketches.loadIndex(spark, s"$base/idx1")
      .select(col("event_type"), explode(SketchColumns
        .freqTopItems(col("sketch"), 10L)).as("hit"))
      .select(col("event_type"), col("hit.item").cast("long"), col("hit.est"))
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == exact, "extended freq index must equal the exact census")
  }

  test("freq SQL registration: agg + top items reachable from spark.sql") {
    events.createOrReplaceTempView("sk_events")
    val got = spark.sql(
      """SELECT h.item AS item, h.est AS est FROM (
        |  SELECT explode(graft_freq_top_items(
        |    graft_freq_sketch_agg(user_id, 4096), 60)) AS h
        |  FROM sk_events)""".stripMargin)
      .as[(String, Long)].collect().map { case (i, n) => i.toLong -> n }.toMap
    val exact = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 60).as[(Long, Long)].collect().toMap
    assert(got == exact)
  }

  // ---------------------------------------------------------------
  // KLL quantiles

  test("kll exact mode: inclusive quantiles are true order statistics, any partitioning") {
    // 1..1000 with k=2048: never compacts, quantiles exact
    val df = spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS v")
    for (parts <- Seq(1, 7)) {
      val qs = Sketches.withQuantiles(
          Sketches.kllSketches(df.repartition(parts), "v", Seq.empty, k = 2048),
          Seq(0.25, 0.5, 0.9))
        .select(col("p25"), col("p50"), col("p90")).as[(Double, Double, Double)].head()
      assert(qs == ((250.0, 500.0, 900.0)), s"parts=$parts got $qs")
    }
  }

  test("kll extendIndex == full rebuild in exact mode; rank calibration reads the artifact") {
    val base = tmpDir()
    val o = orders.filter(col("o_orderkey") <= 2000)
    Sketches.saveIndex(o.filter(col("o_orderkey") % 2 === 0), "o_totalprice",
      Seq.empty, s"$base/idx0", kind = "kll", lgK = 8192)
    Sketches.extendIndex(o.filter(col("o_orderkey") % 2 === 1),
      s"$base/idx0", s"$base/idx1")
    val merged = Sketches.loadIndex(spark, s"$base/idx1")
    val sk = merged.select(col("sketch")).as[Array[Byte]].head()
    assert(kllRetainsAll(sk), "merged sketch must remain exact")
    // inclusive rank of the true median must be ~0.5 exactly (n even/odd aside)
    val median = Sketches.withQuantiles(merged, Seq(0.5)).select(col("p50")).as[Double].head()
    val n = o.count().toDouble
    val atOrBelow = o.filter(col("o_totalprice") <= median).count().toDouble
    val rank = Sketches.kllRank(o.limit(1).select(lit(1).as("x")), "x", merged, Seq.empty)
    // rank column exists and is in [0,1]; exact value checked against census below
    val got = merged.select(SketchColumns
      .kllRank(col("sketch"), lit(median)).as("r")).as[Double].head()
    assert(got == atOrBelow / n, s"inclusive rank $got != census ${atOrBelow / n}")
    assert(rank.columns.contains("pct_rank"))
  }

  test("kll estimation mode: rank error within the sketch's published bound") {
    val n = 200000
    val df = spark.range(1, n + 1).selectExpr("CAST(id AS DOUBLE) AS v")
    val sk = Sketches.kllSketches(df, "v", Seq.empty, k = 200)
      .select(col("sketch")).as[Array[Byte]].head()
    assert(!kllRetainsAll(sk), "200k values at k=200 must compact")
    val eps = kll(sk).getNormalizedRankError(false)
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val q = Seq(sk).toDF("sketch")
        .select(SketchColumns.kllQuantiles(col("sketch"), Seq(p))(0)).as[Double].head()
      val trueRank = q / n // v's inclusive rank is v/n by construction
      assert(math.abs(trueRank - p) <= 2 * eps,
        s"p=$p got value $q (rank $trueRank), eps=$eps")
    }
  }

  test("kll nulls and NaNs are skipped; empty sketch quantiles are null") {
    val mixed = Seq(Some(1.0), None, Some(Double.NaN), Some(3.0)).toDF("v")
    val qs = Sketches.withQuantiles(
        Sketches.kllSketches(mixed, "v", Seq.empty, k = 64), Seq(0.0, 1.0))
      .select(col("p0"), col("p100")).as[(Double, Double)].head()
    assert(qs == ((1.0, 3.0)))
    val empty = spark.range(0).selectExpr("CAST(id AS DOUBLE) AS v")
    val row = Sketches.withQuantiles(
        Sketches.kllSketches(empty, "v", Seq.empty, k = 64), Seq(0.5))
      .select(col("p50").isNull).as[Boolean].head()
    assert(row, "empty sketch must yield null quantiles, not a sentinel")
    val rank = Sketches.kllRank(Seq(1.0).toDF("x"), "x",
        Sketches.kllSketches(empty, "v", Seq.empty, k = 64), Seq.empty)
      .select(col("pct_rank").isNull).as[Boolean].head()
    assert(rank, "empty sketch must yield a null rank, not an error")
  }

  test("kll SQL registration: agg + quantiles + rank reachable from spark.sql") {
    spark.range(1, 101).selectExpr("CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("sk_kll")
    val (p50, r) = spark.sql(
      """SELECT element_at(graft_kll_quantiles(sk, array(0.5D)), 1) AS p50,
        |       graft_kll_rank(sk, 25.0D) AS r
        |FROM (SELECT graft_kll_sketch_agg(v, 1024) AS sk FROM sk_kll)""".stripMargin)
      .as[(Double, Double)].head()
    assert(p50 == 50.0 && r == 0.25, s"p50=$p50 rank=$r")
  }

  // ---------------------------------------------------------------
  // VarOpt weighted sample

  test("varopt exact mode: the sample IS the input, any partitioning") {
    val o = orders.filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), col("o_totalprice"))
    val expect = o.as[(Long, Double)].collect().sorted.toSeq
    for (parts <- Seq(1, 7)) {
      val got = Sketches.weightedSample(o.repartition(parts),
          "o_orderkey", "o_totalprice", Seq.empty, k = 4096)
        .select(col("item").cast("long"), col("weight"))
        .as[(Long, Double)].collect().sorted.toSeq
      assert(got == expect, s"parts=$parts")
    }
  }

  test("varopt estimation mode: HT weights sum to the exact total; heavy items kept") {
    // 1000 unit-weight items + one 1e6 whale, squeezed through k=32
    val light = spark.range(0, 1000)
      .selectExpr("CAST(id AS STRING) AS item", "CAST(1.0 AS DOUBLE) AS w")
    val whale = Seq(("whale", 1e6)).toDF("item", "w")
    val got = Sketches.weightedSample(light.union(whale), "item", "w", Seq.empty, k = 32)
      .select(col("item"), col("weight")).as[(String, Double)].collect()
    assert(got.length == 32, "estimation mode must retain exactly k items")
    val total = got.map(_._2).sum
    assert(math.abs(total - 1001000.0) / 1001000.0 < 1e-9,
      s"HT weights must sum to the exact input total, got $total")
    val whaleRow = got.find(_._1 == "whale")
    assert(whaleRow.exists(_._2 == 1e6),
      s"an above-threshold item must be kept with its TRUE weight, got $whaleRow")
  }

  test("varopt skips null/zero/negative/NaN weights and null items") {
    val df = Seq(("a", Some(2.0)), ("b", None), ("c", Some(0.0)),
      ("d", Some(-1.0)), ("e", Some(Double.NaN))).toDF("item", "w")
    val got = Sketches.weightedSample(df, "item", "w", Seq.empty, k = 16)
      .select(col("item"), col("weight")).as[(String, Double)].collect().toSeq
    assert(got == Seq(("a", 2.0)))
  }

  test("varopt index: save/extend == full input in exact mode; weightCol guard") {
    val base = tmpDir()
    val o = orders.filter(col("o_orderkey") <= 2000)
    Sketches.saveIndex(o.filter(col("o_orderkey") % 2 === 0), "o_orderkey",
      Seq("o_orderpriority"), s"$base/idx0", kind = "varopt", lgK = 4096,
      weightCol = "o_totalprice")
    val p = Sketches.loadIndexParams(spark, s"$base/idx0")
    assert(p.weightCol == "o_totalprice" && p.kind == "varopt")
    Sketches.extendIndex(o.filter(col("o_orderkey") % 2 === 1),
      s"$base/idx0", s"$base/idx1")
    val got = Sketches.loadIndex(spark, s"$base/idx1")
      .select(col("o_orderpriority"), explode(SketchColumns
        .varoptSamples(col("sketch"))).as("s"))
      .select(col("o_orderpriority"), col("s.item").cast("long"), col("s.weight"))
      .as[(String, Long, Double)].collect().sorted.toSeq
    val expect = o.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(got == expect, "exact-mode extended sample must equal the full input")
    val noWeight = intercept[IllegalArgumentException] {
      Sketches.saveIndex(o, "o_orderkey", Seq.empty, s"$base/bad", "varopt", 64)
    }
    assert(noWeight.getMessage.contains("weightCol"))
  }

  test("varopt SQL registration: agg + samples reachable from spark.sql") {
    orders.filter(col("o_orderkey") <= 500).createOrReplaceTempView("sk_varopt")
    val n = spark.sql(
      """SELECT explode(graft_varopt_samples(
        |  graft_varopt_sketch_agg(CAST(o_orderkey AS STRING), o_totalprice, 4096))) AS s
        |FROM sk_varopt""".stripMargin).count()
    val expect = orders.filter(col("o_orderkey") <= 500).count()
    assert(n == expect)
  }

  // ---------------------------------------------------------------
  // tuple (sum over distinct keys)

  test("tuple exact mode: distinct count and per-distinct-key sum match census, any partitioning") {
    val exact = orders.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n"),
        sum(col("o_totalprice")).as("rev"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, math.round(r._3 * 100))))
      .toMap
    for (parts <- Seq(1, 7)) {
      val got = Sketches.distinctValueEstimates(
          Sketches.tupleSketches(orders.repartition(parts), "o_custkey",
            "o_totalprice", Seq("o_orderpriority"), lgK = 16))
        .select(col("o_orderpriority"), col("distinct_est"), col("value_est"))
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> ((r._2.toLong, math.round(r._3 * 100))))
        .toMap
      assert(got == exact, s"parts=$parts")
    }
  }

  test("tuple: duplicate keys fold into one summary (sum over DISTINCT keys)") {
    // key "a" seen 3 times: distinct 2, value sum still totals all rows
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 4.0), ("b", 10.0)).toDF("k", "v")
    val (n, total) = Sketches.distinctValueEstimates(
        Sketches.tupleSketches(df, "k", "v", Seq.empty, lgK = 10))
      .select(col("distinct_est"), col("value_est")).as[(Double, Double)].head()
    assert(n == 2.0 && total == 17.0)
  }

  test("tuple estimation mode: value estimate unbiased within tolerance") {
    // 100k distinct unit-value keys through lgK=8 (256 nominal)
    val df = spark.range(0, 100000)
      .selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v")
    val (n, total) = Sketches.distinctValueEstimates(
        Sketches.tupleSketches(df, "k", "v", Seq.empty, lgK = 8))
      .select(col("distinct_est"), col("value_est")).as[(Double, Double)].head()
    assert(n != 100000.0, "must be in estimation mode")
    // theta sketches at lgK=8 have ~6.25% relative std error; 4σ gate
    assert(math.abs(n - 100000.0) / 100000.0 < 0.25, s"distinct_est=$n")
    assert(math.abs(total - 100000.0) / 100000.0 < 0.25, s"value_est=$total")
  }

  test("tuple: null keys/values and NaN values are skipped; index save/extend works") {
    val df = Seq((Some(1L), Some(1.0)), (None, Some(5.0)), (Some(2L), None),
      (Some(3L), Some(Double.NaN)), (Some(1L), Some(2.0))).toDF("k", "v")
    val (n, total) = Sketches.distinctValueEstimates(
        Sketches.tupleSketches(df, "k", "v", Seq.empty, lgK = 10))
      .select(col("distinct_est"), col("value_est")).as[(Double, Double)].head()
    assert(n == 1.0 && total == 3.0)

    val base = tmpDir()
    val even = orders.filter(col("o_orderkey") % 2 === 0)
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
    Sketches.saveIndex(even, "o_custkey", Seq("o_orderpriority"), s"$base/idx0",
      kind = "tuple", lgK = 16, weightCol = "o_totalprice")
    Sketches.extendIndex(odd, s"$base/idx0", s"$base/idx1")
    val got = Sketches.distinctValueEstimates(Sketches.loadIndex(spark, s"$base/idx1"))
      .select(col("o_orderpriority"), col("distinct_est"),
        round(col("value_est"), 2)).as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2.toLong, r._3))).toMap
    val exact = orders.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n"),
        round(sum(col("o_totalprice")), 2).as("rev"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == exact, "exact-mode extended tuple index must equal the census")
  }

  test("tuple SQL registration") {
    orders.createOrReplaceTempView("sk_tuple")
    val (n, rev) = spark.sql(
      """SELECT e.distinct_est AS n, e.value_est AS rev FROM (
        |  SELECT graft_tuple_estimates(
        |    graft_tuple_sketch_agg(o_custkey, o_totalprice, 16)) AS e
        |  FROM sk_tuple)""".stripMargin).as[(Double, Double)].head()
    val exact = orders.agg(countDistinct(col("o_custkey")).cast("double"),
      sum(col("o_totalprice"))).as[(Double, Double)].head()
    assert(n == exact._1 && math.abs(rev - exact._2) < 1e-6)
  }

  // ---------------------------------------------------------------
  // streaming

  test("sketch aggregates run on unbounded streams and match the batch sketch") {
    // the incremental-crawl monitoring shape: distinct/heavy-hitter
    // sketches maintained over a stream, identical to the batch
    // answer once all data has arrived
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[Long]
    val values = (1L to 500L) ++ (1L to 100L) // 500 distinct, 1..100 twice
    input.addData(values: _*)
    val agg = input.toDF().toDF("v")
      .agg(
        SketchColumns.thetaAgg(col("v"), 12).as("theta"),
        SketchColumns.freqAgg(col("v"), 1 << 10).as("freq"),
        SketchColumns.kllAgg(col("v"), org.apache.spark.sql.types.LongType, 1024).as("kll"))
    val q = agg.writeStream.format("memory").queryName("sk_stream")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val row = spark.table("sk_stream")
      .select(col("theta"), col("freq"), col("kll"))
      .as[(Array[Byte], Array[Byte], Array[Byte])].head()
    assert(ThetaOps.estimate(row._1) == 500.0)
    val heavy = graft.expressions.FreqOps.topItems(row._2, 2L, noFalsePositives = true)
    assert(heavy.numElements() == 100, "exactly keys 1..100 occur twice")
    assert(kll(row._3).getQuantile(1.0,
      org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE) == 500.0)
  }

  test("index guards: in-place extend, missing sidecar, bad kind are loud") {
    val base = tmpDir()
    Sketches.saveIndex(customer, "c_custkey", Seq.empty, s"$base/idx", "hll", 12)
    val inPlace = intercept[IllegalArgumentException] {
      Sketches.extendIndex(customer, s"$base/idx", s"$base/idx")
    }
    assert(inPlace.getMessage.contains("in place"))
    val notIdx = intercept[IllegalArgumentException] {
      Sketches.loadIndexParams(spark, s"$base/nowhere")
    }
    assert(notIdx.getMessage.contains("not a graft sketch index"))
    val badKind = intercept[IllegalArgumentException] {
      Sketches.saveIndex(customer, "c_custkey", Seq.empty, s"$base/bad", "tdigest", 12)
    }
    assert(badKind.getMessage.contains("unknown sketch kind"))
    // a sidecar naming a kind graft does not know must not extend as
    // some other kind (drop the local FS checksum of the edited file)
    val sidecar = java.nio.file.Paths.get(s"$base/idx/_GRAFT_SKETCH")
    java.nio.file.Files.writeString(sidecar,
      java.nio.file.Files.readString(sidecar).replace("\"hll\"", "\"tdigest\""))
    java.nio.file.Files.deleteIfExists(sidecar.resolveSibling("._GRAFT_SKETCH.crc"))
    val badSidecar = intercept[IllegalArgumentException] {
      Sketches.extendIndex(customer, s"$base/idx", s"$base/idx2")
    }
    assert(badSidecar.getMessage.contains("unknown sketch kind"))
  }

  test("sidecar round-trips any column name; a sidecar without weightCol loads") {
    val base = tmpDir()
    val name = "v\"q"
    val df = Seq((1L, "g1"), (2L, "g1"), (3L, "g2")).toDF(name, "g")
    Sketches.saveIndex(df, name, Seq("g"), s"$base/idx0", kind = "theta", lgK = 10)
    assert(Sketches.loadIndexParams(spark, s"$base/idx0") ==
      Sketches.SketchIndexParams("theta", 10, name, Seq("g")))
    Sketches.extendIndex(Seq((4L, "g2")).toDF(name, "g"), s"$base/idx0", s"$base/idx1")
    val got = Sketches.withEstimate(Sketches.loadIndex(spark, s"$base/idx1"), "theta")
      .select(col("g"), col("distinct_est")).as[(String, Double)].collect().toMap
    assert(got == Map("g1" -> 2.0, "g2" -> 2.0))
    // sidecars written before varopt carry no weightCol key
    val old = java.nio.file.Paths.get(s"$base/old")
    java.nio.file.Files.createDirectories(old)
    java.nio.file.Files.writeString(old.resolve("_GRAFT_SKETCH"),
      """{"kind":"hll","lgK":12,"valueCol":"c_custkey","groupCols":["c_mktsegment"]}""")
    assert(Sketches.loadIndexParams(spark, old.toString) ==
      Sketches.SketchIndexParams("hll", 12, "c_custkey", Seq("c_mktsegment"), ""))
  }

  test("kll index in the DataSketches byte format loads, reads and extends") {
    // sketch bytes straight from KllDoublesSketch.toByteArray and a
    // sidecar in the string-built format indexes were first written in
    val base = tmpDir()
    val s = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(1024)
    (1 to 100).foreach(v => s.update(v.toDouble))
    Seq(("g", s.toByteArray)).toDF("g", "sketch").write.parquet(s"$base/idx0/sketches")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/idx0/_GRAFT_SKETCH"),
      """{"kind":"kll","lgK":1024,"valueCol":"v","weightCol":"","groupCols":["g"]}""")
    val idx = Sketches.loadIndex(spark, s"$base/idx0")
    val (p50, p100) = Sketches.withQuantiles(idx, Seq(0.5, 1.0))
      .select(col("p50"), col("p100")).as[(Double, Double)].head()
    assert((p50, p100) == ((50.0, 100.0)))
    val rank = Sketches.kllRank(Seq(("g", 25.0)).toDF("g", "v"), "v", idx, Seq("g"))
      .select(col("pct_rank")).as[Double].head()
    assert(rank == 0.25)
    Sketches.extendIndex(spark.range(101, 201).selectExpr("'g' AS g", "CAST(id AS DOUBLE) AS v"),
      s"$base/idx0", s"$base/idx1")
    val ext = Sketches.withQuantiles(Sketches.loadIndex(spark, s"$base/idx1"), Seq(0.5, 1.0))
      .select(col("p50"), col("p100")).as[(Double, Double)].head()
    assert(ext == ((100.0, 200.0)))
  }

  test("_GRAFT_SKETCH sidecar format is pinned: its bytes load, a save writes them") {
    val base = tmpDir()
    val df = Seq((1L, "g1", 2.0), (2L, "g2", 1.0)).toDF("v", "g", "w")
    Sketches.saveIndex(df, "v", Seq("g"), s"$base/idx", kind = "varopt", lgK = 6, weightCol = "w")
    val pinned =
      """{"kind":"varopt","lgK":6,"valueCol":"v","weightCol":"w","groupCols":["g"]}"""
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$base/idx/_GRAFT_SKETCH")) ==
      pinned)
    val formatted = "{\n  \"kind\" : \"varopt\",\n  \"lgK\" : 6,\n  \"valueCol\" : \"v\",\n" +
      "  \"weightCol\" : \"w\",\n  \"groupCols\" : [ \"g\" ]\n}\n"
    for ((name, text) <- Seq("pinned" -> pinned, "formatted" -> formatted)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/$name"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/$name/_GRAFT_SKETCH"), text)
      assert(Sketches.loadIndexParams(spark, s"$base/$name") ==
        Sketches.SketchIndexParams("varopt", 6, "v", Seq("g"), "w"), name)
    }
  }
}
