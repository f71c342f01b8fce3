package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], maxIters: Int = 10): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst", maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find for the brute-force comparison. */
  private def bruteCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label = min vertex in component
    val byRoot = vs.groupBy(find)
    byRoot.values.flatMap(g => { val m = g.min; g.map(_ -> m) }).toMap
  }

  /** Executed plans of the checkpoint actions `body` runs. */
  private def checkpointPlans(body: => Unit): Seq[SparkPlan] =
    graft.util.JobScope.run(spark, "checkpoint plans")(body)._2.actions.collect {
      case (f, qe) if f.toLowerCase.contains("checkpoint") => qe.executedPlan
    }

  /** Every node of an executed plan, through AQE stages and reuse. */
  private def expand(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(expand)
  }

  test("components get canonical min-vertex labels") {
    val m = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 5L -> 5L))
  }

  test("long chain needs diameter iterations; converged flag reports truncation") {
    val chain = (1L until 20L).map(i => (i, i + 1))
    val full = Graph.connectedComponents(chain.toDF("src", "dst"), "src", "dst", 25)
    assert(full.select("component").distinct().count() == 1)
    assert(full.select("converged").head().getBoolean(0))
    val cut = Graph.connectedComponents(chain.toDF("src", "dst"), "src", "dst", 2)
    assert(!cut.select("converged").head().getBoolean(0))
    assert(cut.select("component").distinct().count() > 1)
  }

  test("randomized graphs match a union-find recount") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      assert(cc(edges, maxIters = 60) == bruteCc(edges), s"trial $trial")
    }
  }

  test("null endpoints dropped; repartition-stable") {
    val df = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None))
      .toDF("src", "dst")
    val m = Graph.connectedComponents(df, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L))
    val edges = (1 to 50).map(i => ((i % 10).toLong, (i % 7).toLong))
    val a = cc(edges)
    val b = Graph.connectedComponents(
      edges.toDF("src", "dst").repartition(13), "src", "dst", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  /** Reference power iteration with uniform dangling redistribution. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          d: Double = 0.85): Map[Long, Double] = {
    val e = edges.distinct
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = verts.size.toDouble
    val out = e.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var r = verts.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val dangling = verts.filterNot(out.contains).map(r).sum
      val in = verts.map { v => v -> 0.0 }.toMap ++
        e.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (s, _) => r(s) / out(s).size }.sum
        }
      r = verts.map(v => v -> ((1 - d) / n + d * (in(v) + dangling / n))).toMap
    }
    r
  }

  /** Driver-side peeling for the k-core brute force. */
  private def bruteKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    var changed = true
    while (changed) {
      val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != und.size
      und = next
    }
    und.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      .filter(_._2 >= k)
  }

  test("kCore: triangle+pendant peels to the triangle; matches brute force randomized") {
    // triangle 1-2-3 plus pendant 4 hanging off 1: 2-core = the triangle
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val out = Graph.kCore(tri.toDF("src", "dst"), "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // cascade: a chain hanging off the triangle peels over several rounds
    val chain = tri ++ Seq((4L, 5L), (5L, 6L))
    val out2 = Graph.kCore(chain.toDF("src", "dst"), "src", "dst", k = 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(out2 == Set(1L, 2L, 3L))
    val rnd = new scala.util.Random(17)
    (1 to 2).foreach { trial =>
      val edges = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      for (k <- Seq(2, 3)) {
        val got = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == bruteKCore(edges, k), s"trial $trial k=$k")
      }
    }
  }

  /** Reference synchronous LPA with min-tie for the brute force. */
  private def bruteLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var labels = adj.keys.map(v => v -> v).toMap
    (1 to iters).foreach { _ =>
      labels = adj.map { case (v, ns) =>
        val freq = ns.map(labels).groupBy(identity).map { case (l, xs) => l -> xs.size }
        v -> freq.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    labels
  }

  test("labelPropagation: two cliques joined by a bridge separate; matches brute force") {
    // two triangles bridged by one edge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L),
      (3L, 10L))
    val out = Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == bruteLpa(edges, 4))
    assert(Set(out(1L), out(2L)).size == 1) // triangle 1 agrees internally
    assert(Set(out(10L), out(11L), out(12L)).size == 1)
    val rnd = new scala.util.Random(29)
    (1 to 2).foreach { trial =>
      val es = Seq.fill(120)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      val got = Graph.labelPropagation(es.toDF("src", "dst"), "src", "dst", 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteLpa(es, 3), s"trial $trial")
    }
  }

  test("shortestPaths: hop counts on a chain, bound respected, unreachable absent") {
    // chain 0-1-2-3-4-5, island 9-10
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
    val out = Graph.shortestPaths(edges.toDF("src", "dst"), "src", "dst",
        landmarks = Seq(0L), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // two landmarks: each vertex reports per-landmark distances
    val two = Graph.shortestPaths(edges.toDF("src", "dst"), "src", "dst",
        landmarks = Seq(0L, 5L), maxHops = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(two((3L, 0L)) == 3L && two((3L, 5L)) == 2L)
    assert(!two.contains((9L, 0L)), "island must be absent")
  }

  test("personalizedPageRank: mass conserved, concentrates near the seed") {
    // chain 0 -> 1 -> 2 -> 3, seed at 0: rank decays with distance
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val out = Graph.personalizedPageRank(chain.toDF("src", "dst"), "src", "dst",
        seeds = Seq(0L), iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-9, s"mass not conserved: ${out.values.sum}")
    assert(out(0L) > out(1L) && out(1L) > out(2L) && out(2L) > out(3L),
      s"rank must decay from the seed: $out")
    // non-seed teleport share is zero: a vertex unreachable from the
    // seed scores 0
    val split = chain ++ Seq((8L, 9L))
    val out2 = Graph.personalizedPageRank(split.toDF("src", "dst"), "src", "dst",
        seeds = Seq(0L), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out2(8L) == 0.0 && out2(9L) == 0.0)
  }

  test("personalizedPageRank: a seed absent from the graph fails loudly") {
    val chain = Seq((0L, 1L), (1L, 2L))
    val ex = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(chain.toDF("src", "dst"), "src", "dst",
        seeds = Seq(0L, 77L), iters = 2).collect()
    }
    assert(ex.getMessage.contains("77"), s"message should name the stale seed: ${ex.getMessage}")
  }

  test("hits: star center is the authority, leaves the hubs; sums normalize to 1") {
    // all edges point INTO vertex 0 → 0 is pure authority, leaves pure hubs
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L))
    val out = Graph.hits(star.toDF("src", "dst"), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(0L)._1 == 0.0 && math.abs(out(0L)._2 - 1.0) < 1e-12)
    Seq(1L, 2L, 3L).foreach { v =>
      assert(math.abs(out(v)._1 - 1.0 / 3.0) < 1e-12 && out(v)._2 == 0.0)
    }
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("pageRank matches the reference power iteration; mass conserved") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (5L, 4L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = refPageRank(edges, 15)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, p) => assert(math.abs(p - want(v)) < 1e-9, s"vertex $v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks must sum to 1")
    // the hub (3) outranks the periphery
    assert(got(3L) > got(5L))
  }

  test("pageRank handles dangling sinks and is repartition-stable") {
    // 2 is a pure sink: its mass must recycle, not vanish
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 1L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    val want = refPageRank(edges, 20)
    got.foreach { case (v, p) => assert(math.abs(p - want(v)) < 1e-9) }
    val again = Graph.pageRank(
      edges.toDF("src", "dst").repartition(7), "src", "dst", iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (v, p) => assert(math.abs(again(v) - p) < 1e-12) }
    intercept[IllegalArgumentException](
      Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", damping = 1.0))
  }

  test("triangleCount: K4 has C(3,2)=3 per vertex; path has none; zeros included") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val gotK4 = Graph.triangleCount(k4.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val gotPath = Graph.triangleCount(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPath == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("triangleCount: duplicate/reversed edges and self loops collapse; one triangle") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 1L))
      .toDF("a", "b")
    val got = Graph.triangleCount(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCount: matches brute force on a random graph; repartition-stable") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 300).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.distinct
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val verts = canon.flatMap(e => Seq(e._1, e._2))
    val tris = for {
      Seq(a, b, c) <- verts.toSeq.sorted.combinations(3)
      if canon((a, b)) && canon((b, c)) && canon((a, c))
    } yield Seq(a, b, c)
    val counts = tris.toSeq.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = verts.map(v => v -> counts.getOrElse(v, 0L)).toMap
    val got = Graph.triangleCount(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    val again = Graph.triangleCount(edges.toDF("a", "b").repartition(7), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("pageRank loop never re-shuffles its cached tables (SMJ forced)") {
    // ADVICE r16: loop caches are hash-partitioned at numParts while
    // per-round aggregates come out at spark.sql.shuffle.partitions —
    // if EnsureRequirements aligned the join to the aggregate's count
    // it would re-shuffle the CACHED side every round, contradicting
    // the loop-invariant-cache design. This pins the invariant with
    // broadcast disabled (so the per-round joins actually exercise
    // shuffle alignment): no per-round checkpoint plan may contain an
    // Exchange whose input (through narrow ops) is a cache scan.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // big enough that loopPartitions' 64k-row quantum lets the floor
      // reach the session shuffle count — the band where the caches
      // and the per-round aggregates co-partition by construction
      // (below it, AQE re-shuffles the small caches for parallelism
      // and is right to; see loopPartitions)
      val nEdges = 64 * 1024 * math.max(
        spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val edges = spark.range(0, nEdges)
        .selectExpr("id as src", s"((id * 7 + 1) % $nEdges) as dst")
      // the ranks init + per-round updates are the checkpoint actions;
      // setup counts/cache builds legitimately repartition cache scans.
      // All four (init + 3 rounds) are recorded, so the last round's plan
      // is scanned too; three is the floor the assertion below needs.
      val loop = checkpointPlans {
        Graph.pageRank(edges, "src", "dst", iters = 3)
          .write.format("noop").mode("overwrite").save()
      }
      @annotation.tailrec
      def throughNarrow(p: SparkPlan): SparkPlan = p match {
        case q: QueryStageExec => throughNarrow(q.plan)
        case _: org.apache.spark.sql.execution.ProjectExec |
             _: org.apache.spark.sql.execution.FilterExec |
             _: org.apache.spark.sql.execution.SortExec |
             _: org.apache.spark.sql.execution.WholeStageCodegenExec |
             _: org.apache.spark.sql.execution.InputAdapter |
             _: org.apache.spark.sql.execution.ColumnarToRowExec =>
        throughNarrow(p.children.head)
        case other => other
      }
      assert(loop.size >= 3, s"expected >=3 checkpoint plans, got ${loop.size}")
      val offenders = loop.flatMap(expand).collect {
        case s: ShuffleExchangeLike
          if throughNarrow(s.child).isInstanceOf[InMemoryTableScanExec] => s
      }
      assert(offenders.isEmpty,
        s"loop re-shuffled a cached table:\n${offenders.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("pageRank folds the dangling-mass pass into each round's checkpoint") {
    // r17: the dangling sum is observe()d during the round's own
    // checkpoint and re-enters as a literal — the loop-body plan must
    // carry the CollectMetrics node and must NOT contain the old
    // agg-into-broadcast cross join (BroadcastNestedLoopJoin), which
    // was a full extra pass over the vertex table per iteration.
    // vertex 2 is a dangling sink, so the dangling mass is nonzero
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 1L)).toDF("src", "dst")
    val loop = checkpointPlans { // init + 3 rounds
      val got = Graph.pageRank(edges, "src", "dst", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = refPageRank(Seq((1L, 2L), (3L, 2L), (3L, 1L)), 3)
      got.foreach { case (v, p) => assert(math.abs(p - want(v)) < 1e-12, s"vertex $v") }
    }
    assert(loop.size >= 4, // init + 3 rounds
      s"expected >=4 checkpoint plans, got ${loop.size}")
    val nodes = loop.flatMap(expand)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.CollectMetricsExec]),
      "checkpoint plans must observe the dangling metric inline")
    val crossJoins = nodes.filter(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
    assert(crossJoins.isEmpty,
      s"per-round dangling cross join should be gone:\n${crossJoins.mkString("\n")}")
  }

  test("loops read their per-round scalars without waiting on the listener bus") {
    // a QueryExecutionListener that blocks holds up every later event on
    // the session's listener bus, Observation results included; the
    // fixpoint and the dangling-mass loops must still finish exactly
    val latch = new java.util.concurrent.CountDownLatch(1)
    val blocker = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        latch.await(300, java.util.concurrent.TimeUnit.SECONDS); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(blocker)
    try {
      val chain = (1L until 12L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (5L, 5L))
      assert(cc(chain, maxIters = 15) == bruteCc(chain))
      val edges = Seq((1L, 2L), (3L, 2L), (3L, 1L), (4L, 3L))
      val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = refPageRank(edges, 8)
      assert(got.keySet == want.keySet)
      got.foreach { case (v, p) => assert(math.abs(p - want(v)) < 1e-9, s"vertex $v") }
    } finally {
      latch.countDown()
      spark.listenerManager.unregister(blocker)
    }
  }

  test("no loop leaves a cached frame behind, failure path included") {
    import org.apache.spark.sql.graft.CacheEntries
    val before = CacheEntries(spark)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    Graph.connectedComponents(e, "src", "dst").collect()
    Graph.kCore(e, "src", "dst", k = 2).collect()
    Graph.labelPropagation(e, "src", "dst").collect()
    Graph.pageRank(e, "src", "dst").collect()
    Graph.personalizedPageRank(e, "src", "dst", seeds = Seq(1L)).collect()
    intercept[IllegalArgumentException](
      Graph.personalizedPageRank(e, "src", "dst", seeds = Seq(99L)))
    Graph.shortestPaths(e, "src", "dst", landmarks = Seq(1L)).collect()
    Graph.hits(e, "src", "dst").collect()
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    graft.dedup.Dedup.minhashClustersTransitive(docs, "doc_id", "text").collect()
    val left = CacheEntries(spark) - before
    assert(left == 0, s"$left cache entries left behind")
  }

  test("loopPartitions: ~2M rows/partition with a parallelism floor, monotonic, capped") {
    val par = math.max(spark.sparkContext.defaultParallelism.toLong,
      spark.conf.get("spark.sql.shuffle.partitions").toLong)
    // the floor never splits below 64k rows/partition nor above
    // max(defaultParallelism, shuffle.partitions); size term is
    // ceil(rows / 2M)
    def want(rows: Long): Int = {
      val bySize = (rows + 2000000L - 1) / 2000000L
      val byPar = math.min(par, rows / 65536L)
      math.max(1L, math.min(math.max(bySize, byPar), 1L << 20)).toInt
    }
    assert(Fixpoint.loopPartitions(0L) == 1)
    assert(Fixpoint.loopPartitions(1L) == 1)
    assert(Fixpoint.loopPartitions(65535L) == 1) // under one floor quantum
    // sf0.1-class graph: parallelism floor active, bounded by 64k rows
    assert(Fixpoint.loopPartitions(600000L) == want(600000L))
    assert(Fixpoint.loopPartitions(600000L) <= par.max(1L))
    assert(Fixpoint.loopPartitions(2000001L) == want(2000001L))
    assert(Fixpoint.loopPartitions(60L * 1000 * 1000) == want(60L * 1000 * 1000)) // sf10
    // at scale the size term dominates: the floor contributes nothing
    val atScale = 1000L * 1000 * 1000 * 10
    assert(Fixpoint.loopPartitions(atScale) == want(atScale))
    assert(want(atScale) == 5000) // pure ceil(rows / 2M), independent of cores
    val big = Fixpoint.loopPartitions(Long.MaxValue / 4)
    assert(big == (1 << 20)) // clamp holds and the Int cast cannot overflow
    val xs = Seq(1L, 65535L, 1999999L, 2000000L, 5000000L, 100000000L)
      .map(Fixpoint.loopPartitions)
    assert(xs == xs.sorted)
  }
}
