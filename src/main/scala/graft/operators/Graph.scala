package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** General graph connectivity over edge lists — the public form of the
  * min-label machinery graft's transitive dedup uses internally
  * (dedup/Dedup.scala minhashClustersTransitive propagates through a
  * vertex–bucket bipartite graph; this operator takes an arbitrary
  * undirected edge list). scio pipelines hand-roll exactly this loop
  * from joins + reduceByKey (reference: scio-core
  * PairSCollectionFunctions.scala building blocks). Every loop here runs
  * on the [[Fixpoint]] kernel: loop-invariant caches built once, one
  * checkpoint per round, per-round scalars observed on the round's own
  * tasks.
  */
object Graph {

  /** Both directions of every non-null edge, deduplicated, as
    * (`__v`, `__n`); self-loops kept only if `selfLoops`.
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String,
                         selfLoops: Boolean): DataFrame = {
    val e0 = edges.select(col(srcCol).as("__v"), col(dstCol).as("__n"))
      .filter(col("__v").isNotNull && col("__n").isNotNull)
    val e = if (selfLoops) e0 else e0.filter(col("__v") =!= col("__n"))
    e.union(e.select(col("__n").as("__v"), col("__v").as("__n"))).distinct()
  }

  /** The undirected adjacency as a loop cache on `__n`: each round then
    * exchanges only the vertex-sized state table, never the edge list.
    */
  private def adjacency(c: Fixpoint.Caches, edges: DataFrame, srcCol: String, dstCol: String,
                        selfLoops: Boolean): DataFrame = {
    val raw = c.base(undirected(edges, srcCol, dstCol, selfLoops))
    val (und, _) = c.sorted(raw, "__n")
    raw.unpersist()
    und
  }

  /** Distinct non-null directed edges as (`__s`, `__d`). */
  private def directed(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
      .distinct()

  /** Connected components by iterative min-label propagation: each
    * vertex's component is the minimum vertex id it can reach —
    * canonical and DETERMINISTIC (unlike hash-partitioned union-find),
    * so results are stable across partitionings and reruns. Returns
    * (vertex, component, converged): `converged` is a frame-constant
    * flag — false means `maxIters` bounded the walk before labels
    * stabilized (components may still be split; the label is then the
    * min within maxIters hops, still deterministic).
    *
    * Scale shape: each iteration is two keyed joins (adjacency ⋈ labels,
    * then labels ⋈ neighbor minimum) + a partial-agg min, with the
    * convergence count observed during the round's own checkpoint — no
    * collect, no driver-side frontier, no separate convergence pass.
    * Iterations needed = graph diameter; `maxIters` bounds cost on
    * adversarial chains (the same contract as the dedup cluster walk).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 10): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    Fixpoint.withCaches { c =>
      val und = adjacency(c, edges, srcCol, dstCol, selfLoops = true)
      val init = und.select(col("__v")).distinct().withColumn("component", col("__v"))
      val (labels, converged) = Fixpoint.iterate(init, maxIters,
          (_, now) => now.getAs[Long](0) == 0L) { (labels, _) =>
        val nbrMin = und
          .join(labels.select(col("__v").as("__n"), col("component").as("__nc")), Seq("__n"))
          .groupBy(col("__v")).agg(min(col("__nc")).as("__nbr"))
        // a label changes iff a strictly smaller neighbor min arrived
        // (null __nbr → no neighbors → unchanged)
        Fixpoint.observe(labels.join(nbrMin, Seq("__v"), "left"),
            sum(when(col("__nbr") < col("component"), 1L).otherwise(0L)).as("__changed"))
          .select(col("__v"),
            least(col("component"), coalesce(col("__nbr"), col("component"))).as("component"))
      }
      labels.select(col("__v").as("vertex"), col("component"),
        lit(converged).as("converged"))
    }
  }

  /** k-core: the maximal subgraph in which every vertex has degree
    * >= k (undirected, self-loops ignored) — the classic density
    * filter behind web-spam/link-farm detection and community
    * seeding. Iterative peeling: drop vertices with degree < k,
    * restrict edges to survivors, repeat to the (unique, order-
    * independent) fixpoint. Returns (vertex, core_degree) for the
    * surviving vertices.
    *
    * Scale shape: each round is one degree aggregation (map-side
    * partial) + two semi joins, the surviving-edge count observed
    * during the round's checkpoint; rounds needed is bounded by the
    * peeling depth (small in practice), `maxIters` bounds adversarial
    * chains and a truncated run errs toward KEEPING vertices (supersets
    * of the core), never dropping core members.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIters: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val edgeCount = count(lit(1)).as("__n")
    val init = Fixpoint.observe(undirected(edges, srcCol, dstCol, selfLoops = false), edgeCount)
    val (und, _) = Fixpoint.iterate(init, maxIters,
        (before, after) => before.getLong(0) == after.getLong(0)) { (und, _) =>
      val keep = und.groupBy(col("__v")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("__v"))
      Fixpoint.observe(und
        .join(keep, Seq("__v"), "left_semi")
        .join(keep.select(col("__v").as("__n")), Seq("__n"), "left_semi"), edgeCount)
    }
    und.groupBy(col("__v").as("vertex")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan
    * et al. 2007), made deterministic: each round every vertex adopts
    * the most frequent label among its neighbors, ties broken by the
    * SMALLEST label — so the result is a pure function of (graph,
    * iters), reproducible across partitionings and engines (the
    * classic async/random-tie LPA is not). Runs exactly `iters`
    * rounds (synchronous LPA can oscillate, so a fixed budget IS the
    * contract, not a truncation). Returns (vertex, community).
    *
    * Scale shape: per round one keyed join (labels → neighbors), a
    * (vertex, label) partial-agg count, and one argmax fold —
    * lexicographic struct max, no window.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Fixpoint.withCaches { c =>
      val und = adjacency(c, edges, srcCol, dstCol, selfLoops = false)
      val init = und.select(col("__v")).distinct().withColumn("__l", col("__v"))
      Fixpoint.iterate(init, iters) { (labels, _) =>
        und
          .join(labels.select(col("__v").as("__n"), col("__l")), Seq("__n"))
          .groupBy(col("__v"), col("__l")).agg(count(lit(1)).as("__c"))
          .groupBy(col("__v"))
          .agg(max(struct(col("__c").as("c"), (-col("__l")).as("negl"))).as("__m"))
          .select(col("__v"), (-col("__m.negl")).as("__l"))
      }._1.select(col("__v").as("vertex"), col("__l").as("community"))
    }
  }

  /** PageRank over a DIRECTED edge list (Brin & Page 1998; the other
    * canonical hand-rolled-on-scio graph loop). Power iteration with
    * damping `d`: rank = (1−d)/N + d·(Σ_in rank/outdeg + dangling/N),
    * dangling mass redistributed uniformly so ranks sum to 1 every
    * iteration. Returns (vertex, rank) after `iters` rounds.
    * Vertices = edge endpoints; isolated vertices that appear in the
    * frame still receive the teleport share. Scale shape: see
    * [[powerIteration]].
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    powerIteration(edges, srcCol, dstCol, iters) { (_, n) =>
      (lit(1.0 / n),
        lit((1.0 - damping) / n) +
          lit(damping) * (coalesce(col("__in"), lit(0.0)) + col("__dm") / n))
    }
  }

  /** PERSONALIZED PageRank: teleport (and dangling mass) return to a
    * uniform distribution over `seeds` instead of all vertices — the
    * related-entities / recommendation variant (ranks measure
    * proximity to the seed set). Same power iteration as
    * [[pageRank]]; ranks still sum to 1 every round.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[Long], iters: Int = 5,
                           damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    powerIteration(edges, srcCol, dstCol, iters) { (vertsDeg, _) =>
      // Fail loudly on seeds absent from the vertex set: an absent seed
      // receives no mass, so every round would sum to < 1 and proximity
      // scores silently skew (bounded driver read: ≤ seeds.size rows).
      val present = vertsDeg.filter(col("__v").isin(seeds: _*))
        .select(col("__v").cast("long")).collect().map(_.getLong(0)).toSet
      val absent = seeds.filterNot(present)
      require(absent.isEmpty,
        s"personalizedPageRank: ${absent.size} seed(s) not in the graph's vertex set: " +
          s"${absent.take(10).mkString(", ")}" +
          (if (absent.size > 10) ", …" else "") +
          " — drop stale ids or fix the seed list")
      val seedMass = when(col("__v").isin(seeds: _*), lit(1.0 / seeds.size))
        .otherwise(lit(0.0))
      (seedMass,
        (lit(1.0 - damping) + lit(damping) * col("__dm")) * seedMass +
          lit(damping) * coalesce(col("__in"), lit(0.0)))
    }
  }

  /** The power iteration [[pageRank]] and [[personalizedPageRank]]
    * share. `ranks(vertsDeg, n)` gives the initial rank and the
    * per-round rank over `__in` (Σ_in rank/outdeg) and `__dm` (the
    * previous round's dangling mass).
    *
    * Scale shape: the vertex table carries its out-degree from ONE
    * exploded partial aggregation (each edge contributes its src with
    * weight 1 and its dst with weight 0; 0 becomes the dangling NULL),
    * and out-degree is folded into the edge list once, so each round
    * exchanges only the vertex-sized ranks table. The dangling mass
    * (rank sum of no-out-edge vertices) is observed during each round's
    * checkpoint and enters the next round as a literal.
    */
  private def powerIteration(edges: DataFrame, srcCol: String, dstCol: String, iters: Int)
                            (ranks: (DataFrame, Double) => (Column, Column)): DataFrame =
    Fixpoint.withCaches { c =>
      val e = c.base(directed(edges, srcCol, dstCol))
      val (vertsDeg, n) = c.sorted(e
        .select(inline(array(
          struct(col("__s").as("__v"), lit(1L).as("__o")),
          struct(col("__d").as("__v"), lit(0L).as("__o")))))
        .groupBy(col("__v")).agg(sum(col("__o")).as("__oc"))
        .select(col("__v"), when(col("__oc") > 0, col("__oc")).as("__deg")), "__v")
      val outDeg = vertsDeg.filter(col("__deg").isNotNull)
        .select(col("__v").as("__s"), col("__deg"))
      val (eDeg, _) = c.sorted(e.join(outDeg, Seq("__s")), "__s")
      e.unpersist()
      val (init, rank) = ranks(vertsDeg, n.toDouble)
      val dmMetric = coalesce(sum(when(col("__deg").isNull, col("rank"))), lit(0.0)).as("__dm")
      Fixpoint.iterate(Fixpoint.observe(vertsDeg.withColumn("rank", init), dmMetric),
          iters) { (ranks, dm) =>
        val contribs = eDeg
          .join(ranks.select(col("__v").as("__s"), col("rank")), Seq("__s"))
          .select(col("__d").as("__v"), (col("rank") / col("__deg")).as("__c"))
          .groupBy(col("__v")).agg(sum(col("__c")).as("__in"))
        Fixpoint.observe(vertsDeg.join(contribs, Seq("__v"), "left")
          .withColumn("__dm", lit(dm.getDouble(0)))
          .select(col("__v"), col("__deg"), rank.as("rank")), dmMetric)
      }._1.select(col("__v").as("vertex"), col("rank"))
    }

  /** Single-source shortest paths (hop counts) from a set of landmark
    * vertices, bounded at `maxHops` — the GraphFrames-style BFS
    * distance table behind reachability/centrality features. Pure
    * integer min-relaxation: dist_{i+1}(v) = min(dist_i(v),
    * 1 + min over in-neighbors dist_i(u)) on the undirected graph, so
    * results are bit-exact everywhere. Returns (vertex, landmark,
    * distance) for every vertex within `maxHops` of a landmark.
    *
    * Scale shape: each round one keyed join + (vertex, landmark)
    * partial-agg min; the frontier table is bounded by vertices ×
    * landmarks (keep the landmark set small, as the feature use cases
    * do).
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    landmarks: Seq[Long], maxHops: Int = 6): DataFrame = {
    require(landmarks.nonEmpty, "shortestPaths needs at least one landmark")
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    Fixpoint.withCaches { c =>
      val und = adjacency(c, edges, srcCol, dstCol, selfLoops = false)
      val init = und.select(col("__v")).distinct()
        .filter(col("__v").isin(landmarks: _*))
        .select(col("__v"), col("__v").as("__lm"), lit(0L).as("__d"))
      Fixpoint.iterate(init, maxHops) { (dist, _) =>
        val relaxed = und
          .join(dist.select(col("__v").as("__n"), col("__lm"), col("__d")), Seq("__n"))
          .select(col("__v"), col("__lm"), (col("__d") + 1L).as("__d"))
        dist.unionByName(relaxed)
          .groupBy(col("__v"), col("__lm")).agg(min(col("__d")).as("__d"))
      }._1.select(col("__v").as("vertex"), col("__lm").as("landmark"),
        col("__d").as("distance"))
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge
    * list: `iters` synchronous rounds of a(v) = Σ_in h, then
    * h(v) = Σ_out a, each L1-NORMALIZED (sum = 1) — L1 instead of the
    * classic L2 so every step is plain sums and one division,
    * deterministic to fp association (consumers round; the gate uses
    * ppm · 4 dp). Returns (vertex, hub, authority); vertices without
    * in-/out-edges score 0 on that side.
    *
    * Scale shape mirrors [[pageRank]]: per half-round one keyed join
    * + destination partial-agg, a 1-row normalizer broadcast, and a
    * checkpoint. The edge list is cached once per join key, so neither
    * half-round re-shuffles or re-sorts edges.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Fixpoint.withCaches { c =>
      val e = c.base(directed(edges, srcCol, dstCol))
      val (verts, n) = c.sorted(
        e.select(col("__s").as("__v")).union(e.select(col("__d").as("__v"))).distinct(), "__v")
      val (eBySrc, _) = c.sorted(e, "__s")
      val (eByDst, _) = c.sorted(e, "__d")
      e.unpersist()
      // one half-round: `score` flows along the edges from their `from`
      // endpoint to their `to` endpoint, then L1-normalizes as `out`
      def half(byKey: DataFrame, scores: DataFrame, from: String, to: String,
               score: String, out: String): DataFrame = {
        val raw = byKey.join(scores.select(col("__v").as(from), col(score)), Seq(from))
          .groupBy(col(to).as("__v")).agg(sum(col(score)).as("__raw"))
        Fixpoint.checkpoint(verts.join(raw, Seq("__v"), "left")
          .crossJoin(broadcast(raw.agg(sum(col("__raw")).as("__norm"))))
          .select(col("__v"), (coalesce(col("__raw"), lit(0.0)) / col("__norm")).as(out)))
      }
      var hubs = Fixpoint.checkpoint(verts.withColumn("h", lit(1.0 / n)))
      var auths = hubs
      (1 to iters).foreach { _ =>
        auths = half(eBySrc, hubs, "__s", "__d", "h", "a")
        hubs = half(eByDst, auths, "__d", "__s", "a", "h")
      }
      hubs.join(auths, Seq("__v"))
        .select(col("__v").as("vertex"), col("h").as("hub"), col("a").as("authority"))
    }
  }

  /** Per-vertex triangle counts over an undirected edge list (self
    * loops and duplicate/reversed edges collapse first). Returns
    * (vertex, triangles) for every vertex of the graph, zeros
    * included; `sum(triangles) / 3` is the global triangle count.
    *
    * Scale shape: the standard degree-ordered wedge algorithm — every
    * edge is oriented from its lower-(degree, id) endpoint to the
    * higher, so wedges enumerate at each triangle's LOWEST-order apex
    * exactly once and a hub vertex of degree d contributes wedges only
    * through neighbors ordered above it (bounding the classic d² hub
    * blowup by the arboricity, Chiba–Nishizeki). Three hash joins +
    * one partial-agg count; nothing collects.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edges: lo < hi, deduped. Scratch frames are
    // eagerly localCheckpoint-ed (not persist-ed): the RESULT is lazy,
    // so a persist/unpersist-in-finally pair would drop the cache
    // before the caller ever executes the plan.
    val canon = edges
      .select(col(srcCol).cast("long").as("__a"), col(dstCol).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull && col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__lo"),
        greatest(col("__a"), col("__b")).as("__hi"))
      .distinct()
      .localCheckpoint(true)
    val degrees = canon.select(col("__lo").as("__v"))
      .union(canon.select(col("__hi").as("__v")))
      .groupBy(col("__v")).agg(count(lit(1)).as("__deg"))
      .localCheckpoint(true)
    // orient each edge from the lower-(deg, id) endpoint u to the
    // higher w; ordering is total, so orientation is acyclic
    val oriented = canon
      .join(degrees.select(col("__v").as("__lo"), col("__deg").as("__dl")), Seq("__lo"))
      .join(degrees.select(col("__v").as("__hi"), col("__deg").as("__dh")), Seq("__hi"))
      .select(
        when(struct(col("__dl"), col("__lo")) < struct(col("__dh"), col("__hi")),
          col("__lo")).otherwise(col("__hi")).as("__u"),
        when(struct(col("__dl"), col("__lo")) < struct(col("__dh"), col("__hi")),
          col("__hi")).otherwise(col("__lo")).as("__w"))
      .localCheckpoint(true)
    // wedges at apex u: unordered neighbor pairs (x, y) both ABOVE u
    // in orientation order, id-canonicalized (x < y) so the closing
    // edge probes the canonical edge set with a plain EQUI-join (an
    // OR-of-orientations condition would force a nested-loop join)
    val e1 = oriented.select(col("__u"), col("__w").as("__x"))
    val e2 = oriented.select(col("__u"), col("__w").as("__y"))
    val wedges = e1.join(e2, Seq("__u")).filter(col("__x") < col("__y"))
    val triangles = wedges.join(canon,
      col("__x") === col("__lo") && col("__y") === col("__hi"))
      .select(col("__u"), col("__x"), col("__y"))
    val perVertex = triangles
      .select(explode(array(col("__u"), col("__x"), col("__y"))).as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("triangles"))
    degrees.select(col("__v"))
      .join(perVertex, Seq("__v"), "left")
      .select(col("__v").as("vertex"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }
}
