package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // small corpus: 1↔2 exact dups, 3 near-dup of 1 (last word changed —
  // exactly one 3-shingle differs, Jaccard 10/12 ≈ 0.83), 4 unrelated,
  // 5 null text, 6 empty text.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (4L, "completely different content about distributed query engines and planners"),
    (5L, null.asInstanceOf[String]),
    (6L, "")
  ).toDF("doc_id", "text")

  test("exact dedup: dup pair collapses, keeper is min id, nulls kept") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.agg(sum("n_copies")).as[Long].head == 6L) // every doc counted
    val dupGroup = out.filter(col("n_copies") === 2).collect()
    // {1,2} as an exact pair, and {null→"", ""} merged by the null contract
    assert(dupGroup.map(_.getAs[Long]("keeper")).sorted.toSeq == Seq(1L, 5L))
  }

  test("exactKeepBest: max-score copy wins, ties break to min id") {
    val d = Seq(
      (1L, "same text", 5.0), (2L, "same text", 9.0), (3L, "same text", 9.0),
      (4L, "other", 1.0)
    ).toDF("doc_id", "text", "score")
    val out = Dedup.exactKeepBest(d, "doc_id", "text", col("score"))
      .collect().map(r => r.getLong(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(2L, 4L)) // score 9 beats 5; tie 2 vs 3 -> min id 2
    assert(out(2L) == ((9.0, 3L)))
    assert(out(4L) == ((1.0, 1L)))
  }

  test("minhashClusters: exact dups share a cluster; every doc assigned") {
    val out = Dedup.minhashClusters(docs, "doc_id", "text")
    val byId = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(byId.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L)) // null/empty not dropped
    assert(byId(1L) == byId(2L))        // exact dup pair
    assert(byId(1L) == byId(3L))        // near-dup (10/12 shingles shared)
    assert(byId(4L) != byId(1L))        // unrelated stays apart
    // keep flag marks exactly the cluster representatives
    val keepers = out.filter(col("keep")).select("id").as[Long].collect().toSet
    assert(keepers == byId.values.toSet)
  }

  test("minhashClustersTransitive merges dup chains into one component") {
    // chain: 10≈11 (last word), 11≈12 (first word) — 10 and 12 differ
    // in two words and may never share a bucket directly.
    val chain = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (12L, "omega beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (13L, "entirely different text about query planners and shuffle exchanges here")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashClustersTransitive(chain, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(out(10L) == 10L && out(11L) == 10L && out(12L) == 10L, s"got $out")
    assert(out(13L) == 13L)
    // no rounds would leave every doc its own cluster: rejected, as
    // every graph loop rejects it
    intercept[IllegalArgumentException](
      Dedup.minhashClustersTransitive(chain, "doc_id", "text", maxIters = 0))
  }

  test("minhashPairs: exact dup pair has jaccard 1.0; candidates verified") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    pairs.get((1L, 3L)).foreach(j => assert(j > 0.7 && j < 1.0))
    assert(!pairs.contains((1L, 4L))) // unrelated docs never become candidates
  }

  test("simhashClusters: exact dups share signature; all docs present") {
    val out = Dedup.simhashClusters(docs, "doc_id", "text")
    val byId = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(byId.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(byId(1L) == byId(2L))
  }

  test("simhashPairs: near-dup within hamming bound, unrelated outside") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // hamming 0
    assert(!pairs.contains((1L, 4L)))
  }

  test("hot-bucket cap bounds LSH candidate blowup on a degenerate corpus") {
    // 1000 identical docs: every band bucket has 1000 members, so an
    // uncapped self-join would emit ~500k candidate pairs per band.
    val degenerate = spark.range(1000).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated across the whole corpus again").as("text"))
    // pairs: all buckets exceed the cap → zero candidates generated
    assert(Dedup.minhashPairs(degenerate, "doc_id", "text", maxBucket = 100).count() == 0L)
    assert(Dedup.simhashPairs(degenerate, "doc_id", "text", maxBucket = 100).count() == 0L)
    // clusters: oversized buckets stop linking; every doc stays its own
    // cluster (the documented routing: exact() handles these)
    val cl = Dedup.minhashClusters(degenerate, "doc_id", "text", maxBucket = 100)
    assert(cl.count() == 1000L)
    assert(cl.filter(col("keep")).count() == 1000L)
    // …and exact content-hash dedup collapses them, skew-free
    assert(Dedup.exact(degenerate, "doc_id", "text").count() == 1L)
  }

  test("cap exclusions surface as graft_cap observe metrics (no silent caps)") {
    import scala.jdk.CollectionConverters._
    val captured = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) =>
          if (k.startsWith("graft_cap_")) captured.put(k, v) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 200 identical docs (every one of their buckets over the cap)
      // plus a small twin pair and unique fillers: the twins survive
      // the cap AND emit a pair, keeping the final result non-empty —
      // otherwise AQE empty-propagation prunes the CollectMetrics node
      // from the final plan (the documented metric caveat).
      val degenerate = spark.range(200).select(col("id").as("doc_id"),
          lit("one boilerplate page duplicated across the entire crawl corpus").as("text"))
        .union(spark.range(2).select((col("id") + 1000).as("doc_id"),
          lit("a small twin document that appears exactly twice in this corpus").as("text")))
        .union(spark.range(8).select((col("id") + 2000).as("doc_id"),
          concat(lit("unique filler number "), col("id"),
            lit(" carrying entirely unrelated vocabulary items")).as("text")))
      Dedup.minhashClusters(degenerate, "doc_id", "text", maxBucket = 50).count()
      Dedup.minhashPairs(degenerate, "doc_id", "text", maxBucket = 50).count()
      Dedup.simhashPairs(degenerate, "doc_id", "text", maxBucket = 50).count()
      // QueryExecutionListener delivery is async
      val deadline = System.currentTimeMillis() + 30000
      while (!Seq("minhash_clusters", "minhash_pairs", "simhash_pairs").forall(op =>
        captured.keySet().asScala.exists(_.contains(op))) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      def metric(op: String): org.apache.spark.sql.Row =
        captured.asScala.collectFirst { case (k, v) if k.contains(op) => v }
          .getOrElse(fail(s"no graft_cap metric for $op; saw ${captured.keySet().asScala}"))
      // the 200 identical docs' bucket rows (200×16 bands) are all over
      // the cap; the 10 distinct docs' 160 rows are not
      val cl = metric("minhash_clusters")
      assert(cl.getAs[Long]("rows_in_capped_buckets") == 3200L)
      assert(cl.getAs[Long]("bucket_rows") == 3360L)
      assert(metric("minhash_pairs").getAs[Long]("rows_in_capped_buckets") > 0L)
      assert(metric("simhash_pairs").getAs[Long]("rows_in_capped_buckets") > 0L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("hot-bucket cap leaves small buckets linking normally") {
    // cap of 2 still admits the {1,2,3}-doc buckets? No: those buckets
    // hold up to 3 members — with maxBucket=2 the near-dup trio can
    // only pair through buckets where exactly 2 of them collide.
    // With the cap at corpus size, behavior is identical to uncapped.
    val capped = Dedup.minhashPairs(docs, "doc_id", "text", maxBucket = 6)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(capped((1L, 2L)) == 1.0)
    assert(!capped.contains((1L, 4L)))
  }

  test("blockedJaccardPairs compares only within a block") {
    val blocked = docs.withColumn("src", when(col("doc_id") <= 3, "s1").otherwise("s2"))
    val pairs = Dedup.blockedJaccardPairs(blocked, "doc_id", "text", "src")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L)))
  }

  test("blockedJaccardPairs hot-block cap samples a degenerate block deterministically") {
    // 1000 docs in ONE block: uncapped this is ~500k pairs; the cap
    // reduces the block to its maxBlock smallest ids before the
    // self-join, so candidates stay bounded at maxBlock·(maxBlock−1)/2
    // while a small healthy block keeps pairing fully.
    val degenerate = spark.range(1000).select(col("id").as("doc_id"),
        lit("the same boilerplate text repeated across the whole corpus again").as("text"),
        lit("hot").as("src"))
      .union(spark.range(2).select((col("id") + 5000).as("doc_id"),
        lit("a small twin document that appears exactly twice right here").as("text"),
        lit("cold").as("src")))
    val pairs = Dedup.blockedJaccardPairs(degenerate, "doc_id", "text", "src", maxBlock = 100)
      .collect()
    val hot = pairs.filter(_.getAs[String]("block") == "hot")
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // exactly the pairs among the 100 smallest ids — bounded AND deterministic
    assert(hot == (for (a <- 0L until 100L; b <- a + 1 until 100L) yield (a, b)).toSet)
    val cold = pairs.filter(_.getAs[String]("block") == "cold")
    assert(cold.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet ==
      Set((5000L, 5001L))) // small healthy block intact
    assert(cold.head.getAs[Double]("jaccard") == 1.0)
  }

  test("blockedContainmentPairs: full subset scores containment 1 while jaccard stays low") {
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs2 = Seq((1L, short, "s"), (2L, long, "s"), (3L, "totally different words here now", "s"))
      .toDF("doc_id", "text", "src")
    val pairs = Dedup.blockedContainmentPairs(docs2, "doc_id", "text", "src")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b")))).toMap
    // every 3-shingle of the short doc appears in the long doc
    assert(pairs((1L, 2L))._1 == 1.0, "short doc fully contained in the long one")
    assert(pairs((1L, 2L))._2 < 0.2, "long doc barely contained in the short one")
    val jac = Dedup.blockedJaccardPairs(docs2, "doc_id", "text", "src")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(jac((1L, 2L)) < 0.2, "jaccard misses the subset duplication containment catches")
    assert(pairs((1L, 3L))._1 == 0.0)
  }

  test("decontaminate flags exactly the docs sharing a k-shingle with the bench set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares "beta gamma delta" with bench
      (2L, "one two three four five six seven"),     // clean
      (3L, "unrelated words entirely different here") // clean
    ).toDF("doc_id", "text")
    val bench = Seq("held out beta gamma delta question").toDF("bench_text")
    val out = Dedup.decontaminate(corpus, "doc_id", "text", bench, "bench_text", k = 3)
    assert(out.count() == 3) // flag, don't drop
    val flagged = out.filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    assert(flagged == Set(1L))
    // shuffled (non-broadcast) path returns the identical flags
    val shuffled = Dedup.decontaminate(corpus, "doc_id", "text", bench, "bench_text",
      k = 3, broadcastBench = false)
    assert(sortedRows(shuffled) == sortedRows(out))
    // a doc shorter than k only matches an equally-short bench text
    val shortCorpus = Seq((9L, "beta gamma")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(shortCorpus, "doc_id", "text", bench, "bench_text", k = 3)
      .filter(col("contaminated")).count() == 0)
    assert(Dedup.decontaminate(shortCorpus, "doc_id", "text",
        Seq("beta gamma").toDF("bench_text"), "bench_text", k = 3)
      .filter(col("contaminated")).count() == 1)
    // collision guard: pre-existing output column is rejected
    intercept[IllegalArgumentException](
      Dedup.decontaminate(corpus.withColumn("contaminated", lit(false)),
        "doc_id", "text", bench, "bench_text", k = 3))
  }

  test("corpusDiff labels added/removed/changed/unchanged per id") {
    val old = Seq((1L, "same"), (2L, "before"), (3L, "gone"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "after"), (5L, "fresh"), (4L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.corpusDiff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", // null and "" hash alike by the null-text contract
      5L -> "added"))
    // duplicate ids in either snapshot would fan the join out into
    // contradictory statuses — rejected loudly
    val dup = Seq((1L, "x"), (1L, "y")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.corpusDiff(old, dup, "doc_id", "text").collect())
    assert(e.getMessage.contains("duplicate"))
  }

  test("dedupLines: duplicated lines survive only in the min-id owner, order kept") {
    val docs = Seq(
      (1L, "alpha\nFOOTER\nbeta"),
      (2L, "gamma\nFOOTER\ndelta"),
      (3L, "FOOTER\nepsilon"),
      (4L, "FOOTER")              // loses its only line -> emptied, still present
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha\nFOOTER\nbeta", 3L, 0L))) // owner keeps it, in place
    assert(out(2L) == (("gamma\ndelta", 3L, 1L)))
    assert(out(3L) == (("epsilon", 2L, 1L)))
    assert(out(4L) == (("", 1L, 1L)))
    // maxOccurrences tolerance: a line on exactly 2 docs survives at max=2
    val pair = Seq((1L, "x\nshared"), (2L, "shared\ny")).toDF("doc_id", "text")
    val lenient = Dedup.dedupLines(pair, "doc_id", "text", maxOccurrences = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lenient(1L) == "x\nshared" && lenient(2L) == "shared\ny")
    // paragraph mode: unit is a LITERAL "\n\n" — single newlines stay
    // inside their paragraph, duplicated paragraphs dedup as units
    val paras = Seq(
      (1L, "first para\nline two\n\nSHARED PARA"),
      (2L, "other text\n\nSHARED PARA")).toDF("doc_id", "text")
    val p = Dedup.dedupLines(paras, "doc_id", "text", unit = "\n\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(p(1L) == "first para\nline two\n\nSHARED PARA")
    assert(p(2L) == "other text")
  }

  test("substringStats: cross-doc and within-doc repeats, overlap-union coverage") {
    val docs = Seq(
      (1L, "a b c d e f"),   // "a b c" shared with doc 2 at pos 0
      (2L, "a b c x y z"),
      (3L, "p q r p q r p"), // within-doc repeat: "p q r" at pos 0 and 3, "q r p" at 1 and 4
      (4L, "u v"),           // shorter than k: no grams
      (5L, "m n o q w t")    // all grams unique
    ).toDF("doc_id", "text")
    val out = Dedup.substringStats(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 1: gram "a b c" (pos 0) duplicated -> covers tokens 0..2 of 6
    assert(out(1L) == ((6L, 1L, 3L, 0.5)))
    assert(out(2L) == ((6L, 1L, 3L, 0.5)))
    // doc 3: dup grams at pos 0,1,3,4 ("p q r" x2, "q r p" x2, and
    // "r p q" at pos 2 is unique) -> coverage union = tokens 0..6 = all 7
    assert(out(3L) == ((7L, 4L, 7L, 1.0)))
    assert(out(4L) == ((2L, 0L, 0L, 0.0))) // below k: present, zeroed
    assert(out(5L) == ((6L, 0L, 0L, 0.0)))
  }

  test("removeDuplicateSpans: first occurrence survives, later spans excised") {
    val docs = Seq(
      (1L, "a b c d e f"),   // "a b c" first here -> doc 1 untouched
      (2L, "a b c x y z"),   // non-first "a b c" -> tokens 0..2 removed
      (3L, "p q r p q r p"), // within-doc repeats: dup occ at pos 3,4 -> [3,7) removed
      (4L, "u v"),           // below k: untouched
      (5L, "m n o q w t")    // all grams unique: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((6L, 0L, "a b c d e f")))
    assert(out(2L) == ((6L, 3L, "x y z")))
    assert(out(3L) == ((7L, 4L, "p q r")))
    assert(out(4L) == ((2L, 0L, "u v")))
    assert(out(5L) == ((6L, 0L, "m n o q w t")))
  }

  test("removeDuplicateSentenceSpans: non-first 3-sentence spans excised, terminators kept") {
    val span = "One two three. Four five! Six seven eight?"
    val docs = Seq(
      (1L, s"$span Unique tail alpha."),         // owns the span
      (2L, s"$span Different tail beta."),       // non-first: span excised
      (3L, "No repeats here. Just two sentences.") // below k=3: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSentenceSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((4L, 0L, s"$span Unique tail alpha.")))
    assert(out(2L) == ((4L, 3L, "Different tail beta.")))
    assert(out(3L) == ((2L, 0L, "No repeats here. Just two sentences.")))
  }

  test("decontaminateSpans: bench-overlapping spans excised everywhere, clean text kept") {
    val bench = Seq("the exact eval question text here").toDF("btext")
    val corpus = Seq(
      // contains the eval 4-gram twice: BOTH occurrences excised
      (1L, "intro words the exact eval question more stuff the exact eval question tail"),
      (2L, "completely clean document with no benchmark overlap at all today")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(corpus, "doc_id", "text", bench, "btext", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 grams matching bench: "the exact eval question" at pos 2 and 8
    // → covered [2,6) ∪ [8,12) → kept: 0,1,6,7,12
    assert(out(1L) == ((13L, 8L, "intro words more stuff tail")))
    assert(out(2L) == ((10L, 0L,
      "completely clean document with no benchmark overlap at all today")))
  }

  test("removeDuplicateSpans: randomized corpus matches a brute-force recompute") {
    val rnd = new scala.util.Random(11)
    val k = 4
    val corpus = (1L to 60L).map { id =>
      id -> (0 until (3 + rnd.nextInt(20))).map(_ => s"w${rnd.nextInt(6)}").mkString(" ")
    }
    // reference implementation: string grams, global (id, pos) ranking
    val occ = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
    corpus.foreach { case (id, text) =>
      val t = text.split("\\s+")
      if (t.length >= k)
        (0 to t.length - k).foreach { p =>
          val g = t.slice(p, p + k).mkString(" ")
          occ(g) = (id, p) :: occ.getOrElse(g, Nil)
        }
    }
    val expected = corpus.map { case (id, text) =>
      val t = text.split("\\s+")
      val removed = Array.fill(t.length)(false)
      occ.values.filter(_.size > 1).foreach { os =>
        val first = os.minBy(identity)
        os.filter(_ != first).foreach { case (oid, p) =>
          if (oid == id) (p until math.min(p + k, t.length)).foreach(removed(_) = true)
        }
      }
      id -> ((t.length.toLong, removed.count(identity).toLong,
        t.zipWithIndex.collect { case (w, i) if !removed(i) => w }.mkString(" ")))
    }.toMap
    val out = Dedup.removeDuplicateSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out == expected)
  }

  test("substringStats: randomized corpus matches a brute-force recount") {
    // small alphabet forces plenty of duplicated grams, including the
    // overlapping-interval unions the fold must merge correctly
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("aa", "bb", "cc", "dd")
    val k = 4
    val corpus = (1L to 40L).map { id =>
      val n = 2 + rnd.nextInt(20)
      (id, Vector.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    }
    // brute force: global gram multiset → dup set → per-doc coverage
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toVector }.toMap
    val allGrams = toks.toSeq.flatMap { case (id, ts) =>
      ts.sliding(k).zipWithIndex.collect { case (g, p) if g.size == k => (id, p, g) }
    }
    val dup = allGrams.groupBy(_._3).filter(_._2.size > 1).keySet
    val expect = corpus.map { case (id, _) =>
      val ts = toks(id)
      val dupPos = ts.sliding(k).zipWithIndex.collect {
        case (g, p) if g.size == k && dup(g) => p
      }.toVector
      val covered = dupPos.flatMap(p => p until p + k).distinct.size
      id -> ((ts.size.toLong, dupPos.size.toLong, covered.toLong))
    }.toMap
    val out = Dedup.substringStats(corpus.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == expect)
  }

  test("hammingPairs: blocked result equals brute force for maxDist <= 3 (pigeonhole)") {
    val rnd = new scala.util.Random(19)
    // random signatures plus planted near-dups: flip 0..3 bits of a base
    val base = (1 to 60).map(i => (i.toLong, rnd.nextLong()))
    val planted = base.take(15).zipWithIndex.map { case ((id, sig), i) =>
      val flips = (0 to i % 4).map(_ => 1L << rnd.nextInt(64)).foldLeft(0L)(_ | _)
      (id + 1000L, sig ^ flips)
    }
    val sigs = (base ++ planted).toDF("id", "sig")
    val got = Dedup.hammingPairs(sigs, "id", "sig", maxDist = 3, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = (base ++ planted)
    val want = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got == want)
    assert(want.nonEmpty) // the planted dups actually exercise the match path
  }

  test("minhash index artifact: exact re-crawls match at est 1, disjoint text stays out") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def doc(seed: Int): String =
      (0 until 40).map(i => words((seed * 7 + i * 3) % words.size)).mkString(" ")
    val corpus = (1 to 30).map(i => (i.toLong, doc(i)))
    Dedup.saveMinhashIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", path)
    // new crawl: exact copies of docs 1..5 under new ids, plus five
    // docs of vocabulary the corpus has never seen (zero overlap)
    val fresh = (1 to 5).map(i => (100L + i, doc(i))) ++
      (1 to 5).map(i => (200L + i, s"nov$i " * 40))
    val got = Dedup.minhashNewVsIndex(fresh.toDF("doc_id", "text"), "doc_id", "text",
        path, minEstJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every re-crawl matches its original at estimate 1.0
    for (i <- 1 to 5)
      assert(got.exists { case (a, b, e) => a == 100L + i && b == i.toLong && e == 1.0 },
        s"re-crawl of doc $i must match itself, got ${got.toSeq}")
    assert(!got.exists(_._1 > 200L), "novel-vocabulary docs must not match anything")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("minhash index: estimate tracks exact Jaccard; param sidecar guards reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx2").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    val base = (0 until 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base))
    Dedup.saveMinhashIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", path,
      bands = 32)
    // probe shares a 45/60-word prefix: shingle Jaccard = 43/73 ≈ 0.59
    val probe = ((0 until 45).map(i => s"w$i") ++ (0 until 15).map(i => s"x$i")).mkString(" ")
    val got = Dedup.minhashNewVsIndex(Seq((9L, probe)).toDF("doc_id", "text"),
      "doc_id", "text", path, minEstJaccard = 0.0).collect()
    assert(got.length == 1)
    val est = got(0).getDouble(2)
    // 128-hash estimate of a 0.59 true Jaccard: ±0.2 is a loose 4-sigma band
    assert(est > 0.39 && est < 0.79, s"estimate $est far from exact 0.59")
    val p = Dedup.loadMinhashIndexParams(spark, path)
    assert(p == Dedup.MinhashIndexParams(3, 128, 32))
    intercept[IllegalArgumentException](
      Dedup.loadMinhashIndexParams(spark, dir.getAbsolutePath))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("extendMinhashIndex: extended artifact equals a from-scratch build; id clash rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx3").toFile
    val words = Vector("red", "green", "blue", "cyan", "teal", "pink")
    def doc(seed: Int): String =
      (0 until 30).map(i => words((seed * 5 + i) % words.size)).mkString(" ")
    val gen1 = (1 to 10).map(i => (i.toLong, doc(i)))
    val gen2 = (11 to 20).map(i => (i.toLong, doc(i)))
    val p0 = s"${dir.getAbsolutePath}/gen1"
    val p1 = s"${dir.getAbsolutePath}/gen2"
    val pAll = s"${dir.getAbsolutePath}/full"
    Dedup.saveMinhashIndex(gen1.toDF("doc_id", "text"), "doc_id", "text", p0)
    Dedup.extendMinhashIndex(gen2.toDF("doc_id", "text"), "doc_id", "text", p0, p1)
    Dedup.saveMinhashIndex((gen1 ++ gen2).toDF("doc_id", "text"), "doc_id", "text", pAll)
    // probing the extended index gives exactly what the from-scratch
    // index over the union gives (bucket sizes included, via the cap)
    val probe = Seq((99L, doc(3)), (98L, doc(15))).toDF("doc_id", "text")
    def hits(path: String) =
      Dedup.minhashNewVsIndex(probe, "doc_id", "text", path, minEstJaccard = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hits(p1) == hits(pAll))
    assert(hits(p1).exists(h => h._1 == 99L && h._2 == 3L && h._3 == 1.0))
    assert(hits(p1).exists(h => h._1 == 98L && h._2 == 15L && h._3 == 1.0))
    // in-place rewrite and id reuse both fail loudly
    intercept[IllegalArgumentException](
      Dedup.extendMinhashIndex(gen2.toDF("doc_id", "text"), "doc_id", "text", p1, p1))
    intercept[IllegalArgumentException](
      Dedup.extendMinhashIndex(Seq((5L, "x")).toDF("doc_id", "text"),
        "doc_id", "text", p1, s"${dir.getAbsolutePath}/clash"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("extendMinhashIndex: stored band rows carry over UNrecomputed; bucket sizes merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx4").toFile
    val txt = (0 until 20).map(i => s"tok$i").mkString(" ")
    val p0 = s"${dir.getAbsolutePath}/g1"
    val p1 = s"${dir.getAbsolutePath}/g2"
    Dedup.saveMinhashIndex(Seq((1L, txt)).toDF("doc_id", "text"), "doc_id", "text", p0)
    // Tamper ONE stored band row's bucket hash: if extend re-banded the
    // stored signatures this sentinel would be erased; append-and-merge
    // must carry it through verbatim.
    val tweaked = spark.read.parquet(s"$p0/bands").collect().map { r =>
      (r.getLong(0), r.getInt(1),
        if (r.getInt(1) == 0) -424242L else r.getLong(2), r.getLong(3))
    }
    tweaked.toSeq.toDF("id", "band", "bh", "n")
      .write.mode("overwrite").parquet(s"$p0/bands")
    // extend with the SAME text under a new id: every real band bucket
    // gains one member, so merged sizes must be old n + fresh count
    Dedup.extendMinhashIndex(Seq((2L, txt)).toDF("doc_id", "text"),
      "doc_id", "text", p0, p1)
    val out = spark.read.parquet(s"$p1/bands")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.exists(_._3 == -424242L),
      "sentinel band row vanished — extend recomputed stored band rows")
    // band 0: old row sits alone in the sentinel bucket (n=1) and the
    // fresh row alone in the real bucket (n=1); bands 1..63: both docs
    // share the bucket, so BOTH rows must carry the merged size 2
    val band0 = out.filter(_._2 == 0)
    assert(band0.length == 2 && band0.forall(_._4 == 1L), s"band0=${band0.toSeq}")
    val rest = out.filter(_._2 != 0)
    assert(rest.length == 63 * 2 && rest.forall(_._4 == 2L),
      s"expected merged n=2 everywhere, got ${rest.filter(_._4 != 2L).take(5).toSeq}")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("_GRAFT_MINHASH sidecar format is pinned: its bytes load, a save writes them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhmeta").toFile
    val pinned = """{"shingleK":5,"numHashes":64,"bands":16}"""
    Dedup.saveMinhashIndex(Seq((1L, "one two three four five six")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", shingleK = 5, numHashes = 64, bands = 16)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/idx/_GRAFT_MINHASH")) ==
      pinned)
    val formatted = "{\n  \"shingleK\" : 5,\n  \"numHashes\" : 64,\n  \"bands\" : 16\n}\n"
    for ((name, text) <- Seq("pinned" -> pinned, "formatted" -> formatted)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/$name"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name/_GRAFT_MINHASH"), text)
      assert(Dedup.loadMinhashIndexParams(spark, s"$dir/$name") ==
        Dedup.MinhashIndexParams(5, 64, 16), name)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
