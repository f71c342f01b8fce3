package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Fixpoint
import graft.util.Artifacts

/** Document deduplication for training-data pipelines.
  *
  * Shapes follow the standard large-corpus dedup playbook: content
  * hashing for exact dups; MinHash+LSH banding for near-dups (shuffle
  * is by band bucket — at 100 TB the only all-to-all movement is the
  * banded candidate join, never an n² comparison); SimHash buckets for
  * cheap structural near-dups; blocked pairwise n-gram Jaccard where
  * an exact similarity is required.
  *
  * Execution shape matters here more than anywhere else in graft:
  * nested higher-order functions (transform-inside-transform) are
  * interpreted, fall out of whole-stage codegen, and re-evaluate
  * their argument expression per element — a column-expression
  * MinHash is O(bands × hashes × shingles × split) per doc. So the
  * hash pipelines below explode shingles/tokens to ROWS once and
  * compute signatures as plain codegen'd aggregates over them:
  * tokenize once, hash each shingle exactly `numHashes` times,
  * one shuffle (map-side partial min/sum does the heavy lifting).
  *
  * Outputs are cluster assignments (doc → cluster, keep-flag), the
  * form a dedup pipeline actually consumes — pair lists are an
  * intermediate.
  */
object Dedup {

  /** Null-text contract: every operator here treats a null text as the
    * empty string, so every input id appears in the output.
    */
  private def txt(c: org.apache.spark.sql.Column) = coalesce(c, lit(""))

  private val capObsId = new java.util.concurrent.atomic.AtomicLong()

  /** No silent caps: every `maxBucket`-capped operator tags its plan
    * with an `observe()` metric so the recall loss is measurable per
    * run — `rows_in_capped_buckets` (bucket rows the cap excluded
    * from linking/pair generation) out of `bucket_rows` total, as the
    * metric `graft_cap_<op>_<n>`. Read it with [[capCounts]] from the
    * `observedMetrics` of the action's QueryExecution, such as the
    * actions a `util.JobScope` records, or in the SQL UI; a driver-side
    * log would force an eager extra action on a lazy frame. The counter
    * suffix keeps names unique when one session plans the operator
    * many times. Caveat: observedMetrics are read off the FINAL
    * adaptive plan, so if AQE empty-relation propagation collapses the
    * plan anywhere downstream of the observed node (every bucket
    * capped, or simply zero surviving pairs), the CollectMetrics node
    * is pruned from that final plan and the metric comes back absent
    * even though the stage ran — an empty pair result is itself the
    * signal to check bucket sizes in that case.
    */
  private def observeCap(df: DataFrame, op: String, bn: org.apache.spark.sql.Column,
                         maxBucket: Int): DataFrame =
    df.observe(s"graft_cap_${op}_${capObsId.getAndIncrement()}",
      sum(when(bn > maxBucket, lit(1L)).otherwise(lit(0L))).as("rows_in_capped_buckets"),
      count(lit(1)).as("bucket_rows"))

  private[graft] final case class CapCounts(rowsInCappedBuckets: Long, bucketRows: Long)

  /** The [[observeCap]] metrics among one action's observed metrics,
    * keyed by operator (`graft_cap_<op>_<n>` → `<op>`); a sum over no
    * rows reads 0.
    */
  private[graft] def capCounts(observed: Map[String, Row]): Map[String, CapCounts] =
    observed.collect { case (name, row) if name.startsWith("graft_cap_") =>
      def at(field: String) = Option(row.getAs[java.lang.Long](field)).fold(0L)(_.longValue)
      name.stripPrefix("graft_cap_").replaceAll("_\\d+$", "") ->
        CapCounts(at("rows_in_capped_buckets"), at("bucket_rows"))
    }

  /** Exact dedup by content hash: one row per distinct content with
    * the deterministic keeper (min id) and multiplicity.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(txt(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** [[exact]] with a KEEP-BEST policy: the keeper per content group
    * is the copy with the highest `scoreCol` (ties broken by min id,
    * so the choice is deterministic) — real pipelines keep the copy
    * from the best source / with the richest metadata, not the
    * smallest id. Same single hash aggregation: the argmax rides a
    * lexicographic struct max (score desc ≡ max(struct(score, -id))),
    * map-side partial like any min/max.
    */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
                    score: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(md5(txt(col(textCol))).as("content_hash"))
      .agg(
        max(struct(score.as("s"), (-col(idCol)).as("negid")))
          .as("__best"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"), (-col("__best.negid")).as("keeper"),
        col("__best.s").as("keeper_score"), col("n_copies"))

  /** One row per k-word shingle: (id, h) — computed NARROWLY, with no
    * shuffle: the token-hash array is materialized once per row (its
    * own projection, referenced k+ times so Catalyst won't inline the
    * tokenizer back into the lambda), then each shingle hash combines
    * k consecutive token hashes by array index and explodes to rows.
    * Because every doc's shingle rows are produced inside one task,
    * the downstream per-doc aggregation's map-side partial reduces
    * them to a single row before any exchange — at 100 TB the token
    * stream itself never crosses the network (the previous lead()-
    * window form shuffled every token row by id first).
    * Shingle identity = identity of the k-token-hash tuple (64-bit
    * collisions are negligible at corpus scale). A doc with fewer than
    * k tokens contributes one row hashing its available token hashes
    * (xxhash64 skips null inputs — try_element_at past the end is
    * null), so no doc vanishes; duplicate shingles within a doc are
    * kept (harmless under min-aggregation; collect_set dedups where a
    * true set is needed).
    */
  private[graft] def shingleRows(df: DataFrame, idCol: String, textCol: String,
                                 k: Int): DataFrame = {
    val th = transform(tokens(txt(col(textCol))), t => xxhash64(t))
    if (k <= 1) {
      df.select(col(idCol).as("id"), explode(th).as("h"))
    } else {
      // fused native kernel — bit-identical to the composed
      // transform(sequence…, xxhash64(try_element_at…)) form it
      // replaced (GramHashesSpec), §4 HOF rule
      val shingleHashes = graft.expressions.GramHashes
        .gramHashesF(col("__th"), k, padShort = true)
      df.select(col(idCol).as("id"), th.as("__th"))
        .select(col("id"), explode(shingleHashes).as("h"))
    }
  }

  /** MinHash signatures + LSH band buckets per doc, as one aggregation
    * over the shingle rows: sig_j = min over shingles of hash_j(h) —
    * a single native [[graft.expressions.MinHashAgg]] (long[numHashes]
    * buffer, elementwise-min merge), partial-aggregated map-side. One
    * aggregate expression instead of numHashes min columns: same
    * values bit-for-bit (MinHashAggSpec), half the hashing, and none
    * of the 128-wide codegen class the column form compiles.
    */
  private def signatures(df: DataFrame, idCol: String, textCol: String,
                         shingleK: Int, numHashes: Int, bands: Int,
                         withShingleSets: Boolean): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val sigAgg = graft.expressions.MinHashAgg.minhashAggF(col("h"), numHashes).as("sig")
    val aggs = if (withShingleSets) Seq(sigAgg, collect_set(col("h")).as("sh")) else Seq(sigAgg)
    shingleRows(df, idCol, textCol, shingleK)
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bandhashes", lshBandHashes(col("sig"), bands, rowsPerBand))
  }

  /** MinHash+LSH near-dup clustering (single min-propagation pass):
    * each doc's cluster is the min doc id among all docs sharing any
    * SMALL band bucket with it (itself included, so every doc is
    * assigned — null/empty texts hash like the empty string and stay
    * in). For corpora with dense dup chains, iterate to a fixpoint;
    * one pass resolves the common pairwise-dup case.
    *
    * Hot-bucket contract: a real 100 TB corpus has degenerate buckets
    * (boilerplate pages, empty/near-empty texts) with millions of
    * members. Buckets larger than `maxBucket` are excluded from
    * linking — their members are near-certain mutual duplicates and
    * belong to [[exact]] content-hash dedup, which handles them
    * skew-free. The bucket size rides along in the same window as the
    * bucket min (one WindowExec, zero extra shuffles), and the window
    * task's work stays LINEAR in bucket size (single-pass unbounded-
    * frame min/count over a spill-backed buffer) — the cap bounds the
    * semantic blowup, not an O(m²) join. For fully skew-free linking
    * use [[minhashClustersTransitive]]: its groupBy edges are
    * partial-aggregated and its bucket joins are AQE-skew-split.
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16,
                      maxBucket: Int = 100000): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    val sigs = signatures(df, idCol, textCol, shingleK, numHashes, bands, withShingleSets = false)
    val exploded = sigs.select(col("id"),
      posexplode(col("bandhashes")).as(Seq("band", "bh")))
    // bucket min via a window, not a groupBy + self-join: the join
    // form plans the (expensive) signature subtree twice and shuffles
    // three times; the window is one shuffle by bucket, then one tiny
    // shuffle by id.
    val w = Window.partitionBy(col("band"), col("bh"))
    val bucketMin = observeCap(
      exploded
        .withColumn("bucket_min", min(col("id")).over(w))
        .withColumn("__bn", count(lit(1)).over(w)),
      "minhash_clusters", col("__bn"), maxBucket)
    bucketMin
      .groupBy(col("id"))
      .agg(min(when(col("__bn") <= maxBucket, col("bucket_min"))).as("__linked"))
      // a doc whose every bucket is oversized keeps its own id
      .select(col("id"), coalesce(col("__linked"), col("id")).as("cluster"))
      .withColumn("keep", col("id") === col("cluster"))
  }

  /** Transitive near-dup clustering: min-label propagation over the
    * doc–bucket bipartite graph until fixpoint (or maxIters). Where
    * [[minhashClusters]] resolves direct collisions only, this merges
    * CHAINS (A≈B≈C with A,C never sharing a bucket) — connected
    * components, computed the scalable way: iterate over the compact
    * (id, bucket) edge list, never over text. Each round is two keyed
    * aggregations; rounds needed = graph diameter (dup chains are short
    * in practice). Runs on the graph loops' kernel
    * (graft.operators.Fixpoint): one pre-sorted edge cache per join key,
    * a checkpoint per round, nothing left cached afterwards.
    */
  def minhashClustersTransitive(df: DataFrame, idCol: String, textCol: String,
                                shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16,
                                maxIters: Int = 5): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val sigs = signatures(df, idCol, textCol, shingleK, numHashes, bands, withShingleSets = false)
    Fixpoint.withCaches { c =>
      val edges = c.base(sigs.select(col("id"),
          posexplode(col("bandhashes")).as(Seq("band", "bh")))
        .select(col("id"), xxhash64(col("band"), col("bh")).as("bucket")))
      // the walk alternates join keys every round (id → bucket)
      val (edgesById, _) = c.sorted(edges, "id")
      val (edgesByBucket, _) = c.sorted(edges, "bucket")
      edges.unpersist()
      val init = edgesById.select(col("id")).distinct().withColumn("cluster", col("id"))
      val (clusters, _) = Fixpoint.iterate(init, maxIters,
          (_, now) => now.getLong(0) == 0L) { (clusters, _) =>
        val bucketMin = edgesById.join(clusters, Seq("id"))
          .groupBy(col("bucket")).agg(min(col("cluster")).as("bmin"), max(col("cluster")).as("bmax"))
        // a doc's new cluster is the min over its buckets, and its own
        // cluster lies in each of them: the round changes nothing
        // exactly when every doc's buckets are all one cluster (min == max)
        Fixpoint.observe(edgesByBucket.join(bucketMin, Seq("bucket"))
            .groupBy(col("id")).agg(min(col("bmin")).as("cluster"), max(col("bmax")).as("__bmax")),
            count(when(col("cluster") =!= col("__bmax"), 1)))
          .select(col("id"), col("cluster"))
      }
      clusters.withColumn("keep", col("id") === col("cluster"))
    }
  }

  /** Candidate near-dup pairs from LSH banding with exact Jaccard
    * verification. `bands`/`numHashes` tune the similarity threshold
    * (collision prob ≈ 1-(1-j^r)^b, r = numHashes/bands).
    *
    * Hot-bucket contract: a bucket of m docs yields m(m−1)/2 candidate
    * pairs — quadratic, and guaranteed to appear at corpus scale
    * (boilerplate, empty texts). Buckets larger than `maxBucket` are
    * dropped BEFORE the self-join (the size check is a linear window
    * count, not a join), bounding any bucket's candidates at
    * maxBucket·(maxBucket−1)/2. Recall contract: a pair co-occurring
    * ONLY in oversized buckets is not emitted — such docs are
    * near-certain mutual duplicates; route them through [[exact]] /
    * [[minhashClusters]], which stay linear.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
                   maxBucket: Int = 1000): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    val sigs = signatures(df, idCol, textCol, shingleK, numHashes, bands, withShingleSets = true)
    val exploded = sigs.select(col("id"), posexplode(col("bandhashes")).as(Seq("band", "bh")))
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
    // observe on ONE join side only: the metric counts each bucket row
    // once, and the other side's subtree stays identical below the
    // window exchange so exchange reuse still deduplicates the
    // signature computation.
    val capped = exploded.filter(col("__bn") <= maxBucket).drop("__bn")
    val cand = observeCap(exploded, "minhash_pairs", col("__bn"), maxBucket)
      .filter(col("__bn") <= maxBucket).drop("__bn").as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sh = sigs.select(col("id"), col("sh"))
    cand
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** 64-bit SimHash per doc as one aggregation over token-hash rows —
    * a single native [[graft.expressions.SimHashAgg]] (long[64] vote
    * buffer, elementwise-sum merge, packed at eval), replacing 64
    * conditional-sum columns + a 64-term pack (SimHashAggSpec asserts
    * bit-for-bit equality with that composed form).
    */
  private def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(txt(col(textCol)))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
      .groupBy(col("id"))
      .agg(graft.expressions.SimHashAgg.simhashAggF(col("h")).as("simhash"))

  /** SimHash clustering: docs sharing the full 64-bit signature are
    * structural near-dups. For hamming-distance-k matching, join on
    * signature chunks (pigeonhole) — exposed via `simhashPairs`.
    */
  def simhashClusters(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = simhashes(df, idCol, textCol)
    // min-per-signature via window (single pass; the groupBy+join-back
    // form would compute the simhash subtree twice).
    hashed
      .withColumn("cluster", min(col("id")).over(Window.partitionBy(col("simhash"))))
      .select(col("id"), col("simhash"), col("cluster"), (col("id") === col("cluster")).as("keep"))
  }

  /** SimHash near-dup pairs within hamming distance `maxDist`,
    * candidate-blocked by 16-bit signature chunks (pigeonhole: any
    * pair within hamming 3 shares at least one of 4 chunks).
    *
    * Same hot-bucket contract as [[minhashPairs]]: chunk buckets
    * larger than `maxBucket` are dropped before the self-join (linear
    * window count), so no degenerate chunk can go quadratic; pairs
    * linked only through oversized buckets route to [[exact]] /
    * [[simhashClusters]].
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
                   maxBucket: Int = 1000): DataFrame =
    hammingPairs(simhashes(df, idCol, textCol), "id", "simhash", maxDist, maxBucket,
      op = "simhash_pairs")

  /** Generic hamming-≤-`maxDist` pairs over any 64-bit signature
    * column (SimHash text signatures, dHash image signatures, …),
    * candidate-blocked by 16-bit signature chunks — pigeonhole: any
    * pair within hamming 3 shares at least one of the 4 chunks, so
    * for maxDist ≤ 3 blocking is EXHAUSTIVE (modulo the bucket cap)
    * and the blocked result equals the all-pairs result.
    *
    * Same hot-bucket contract as [[minhashPairs]]: chunk buckets
    * larger than `maxBucket` are dropped before the self-join (linear
    * window count), so no degenerate chunk can go quadratic; the
    * excluded row count surfaces via observe().
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String, maxDist: Int,
                   maxBucket: Int = 1000, op: String = "hamming_pairs"): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    require(maxDist >= 0 && maxDist <= 64, s"maxDist must be in [0, 64], got $maxDist")
    val withBn = sigs
      .select(col(idCol).as("id"), col(sigCol).cast("long").as("__sig"))
      .select(col("id"), col("__sig"),
        posexplode(array((0 until 4).map(i =>
          shiftrightunsigned(col("__sig"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk_idx", "chunk")))
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("chunk_idx"), col("chunk"))))
    val chunked = withBn.filter(col("__bn") <= maxBucket).drop("__bn")
    // observed side mirrors minhashPairs: count once, keep the other
    // side's subtree reuse-identical.
    observeCap(withBn, op, col("__bn"), maxBucket)
      .filter(col("__bn") <= maxBucket).drop("__bn").as("a")
      .join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.__sig").as("sh_a"), col("b.__sig").as("sh_b"))
      .distinct()
      .withColumn("hamming", hammingDist(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Blocked exact n-gram Jaccard: pairwise similarity within a
    * blocking key (never across the whole corpus). Returns all pairs
    * in a block with their exact shingle-set Jaccard.
    *
    * Hot-block contract (refined from [[minhashPairs]]'s drop rule): a
    * block of m docs yields m(m−1)/2 pairs — quadratic, and a
    * degenerate block (boilerplate, empty texts, a skewed blocking
    * key) is guaranteed at corpus scale. A block larger than
    * `maxBlock` is reduced to a DETERMINISTIC bounded sample — its
    * maxBlock smallest ids — BEFORE the self-join (the rank is a
    * linear window pass in the same shuffle, not a join), bounding
    * every block's output at maxBlock·(maxBlock−1)/2 and its join
    * task at O(maxBlock²), with the excluded row count surfaced via
    * observe(). Sampling beats the earlier drop-the-block rule at
    * corpus scale: 10× growth pushed EVERY metadata block over the
    * cap and the operator went silently empty (the sf1 gate caught
    * it); a bounded sample keeps per-block signal flowing at any
    * corpus size while the observe() metric reports exactly how much
    * the cap excluded. Pairs beyond the sample are near-certain
    * mutual duplicates — route them through [[exact]] /
    * [[minhashClusters]], which stay linear.
    */
  def blockedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, shingleK: Int = 3,
                          maxBlock: Int = 1000): DataFrame =
    cappedBlockPairs(df, idCol, textCol, blockCol, shingleK, maxBlock,
      "blocked_jaccard")
      .select(col("block"), col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))

  /** Asymmetric CONTAINMENT over the same blocked candidate pairs:
    * containment_a = |A∩B| / |A| (the fraction of A's shingle set
    * inside B), and symmetrically containment_b. Jaccard misses
    * subset duplication — a paragraph quoted whole inside a larger
    * doc scores low Jaccard but containment_a ≈ 1 — which is exactly
    * the quote/inclusion duplication a corpus sweep wants to flag.
    * Same capped-block scale contract as [[blockedJaccardPairs]].
    */
  def blockedContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                              blockCol: String, shingleK: Int = 3,
                              maxBlock: Int = 1000): DataFrame =
    cappedBlockPairs(df, idCol, textCol, blockCol, shingleK, maxBlock,
      "blocked_containment")
      .select(col("block"), col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          greatest(size(col("sh_a")), lit(1)).cast("double")).as("containment_a"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          greatest(size(col("sh_b")), lit(1)).cast("double")).as("containment_b"))

  /** Shared candidate-pair machinery for the blocked similarity
    * verbs: shingle-set per doc, per-block deterministic cap (see
    * [[blockedJaccardPairs]]'s scale note), capped self-join within
    * the block. Returns (block, id_a, id_b, sh_a, sh_b).
    */
  private def cappedBlockPairs(df: DataFrame, idCol: String, textCol: String,
                               blockCol: String, shingleK: Int,
                               maxBlock: Int, op: String): DataFrame = {
    require(maxBlock > 0, s"maxBlock must be positive, got $maxBlock")
    val rw = Window.partitionBy(col("block")).orderBy(col("id"))
    val sh = shingleRows(df, idCol, textCol, shingleK)
      .groupBy(col("id")).agg(collect_set(col("h")).as("sh"))
      .join(df.select(col(idCol).as("id"), col(blockCol).as("block")), Seq("id"))
      .withColumn("__bn", row_number().over(rw))
    val capped = sh.filter(col("__bn") <= maxBlock).drop("__bn")
    // observe on ONE join side only (counts each block row once; the
    // other side's subtree stays identical below the window exchange
    // so exchange reuse still deduplicates the shingle computation).
    observeCap(sh, op, col("__bn"), maxBlock)
      .filter(col("__bn") <= maxBlock).drop("__bn").as("a")
      .join(capped.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.block").as("block"), col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
  }

  /** Benchmark decontamination: flags every corpus doc that shares at
    * least one k-word shingle with an evaluation/benchmark set — the
    * standard train/test-contamination sweep a training-data pipeline
    * runs before a corpus ships (13-gram overlap is the common
    * published choice; `k` is the knob).
    *
    * Returns the corpus with one added boolean column `contaminated`
    * (flag, don't drop: the caller chooses filter vs audit).
    *
    * Scale shape: the bench side collapses to DISTINCT shingle hashes
    * once (eval suites are tiny next to a 100 TB corpus) and is
    * broadcast by default, so corpus shingles are probed map-side and
    * never cross the network; the only shuffles are the distinct on
    * surviving contaminated ids (bounded by the corpus doc count, not
    * its token count) and the final id join, whose right side AQE
    * broadcasts. For a benchmark set too large to broadcast, pass
    * `broadcastBench = false` to fall back to a shuffled semi join on
    * the shingle hash. Shingle identity is the 64-bit hash of the
    * k-token-hash tuple, as everywhere in this file; docs shorter than
    * k tokens contribute their whole text as one shingle and so only
    * match equally-short bench texts.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    k: Int = 13, broadcastBench: Boolean = true): DataFrame = {
    require(!corpus.columns.contains("contaminated"),
      "corpus already has a 'contaminated' column; rename it before calling decontaminate")
    val benchShingles = shingleRows(
        bench.select(lit(0L).as("id"), col(benchTextCol).as("__bench_text")),
        "id", "__bench_text", k)
      .select(col("h")).distinct()
    val probe = if (broadcastBench) broadcast(benchShingles) else benchShingles
    val contaminatedIds = shingleRows(corpus, idCol, textCol, k)
      .join(probe, Seq("h"), "left_semi")
      .select(col("id").as("__contam_id")).distinct()
    corpus.join(contaminatedIds, corpus(idCol) === col("__contam_id"), "left")
      .withColumn("contaminated", col("__contam_id").isNotNull)
      .drop("__contam_id")
  }

  /** Incremental corpus diff between two crawls/snapshots: per id,
    * whether the doc was added, removed, changed (content hash
    * differs) or unchanged — the audit table an incremental curation
    * run keys its re-processing on (only `added`/`changed` docs need
    * re-scoring; `removed` ids need tombstones downstream).
    *
    * One full outer join on id over md5-projected sides: the hash is
    * computed in the scan projection, so the shuffle carries (id,
    * 32-hex) rows, never document text. AQE handles size asymmetry
    * (a small delta crawl broadcasts).
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    def hashed(d: DataFrame, side: String) = {
      // a duplicate id would fan the full outer join out into
      // contradictory status rows (one 'changed' AND one 'unchanged'
      // for the same doc) — reject loudly, like GlobalOrder's keys
      val Array(n, nd) = d.agg(count(lit(1)), countDistinct(col(idCol)))
        .collect()(0).toSeq.map(_.toString.toLong).toArray
      require(n == nd,
        s"$side snapshot has ${n - nd} duplicate '$idCol' ids; corpusDiff needs one row per id")
      d.select(col(idCol).as(s"__${side}_id"),
        md5(txt(col(textCol))).as(s"__${side}_h"))
    }
    hashed(oldDf, "old")
      .join(hashed(newDf, "new"), col("__old_id") === col("__new_id"), "full_outer")
      .select(
        coalesce(col("__old_id"), col("__new_id")).as("id"),
        when(col("__old_id").isNull, "added")
          .when(col("__new_id").isNull, "removed")
          .when(col("__old_h") === col("__new_h"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** C4-style line-level dedup: a LINE occurring more than
    * `maxOccurrences` times across the corpus is boilerplate
    * (navigation, cookie banners, footers); every doc drops its
    * copies except the deterministic owner's (the minimum doc id
    * containing the line keeps its copies, so no content is lost
    * corpus-wide — the keep-first rule C4's three-sentence dedup
    * uses, made deterministic).
    *
    * Returns one row per doc: (id, text, n_lines, n_removed) with
    * `text` rebuilt from the surviving lines in original order.
    *
    * Scale shape mirrors [[substringStats]]: lines explode narrowly
    * in-task; the global line census aggregates by 64-bit line hash
    * with map-side partial min/count (never shuffling line text);
    * the join-back is by hash with AQE skew handling; the rebuild is
    * one groupBy(id) whose sort_array keeps line order without a
    * window. Degenerate hot lines (the empty line, "Home") are
    * exactly why the census is by hash: their rows partial-aggregate
    * to one per task before the exchange.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 maxOccurrences: Long = 1L, unit: String = "\n"): DataFrame = {
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1, got $maxOccurrences")
    require(unit.nonEmpty, "unit separator must be non-empty")
    // `unit` is a LITERAL separator (quoted for the regex split) so
    // split and rejoin are exact inverses: "\n" = line dedup,
    // "\n\n" = paragraph dedup
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(txt(col(textCol)),
          java.util.regex.Pattern.quote(unit))).as(Seq("lineno", "line")))
      .withColumn("h", xxhash64(col("line")))
    val census = lines
      .groupBy(col("h"))
      .agg(count(lit(1)).as("__n"), min(col("id")).as("__owner"))
      .filter(col("__n") > maxOccurrences)
    val kept = lines
      .join(census, Seq("h"), "left")
      .filter(col("__n").isNull || col("id") === col("__owner"))
    kept
      .groupBy(col("id"))
      .agg(
        concat_ws(unit,
          transform(sort_array(collect_list(struct(col("lineno"), col("line")))),
            s => s.getField("line"))).as("text"),
        count(lit(1)).as("n_kept"))
      .join(df.select(col(idCol).as("id"),
        size(split(txt(col(textCol)),
          java.util.regex.Pattern.quote(unit))).cast("long").as("n_lines")),
        Seq("id"), "right") // a doc that lost EVERY line stays, emptied
      .select(col("id"), coalesce(col("text"), lit("")).as("text"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Repeated-substring statistics at k-token granularity — the
    * distributed re-expression of suffix-array substring dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"; the reference pipelines this as user code over
    * scio's flatMap/groupBy verbs, reference scio-core
    * SCollection.scala): a k-gram occurring more than once ANYWHERE in
    * the corpus (other docs or a repeat within the same doc) is a
    * duplicated substring; each doc reports how many of its k-grams
    * are duplicated and what fraction of its tokens at least one
    * duplicated k-gram covers — the number substring-dedup trimming
    * or doc-level filtering (`dup_fraction > θ`) keys on.
    *
    * Returns one row per input doc:
    * (id, n_tokens, n_dup_grams, covered_tokens, dup_fraction).
    *
    * Scale shape: k-gram rows are produced NARROWLY inside each scan
    * task (token-hash array → positional gram hashes → posexplode, no
    * window/lead shuffle), aggregated by gram hash with map-side
    * partial counts, and the duplicated-gram set joins back by hash
    * with AQE skew-splitting — never a self-join on docs. The k×
    * position blowup for coverage counting happens ONLY on duplicated
    * gram positions (a small minority in a healthy corpus). Gram rows
    * are recomputed for the join-back rather than persisted: at
    * 100 TB the gram stream dwarfs cluster memory, and the recompute
    * is a narrow in-task pipeline off the scan. Gram identity is the
    * 64-bit hash of the k-token-hash tuple, as everywhere in this
    * file; docs shorter than k tokens have no k-grams and report
    * dup_fraction 0.
    */
  def substringStats(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val th = transform(tokens(txt(col(textCol))), t => xxhash64(t))
    // fused native kernel (strict: < k tokens → no grams), bit-identical
    // to the composed transform/element_at form (GramHashesSpec)
    def gramHashes(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.expressions.GramHashes.gramHashesF(arr, k, padShort = false)
    // Dup detection shuffles BARE hashes (8 bytes/row): the count per
    // gram doesn't need id/pos, and at 100 TB the gram stream is the
    // single biggest shuffle in this operator — halving its row width
    // halves the bottleneck stage's network volume.
    val dupHashes = df
      .select(th.as("__th"))
      .filter(size(col("__th")) >= k)
      .select(explode(gramHashes(col("__th"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("h"))
    // Post-join rows are unique per (id, pos) — gramRows emits one row
    // per position and dupHashes is distinct — so the dup-gram count is
    // a plain count, and token coverage is the union length of the
    // sorted fixed-width intervals [pos, pos+k): a single-pass fold
    // over the per-doc position list. (The earlier shape exploded k
    // index rows per gram and ran TWO countDistincts — an Expand that
    // doubled the already k×-multiplied stream; a healthy corpus has
    // few dup grams, but boilerplate-heavy shards at 100 TB are
    // exactly the skewed case that blew up.)
    val gramRows = df
      .select(col(idCol).as("id"), th.as("__th"))
      .filter(size(col("__th")) >= k)
      .select(col("id"), posexplode(gramHashes(col("__th"))).as(Seq("pos", "h")))
    val coverFold = aggregate(
      array_sort(col("__ps")),
      struct(lit(0L).as("covered"), lit(0L).as("end")),
      (acc, s) => struct(
        (acc("covered") + (s + k) - greatest(s.cast("long"), acc("end"))).as("covered"),
        (s + k).cast("long").as("end")),
      acc => acc("covered"))
    val perDoc = gramRows
      .join(dupHashes, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_grams"), collect_list(col("pos")).as("__ps"))
      .select(col("id"), col("n_dup_grams"), coverFold.as("covered_tokens"))
    df.select(col(idCol).as("id"), size(th).cast("long").as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)) /
          greatest(col("n_tokens"), lit(1)), 6).as("dup_fraction"))
  }

  /** Remove duplicated k-gram spans from each document, keeping each
    * gram's globally FIRST occurrence — the substring-dedup TRANSFORM
    * beside [[substringStats]]'s audit (the published recipe: Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed token-level). A token is dropped iff some
    * NON-first occurrence of a corpus-duplicated k-gram covers it;
    * "first" = lexicographic min (id, pos), so the result is
    * deterministic across partitionings and reruns. Output text is
    * token-normalized (kept tokens joined by single spaces).
    *
    * Returns (id, n_tokens, n_removed, clean_text).
    *
    * Scale shape mirrors [[substringStats]]: the gram stream shuffles
    * as 8-byte hashes with (id, pos) coordinates, the first/count
    * fold partial-aggregates map-side, and only occurrences of
    * DUPLICATED grams reach the per-doc reconstruction. Per-doc state
    * is the dup-position list folded ONCE into merged [s, e)
    * intervals; token survival tests run against those merged ranges,
    * so a boilerplate-heavy doc with thousands of overlapping dup
    * grams probes a handful of intervals, not the raw gram count.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 20): DataFrame =
    removeDupUnitSpans(df, idCol, tokens(txt(col(textCol))), k, " ")
      .withColumnsRenamed(Map("n_units" -> "n_tokens"))

  /** C4-style duplicated-SENTENCE-span removal: the same first-
    * occurrence-keeping excision as [[removeDuplicateSpans]], but the
    * unit is a SENTENCE and a span is `k` consecutive sentences (C4
    * removed any three-sentence span occurring more than once in the
    * corpus; Raffel et al. 2020 §2.2). Sentence boundaries are the
    * deterministic `[.!?] ` heuristic — the terminator stays with its
    * sentence, and the rebuild joins kept sentences with single
    * spaces (token-normalized output, same contract as the k-gram
    * transform).
    *
    * Returns (id, n_sentences, n_removed, clean_text).
    */
  def removeDuplicateSentenceSpans(df: DataFrame, idCol: String, textCol: String,
                                   k: Int = 3): DataFrame = {
    // sentinel insertion instead of a lookbehind split: the boundary
    // regex stays RE2-safe, so a SQL oracle can reproduce it exactly
    val sents = split(
      regexp_replace(txt(col(textCol)), "([.!?]) ", "$1\u0001"), "\u0001")
    removeDupUnitSpans(df, idCol, sents, k, " ")
      .withColumnsRenamed(Map("n_units" -> "n_sentences"))
  }

  /** Shared span-excision core over an arbitrary unit array (tokens,
    * sentences): census k-unit spans by hash, keep each span's
    * globally first (min (id, pos)) occurrence, drop every unit
    * covered by a non-first occurrence, rebuild with `sep`.
    */
  private def removeDupUnitSpans(df: DataFrame, idCol: String,
                                 units: org.apache.spark.sql.Column,
                                 k: Int, sep: String): DataFrame = {
    val grams = spanGrams(df, idCol, units, k)
    val firsts = grams
      .groupBy(col("h"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__cnt") > 1)
      .select(col("h"), col("__first"))
    val dupOcc = grams.join(firsts, Seq("h"))
      .filter(!(col("id") === col("__first.id") && col("pos") === col("__first.pos")))
      .select(col("id"), col("pos"))
    exciseSpans(df, idCol, units, dupOcc, k, sep)
  }

  /** Decontamination by EXCISION: remove every k-gram span of the
    * corpus that also occurs in the benchmark texts, instead of
    * dropping the whole document ([[decontaminate]]'s flag form).
    * EVERY matching occurrence is excised — an eval-set span has no
    * legitimate "first" inside the training corpus. Returns
    * (id, n_tokens, n_removed, clean_text), token-normalized like
    * [[removeDuplicateSpans]].
    *
    * Scale shape: benchmark shingle hashes dedup and broadcast (eval
    * suites are small; pass broadcastBench = false for a huge
    * reference set and the probe becomes a shuffled semi join); the
    * corpus gram stream probes map-side, so only CONTAMINATED
    * positions reach the per-doc interval fold.
    */
  def decontaminateSpans(corpus: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         k: Int = 13, broadcastBench: Boolean = true): DataFrame = {
    val units = tokens(txt(col(textCol)))
    val benchGrams = spanGrams(
        bench.select(lit(0L).as("__b_id"), col(benchTextCol).as("__b_text")),
        "__b_id", tokens(txt(col("__b_text"))), k)
      .select(col("h")).distinct()
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val hitOcc = spanGrams(corpus, idCol, units, k)
      .join(probe, Seq("h"), "left_semi")
      .select(col("id"), col("pos"))
    exciseSpans(corpus, idCol, units, hitOcc, k, " ")
      .withColumnsRenamed(Map("n_units" -> "n_tokens"))
  }

  /** One row per k-unit span: (id, pos, h) — hash identity of the
    * k-unit tuple, positions only for docs with >= k units.
    */
  private def spanGrams(df: DataFrame, idCol: String,
                        units: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val th = transform(units, t => xxhash64(t))
    df.select(col(idCol).as("id"), th.as("__th"))
      .filter(size(col("__th")) >= k)
      .select(col("id"),
        posexplode(graft.expressions.GramHashes.gramHashesF(col("__th"), k,
          padShort = false)).as(Seq("pos", "h")))
  }

  /** Excise the k-wide spans at `removeOcc` (id, pos) from each doc's
    * unit array and rebuild: merged-interval fold, complement, slice.
    */
  private def exciseSpans(df: DataFrame, idCol: String,
                          units: org.apache.spark.sql.Column,
                          removeOcc: DataFrame, k: Int, sep: String): DataFrame = {
    // one native kernel per doc: sort positions, sweep merged [p, p+k)
    // intervals, copy the complement — the composed fold-merge-
    // complement-slice form went quadratic on boilerplate-heavy docs
    // (interpreted HOF accumulator concatenating per dup position)
    val perDoc = removeOcc.groupBy(col("id"))
      .agg(collect_list(col("pos")).cast("array<long>").as("__ps"))
    val kept = graft.expressions.ExciseTokens.exciseF(
      col("__toks"), coalesce(col("__ps"), lit(Array.empty[Long])), k)
    df.select(col(idCol).as("id"), units.as("__toks"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_units"),
        (size(col("__toks")) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, sep).as("clean_text"))
  }

  // ------------------------------------------------------------------
  // Incremental near-dup: a persisted MinHash index artifact
  // ------------------------------------------------------------------

  /** Parameters a MinHash index was built with — new docs MUST hash
    * with the same settings or band buckets are meaningless.
    */
  final case class MinhashIndexParams(shingleK: Int, numHashes: Int, bands: Int)

  private val MinhashIndexMeta = "_GRAFT_MINHASH"

  /** Persist a corpus's MinHash signatures + band buckets as a
    * reusable index artifact at `path` — the incremental-curation
    * shape: shingle the historical corpus ONCE, then dedup each new
    * crawl against the artifact without ever re-reading old text
    * ([[minhashNewVsIndex]]). Layout: `sigs/` (id, sig), `bands/`
    * (band, bh, id, n — n is the bucket size, precomputed here so the
    * query-time hot-bucket cap is a pushable filter instead of a
    * window over the index), plus a `_GRAFT_MINHASH` JSON sidecar
    * pinning the parameters (validated on every use; a mismatched
    * read fails loudly instead of silently finding nothing). A
    * rewrite removes the old sidecar before its first data write and
    * writes the new one last, so a rewrite that dies midway leaves a
    * directory that reads as "not a graft MinHash index", never a
    * stale sidecar beside emptied data ([[extendMinhashIndex]] too).
    */
  def saveMinhashIndex(df: DataFrame, idCol: String, textCol: String, path: String,
                       shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64): Unit = {
    val spark = df.sparkSession
    val sigs = signatures(df, idCol, textCol, shingleK, numHashes, bands,
      withShingleSets = false)
    Artifacts.delete(spark, s"$path/$MinhashIndexMeta")
    sigs.select(col("id"), col("sig")).write.mode("overwrite").parquet(s"$path/sigs")
    val bandRows = sigs.select(col("id"), posexplode(col("bandhashes")).as(Seq("band", "bh")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
    bandRows.write.mode("overwrite").parquet(s"$path/bands")
    writeMinhashIndexParams(spark, path, MinhashIndexParams(shingleK, numHashes, bands))
  }

  private def writeMinhashIndexParams(spark: org.apache.spark.sql.SparkSession, path: String,
                                      p: MinhashIndexParams): Unit =
    Artifacts.writeJson(spark, s"$path/$MinhashIndexMeta", Artifacts.json.createObjectNode()
      .put("shingleK", p.shingleK).put("numHashes", p.numHashes).put("bands", p.bands))

  /** Read back a MinHash index's parameter sidecar (loud failure when
    * absent — the directory is not an index artifact).
    */
  def loadMinhashIndexParams(spark: org.apache.spark.sql.SparkSession,
                             path: String): MinhashIndexParams = {
    def malformed(raw: Any) = s"malformed $MinhashIndexMeta sidecar at $path: $raw"
    val n = Artifacts.readJson(spark, s"$path/$MinhashIndexMeta",
      s"$path is not a graft MinHash index (no $MinhashIndexMeta sidecar)", malformed("not JSON"))
    def field(name: String): Int =
      Artifacts.field(n, name, malformed(n))(v => v.isInt && v.intValue >= 0).intValue
    MinhashIndexParams(field("shingleK"), field("numHashes"), field("bands"))
  }

  /** Grow a persisted MinHash index with a new crawl WITHOUT
    * re-reading any historical text — the property that makes the
    * artifact worth keeping: only the new docs shingle + sign; the
    * stored signatures union in as-is, and the stored BAND ROWS carry
    * over as-is too — only the new crawl bands, with per-bucket sizes
    * merged as old n + fresh count, so extend compute is O(new crawl)
    * plus a narrow copy pass of the artifact. Writes a complete
    * artifact at `outPath` (must
    * differ from `indexPath` — the source is read lazily while the
    * output writes, and a failed in-place rewrite would destroy the
    * only copy). Ids present in both the index and the new crawl fail
    * loudly: an id maps to one document.
    */
  def extendMinhashIndex(newDf: DataFrame, idCol: String, textCol: String,
                         indexPath: String, outPath: String): Unit = {
    val spark = newDf.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toUri.normalize !=
      new org.apache.hadoop.fs.Path(indexPath).toUri.normalize,
      s"extendMinhashIndex cannot rewrite an index in place; write to a new path ($indexPath)")
    val p = loadMinhashIndexParams(spark, indexPath)
    val rowsPerBand = p.numHashes / p.bands
    val old = spark.read.parquet(s"$indexPath/sigs")
    val fresh = signatures(newDf, idCol, textCol, p.shingleK, p.numHashes, p.bands,
      withShingleSets = false).select(col("id"), col("sig"))
      .persist() // signature-sized (numHashes longs/doc); shingled once
    try {
      val clashes = old.select(col("id")).join(fresh, Seq("id"), "left_semi").limit(5)
        .collect().map(_.get(0))
      require(clashes.isEmpty,
        s"new crawl reuses ids already in the index at $indexPath: ${clashes.mkString(", ")}")
      Artifacts.delete(spark, s"$outPath/$MinhashIndexMeta")
      old.select(col("id"), col("sig")).union(fresh)
        .write.mode("overwrite").parquet(s"$outPath/sigs")
      // Band ONLY the new crawl: the old sigs' band rows are already in
      // the artifact — append the fresh rows and merge per-bucket sizes
      // (old n + fresh count), so extend pays O(new crawl) compute plus
      // one narrow pass over the stored band table (the count delta is
      // a broadcast join), never a re-band + window over the index.
      val freshBands = fresh
        .withColumn("bandhashes", lshBandHashes(col("sig"), p.bands, rowsPerBand))
        .select(col("id"), posexplode(col("bandhashes")).as(Seq("band", "bh")))
      val freshCounts0 = freshBands.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("__fn"))
        .persist()
      // the count-delta frame is sized by the NEW crawl's bucket set:
      // broadcast it only while that is actually side-input sized —
      // a crawl comparable to the index must fall back to a plain
      // equi-join (shuffles the stored BAND table: signature-sized
      // rows, never text, the same bound VERDICT gave the old re-band).
      // A plain count() on the PERSISTED frame doubles as the cache
      // warm-up for the three joins below (a limit().count() probe
      // would stop short of populating it and cost a recompute).
      val broadcastable = freshCounts0.count() <= 2000000L
      def hint(df: DataFrame): DataFrame = if (broadcastable) broadcast(df) else df
      val freshCounts = hint(freshCounts0)
      val oldBands = spark.read.parquet(s"$indexPath/bands")
      val oldUpdated = oldBands.join(freshCounts, Seq("band", "bh"), "left")
        .select(col("id"), col("band"), col("bh"),
          (col("n") + coalesce(col("__fn"), lit(0L))).as("n"))
      // old sizes for just the buckets the new crawl touches (small set)
      val touchedOld = oldBands
        .join(hint(freshCounts0.select(col("band"), col("bh"))), Seq("band", "bh"))
        .groupBy(col("band"), col("bh")).agg(first(col("n")).as("__on"))
      val freshWithN = freshBands
        .join(freshCounts, Seq("band", "bh"))
        .join(hint(touchedOld), Seq("band", "bh"), "left")
        .select(col("id"), col("band"), col("bh"),
          (coalesce(col("__on"), lit(0L)) + col("__fn")).as("n"))
      oldUpdated.unionByName(freshWithN)
        .write.mode("overwrite").parquet(s"$outPath/bands")
      freshCounts0.unpersist()
      ()
    } finally { fresh.unpersist(); () }
    writeMinhashIndexParams(spark, outPath, p)
  }

  /** Near-dup candidates of NEW docs against a persisted MinHash
    * index ([[saveMinhashIndex]]): shingle + sign only the new crawl
    * (the historical corpus's text is never touched again), probe the
    * stored band buckets, and score each candidate by signature
    * agreement — est_jaccard = |{j : sigNew[j] = sigIdx[j]}| /
    * numHashes, the standard MinHash estimate (E[est] = true
    * Jaccard). Output: (id, index_id, est_jaccard) with est_jaccard ≥
    * `minEstJaccard`, rounded to 6 dp. A re-crawled id that is also in
    * the index matches itself (est = 1); filter `id != index_id`
    * downstream if self-pairs are noise.
    *
    * Scale shape: one shuffle of the new crawl's shingles (map-side
    * partial mins, same as [[minhashPairs]]), one equi-join of its
    * band rows against the stored buckets (the hot-bucket cap `n <=
    * maxBucket` is a plain pushable filter on the artifact — the
    * bucket census was precomputed at save time, so no window over
    * the index at query time), and one numHashes-wide zip per
    * candidate pair. The index side never re-shingles — at 100 TB
    * that is the entire point.
    */
  def minhashNewVsIndex(newDf: DataFrame, idCol: String, textCol: String,
                        indexPath: String, minEstJaccard: Double = 0.5,
                        maxBucket: Int = 1000): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    require(minEstJaccard >= 0 && minEstJaccard <= 1,
      s"minEstJaccard must be in [0, 1], got $minEstJaccard")
    val spark = newDf.sparkSession
    val p = loadMinhashIndexParams(spark, indexPath)
    val idxSigs = spark.read.parquet(s"$indexPath/sigs")
      .select(col("id").as("index_id"), col("sig").as("__isig"))
    val idxBands = spark.read.parquet(s"$indexPath/bands")
      .filter(col("n") <= maxBucket)
      .select(col("band"), col("bh"), col("id").as("index_id"))
    val newSigs = signatures(newDf, idCol, textCol, p.shingleK, p.numHashes, p.bands,
      withShingleSets = false)
    val newBands = newSigs
      .select(col("id"), posexplode(col("bandhashes")).as(Seq("band", "bh")))
    val cand = newBands.join(idxBands, Seq("band", "bh"))
      .select(col("id"), col("index_id")).distinct()
    val agree = aggregate(
      zip_with(col("__nsig"), col("__isig"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    cand
      .join(newSigs.select(col("id"), col("sig").as("__nsig")), Seq("id"))
      .join(idxSigs, Seq("index_id"))
      .withColumn("est_jaccard", round(agree.cast("double") / p.numHashes, 6))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id"), col("index_id"), col("est_jaccard"))
  }
}
