package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.PqExpressions.{pqAdcF, pqEncodeF, pqLutF}
import graft.expressions.VectorExpressions.{cosineF, hyperplaneCellF, nearestCentroidF}
import graft.functions.VectorFunctions.{hyperplanes, normalize}

/** Approximate-nearest-neighbor search over embedding columns —
  * graft's counterpart to scio-extra's Annoy/Voyager side-input ANN
  * (reference: scio-extra/src/main/scala/com/spotify/scio/extra/annoy/
  * package.scala, voyager/). Scio builds a local index and reads it as
  * a side input; Spark-first, the probe set is the broadcast side and
  * the corpus stays distributed — so corpus size is unbounded and only
  * #probes must be small-ish per pass.
  */
object KNN {

  /** Keep each probe's best `n` rows of `df` by `score` (descending,
    * ties by `tie` ascending), numbered 1..n in column `rank`. Spark 4
    * plans the `row_number` bound as a WindowGroupLimit, so the top-n
    * is cut before the window's sort.
    */
  private def bestPerProbe(df: DataFrame, score: String, n: Int, tie: String = "id"): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col(score).desc, col(tie).asc)))
      .filter(col("rank") <= n)

  /** The one search kernel, in the filter-and-refine shape of the
    * top-k similarity literature (candidate cells, a cheap score, one
    * exact re-rank; e.g. REPOSE, ICDE 2021): the corpus side `c`
    * (`id`, optional `cell`, `vec` or `codes`) meets the broadcast
    * probe side `p` (`probe_id`, optional `cell`, `probe_vec` or `lut`)
    * on `cell`, or in a cross join when there are no cells, self pairs
    * dropped. With `adc = Some((codes k, refine))` each probe keeps its
    * best `refine` candidates by ADC lookups, which join back to the
    * raw vectors. Every search ends in one exact-cosine top-k rank.
    */
  private def search(corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
                     k: Int, c: DataFrame, p: DataFrame,
                     adc: Option[(Int, Int)] = None): DataFrame = {
    val pairs = (if (c.columns.contains("cell")) c.join(broadcast(p), Seq("cell"))
      else c.crossJoin(broadcast(p))).filter(col("id") =!= col("probe_id"))
    val exact = adc match {
      case None => pairs
      case Some((kk, refine)) =>
        require(k >= 1 && refine >= k, s"need refine >= k >= 1, got k=$k refine=$refine")
        bestPerProbe(pairs.select(col("probe_id"), col("id"),
            pqAdcF(col("codes"), col("lut"), kk).as("adc")), "adc", refine)
          .select(col("probe_id"), col("id"))
          .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), Seq("id"))
          .join(broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))),
            Seq("probe_id"))
    }
    bestPerProbe(exact.select(col("probe_id"), col("id"),
      cosineF(col("vec"), col("probe_vec")).as("cos_sim")), "cos_sim", k)
  }

  /** Each probe row of `p` (which carries `probe_vec`) paired with the
    * `nprobe` centroids nearest by cosine, as column `cell`; the
    * output keeps the `keep` columns and `cell`.
    */
  private def nearestCells(p: DataFrame, keep: Seq[String], centroids: Seq[Seq[Double]],
                           nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, ${centroids.size}], got $nprobe")
    val spark = p.sparkSession
    import spark.implicits._
    val centsDf = centroids.zipWithIndex
      .map { case (cent, i) => (i, cent.map(_.toFloat)) }.toDF("cell", "cvec")
    bestPerProbe(p.crossJoin(broadcast(centsDf)).select(keep.map(col) :+ col("cell") :+
        cosineF(col("probe_vec"), col("cvec")).as("csim"): _*), "csim", nprobe, tie = "cell")
      .select((keep :+ "cell").map(col): _*)
  }

  /** Hyperplane cell of `v`: the sign bits of `cellBits` seeded
    * projections, as the native fused-loop expression (the composed
    * hyperplaneSignature blows up to nBits×dim expression nodes —
    * Janino-compile-heavy and past the JVM's JIT method limit;
    * asserted equal in VectorExpressionsSpec).
    */
  private def cellOf(v: Column, dim: Int, cellBits: Int, seed: Long): Column =
    hyperplaneCellF(v, hyperplanes(dim, cellBits, seed).map(_.toSeq).toSeq)

  /** `cell` and the `bits` cells one bit flip away from it. */
  private def hammingBall(cell: Column, bits: Int): Column =
    array(cell +: (0 until bits).map(b => cell.bitwiseXOR(lit(1L << b))): _*)

  /** `df` without the rows whose `key` has more than `max` members
    * (membership is a broadcast anti-join against the per-key count
    * frame), and those hot keys.
    */
  private def withoutHot(df: DataFrame, key: String, max: Int): (DataFrame, DataFrame) = {
    val hot = df.groupBy(col(key)).count().filter(col("count") > max).select(col(key))
    (df.join(broadcast(hot), Seq(key), "left_anti"), hot)
  }

  /** `v` unit-normalized, as the float array the PQ kernels take. */
  private def unit(v: Column): Column = normalize(v).cast("array<float>")

  /** Exact brute-force top-k cosine: broadcast the probes, one pass
    * over the corpus, per-probe bounded rank. The baseline every ANN
    * variant is measured against.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame =
    search(corpus, probes, idCol, vecCol, k,
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
      probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec")))

  /** IVF-flat-style ANN: a deterministic coarse quantizer (sign bits
    * of `cellBits` seeded hyperplane projections) assigns corpus and
    * probes to cells; search is brute force within the probed cells.
    * Multi-probe (the standard IVF nprobe knob): each probe also
    * searches every cell within Hamming distance 1 of its own —
    * cellBits+1 of the 2^cellBits cells — because a near neighbor
    * that disagrees on a single hyperplane sign lands one bit away;
    * single-cell probing loses most of the recall. Cells partition
    * the corpus, so candidates are never duplicated.
    *
    * Scale path: per-probe work is ~(cellBits+1)/2^cellBits of the
    * corpus — tune cellBits to corpus size. Recall vs bruteForceTopK
    * is asserted in SimilaritySpec.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame,
              idCol: String, vecCol: String, k: Int,
              dim: Int, cellBits: Int = 4, seed: Long = 42L): DataFrame =
    search(corpus, probes, idCol, vecCol, k,
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        cellOf(col(vecCol), dim, cellBits, seed).as("cell")),
      probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        explode(hammingBall(cellOf(col(vecCol), dim, cellBits, seed), cellBits)).as("cell")))

  /** The one Lloyd's trainer behind [[trainIvfCentroids]] (`m` = 1)
    * and [[trainPqCodebooks]]: k-means on `m` equal subspaces of `vec`
    * at once, fully deterministic given the seed — init is the first
    * k vectors in (xxhash64(id), id) order sliced per subspace,
    * iterations are fixed. Each iteration assigns the training rows
    * with `assign(books)` (a pure projection) and recomputes the means
    * in one posexplode + map-side-partial groupBy over
    * (subspace, `codeOf(assignment, subspace)`, position): one bounded
    * shuffle. The assignment is a parameter because the two trainers
    * differ there: IVF assigns by max cosine, PQ by min squared L2.
    * Returns books[subspace][code][dim-within-subspace].
    */
  private def lloyd(corpus: DataFrame, idCol: String, vec: Column, k: Int, dim: Int,
                    iters: Int, trainFraction: Double, seed: Long, m: Int)
                   (assign: Seq[Seq[Seq[Double]]] => Column,
                    codeOf: (Column, Column) => Column): Seq[Seq[Seq[Double]]] = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1, 100], got $iters")
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.operators.SideInputs
    // null elements would null the assignment (and NPE the typed
    // collects) — exclude them like wrong-dim vectors
    val base = corpus.select(col(idCol).as("id"), vec.as("vec"))
      .filter(size(col("vec")) === dim && !exists(col("vec"), _.isNull))
    val train = (if (trainFraction < 1.0)
      base.sample(withReplacement = false, trainFraction, seed) else base).persist()
    try {
      val initRows: Seq[Seq[Float]] = SideInputs.asList(
        train.orderBy(xxhash64(col("id")), col("id")).limit(k)
          .select(col("vec")).as[Seq[Float]], maxRows = k).value
      require(initRows.size == k, s"training set has only ${initRows.size} rows for k=$k")
      var books: Seq[Seq[Seq[Double]]] = (0 until m).map(mi =>
        initRows.map(_.slice(mi * subDim, (mi + 1) * subDim).map(_.toDouble)))
      for (_ <- 1 to iters) {
        val mi = (col("pos") / subDim).cast("int")
        val means = train
          .select(assign(books).as("codes"), posexplode(col("vec")).as(Seq("pos", "x")))
          .groupBy(mi.as("mi"), codeOf(col("codes"), mi).as("code"),
            (col("pos") % subDim).cast("int").as("sp"))
          .agg(avg(col("x")).as("mean"))
          .as[(Int, Int, Int, Double)]
        val byCell = SideInputs.asList(means, maxRows = k * dim).value
          .groupBy(r => (r._1, r._2))
        // empty cells keep their previous codeword (standard Lloyd's)
        books = books.zipWithIndex.map { case (book, mi) =>
          book.zipWithIndex.map { case (old, c) =>
            byCell.get((mi, c)).map(_.sortBy(_._3).map(_._4)).getOrElse(old)
          }
        }
      }
      books
    } finally { train.unpersist(); () }
  }

  /** Train an IVF coarse quantizer: k-means centroids via Lloyd's
    * algorithm, fully deterministic given the seed — init is the first
    * k vectors in (xxhash64(id), id) order, iterations are fixed.
    *
    * Scale shape: assignment is a pure projection (native fused-loop
    * [[graft.expressions.NearestCentroid]] — no shuffle); the mean
    * recompute explodes the TRAINING SAMPLE to (cid, pos, x) triples
    * and partial-aggregates map-side, so one bounded shuffle per
    * iteration. Train on a sample (`trainFraction`) at scale — IVF
    * quantizers need ~100–1000 points per centroid, not the corpus.
    * The k×dim centroid matrix itself is a side input (scio's
    * annoy/voyager index analogue) and rides through the guarded
    * SideInputs collect path.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, dim: Int, iters: Int = 4,
                        trainFraction: Double = 1.0, seed: Long = 42L): Seq[Seq[Double]] = {
    require(k >= 2 && k.toLong * dim <= 16L * 1000 * 1000,
      s"k×dim must fit a driver-side side input, got k=$k dim=$dim")
    lloyd(corpus, idCol, col(vecCol), k, dim, iters, trainFraction, seed, m = 1)(
      books => nearestCentroidF(col("vec"), books.head), (cid, _) => cid).head
  }

  /** Artifact files (the index-as-artifact contract, like scio's saved
    * Annoy/Voyager index and graft's GraftBloom/GraftCms): a 4-byte
    * magic, the int shape, then row-major doubles, written through
    * [[graft.util.Artifacts.write]] (temp + atomic rename).
    */
  private def writeArtifact(spark: SparkSession, path: String, magic: Int,
                            shape: Seq[Int], values: Seq[Double]): Unit =
    graft.util.Artifacts.write(spark, path) { os =>
      val out = new java.io.DataOutputStream(os)
      out.writeInt(magic)
      shape.foreach(out.writeInt)
      values.foreach(out.writeDouble)
    }

  private def readArtifact[T](spark: SparkSession, path: String, magic: Int, what: String,
                              rank: Int)(body: (Seq[Int], java.io.DataInputStream) => T): T =
    graft.util.Artifacts.read(spark, path) { is =>
      val in = new java.io.DataInputStream(is)
      require(in.readInt() == magic, s"$path is not a graft $what file")
      body(Seq.fill(rank)(in.readInt()), in)
    }

  /** Persist a trained quantizer: train once over today's corpus,
    * save, and every downstream job loads centroids instead of
    * re-running Lloyd's. Format: magic "GIVF", k, dim, row-major
    * doubles.
    *
    * The write is temp + atomic rename: a reader racing a concurrent
    * writer of the same artifact sees either the old complete file or
    * the new complete file, never a torn one. When two writers race,
    * either complete copy is correct — the artifact is deterministic
    * for a given corpus.
    */
  def saveCentroids(spark: SparkSession, centroids: Seq[Seq[Double]], path: String): Unit = {
    require(centroids.nonEmpty && centroids.forall(_.size == centroids.head.size),
      "centroids must be non-empty and rectangular")
    writeArtifact(spark, path, 0x47495646, Seq(centroids.size, centroids.head.size),
      centroids.flatten)
  }

  /** Load a quantizer written by [[saveCentroids]]. */
  def loadCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] =
    readArtifact(spark, path, 0x47495646, "IVF centroid", rank = 2) { (shape, in) =>
      val Seq(k, dim) = shape
      Seq.fill(k)(Seq.fill(dim)(in.readDouble()))
    }

  /** IVF-flat search with a TRAINED quantizer (vs [[ivfTopK]]'s
    * data-independent hyperplane cells): corpus rows are assigned to
    * their nearest centroid (pure projection), each probe searches its
    * `nprobe` nearest cells — the classic IVF nprobe/recall trade —
    * and candidates are ranked by exact fused-loop cosine with the
    * per-probe top-k bounded before the final sort (Spark 4
    * WindowGroupLimit). Per-probe work ≈ nprobe/k of the corpus.
    */
  def ivfKMeansTopK(corpus: DataFrame, probes: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    centroids: Seq[Seq[Double]], nprobe: Int = 4): DataFrame = {
    val p = nearestCells(probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec")),
      Seq("probe_id", "probe_vec"), centroids, nprobe)
    search(corpus, probes, idCol, vecCol, k,
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        nearestCentroidF(col(vecCol), centroids).as("cell")), p)
  }

  /** Train product-quantization codebooks: per-subspace k-means, all
    * M subspaces jointly — one bounded shuffle per Lloyd's iteration
    * (assign is the pure-projection [[graft.expressions.PqEncode]];
    * the mean recompute explodes the TRAINING SAMPLE to
    * (subspace, code, pos, x) and partial-aggregates map-side), the
    * same scale shape as [[trainIvfCentroids]]. Deterministic given
    * the seed: init is the first k vectors in (xxhash64(id), id)
    * order sliced per subspace, iterations are fixed.
    *
    * Vectors are unit-normalized before training iff `normalizeFirst`
    * (default): [[pqTopK]] scores normalized vectors so ADC dot ≈
    * cosine, and the codebooks must quantize the same space.
    *
    * Returns codebooks[subspace][code][dim-within-subspace] — the
    * side-input artifact ([[savePqCodebooks]]) every encode/search
    * job loads instead of re-running Lloyd's.
    */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, dim: Int, iters: Int = 4,
                       trainFraction: Double = 1.0, seed: Long = 42L,
                       normalizeFirst: Boolean = true): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim must split evenly: dim=$dim m=$m")
    require(k >= 2 && k <= 256, s"codes must fit one byte: k in [2, 256], got $k")
    require(k.toLong * dim <= 16L * 1000 * 1000,
      s"k×dim must fit a driver-side side input, got k=$k dim=$dim")
    val vec = if (normalizeFirst) unit(col(vecCol)) else col(vecCol)
    // byte mi of the binary code, extracted with builtins (two hex
    // chars per byte) — keeps the whole assign+explode projection
    // codegen'd with no extra kernel.
    lloyd(corpus, idCol, vec, k, dim, iters, trainFraction, seed, m)(
      books => pqEncodeF(col("vec"), books),
      (codes, mi) => conv(hex(codes).substr(mi * 2 + 1, lit(2)), 16, 10).cast("int"))
  }

  /** Persist trained PQ codebooks (magic "GPQ1", m, k, subDim,
    * row-major doubles) — same temp + atomic-rename artifact contract
    * as [[saveCentroids]].
    */
  def savePqCodebooks(spark: SparkSession, codebooks: Seq[Seq[Seq[Double]]],
                      path: String): Unit = {
    graft.expressions.PqCodebooks.validate(codebooks)
    writeArtifact(spark, path, 0x47505131,
      Seq(codebooks.size, codebooks.head.size, codebooks.head.head.size),
      codebooks.flatten.flatten)
  }

  /** Load codebooks written by [[savePqCodebooks]]. */
  def loadPqCodebooks(spark: SparkSession, path: String): Seq[Seq[Seq[Double]]] =
    readArtifact(spark, path, 0x47505131, "PQ codebook", rank = 3) { (shape, in) =>
      val Seq(m, k, subDim) = shape
      require(m >= 1 && m <= 4096 && k >= 1 && k <= 256 && subDim >= 1 && subDim <= 65536,
        s"$path declares implausible PQ shape m=$m k=$k subDim=$subDim")
      Seq.fill(m)(Seq.fill(k)(Seq.fill(subDim)(in.readDouble())))
    }

  /** PQ-compressed ANN: candidates ranked by asymmetric-distance
    * lookups over M-byte codes, then the top `refine` per probe
    * re-ranked by exact cosine. Two phases, both scale-shaped:
    *
    *  1. ADC pass — the corpus is projected to (id, codes): M bytes
    *     per row instead of 4·dim, which is what flows through the
    *     candidate window. Probes precompute their M×k LUT once
    *     (pre-broadcast), so each candidate costs M table lookups.
    *  2. Refine pass — only the ≤ refine×#probes surviving candidate
    *     ids join back to the corpus for raw vectors (AQE broadcasts
    *     the candidate side when it is small, which it is by
    *     construction at realistic `refine`) and are re-ranked by the
    *     exact fused-loop cosine.
    *
    * Both sides are unit-normalized for the ADC phase so the
    * approximate dot IS approximate cosine; the refine cosine runs on
    * raw vectors (cosine is normalization-invariant). With `refine` ≥
    * corpus size the result is exactly [[bruteForceTopK]] — the
    * oracle-exact gate shape; recall at realistic refine is pinned in
    * SimilaritySpec.
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame,
             idCol: String, vecCol: String, k: Int,
             codebooks: Seq[Seq[Seq[Double]]], refine: Int = 50): DataFrame = {
    graft.expressions.PqCodebooks.validate(codebooks)
    search(corpus, probes, idCol, vecCol, k,
      corpus.select(col(idCol).as("id"), pqEncodeF(unit(col(vecCol)), codebooks).as("codes")),
      probes.select(col(idCol).as("probe_id"), pqLutF(unit(col(vecCol)), codebooks).as("lut")),
      adc = Some((codebooks.head.size, refine)))
  }

  /** IVF-PQ: the composed scale architecture (what FAISS calls
    * IndexIVFPQ — coarse quantizer + product codes). The corpus is
    * projected once to (cell, id, codes): an int and M bytes per row.
    * Each probe searches only its `nprobe` nearest cells (the IVF
    * prune from [[ivfKMeansTopK]]), scores the cells' candidates by
    * ADC lookups (the PQ compression from [[pqTopK]]), and the top
    * `refine` survivors join back for the exact-cosine re-rank.
    * Per-probe work ≈ (nprobe / #centroids) · corpus, touching M
    * bytes per candidate — the shape that holds at 100 TB.
    *
    * With nprobe = #centroids AND refine ≥ corpus the search
    * degenerates to exhaustive exact ranking ([[bruteForceTopK]]) —
    * the oracle-exact gate shape; recall at realistic knobs is pinned
    * in SimilaritySpec.
    */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame,
                idCol: String, vecCol: String, k: Int,
                centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
                nprobe: Int = 4, refine: Int = 50): DataFrame = {
    graft.expressions.PqCodebooks.validate(codebooks)
    // probe side: nprobe nearest cells (by centroid cosine) × its LUT
    val p = nearestCells(probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      pqLutF(unit(col(vecCol)), codebooks).as("lut")), Seq("probe_id", "lut"), centroids, nprobe)
    search(corpus, probes, idCol, vecCol, k,
      corpus.select(col(idCol).as("id"), nearestCentroidF(col(vecCol), centroids).as("cell"),
        pqEncodeF(unit(col(vecCol)), codebooks).as("codes")), p,
      adc = Some((codebooks.head.size, refine)))
  }

  /** Distributed search over a driver-built local index (Annoy,
    * Voyager): broadcast the index once and probe it per partition.
    * `query` returns one probe's (item, score) hits, best first; the
    * output is (probe_id, rank, `item`, `score`), rank 1 = best.
    */
  private[similarity] def searchLocalIndex[I: scala.reflect.ClassTag](
      index: I, probes: DataFrame, idCol: String, vecCol: String, item: StructField,
      score: StructField)(query: (I, Array[Float]) => Seq[(Any, Double)]): DataFrame = {
    val bc = probes.sparkSession.sparkContext.broadcast(index)
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(StructType(Seq(
      StructField("probe_id", LongType, nullable = false),
      StructField("rank", IntegerType, nullable = false), item, score)))
    probes.select(col(idCol).cast("long"), col(vecCol)).mapPartitions { rows =>
      val idx = bc.value
      rows.flatMap { r =>
        val pid = r.getLong(0)
        query(idx, r.getSeq[Float](1).toArray).zipWithIndex.map { case ((it, s), rank) =>
          Row(pid, rank + 1, it, s)
        }
      }
    }
  }

  /** Embedding-based near-dup detection: nearest neighbor per probe
    * with a duplicate flag at the given cosine threshold.
    */
  def nearDupByEmbedding(corpus: DataFrame, probes: DataFrame,
                         idCol: String, vecCol: String, threshold: Double): DataFrame =
    bruteForceTopK(corpus, probes, idCol, vecCol, k = 1)
      .select(col("probe_id"), col("id").as("nn_id"), col("cos_sim"),
        (col("cos_sim") >= threshold).as("is_dup"))

  /** Corpus-scale all-pairs embedding near-dup: LSH-bucketed self-join
    * (no probe set — the whole corpus against itself, never n²).
    * Candidates are pairs whose hyperplane cells differ in ≤1 bit
    * (side `a` explodes to its Hamming-1 ball, side `b` keeps its own
    * cell, so each qualifying pair matches exactly once — no dedup
    * pass); each candidate is verified with the exact fused cosine.
    *
    * Hot-cell contract (as in Dedup LSH): cells with more than
    * `maxBucket` members are dropped from BOTH sides — membership is
    * a broadcast anti-join against the ≤2^cellBits cell-count frame —
    * bounding any join key's output at ~(cellBits+1)·maxBucket².
    * Recall: a pair differing in ≥2 cell bits is not considered
    * (raise cellBits for smaller cells, or run [[bruteForceTopK]] on
    * a probe set for exact neighbors).
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String, threshold: Double,
                   dim: Int, cellBits: Int = 4, seed: Long = 42L,
                   maxBucket: Int = 100000): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    val (cool, hotCells) = withoutHot(corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      cellOf(col(vecCol), dim, cellBits, seed).as("cell")), "cell", maxBucket)
    val probed = cool
      .select(col("id"), col("vec"), explode(hammingBall(col("cell"), cellBits)).as("cell"))
      .join(broadcast(hotCells), Seq("cell"), "left_anti")
    probed.as("a")
      .join(cool.as("b"), col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineF(col("a.vec"), col("b.vec")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Per-row nearest-centroid assignment + cosine similarity to that
    * centroid — embedding-space quality scoring: rows far from every
    * cluster of the (historical) corpus are OOD/noise/garbage
    * embeddings, the vector-space analogue of the corpus-LM tail.
    * Pure projection over the broadcast centroid literals (the fused
    * [[graft.expressions.NearestCentroid]] argmax + ONE cosine against
    * the selected centroid via `element_at` — no join, no shuffle);
    * centroids come from [[trainIvfCentroids]]/[[loadCentroids]] or
    * any fixed reference set. Zero/degenerate vectors assign cluster 0
    * with similarity 0 (the NearestCentroid contract).
    */
  def centroidSimilarity(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val centLit = typedLit(centroids.map(_.map(_.toFloat)))
    val idx = nearestCentroidF(col(vecCol), centroids)
    df.select(col(idCol).as("id"), idx.as("cluster"),
      round(cosineF(col(vecCol).cast("array<float>"),
        element_at(centLit, idx + 1)), 6).as("centroid_sim"))
  }

  /** OOD flags from [[centroidSimilarity]]: `is_outlier` when the
    * similarity to the nearest corpus centroid falls below `minSim`
    * (null similarity — malformed vector — flags true: a vector the
    * reference space cannot place is exactly what the filter exists
    * to catch).
    */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[Seq[Double]], minSim: Double): DataFrame =
    centroidSimilarity(df, idCol, vecCol, centroids)
      .withColumn("is_outlier",
        coalesce(col("centroid_sim") < minSim, lit(true)))

  /** [[semanticDedup]]'s default hot-cluster exemption bound — shared
    * with the q_semantic_dedup oracle SQL (which must mirror the
    * exemption exactly or false-fail once a cluster crosses it), so
    * the two texts cannot drift (SimilaritySpec pins the mirror).
    */
  val DefaultMaxCluster: Int = 100000

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): k-means clusters
    * bound the pair search — cosine comparisons happen only WITHIN a
    * cluster, never across, so the quadratic term is per-cluster and
    * capped — and a point is dropped when a lower-id point in its
    * cluster sits above the cosine threshold (the paper keeps one
    * representative per semantic-dup group; min id makes that choice
    * deterministic). Returns (id, cluster, keep).
    *
    * Pass centroids from [[trainIvfCentroids]] (train once, persist,
    * reuse — the quantizer artifact contract). Clusters larger than
    * `maxCluster` are excluded from pair generation and their members
    * kept — the hot-bucket contract of [[nearDupPairs]]: a degenerate
    * mega-cluster belongs to exact/minhash dedup, not an O(m²) scan.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Double]], threshold: Double,
                    maxCluster: Int = DefaultMaxCluster): DataFrame = {
    require(maxCluster > 0, s"maxCluster must be positive, got $maxCluster")
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      nearestCentroidF(col(vecCol), centroids).as("cluster"))
    val (cool, _) = withoutHot(assigned, "cluster", maxCluster)
    val dominated = cool.as("a")
      .join(cool.as("b"), col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(cosineF(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("b.id").as("__dup_id")).distinct()
    assigned.join(dominated, col("id") === col("__dup_id"), "left")
      .select(col("id"), col("cluster"), col("__dup_id").isNull.as("keep"))
  }
}
