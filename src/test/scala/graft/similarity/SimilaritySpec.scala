package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecDf(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("bruteForceTopK returns exact cosine order, excludes self") {
    // hand-checkable 2-d vectors: cos(v1, [1,0]) ranks by angle
    val corpus = vecDf(
      1L -> Seq(1f, 0f), 2L -> Seq(1f, 1f), 3L -> Seq(0f, 1f), 4L -> Seq(-1f, 0f))
    val probes = vecDf(1L -> Seq(1f, 0f))
    val out = KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k = 3)
      .orderBy(col("rank")).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L, 4L)) // by descending cosine
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    assert(math.abs(out(0).getAs[Double]("cos_sim") - math.sqrt(0.5)) < 1e-9)
    assert(out.forall(_.getAs[Long]("id") != 1L))
  }

  test("ivfTopK: candidate scores are exact (vs brute force on real embeddings)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = emb.filter(col("vec_id") <= 10)
    val ivf = KNN.ivfTopK(emb, probes, "vec_id", "embedding", k = 5, dim = 64, cellBits = 4)
    val bruteScores = KNN.bruteForceTopK(emb, probes, "vec_id", "embedding", 1000000)
      .select(col("probe_id"), col("id"), col("cos_sim").as("brute_sim"))
    val maxDiff = ivf.join(bruteScores, Seq("probe_id", "id"))
      .select(abs(col("cos_sim") - col("brute_sim")).as("d")).agg(max("d")).as[Double].head()
    assert(maxDiff < 1e-9)
  }

  test("nearDupPairs: every emitted pair is exact-cosine-verified; near-identical vectors found") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // plant an exact duplicate pair in the corpus (ids far above real ones)
    val probe = emb.filter(col("vec_id") === 1)
    val planted = emb
      .unionByName(probe.select(lit(900001L).as("vec_id"), col("embedding")))
      .unionByName(probe.select(lit(900002L).as("vec_id"), col("embedding")))
    val pairs = KNN.nearDupPairs(planted, "vec_id", "embedding",
      threshold = 0.99, dim = 64, cellBits = 4)
    val found = pairs.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // identical vectors share a cell → all three planted pairs surface
    assert(found.contains((1L, 900001L)) && found.contains((1L, 900002L))
      && found.contains((900001L, 900002L)), s"got $found")
    // emitted cosines are exact (match brute-force recomputation)
    val withBrute = pairs.as("p")
      .join(planted.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(planted.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
    import graft.expressions.VectorExpressions.cosineF
    val maxDiff = withBrute
      .select(abs(col("cos_sim") - cosineF(col("va"), col("vb"))).as("d"))
      .agg(max("d")).as[Double].head()
    assert(maxDiff < 1e-12)
  }

  test("nearDupPairs hot-cell cap drops degenerate cells from pair generation") {
    // 500 copies of one vector: its cell blows past maxBucket=100 and
    // must produce ZERO pairs instead of ~125k
    val dup = (1L to 500L).map(i => (i, Seq.fill(8)(1f))).toDF("vec_id", "embedding")
    assert(KNN.nearDupPairs(dup, "vec_id", "embedding", 0.5, dim = 8,
      cellBits = 4, maxBucket = 100).count() == 0L)
    // with the cap above corpus size they all pair up
    assert(KNN.nearDupPairs(dup, "vec_id", "embedding", 0.5, dim = 8,
      cellBits = 4, maxBucket = 1000).count() == 500L * 499L / 2L)
  }

  test("ivfTopK: high recall where near neighbors actually exist (clustered data)") {
    // LSH cells only help when the corpus has genuine neighborhoods —
    // on near-random vectors no partitioning beats chance, so recall
    // is asserted on seeded clustered data (10 tight clusters).
    val dim = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10, dim)(rnd.nextGaussian())
    val rows = for {
      c <- centers.indices
      i <- 0 until 30
    } yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq
      ((c * 30 + i).toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") % 30 === 0) // one probe per cluster
    val k = 5
    def neighborSets(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("probe_id").agg(collect_set(col("id")).as("ids"))
        .collect().map(r => r.getAs[Long]("probe_id") -> r.getSeq[Long](1).toSet).toMap
    val brute = neighborSets(KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k))
    val ivf = neighborSets(KNN.ivfTopK(corpus, probes, "vec_id", "embedding", k, dim, cellBits = 4))
    val recall = brute.keys.toSeq.map(p => (ivf.getOrElse(p, Set()) & brute(p)).size.toDouble / k)
      .sum / brute.size
    assert(recall >= 0.8, s"recall@$k was $recall")
  }

  test("trainIvfCentroids is deterministic and separates clustered data") {
    val dim = 8
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(4, dim)(rnd.nextGaussian() * 3)
    val rows = for { c <- centers.indices; i <- 0 until 50 } yield
      ((c * 50 + i).toLong, centers(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    val corpus = rows.toDF("vec_id", "embedding")
    val c1 = KNN.trainIvfCentroids(corpus, "vec_id", "embedding", k = 4, dim = dim, iters = 5)
    val c2 = KNN.trainIvfCentroids(corpus, "vec_id", "embedding", k = 4, dim = dim, iters = 5)
    assert(c1 == c2, "same seed + data must give identical centroids")
    // rows with null elements or wrong dim are excluded, not a crash
    val dirty = corpus.unionByName(Seq(
        (9001L, Seq[java.lang.Float](1f, null, 1f, 1f, 1f, 1f, 1f, 1f)),
        (9002L, Seq[java.lang.Float](1f))
      ).toDF("vec_id", "embedding"))
    val c3 = KNN.trainIvfCentroids(dirty, "vec_id", "embedding", k = 4, dim = dim, iters = 5)
    assert(c3.size == 4)
    // after training, each cluster's points agree on one cell
    val cid = graft.expressions.VectorExpressions.nearestCentroidF(col("embedding"), c1)
    val purity = corpus.select((col("vec_id") / 50).cast("int").as("truth"), cid.as("cell"))
      .groupBy("truth").agg(countDistinct("cell").as("cells"))
      .agg(max("cells")).as[Long].head()
    assert(purity == 1L, s"a true cluster split across cells: $purity")
  }

  test("centroid save/load roundtrip: search through a persisted quantizer") {
    val dim = 8
    val rnd = new scala.util.Random(7)
    val rows = for { c <- 0 until 3; i <- 0 until 40 } yield
      ((c * 40 + i).toLong, Array.fill(dim)((c * 5 + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    val corpus = rows.toDF("vec_id", "embedding")
    val cents = KNN.trainIvfCentroids(corpus, "vec_id", "embedding", k = 3, dim = dim, iters = 4)
    val d = java.nio.file.Files.createTempDirectory("graft_ivf").toFile
    d.deleteOnExit()
    val path = s"${d.getAbsolutePath}/quantizer.givf"
    KNN.saveCentroids(spark, cents, path)
    val loaded = KNN.loadCentroids(spark, path)
    assert(loaded == cents) // bit-exact doubles through the roundtrip
    // the loaded quantizer drives the same search results
    val probes = corpus.filter(col("vec_id") % 40 === 0)
    val a = KNN.ivfKMeansTopK(corpus, probes, "vec_id", "embedding", k = 3,
      centroids = cents, nprobe = 1).collect().map(_.toSeq).toSet
    val b = KNN.ivfKMeansTopK(corpus, probes, "vec_id", "embedding", k = 3,
      centroids = loaded, nprobe = 1).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("ivfKMeansTopK: exact candidate scores and high recall on clustered data") {
    val dim = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10, dim)(rnd.nextGaussian())
    val rows = for { c <- centers.indices; i <- 0 until 30 } yield
      ((c * 30 + i).toLong, centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    val corpus = rows.toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") % 30 === 0)
    val k = 5
    val cents = KNN.trainIvfCentroids(corpus, "vec_id", "embedding",
      k = 10, dim = dim, iters = 4)
    val ivf = KNN.ivfKMeansTopK(corpus, probes, "vec_id", "embedding", k, cents, nprobe = 3)
    // emitted scores are exact
    val brute = KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", 1000000)
      .select(col("probe_id"), col("id"), col("cos_sim").as("brute_sim"))
    val maxDiff = ivf.join(brute, Seq("probe_id", "id"))
      .select(abs(col("cos_sim") - col("brute_sim")).as("d")).agg(max("d")).as[Double].head()
    assert(maxDiff < 1e-9)
    // recall vs brute force top-k
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("probe_id").agg(collect_set(col("id")).as("ids"))
        .collect().map(r => r.getAs[Long]("probe_id") -> r.getSeq[Long](1).toSet).toMap
    val bs = sets(KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k))
    val is = sets(ivf)
    val recall = bs.keys.toSeq.map(p => (is.getOrElse(p, Set()) & bs(p)).size.toDouble / k)
      .sum / bs.size
    assert(recall >= 0.8, s"recall@$k was $recall")
  }

  // ---- product quantization ----

  private def clustered(dim: Int, nClusters: Int, perCluster: Int, seed: Int = 7) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val rows = for { c <- centers.indices; i <- 0 until perCluster } yield
      ((c * perCluster + i).toLong,
        centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    rows.toDF("vec_id", "embedding")
  }

  test("PQ encode: M bytes, codes in range, deterministic; ADC equals dot against the reconstruction") {
    import graft.expressions.PqExpressions._
    val dim = 16; val m = 4; val k = 8
    val corpus = clustered(dim, 8, 25)
    val books = KNN.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = m, k = k, dim = dim, iters = 3)
    assert(books.size == m && books.forall(_.size == k)
      && books.forall(_.forall(_.size == dim / m)))
    val unit = graft.functions.VectorFunctions.normalize(col("embedding")).cast("array<float>")
    val enc = corpus.select(col("vec_id"), unit.as("vec"),
      pqEncodeF(unit, books).as("codes"))
    val codeRows = enc.select(col("codes")).collect().map(_.getAs[Array[Byte]]("codes"))
    assert(codeRows.forall(c => c.length == m && c.forall(b => (b & 0xFF) < k)))
    // the ADC-LUT identity: sum of table lookups == dot(probe, decode(codes)), exactly
    val probe = enc.filter(col("vec_id") === 0)
      .select(col("vec").as("probe_vec"), pqLutF(col("vec"), books).as("lut"))
    import graft.expressions.VectorExpressions.dotF
    val maxDiff = enc.crossJoin(probe)
      .select(abs(pqAdcF(col("codes"), col("lut"), k)
        - dotF(col("probe_vec"), pqDecodeF(col("codes"), books))).as("d"))
      .agg(max("d")).as[Double].head()
    assert(maxDiff < 1e-12, s"ADC diverged from decoded dot by $maxDiff")
  }

  test("PQ null contract: wrong dim, null element, foreign code byte -> null, never a crash") {
    import graft.expressions.PqExpressions._
    val books = Seq.fill(2)(Seq.fill(4)(Seq(0.0, 1.0))) // m=2, k=4, subDim=2
    val df = Seq(
      (1L, Seq[java.lang.Float](1f, 2f, 3f, 4f)),   // ok
      (2L, Seq[java.lang.Float](1f, 2f)),           // wrong dim
      (3L, Seq[java.lang.Float](1f, null, 3f, 4f))  // null element
    ).toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"), pqEncodeF(col("embedding"), books).as("codes"))
      .orderBy("vec_id").collect()
    assert(out(0).getAs[Array[Byte]]("codes") != null)
    assert(out(1).isNullAt(1) && out(2).isNullAt(1))
    // a code byte >= k (foreign/corrupt codes) nulls decode and ADC
    val bad = Seq(Tuple1(Array[Byte](0, 9))).toDF("codes")
    assert(bad.select(pqDecodeF(col("codes"), books).as("v")).collect().head.isNullAt(0))
    val lut = Seq(Tuple1(Seq.fill(8)(1.0))).toDF("lut")
    assert(bad.crossJoin(lut).select(pqAdcF(col("codes"), col("lut"), 4).as("s"))
      .collect().head.isNullAt(0))
  }

  test("trainPqCodebooks is deterministic; dirty rows excluded") {
    val corpus = clustered(8, 4, 30, seed = 13)
    val b1 = KNN.trainPqCodebooks(corpus, "vec_id", "embedding", m = 2, k = 4, dim = 8, iters = 3)
    val b2 = KNN.trainPqCodebooks(corpus, "vec_id", "embedding", m = 2, k = 4, dim = 8, iters = 3)
    assert(b1 == b2, "same seed + data must give identical codebooks")
    val dirty = corpus.unionByName(Seq(
        (9001L, Seq[java.lang.Float](1f, null, 1f, 1f, 1f, 1f, 1f, 1f)),
        (9002L, Seq[java.lang.Float](1f))
      ).toDF("vec_id", "embedding"))
    val b3 = KNN.trainPqCodebooks(dirty, "vec_id", "embedding", m = 2, k = 4, dim = 8, iters = 3)
    assert(b3.size == 2 && b3.forall(_.size == 4))
  }

  test("PQ codebook save/load roundtrip is bit-exact; foreign files rejected") {
    val corpus = clustered(8, 4, 30)
    val books = KNN.trainPqCodebooks(corpus, "vec_id", "embedding", m = 2, k = 4, dim = 8, iters = 2)
    val d = java.nio.file.Files.createTempDirectory("graft_pq").toFile
    d.deleteOnExit()
    val path = s"${d.getAbsolutePath}/codebooks.gpq"
    KNN.savePqCodebooks(spark, books, path)
    assert(KNN.loadPqCodebooks(spark, path) == books)
    // an IVF centroid file (different magic) is rejected loudly
    val ivfPath = s"${d.getAbsolutePath}/centroids.givf"
    KNN.saveCentroids(spark, Seq(Seq(1.0, 2.0)), ivfPath)
    val err = intercept[IllegalArgumentException](KNN.loadPqCodebooks(spark, ivfPath))
    assert(err.getMessage.contains("not a graft PQ codebook"))
  }

  test("GIVF and GPQ1 formats are pinned: hand-written files load, save writes the same bytes") {
    def bytes(write: java.io.DataOutputStream => Unit): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(buf)
      write(out)
      out.flush()
      buf.toByteArray
    }
    // magic, shape ints, row-major big-endian doubles
    val cents = Seq(Seq(1.5, -2.0, 0.1), Seq(3.0, 4.25, -7e-3))
    val givf = bytes { o =>
      o.writeInt(0x47495646); o.writeInt(2); o.writeInt(3); cents.flatten.foreach(o.writeDouble)
    }
    val books = Seq(Seq(Seq(0.5, 1.0), Seq(-1.0, 2.0), Seq(0.3, 0.7)),
      Seq(Seq(3.0, 0.25), Seq(7.0, -8.5), Seq(1e-9, 1e9)))
    val gpq = bytes { o =>
      o.writeInt(0x47505131); o.writeInt(2); o.writeInt(3); o.writeInt(2)
      books.flatten.flatten.foreach(o.writeDouble)
    }
    val d = java.nio.file.Files.createTempDirectory("graft_formats").toFile
    d.deleteOnExit()
    def file(name: String) = java.nio.file.Paths.get(d.getAbsolutePath, name)
    java.nio.file.Files.write(file("hand.givf"), givf)
    java.nio.file.Files.write(file("hand.gpq"), gpq)
    assert(KNN.loadCentroids(spark, file("hand.givf").toString) == cents)
    assert(KNN.loadPqCodebooks(spark, file("hand.gpq").toString) == books)
    KNN.saveCentroids(spark, cents, file("saved.givf").toString)
    KNN.savePqCodebooks(spark, books, file("saved.gpq").toString)
    assert(java.nio.file.Files.readAllBytes(file("saved.givf")).sameElements(givf))
    assert(java.nio.file.Files.readAllBytes(file("saved.gpq")).sameElements(gpq))
  }

  test("plan shape: each search's final plan has one WindowGroupLimit per bounded rank") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.{Final, WindowGroupLimitExec}
    object Plans extends AdaptiveSparkPlanHelper
    // a bounded rank plans as a Final limit, with a Partial one below
    // the shuffle unless Spark finds it redundant; count the Final ones
    def limits(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      Plans.collect(df.queryExecution.executedPlan) {
        case w: WindowGroupLimitExec if w.mode == Final => w
      }.size
    }
    val dim = 16; val k = 5
    val corpus = clustered(dim, 10, 30)
    val probes = corpus.filter(col("vec_id") % 30 === 0)
    val cents = KNN.trainIvfCentroids(corpus, "vec_id", "embedding", k = 10, dim = dim, iters = 2)
    val books = KNN.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = 4, k = 16, dim = dim, iters = 2)
    // realistic knobs: the k, nprobe and refine bounds are all under
    // Spark's WindowGroupLimit threshold
    val counts = Map(
      "brute" -> limits(KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k)),
      "ivf" -> limits(KNN.ivfTopK(corpus, probes, "vec_id", "embedding", k, dim)),
      "ivfKMeans" -> limits(KNN.ivfKMeansTopK(corpus, probes, "vec_id", "embedding", k,
        cents, nprobe = 3)),
      "pq" -> limits(KNN.pqTopK(corpus, probes, "vec_id", "embedding", k, books, refine = 30)),
      "ivfPq" -> limits(KNN.ivfPqTopK(corpus, probes, "vec_id", "embedding", k,
        cents, books, nprobe = 3, refine = 30)))
    assert(counts == Map("brute" -> 1, "ivf" -> 1, "ivfKMeans" -> 2, "pq" -> 2, "ivfPq" -> 3),
      s"WindowGroupLimitExec nodes per search: $counts")
  }

  test("pqTopK: exact emitted scores, high recall at modest refine, brute-exact at full refine") {
    val dim = 16; val k = 5
    val corpus = clustered(dim, 10, 30)
    val probes = corpus.filter(col("vec_id") % 30 === 0)
    val books = KNN.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = 4, k = 16, dim = dim, iters = 4)
    // refine must cover a whole cluster here: the clusters are so
    // tight that same-cluster members share one code, so their ADC
    // scores tie exactly and a sub-cluster-size cut is id-order chance
    val pq = KNN.pqTopK(corpus, probes, "vec_id", "embedding", k, books, refine = 30)
    // emitted scores are exact (refine re-ranks with the true cosine)
    val brute = KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", 1000000)
      .select(col("probe_id"), col("id"), col("cos_sim").as("brute_sim"))
    val maxDiff = pq.join(brute, Seq("probe_id", "id"))
      .select(abs(col("cos_sim") - col("brute_sim")).as("d")).agg(max("d")).as[Double].head()
    assert(maxDiff < 1e-9)
    // recall vs brute force top-k at refine = 3k
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("probe_id").agg(collect_set(col("id")).as("ids"))
        .collect().map(r => r.getAs[Long]("probe_id") -> r.getSeq[Long](1).toSet).toMap
    val bs = sets(KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k))
    val ps = sets(pq)
    val recall = bs.keys.toSeq.map(p => (ps.getOrElse(p, Set()) & bs(p)).size.toDouble / k)
      .sum / bs.size
    assert(recall >= 0.8, s"recall@$k was $recall")
    // refine >= corpus makes the result identical to brute force
    val full = KNN.pqTopK(corpus, probes, "vec_id", "embedding", k, books, refine = 1000000)
      .select("probe_id", "id", "rank").collect().map(_.toSeq).toSet
    val bf = KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k)
      .select("probe_id", "id", "rank").collect().map(_.toSeq).toSet
    assert(full == bf)
  }

  test("ivfPqTopK: exact emitted scores, high recall at realistic knobs, brute-exact at full coverage") {
    val dim = 16; val k = 5
    val corpus = clustered(dim, 10, 30)
    val probes = corpus.filter(col("vec_id") % 30 === 0)
    val cents = KNN.trainIvfCentroids(corpus, "vec_id", "embedding", k = 10, dim = dim, iters = 4)
    val books = KNN.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = 4, k = 16, dim = dim, iters = 4)
    // realistic knobs: 3 of 10 cells probed, refine covers a cluster
    // (same tie rationale as the pqTopK test)
    val ivfpq = KNN.ivfPqTopK(corpus, probes, "vec_id", "embedding", k,
      cents, books, nprobe = 3, refine = 30)
    val brute = KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", 1000000)
      .select(col("probe_id"), col("id"), col("cos_sim").as("brute_sim"))
    val maxDiff = ivfpq.join(brute, Seq("probe_id", "id"))
      .select(abs(col("cos_sim") - col("brute_sim")).as("d")).agg(max("d")).as[Double].head()
    assert(maxDiff < 1e-9)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("probe_id").agg(collect_set(col("id")).as("ids"))
        .collect().map(r => r.getAs[Long]("probe_id") -> r.getSeq[Long](1).toSet).toMap
    val bs = sets(KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k))
    val is = sets(ivfpq)
    val recall = bs.keys.toSeq.map(p => (is.getOrElse(p, Set()) & bs(p)).size.toDouble / k)
      .sum / bs.size
    assert(recall >= 0.8, s"recall@$k was $recall")
    // full coverage (nprobe = all cells, refine >= corpus) == brute force
    val full = KNN.ivfPqTopK(corpus, probes, "vec_id", "embedding", k,
        cents, books, nprobe = cents.size, refine = 1000000)
      .select("probe_id", "id", "rank").collect().map(_.toSeq).toSet
    val bf = KNN.bruteForceTopK(corpus, probes, "vec_id", "embedding", k)
      .select("probe_id", "id", "rank").collect().map(_.toSeq).toSet
    assert(full == bf)
  }

  test("nearDupByEmbedding flags an exact duplicate vector") {
    val corpus = vecDf(1L -> Seq(1f, 2f, 3f), 2L -> Seq(1f, 2f, 3f), 3L -> Seq(-3f, 1f, 0f))
    val out = KNN.nearDupByEmbedding(corpus, corpus.filter(col("vec_id") === 1), "vec_id", "embedding", 0.95)
      .collect().head
    assert(out.getAs[Long]("nn_id") == 2L)
    assert(out.getAs[Boolean]("is_dup"))
    assert(math.abs(out.getAs[Double]("cos_sim") - 1.0) < 1e-9)
  }

  test("semanticDedup: lower-id representative survives, cross-cluster pairs never compared") {
    // two well-separated directions -> two k-means clusters; near-dups
    // only within the first
    val corpus = vecDf(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0.999f, 0.01f, 0f), // dups of each other
      3L -> Seq(0.998f, -0.02f, 0f),                        // also near 1
      4L -> Seq(0f, 0f, 1f), 5L -> Seq(0f, 0.01f, 0.999f))  // dup pair, other cluster
    val cents = KNN.trainIvfCentroids(corpus, "vec_id", "embedding", k = 2, dim = 3, iters = 5)
    val out = KNN.semanticDedup(corpus, "vec_id", "embedding", cents, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 5) // every vector assigned and present
    assert(out(1L) && !out(2L) && !out(3L)) // min id keeps, rest drop
    assert(out(4L) && !out(5L))
    // determinism: same inputs, same keeps
    val again = KNN.semanticDedup(corpus, "vec_id", "embedding", cents, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(again == out)
    // hot-cluster cap: everything in one capped cluster is kept (no pair scan)
    val capped = KNN.semanticDedup(corpus, "vec_id", "embedding", cents,
      threshold = 0.99, maxCluster = 1)
    assert(capped.filter(!col("keep")).count() == 0)
  }

  test("semanticDedup over-cap exemption: operator keeps a hot cluster untouched and the " +
      "oracle mirrors the SAME bound (shared constant, cannot drift)") {
    // a cluster OVER maxCluster holding GENUINE above-threshold dups:
    // the cap must exempt the whole cluster from pair generation (all
    // kept), not merely bound the scan — while an under-cap sibling
    // cluster still dedups normally in the same call
    val corpus = vecDf(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0.999f, 0.01f, 0f),
      3L -> Seq(0.998f, -0.02f, 0f),                        // hot cluster: 3 members, mutual dups
      4L -> Seq(0f, 0f, 1f), 5L -> Seq(0f, 0.01f, 0.999f))  // cool cluster: 2 members, dup pair
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0))
    val out = KNN.semanticDedup(corpus, "vec_id", "embedding", cents,
        threshold = 0.99, maxCluster = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && out(2L) && out(3L),
      "over-cap cluster members must ALL be kept (exempted from pair generation)")
    assert(out(4L) && !out(5L),
      "an under-cap cluster in the same call must still dedup (min id keeps)")
    // the drift pin: the registered oracle embeds the operator's OWN
    // default bound (fe4126e made the oracle mirror the exemption; a
    // one-sided edit to either text would false-fail the gate only at
    // sf ≳ 40 — this catches it at test time instead)
    val oracle = graft.SparkEntry.oracleSql("q_semantic_dedup")
    assert(oracle.contains(s"<= ${KNN.DefaultMaxCluster}"),
      s"q_semantic_dedup oracle no longer mirrors KNN.DefaultMaxCluster=" +
        s"${KNN.DefaultMaxCluster} — operator and oracle exemptions have drifted")
  }

  test("embeddingOutliers: OOD flags from nearest-centroid similarity, degenerate contracts") {
    // axis-aligned centroids in 4-d; rows on/near/far from them
    val cents = Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0))
    val rows = Seq(
      (1L, Array(10f, 0f, 0f, 0f)),   // exactly centroid 0 → sim 1
      (2L, Array(0f, 3f, 0.1f, 0f)),  // near centroid 1
      (3L, Array(0f, 0f, 1f, 1f)),    // orthogonal to both → sim 0, outlier
      (4L, Array(0f, 0f, 0f, 0f)),    // zero vector → cluster 0, sim 0, outlier
      (5L, Array(1f, 1f))             // wrong dim → null sim, outlier
    ).toDF("vec_id", "embedding")
    val out = KNN.embeddingOutliers(rows, "vec_id", "embedding", cents, minSim = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)),
          (if (r.isNullAt(2)) Double.NaN else r.getDouble(2)), r.getBoolean(3))).toMap
    assert(out(1L) == ((0, 1.0, false)))
    assert(out(2L)._1 == 1 && out(2L)._2 > 0.99 && !out(2L)._3)
    assert(out(3L)._2 == 0.0 && out(3L)._3)
    assert(out(4L) == ((0, 0.0, true)), "zero vector: cluster 0, sim 0, flagged")
    assert(out(5L)._2.isNaN && out(5L)._3, "malformed vector flags as outlier")
    intercept[IllegalArgumentException](
      KNN.embeddingOutliers(rows, "vec_id", "embedding", Nil, 0.5))
  }
}
