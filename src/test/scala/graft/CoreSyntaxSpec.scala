package graft

import org.apache.spark.sql.functions._
import graft.syntax._

/** SCollection-verb syntax (graft.syntax) semantics. */
class CoreSyntaxSpec extends SparkSpec {
  import spark.implicits._

  private lazy val kv = Seq(("a", 3), ("a", 1), ("b", 2), ("c", 5), ("c", 4)).toDF("k", "v")

  test("collectWith = filter + map in one (scio collect)") {
    val out = Seq(1, 2, 3, 4).toDS()
      .collectWith { case x if x % 2 == 0 => x * 10 }
      .collect().sorted
    assert(out.toSeq == Seq(20, 40))
  }

  test("keyBy pairs each element with its key") {
    val out = Seq("aa", "b", "cc").toDS().keyBy(_.length).collect().sortBy(_._2)
    assert(out.toSeq == Seq((2, "aa"), (1, "b"), (2, "cc")))
  }

  test("distinctByMin keeps the deterministic min representative") {
    val out = kv.distinctByMin(Seq("k"), "v").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a" -> 1, "b" -> 2, "c" -> 4))
  }

  test("countByValue counts groups") {
    val out = kv.countByValue("k").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 2, "b" -> 1, "c" -> 2))
  }

  test("topBy returns n rows in order without a global sort requirement") {
    val out = kv.topBy(2, col("v").desc).collect().map(_.getInt(1))
    assert(out.toSeq == Seq(5, 4))
  }

  test("sampleSystematic is deterministic and repeatable") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val a = df.sampleSystematic("l_orderkey", 7).count()
    val b = df.sampleSystematic("l_orderkey", 7).count()
    assert(a == b && a > 0 && a < df.count())
  }

  test("batched groups rows within partitions, preserving all elements") {
    val ds = spark.range(100).as[Long].repartition(4)
    val batches = ds.batched(8).collect()
    assert(batches.map(_.size).forall(_ <= 8))
    assert(batches.flatten.sorted.toSeq == (0L until 100L))
    intercept[IllegalArgumentException](ds.batched(0))
  }

  test("hashPartitions split disjointly and completely by key hash") {
    val df = spark.range(1000).toDF()
    val parts = df.hashPartitions(4, col("id"))
    assert(parts.map(_.count()).sum == 1000)
    assert(parts.combinations(2).forall { case Seq(a, b) => a.intersect(b).count() == 0 })
    // keyed form: same contract, keys named instead of columns
    val kparts = df.hashPartitionsByKey(4, Seq("id"))
    assert(kparts.map(_.count()).sum == 1000)
  }

  test("flattenValues explodes (key, values) pairs") {
    val df = Seq(("a", Seq(1, 2)), ("b", Seq(3)), ("c", Seq.empty[Int])).toDF("k", "vs")
    val out = df.flattenValues("k", "vs").collect()
      .map(r => (r.getString(0), r.getInt(1))).sorted
    assert(out.toSeq == Seq(("a", 1), ("a", 2), ("b", 3))) // empty lists vanish, as scio
  }

  test("batchedByKey chunks each key's values to at most n") {
    val ds = (1 to 25).map(i => (if (i <= 20) "a" else "b", i)).toDS()
    val out = ds.batchedByKey(8)(_._1).collect()
    assert(out.filter(_._1 == "a").map(_._2.size).sorted.toSeq == Seq(4, 8, 8))
    assert(out.filter(_._1 == "b").map(_._2.size).toSeq == Seq(5))
    assert(out.flatMap(_._2).map(_._2).sorted.toSeq == (1 to 25))
    intercept[IllegalArgumentException](ds.batchedByKey(0)(_._1))
  }

  test("batchedWeightedByKey bounds each key's batches by weight, loses nothing") {
    val ds = Seq(("a", "aa"), ("a", "bbbb"), ("a", "cc"), ("a", "dddddddddddd"),
      ("b", "e"), ("b", "ffff")).toDS()
    val out = ds.batchedWeightedByKey(6L)(_._1)(_._2.length.toLong).collect()
    assert(out.flatMap(_._2).map(_._2).sorted.toSeq ==
      Seq("aa", "bbbb", "cc", "dddddddddddd", "e", "ffff").sorted)
    assert(out.forall { case (k, b) => b.forall(_._1 == k) }) // no cross-key mixing
    assert(out.forall { case (_, b) => b.map(_._2.length).sum <= 6 || b.size == 1 })
    intercept[IllegalArgumentException](ds.batchedWeightedByKey(0L)(_._1)(_ => 1L))
  }

  test("batchedBytes bounds batches by weight; oversized rows travel alone") {
    val ds = Seq("aa", "bbbb", "cc", "dddddddddddd", "e").toDS().coalesce(1)
    val batches = ds.batchedBytes(6)(_.length.toLong).collect()
    assert(batches.flatten.toSeq.sorted == Seq("aa", "bbbb", "cc", "dddddddddddd", "e").sorted)
    assert(batches.forall(b => b.map(_.length).sum <= 6 || b.size == 1))
    intercept[IllegalArgumentException](ds.batchedBytes(0)(_.length.toLong))
  }

  test("partitionBy2 splits disjointly and completely") {
    val (evens, odds) = spark.range(20).toDF().partitionBy2(col("id") % 2 === 0)
    assert(evens.count() == 10 && odds.count() == 10)
    assert(evens.intersect(odds).count() == 0)
  }

  test("topByKey bounds rank per key") {
    val out = kv.topByKey(Seq("k"), 1, col("v").desc).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a" -> 3, "b" -> 2, "c" -> 5))
  }

  test("latestByKey picks the value at max timestamp") {
    val df = Seq(("u1", 10L, "old"), ("u1", 20L, "new"), ("u2", 5L, "only"))
      .toDF("k", "ts", "v")
    val out = df.latestByKey(Seq("k"), "ts", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("u1" -> "new", "u2" -> "only"))
  }

  test("swapped flips a 2-column frame") {
    val out = Seq(("a", 1)).toDF("k", "v").swapped
    assert(out.columns.toSeq == Seq("v", "k"))
  }

  test("randomSplit covers all rows with no overlap (scio randomSplit)") {
    val df = spark.range(1000).toDF()
    val Array(a, b) = df.randomSplit(Array(0.5, 0.5), seed = 42L)
    assert(a.count() + b.count() == 1000)
    assert(a.intersect(b).count() == 0)
  }

  test("sampleWeighted biases toward heavy rows and returns exactly n") {
    val df = (1 to 1000).map(i => (i.toLong, if (i <= 10) 1000.0 else 0.001))
      .toDF("id", "w")
    val out = df.sampleWeighted(10, "w").select("id").as[Long].collect()
    assert(out.length == 10)
    // the 10 heavy rows carry ~99.99% of total weight
    assert(out.count(_ <= 10) >= 8, s"got ${out.toSeq.sorted}")
  }

  test("sampleWeighted excludes non-positive and NaN weights") {
    val df = Seq((1L, 5.0), (2L, -1.0), (3L, 0.0), (4L, Double.NaN)).toDF("id", "w")
    val out = df.sampleWeighted(4, "w").select("id").as[Long].collect()
    assert(out.toSeq == Seq(1L))
  }

  test("sampleByKey applies per-key fractions and drops unlisted keys") {
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "a" else "b", i)).toDF("k", "v")
    val out = df.sampleByKey("k", Map("a" -> 0.5))
    val byKey = out.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byKey.contains("b"))
    assert(math.abs(byKey("a") - 500L) < 100, s"got $byKey")
    assert(out.count() == df.sampleByKey("k", Map("a" -> 0.5)).count()) // deterministic
  }

  test("graft_cosine / graft_dot are registered SQL functions") {
    Seq((Seq(1f, 0f), Seq(1f, 1f))).toDF("a", "b").createOrReplaceTempView("vec_pair")
    val out = spark.sql(
      "SELECT graft_cosine(a, b) AS c, graft_dot(a, b) AS d FROM vec_pair").collect().head
    assert(math.abs(out.getDouble(0) - math.sqrt(0.5)) < 1e-12)
    assert(out.getDouble(1) == 1.0)
  }

  test("graft_excise_tokens is a registered SQL function") {
    val out = spark.sql(
      "SELECT graft_excise_tokens(array('a','b','c','d','e'), array(1L), 2) AS kept")
      .as[Seq[String]].collect().head
    assert(out == Seq("a", "d", "e"))
  }

  test("graft_hyperplane_cell / graft_minhash_agg / graft_simhash_agg SQL functions " +
      "match their column-level forms") {
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(50)
      .createOrReplaceTempView("sql_vecs")
    val planes = graft.functions.VectorFunctions.hyperplanes(64, 4, 42L).map(_.toSeq).toSeq
    val viaSql = spark.sql(
      "SELECT vec_id, graft_hyperplane_cell(embedding, 64, 4, 42) AS cell FROM sql_vecs")
    val viaCol = spark.table("sql_vecs").select(col("vec_id"),
      graft.expressions.VectorExpressions.hyperplaneCellF(col("embedding"), planes).as("cell2"))
    assert(viaSql.join(viaCol, Seq("vec_id"))
      .filter(col("cell") =!= col("cell2")).count() == 0L)

    Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("id", "h").createOrReplaceTempView("sql_hashes")
    val sqlAggs = spark.sql(
      """SELECT id, graft_minhash_agg(h, 8) AS sig, graft_simhash_agg(h) AS sh
        |FROM sql_hashes GROUP BY id""".stripMargin)
    val colAggs = spark.table("sql_hashes").groupBy("id").agg(
      graft.expressions.MinHashAgg.minhashAggF(col("h"), 8).as("sig2"),
      graft.expressions.SimHashAgg.simhashAggF(col("h")).as("sh2"))
    assert(sqlAggs.join(colAggs, Seq("id"))
      .filter(col("sig") =!= col("sig2") || col("sh") =!= col("sh2")).count() == 0L)
  }

  test("flattened unwraps element collections (scio flatten)") {
    val ds = Seq(Seq(1, 2), Seq(), Seq(3)).toDS()
    assert(ds.flattened.collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("batchedWeighted bounds each batch by the element weights") {
    val ds = Seq("aa", "bbb", "c", "dddd", "e").toDS().coalesce(1)
    val batches = ds.batchedWeighted(5L)(_.length.toLong).collect()
    assert(batches.flatten.sorted.toSeq == Seq("aa", "bbb", "c", "dddd", "e").sorted)
    assert(batches.forall(b => b.map(_.length).sum <= 5 || b.size == 1))
    intercept[IllegalArgumentException](ds.batchedWeighted(0L)(_.length.toLong))
  }

  test("partitionByValues yields one frame per listed key over a shared plan") {
    val df = Seq(("a", 1), ("b", 2), ("a", 3), ("z", 9)).toDF("k", "v")
    val parts = df.partitionByValues("k", Seq("a", "b"))
    assert(parts("a").count() == 2 && parts("b").count() == 1)
    assert(parts.values.map(_.count()).sum == 3) // unlisted key "z" in none
  }

  test("sampleBytes keeps total sampled weight within the byte budget") {
    val df = spark.range(2000).selectExpr("id", "CAST(100 AS BIGINT) AS sz")
    val out = df.sampleBytes(5000L, col("sz"))
    val total = out.agg(sum("sz")).head().getLong(0)
    assert(total <= 5000L, s"budget exceeded: $total")
    assert(out.count() >= 30, "sample suspiciously small for a 5000/100 budget")
    // deterministic under the seed
    assert(out.count() == df.sampleBytes(5000L, col("sz")).count())
  }

  test("sampleBytesOrdered is the exact budgeted prefix in order-key rank, any partitioning") {
    val df = spark.range(1, 501)
      .selectExpr("id", "((id * 2654435761) % 100003) AS ord", "(id % 7 + 1) * 10 AS sz")
    val out = df.sampleBytesOrdered(1000L, col("sz"), "ord")
    // brute-force expectation: ascending-ord prefix whose running total fits
    val rows = df.collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).sortBy(_._1)
    val expect = rows.scanLeft((0L, -1L)) { case ((cum, _), (_, id, sz)) => (cum + sz, id) }
      .drop(1).takeWhile(_._1 <= 1000L).map(_._2).toSet
    assert(out.select("id").collect().map(_.getLong(0)).toSet == expect)
    // layout-independent: a different partitioning yields the identical set
    val re = df.repartition(13).sampleBytesOrdered(1000L, col("sz"), "ord")
    assert(re.select("id").collect().map(_.getLong(0)).toSet == expect)
  }

  test("saveAsZstdDictionary trains and writes a usable dictionary") {
    val corpus = (1 to 500).map(i =>
      s"common prefix shared by every document $i common suffix shared too".getBytes("UTF-8"))
      .toDF("value")
    val path = "/tmp/graft_test/zstd_dict/dict.bin"
    val dict = graft.sources.Sources.saveAsZstdDictionary(corpus, "value", path,
      dictSizeBytes = 16 * 1024, maxTrainingBytes = 1024 * 1024)
    assert(dict.length > 0 && dict.length <= 16 * 1024)
    // zstd dictionary magic number 0xEC30A437 (little-endian on disk)
    val onDisk = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(onDisk.toSeq == dict.toSeq)
    assert((dict(0) & 0xFF) == 0x37 && (dict(1) & 0xFF) == 0xA4 &&
      (dict(2) & 0xFF) == 0x30 && (dict(3) & 0xFF) == 0xEC)
    // and it actually helps compress a corpus member
    val sample = "common prefix shared by every document 9999 common suffix shared too".getBytes("UTF-8")
    val withDict = com.github.luben.zstd.Zstd.compress(sample, new com.github.luben.zstd.ZstdDictCompress(dict, 3))
    val without = com.github.luben.zstd.Zstd.compress(sample, 3)
    assert(withDict.length < without.length)
  }

  test("typed reduceByKey / foldByKey merge values per key") {
    val ds = Seq(("a", 1), ("a", 2), ("b", 5)).toDS()
    assert(ds.reduceByKey(_ + _).collect().sorted.toSeq == Seq(("a", 3), ("b", 5)))
    assert(ds.foldByKey(0)(_ + _).collect().sorted.toSeq == Seq(("a", 3), ("b", 5)))
  }

  test("typed aggregateByKey with a different accumulator type") {
    val ds = Seq(("a", 1), ("a", 2), ("a", 4), ("b", 5)).toDS()
    val out = ds.aggregateByKey(List.empty[Int])((acc, v) => v :: acc, _ ++ _)
      .collect().map { case (k, vs) => k -> vs.sorted }.toMap
    assert(out == Map("a" -> List(1, 2, 4), "b" -> List(5)))
  }

  test("typed mapValues preserves keys") {
    val out = Seq(("a", 1), ("b", 2)).toDS().mapValuesTyped(_ * 10).collect().sorted
    assert(out.toSeq == Seq(("a", 10), ("b", 20)))
  }

  test("typed mapKeys / filterValues / flatMapValues") {
    val ds = Seq(("a", 1), ("b", 2), ("c", 3)).toDS()
    assert(ds.mapKeysTyped(_.toUpperCase).collect().sorted.toSeq ==
      Seq(("A", 1), ("B", 2), ("C", 3)))
    assert(ds.filterValues(_ % 2 == 1).collect().sorted.toSeq ==
      Seq(("a", 1), ("c", 3)))
    assert(ds.flatMapValuesTyped(v => Seq.fill(v)(v)).collect().sorted.toSeq ==
      Seq(("a", 1), ("b", 2), ("b", 2), ("c", 3), ("c", 3), ("c", 3)))
  }

  test("observed (scio Metrics.counter): metrics collected in the same pass") {
    val (df, obs) = spark.range(100).observed("m",
      count(when(col("id") % 10 === 0, 1)).as("n_mult10"),
      sum(col("id")).as("total"))
    assert(df.count() == 100) // the action that populates the observation
    assert(obs.get("n_mult10") == 10L)
    assert(obs.get("total") == 4950L)
  }

  test("take/limit bounds rows without a full scan plan") {
    assert(spark.range(1000).limit(7).count() == 7)
  }

  test("timestampBy/withTimestamp: event-time column assignment") {
    val out = Seq((1L, "2024-03-01 10:30:00")).toDF("id", "raw")
      .withColumn("ts", to_timestamp(col("raw")))
    assert(out.schema("ts").dataType.typeName == "timestamp")
    assert(out.filter(col("ts") === lit("2024-03-01 10:30:00").cast("timestamp")).count() == 1)
  }

  test("debug/tap/materialize: cache and localCheckpoint reuse results") {
    val df = spark.range(100).withColumn("r", rand(1)).cache()
    try {
      assert(sortedRows(df) == sortedRows(df)) // stable across actions once cached
      val cp = df.localCheckpoint(true)
      assert(cp.count() == 100)
    } finally df.unpersist()
  }

  test("broadcast side input (scio SideInput/hashLookup)") {
    val lookup = spark.sparkContext.broadcast(Map(1L -> "one", 2L -> "two"))
    val out = spark.range(3).as[Long]
      .map(i => lookup.value.getOrElse(i, "?"))
      .collect().sorted
    assert(out.toSeq == Seq("?", "one", "two"))
  }
}
