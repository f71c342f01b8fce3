package graft.similarity

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VoyagerSpec extends SparkSpec {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_voyager").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  // ------------------------------------------------------------------
  // Golden bytes: a 3-element euclidean float32 index hand-assembled
  // from the documented layout (VOYA V1 metadata + stock hnswlib
  // saveIndex body). dim=2, maxM=2, maxM0=4, node 2 carries level 1.
  // ------------------------------------------------------------------
  private def goldenBody(): Array[Byte] = {
    val sizePerElem = 4 * (4 + 1) + 2 * 4 + 8 // links0 20 + data 8 + label 8 = 36
    val buf = ByteBuffer.allocate(96 + 3 * sizePerElem + 4 + 4 + (4 + 12))
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(0L)          // offsetLevel0
    buf.putLong(3L)          // maxElements
    buf.putLong(3L)          // curElementCount
    buf.putLong(sizePerElem.toLong)
    buf.putLong(28L)         // labelOffset = 20 + 8
    buf.putLong(20L)         // offsetData = 4*(maxM0+1)
    buf.putInt(1)            // maxLevel
    buf.putInt(2)            // enterpoint = node 2
    buf.putLong(2L)          // maxM
    buf.putLong(4L)          // maxM0
    buf.putLong(2L)          // M
    buf.putDouble(1.0 / math.log(2.0))
    buf.putLong(10L)         // efConstruction
    // level-0 blocks: (neighbors, vector, label)
    val nodes = Seq(
      (Seq(1, 2), Array(0f, 0f), 10L),
      (Seq(0, 2), Array(1f, 0f), 11L),
      (Seq(0, 1), Array(0f, 2f), 12L))
    nodes.foreach { case (neigh, v, label) =>
      buf.putShort(neigh.size.toShort).putShort(0.toShort)
      (0 until 4).foreach(j => buf.putInt(if (j < neigh.size) neigh(j) else 0))
      v.foreach(buf.putFloat)
      buf.putLong(label)
    }
    // upper link lists: nodes 0,1 at level 0 → size 0; node 2 has one
    // level-1 block of 4*maxM+4 = 12 bytes with zero links
    buf.putInt(0)
    buf.putInt(0)
    buf.putInt(12)
    buf.putShort(0.toShort).putShort(0.toShort)
    buf.putInt(0).putInt(0)
    buf.array()
  }

  private def withHeader(extraMaxNormField: Boolean): Array[Byte] = {
    val body = goldenBody()
    val headerLen = if (extraMaxNormField) 19 else 14
    val buf = ByteBuffer.allocate(headerLen + body.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("VOYA".getBytes(StandardCharsets.US_ASCII))
    buf.putInt(1)            // version
    buf.putInt(2)            // numDimensions
    buf.put(Voyager.SpaceEuclidean.toByte)
    buf.put(Voyager.StorageFloat32.toByte)
    if (extraMaxNormField) { buf.putFloat(1.0f); buf.put(0.toByte) }
    buf.put(body)
    buf.array()
  }

  private def assertGolden(idx: Voyager.Index): Unit = {
    assert(idx.nItems == 3)
    assert(idx.dim == 2)
    assert(idx.space == Voyager.SpaceEuclidean)
    assert(idx.storage == Voyager.StorageFloat32)
    assert(idx.maxLevel == 1 && idx.enterpoint == 2)
    assert(idx.labels.toSeq == Seq(10L, 11L, 12L))
    assert(idx.vectors(0).toSeq == Seq(0f, 0f))
    assert(idx.vectors(1).toSeq == Seq(1f, 0f))
    assert(idx.vectors(2).toSeq == Seq(0f, 2f))
    // exhaustive (ef >= n): squared-L2 ranking, labels as names
    val top = idx.query(Array(0.1f, 0f), k = 3, ef = 3)
    assert(top.map(_._1) == Seq(0, 1, 2))
    assert(math.abs(top.head._2 - 0.01) < 1e-9)
    // graph search (ef < n): greedy descent from the level-1
    // enterpoint, best-first on level 0
    val g = idx.query(Array(0.1f, 0f), k = 2, ef = 2)
    assert(g.map(_._1) == Seq(0, 1))
    assert(idx.name(idx.labels(g.head._1)) == "10")
  }

  test("golden bytes: base V1 metadata header parses to the documented struct") {
    assertGolden(Voyager.parse(withHeader(extraMaxNormField = false)))
  }

  test("golden bytes: later-revision header (maxNorm + flag) resolves structurally") {
    assertGolden(Voyager.parse(withHeader(extraMaxNormField = true)))
  }

  test("golden bytes: headerless body parses via provided settings (v0 path)") {
    assertGolden(Voyager.parse(goldenBody(), null,
      Voyager.SpaceEuclidean, 2, Voyager.StorageFloat32))
  }

  test("hnswlib DELETE_MARK tombstones are routed through but never returned") {
    val bytes = withHeader(extraMaxNormField = false)
    // node 1's level-0 links header starts at 14 + 96 + 36; hnswlib
    // keeps the count in bytes 0-1 and the delete mark in byte 2
    bytes(14 + 96 + 36 + 2) = 0x01
    val idx = Voyager.parse(bytes)
    assert(idx.isDeleted(1) && !idx.isDeleted(0) && !idx.isDeleted(2))
    // exhaustive path: the tombstone never surfaces
    assert(idx.query(Array(0.9f, 0f), 3, ef = 3).map(_._1) == Seq(0, 2))
    // graph path: node 1 is still a routing hop but not a result
    assert(idx.query(Array(0.9f, 0f), 2, ef = 2).map(_._1) == Seq(0, 2))
    assert(idx.toDataFrame(spark).count() == 2)
  }

  test("corrupt streams and mis-declared storage are rejected with clear errors") {
    val good = withHeader(extraMaxNormField = false)
    // flip the body so invariants fail
    val bad = good.clone(); bad(20) = 99
    val e1 = intercept[IllegalArgumentException](Voyager.parse(bad))
    assert(e1.getMessage.contains("structural invariants"))
    // headerless parse with the wrong dim must fail, not mis-read
    val e2 = intercept[IllegalArgumentException](
      Voyager.parse(goldenBody(), null, Voyager.SpaceEuclidean, 3, Voyager.StorageFloat32))
    assert(e2.getMessage.contains("structural invariants"))
    // a float32 body declared as E4M3 shifts every offset — must reject
    val e3 = intercept[IllegalArgumentException](
      Voyager.parse(goldenBody(), null, Voyager.SpaceEuclidean, 2, Voyager.StorageE4M3))
    assert(e3.getMessage.contains("structural invariants"))
  }

  test("E4M3 decode matches the published FP8 value table") {
    val t = Voyager.E4M3Table
    assert(t(0x00) == 0f && t(0x80) == 0f)
    assert(t(0x01) == 1f / 512f)         // smallest subnormal 2^-9
    assert(t(0x07) == 7f / 512f)         // largest subnormal
    assert(t(0x08) == 1f / 64f)          // smallest normal 2^-6
    assert(t(0x30) == 0.5f && t(0x38) == 1.0f && t(0x39) == 1.125f && t(0x40) == 2.0f)
    assert(t(0x7E) == 448f)              // max finite
    assert(t(0xFE) == -448f && t(0xB8) == -1.0f)
    assert(t(0x7F).isNaN && t(0xFF).isNaN) // S.1111.111, no infinities
    // strictly monotone over the positive finite range
    (1 to 0x7E).foreach(b => assert(t(b) > t(b - 1), s"byte $b"))
  }

  test("E4M3 encode: nearest value, ties-to-even, saturation, roundtrip") {
    // every finite byte pattern roundtrips exactly
    (0 to 0xFE).filter(b => !Voyager.E4M3Table(b).isNaN).foreach { b =>
      val enc = Voyager.e4m3Encode(Voyager.E4M3Table(b)) & 0xFF
      if (Voyager.E4M3Table(b) == 0f) assert((enc & 0x7F) == 0)
      else assert(enc == b, s"byte $b")
    }
    assert((Voyager.e4m3Encode(1.06f) & 0xFF) == 0x38)   // nearest is 1.0
    assert((Voyager.e4m3Encode(1.10f) & 0xFF) == 0x39)   // nearest is 1.125
    assert((Voyager.e4m3Encode(1.0625f) & 0xFF) == 0x38) // midpoint → even byte
    assert((Voyager.e4m3Encode(1e6f) & 0xFF) == 0x7E)    // saturate at 448
    assert((Voyager.e4m3Encode(-1e6f) & 0xFF) == 0xFE)
    assert((Voyager.e4m3Encode(Float.NaN) & 0xFF) == 0x7F)
  }

  test("E4M3 storage builds, serializes, and reparses bit-exact") {
    val vecs = IndexedSeq(Array(0.37f, -0.92f), Array(1.7f, 0.004f), Array(-300f, 60f))
    val (idx, bytes) = Voyager.build(vecs, IndexedSeq("a", "b", "c"), 2,
      space = Voyager.SpaceEuclidean, m = 2, efConstruction = 10,
      storage = Voyager.StorageE4M3)
    assert(idx.storage == Voyager.StorageE4M3)
    // stored values are the E4M3-quantized inputs
    vecs.indices.foreach { i =>
      val want = vecs(i).map(x => Voyager.E4M3Table(Voyager.e4m3Encode(x) & 0xFF))
      assert(idx.vectors(i).toSeq == want.toSeq, s"vector $i")
    }
    val re = Voyager.parse(bytes)
    assert(re.storage == Voyager.StorageE4M3)
    vecs.indices.foreach(i => assert(re.vectors(i).toSeq == idx.vectors(i).toSeq))
    // search runs over the quantized values
    assert(re.query(Array(0.4f, -0.9f), 1, ef = 3).map(_._1) == Seq(0))
  }

  test("build → serialize → parse roundtrip recovers vectors, labels, names") {
    val vecs = (0 until 120).map(i =>
      Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
    val names = (0 until 120).map(i => s"doc-$i")
    val (idx, bytes) = Voyager.build(vecs, names, 8,
      space = Voyager.SpaceEuclidean, m = 6, efConstruction = 40)
    assert(idx.nItems == 120)
    (0 until 120).foreach { i =>
      assert(idx.vectors(i).toSeq == vecs(i).toSeq) // euclidean stores raw
      assert(idx.labels(i) == i.toLong)
      assert(idx.name(i.toLong) == s"doc-$i")
    }
    // re-parse of the serialized stream is structurally identical
    val re = Voyager.parse(bytes, names.toArray)
    assert(re.nItems == idx.nItems && re.maxLevel == idx.maxLevel &&
      re.enterpoint == idx.enterpoint)
    (0 until 120).foreach(i => assert(re.vectors(i).toSeq == idx.vectors(i).toSeq))
  }

  test("cosine space normalizes on add, like voyager") {
    val vecs = IndexedSeq(Array(3f, 0f, 0f, 0f), Array(0f, 4f, 0f, 0f))
    val (idx, _) = Voyager.build(vecs, IndexedSeq("a", "b"), 4,
      space = Voyager.SpaceCosine, m = 2, efConstruction = 10)
    assert(idx.vectors(0).toSeq == Seq(1f, 0f, 0f, 0f))
    assert(idx.vectors(1).toSeq == Seq(0f, 1f, 0f, 0f))
    // query normalization: a scaled query ranks identically
    val t1 = idx.query(Array(10f, 1f, 0f, 0f), 2, ef = 2)
    val t2 = idx.query(Array(1f, 0.1f, 0f, 0f), 2, ef = 2)
    assert(t1.map(_._1) == t2.map(_._1))
  }

  test("inner-product space stores raw vectors and ranks by 1 - dot") {
    val vecs = IndexedSeq(Array(2f, 0f), Array(0f, 3f), Array(1f, 1f))
    val (idx, _) = Voyager.build(vecs, IndexedSeq("a", "b", "c"), 2,
      space = Voyager.SpaceInnerProduct, m = 2, efConstruction = 10)
    assert(idx.vectors(0).toSeq == Seq(2f, 0f)) // no normalization on add
    val top = idx.query(Array(1f, 0f), 3, ef = 3)
    assert(top.map(_._1) == Seq(0, 2, 1)) // dots 2, 1, 0 → dist -1, 0, 1
    assert(top.map(_._2) == Seq(-1.0, 0.0, 1.0))
  }

  test("float8 storage quantizes to int8/127 fixed point") {
    val vecs = IndexedSeq(Array(0.5f, -0.25f), Array(1f, -1f))
    val (idx, bytes) = Voyager.build(vecs, IndexedSeq("a", "b"), 2,
      space = Voyager.SpaceEuclidean, m = 2, efConstruction = 10,
      storage = Voyager.StorageFloat8)
    assert(idx.storage == Voyager.StorageFloat8)
    assert(idx.vectors(0)(0) == math.round(0.5f * 127) / 127.0f)
    assert(idx.vectors(0)(1) == math.round(-0.25f * 127) / 127.0f)
    assert(idx.vectors(1).toSeq == Seq(1f, -1f))
    val re = Voyager.parse(bytes)
    assert(re.vectors(0).toSeq == idx.vectors(0).toSeq)
  }

  test("ef >= n is exhaustive-exact vs independent brute force on real embeddings") {
    val all = emb.orderBy("vec_id").collect().map(r => r.getSeq[Float](1).toArray)
    val (idx, _) = Voyager.buildFrom(emb, "vec_id", "embedding", dim = 64,
      space = Voyager.SpaceEuclidean, m = 8, efConstruction = 60)
    def brute(q: Array[Float], k: Int): Seq[Int] =
      all.indices.map { i =>
        var acc = 0.0; var j = 0
        while (j < 64) { val d = all(i)(j).toDouble - q(j).toDouble; acc += d * d; j += 1 }
        (i, acc)
      }.sortBy(x => (x._2, x._1)).take(k).map(_._1)
    (0 until 10).foreach { p =>
      val got = idx.query(all(p), 5, ef = idx.nItems).map(_._1)
      assert(got == brute(all(p), 5), s"probe $p")
    }
  }

  test("HNSW graph search recall@10 >= 0.9 vs brute force (cosine space)") {
    val all = emb.orderBy("vec_id").collect().map(r => r.getSeq[Float](1).toArray)
    val (idx, _) = Voyager.buildFrom(emb, "vec_id", "embedding", dim = 64,
      space = Voyager.SpaceCosine, m = 12, efConstruction = 100)
    def bruteCos(q: Array[Float], k: Int): Set[Int] = {
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
        while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
        if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
      }
      all.indices.map(i => (i, cos(q, all(i)))).sortBy(x => (-x._2, x._1))
        .take(k).map(_._1).toSet
    }
    val recalls = (0 until 20).map { p =>
      val got = idx.query(all(p), 10, ef = 60).map(_._1).toSet
      (got & bruteCos(all(p), 10)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9")
  }

  test("write → read roundtrip through index.hnsw + names.json, distributed == local") {
    val (idx0, bytes) = Voyager.buildFrom(emb, "vec_id", "embedding", dim = 64,
      space = Voyager.SpaceEuclidean, m = 8, efConstruction = 60)
    val dir = tmpDir()
    Voyager.write(spark, idx0, bytes, dir)
    assert(new java.io.File(dir, Voyager.IndexFile).exists())
    assert(new java.io.File(dir, Voyager.NamesFile).exists())
    val idx = Voyager.read(spark, dir)
    assert(idx.nItems == idx0.nItems && idx.space == Voyager.SpaceEuclidean)
    val probes = emb.filter(col("vec_id") <= 5)
    val dist = Voyager.searchTopK(idx, probes, "vec_id", "embedding", k = 4, ef = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val local = probes.collect().flatMap { r =>
      val pid = r.getLong(0)
      val q = r.getSeq[Float](1).toArray
      idx.query(q, 4, ef = 50).zipWithIndex.map { case ((node, _), rank) =>
        (pid, rank + 1, idx.name(idx.labels(node)))
      }
    }.toSet
    assert(dist == local)
  }

  test("names.json rendering and parsing roundtrip, escapes included") {
    val names = Seq("plain", "with \"quotes\"", "back\\slash", "unié", "a,b",
      "line\nbreak", "tab\there", "ctl\u0001x")
    assert(Voyager.parseNames(Voyager.renderNames(names)).toSeq == names)
    // control characters are escaped (RFC 8259 §7): a strict reader takes it
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Voyager.renderNames(names))
    assert((0 until strict.size).map(strict.get(_).asText) == names)
    // the reference writes unescaped simple arrays — parse those too
    assert(Voyager.parseNames("""["a","b","c"]""").toSeq == Seq("a", "b", "c"))
    assert(Voyager.parseNames("""[ "x" , "y" ]""").toSeq == Seq("x", "y"))
    // a non-hex \u escape gets the same clear names.json error as every
    // other malformed case, not a raw NumberFormatException
    val bad = intercept[IllegalArgumentException] {
      // concatenated because scalac itself rejects a literal \uZZZZ
      Voyager.parseNames("[\"\\" + "uZZZZ\"]")
    }
    assert(bad.getMessage.contains("names.json"))
  }

  test("names.json format is pinned: its bytes load, a write writes them") {
    val names = IndexedSeq("plain", "with \"quotes\"", "back\\slash", "unié", "a,b", "sl/ash")
    val (idx, bytes) = Voyager.build(names.indices.map(i => Array(i.toFloat, 1f)), names, 2,
      space = Voyager.SpaceEuclidean, m = 2, efConstruction = 10)
    val dir = tmpDir()
    Voyager.write(spark, idx, bytes, dir)
    val pinned = "[\"plain\",\"with \\\"quotes\\\"\",\"back\\\\slash\",\"unié\",\"a,b\",\"sl/ash\"]"
    val file = java.nio.file.Paths.get(dir, Voyager.NamesFile)
    assert(java.nio.file.Files.readAllBytes(file).toSeq ==
      pinned.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq)
    val formatted = "[\n  \"plain\",\n  \"with \\\"quotes\\\"\" , \"back\\\\slash\",\n" +
      "\t\"unié\", \"a,b\",\r\n  \"sl/ash\"\n]\n"
    for (text <- Seq(pinned, formatted)) {
      java.nio.file.Files.deleteIfExists(file.resolveSibling(s".${Voyager.NamesFile}.crc"))
      java.nio.file.Files.writeString(file, text)
      val back = Voyager.read(spark, dir)
      assert((0 until back.nItems).map(i => back.name(i.toLong)) == names, text)
    }
  }

  test("single-element and tiny corpora build, serialize, and query") {
    val (one, b1) = Voyager.build(IndexedSeq(Array(1f, 2f)), IndexedSeq("only"), 2,
      space = Voyager.SpaceEuclidean, m = 2, efConstruction = 10)
    assert(one.nItems == 1)
    assert(Voyager.parse(b1, Array("only")).query(Array(0f, 0f), 1, 1).map(_._1) == Seq(0))
    val (two, _) = Voyager.build(IndexedSeq(Array(1f, 0f), Array(0f, 1f)),
      IndexedSeq("a", "b"), 2, space = Voyager.SpaceCosine, m = 2, efConstruction = 10)
    assert(two.query(Array(1f, 0.1f), 2, ef = 2).map(_._1) == Seq(0, 1))
  }

  test("fuzz: arbitrary and mutated streams parse cleanly or reject cleanly") {
    // a binary loader fed foreign files must never escape with an
    // index/array error — IllegalArgumentException (require) only
    val rnd = new scala.util.Random(20260813L)
    val valid = withHeader(extraMaxNormField = false)
    def attempt(bytes: Array[Byte]): Unit =
      try {
        Voyager.parse(bytes)
        Voyager.parse(bytes, null, Voyager.SpaceEuclidean, 2, Voyager.StorageFloat32)
      } catch { case _: IllegalArgumentException => () }
    (0 until 400).foreach { _ =>
      val len = rnd.nextInt(600)
      val garbage = new Array[Byte](len); rnd.nextBytes(garbage)
      attempt(garbage)
      // garbage that still claims to be a VOYA file
      if (len >= 14) {
        System.arraycopy(valid, 0, garbage, 0, 14)
        attempt(garbage)
      }
    }
    (0 until 400).foreach { _ =>
      val mutated = valid.clone()
      (0 to rnd.nextInt(4)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      attempt(mutated)
      attempt(mutated.take(rnd.nextInt(mutated.length))) // truncation
    }
  }

  test("buildFromAny carries arbitrary sparse ids as names through a file roundtrip") {
    // non-dense ids (the real-corpus case buildFrom's 0..n-1 contract
    // rejects): dense labels are assigned internally, the caller's id
    // rides as the element name
    val sparseIds = emb.withColumn("doc_id", col("vec_id") * 1000L + 7L)
    val (idx0, bytes) = Voyager.buildFromAny(sparseIds, "doc_id", "embedding", dim = 64,
      space = Voyager.SpaceEuclidean, m = 8, efConstruction = 60)
    assert(idx0.nItems == emb.count())
    val dir = tmpDir()
    Voyager.write(spark, idx0, bytes, dir)
    val idx = Voyager.read(spark, dir)
    // a self-query's top hit is itself, surfaced under the sparse id
    val row = sparseIds.filter(col("vec_id") === 3L).collect().head
    val q = row.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val top = idx.query(q, 1, ef = idx.nItems).head._1
    assert(idx.name(idx.labels(top)) == "3007")
    // duplicate ids refuse to build (names must be unique)
    val dup = sparseIds.withColumn("doc_id", lit(1L))
    val e = intercept[IllegalArgumentException](
      Voyager.buildFromAny(dup, "doc_id", "embedding", dim = 64))
    assert(e.getMessage.contains("duplicates"))
  }

  test("buildFrom byte guard aborts an oversized corpus at the budget") {
    val e = intercept[IllegalArgumentException](
      Voyager.buildFrom(emb, "vec_id", "embedding", dim = 64,
        maxBytes = 400L)) // one 64-dim element costs 4*(2m+1)+256+8 > 400
    assert(e.getMessage.contains("maxBytes"))
  }
}
