package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.io.Source

class DynamicSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_dynamic").toFile
    d.deleteOnExit()
    d
  }

  private def linesUnder(dir: java.io.File): Map[String, Seq[String]] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        // skip hidden dirs (the _manifest sidecar shards are part-*.tsv)
        if (f != dir && (f.getName.startsWith("_") || f.getName.startsWith("."))) Seq.empty
        else f.listFiles().toSeq.flatMap(walk)
      } else Seq(f)
    walk(dir).filter(_.getName.startsWith("part-")).groupBy { f =>
      dir.toPath.relativize(f.getParentFile.toPath).toString
    }.map { case (dest, files) =>
      dest -> files.sortBy(_.getName).flatMap { f =>
        val s = Source.fromFile(f, "UTF-8"); try s.getLines().toList finally s.close()
      }
    }
  }

  test("each record lands under its own destination with exact contents") {
    val out = tmpDir()
    val df = Seq(
      ("a", "line-a1"), ("b", "line-b1"), ("a", "line-a2"), ("c", "line-c1")
    ).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    val got = linesUnder(out)
    assert(got.keySet == Set("a", "b", "c"))
    assert(got("a").sorted == Seq("line-a1", "line-a2"))
    assert(got("b") == Seq("line-b1"))
    assert(got("c") == Seq("line-c1"))
  }

  test("nested destinations create the full relative tree") {
    val out = tmpDir()
    val df = Seq(("logs/2024/01", "x"), ("logs/2024/02", "y")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    val got = linesUnder(out)
    assert(got.keySet == Set("logs/2024/01", "logs/2024/02"))
    assert(got("logs/2024/01") == Seq("x"))
  }

  test("path escapes and null destinations are rejected") {
    val out = tmpDir()
    val escape = Seq(("../evil", "x")).toDF("dest", "text")
    val e = intercept[org.apache.spark.SparkException] {
      Dynamic.saveAsDynamicText(escape, out.getAbsolutePath, "dest", "text")
    }
    assert(e.getCause.getMessage.contains("must not contain"))
    val nul = Seq((null: String, "x")).toDF("dest", "text")
    intercept[org.apache.spark.SparkException] {
      Dynamic.saveAsDynamicText(nul, out.getAbsolutePath, "dest", "text")
    }
    assert(!new java.io.File(out, "../evil").exists())
  }

  test("fanout spreads a hot destination over several files, contents preserved") {
    val out = tmpDir()
    val df = spark.range(0, 200).select(lit("hot").as("dest"), concat(lit("r"), col("id")).as("text"))
    // AQE correctly coalesces KB-sized salted partitions back into one
    // (at real scale it only merges below the advisory size); disable
    // it here to observe the salting mechanism itself.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text", fanout = 4)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = new java.io.File(out, "hot").listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length > 1, "fanout should produce multiple part files for a hot destination")
    assert(linesUnder(out)("hot").sorted == (0L until 200L).map(i => s"r$i").sorted)
  }

  test("fanout spreads even when every hot-destination row has IDENTICAL text") {
    // a content-hash salt would collapse identical rows onto one salt
    // (the advisory finding); the per-row salt must still spread them
    val out = tmpDir()
    val df = spark.range(0, 200).repartition(8)
      .select(lit("hot").as("dest"), lit("same line every time").as("text"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text", fanout = 4)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = new java.io.File(out, "hot").listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length > 1,
      s"identical-text hot destination must still fan out, got ${files.length} file(s)")
    assert(linesUnder(out)("hot").size == 200)
  }

  test("re-running over an existing tree replaces it (no stale finals survive)") {
    val out = tmpDir()
    val v1 = Seq(("d", "old1"), ("gone", "old2")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(v1, out.getAbsolutePath, "dest", "text")
    val v2 = Seq(("d", "new1")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(v2, out.getAbsolutePath, "dest", "text")
    assert(linesUnder(out)("d") == Seq("new1"))
    assert(!new java.io.File(out, "gone").exists(), "stale destination dir must not survive")
  }

  test("no uncommitted attempt temp files remain after a clean write") {
    // (Hadoop's LocalFileSystem .crc checksum sidecars are expected;
    // the rename commit must leave no .part-*.attempt-* temps behind)
    val out = tmpDir()
    val df = Seq(("a", "1"), ("b", "2"), ("a", "3")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(out).filter(_.getName.contains(".attempt-")).isEmpty)
  }

  test("null text writes an empty line, row count preserved") {
    val out = tmpDir()
    val df = Seq(("d", "x"), ("d", null: String)).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    assert(linesUnder(out)("d").sorted == Seq("", "x"))
  }

  // ---- manifest ---------------------------------------------------------

  test("manifest records exact per-file rows, bytes, and names") {
    val out = tmpDir()
    val df = Seq(
      ("a", "one"), ("a", "two2"), ("b", "bee"), ("logs/2024", "nested")
    ).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    val m = Dynamic.readDynamicManifest(spark, out.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // one entry per committed data file; every entry matches the file
    // actually on disk — name, byte length, and the row count inside
    assert(m.map(_._1).sorted.toSeq == Seq("a", "b", "logs/2024"))
    m.foreach { case (dest, file, rows, bytes) =>
      val f = new java.io.File(new java.io.File(out, dest), file)
      assert(f.isFile, s"manifest names a file that does not exist: $dest/$file")
      assert(f.length() == bytes, s"$dest/$file: manifest bytes $bytes != ${f.length()}")
      assert(linesUnder(out)(dest).size.toLong == rows)
    }
    // text codec bytes are line length + newline
    assert(m.find(_._1 == "a").get._3 == 2L)
    assert(m.find(_._1 == "a").get._4 == ("one\n".length + "two2\n".length).toLong)
  }

  test("manifest covers fanout shards and sums to the corpus") {
    val out = tmpDir()
    val df = (0 until 300).map(i => ("hot", s"line-$i")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text", fanout = 3)
    val m = Dynamic.readDynamicManifest(spark, out.getAbsolutePath).collect()
    val onDisk = new java.io.File(out, "hot").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(m.map(_.getString(1)).toSet == onDisk, "one manifest entry per data file")
    assert(m.map(_.getLong(2)).sum == 300L, "manifest rows sum to the corpus")
    assert(m.map(_.getLong(3)).sum ==
      new java.io.File(out, "hot").listFiles()
        .filter(_.getName.startsWith("part-")).map(_.length()).sum)
  }

  test("manifest rides every codec: parquet rows agree with the gather") {
    val out = tmpDir()
    val df = Seq(("x", 1L, "p"), ("x", 2L, "q"), ("y", 3L, "r")).toDF("dest", "k", "v")
    Dynamic.saveAsDynamicParquet(df, out.getAbsolutePath, "dest")
    val m = Dynamic.readDynamicManifest(spark, out.getAbsolutePath)
      .groupBy("dest").agg(sum("rows").as("rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("x" -> 2L, "y" -> 1L))
    // the hidden manifest dir must be invisible to the data gathers
    val gathered = Dynamic.readDynamicParquet(spark, out.getAbsolutePath,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    assert(gathered.count() == 3L)
  }

  test("hidden-segment and control-character destinations are rejected") {
    val out = tmpDir()
    for (bad <- Seq("_archive/x", ".hidden", "a/_b", "a/.b", "tab\there", "nl\nhere",
                    "q[1]", "star*", "brace{x}", "quest?", "back\\slash")) {
      val df = Seq((bad, "x")).toDF("dest", "text")
      val e = intercept[org.apache.spark.SparkException] {
        Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
      }
      assert(e.getCause.getMessage.contains("dynamic destination"),
        s"'$bad' must be rejected, got: ${e.getCause.getMessage}")
    }
  }

  test("dynamic tar: per-destination archives roundtrip, stock-readable") {
    import scala.sys.process._
    val out = tmpDir()
    val df = Seq(
      ("d1", "0001.txt", "alpha"), ("d1", "0002.txt", "beta"), ("d2", "0001.txt", "gamma")
    ).toDF("dest", "name", "text")
      .withColumn("value", encode(col("text"), "UTF-8")).drop("text")
    Dynamic.saveAsDynamicTar(df, out.getAbsolutePath, "dest")
    // graft gather: every member back with its destination
    val got = Dynamic.readDynamicTar(spark, out.getAbsolutePath)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSet
    assert(got == Set(("d1", "0001.txt", "alpha"), ("d1", "0002.txt", "beta"),
      ("d2", "0001.txt", "gamma")))
    // graft's stock tar reader consumes a destination dir directly
    assert(Tar.read(spark, new java.io.File(out, "d1").getAbsolutePath).count() == 2L)
    // and real GNU tar agrees on the framing
    val shard = new java.io.File(out, "d2").listFiles()
      .filter(_.getName.endsWith(".tar")).head
    assert(Seq("tar", "-tf", shard.toString).!!.trim == "0001.txt")
    // manifest rode along like every codec
    val m = Dynamic.readDynamicManifest(spark, out.getAbsolutePath)
      .groupBy("dest").agg(sum("rows").as("rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("d1" -> 2L, "d2" -> 1L))
  }

  test("readDynamicManifest refuses an incomplete tree") {
    val out = tmpDir()
    val df = Seq(("d", "x")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    // simulate a crashed job: completion stamp missing
    assert(new java.io.File(out, "_GRAFT_DYNAMIC_DONE").delete())
    val e = intercept[IllegalArgumentException] {
      Dynamic.readDynamicManifest(spark, out.getAbsolutePath)
    }
    assert(e.getMessage.contains("_GRAFT_DYNAMIC_DONE"))
  }

  test("a non-empty directory this sink didn't write is NOT wiped (marker guard)") {
    val out = tmpDir()
    val precious = new java.io.File(out, "unrelated.txt")
    java.nio.file.Files.write(precious.toPath, "do not delete".getBytes)
    val df = Seq(("d", "x")).toDF("dest", "text")
    val e = intercept[IllegalArgumentException] {
      Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    }
    assert(e.getMessage.contains("_GRAFT_DYNAMIC"))
    assert(precious.exists, "foreign file must survive the refused write")
    // explicit opt-in wipes and writes
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text",
      overwriteForeign = true)
    assert(!precious.exists)
    assert(linesUnder(out)("d") == Seq("x"))
  }

  // ---- auto fanout -----------------------------------------------------

  /** Run `body` with the auto-fanout conf knobs set, restoring after. */
  private def withAutoConf(targetRows: Long, fraction: Double, maxSalts: Int)(body: => Unit)
      : Unit = {
    spark.conf.set("spark.graft.dynamic.autoTargetRows", targetRows.toString)
    spark.conf.set("spark.graft.dynamic.autoSampleFraction", fraction.toString)
    spark.conf.set("spark.graft.dynamic.autoMaxSalts", maxSalts.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // AQE would re-coalesce the salts
    try body finally {
      spark.conf.unset("spark.graft.dynamic.autoTargetRows")
      spark.conf.unset("spark.graft.dynamic.autoSampleFraction")
      spark.conf.unset("spark.graft.dynamic.autoMaxSalts")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("AutoFanout spreads the hot destination over >1 task, cold destinations untouched") {
    val out = tmpDir()
    // one destination carries 20k rows, two cold ones 50 each
    val hot = spark.range(0, 20000)
      .select(lit("hot").as("dest"), concat(lit("h"), col("id")).as("text"))
    val cold = spark.range(0, 50).select(lit("cold/a").as("dest"),
        concat(lit("a"), col("id")).as("text"))
      .union(spark.range(0, 50).select(lit("cold/b").as("dest"),
        concat(lit("b"), col("id")).as("text")))
    withAutoConf(targetRows = 2000, fraction = 0.5, maxSalts = 8) {
      Dynamic.saveAsDynamicText(hot.union(cold), out.getAbsolutePath, "dest", "text",
        fanout = Dynamic.AutoFanout)
    }
    // part-file names carry the writing task's PARTITION ID — distinct
    // names in one destination dir are distinct tasks by construction,
    // the direct form of the task-metrics assertion
    def partFiles(rel: String): Seq[String] =
      new java.io.File(out, rel).listFiles().map(_.getName).filter(_.startsWith("part-")).toSeq
    assert(partFiles("hot").distinct.size > 1,
      s"hot destination must spread over >1 task, got ${partFiles("hot")}")
    assert(partFiles("cold/a").size == 1 && partFiles("cold/b").size == 1,
      "cold destinations must keep the single-task fanout=1 layout")
    // content identical to what fanout=1 would write
    val got = linesUnder(out)
    assert(got("hot").sorted == (0L until 20000L).map(i => s"h$i").sorted)
    assert(got("cold/a").sorted == (0L until 50L).map(i => s"a$i").sorted)
    assert(got("cold/b").sorted == (0L until 50L).map(i => s"b$i").sorted)
  }

  test("AutoFanout with no hot destination yields the identical tree to fanout=1") {
    val outAuto = tmpDir(); val outPlain = tmpDir()
    val df = spark.range(0, 300).select(
      concat(lit("d"), pmod(col("id"), lit(3))).as("dest"),
      concat(lit("r"), col("id")).as("text"))
    withAutoConf(targetRows = 1000000, fraction = 0.5, maxSalts = 8) {
      Dynamic.saveAsDynamicText(df, outAuto.getAbsolutePath, "dest", "text",
        fanout = Dynamic.AutoFanout)
      Dynamic.saveAsDynamicText(df, outPlain.getAbsolutePath, "dest", "text", fanout = 1)
    }
    def tree(dir: java.io.File): Map[String, Seq[String]] = linesUnder(dir)
    def names(dir: java.io.File): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).filter(_.getName.startsWith("part-"))
        .map(f => dir.toPath.relativize(f.toPath).toString).toSet
    }
    assert(names(outAuto) == names(outPlain),
      "no destination over target: auto must produce the exact fanout=1 file layout")
    assert(tree(outAuto) == tree(outPlain))
  }

  test("sampledSalts sizes salts from the histogram and skips cold destinations") {
    // 10k rows on "big", 5k on "mid", 40 on "tiny"; full sample for determinism
    val dests = spark.range(0, 15040).select(
      when(col("id") < 10000, "big").when(col("id") < 15000, "mid")
        .otherwise("tiny").as("__dest"))
    val salts = Dynamic.sampledSalts(dests, targetRows = 2500,
      sampleFraction = 1.0, maxSalts = 3).toMap
    assert(salts("big") == 3, "10000/2500 = 4 salts, capped at maxSalts 3")
    assert(salts("mid") == 2, "5000/2500 = 2 salts")
    assert(!salts.contains("tiny"), "a destination under target gets no entry (salt 1)")
  }

  test("FromManifest reproduces the sampled-auto layout on the same corpus, no sampling pass") {
    val outAuto = tmpDir(); val outManifest = tmpDir()
    // one hot destination well past target (no ceil-boundary flakiness
    // from the full-fraction sample), two cold ones
    val df = spark.range(0, 8000)
      .select(when(col("id") < 6000, "hot").when(col("id") < 7000, "cold/a")
        .otherwise("cold/b").as("dest"),
        concat(lit("r"), col("id")).as("text"))
    withAutoConf(targetRows = 2000, fraction = 1.0, maxSalts = 8) {
      Dynamic.saveAsDynamicText(df, outAuto.getAbsolutePath, "dest", "text",
        fanout = Dynamic.AutoFanout)
      // a full-fraction sample estimates EXACT counts, so the manifest
      // replay must choose the identical salt map → identical layout
      Dynamic.saveAsDynamicText(df, outManifest.getAbsolutePath, "dest", "text",
        fanout = Dynamic.Fanout.FromManifest(outAuto.getAbsolutePath))
    }
    def names(dir: java.io.File): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) {
          if (f != dir && (f.getName.startsWith("_") || f.getName.startsWith("."))) Seq.empty
          else f.listFiles().toSeq.flatMap(walk)
        } else Seq(f)
      walk(dir).filter(_.getName.startsWith("part-"))
        .map(f => dir.toPath.relativize(f.toPath).toString).toSet
    }
    assert(names(outManifest) == names(outAuto),
      "manifest-driven fanout must reproduce the sampled layout on the same corpus")
    assert(linesUnder(outManifest) == linesUnder(outAuto))
  }

  test("manifestSalts sizes from exact prior counts; growth scales; new dests keep fanout 1") {
    val out = tmpDir()
    val df = spark.range(0, 5040).select(
      when(col("id") < 5000, "big").otherwise("tiny").as("dest"),
      concat(lit("r"), col("id")).as("text"))
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    val salts = Dynamic.manifestSalts(spark, out.getAbsolutePath,
      growth = 1.0, targetRows = 2500, maxSalts = 8).toMap
    assert(salts == Map("big" -> 2), s"5000/2500 = 2 salts for big only, got $salts")
    // growth pushes the estimate past the next salt boundary
    val grown = Dynamic.manifestSalts(spark, out.getAbsolutePath,
      growth = 1.5, targetRows = 2500, maxSalts = 8).toMap
    assert(grown == Map("big" -> 3), s"5000*1.5/2500 = 3 salts, got $grown")
    // a destination absent from the prior manifest is simply not in
    // the salt map — it writes at fanout 1 (documented contract)
    assert(!salts.contains("brand-new"))
  }

  test("recurring export: FromManifest over the tree being REWRITTEN reads salts before the wipe") {
    // THE recurring-export shape: tonight's run scatters to the same
    // path as last night's, sized by last night's own manifest. The
    // salt map must be collected BEFORE prepareTree wipes the tree —
    // a lazy read would find its input deleted.
    val out = tmpDir()
    val df = spark.range(0, 5000).select(
      when(col("id") < 4800, "hot").otherwise("cold").as("dest"),
      concat(lit("r"), col("id")).as("text"))
    withAutoConf(targetRows = 1000, fraction = 1.0, maxSalts = 8) {
      Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
      Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text",
        fanout = Dynamic.Fanout.FromManifest(out.getAbsolutePath))
    }
    val hotFiles = new java.io.File(out, "hot").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(hotFiles > 1, "self-path manifest fanout must spread the hot destination")
    assert(linesUnder(out)("hot").sorted == (0L until 4800L).map(i => s"r$i").sorted,
      "rewritten tree must carry exactly the new corpus")
  }

  test("FromCounts spreads per caller-supplied counts") {
    val out = tmpDir()
    val df = spark.range(0, 4000).select(
      when(col("id") < 3800, "hot").otherwise("cold").as("dest"),
      concat(lit("r"), col("id")).as("text"))
    withAutoConf(targetRows = 1000, fraction = 1.0, maxSalts = 8) {
      Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text",
        fanout = Dynamic.Fanout.FromCounts(Map("hot" -> 3800L, "cold" -> 200L)))
    }
    def partFiles(rel: String): Seq[String] =
      new java.io.File(out, rel).listFiles().map(_.getName)
        .filter(_.startsWith("part-")).toSeq
    assert(partFiles("hot").size > 1, "hot must spread per its supplied count")
    assert(partFiles("cold").size == 1, "cold keeps the fanout=1 layout")
    assert(linesUnder(out)("hot").sorted ==
      (0L until 3800L).map(i => s"r$i").sorted)
  }

  // ---- verifyDynamicTree -----------------------------------------------

  test("verifyDynamicTree: a clean tree audits empty; tampering is detected by kind") {
    val out = tmpDir()
    val df = Seq(("a", "x1"), ("a", "x2"), ("b", "y1")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    assert(Dynamic.verifyDynamicTree(spark, out.getAbsolutePath).count() == 0,
      "freshly committed tree must audit clean")

    // tamper 1: lose a committed shard (lost rename / partial delete)
    val aFiles = new java.io.File(out, "a").listFiles().filter(_.getName.startsWith("part-"))
    val lost = aFiles.head
    assert(lost.delete())
    // tamper 2: drop a foreign data file into a destination dir
    val foreign = new java.io.File(new java.io.File(out, "b"), "part-99999.txt")
    java.nio.file.Files.write(foreign.toPath, "stray\n".getBytes)
    // tamper 3: grow a committed shard past its committed byte count
    val bFiles = new java.io.File(out, "b").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName != "part-99999.txt")
    val chan = new java.io.FileOutputStream(bFiles.head, true)
    try chan.write("extra".getBytes) finally chan.close()

    val issues = Dynamic.verifyDynamicTree(spark, out.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(issues == Set(("a", "missing"), ("b", "foreign"), ("b", "size_mismatch")),
      s"got $issues")
  }

  test("zero-row scatter: stamped tree gathers empty, audits clean, carries no salts") {
    val out = tmpDir()
    val df = Seq(("a", "x")).toDF("dest", "text").filter(col("dest") === "nope")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    assert(Dynamic.readDynamicText(spark, out.getAbsolutePath).count() == 0)
    assert(Dynamic.readDynamicManifest(spark, out.getAbsolutePath).count() == 0)
    // an empty export is a VALID export: the audit must not mistake it
    // for a pre-manifest tree (the streaming sinks write one tree per
    // micro-batch, and idle batches are routine)
    assert(Dynamic.verifyDynamicTree(spark, out.getAbsolutePath).count() == 0)
    assert(Dynamic.manifestSalts(spark, out.getAbsolutePath,
      growth = 1.0, targetRows = 10, maxSalts = 8).isEmpty)
  }

  test("verifyDynamicTree refuses a data-bearing tree whose manifest sidecars are gone") {
    val out = tmpDir()
    Dynamic.saveAsDynamicText(Seq(("a", "x")).toDF("dest", "text"),
      out.getAbsolutePath, "dest", "text")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out, "_manifest"))
    val e = intercept[IllegalArgumentException] {
      Dynamic.verifyDynamicTree(spark, out.getAbsolutePath)
    }
    assert(e.getMessage.contains("no manifest entries"))
  }

  test("verifyDynamicTree refuses incomplete or manifest-less trees") {
    val e = intercept[IllegalArgumentException] {
      Dynamic.verifyDynamicTree(spark, tmpDir().getAbsolutePath + "/nothing")
    }
    assert(e.getMessage.contains("_GRAFT_DYNAMIC_DONE"))
  }

  // ---- manifest-planned, size-batched gathers (r16) ----------------------

  test("batchFiles groups to the byte target, keeps order, loses nothing") {
    def f(i: Int, len: Long) = (s"d$i", s"/x/f$i", len)
    val mb = 1024L * 1024
    val files = (0 until 100).map(i => f(i, mb))
    val groups = Dynamic.batchFiles(files, 10 * mb)
    assert(groups.size == 10, s"100 × 1 MB at a 10 MB target is 10 groups, got ${groups.size}")
    assert(groups.flatten == files, "order preserved, every file exactly once")
    assert(groups.forall(_.map(_._3).sum <= 10 * mb))
    // an oversized file keeps its own group; neighbors are not dragged in
    val mixed = Seq(f(0, 4), f(1, 25), f(2, 4), f(3, 4), f(4, 5))
    val g2 = Dynamic.batchFiles(mixed, 10)
    assert(g2.flatten == mixed)
    assert(g2 == Seq(Seq(f(0, 4)), Seq(f(1, 25)), Seq(f(2, 4), f(3, 4)), Seq(f(4, 5))))
  }

  test("gathers are size-batched: a many-small-files tree reads in ≈ totalBytes/target tasks") {
    val out = tmpDir()
    val df = spark.range(0, 6400).select(
      concat(lit("d"), pmod(col("id"), lit(64))).as("dest"),
      concat(lit("line-"), col("id")).as("text"))
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    val totalBytes = Dynamic.readDynamicManifest(spark, out.getAbsolutePath)
      .agg(sum(col("bytes"))).head().getLong(0)
    val target = math.max(1L, totalBytes / 4)
    spark.conf.set(Dynamic.GatherTargetBytesKey, target.toString)
    try {
      val gathered = Dynamic.readDynamicText(spark, out.getAbsolutePath)
      val tasks = gathered.rdd.getNumPartitions
      assert(tasks >= 4 && tasks <= 6,
        s"totalBytes=$totalBytes target=$target should plan ≈4-5 tasks, planned $tasks")
      assert(gathered.count() == 6400, "batching must not lose rows")
    } finally spark.conf.unset(Dynamic.GatherTargetBytesKey)
    // default target (128 MB) folds the whole small tree into ONE task
    assert(Dynamic.readDynamicText(spark, out.getAbsolutePath).rdd.getNumPartitions == 1)
  }

  test("gather plans FROM the manifest; a sidecar-less tree falls back to the listing") {
    val out = tmpDir()
    val df = Seq(("a", "x1"), ("a", "x2"), ("b/c", "y1")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    val planned = Dynamic.readDynamicText(spark, out.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // a pre-manifest tree (sidecars gone) must gather identically off
    // the recursive listing
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out, "_manifest"))
    val listed = Dynamic.readDynamicText(spark, out.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(planned == listed &&
      planned == Set(("a", "x1"), ("a", "x2"), ("b/c", "y1")))
  }

  test("CSV/parquet dest recovery is pure codegen: no join in the gather plan") {
    // r15 shipped a broadcast (file -> dest) hash join — O(files)
    // driver memory and broadcast bytes; r16's regexp_extract off the
    // scan path must keep the plan join-free (and UDF-free, as ever)
    val out = tmpDir()
    val df = Seq((1L, "x", "Brand#13 parts/a"), (2L, "y", "Brand#42 parts/b"))
      .toDF("id", "name", "dest")
    Dynamic.saveAsDynamicParquet(df, out.getAbsolutePath, "dest")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val gathered = Dynamic.readDynamicParquet(spark, out.getAbsolutePath, schema)
    val plan = gathered.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"dest recovery must not join:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("UDF"),
      "dest recovery must stay codegen")
    // and it still recovers multi-segment destinations with spaces/'#'
    assert(gathered.select("dest").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("Brand#13 parts/a", "Brand#42 parts/b"))
  }

  test("manifest-planned gather reads only COMMITTED files; audit=true refuses a tampered tree") {
    val out = tmpDir()
    val df = Seq(("a", "x1"), ("b", "y1")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    // audit passes and gathers on a clean tree
    assert(Dynamic.readDynamicText(spark, out.getAbsolutePath, audit = true)
      .count() == 2)
    // a stray uncommitted part file is NOT data: the manifest is the
    // commit record, so the plain gather skips it...
    val foreign = new java.io.File(new java.io.File(out, "b"), "part-99999.txt")
    java.nio.file.Files.write(foreign.toPath, "stray\n".getBytes)
    val rows = Dynamic.readDynamicText(spark, out.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("a", "x1"), ("b", "y1")),
      "an uncommitted file must not gather as data")
    // ...and the audited gather refuses the tree loudly
    val e = intercept[IllegalArgumentException] {
      Dynamic.readDynamicText(spark, out.getAbsolutePath, audit = true)
    }
    assert(e.getMessage.contains("foreign"))
  }

  // ---- dynamic Avro ----------------------------------------------------

  private val avroSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))

  test("dynamic avro: scatter/gather roundtrip preserves every row and its destination") {
    val out = tmpDir()
    val df = Seq(
      (1L, "alpha", 1.5, "t/a"), (2L, "beta", -2.25, "t/b"),
      (3L, null.asInstanceOf[String], 0.0, "t/a"), (4L, "delta", 9.75, "t/c")
    ).toDF("id", "name", "score", "dest")
    Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dest")
    val back = Dynamic.readDynamicAvro(spark, out.getAbsolutePath, avroSchema)
    val got = back.select("dest", "id", "name", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == Set(("t/a", 1L, "alpha", 1.5), ("t/b", 2L, "beta", -2.25),
      ("t/a", 3L, null, 0.0), ("t/c", 4L, "delta", 9.75)))
  }

  test("dynamic avro: every scattered shard is a STOCK-Avro-reader-valid container") {
    val out = tmpDir()
    val df = Seq((1L, "x", 0.5, "d1"), (2L, "y", 1.5, "d1")).toDF("id", "name", "score", "dest")
    Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dest")
    val shard = new java.io.File(out, "d1").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".avro")).head
    val reader = new org.apache.avro.file.DataFileReader(
      shard, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val recs = try {
      val b = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
      while (reader.hasNext) {
        val r = reader.next()
        b += ((r.get("id").asInstanceOf[Long], r.get("name").toString,
          r.get("score").asInstanceOf[Double]))
      }
      b.toList
    } finally reader.close()
    assert(recs.toSet == Set((1L, "x", 0.5), (2L, "y", 1.5)))
  }

  test("dynamic avro: fanout spreads a hot destination, gather still recovers all rows") {
    val out = tmpDir()
    val df = spark.range(0, 200)
      .select(col("id"), concat(lit("n"), col("id")).as("name"),
        (col("id") * 0.5).as("score"), lit("hot").as("dest"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dest", fanout = 4)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = new java.io.File(out, "hot").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".avro"))
    assert(files.length > 1, "fanout should produce multiple avro shards for a hot destination")
    val back = Dynamic.readDynamicAvro(spark, out.getAbsolutePath, avroSchema)
    assert(back.count() == 200)
    assert(back.agg(sum("id")).head.getLong(0) == (0L until 200L).sum)
  }

  test("dynamic avro/proto gather refuses a tree without the completion marker") {
    val out = tmpDir()
    new java.io.File(out, "d").mkdirs()
    val e = intercept[IllegalArgumentException] {
      Dynamic.readDynamicAvro(spark, out.getAbsolutePath, avroSchema)
    }
    assert(e.getMessage.contains("_GRAFT_DYNAMIC"))
  }

  // ---- dynamic Protobuf ------------------------------------------------

  test("dynamic protobuf: scatter/gather roundtrip through the proto3 wire format") {
    val out = tmpDir()
    val df = Seq(
      (10L, "u1", 3.5, Seq(1L, 2L, 3L), "s/a"),
      (20L, "u2", -1.0, Seq.empty[Long], "s/b"),
      (30L, null.asInstanceOf[String], 0.25, Seq(7L), "s/a")
    ).toDF("id", "user", "w", "xs", "dest")
      .select(col("id"), col("user"), col("w"), col("xs"), col("dest"))
    Dynamic.saveAsDynamicProtobuf(df, out.getAbsolutePath, "dest")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("xs",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))
    val back = Dynamic.readDynamicProtobuf(spark, out.getAbsolutePath, schema)
    val got = back.collect().map { r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3),
        Option(r.getSeq[Long](4)).map(_.toList).orNull)
    }.toSet
    // proto3 absence: a null string reads back null (field omitted),
    // an empty repeated field also reads back null — both are "absent"
    // on the wire, the documented proto3 contract
    assert(got == Set(("s/a", 10L, "u1", 3.5, List(1L, 2L, 3L)),
      ("s/b", 20L, "u2", -1.0, null), ("s/a", 30L, null, 0.25, List(7L))))
  }

  test("dynamic protobuf: shards are stock-Avro bytes containers (scio's layout)") {
    val out = tmpDir()
    val df = Seq((1L, "only", 2.0, Seq(9L), "d")).toDF("id", "user", "w", "xs", "dest")
    Dynamic.saveAsDynamicProtobuf(df, out.getAbsolutePath, "dest")
    val shard = new java.io.File(out, "d").listFiles()
      .filter(_.getName.endsWith(".proto.avro")).head
    val reader = new org.apache.avro.file.DataFileReader(
      shard, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    try {
      assert(reader.getSchema.getFields.size() == 1)
      assert(reader.getSchema.getFields.get(0).name() == "bytes")
      assert(reader.hasNext)
      val payload = reader.next().get(0).asInstanceOf[java.nio.ByteBuffer]
      assert(payload.remaining() > 0)
    } finally reader.close()
  }

  // ---- dynamic CSV -----------------------------------------------------

  test("dynamic csv: RFC 4180 quoting survives a stock Spark csv read") {
    val out = tmpDir()
    val df = Seq(
      (1L, "plain", "d"),
      (2L, "has, comma", "d"),
      (3L, "has \"quotes\" inside", "d"),
      (4L, "multi\nline cell", "d")
    ).toDF("id", "note", "dest")
    Dynamic.saveAsDynamicCsv(df, out.getAbsolutePath, "dest")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("note", org.apache.spark.sql.types.StringType)))
    // escape="\"" = RFC 4180 doubled quotes (Spark's DEFAULT escape is
    // backslash, a Spark quirk — every other stock reader assumes RFC)
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").option("recursiveFileLookup", "true")
      .schema(schema).csv(out.getAbsolutePath)
    val got = back.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "plain", 2L -> "has, comma",
      3L -> "has \"quotes\" inside", 4L -> "multi\nline cell"))
  }

  test("dynamic csv: each shard carries its own header; null cells render empty") {
    val out = tmpDir()
    val df = Seq((1L, null.asInstanceOf[String], "a"), (2L, "x", "b")).toDF("id", "note", "dest")
    Dynamic.saveAsDynamicCsv(df, out.getAbsolutePath, "dest")
    Seq("a", "b").foreach { d =>
      val f = new java.io.File(out, d).listFiles().filter(_.getName.endsWith(".csv")).head
      val lines = {
        val s = Source.fromFile(f, "UTF-8"); try s.getLines().toList finally s.close()
      }
      assert(lines.head == "id,note", s"shard $d must lead with the header")
    }
    val aLines = {
      val f = new java.io.File(out, "a").listFiles().filter(_.getName.endsWith(".csv")).head
      val s = Source.fromFile(f, "UTF-8"); try s.getLines().toList finally s.close()
    }
    assert(aLines(1) == "1,", "null cell must render as an empty field")
  }

  test("dynamic csv: unsupported payload types are rejected driver-side") {
    val df = Seq((1L, Seq(1, 2), "d")).toDF("id", "xs", "dest")
    val e = intercept[IllegalArgumentException] {
      Dynamic.saveAsDynamicCsv(df, tmpDir().getAbsolutePath, "dest")
    }
    assert(e.getMessage.contains("dynamic CSV cannot render"))
  }

  test("a tree from a run that died mid-write (marker + partial files) retries cleanly") {
    // the marker is stamped BEFORE writing, so a crashed run leaves
    // marker + committed partials; the retry must recognize its own
    // output and wipe it without overwriteForeign
    val out = tmpDir()
    new java.io.File(out, "_GRAFT_DYNAMIC").createNewFile()
    val partial = new java.io.File(out, "d")
    partial.mkdirs()
    java.nio.file.Files.write(new java.io.File(partial, "part-00000.txt").toPath,
      "stale\n".getBytes)
    val df = Seq(("d", "fresh")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    assert(linesUnder(out)("d") == Seq("fresh"))
  }

  test("gather refuses a tree whose write CRASHED (ownership stamp present, " +
      "completion stamp absent) instead of returning partial data") {
    val out = tmpDir()
    val df = Seq((1L, "a", 1.0, "d1"), (2L, "b", 2.0, "d2")).toDF("id", "name", "score", "dest")
    Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dest")
    // simulate the crash: committed shards + ownership marker survive,
    // the completion stamp never landed
    assert(new java.io.File(out, "_GRAFT_DYNAMIC_DONE").delete())
    val e = intercept[IllegalArgumentException] {
      Dynamic.readDynamicAvro(spark, out.getAbsolutePath, avroSchema)
    }
    assert(e.getMessage.contains("_GRAFT_DYNAMIC_DONE"))
    // the retry still recognizes its own tree (ownership marker) and rewrites
    Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dest")
    assert(Dynamic.readDynamicAvro(spark, out.getAbsolutePath, avroSchema).count() == 2)
  }

  test("a typo'd destination column fails BEFORE the previous run's tree is wiped") {
    val out = tmpDir()
    val df = Seq((1L, "a", 1.0, "d1")).toDF("id", "name", "score", "dest")
    Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dest")
    intercept[org.apache.spark.sql.AnalysisException] {
      Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dets") // typo
    }
    // last night's data must still be readable
    assert(Dynamic.readDynamicAvro(spark, out.getAbsolutePath, avroSchema).count() == 1)
  }

  test("payload columns colliding with the writer's internal names are rejected loudly") {
    val out = tmpDir()
    val df = Seq((1L, 5L, "d1")).toDF("id", "__salt", "dest")
    val e = intercept[IllegalArgumentException] {
      Dynamic.saveAsDynamicAvro(df, out.getAbsolutePath, "dest")
    }
    assert(e.getMessage.contains("__salt"))
  }

  test("readDynamicAvro on a PROTO tree matches no shards (never decodes " +
      "bytes-containers into all-null payload rows)") {
    val out = tmpDir()
    val df = Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "name", "dest")
    Dynamic.saveAsDynamicProtobuf(df, out.getAbsolutePath, "dest")
    val wrongVerb = Dynamic.readDynamicAvro(spark, out.getAbsolutePath, avroSchema)
    assert(wrongVerb.count() == 0,
      "proto.avro shards must not be swept up by the .avro extension match")
    // and the right verb still sees both rows
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    assert(Dynamic.readDynamicProtobuf(spark, out.getAbsolutePath, schema).count() == 2)
  }

  test("readDynamicText: completion-checked gather, nested destinations recovered") {
    val out = tmpDir()
    val df = Seq(("a/b", "l1"), ("a/b", "l2"), ("c", "l3")).toDF("dest", "text")
    Dynamic.saveAsDynamicText(df, out.getAbsolutePath, "dest", "text")
    val back = Dynamic.readDynamicText(spark, out.getAbsolutePath)
    val got = back.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a/b", "l1"), ("a/b", "l2"), ("c", "l3")))
    // crash protection: no completion stamp → refuse
    assert(new java.io.File(out, "_GRAFT_DYNAMIC_DONE").delete())
    intercept[IllegalArgumentException](Dynamic.readDynamicText(spark, out.getAbsolutePath))
  }

  test("readDynamicCsv: schema-typed gather with the writer's dialect pre-wired") {
    val out = tmpDir()
    val df = Seq(
      (1L, "plain", 1.5, "d/x"),
      (2L, "quote\"comma,", -0.25, "d/y"),
      (3L, null.asInstanceOf[String], 99.0, "d/x")
    ).toDF("id", "s", "v", "dest")
    Dynamic.saveAsDynamicCsv(df, out.getAbsolutePath, "dest")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val back = Dynamic.readDynamicCsv(spark, out.getAbsolutePath, schema)
    assert(back.columns.toSeq == Seq("dest", "id", "s", "v"))
    val got = back.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("d/x", 1L, "plain", 1.5), ("d/y", 2L, "quote\"comma,", -0.25),
      ("d/x", 3L, null, 99.0)))
    // no destination row lost to the path-normalization join
    assert(back.filter(col("dest").isNull).count() == 0)
    // embedded newlines survive the quoted-cell + multiLine roundtrip
    val out2 = tmpDir()
    val df2 = Seq((1L, "line1\nline2", 0.5, "m")).toDF("id", "s", "v", "dest")
    Dynamic.saveAsDynamicCsv(df2, out2.getAbsolutePath, "dest")
    val back2 = Dynamic.readDynamicCsv(spark, out2.getAbsolutePath, schema)
    assert(back2.collect().map(r => (r.getString(0), r.getString(2))).toSeq ==
      Seq(("m", "line1\nline2")))
  }

  test("dynamic csv: EMPTY STRING and null stay distinct through the roundtrip") {
    // null renders as an unquoted empty field, "" as a quoted one —
    // Spark's reader maps them back to null and "" respectively
    val out = tmpDir()
    val df = Seq((1L, "", "d"), (2L, null.asInstanceOf[String], "d"), (3L, "x", "d"))
      .toDF("id", "s", "dest")
    Dynamic.saveAsDynamicCsv(df, out.getAbsolutePath, "dest")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val back = Dynamic.readDynamicCsv(spark, out.getAbsolutePath, schema)
    val got = back.collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, ""), (2L, null), (3L, "x")))
  }

  test("gather verbs refuse payload schema names colliding with dest/__dyn_file") {
    val out = tmpDir()
    val df = Seq((1L, "a", "d1")).toDF("id", "dest_payload", "dest")
    Dynamic.saveAsDynamicCsv(df, out.getAbsolutePath, "dest")
    val clash = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dest", org.apache.spark.sql.types.StringType)))
    val e = intercept[IllegalArgumentException] {
      Dynamic.readDynamicCsv(spark, out.getAbsolutePath, clash)
    }
    assert(e.getMessage.contains("dest"))
    val dynFile = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__dyn_file", org.apache.spark.sql.types.StringType)))
    intercept[IllegalArgumentException] {
      Dynamic.readDynamicParquet(spark, out.getAbsolutePath, dynFile)
    }
    intercept[IllegalArgumentException] {
      Dynamic.readDynamicText(spark, out.getAbsolutePath, destColName = "x", textColName = "x")
    }
  }

  test("destinations with spaces, '%' and '+' survive the dest-recovery join") {
    // input_file_name() returns the URL-ENCODED URI; the gather decodes
    // it back before joining against Hadoop's decoded listing — a space
    // ("%20"), '%' ("%25") or literal '+' (must NOT decode to a space)
    // destination must neither miss the join nor throw. (Non-ASCII
    // destinations decode the same way but can't be exercised here:
    // the test JVM's POSIX locale can't create non-UTF-8-mappable
    // local paths at all.)
    val out = tmpDir()
    val df = Seq(
      (1L, "va", "JUMBO PKG"), (2L, "vb", "50%off"), (4L, "vd", "a+b")
    ).toDF("id", "s", "dest")
    Dynamic.saveAsDynamicCsv(df, out.getAbsolutePath, "dest")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val back = Dynamic.readDynamicCsv(spark, out.getAbsolutePath, schema)
    val got = back.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("JUMBO PKG", 1L), ("50%off", 2L), ("a+b", 4L)))
  }

  // ---- dynamic Parquet ---------------------------------------------------

  private val pqSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))

  test("dynamic parquet: scatter/gather roundtrip preserves every row and destination") {
    val out = tmpDir()
    val df = Seq(
      (1L, "alpha", 1.5, "t/a"), (2L, "beta", -2.25, "t/b"),
      (3L, null.asInstanceOf[String], 0.0, "t/a"), (4L, "delta", 9.75, "t/c")
    ).toDF("id", "name", "score", "dest")
    Dynamic.saveAsDynamicParquet(df, out.getAbsolutePath, "dest")
    val back = Dynamic.readDynamicParquet(spark, out.getAbsolutePath, pqSchema)
    val got = back.select("dest", "id", "name", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == Set(("t/a", 1L, "alpha", 1.5), ("t/b", 2L, "beta", -2.25),
      ("t/a", 3L, null, 0.0), ("t/c", 4L, "delta", 9.75)))
    // completion stamp contract, same as every codec
    assert(new java.io.File(out, "_GRAFT_DYNAMIC_DONE").delete())
    intercept[IllegalArgumentException] {
      Dynamic.readDynamicParquet(spark, out.getAbsolutePath, pqSchema)
    }
  }

  test("dynamic parquet: shards are STOCK-spark.read.parquet-valid with exact types") {
    val out = tmpDir()
    val df = Seq(
      ("2024-03-01 10:30:00.123456", "2024-02-29", 1, 2.5f, true,
        Array[Byte](1, 2, 3), Seq(10L, 20L), "d1"),
      ("1969-12-31 23:59:59.000001", "1970-01-01", -7, -0.5f, false,
        Array[Byte](), Seq.empty[Long], "d1")
    ).toDF("ts_s", "dt_s", "i", "f", "b", "bin", "xs", "dest")
      .select(to_timestamp(col("ts_s")).as("ts"), to_date(col("dt_s")).as("dt"),
        col("i"), col("f"), col("b"), col("bin"), col("xs"), col("dest"))
    Dynamic.saveAsDynamicParquet(df, out.getAbsolutePath, "dest")
    val shard = new java.io.File(out, "d1").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val back = spark.read.parquet(shard.getAbsolutePath)
    // Spark forces nullable on any file-read schema, so compare on the
    // nullability-erased types
    def erase(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case org.apache.spark.sql.types.ArrayType(e, _) =>
          org.apache.spark.sql.types.ArrayType(erase(e), containsNull = true)
        case other => other
      }
    assert(back.schema.map(f => (f.name, erase(f.dataType))) ==
      df.schema.filterNot(_.name == "dest").map(f => (f.name, erase(f.dataType))))
    val got = back
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        col("dt").cast("string"), col("i"), col("f"), col("b"),
        length(col("bin")), col("xs"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getFloat(3),
        r.getBoolean(4), r.getInt(5), r.getSeq[Long](6).toList)).toSet
    assert(got == Set(
      ("2024-03-01 10:30:00.123456", "2024-02-29", 1, 2.5f, true, 3, List(10L, 20L)),
      ("1969-12-31 23:59:59.000001", "1970-01-01", -7, -0.5f, false, 0, Nil)))
  }

  test("dynamic parquet: fanout spreads a hot destination; nested types rejected") {
    val out = tmpDir()
    val df = spark.range(0, 200)
      .select(col("id"), concat(lit("n"), col("id")).as("name"),
        (col("id") * 0.5).as("score"), lit("hot").as("dest"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Dynamic.saveAsDynamicParquet(df, out.getAbsolutePath, "dest", fanout = 4)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = new java.io.File(out, "hot").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length > 1, "fanout should produce multiple parquet shards")
    val back = Dynamic.readDynamicParquet(spark, out.getAbsolutePath, pqSchema)
    assert(back.count() == 200)
    assert(back.agg(sum("id")).head.getLong(0) == (0L until 200L).sum)
    // wipe guard: a foreign dir refuses without the opt-in
    val foreign = tmpDir()
    java.nio.file.Files.write(new java.io.File(foreign, "keep.txt").toPath, "x".getBytes)
    val e = intercept[IllegalArgumentException] {
      Dynamic.saveAsDynamicParquet(
        Seq((1L, "a", 0.5, "d")).toDF("id", "name", "score", "dest"),
        foreign.getAbsolutePath, "dest")
    }
    assert(e.getMessage.contains("_GRAFT_DYNAMIC"))
    // nested payload types are rejected driver-side, tree untouched
    val nested = Seq((1L, Seq(Seq(1, 2)), "d")).toDF("id", "xs", "dest")
    val e2 = intercept[IllegalArgumentException] {
      Dynamic.saveAsDynamicParquet(nested, tmpDir().getAbsolutePath, "dest")
    }
    assert(e2.getMessage.contains("arrays of primitives"))
  }

  test("dynamic CSV timestamps roundtrip timezone-independently through stock spark.read.csv") {
    val out = tmpDir()
    val df = Seq(
      ("2024-03-01 10:30:00.123456", "d1"),
      ("1969-12-31 23:59:59.000001", "d2")
    ).toDF("ts_s", "dest")
      .select(to_timestamp(col("ts_s")).as("ts"), col("dest"))
    Dynamic.saveAsDynamicCsv(df, out.getAbsolutePath, "dest")
    val back = spark.read
      .option("header", "true")
      .option("recursiveFileLookup", "true")
      .option("escape", "\"")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
      .csv(out.getAbsolutePath)
    val got = back.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .collect().map(_.getString(0)).toSet
    assert(got == Set("2024-03-01 10:30:00.123456", "1969-12-31 23:59:59.000001"))
    // file bytes carry the explicit UTC offset, not a JVM-local rendering
    val raw = linesUnder(out).values.flatten.filterNot(_ == "ts")
    assert(raw.forall(_.endsWith("Z")), s"expected UTC-offset rendering, got $raw")
  }

  test("Avro.read and Protobuf.read accept a destination dir of a completed dynamic tree") {
    import org.apache.spark.sql.types._
    val df = Seq(("t/a", 1L, "alpha"), ("t/b", 2L, "beta"), ("t/a", 3L, "gamma"))
      .toDF("dest", "id", "name")
    val avroTree = tmpDir()
    Dynamic.saveAsDynamicAvro(df, avroTree.getAbsolutePath, "dest")
    val protoTree = tmpDir()
    Dynamic.saveAsDynamicProtobuf(df, protoTree.getAbsolutePath, "dest")
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    def pairs(back: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      back.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val expect = Seq((1L, "alpha"), (3L, "gamma"))
    assert(pairs(Avro.read(spark, s"${avroTree.getAbsolutePath}/t/a")) == expect)
    assert(pairs(Protobuf.read(spark, s"${protoTree.getAbsolutePath}/t/a", schema)) == expect)
  }

  test("Avro.read refuses a destination dir of a crashed dynamic tree") {
    val out = tmpDir()
    Dynamic.saveAsDynamicAvro(Seq(("d", 1L)).toDF("dest", "id"), out.getAbsolutePath, "dest")
    // a crashed write leaves only the ownership stamp
    assert(new java.io.File(out, Dynamic.MarkerDone).delete())
    val e = intercept[IllegalArgumentException](Avro.read(spark, s"${out.getAbsolutePath}/d"))
    assert(e.getMessage.contains("_SUCCESS"))
  }
}
