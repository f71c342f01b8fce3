package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A local file system under the private scheme `renamefail://` whose
  * `rename` returns false, moving nothing, for every target
  * [[RenameFailFs.failing]] accepts.
  */
class RenameFailFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("renamefail:///")
  override def getScheme: String = "renamefail"
  override def rename(src: Path, dst: Path): Boolean =
    !RenameFailFs.failing(dst) && super.rename(src, dst)
}

object RenameFailFs {
  @volatile var failing: Path => Boolean = _ => false
}

/** The part-file commit shared by the flat Avro/TFRecord/tar writers
  * and the dynamic scatter: a lost rename fails the write, a failed
  * encoder leaves no temp, and tasks see the session's Hadoop conf.
  */
class PartFilesSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` on a fresh `renamefail://` root, the scheme mapped to
    * [[RenameFailFs]] on the session's Hadoop conf only, with renames
    * onto the targets `failing` accepts failing.
    */
  private def withRenameFail(failing: Path => Boolean)(body: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("graft_partfiles").toFile
    conf.set("fs.renamefail.impl", classOf[RenameFailFs].getName)
    conf.set("fs.renamefail.impl.disable.cache", "true")
    RenameFailFs.failing = failing
    try body(s"renamefail://${dir.getAbsolutePath}")
    finally {
      conf.unset("fs.renamefail.impl")
      conf.unset("fs.renamefail.impl.disable.cache")
      RenameFailFs.failing = _ => false
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  private def local(path: String): File = new File(new Path(path).toUri.getPath)

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def rows = Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)

  test("a shard rename that fails with no file at the target fails every writer, unstamped") {
    withRenameFail(p => p.getName.startsWith("part-") && p.getParent.getName != "_manifest") {
      root =>
        val writes: Seq[(String, String => Unit, String)] = Seq(
          ("avro", Avro.write(rows, _), "_SUCCESS"),
          ("tfrecord", TfRecord.write(rows.select(encode(col("name"), "UTF-8").as("value")), _),
            "_SUCCESS"),
          ("tar", Tar.write(rows.select(concat(col("name"), lit(".txt")).as("name"),
            encode(col("name"), "UTF-8").as("value")), _), "_SUCCESS"),
          ("dynamic", Dynamic.saveAsDynamicText(rows.withColumn("dest", lit("d")), _,
            "dest", "name"), Dynamic.MarkerDone))
        writes.foreach { case (name, write, stamp) =>
          val out = s"$root/$name"
          val e = intercept[SparkException](write(out))
          assert(messages(e).exists(_.contains("could not commit")), s"$name: ${messages(e)}")
          assert(!new File(local(out), stamp).exists(), s"$name stamped $stamp over a lost shard")
          assert(!walk(local(out)).exists(_.getName.contains(".attempt-")),
            s"$name left its attempt temp behind")
        }
    }
  }

  test("a scatter whose only failing rename is the _manifest shard raises instead of stamping DONE") {
    withRenameFail(_.getParent.getName == Dynamic.ManifestDir) { root =>
      val out = s"$root/dyn"
      val e = intercept[SparkException](
        Dynamic.saveAsDynamicText(Seq(("d", "x")).toDF("dest", "text"), out, "dest", "text"))
      assert(messages(e).exists(_.contains(Dynamic.ManifestDir)), messages(e).mkString(" | "))
      assert(new File(local(out), "d").list().exists(_.startsWith("part-")),
        "the data shard committed: only the manifest rename failed")
      assert(!new File(local(out), Dynamic.MarkerDone).exists())
    }
  }

  test("an Avro.write whose encoder throws leaves no attempt temp behind") {
    val schema = StructType(Seq(
      StructField("c", StringType, nullable = false, metadata = Avro.enumMetadata(Seq("A", "B")))))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("A"), Row("C")), 1), schema)
    val out = java.nio.file.Files.createTempDirectory("graft_partfiles").toFile
    try {
      val e = intercept[SparkException](Avro.write(bad, out.getAbsolutePath))
      assert(messages(e).exists(_.contains("not a symbol")))
      assert(!out.list().exists(_.contains(".attempt-")), out.list().mkString(", "))
      assert(!new File(out, "_SUCCESS").exists())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out)
  }

  test("a rewrite of a MinHash or sketch index that dies in a data write reads as no index") {
    // every save and extend writes its sidecar last, so it must drop an
    // older one before its first data write: a crash then leaves no
    // stale sidecar beside an emptied bands/ or sketches/ directory
    import graft.dedup.Dedup
    import graft.operators.Sketches
    var armed = false
    withRenameFail(p => armed && Seq("/out/bands/", "/out/sketches/").exists(p.toUri.getPath.contains)) {
      root =>
        val docs = Seq((1L, "the quick brown fox jumps over"), (2L, "the quick brown fox leaps over"),
          (3L, "an unrelated line of plain text")).toDF("doc_id", "text")
        val more = Seq((4L, "yet another document of the crawl")).toDF("doc_id", "text")
        def crashes(what: String, before: String => Unit, rewrite: String => Unit,
                    read: String => Any, notIndex: String): Unit = {
          val out = s"$root/$what/out"
          before(s"$root/$what/idx")
          before(out)
          armed = true
          try intercept[SparkException](rewrite(out)) finally armed = false
          val e = intercept[IllegalArgumentException](read(out))
          assert(e.getMessage.contains(notIndex), s"$what: ${e.getMessage}")
        }
        def minhash(path: String): Unit = Dedup.saveMinhashIndex(docs, "doc_id", "text", path)
        def readMinhash(path: String) = Dedup.loadMinhashIndexParams(spark, path)
        def sketch(path: String): Unit = Sketches.saveIndex(docs, "text", Seq.empty, path)
        def readSketch(path: String) = Sketches.loadIndex(spark, path)
        crashes("mh_save", minhash, minhash, readMinhash, "not a graft MinHash index")
        crashes("mh_extend", minhash,
          out => Dedup.extendMinhashIndex(more, "doc_id", "text", s"$root/mh_extend/idx", out),
          readMinhash, "not a graft MinHash index")
        crashes("sk_save", sketch, sketch, readSketch, "not a graft sketch index")
        crashes("sk_extend", sketch,
          out => Sketches.extendIndex(more, s"$root/sk_extend/idx", out),
          readSketch, "not a graft sketch index")
    }
  }

  test("the scatter's tasks take the session's Hadoop conf") {
    // `renamefail://` is known to the session's conf alone: a task
    // building its own Configuration cannot resolve the scheme
    withRenameFail(_ => false) { root =>
      val out = s"$root/dyn"
      Dynamic.saveAsDynamicText(Seq(("d", "x"), ("e", "y")).toDF("dest", "text"),
        out, "dest", "text")
      assert(new File(local(out), Dynamic.MarkerDone).exists())
      assert(Dynamic.readDynamicText(spark, out).collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq == Seq(("d", "x"), ("e", "y")))
    }
  }
}
