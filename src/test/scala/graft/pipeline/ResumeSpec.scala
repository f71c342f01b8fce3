package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ResumeSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("resume_spec").toString
    d
  }

  test("stage computes once, then loads the committed artifact") {
    val dir = freshDir()
    val evals = new AtomicInteger(0)
    def run() = Resume.stage(spark, dir, "s1") {
      evals.incrementAndGet()
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val first = run().collect().map(_.toString).sorted.toSeq
    val second = run().collect().map(_.toString).sorted.toSeq
    assert(first == second && first.size == 2)
    assert(evals.get() == 1, "second call must load, not recompute")
    assert(Resume.isComplete(spark, dir, "s1"))
    // commit marker records rows + schema for audit
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "s1", "_GRAFT_STAGE_COMPLETE")))
    assert(meta.contains("\"rows\":2") && meta.contains("id"))
  }

  test("a partial write (no commit marker) is recomputed, never trusted") {
    val dir = freshDir()
    val evals = new AtomicInteger(0)
    def run() = Resume.stage(spark, dir, "s1") {
      evals.incrementAndGet()
      Seq(1, 2, 3).toDF("v")
    }
    run()
    // simulate a crash between parquet write and commit: delete the marker
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "s1", "_GRAFT_STAGE_COMPLETE"))
    assert(!Resume.isComplete(spark, dir, "s1"))
    assert(run().count() == 3)
    assert(evals.get() == 2, "uncommitted artifact must recompute")
  }

  test("foreign non-empty directory is refused; invalidate forces recompute") {
    val dir = freshDir()
    // foreign data where the stage would write
    val foreign = java.nio.file.Paths.get(dir, "s1")
    java.nio.file.Files.createDirectories(foreign)
    java.nio.file.Files.write(foreign.resolve("precious.txt"), "data".getBytes)
    intercept[IllegalArgumentException] {
      Resume.stage(spark, dir, "s1")(Seq(1).toDF("v"))
    }
    intercept[IllegalArgumentException](Resume.invalidate(spark, dir, "s1"))

    val evals = new AtomicInteger(0)
    def run() = Resume.stage(spark, dir, "s2") {
      evals.incrementAndGet(); Seq(evals.get()).toDF("v")
    }
    run(); Resume.invalidate(spark, dir, "s2")
    assert(run().collect().head.getInt(0) == 2 && evals.get() == 2)
    // force recomputes over a committed artifact too
    assert(Resume.stage(spark, dir, "s2", force = true) {
      evals.incrementAndGet(); Seq(evals.get()).toDF("v")
    }.collect().head.getInt(0) == 3)
  }

  test("chain resumes from the first uncommitted stage") {
    val dir = freshDir()
    val e1 = new AtomicInteger(0); val e2 = new AtomicInteger(0)
    def run() = Resume.chain(spark, dir, Seq(1, 2, 3, 4).toDF("v"))(
      "double" -> { df => e1.incrementAndGet(); df.withColumn("v", col("v") * 2) },
      "evens" -> { df => e2.incrementAndGet(); df.filter(col("v") % 4 === 0) })
    val out1 = run().collect().map(_.getInt(0)).sorted.toSeq
    assert(out1 == Seq(4, 8))
    // invalidate only the SECOND stage: re-run must reuse the first
    Resume.invalidate(spark, dir, "evens")
    val out2 = run().collect().map(_.getInt(0)).sorted.toSeq
    assert(out2 == out1)
    assert(e1.get() == 1 && e2.get() == 2, s"expected (1,2), got (${e1.get()},${e2.get()})")
    intercept[IllegalArgumentException] {
      Resume.chain(spark, dir, Seq(1).toDF("v"))("a" -> identity, "a" -> identity)
    }
  }

  test("stage name validation rejects path-escaping names") {
    intercept[IllegalArgumentException](
      Resume.stage(spark, freshDir(), "../evil")(Seq(1).toDF("v")))
  }

  test("_GRAFT_STAGE_COMPLETE format is pinned: a commit writes its bytes, which load") {
    val dir = freshDir()
    val evals = new AtomicInteger(0)
    def run() = Resume.stage(spark, dir, "s1") {
      evals.incrementAndGet()
      Seq((1, "a")).toDF("a\"b\\c", "é x")
    }
    run()
    val marker = java.nio.file.Paths.get(dir, "s1", "_GRAFT_STAGE_COMPLETE")
    val pinned = "{\"rows\":1,\"schema\":\"`a\\\"b\\\\c` INT,`é x` STRING\"}"
    assert(java.nio.file.Files.readAllBytes(marker).toSeq ==
      pinned.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq)
    val formatted = "{\n  \"rows\" : 1,\n  \"schema\" : \"`a\\\"b\\\\c` INT,`é x` STRING\"\n}\n"
    for (text <- Seq(pinned, formatted)) {
      java.nio.file.Files.deleteIfExists(marker.resolveSibling("._GRAFT_STAGE_COMPLETE.crc"))
      java.nio.file.Files.writeString(marker, text)
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(java.nio.file.Files.readString(marker))
      assert(n.get("rows").asLong == 1L && n.get("schema").asText == "`a\"b\\c` INT,`é x` STRING")
      // the marker commits the stage: it loads, with no second evaluation
      assert(Resume.isComplete(spark, dir, "s1"))
      assert(run().collect().map(_.toString).toSeq == Seq("[1,a]"), text)
    }
    assert(evals.get() == 1)
  }
}
