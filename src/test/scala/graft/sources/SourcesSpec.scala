package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Format IO roundtrips (scio text/csv/json/parquet/object/binary). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val base = "/tmp/graft_test/sources"
  private lazy val nation = spark.read.parquet(s"$sf/nation.parquet")

  test("text roundtrip preserves lines") {
    Sources.writeText(nation.select(col("n_name")), s"$base/text")
    val back = Sources.readText(spark, s"$base/text")
    assert(sortedRows(back) == sortedRows(nation.select(col("n_name").as("value"))))
  }

  test("readTextWithPath attaches file provenance to each line") {
    Sources.writeText(nation.select(col("n_name")), s"$base/text_wp")
    val back = Sources.readTextWithPath(spark, s"$base/text_wp")
    assert(back.columns.toSeq == Seq("value", "path"))
    assert(back.filter(col("path").contains("text_wp")).count() == nation.count())
  }

  test("csv roundtrip with explicit schema preserves rows and types") {
    Sources.writeCsv(nation, s"$base/csv")
    val back = Sources.readCsv(spark, s"$base/csv", Some(nation.schema))
    assert(back.schema == nation.schema)
    assert(sortedRows(back) == sortedRows(nation))
  }

  test("json-lines roundtrip preserves rows") {
    Sources.writeJson(nation, s"$base/json")
    val back = Sources.readJson(spark, s"$base/json", Some(nation.schema))
    assert(sortedRows(back.select(nation.columns.map(col): _*)) == sortedRows(nation))
  }

  test("orc roundtrip preserves rows and types") {
    Sources.writeOrc(nation, s"$base/orc")
    val back = Sources.readOrc(spark, s"$base/orc")
    assert(back.schema == nation.schema)
    assert(sortedRows(back) == sortedRows(nation))
  }

  test("object roundtrip (typed Dataset via parquet + encoder)") {
    val ds = Seq(("a", 1), ("b", 2)).toDF("k", "v").as[(String, Int)]
    Sources.writeObject(ds, s"$base/obj")
    val back = Sources.readObject[(String, Int)](spark, s"$base/obj")
    assert(back.collect().sorted.toSeq == Seq(("a", 1), ("b", 2)))
  }

  test("binaryFile source exposes content and length") {
    Sources.writeText(Seq("hello binary world").toDF("value"), s"$base/bin_src")
    val bin = Sources.readBinary(spark, s"$base/bin_src/part-*")
    val row = bin.select(col("length"), col("content")).collect().head
    assert(new String(row.getAs[Array[Byte]]("content"), "UTF-8").trim == "hello binary world")
    assert(row.getAs[Long]("length") > 0)
  }

  test("partitioned parquet write prunes partitions on read") {
    val ev = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("status", col("o_orderstatus"))
    Sources.writeParquet(ev, s"$base/part_parquet", partitionBy = Seq("status"))
    val one = Sources.readParquet(spark, s"$base/part_parquet").filter(col("status") === "F")
    val explain = one.queryExecution.executedPlan.toString()
    assert(one.count() == ev.filter(col("o_orderstatus") === "F").count())
    // partition filter must reach the scan, not a post-scan Filter
    assert(explain.contains("PartitionFilters: [isnotnull(status"), explain)
  }

  test("readFiles family reads files named by a distributed path dataset") {
    val dir = new java.io.File(s"$base/dyn_files"); dir.mkdirs()
    val contents = Map("f1.txt" -> "alpha\nbeta", "f2.txt" -> "gamma", "f3.txt" -> "")
    contents.foreach { case (name, text) =>
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val paths = contents.keys.toSeq.sorted.map(n => s"file:$dir/$n").toDS().repartition(2)
    val asString = Sources.readFilesAsString(paths).collect().toMap
    assert(asString.size == 3)
    contents.foreach { case (name, text) =>
      assert(asString(s"file:$dir/$name") == text)
    }
    val asBytes = Sources.readFilesAsBytes(paths).collect().toMap
    assert(new String(asBytes(s"file:$dir/f1.txt"), "UTF-8") == "alpha\nbeta")
    assert(asBytes(s"file:$dir/f3.txt").isEmpty)
    val lines = Sources.readTextFiles(paths).collect().sorted.toSeq
    assert(lines == Seq("alpha", "beta", "gamma"))
  }
}
