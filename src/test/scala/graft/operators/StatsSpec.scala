package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit, percentile, typedLit}

class StatsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, Double, Double, Long)] =
    df.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq

  test("explicit boundaries: half-open, last inclusive, out-of-range ignored, empty bucket zero") {
    val df = Seq(0.0, 0.5, 1.0, 1.5, 2.0, -1.0, 2.5).toDF("v")
    val h = rows(Stats.histogram(df, "v", Array(0.0, 1.0, 2.0)))
    // [0,1): {0.0, 0.5}; [1,2]: {1.0, 1.5, 2.0} — 2.0 lands in the LAST
    // bucket (inclusive upper); -1.0 and 2.5 ignored
    assert(h == Seq((0, 0.0, 1.0, 2L), (1, 1.0, 2.0, 3L)))
    val empty = rows(Stats.histogram(Seq(5.0).toDF("v"), "v", Array(0.0, 1.0, 4.0, 6.0)))
    assert(empty.map(_._4) == Seq(0L, 0L, 1L))
  }

  test("bucketCount form: even widths over observed min/max; min==max collapses") {
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val h = rows(Stats.histogram(df, "v", 4))
    assert(h.map(_._4).sum == 101L)
    assert(h.size == 4 && h.head._2 == 0.0 && h.last._3 == 100.0)
    val flat = rows(Stats.histogram(Seq(7.0, 7.0).toDF("v"), "v", 5))
    assert(flat == Seq((0, 7.0, 7.0, 2L)))
  }

  test("guards: reference contract on empty/NaN input and bad boundaries") {
    intercept[IllegalArgumentException](
      Stats.histogram(Seq.empty[Double].toDF("v"), "v", 3))
    intercept[IllegalArgumentException](
      Stats.histogram(Seq(1.0, Double.NaN).toDF("v"), "v", 3))
    intercept[IllegalArgumentException](
      Stats.histogram(Seq(1.0).toDF("v"), "v", Array(2.0, 1.0)))
    intercept[IllegalArgumentException](
      Stats.histogram(Seq(1.0).toDF("v"), "v", Array(1.0)))
  }

  test("winsorize clamps to the exact percentile band; nulls pass through") {
    val vals = (1 to 100).map(_.toDouble)
    val df = (vals.map(Option(_)) :+ None).toDF("v")
    val w = Stats.winsorize(df, "v", 0.05, 0.95)
      .collect().map(r => Option(r.get(0)).map(_.toString.toDouble) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // exact interpolated p05/p95 of 1..100: 5.95 and 95.05
    assert(w(Some(1.0)) == Some(5.95))
    assert(w(Some(100.0)) == Some(95.05))
    assert(w(Some(50.0)) == Some(50.0), "in-band values untouched")
    assert(w(None).isEmpty, "null stays null")
    // NaN must pass through, not clamp to the upper threshold (Spark
    // orders NaN above every double)
    val nan = Stats.winsorize(Seq(1.0, 2.0, 3.0, Double.NaN).toDF("v"), "v", 0.25, 0.75)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(nan.exists { case (in, out) => in.isNaN && out.isNaN }, "NaN stays NaN")
    intercept[IllegalArgumentException](Stats.winsorize(df, "v", 0.9, 0.1))
    intercept[IllegalArgumentException](
      Stats.winsorize(df.withColumnRenamed("v", "x").withColumn("x_w", col("x")), "x"))
  }

  test("robustOutliers flags by median/MAD; degenerate MAD contract") {
    // median 10, residuals mostly 1 → MAD 1; 1000 is a screaming outlier
    val df = (Seq(9.0, 10.0, 11.0, 9.0, 11.0, 10.0, 1000.0).map(Option(_)) :+ None)
      .toDF("v")
    val out = Stats.robustOutliers(df, "v", k = 3.5)
      .collect().map { r =>
        Option(r.get(0)).map(_.toString.toDouble) ->
          ((if (r.isNullAt(1)) None else Some(r.getDouble(1))), r.getBoolean(2))
      }.toMap
    assert(out(Some(1000.0))._2, "the outlier must flag")
    assert(!out(Some(9.0))._2 && !out(Some(11.0))._2)
    assert(out(None) == ((None, false)), "null carries null z, false flag")
    // degenerate: >half identical → MAD 0 → different-from-median flags
    val deg = Seq(5.0, 5.0, 5.0, 5.0, 7.0).toDF("v")
    val dz = Stats.robustOutliers(deg, "v")
      .collect().map(r => r.getDouble(0) -> ((r.isNullAt(1), r.getBoolean(2)))).toMap
    assert(dz(5.0) == ((true, false)) && dz(7.0) == ((true, true)))
  }

  test("quantile grid artifact: bit-exact roundtrip; ranks calibrate new values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qgrid_spec").toFile
    val path = s"${dir.getAbsolutePath}/grid.json"
    // uniform 1..1000 training corpus
    val train = (1 to 1000).map(_.toDouble).toDF("v")
    Stats.saveQuantileGrid(train, "v", path, gridSize = 100)
    val grid = Stats.loadQuantileGrid(spark, path)
    assert(grid.length == 101 && grid.head == 1.0 && grid.last == 1000.0)
    // roundtrip is bit-exact (raw long bits in the sidecar)
    val direct = train.agg(
        percentile(col("v"), typedLit((0 to 100).map(_ / 100.0))).as("q"))
      .collect()(0).getAs[scala.collection.Seq[Double]](0)
    assert(grid.toSeq == direct.toSeq)
    val probe = Seq(Some(0.5), Some(1.0), Some(500.5), Some(1000.0), Some(2000.0), None)
      .toDF("v")
    val ranks = Stats.percentileRank(probe, "v", path)
      .collect().map(r => (if (r.isNullAt(0)) null else r.getDouble(0)) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(ranks(0.5) == 0.0, "below historical min ranks 0")
    assert(ranks(1.0) == 0.0, "at the min ranks 0")
    assert(ranks(2000.0) == 1.0, "above historical max ranks 1")
    assert(ranks(1000.0) == 1.0)
    assert(math.abs(ranks(500.5) - 0.5) <= 0.01, s"median ranks ~0.5: ${ranks(500.5)}")
    assert(ranks(null).isNaN, "null value ranks null")
    intercept[IllegalArgumentException](
      Stats.saveQuantileGrid(train.filter(lit(false)), "v", path))
    intercept[IllegalArgumentException](Stats.loadQuantileGrid(spark, s"$path.missing"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("_GRAFT_QGRID sidecar format is pinned: its bytes load, a save writes them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qgrid_meta").toFile
    val values = Seq(-1.5, 0.0, 2.0, 3.0, 5.0)
    Stats.saveQuantileGrid(values.toDF("v"), "v", s"$dir/grid", gridSize = 4)
    val bits = "-4613937818241073152,0,4611686018427387904,4613937818241073152,4617315517961601024"
    val pinned = s"""{"marker":"_GRAFT_QGRID","gridSize":4,"bits":[$bits]}"""
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/grid")) == pinned)
    val formatted = "{\n  \"marker\": \"_GRAFT_QGRID\",\n  \"gridSize\": 4,\n  \"bits\": [ " +
      bits.replace(",", ",\n    ") + " ]\n}\n"
    for ((name, text) <- Seq("pinned" -> pinned, "formatted" -> formatted)) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), text)
      assert(Stats.loadQuantileGrid(spark, s"$dir/$name").toSeq == values, name)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
