package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The benchmark's event stream at test size: `StreamDedup.dedup` on
  * (event_id, ts) with a 30 minute watermark feeding an hourly count per
  * event type, read from a file source one file per trigger, with a
  * checkpoint. Input is the sf0.001 events table cut into time-ordered
  * parquet files.
  */
object EventStream {

  /** Cuts the events table into `nData` time-ordered files, each
    * carrying the previous file's last 20 events again (replays for the
    * dedup), plus two one-row sentinel files days past the data whose
    * watermark closes every real window. Each is one parquet file under
    * `dir`. */
  def files(spark: SparkSession, sf: String, dir: File, nData: Int): (Seq[File], Seq[File]) = {
    val ev = graft.Tables.normalizeTs(spark.read.parquet(s"$sf/events.parquet"))
      .select("event_id", "ts", "event_type", "value")
    val rows = ev.orderBy("ts", "event_id").collect().toSeq
    val size = (rows.size + nData - 1) / nData
    val cuts = rows.grouped(size).toSeq
    val data = cuts.indices.map { i =>
      val replays = if (i == 0) Nil else cuts(i - 1).takeRight(20)
      write(spark, ev, cuts(i) ++ replays, new File(dir, f"data_$i%02d.parquet"))
    }
    val last = rows.map(_.getTimestamp(1).getTime).max
    val sentinels = Seq(10, 11).map { days =>
      val ts = new java.sql.Timestamp(last + days * 86400000L)
      write(spark, ev, Seq(Row(-days.toLong, ts, "sentinel", 0.0)), new File(dir, s"sentinel_$days.parquet"))
    }
    (data, sentinels)
  }

  private def write(spark: SparkSession, like: DataFrame, rows: Seq[Row], to: File): File = {
    val tmp = new File(to.getParentFile, s".${to.getName}.d")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), like.schema)
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    to
  }

  /** Copies `fs` into `src` oldest first (the file source takes files
    * by modification time) under a name the source skips, then renames
    * each into place, so a trigger never lists a half-written file. */
  def land(fs: Seq[File], src: File): Unit = {
    src.mkdirs()
    val base = System.currentTimeMillis() - 1000L * fs.size
    fs.zipWithIndex.foreach { case (f, i) =>
      val tmp = new File(src, s".${f.getName}.tmp")
      Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      tmp.setLastModified(base + 1000L * i)
      Files.move(tmp.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Runs the query over what `src` holds now, one file per trigger,
    * until the source is drained, and returns the stopped query. */
  def run(spark: SparkSession, src: File, ckp: File,
          sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val schema = spark.read.parquet(src.listFiles().filter(_.getName.endsWith(".parquet")).head.getPath).schema
    val ev = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src.getPath)
    val out = StreamDedup.dedup(ev, Seq("event_id"), "ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
        col("event_type"), col("n"), col("cents"))
    val q = sink(out.writeStream.option("checkpointLocation", ckp.getPath)
      .outputMode("append").trigger(Trigger.AvailableNow())).start()
    if (!q.awaitTermination(120000L)) {
      q.stop()
      throw new IllegalStateException("event stream did not drain in 120 s")
    }
    q.exception.foreach(e => throw e)
    q
  }
}
