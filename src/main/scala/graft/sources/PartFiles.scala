package graft.sources

import java.io.OutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.graft.ConfBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The executor-side part-file commit behind every file sink graft
  * writes by hand — the flat [[Avro]], [[TfRecord]] and [[Tar]]
  * writers and [[Dynamic]]'s scatter (data files and `_manifest`
  * shards alike):
  *  - a task streams one file into a dot-prefixed temp named by its
  *    ATTEMPT (`.part-NNNNN.attempt-A`, hidden from Hadoop globbing and
  *    from every graft reader), beside its target `part-NNNNN.<ext>`;
  *  - the stream closes, then the temp renames onto the target. A
  *    failed rename is an error unless a file is at the target (a
  *    speculative twin won the race), so no shard goes missing under a
  *    completion stamp;
  *  - a write that throws closes its stream and deletes its temp.
  */
private[sources] object PartFiles {

  /** One open part file of a format: `write` takes one row, `close`
    * writes the format's trailer and flushes into the stream.
    */
  trait Sink {
    def write(row: Row): Unit
    def close(): Unit
  }

  /** A format's row encoder, shipped once to every task; `open` wraps
    * one part file's stream.
    */
  trait Encoder extends Serializable {
    def ext: String
    def open(out: OutputStream): Sink
  }

  /** The session's Hadoop conf for tasks, shipped as one broadcast:
    * call the returned function inside the task.
    */
  def hadoopConf(spark: SparkSession): () => Configuration = {
    val bc = ConfBridge.broadcastHadoopConf(spark.sparkContext)
    () => ConfBridge.confOf(bc)
  }

  /** Commit `body`'s bytes as `dir/part-NNNNN.<ext>` (NNNNN = this
    * task's partition) under the rule above; returns the target.
    */
  def write(fs: FileSystem, dir: Path, ext: String)(body: OutputStream => Unit): Path = {
    val ctx = TaskContext.get()
    val part = f"part-${ctx.partitionId()}%05d"
    val target = new Path(dir, s"$part.$ext")
    val temp = new Path(dir, s".$part.attempt-${ctx.taskAttemptId()}")
    val out = fs.create(temp, true)
    try { body(out); out.close() } catch { case t: Throwable =>
      try out.close() catch { case _: Throwable => () }
      fs.delete(temp, false)
      throw t
    }
    if (!fs.rename(temp, target)) {
      fs.delete(temp, false)
      if (!fs.exists(target)) throw new java.io.IOException(
        s"could not commit $target: the rename from $temp failed and no file is at the target")
    }
    target
  }

  /** The flat writers' body: wipe `path`, write one part file per
    * non-empty partition of `rows` through `enc`, stamp `_SUCCESS`;
    * returns the shard count.
    */
  def writeShards(rows: DataFrame, path: String, enc: Encoder): Int = {
    val spark = rows.sparkSession
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true) // overwrite semantics: no stale shards
    fs.mkdirs(dir)
    val conf = hadoopConf(spark)
    val shards = rows.rdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val taskDir = new Path(path)
        write(taskDir.getFileSystem(conf()), taskDir, enc.ext) { out =>
          val sink = enc.open(out)
          it.foreach(sink.write)
          sink.close()
        }
        Iterator.single(1)
      }
    }.count().toInt
    fs.create(new Path(dir, "_SUCCESS"), true).close()
    shards
  }
}
