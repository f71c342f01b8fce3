package graft.util

import java.io.{BufferedOutputStream, IOException, OutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-written artifact files: IVF centroids, PQ codebooks, Annoy
  * and Voyager indexes, BPE merges, Bloom/CMS sketches.
  */
object Artifacts {

  /** Write `path` on any Hadoop-visible file system through `body`,
    * as a temp file in the same directory and an atomic rename: a
    * reader sees either the old complete file or the new complete
    * file, never a torn one. If `body` throws, the temp file is removed
    * and the old file is left as it was.
    *
    * `body` gets a buffered stream that is closed for it; it must not
    * leave bytes behind in buffers of its own.
    *
    * Rename onto an existing file fails on local and HDFS, so the old
    * file is deleted first. If another writer lands between that
    * delete and the rename, its file is kept: the artifacts are
    * deterministic for their inputs, so either complete copy is
    * correct, and only a failed rename with no file at `path` is an
    * error.
    */
  def write(spark: SparkSession, path: String)(body: OutputStream => Unit): Unit = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    try {
      val out = new BufferedOutputStream(fs.create(tmp, true))
      try body(out) finally out.close()
    } catch {
      case e: Throwable =>
        fs.delete(tmp, false)
        throw e
    }
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      if (!fs.exists(p))
        throw new IOException(s"rename $tmp -> $p failed; artifact write aborted")
    }
  }
}
