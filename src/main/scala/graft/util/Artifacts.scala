package graft.util

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, ObjectReader}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side artifact files: the one module that knows how graft
  * writes, reads and encodes them. Through it go
  *  - binary artifacts: IVF centroids and PQ codebooks (KNN), Annoy
  *    and Voyager indexes, BPE merges, GraftBloom / GraftCms /
  *    ScalableBloom filters, zstd dictionaries;
  *  - JSON sidecars, all in one codec ([[json]]): `_GRAFT_SKETCH`
  *    (Sketches), `_GRAFT_MINHASH` (Dedup), `_GRAFT_UNILM` (LmScore),
  *    `_GRAFT_QGRID` (Stats), `_GRAFT_STAGE_COMPLETE` (Resume) and
  *    Voyager's `names.json`.
  */
object Artifacts {

  /** The JSON codec of every sidecar: Jackson's defaults, so what it
    * writes is RFC 8259 JSON (control characters escaped, other text
    * as UTF-8) and what it reads may be formatted any way.
    */
  val json: ObjectMapper = new ObjectMapper()

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fileSystem(spark, p).exists(p)
  }

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
    val fs = fileSystem(spark, p)
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

  /** [[write]] `node` as compact JSON text, encoded to UTF-8. */
  def writeJson(spark: SparkSession, path: String, node: JsonNode): Unit =
    write(spark, path)(_.write(json.writeValueAsString(node).getBytes(StandardCharsets.UTF_8)))

  /** Read `path` through `body`, on a buffered stream that is closed
    * for it.
    */
  def read[A](spark: SparkSession, path: String)(body: InputStream => A): A = {
    val p = new Path(path)
    val in = new BufferedInputStream(fileSystem(spark, p).open(p))
    try body(in) finally in.close()
  }

  /** The whole file at `path` (< 2 GiB). */
  def readBytes(spark: SparkSession, path: String): Array[Byte] = {
    val p = new Path(path)
    readBytes(fileSystem(spark, p), p)
  }

  /** [[readBytes]] on a given file system, so executors can use it. */
  def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$p is ${len}B; whole-file read needs <2GiB")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, bytes) finally in.close()
    bytes
  }

  /** `text` as JSON, read by `reader` (default: [[json]]'s strict
    * reader); text that is not JSON fails with `malformed` as the
    * IllegalArgumentException.
    */
  def parseJson(text: String, malformed: => String,
                reader: ObjectReader = json.reader()): JsonNode =
    try reader.readTree(text)
    catch { case e: JsonProcessingException => throw new IllegalArgumentException(malformed, e) }

  /** The JSON document at `path`. A missing file fails with
    * `missing`, one that is not JSON with `malformed` (both as
    * IllegalArgumentException).
    */
  def readJson(spark: SparkSession, path: String, missing: => String,
               malformed: => String): JsonNode = {
    require(exists(spark, path), missing)
    parseJson(new String(readBytes(spark, path), StandardCharsets.UTF_8), malformed)
  }

  /** `node`'s field `name`, required to pass `ok` (failing with
    * `malformed`).
    */
  def field(node: JsonNode, name: String, malformed: => String)(ok: JsonNode => Boolean): JsonNode = {
    val v = node.path(name)
    require(ok(v), malformed)
    v
  }
}
