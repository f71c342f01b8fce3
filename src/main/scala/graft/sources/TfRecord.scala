package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** TFRecord IO — graft's counterpart to scio-tensorflow's
  * saveAsTfRecordFile/tfRecordFile (reference: scio-tensorflow/src/
  * main/scala/com/spotify/scio/tensorflow/syntax/ package). The wire
  * format is the public TFRecord framing: per record
  *   uint64 length (little-endian)
  *   uint32 masked crc32c of the 8 length bytes
  *   payload
  *   uint32 masked crc32c of the payload
  * with mask(crc) = ((crc >>> 15) | (crc << 17)) + 0xa282ead8.
  * Payloads are opaque bytes (normally serialized tf.train.Example
  * protos — protobuf is out of scope in this environment, and scio's
  * plain `saveAsTfRecordFile` is also bytes-in/bytes-out).
  *
  * Scale design: TFRecord files carry no sync markers, so they are
  * NOT splittable — the unit of parallelism is the FILE, which is why
  * every large pipeline shards training data into many records files.
  * Read parallelism = #files (one stream parse per task); write emits
  * one file per partition (repartition to choose the shard count).
  * This is per-partition imperative parsing of a foreign binary
  * format — the one place mapPartitions/RDD beats a declarative scan.
  */
object TfRecord {

  private val LengthBytes = 8 + 4  // u64 length + u32 masked crc
  private val MaskDelta = 0xa282ead8

  private def maskedCrc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C()
    c.update(bytes, off, len)
    val crc = c.getValue.toInt // low 32 bits
    ((crc >>> 15) | (crc << 17)) + MaskDelta
  }

  private def maskedCrc32c(bytes: Array[Byte]): Int = maskedCrc32c(bytes, 0, bytes.length)

  /** Serialize one record's framing into `out`. */
  private def writeRecord(out: java.io.DataOutputStream, payload: Array[Byte]): Unit = {
    val lenBuf = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(payload.length.toLong).array()
    val crcBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    out.write(lenBuf)
    out.write(crcBuf.clear().putInt(maskedCrc32c(lenBuf)).array())
    out.write(payload)
    out.write(crcBuf.clear().putInt(maskedCrc32c(payload)).array())
  }

  /** Parse a TFRecord stream; CRC-verified. A clean EOF is only legal
    * at a record boundary — corrupt or truncated records raise with
    * the file/offset so bad shards fail loudly instead of silently
    * shortening the dataset.
    */
  private def records(in: DataInputStream, file: String): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private var nextRec: Array[Byte] = _
      private var offset = 0L
      private def readFully(n: Int, what: String): Array[Byte] = {
        val buf = new Array[Byte](n)
        try in.readFully(buf) catch {
          case _: EOFException => throw new java.io.IOException(
            s"TFRecord truncated $what in $file at offset $offset")
        }
        offset += n
        buf
      }
      private def advance(): Unit = {
        // EOF is clean only before the first header byte
        val first = in.read()
        if (first < 0) { nextRec = null; return }
        val header = new Array[Byte](LengthBytes)
        header(0) = first.toByte
        try in.readFully(header, 1, LengthBytes - 1) catch {
          case _: EOFException => throw new java.io.IOException(
            s"TFRecord truncated header in $file at offset $offset")
        }
        offset += LengthBytes
        val bb = ByteBuffer.wrap(header).order(ByteOrder.LITTLE_ENDIAN)
        val len = bb.getLong()
        val lenCrc = bb.getInt()
        if (maskedCrc32c(header, 0, 8) != lenCrc)
          throw new java.io.IOException(
            s"TFRecord length CRC mismatch in $file at offset ${offset - LengthBytes}")
        if (len < 0 || len > Int.MaxValue - 16)
          throw new java.io.IOException(
            s"TFRecord bad length $len in $file at offset ${offset - LengthBytes}")
        val payload = readFully(len.toInt, "payload")
        val dataCrc = ByteBuffer.wrap(readFully(4, "payload CRC"))
          .order(ByteOrder.LITTLE_ENDIAN).getInt()
        if (maskedCrc32c(payload) != dataCrc)
          throw new java.io.IOException(
            s"TFRecord payload CRC mismatch in $file at offset ${offset - 4 - len}")
        nextRec = payload
      }
      advance()
      def hasNext: Boolean = nextRec != null
      def next(): Array[Byte] = {
        val r = nextRec; advance(); r
      }
    }

  /** Read a directory (or glob) of TFRecord files: one row per record,
    * `(path string, value binary)` — path provenance like
    * readTextWithPath. One task per file (the format's parallelism
    * unit); shard counts come from the writer.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(path)
      .flatMap { case (file, pds) =>
        val in = new DataInputStream(new BufferedInputStream(pds.open(), 1 << 16))
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        records(in, file).map(bytes => Row(file, bytes))
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("value", BinaryType, nullable = false))))
  }

  /** Write the single binary column of `df` as one TFRecord file per
    * partition under `path` (repartition upstream to set the shard
    * count). Returns the number of shards written.
    *
    * Commit protocol ([[PartFiles]]): each task writes a DOT-PREFIXED
    * temp file (both the TFRecord reader here and Hadoop input formats
    * skip hidden `.`/`_` files, so in-progress or orphaned attempts are
    * never read) and renames it into place when its iterator
    * completes; with speculative/retried attempts the first rename
    * wins. The driver stamps `_SUCCESS` after the job, mirroring Hadoop
    * committers. Null payloads fail loudly — silently skipping rows of
    * a training set is worse than failing the job.
    */
  def write(df: DataFrame, path: String, valueCol: String = "value"): Int =
    PartFiles.writeShards(df.select(col(valueCol).cast("binary")), path, Encoder)

  /** TFRecord framing of a one-binary-column row per record. */
  private object Encoder extends PartFiles.Encoder {
    val ext = "tfrecord"
    def open(out0: java.io.OutputStream): PartFiles.Sink = new PartFiles.Sink {
      private val out = new java.io.DataOutputStream(new BufferedOutputStream(out0, 1 << 16))
      private var n = 0L
      def write(row: Row): Unit = {
        if (row.isNullAt(0)) throw new IllegalArgumentException(
          s"TfRecord.write: null payload in partition ${TaskContext.getPartitionId()} " +
            s"record $n — filter or encode nulls upstream")
        writeRecord(out, row.getAs[Array[Byte]](0))
        n += 1
      }
      def close(): Unit = out.close()
    }
  }
}
