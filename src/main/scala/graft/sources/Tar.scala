package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}
import java.nio.charset.StandardCharsets

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Tar shard IO — the WebDataset container: named binary members in
  * plain USTAR archives, the layout multimodal training loaders
  * stream (sample = the members sharing a key prefix, e.g.
  * `0001.jpg` + `0001.txt`). The reference reaches tars through Beam
  * FileIO user code; graft ships the format natively from the public
  * POSIX USTAR layout (512-byte octal-field headers, data padded to
  * 512, two zero blocks at the end) — same approach as the TFRecord/
  * proto codecs: no external library, loud failures.
  *
  * Scale design mirrors [[TfRecord]]: tar carries no sync markers →
  * NOT splittable → the FILE is the parallelism unit; write emits one
  * shard per partition (repartition upstream to size shards), read
  * parses one archive per task. Deterministic headers (zero mtime,
  * fixed mode/uid) so identical content produces identical bytes.
  */
object Tar {

  private[sources] val Block = 512

  private def octal(value: Long, width: Int): Array[Byte] = {
    // width-1 octal digits + NUL (the classic tar convention)
    val s = java.lang.Long.toOctalString(value)
    require(s.length <= width - 1, s"value $value overflows a $width-byte tar field")
    (("0" * (width - 1 - s.length)) + s + "\u0000").getBytes(StandardCharsets.US_ASCII)
  }

  private[sources] def header(name: String, size: Long): Array[Byte] = {
    val nameBytes = name.getBytes(StandardCharsets.UTF_8)
    require(nameBytes.length > 0 && nameBytes.length <= 100,
      s"tar member name must be 1..100 bytes (USTAR name field), got " +
        s"${nameBytes.length} for '$name'")
    require(!name.contains("\u0000"), "tar member name contains NUL")
    require(size >= 0, s"negative member size $size")
    val h = new Array[Byte](Block)
    def put(off: Int, bytes: Array[Byte]): Unit =
      System.arraycopy(bytes, 0, h, off, bytes.length)
    put(0, nameBytes)                                   // name
    put(100, octal(420, 8))                             // mode 0644
    put(108, octal(0, 8))                               // uid
    put(116, octal(0, 8))                               // gid
    put(124, octal(size, 12))                           // size
    put(136, octal(0, 12))                              // mtime (deterministic)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)      // chksum = spaces while summing
    h(156) = '0'                                        // typeflag: regular file
    put(257, "ustar\u000000".getBytes(StandardCharsets.US_ASCII)) // magic+version
    var sum = 0L
    var i = 0
    while (i < Block) { sum += (h(i) & 0xff); i += 1 }
    val chk = java.lang.Long.toOctalString(sum)
    put(148, (("0" * (6 - chk.length)) + chk + "\u0000 ").getBytes(StandardCharsets.US_ASCII))
    h
  }

  private def parseOctal(h: Array[Byte], off: Int, len: Int, file: String): Long = {
    if ((h(off) & 0x80) != 0) throw new java.io.IOException(
      s"tar base-256 numeric field at offset $off in $file not supported (member > 8 GiB)")
    val s = new String(h, off, len, StandardCharsets.US_ASCII)
      .takeWhile(c => c != '\u0000').trim
    if (s.isEmpty) 0L else java.lang.Long.parseLong(s, 8)
  }

  private def cString(h: Array[Byte], off: Int, len: Int): String = {
    var end = off
    while (end < off + len && h(end) != 0) end += 1
    new String(h, off, end - off, StandardCharsets.UTF_8)
  }

  /** Parse one archive: (name, bytes) per REGULAR member; directory/
    * link/pax members are skipped with their data (disclosed — graft
    * writes none of them). Foreign archives may use the USTAR prefix
    * field for long names; honored on read. Corrupt headers (bad
    * checksum, bad magic) fail loudly with the file and offset.
    */
  private[sources] def members(in: DataInputStream, file: String): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private var nextM: (String, Array[Byte]) = _
      private var offset = 0L
      @annotation.tailrec
      private def advance(): Unit = {
        val first = in.read()
        if (first < 0) { nextM = null; return } // clean EOF (no trailer): tolerated
        val h = new Array[Byte](Block)
        h(0) = first.toByte
        try in.readFully(h, 1, Block - 1) catch {
          case _: EOFException => throw new java.io.IOException(
            s"tar truncated header at offset $offset in $file")
        }
        offset += Block
        if (h.forall(_ == 0)) { nextM = null; return } // end-of-archive block
        val magic = new String(h, 257, 5, StandardCharsets.US_ASCII)
        if (magic != "ustar") throw new java.io.IOException(
          s"tar bad magic '$magic' at offset ${offset - Block} in $file")
        val stored = parseOctal(h, 148, 8, file)
        var sum = 0L
        var i = 0
        while (i < Block) {
          sum += (if (i >= 148 && i < 156) ' '.toInt else h(i) & 0xff); i += 1
        }
        if (sum != stored) throw new java.io.IOException(
          s"tar header checksum mismatch at offset ${offset - Block} in $file")
        val size = parseOctal(h, 124, 12, file)
        if (size > Int.MaxValue - 16) throw new java.io.IOException(
          s"tar member of $size bytes at offset ${offset - Block} in $file " +
            "exceeds the single-member buffer limit")
        val padded = ((size + Block - 1) / Block) * Block
        val tf = h(156)
        if (tf == '0'.toByte || tf == 0.toByte) {
          val data = new Array[Byte](size.toInt)
          try in.readFully(data) catch {
            case _: EOFException => throw new java.io.IOException(
              s"tar truncated member data at offset $offset in $file")
          }
          var toSkip = padded - size
          while (toSkip > 0) { val s = in.skip(toSkip); if (s <= 0) throw new java.io.IOException(
            s"tar truncated padding at offset $offset in $file"); toSkip -= s }
          offset += padded
          val prefix = cString(h, 345, 155)
          val base = cString(h, 0, 100)
          nextM = (if (prefix.isEmpty) base else s"$prefix/$base", data)
        } else {
          // non-regular member: skip its data and keep scanning
          var toSkip = padded
          while (toSkip > 0) { val s = in.skip(toSkip); if (s <= 0) throw new java.io.IOException(
            s"tar truncated member data at offset $offset in $file"); toSkip -= s }
          offset += padded
          advance()
        }
      }
      advance()
      def hasNext: Boolean = nextM != null
      def next(): (String, Array[Byte]) = { val m = nextM; advance(); m }
    }

  /** Read a directory (or glob) of tar shards: one row per regular
    * member, `(path, name, value)` — shard provenance + member name +
    * bytes. One task per archive.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(path)
      .flatMap { case (file, pds) =>
        val in = new DataInputStream(new BufferedInputStream(pds.open(), 1 << 16))
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        members(in, file).map { case (n, b) => Row(file, n, b) }
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("value", BinaryType, nullable = false))))
  }

  /** WebDataset consumption: group members into SAMPLES by the
    * WebDataset key rule — key = member name up to the FIRST dot,
    * extension = everything after it (so `0001.seg.json` has key
    * `0001`, ext `seg.json`). One row per (shard, key) with a
    * map<ext, bytes> of the sample's parts — the unit a multimodal
    * loader consumes. Members without a dot get ext "". Duplicate
    * extensions within a sample fail the map constructor loudly.
    */
  def readSamples(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    read(spark, path)
      .select(col("path"),
        regexp_extract(col("name"), "^([^.]*)", 1).as("key"),
        regexp_extract(col("name"), "^[^.]*\\.(.*)$", 1).as("ext"),
        col("value"))
      .groupBy(col("path"), col("key"))
      .agg(map_from_entries(collect_list(struct(col("ext"), col("value"))))
        .as("parts"))
  }

  /** Write `(nameCol string, valueCol binary)` rows as one tar shard
    * per partition under `path` (repartition upstream for shard
    * sizing; co-partition a sample's members if the loader expects
    * them adjacent). Same hidden-temp + rename commit and `_SUCCESS`
    * protocol as [[TfRecord.write]] ([[PartFiles]]); null names/values
    * and names over the 100-byte USTAR field fail loudly. Returns the
    * shard count.
    */
  def write(df: DataFrame, path: String, nameCol: String = "name",
            valueCol: String = "value"): Int =
    PartFiles.writeShards(df.select(col(nameCol).cast("string"), col(valueCol).cast("binary")),
      path, Encoder)

  /** One USTAR archive per part file, each `(name, value)` row one
    * member — the encoder of [[write]] and of
    * [[Dynamic.saveAsDynamicTar]].
    */
  private[sources] object Encoder extends PartFiles.Encoder {
    val ext = "tar"
    def open(out0: java.io.OutputStream): PartFiles.Sink = new PartFiles.Sink {
      private val out = new BufferedOutputStream(out0, 1 << 16)
      private var n = 0L
      def write(row: Row): Unit = {
        if (row.isNullAt(0) || row.isNullAt(1)) throw new IllegalArgumentException(
          s"tar: null name/value in partition ${TaskContext.getPartitionId()} member $n — " +
            "filter or encode nulls upstream")
        val bytes = row.getAs[Array[Byte]](1)
        out.write(header(row.getString(0), bytes.length.toLong))
        out.write(bytes)
        val pad = (Block - (bytes.length % Block)) % Block // data padded to 512
        if (pad > 0) out.write(new Array[Byte](pad))
        n += 1
      }
      // end-of-archive trailer: two zero blocks
      def close(): Unit = { out.write(new Array[Byte](2 * Block)); out.close() }
    }
  }
}
