package graft.sources

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Dynamic per-record write destinations (reference:
  * scio-core/src/main/scala/com/spotify/scio/io/dynamic/syntax/
  * SCollectionSyntax.scala:54 `saveAsDynamicTextFile`;
  * scio-avro/src/main/scala/com/spotify/scio/avro/dynamic/syntax/
  * AvroDynamicSCollectionSyntax.scala:43 `saveAsDynamicAvroFile` and
  * :136 `saveAsDynamicProtobufFile`; scio-extra
  * csv/dynamic/syntax/SCollectionSyntax.scala:33 — the output path is
  * a function of record CONTENT, not a static sink path).
  * Spark's `partitionBy` covers the `col=value` layout only; this
  * writes arbitrary relative destinations (`logs/2024/01/`,
  * `tenant-x/`, …) the way Beam's `FileIO.writeDynamic` does — the
  * "one shard-set per domain/source" export shape of a curation
  * pipeline, in every codec graft ships: text lines, Avro container
  * files, proto messages (scio's bytes-in-Avro layout), and CSV.
  *
  * Execution shape, chosen for 100 TB (shared by all codecs):
  *  - one shuffle: repartition by (dest, salt) — co-locates each
  *    destination into one task (`fanout` salts spread a hot
  *    destination over several; `fanout = Dynamic.AutoFanout` sizes
  *    per-destination salts from a sampled histogram — see
  *    [[Dynamic.AutoFanout]] — and [[Fanout.FromManifest]] reuses a
  *    prior run's exact histogram so recurring exports skip the
  *    sampling pass);
  *  - sortWithinPartitions(dest): destinations arrive CONTIGUOUSLY,
  *    so exactly ONE output stream is open per task at any moment —
  *    no per-destination writer map to blow the heap at high
  *    destination cardinality (the classic dynamic-write OOM);
  *  - executor-side Hadoop FileSystem writes (local/HDFS/object
  *    store) through [[PartFiles]]' per-file rename commit, the one
  *    the flat writers use: each destination file is written as a
  *    dot-prefixed temp named by the task ATTEMPT and renamed to
  *    `part-<partition>.<ext>` only on a clean stream close. A failed
  *    attempt leaves only hidden dot-temps (ignored by Hadoop
  *    globbing); under speculative execution the first attempt to
  *    finish a file wins the rename and the loser deletes its temp —
  *    the committed tree is always whole files.
  */
object Dynamic {

  /** Forbid path escapes before anything touches the filesystem: a
    * record must not be able to write outside `basePath`.
    */
  private def validateDest(dest: String): String = {
    require(dest != null && dest.nonEmpty,
      "dynamic destination is null/empty — coalesce a default upstream")
    require(!dest.startsWith("/") && !dest.contains(".."),
      s"dynamic destination '$dest' must be relative and must not contain '..'")
    // Hadoop treats '.'/'_'-prefixed path segments as HIDDEN: a
    // destination like `_archive/x` would write data stock Spark
    // readers silently skip (and `_manifest` would collide with the
    // scatter's own sidecar). Reject rather than write invisible data.
    // Control characters (tab/newline/...) break any line-oriented
    // tooling over the tree, the manifest included. Glob
    // metacharacters are rejected because the parquet/CSV gathers pass
    // paths through spark.read, which GLOB-EXPANDS them — a dest named
    // `q[1]` would silently read back as `q1`'s files.
    var i = 0
    var segStart = true
    while (i < dest.length) {
      val c = dest.charAt(i)
      require(!Character.isISOControl(c),
        f"dynamic destination contains a control character (0x${c.toInt}%02x)")
      require("*?[]{}\\".indexOf(c.toInt) < 0,
        s"dynamic destination '$dest' contains the glob metacharacter '$c' — " +
          "Hadoop path resolution would expand it when the tree is read back")
      // ':' before the first '/' reads as a URI SCHEME to Hadoop's
      // Path(String) parser — a dest like `a:b/c` would resolve
      // against filesystem `a` on write AND on gather. Reject
      // everywhere (not just the first segment) for predictability.
      require(c != ':',
        s"dynamic destination '$dest' contains ':' — Hadoop's path parser " +
          "reads it as a URI scheme delimiter")
      if (segStart) require(c != '.' && c != '_',
        s"dynamic destination '$dest' has a '.'/'_'-prefixed segment — Hadoop-hidden " +
          "paths are invisible to stock readers and reserved for the tree's own stamps")
      segStart = c == '/'
      i += 1
    }
    dest
  }

  /** OWNERSHIP stamp, written BEFORE any data: marks the directory as
    * graft-dynamic output so the pre-write wipe below can tell "stale
    * run of this sink" from "directory that holds someone's unrelated
    * data" — and so a run that dies mid-write leaves a tree the retry
    * still recognizes as its own. Deliberately NOT a completeness
    * signal (it exists while a write is in flight or crashed).
    */
  private[sources] val Marker = "_GRAFT_DYNAMIC"

  /** COMPLETION stamp, written only after the distributed write
    * finishes — the `_SUCCESS` analogue the gather verbs require, so a
    * crashed job's partial tree can never read back as silently-valid
    * data. Wiped with the rest of the tree by the next run's
    * prepareTree, so it is never stale.
    */
  private[sources] val MarkerDone = "_GRAFT_DYNAMIC_DONE"

  /** Per-destination manifest directory (Hadoop-hidden under the
    * tree): one TSV shard per writing task, one line per committed
    * data file — `dest \t file \t rows \t bytes`. The audit record a
    * 100 TB export is validated against ([[readDynamicManifest]])
    * without re-scanning the data.
    */
  private[sources] val ManifestDir = "_manifest"

  // ---- codecs -----------------------------------------------------------
  // Text, CSV, proto and parquet encoders live here; the Avro and tar
  // encoders are [[Avro.encoder]] and [[Tar.Encoder]].

  private object TextEncoder extends PartFiles.Encoder {
    val ext = "txt"
    def open(out: OutputStream): PartFiles.Sink = new PartFiles.Sink {
      private val w =
        new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8))
      def write(payload: Row): Unit = { w.write(payload.getString(0)); w.write('\n') }
      def close(): Unit = w.close()
    }
  }

  /** Proto messages per destination, shipped as scio's bytes-in-Avro
    * container layout (AvroBytesUtil — one `bytes` field per record,
    * block-splittable on read). Encoding is [[Protobuf.encodeRow]], so
    * enum/wire-format column metadata applies exactly as in
    * [[Protobuf.write]].
    */
  private final class ProtoEncoder(payloadSchema: StructType) extends PartFiles.Encoder {
    val ext = "proto.avro"
    private val container = Avro.encoder(Protobuf.bytesSchema)
    def open(out: OutputStream): PartFiles.Sink = new PartFiles.Sink {
      private val records = container.open(out)
      def write(payload: Row): Unit = records.write(Row(Protobuf.encodeRow(payloadSchema, payload)))
      def close(): Unit = records.close()
    }
  }

  /** RFC 4180 CSV per destination: fields holding comma, quote, CR or
    * LF are quoted, embedded quotes doubled — exactly what stock CSV
    * readers (Spark's included) undo. Null cells render as an empty
    * UNQUOTED field and non-null empty strings as a QUOTED empty field
    * (`""`), so the null/empty distinction survives the roundtrip
    * (Spark's reader maps unquoted-empty → null, quoted-empty → "");
    * an optional header line leads every file, so each shard is
    * independently readable.
    */
  private final class CsvEncoder(fieldNames: Array[String], fieldTypes: Array[DataType],
                                 header: Boolean) extends PartFiles.Encoder {
    val ext = "csv"
    private def cell(s: String): String =
      if (s.isEmpty) "\"\"" // distinguish empty string from null's unquoted-empty
      else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    // timestamps render in UTC with an explicit offset: Timestamp
    // .toString would use the writer JVM's default timezone (file
    // bytes varying by executor locale, values shifting on an
    // offset-less parse). Micros precision = Spark's TimestampType.
    @transient private lazy val tsFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .withZone(java.time.ZoneOffset.UTC)
    private def render(dt: DataType, v: Any): String = v match {
      case null => ""
      case ts: java.sql.Timestamp => tsFmt.format(ts.toInstant)
      case i: java.time.Instant => tsFmt.format(i)
      case _ => dt match {
        case _: StringType => cell(v.toString)
        case _ => v.toString // numerics/boolean/date: no quotable chars
      }
    }
    def open(out: OutputStream): PartFiles.Sink = new PartFiles.Sink {
      private val w =
        new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8))
      if (header) { w.write(fieldNames.map(cell).mkString(",")); w.write('\n') }
      def write(payload: Row): Unit = {
        var i = 0
        while (i < fieldTypes.length) {
          if (i > 0) w.write(',')
          w.write(render(fieldTypes(i), payload.get(i)))
          i += 1
        }
        w.write('\n')
      }
      def close(): Unit = w.close()
    }
  }

  /** Parquet file per destination, written through parquet-hadoop's
    * `ParquetWriter` (already on Spark's classpath) with a Row
    * `WriteSupport` — no Spark job per destination, just the scatter
    * engine's one open stream per task. Spark's own schema metadata
    * rides in the footer, so `spark.read.parquet` on any shard (or
    * the whole tree) recovers exact Spark types; snappy-compressed
    * like Spark's default parquet output.
    */
  private object ParquetCodec {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.Type.Repetition

    def checkType(dt: DataType): Unit = dt match {
      case _: StringType | _: BinaryType | _: IntegerType | _: LongType |
           _: ShortType | _: ByteType | _: FloatType | _: DoubleType |
           _: BooleanType | _: DateType | _: TimestampType => ()
      case ArrayType(elem, _) => elem match {
        case _: ArrayType | _: StructType | _: MapType =>
          throw new IllegalArgumentException(
            s"dynamic parquet supports arrays of primitives only, got array of $elem " +
              "(flatten upstream)")
        case other => checkType(other)
      }
      case other => throw new IllegalArgumentException(
        s"dynamic parquet cannot render type $other " +
          "(strings/numerics/boolean/date/timestamp/binary and arrays of those — " +
          "flatten or cast upstream)")
    }

    private def primitive(name: String, dt: DataType, rep: Repetition): Type = dt match {
      case _: StringType =>
        Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(name)
      case _: BinaryType => Types.primitive(BINARY, rep).named(name)
      case _: IntegerType => Types.primitive(INT32, rep).named(name)
      case _: LongType => Types.primitive(INT64, rep).named(name)
      case _: ShortType =>
        Types.primitive(INT32, rep).as(LogicalTypeAnnotation.intType(16, true)).named(name)
      case _: ByteType =>
        Types.primitive(INT32, rep).as(LogicalTypeAnnotation.intType(8, true)).named(name)
      case _: FloatType => Types.primitive(FLOAT, rep).named(name)
      case _: DoubleType => Types.primitive(DOUBLE, rep).named(name)
      case _: BooleanType => Types.primitive(BOOLEAN, rep).named(name)
      case _: DateType =>
        Types.primitive(INT32, rep).as(LogicalTypeAnnotation.dateType()).named(name)
      case _: TimestampType =>
        Types.primitive(INT64, rep).as(LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case other => throw new IllegalArgumentException(s"unreachable: $other")
    }

    /** Spark StructType → parquet MessageType, the standard 3-level
      * LIST layout for arrays (what Spark itself writes and reads).
      */
    def toMessageType(schema: StructType): MessageType = {
      val b = Types.buildMessage()
      schema.fields.foreach { f =>
        val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
        f.dataType match {
          case ArrayType(elem, containsNull) =>
            b.addField(Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
              .addField(Types.repeatedGroup()
                .addField(primitive("element", elem,
                  if (containsNull) Repetition.OPTIONAL else Repetition.REQUIRED))
                .named("list"))
              .named(f.name))
          case other => b.addField(primitive(f.name, other, rep))
        }
      }
      b.named("spark_schema")
    }
  }

  /** parquet-hadoop writes through a seekless forward stream: position
    * is the running byte count (parquet writes strictly sequentially
    * from offset 0 and only records offsets, never seeks back).
    */
  private final class StreamOutputFile(out: OutputStream)
      extends org.apache.parquet.io.OutputFile {
    private def counting() = new org.apache.parquet.io.PositionOutputStream {
      private var pos = 0L
      override def getPos: Long = pos
      override def write(b: Int): Unit = { out.write(b); pos += 1 }
      override def write(b: Array[Byte]): Unit = { out.write(b); pos += b.length }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); pos += len
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }
    override def create(blockSizeHint: Long) = counting()
    override def createOrOverwrite(blockSizeHint: Long) = counting()
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }

  /** Payload rows → parquet records. The footer carries Spark's own
    * schema-metadata key, so a stock `spark.read.parquet` recovers the
    * exact Spark types (short/byte/timestamp) instead of re-deriving
    * them from the physical annotations.
    */
  private final class RowWriteSupport(messageTypeStr: String, sparkSchema: StructType)
      extends org.apache.parquet.hadoop.api.WriteSupport[Row] {
    import org.apache.parquet.io.api.{Binary, RecordConsumer}
    private val messageType =
      org.apache.parquet.schema.MessageTypeParser.parseMessageType(messageTypeStr)
    private val names = sparkSchema.fields.map(_.name)
    private val types = sparkSchema.fields.map(_.dataType)
    private var rc: RecordConsumer = _

    override def init(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport.WriteContext = {
      val meta = new java.util.HashMap[String, String]()
      meta.put("org.apache.spark.sql.parquet.row.metadata", sparkSchema.json)
      new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(messageType, meta)
    }
    override def prepareForWrite(recordConsumer: RecordConsumer): Unit =
      rc = recordConsumer

    private def micros(v: Any): Long = v match {
      case ts: java.sql.Timestamp =>
        // getTime already includes the millisecond part of nanos
        ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
      case i: java.time.Instant =>
        Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    }
    private def days(v: Any): Int = v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case ld: java.time.LocalDate => ld.toEpochDay.toInt
    }
    private def writeValue(dt: DataType, v: Any): Unit = dt match {
      case _: StringType => rc.addBinary(Binary.fromString(v.toString))
      case _: BinaryType =>
        rc.addBinary(Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
      case _: IntegerType => rc.addInteger(v.asInstanceOf[Int])
      case _: LongType => rc.addLong(v.asInstanceOf[Long])
      case _: ShortType => rc.addInteger(v.asInstanceOf[Short].toInt)
      case _: ByteType => rc.addInteger(v.asInstanceOf[Byte].toInt)
      case _: FloatType => rc.addFloat(v.asInstanceOf[Float])
      case _: DoubleType => rc.addDouble(v.asInstanceOf[Double])
      case _: BooleanType => rc.addBoolean(v.asInstanceOf[Boolean])
      case _: DateType => rc.addInteger(days(v))
      case _: TimestampType => rc.addLong(micros(v))
      case ArrayType(elem, _) =>
        rc.startGroup()
        val seq = v.asInstanceOf[scala.collection.Seq[Any]]
        if (seq.nonEmpty) {
          rc.startField("list", 0)
          seq.foreach { e =>
            rc.startGroup()
            if (e != null) {
              rc.startField("element", 0)
              writeValue(elem, e)
              rc.endField("element", 0)
            }
            rc.endGroup()
          }
          rc.endField("list", 0)
        }
        rc.endGroup()
      case other => throw new IllegalArgumentException(s"unreachable: $other")
    }

    override def write(r: Row): Unit = {
      rc.startMessage()
      var i = 0
      while (i < types.length) {
        if (!r.isNullAt(i)) {
          rc.startField(names(i), i)
          writeValue(types(i), r.get(i))
          rc.endField(names(i), i)
        }
        i += 1
      }
      rc.endMessage()
    }
  }

  private final class RowParquetWriterBuilder(
      file: org.apache.parquet.io.OutputFile, messageTypeStr: String, schema: StructType)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[Row, RowParquetWriterBuilder](file) {
    override def self(): RowParquetWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[Row] =
      new RowWriteSupport(messageTypeStr, schema)
  }

  private final class ParquetEncoder(payloadSchema: StructType, messageTypeStr: String,
                                     rowGroupBytes: Long)
      extends PartFiles.Encoder {
    val ext = "parquet"
    def open(out: OutputStream): PartFiles.Sink = new PartFiles.Sink {
      private val writer =
        new RowParquetWriterBuilder(new StreamOutputFile(out), messageTypeStr, payloadSchema)
          .withCompressionCodec(
            org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
          .withRowGroupSize(rowGroupBytes)
          .build()
      def write(payload: Row): Unit = writer.write(payload)
      def close(): Unit = writer.close() // closes the underlying stream
    }
  }

  // ---- auto fanout ------------------------------------------------------

  /** Sentinel for the `fanout` parameter: size per-destination salts
    * from a sampled destination histogram instead of one global
    * caller-guessed spread. With a static `fanout`, a hot destination
    * (one domain = 40% of the corpus — guaranteed at 100 TB)
    * serializes into a single task unless the caller predicted it;
    * with [[AutoFanout]] the scatter samples the destination column
    * (same detection shape as `Joins.skewedJoinSampled`), estimates
    * rows per destination, and gives each destination
    * `ceil(estRows / targetRows)` salts — cold destinations keep salt
    * 0 (exactly the `fanout = 1` layout), hot ones spread over as many
    * tasks as their size warrants. The salt map rides a broadcast hash
    * join (codegen, no UDF); commit protocol and gathered content are
    * unchanged.
    *
    * Tuning (session conf, read at write time):
    *  - `spark.graft.dynamic.autoTargetRows` (default 1000000): rows
    *    per destination-task to aim for;
    *  - `spark.graft.dynamic.autoSampleFraction` (default 0.01):
    *    detection sample rate;
    *  - `spark.graft.dynamic.autoMaxSalts` (default:
    *    `spark.sql.shuffle.partitions`): per-destination salt cap —
    *    more salts than shuffle partitions cannot add parallelism.
    *
    * COST: the sampled histogram is an extra pass over the input's
    * destination column — if the frame is an expensive computation
    * (not a scan), `persist()` it before scattering or the lineage
    * recomputes. SKEW_r14.json carries the measured trade: a 30%-hot
    * destination 6× past target gains 2.3× on max-task wall net of
    * the sampling pass; one barely past target does not.
    */
  val AutoFanout: Int = 0

  /** How a scatter spreads destinations over write tasks. Ints keep
    * working everywhere a `fanout` parameter is taken (implicit lift:
    * `n` → [[Fanout.Static]], `Dynamic.AutoFanout` → [[Fanout.Sampled]]);
    * the typed modes exist for the recurring-export case where the
    * per-destination histogram is already KNOWN and the Sampled mode's
    * extra detection pass over the input is pure waste at 100 TB.
    */
  sealed trait Fanout
  object Fanout {
    /** Every destination spreads over exactly `salts` write tasks
      * (`Static(1)` = one run per destination per shuffle partition —
      * the unsalted layout).
      */
    final case class Static(salts: Int) extends Fanout {
      require(salts >= 1, s"static fanout must be >= 1, got $salts")
    }

    /** Sample the destination column at write time and size
      * per-destination salts from the estimated histogram — the
      * [[AutoFanout]] behavior. Costs one extra column-pruned pass
      * over the input's destination column (persist() computed frames
      * upstream).
      */
    case object Sampled extends Fanout

    /** Size per-destination salts from a PRIOR completed dynamic
      * tree's manifest ([[readDynamicManifest]]): recurring exports —
      * the dominant 100 TB case — already own EXACT per-destination
      * row counts from the previous run, so the salt map costs a
      * kilobyte-scale metadata read instead of [[Sampled]]'s full
      * detection pass over today's input. `growth` scales the prior
      * counts for corpus growth between runs (1.1 = "expect ~10% more
      * rows per destination than last time"); a brand-new hot
      * destination absent from the prior manifest gets fanout 1 — if
      * destination churn is high, use [[Sampled]]. Same tuning knobs
      * as Sampled (`spark.graft.dynamic.autoTargetRows` /
      * `autoMaxSalts`); the sample-fraction knob does not apply.
      */
    final case class FromManifest(priorTreePath: String, growth: Double = 1.0)
        extends Fanout {
      require(growth > 0.0, s"growth must be positive, got $growth")
    }

    /** Caller-supplied exact per-destination row counts (e.g. from an
      * upstream aggregation the pipeline already computed). Salts are
      * sized exactly like [[FromManifest]] with growth 1.
      */
    final case class FromCounts(rowsPerDest: Map[String, Long]) extends Fanout

    import scala.language.implicitConversions

    /** Int back-compat lift: `fanout = 4` and
      * `fanout = Dynamic.AutoFanout` keep meaning what they always
      * did.
      */
    implicit def fromInt(n: Int): Fanout =
      if (n == AutoFanout) Sampled else Static(n)
  }

  /** Salt counts from EXACT per-destination row counts (manifest or
    * caller-supplied), mirroring [[sampledSalts]]' sizing:
    * `min(maxSalts, ceil(rows·growth / targetRows))`, only
    * destinations needing more than one salt returned.
    */
  private[sources] def exactSalts(counts: Iterator[(String, Long)], growth: Double,
                                  targetRows: Long, maxSalts: Int): Seq[(String, Int)] = {
    require(targetRows > 0, s"autoTargetRows must be positive, got $targetRows")
    require(maxSalts >= 1, s"autoMaxSalts must be >= 1, got $maxSalts")
    counts
      .map { case (d, n) =>
        (d, math.min(maxSalts.toLong,
          math.ceil(n * growth / targetRows).toLong).toInt)
      }
      .filter(_._2 > 1)
      .toSeq
  }

  /** Per-destination salt counts from a prior tree's manifest: the
    * per-destination totals are aggregated and THRESHOLDED in the
    * cluster (`rows·growth > targetRows`), so the driver collects one
    * row per genuinely hot destination — bounded by prior corpus size
    * / targetRows, not destination cardinality (same envelope as
    * [[sampledSalts]]).
    */
  private[sources] def manifestSalts(spark: SparkSession, priorTreePath: String,
                                     growth: Double, targetRows: Long, maxSalts: Int)
      : Seq[(String, Int)] = {
    require(targetRows > 0, s"autoTargetRows must be positive, got $targetRows")
    val hot = readDynamicManifest(spark, priorTreePath)
      .groupBy(col("dest")).agg(sum(col("rows")).as("__n"))
      .filter(col("__n") * growth > targetRows)
      .collect()
      .iterator
      .map(r => (r.getString(0), r.getLong(1)))
    exactSalts(hot, growth, targetRows, maxSalts)
  }

  /** Per-destination salt counts from a sampled histogram: only
    * destinations whose SAMPLED count clears `targetRows ×
    * sampleFraction` (min 2, so a lone straggler row can't mark a
    * destination hot) are estimated at all, so the driver collects one
    * row per genuinely hot destination — bounded by corpus size /
    * targetRows, not by destination cardinality.
    */
  private[sources] def sampledSalts(dests: DataFrame, targetRows: Long,
                                    sampleFraction: Double, maxSalts: Int)
      : Seq[(String, Int)] = {
    require(targetRows > 0, s"autoTargetRows must be positive, got $targetRows")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"autoSampleFraction must be in (0, 1], got $sampleFraction")
    require(maxSalts >= 1, s"autoMaxSalts must be >= 1, got $maxSalts")
    val sampledCut = math.max((targetRows * sampleFraction).toLong, 2L)
    dests
      .sample(withReplacement = false, sampleFraction, seed = 42L)
      .groupBy(col("__dest")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= sampledCut)
      .collect()
      .iterator
      .map { r =>
        val est = r.getLong(1) / sampleFraction
        (r.getString(0), math.min(maxSalts.toLong, math.ceil(est / targetRows).toLong).toInt)
      }
      .filter(_._2 > 1)
      .toSeq
  }

  // ---- the shared scatter engine --------------------------------------

  /** Wipe-and-stamp the output tree (same contract as Avro/TfRecord
    * write): with a per-file rename commit, a pre-existing final from
    * an older run would win every rename and pin stale data. Guarded:
    * refuse to recursively wipe a non-empty tree this sink didn't
    * write (no marker) unless the caller explicitly opts in — a
    * typo'd basePath must not silently erase unrelated data.
    */
  private def prepareTree(df: DataFrame, basePath: String, overwriteForeign: Boolean)
      : FileSystem = {
    val base = new Path(basePath)
    require(basePath.trim.nonEmpty && base.depth() >= 1,
      s"refusing to write a dynamic tree at '$basePath' (empty or filesystem root)")
    val fs = FileSystem.get(base.toUri,
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) {
      val contents = fs.listStatus(base)
      // hidden (dot/underscore) entries are Hadoop-invisible — a
      // failed attempt's dot-temps must not lock out the retry
      val visible = contents.filterNot { s =>
        val n = s.getPath.getName; n.startsWith(".") || n.startsWith("_")
      }
      val ours = visible.isEmpty || contents.exists(_.getPath.getName == Marker)
      require(ours || overwriteForeign,
        s"$basePath exists with ${visible.length} entries and no $Marker stamp — it was " +
          "not written by this sink; pass overwriteForeign=true to wipe it anyway")
      fs.delete(base, true)
    }
    fs.mkdirs(base)
    // stamp the marker BEFORE writing, not only after: a run that dies
    // mid-write must leave a tree the retry still recognizes as this
    // sink's own output (else the foreign-directory guard above locks
    // out unattended retries and forces overwriteForeign=true)
    fs.create(new Path(base, Marker), true).close()
    fs
  }

  /** The codec-independent scatter: co-locate + sort destinations,
    * stream each destination run through `enc` into one part file
    * ([[PartFiles.write]]'s temp-rename commit). `payload` columns keep
    * their input order and metadata (the proto codec reads enum/wire
    * declarations off them).
    */
  private def scatter(df: DataFrame, basePath: String, destCol: String,
                      payloadCols: Seq[String], fanout: Fanout, overwriteForeign: Boolean,
                      enc: PartFiles.Encoder): Unit = {
    require(payloadCols.nonEmpty, "dynamic write needs at least one payload column")
    // the scatter frame claims __dest and (transiently) __salt /
    // __fanout; a payload column with any of those names would be
    // silently replaced or make the repartition ambiguous — refuse
    // loudly instead
    val reserved = payloadCols.filter(c => c == "__dest" || c == "__salt" || c == "__fanout")
    require(reserved.isEmpty,
      s"payload column(s) ${reserved.mkString(", ")} collide with the dynamic " +
        "writer's internal __dest/__salt/__fanout columns — rename them upstream")
    // salt on a per-ROW spread value, not record content: a hot
    // destination whose rows all carry the same payload would collapse
    // onto one salt if the salt hashed the payload. partition id +
    // in-partition offset is unique per row (uniform spread) and
    // deterministic for a given upstream partitioning, so a retried
    // stage re-salts identically.
    // Built (and thereby ANALYZED — a typo'd destCol/payload column
    // throws here) BEFORE prepareTree wipes the previous run's tree.
    val base = df
      .select((col(destCol).cast("string").as("__dest") +: payloadCols.map(col)): _*)
    val spread = hash(spark_partition_id(), monotonically_increasing_id())
    val spark = df.sparkSession
    // shared sizing knobs for every histogram-driven mode
    def targetRows: Long =
      spark.conf.get("spark.graft.dynamic.autoTargetRows", "1000000").toLong
    def maxSalts: Int = spark.conf.get("spark.graft.dynamic.autoMaxSalts",
      spark.sessionState.conf.numShufflePartitions.toString).toInt
    // one visible notice per spread write, mirroring binPack's salts>1
    // log: the spread changes the file layout (hot destinations gain
    // extra part files), and that should be discoverable from the
    // logs, not a surprise in the output tree
    def withSalts(salts: Seq[(String, Int)], how: String): DataFrame =
      if (salts.isEmpty) base.withColumn("__salt", lit(0))
      else {
        System.err.println(s"[graft.dynamic] $how fanout: ${salts.size} hot " +
          s"destination(s) spread over extra tasks: " +
          salts.sortBy(-_._2).take(10)
            .map { case (d, s) => s"$d -> $s salts" }.mkString(", ") +
          (if (salts.size > 10) ", …" else ""))
        val saltMap = spark.createDataFrame(salts).toDF("__dest", "__fanout")
        base.join(broadcast(saltMap), Seq("__dest"), "left")
          .withColumn("__salt", pmod(spread, coalesce(col("__fanout"), lit(1))))
          .drop("__fanout")
      }
    val salted = fanout match {
      case Fanout.Static(1) => base.withColumn("__salt", lit(0))
      case Fanout.Static(n) => base.withColumn("__salt", pmod(spread, lit(n)))
      case Fanout.Sampled =>
        val sampleFraction =
          spark.conf.get("spark.graft.dynamic.autoSampleFraction", "0.01").toDouble
        withSalts(sampledSalts(base.select(col("__dest")),
          targetRows, sampleFraction, maxSalts), "sampled")
      case Fanout.FromManifest(prior, growth) =>
        withSalts(manifestSalts(spark, prior, growth, targetRows, maxSalts),
          s"manifest($prior)")
      case Fanout.FromCounts(counts) =>
        withSalts(exactSalts(counts.iterator, growth = 1.0, targetRows, maxSalts),
          "caller-counts")
    }
    val prepared = salted
      .repartition(col("__dest"), col("__salt"))
      .sortWithinPartitions(col("__dest"))
      .drop("__salt")
    val fs = prepareTree(df, basePath, overwriteForeign)
    val conf = PartFiles.hadoopConf(spark)
    prepared.foreachPartition { (rows: Iterator[Row]) =>
      val base = new Path(basePath)
      val fs = base.getFileSystem(conf())
      // per-task manifest entries: (dest, final file name, rows, bytes).
      // Rows are counted in the write loop; bytes are stat'd off the
      // FINAL file after the rename race settles, so a losing
      // speculative attempt records the winner's actual size (row
      // counts agree across attempts by construction — same input
      // partition — but compressed codec bytes need not).
      val manifest = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
      // zero-copy payload indexing: sinks read the source row at an
      // offset of one (past __dest) through a single reused view — no
      // per-record Vector + Row copy on the 100 TB hot path (safe
      // because every sink consumes the row before the next arrives)
      val view = new PayloadView
      val it = rows.buffered
      while (it.hasNext) {
        // destinations arrive contiguously: one part file per run
        val dest = validateDest(it.head.getString(0))
        var n = 0L
        val file = PartFiles.write(fs, new Path(base, dest), enc.ext) { out =>
          val sink = enc.open(out)
          while (it.hasNext && it.head.getString(0) == dest) {
            view.underlying = it.next()
            sink.write(view)
            n += 1
          }
          sink.close()
        }
        manifest += ((dest, file.getName, n, fs.getFileStatus(file).getLen))
      }
      // manifest sidecar, same commit as the data files: one TSV per
      // task under _manifest/ (Hadoop-hidden — stock readers of the
      // tree never see it), one line per committed file
      if (manifest.nonEmpty)
        PartFiles.write(fs, new Path(base, ManifestDir), "tsv") { out =>
          val w = new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8))
          manifest.foreach { case (d, f, rws, bytes) => w.write(s"$d\t$f\t$rws\t$bytes\n") }
          w.close()
        }
      ()
    }
    // completion stamp: only now is the tree valid for the gather verbs
    fs.create(new Path(basePath, MarkerDone), true).close()
  }

  /** Mutable zero-allocation view of a scatter row with the leading
    * `__dest` column hidden: payload field i reads underlying field
    * i + 1. Reused across records within a task (sinks never retain
    * the row).
    */
  private final class PayloadView extends Row {
    var underlying: Row = _
    override def length: Int = underlying.length - 1
    override def get(i: Int): Any = underlying.get(i + 1)
    override def copy(): Row =
      Row.fromSeq((1 until underlying.length).map(underlying.get))
  }

  // ---- public scatter verbs -------------------------------------------

  /** Write `textCol` lines of each row into
    * `basePath/<destCol>/part-NNNNN.txt`, destination taken from the
    * row. Nested destinations (`a/b/c`) are allowed; absolute paths
    * and `..` are rejected. Null text writes an empty line (the row
    * still counts — same as writing its empty string).
    */
  def saveAsDynamicText(df: DataFrame, basePath: String, destCol: String, textCol: String,
                        fanout: Fanout = Fanout.Static(1), overwriteForeign: Boolean = false): Unit = {
    val prepared = df.select(col(destCol).cast("string").as("__dyn_dest"),
      coalesce(col(textCol).cast("string"), lit("")).as("__dyn_text"))
    scatter(prepared, basePath, "__dyn_dest", Seq("__dyn_text"), fanout, overwriteForeign,
      TextEncoder)
  }

  /** Write every non-destination column of each row into a per-
    * destination Avro Object Container File
    * (`basePath/<destCol>/part-NNNNN.avro`) — the reference's
    * `saveAsDynamicAvroFile` (AvroDynamicSCollectionSyntax.scala:43)
    * re-expressed over [[Avro]]'s codec: same schema mapping (nullable
    * unions, nested records, logical types, metadata-declared
    * enum/fixed/union), every shard stock-Avro-reader valid. Gather
    * with [[readDynamicAvro]] (destination recovered from the tree) or
    * point [[Avro.read]] at any shard glob.
    */
  def saveAsDynamicAvro(df: DataFrame, basePath: String, destCol: String,
                        fanout: Fanout = Fanout.Static(1), overwriteForeign: Boolean = false): Unit = {
    val payloadCols = df.schema.fieldNames.filterNot(_ == destCol).toSeq
    val payloadSchema = StructType(df.schema.fields.filterNot(_.name == destCol))
    val enc = Avro.encoder(payloadSchema) // fail fast driver-side
    scatter(df, basePath, destCol, payloadCols, fanout, overwriteForeign, enc)
  }

  /** Write every non-destination column of each row as ONE serialized
    * proto3 message per record into per-destination containers
    * (`basePath/<destCol>/part-NNNNN.proto.avro`, scio's bytes-in-Avro
    * AvroBytesUtil layout — AvroDynamicSCollectionSyntax.scala:136
    * `saveAsDynamicProtobufFile`). Field numbers, enum symbol tables
    * and sint/fixed wire formats follow the same column-metadata
    * declarations as [[Protobuf.write]]. Gather with
    * [[readDynamicProtobuf]].
    */
  def saveAsDynamicProtobuf(df: DataFrame, basePath: String, destCol: String,
                            fanout: Fanout = Fanout.Static(1), overwriteForeign: Boolean = false): Unit = {
    val payloadCols = df.schema.fieldNames.filterNot(_ == destCol).toSeq
    val payloadSchema = StructType(df.schema.fields.filterNot(_.name == destCol))
    payloadSchema.fields.foreach(f => Protobuf.checkType(f.dataType)) // fail fast
    scatter(df, basePath, destCol, payloadCols, fanout, overwriteForeign,
      new ProtoEncoder(payloadSchema))
  }

  /** Write every non-destination column of each row as RFC 4180 CSV
    * into `basePath/<destCol>/part-NNNNN.csv` (scio-extra
    * csv/dynamic/syntax/SCollectionSyntax.scala:33). Each shard leads
    * with its own header line (when `header`), so stock CSV readers
    * gather the tree directly (for Spark's reader: `header` +
    * `recursiveFileLookup`, plus `escape` set to `"` because Spark
    * defaults to backslash escapes where RFC 4180 doubles quotes, and
    * `multiLine` when cells may hold newlines); the destination rides
    * back on `input_file_name()`. Timestamps are written in UTC with
    * an explicit offset — gather with
    * `.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")`
    * for a timezone-independent roundtrip.
    */
  def saveAsDynamicCsv(df: DataFrame, basePath: String, destCol: String,
                       header: Boolean = true, fanout: Fanout = Fanout.Static(1),
                       overwriteForeign: Boolean = false): Unit = {
    val payload = df.schema.fields.filterNot(_.name == destCol)
    payload.foreach { f =>
      f.dataType match {
        case _: StringType | _: NumericType | _: BooleanType | _: DateType |
             _: TimestampType => ()
        case other => throw new IllegalArgumentException(
          s"dynamic CSV cannot render column ${f.name}: $other " +
            "(strings/numerics/boolean/date/timestamp only — flatten or cast upstream)")
      }
    }
    scatter(df, basePath, destCol, payload.map(_.name).toSeq, fanout, overwriteForeign,
      new CsvEncoder(payload.map(_.name), payload.map(_.dataType), header))
  }

  /** Write every non-destination column of each row as PARQUET into
    * `basePath/<destCol>/part-NNNNN.parquet` — the reference's typed
    * dynamic parquet sink (scio-parquet
    * parquet/types/dynamic/syntax/SCollectionSyntax.scala:34
    * `saveAsDynamicParquetFile`) re-expressed over the scatter engine.
    * Spark's `partitionBy` covers only the `col=value` layout;
    * this writes arbitrary relative destinations in the lake's primary
    * columnar format. Every shard is a stock-reader-valid parquet file
    * carrying Spark's schema metadata (exact type recovery) and snappy
    * compression; gather with [[readDynamicParquet]] (destination
    * recovered from the tree) or point `spark.read.parquet` at any
    * shard glob.
    *
    * Memory note: parquet buffers one row group per OPEN writer —
    * and the scatter engine keeps exactly ONE writer open per task, so
    * per-task overhead is one row-group buffer (`rowGroupBytes`,
    * default 32 MB — smaller than Spark's 128 MB default because
    * dynamic shards are per-destination slices, not full-table files),
    * NOT one per destination.
    */
  def saveAsDynamicParquet(df: DataFrame, basePath: String, destCol: String,
                           fanout: Fanout = Fanout.Static(1), overwriteForeign: Boolean = false,
                           rowGroupBytes: Long = 32L * 1024 * 1024): Unit = {
    require(rowGroupBytes >= 64 * 1024,
      s"rowGroupBytes must be >= 64 KiB, got $rowGroupBytes")
    val payload = df.schema.fields.filterNot(_.name == destCol)
    payload.foreach(f => ParquetCodec.checkType(f.dataType)) // fail fast driver-side
    val payloadSchema = StructType(payload)
    val messageTypeStr = ParquetCodec.toMessageType(payloadSchema).toString
    scatter(df, basePath, destCol, payload.map(_.name).toSeq, fanout, overwriteForeign,
      new ParquetEncoder(payloadSchema, messageTypeStr, rowGroupBytes))
  }

  /** Write `(nameCol string, valueCol binary)` rows as one USTAR tar
    * archive per destination (`basePath/<destCol>/part-NNNNN.tar`) —
    * WebDataset-style per-domain shards in [[Tar]]'s exact framing, so
    * stock `tar`/WebDataset loaders (and [[Tar.read]]/
    * [[Tar.readSamples]] pointed at a destination dir) consume every
    * shard directly. Co-locate a sample's members on one destination
    * AND keep them adjacent upstream if the loader expects sample
    * parts contiguous (same contract as [[Tar.write]]). Gather with
    * [[readDynamicTar]]. Null names/values fail loudly.
    */
  def saveAsDynamicTar(df: DataFrame, basePath: String, destCol: String,
                       nameCol: String = "name", valueCol: String = "value",
                       fanout: Fanout = Fanout.Static(1), overwriteForeign: Boolean = false): Unit = {
    val prepared = df.select(col(destCol).cast("string").as("__dyn_dest"),
      col(nameCol).cast("string").as("__dyn_name"),
      col(valueCol).cast("binary").as("__dyn_value"))
    scatter(prepared, basePath, "__dyn_dest", Seq("__dyn_name", "__dyn_value"),
      fanout, overwriteForeign, Tar.Encoder)
  }

  // ---- gather verbs ----------------------------------------------------

  /** (relative destination, file) pairs under a completed dynamic
    * tree, by RECURSIVE LISTING — the fallback plan for trees written
    * before manifests existed; [[planTree]] (which prefers the
    * manifest) is what the gather verbs call, after
    * [[completedTree]] has found the post-write [[MarkerDone]] stamp —
    * a tree from a failed or in-flight job (which has only the
    * pre-write ownership [[Marker]]) must not read back as
    * silently-valid partial data (same contract as [[Avro.read]]'s
    * `_SUCCESS` requirement).
    *
    * SCALE ENVELOPE: the listing walks every file over the
    * FileSystem RPC and buffers one (dest, path, len) triple per file
    * on the driver (~100 bytes each) — acceptable as the
    * pre-manifest-tree fallback, but the manifest plan reads the same
    * triples from kilobyte-scale sidecars instead.
    */
  private def listTree(fs: FileSystem, base: Path, ext: String): Seq[(String, String, Long)] = {
    val it = fs.listFiles(base, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val baseUri = fs.makeQualified(base).toUri
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.startsWith("part-") && isShard(name, ext)) {
        val rel = baseUri.relativize(st.getPath.getParent.toUri).getPath
          .stripSuffix("/")
        buf += ((rel, st.getPath.toString, st.getLen))
      }
    }
    buf.toSeq.sortBy(t => (t._1, t._2))
  }

  /** Whether file `name` is a shard of codec extension `ext`. ".avro"
    * must not also sweep up ".proto.avro" shards: a proto tree
    * gathered with the wrong verb would decode to all-null payload
    * columns instead of failing.
    */
  private def isShard(name: String, ext: String): Boolean =
    name.endsWith("." + ext) && (ext == "proto.avro" || !name.endsWith(".proto.avro"))

  /** The qualified file system and base of a COMPLETED dynamic tree:
    * fails unless the post-write completion stamp is there.
    */
  private def completedTree(spark: SparkSession, basePath: String): (FileSystem, Path) = {
    val base = new Path(basePath)
    val fs = FileSystem.get(base.toUri, spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(base, MarkerDone)),
      s"$basePath has no $MarkerDone stamp — not a COMPLETED graft dynamic tree " +
        "(a crashed or in-flight write leaves only the ownership stamp)")
    (fs, base)
  }

  /** Session knob: target bytes per gather TASK (default 128 MiB, the
    * same figure as `spark.sql.files.maxPartitionBytes`). The RDD-based
    * gather verbs group files into ≈this many bytes per task.
    */
  val GatherTargetBytesKey = "spark.graft.dynamic.gatherTargetTaskBytes"

  private def gatherTargetBytes(spark: SparkSession): Long = {
    val t = spark.conf.get(GatherTargetBytesKey, (128L * 1024 * 1024).toString).toLong
    require(t > 0, s"$GatherTargetBytesKey must be positive, got $t")
    t
  }

  /** The gather PLAN: (dest, file path, bytes) triples of a completed
    * tree, read FROM THE MANIFEST when one exists — per-destination
    * sidecars the writing tasks committed, kilobytes of metadata even
    * for a 100 TB export — and by [[listTree]]'s recursive walk only
    * for pre-manifest trees. A million-shard tree plans off a few
    * hundred TSV shards instead of a million list RPCs.
    *
    * The manifest is the COMMIT RECORD: a foreign `part-*` file a
    * stray job dropped into the tree is not committed data and does
    * not gather (the listing fallback cannot make that distinction);
    * [[verifyDynamicTree]] (or `audit = true` on any gather verb)
    * reports such files instead of silently reading them. A committed
    * file the tree lost fails the reading task loudly rather than
    * returning partial data.
    *
    * The driver still holds the PLAN itself (one small tuple per
    * file — unavoidable: the scheduler ships the file groups as task
    * closures); what the manifest removes is the per-file list-RPC
    * walk, what batching removes is the per-file task, and what
    * [[recoverDest]] removes is the per-file broadcast map the
    * CSV/parquet gathers used to carry.
    */
  private def planTree(spark: SparkSession, basePath: String, ext: String)
      : Seq[(String, String, Long)] = {
    val (fs, base) = completedTree(spark, basePath)
    val qualifiedBase = fs.makeQualified(base)
    val fromManifest = manifestOf(spark, fs, base).collect().toSeq
      .collect {
        case r if isShard(r.getString(1), ext) =>
          (r.getString(0),
            new Path(qualifiedBase, s"${r.getString(0)}/${r.getString(1)}").toString,
            r.getLong(3))
      }
    if (fromManifest.nonEmpty) fromManifest.sortBy(t => (t._1, t._2))
    else listTree(fs, base, ext)
  }

  /** Greedy size-batching: consecutive files (in the plan's (dest,
    * path) order, so a destination's shards stay adjacent) group until
    * the next file would push the group past `targetBytes`. One task
    * per GROUP instead of one per file — a many-small-files tree
    * gathers in ≈ totalBytes / targetBytes tasks; a single file larger
    * than the target keeps its own group (files are the atomic unit;
    * oversized foreign containers belong to the splittable readers).
    */
  private[sources] def batchFiles(files: Seq[(String, String, Long)], targetBytes: Long)
      : Seq[Seq[(String, String, Long)]] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val groups = Seq.newBuilder[Seq[(String, String, Long)]]
    val cur = Seq.newBuilder[(String, String, Long)]
    var curBytes = 0L
    var curSize = 0
    files.foreach { f =>
      if (curSize > 0 && curBytes + f._3 > targetBytes) {
        groups += cur.result(); cur.clear(); curBytes = 0L; curSize = 0
      }
      cur += f; curBytes += f._3; curSize += 1
    }
    if (curSize > 0) groups += cur.result()
    groups.result()
  }

  /** Close `close` exactly once, as soon as `it` exhausts — a batched
    * gather task streams its group's files SEQUENTIALLY, so each
    * file's stream must release when done, not pile up until task end
    * (the task-completion listener stays as the abnormal-termination
    * backstop only).
    */
  private def closeOnExhaust[T](it: Iterator[T], close: () => Unit): Iterator[T] =
    new Iterator[T] {
      private var open = true
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && open) { open = false; close() }
        h
      }
      def next(): T = it.next()
    }

  /** Shared audit hook for the gather verbs' `audit = true` opt-in:
    * run [[verifyDynamicTree]] and refuse the gather on ANY
    * discrepancy (requires the tree to carry a manifest — see
    * verifyDynamicTree's contract).
    */
  private def auditOrThrow(spark: SparkSession, basePath: String): Unit = {
    val sample = verifyDynamicTree(spark, basePath).head(6)
    require(sample.isEmpty,
      s"dynamic gather audit: $basePath failed verifyDynamicTree — first " +
        s"discrepancies: ${sample.take(5).map(r =>
          s"${r.getString(2)} ${r.getString(0)}/${r.getString(1)}").mkString("; ")}" +
        (if (sample.length > 5) "; …" else ""))
  }

  /** The gather frame claims `__dyn_file` transiently and `destColName`
    * permanently; a payload schema column with either name would turn
    * the dest-recovery join ambiguous or silently shadow a payload
    * column — refuse loudly instead (mirror of scatter's __dest/__salt
    * guard).
    */
  private def checkGatherNames(schema: StructType, destColName: String): Unit = {
    require(destColName != "__dyn_file",
      "destColName '__dyn_file' collides with the gather's internal join column")
    val reserved = schema.fieldNames.filter(n => n == "__dyn_file" || n == destColName)
    require(reserved.isEmpty,
      s"payload schema column(s) ${reserved.mkString(", ")} collide with the dynamic " +
        s"gather's internal __dyn_file/'$destColName' columns — rename them upstream " +
        "or pass a different destColName")
  }

  /** Recover each row's destination FROM ITS SCAN PATH: the dest is,
    * by the tree's construction, exactly the path segment(s) between
    * `basePath/` and the final `/part-*.*` file name — one codegen
    * `regexp_extract`, no per-file driver map and no broadcast (the
    * r15 shape broadcast one (file → dest) row per file, an O(files)
    * driver+broadcast envelope a million-shard tree would feel).
    * `input_file_name()` returns the URL-ENCODED URI while Hadoop's
    * `Path.toString` renders paths DECODED, so the scan side is
    * url-decoded first (with literal '+' protected — URL decoding
    * would turn it into a space; URI encoding never encodes a space
    * as '+') and both sides drop `scheme://`. A scan path that does
    * not extract (normalization mismatch) raises instead of silently
    * yielding an empty destination.
    */
  private def recoverDest(df: DataFrame, basePath: String,
                          destColName: String, payloadFields: Seq[String])
      : DataFrame = {
    val spark = df.sparkSession
    val schemePat = "^[a-zA-Z0-9+.-]+:/+"
    val base = new Path(basePath)
    val fs = FileSystem.get(base.toUri, spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(base).toString.replaceFirst(schemePat, "")
    val pat = "^" + java.util.regex.Pattern.quote(qualified) + "/(.+)/[^/]+$"
    df.withColumn("__dyn_file",
        regexp_replace(
          url_decode(regexp_replace(input_file_name(), "\\+", "%2B")),
          schemePat, ""))
      .withColumn("__dyn_dest", regexp_extract(col("__dyn_file"), pat, 1))
      .select(
        when(col("__dyn_dest") =!= "", col("__dyn_dest"))
          .otherwise(raise_error(concat(
            lit("dynamic gather: scanned file is not under the tree " +
              "(path normalization mismatch?): "), col("__dyn_file"))))
          .as(destColName) +:
        payloadFields.map(col): _*)
  }

  /** Read a [[saveAsDynamicText]] tree back: one row per line,
    * relative destination in `destColName`, line text in `textColName`
    * — the completion-checked inverse (stock `spark.read.text` would
    * happily read a crashed job's partial tree). Manifest-planned and
    * size-batched: one task per ≈[[GatherTargetBytesKey]] group of
    * files (streamed sequentially within the task), planned from the
    * manifest sidecars when present — a many-small-files tree gathers
    * in totalBytes/target tasks off a kilobyte metadata read, not one
    * task and one list RPC per file. `audit = true` runs
    * [[verifyDynamicTree]] first and refuses a tree with any
    * discrepancy.
    */
  def readDynamicText(spark: SparkSession, basePath: String,
                      destColName: String = "dest",
                      textColName: String = "text",
                      audit: Boolean = false): DataFrame = {
    require(destColName != textColName,
      s"destColName and textColName are both '$destColName' — the gather frame " +
        "would carry duplicate column names")
    if (audit) auditOrThrow(spark, basePath)
    gatherFiles(spark, planTree(spark, basePath, "txt"), StructType(Seq(
      StructField(destColName, StringType, nullable = false),
      StructField(textColName, StringType, nullable = false)))) { (dest, in, _, _) =>
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      Iterator.continually(reader.readLine()).takeWhile(_ != null).map(line => Row(dest, line))
    }
  }

  /** Read a [[saveAsDynamicTar]] tree back: one row per tar member,
    * `(dest, name, value)` — [[Tar]]'s checksum-verified member walk
    * per shard, completion-checked like every gather verb.
    * Manifest-planned and size-batched like [[readDynamicText]];
    * `audit = true` refuses a tree [[verifyDynamicTree]] flags.
    */
  def readDynamicTar(spark: SparkSession, basePath: String,
                     destColName: String = "dest",
                     audit: Boolean = false): DataFrame = {
    require(destColName != "name" && destColName != "value",
      s"destColName '$destColName' collides with the gather's name/value columns")
    if (audit) auditOrThrow(spark, basePath)
    gatherFiles(spark, planTree(spark, basePath, "tar"), StructType(Seq(
      StructField(destColName, StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("value", BinaryType, nullable = false)))) { (dest, in, file, _) =>
      Tar.members(new java.io.DataInputStream(new java.io.BufferedInputStream(in, 1 << 16)), file)
        .map { case (n, b) => Row(dest, n, b) }
    }
  }

  /** Read a [[saveAsDynamicCsv]] tree back through stock
    * `spark.read.csv` with the writer's exact dialect (RFC 4180 quote
    * doubling, UTC timestamps with explicit offset, per-shard headers)
    * pre-wired, destination recovered from each file's parent — plus
    * the completion-marker check the raw reader skips. `schema` is the
    * payload schema (what [[saveAsDynamicCsv]] wrote, minus the
    * destination column).
    */
  def readDynamicCsv(spark: SparkSession, basePath: String, schema: StructType,
                     header: Boolean = true,
                     destColName: String = "dest",
                     audit: Boolean = false): DataFrame = {
    checkGatherNames(schema, destColName)
    if (audit) auditOrThrow(spark, basePath)
    // manifest-planned path list; SIZE BATCHING is Spark's own file
    // scan planning here (maxPartitionBytes groups small files into
    // tasks), so only the plan source changes
    val files = planTree(spark, basePath, "csv")
    val outSchema = StructType(
      StructField(destColName, StringType, nullable = false) +: schema.fields)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    recoverDest(
      spark.read
        .option("header", header.toString)
        .option("escape", "\"")
        .option("multiLine", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        // the writer renders null as an UNQUOTED empty field and "" as
        // a QUOTED one; Spark's default read maps BOTH to null because
        // nullValue="" compares after unquoting. Remapping nullValue to
        // a sentinel that never occurs keeps the distinction: unquoted
        // empty → sentinel → null, quoted empty → "" (a real string
        // equal to the lone-NUL sentinel would read back null — not a
        // value this writer's UTF-8 text model produces meaningfully)
        .option("nullValue", "\u0000")
        .schema(schema)
        .csv(files.map(_._2): _*),
      basePath, destColName, schema.fieldNames.toSeq)
  }

  /** Read a [[saveAsDynamicParquet]] tree back through stock
    * `spark.read.parquet`, destination recovered from each file's
    * parent — plus the completion-marker check the raw reader skips.
    * `schema` is the payload schema (what the scatter wrote, minus the
    * destination column); missing columns read null, extra container
    * columns are pruned — parquet's usual projection contract.
    */
  def readDynamicParquet(spark: SparkSession, basePath: String, schema: StructType,
                         destColName: String = "dest",
                         audit: Boolean = false): DataFrame = {
    checkGatherNames(schema, destColName)
    if (audit) auditOrThrow(spark, basePath)
    // manifest-planned path list; size batching is Spark's own file
    // scan planning (maxPartitionBytes), as in readDynamicCsv
    val files = planTree(spark, basePath, "parquet")
    val outSchema = StructType(
      StructField(destColName, StringType, nullable = false) +: schema.fields)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    recoverDest(
      spark.read.schema(schema).parquet(files.map(_._2): _*),
      basePath, destColName, schema.fieldNames.toSeq)
  }

  /** Read a [[saveAsDynamicAvro]] tree back: one row per record, the
    * relative destination in `destColName`, payload columns per
    * `schema` (Avro's evolution contract — container fields absent
    * from `schema` are ignored, missing ones read null).
    * Manifest-planned and size-batched (one task per
    * ≈[[GatherTargetBytesKey]] group of containers, streamed
    * sequentially); a single oversized foreign container belongs to
    * [[Avro.read]]'s byte-range splitter instead. `audit = true`
    * refuses a tree [[verifyDynamicTree]] flags.
    */
  def readDynamicAvro(spark: SparkSession, basePath: String, schema: StructType,
                      destColName: String = "dest",
                      audit: Boolean = false): DataFrame = {
    checkGatherNames(schema, destColName)
    if (audit) auditOrThrow(spark, basePath)
    val files = planTree(spark, basePath, "avro")
    gatherAvro(spark, files, schema, destColName) { (rec, fieldNames, fieldTypes) =>
      Row.fromSeq(fieldNames.indices.map { i =>
        val f = rec.getSchema.getField(fieldNames(i))
        if (f == null) null
        else Avro.fromAvroValue(fieldTypes(i), f.schema(), rec.get(f.pos()))
      })
    }
  }

  /** Read a [[saveAsDynamicProtobuf]] tree back: proto payload bytes
    * decoded into `schema` rows ([[Protobuf.decodeRow]] — unknown
    * fields skip, missing read null), relative destination in
    * `destColName`. Manifest-planned and size-batched like
    * [[readDynamicAvro]]; `audit = true` refuses a flagged tree.
    */
  def readDynamicProtobuf(spark: SparkSession, basePath: String, schema: StructType,
                          destColName: String = "dest",
                          audit: Boolean = false): DataFrame = {
    checkGatherNames(schema, destColName)
    if (audit) auditOrThrow(spark, basePath)
    schema.fields.foreach(f => Protobuf.checkType(f.dataType))
    val files = planTree(spark, basePath, "proto.avro")
    gatherAvro(spark, files, schema, destColName) { (rec, _, _) =>
      val bb = rec.get(0).asInstanceOf[java.nio.ByteBuffer]
      val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
      Protobuf.decodeRow(schema, bytes)
    }
  }

  /** Read a completed dynamic tree's per-destination MANIFEST — one
    * row per committed data file: `(dest, file, rows, bytes)`. Every
    * scatter codec writes it (one hidden TSV shard per writing task,
    * committed under the same temp+rename protocol as the data), so a
    * 100 TB export validates against expected per-destination counts
    * WITHOUT re-scanning the data: `readDynamicManifest(...)
    * .groupBy("dest").agg(sum("rows"))` touches kilobytes. Requires
    * the post-write completion stamp, like every gather verb.
    */
  def readDynamicManifest(spark: SparkSession, basePath: String): DataFrame = {
    val (fs, base) = completedTree(spark, basePath)
    manifestOf(spark, fs, base)
  }

  /** [[readDynamicManifest]] of a tree whose completion stamp the
    * caller has checked.
    */
  private def manifestOf(spark: SparkSession, fs: FileSystem, base: Path): DataFrame = {
    val mSchema = StructType(Seq(
      StructField("dest", StringType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    val mDir = new Path(base, ManifestDir)
    if (!fs.exists(mDir))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], mSchema)
    // Spark's file index drops '_'-prefixed paths even when named
    // explicitly, so the shards are listed through Hadoop FS and
    // parsed in plain tasks — the same shape as every gather verb
    // (shard count = writing-task count, so one task each is right)
    val shards = fs.listStatus(mDir).toSeq
      .collect { case st if st.isFile && st.getPath.getName.startsWith("part-") =>
        st.getPath.toString }
      .sorted
    if (shards.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], mSchema)
    val conf = PartFiles.hadoopConf(spark)
    val rows = spark.sparkContext.parallelize(shards, shards.size).flatMap { file =>
      val p = new Path(file)
      val src = scala.io.Source.fromInputStream(p.getFileSystem(conf()).open(p), "UTF-8")
      try src.getLines().map { line =>
        // the writer never emits '\t' inside a field (control chars
        // are rejected in destinations at write time), so a plain
        // 4-way split parses unambiguously
        val parts = line.split('\t')
        require(parts.length == 4, s"malformed manifest line in $file: '$line'")
        Row(parts(0), parts(1), parts(2).toLong, parts(3).toLong)
      }.toList finally src.close()
    }
    spark.createDataFrame(rows, mSchema)
  }

  /** Metadata-only audit of a completed dynamic tree: diff the
    * per-destination MANIFEST (what the writing tasks committed)
    * against the ACTUAL file listing — both kilobyte-scale metadata
    * reads, so a 100 TB export is audited for lost renames, partial
    * deletes, and foreign files WITHOUT re-scanning a byte of data,
    * before a gather trusts the tree. Returns one row per
    * discrepancy, empty = clean:
    *  - `missing`       — manifest records a file the tree no longer
    *                      has (lost rename, partial delete);
    *  - `foreign`       — a visible `part-*` data file the manifest
    *                      never committed (stray copy, older run's
    *                      leftover);
    *  - `size_mismatch` — file present but its length differs from
    *                      the committed byte count (truncation,
    *                      overwrite).
    *
    * SCALE ENVELOPE (r16): the driver lists only the tree's TOP-LEVEL
    * entries — one row per top-level destination directory, not per
    * file; each visible subtree lists RECURSIVELY IN ITS OWN TASK, and
    * the manifest-vs-listing diff is a full outer join in the cluster.
    * A million-shard export audits without the driver ever holding a
    * per-file structure. Requires the completion stamp AND a manifest
    * (trees written before manifests existed cannot be audited —
    * re-export, or gather with the completion-checked verbs and
    * count).
    */
  def verifyDynamicTree(spark: SparkSession, basePath: String): DataFrame = {
    val (fs, base) = completedTree(spark, basePath)
    val committed = manifestOf(spark, fs, base)
      .withColumnsRenamed(Map("rows" -> "manifest_rows", "bytes" -> "manifest_bytes"))
    // actual data files: every VISIBLE part-* file (any codec
    // extension); entries under hidden ('.'/'_') segments — manifest
    // sidecars, markers, attempt temps — are not data and stay out of
    // the diff, exactly as Hadoop globbing hides them from readers.
    // Driver side sees ONE listStatus of the base; stray part-* files
    // AT the base level (dest "") are foreign by construction and
    // captured here too.
    val top = fs.listStatus(base)
    val topDirs = top.collect {
      case st if st.isDirectory &&
          !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_") =>
        st.getPath.toString
    }.sorted.toSeq
    val baseLevel = top.collect {
      case st if st.isFile && st.getPath.getName.startsWith("part-") =>
        Row("", st.getPath.getName, st.getLen)
    }.toSeq
    val listedSchema = StructType(Seq(
      StructField("dest", StringType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("actual_bytes", LongType, nullable = false)))
    val baseUriStr = fs.makeQualified(base).toUri.toString
    val conf = PartFiles.hadoopConf(spark)
    val walked =
      if (topDirs.isEmpty) spark.sparkContext.emptyRDD[Row]
      else spark.sparkContext.parallelize(topDirs, topDirs.size).flatMap { dirStr =>
        val dir = new Path(dirStr)
        val dfs = dir.getFileSystem(conf())
        val baseUri = new java.net.URI(baseUriStr)
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        val it = dfs.listFiles(dir, true)
        while (it.hasNext) {
          val st = it.next()
          val name = st.getPath.getName
          if (st.isFile && name.startsWith("part-")) {
            val rel = baseUri.relativize(st.getPath.getParent.toUri).getPath
              .stripSuffix("/")
            val hidden = rel.split('/')
              .exists(seg => seg.startsWith(".") || seg.startsWith("_"))
            if (!hidden) out += Row(rel, name, st.getLen)
          }
        }
        out
      }
    val actual = spark.createDataFrame(walked, listedSchema)
      .unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(baseLevel, 1), listedSchema))
    // a legitimately EMPTY tree (zero-row scatter, idle micro-batch)
    // has no manifest AND no data files — audits clean; data files
    // with NO manifest at all cannot be audited (pre-manifest writer,
    // or the sidecars themselves were deleted) and must refuse loudly
    // rather than report every file as foreign. Both counts are
    // metadata-scale jobs.
    if (committed.isEmpty) {
      val nActual = actual.count()
      require(nActual == 0L,
        s"$basePath has $nActual data file(s) but no manifest entries — " +
          "written by a pre-manifest version, or the _manifest sidecars were " +
          "removed? verifyDynamicTree needs them to audit against")
    }
    committed.join(actual, Seq("dest", "file"), "full_outer")
      .select(col("dest"), col("file"),
        when(col("actual_bytes").isNull, lit("missing"))
          .when(col("manifest_bytes").isNull, lit("foreign"))
          .when(col("manifest_bytes") =!= col("actual_bytes"), lit("size_mismatch"))
          .as("issue"),
        col("manifest_rows"), col("manifest_bytes"), col("actual_bytes"))
      .filter(col("issue").isNotNull)
      .orderBy(col("dest"), col("file"), col("issue"))
  }

  /** Shared Avro gather: every record of the planned containers
    * `decode`d into a payload Row, destination prepended.
    */
  private def gatherAvro(spark: SparkSession, files: Seq[(String, String, Long)],
                         schema: StructType, destColName: String)
                        (decode: (GenericRecord, Array[String], Array[DataType]) => Row)
      : DataFrame = {
    val fieldNames = schema.fields.map(_.name)
    val fieldTypes = schema.fields.map(_.dataType)
    gatherFiles(spark, files,
      StructType(StructField(destColName, StringType, nullable = false) +: schema.fields)) {
      (dest, in, _, len) =>
        new DataFileReader(new Avro.HadoopSeekableInput(in, len),
          new GenericDatumReader[GenericRecord]()).iterator().asScala
          .map(rec => Row.fromSeq(dest +: decode(rec, fieldNames, fieldTypes).toSeq))
    }
  }

  /** The RDD gathers' one task body: one task per size-batched GROUP of
    * planned files, streamed sequentially; `read` turns one open file
    * (dest, stream, path, length) into output rows. Each stream closes
    * as soon as its rows exhaust (the task-completion listener is the
    * abnormal-termination backstop).
    */
  private def gatherFiles(spark: SparkSession, files: Seq[(String, String, Long)],
                          outSchema: StructType)
                         (read: (String, org.apache.hadoop.fs.FSDataInputStream, String, Long)
                           => Iterator[Row]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    val groups = batchFiles(files, gatherTargetBytes(spark))
    val conf = PartFiles.hadoopConf(spark)
    val rows = spark.sparkContext.parallelize(groups, groups.size)
      .flatMap(_.iterator.flatMap { case (dest, file, len) =>
        val p = new Path(file)
        val in = p.getFileSystem(conf()).open(p)
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ =>
          try in.close() catch { case _: java.io.IOException => () }))
        closeOnExhaust(read(dest, in, file, len), () => in.close())
      })
    spark.createDataFrame(rows, outSchema)
  }
}
