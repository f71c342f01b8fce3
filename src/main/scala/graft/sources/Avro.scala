package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Avro Object Container File IO (reference: scio-avro/src/main/scala/
  * com/spotify/scio/avro/ — avroFile/saveAsAvroFile over GenericRecord).
  *
  * The `spark-avro` DataSource connector isn't on this classpath, but
  * the core Apache Avro library IS (Spark ships avro-1.12 for its own
  * shuffle/serde) — so this implements the PUBLIC Avro container
  * format directly: files written here open with any stock Avro
  * tooling (`DataFileStream`, avro-tools, BigQuery loads) and stock
  * Avro files read back, including snappy/deflate-coded blocks (the
  * codecs ride in the container header).
  *
  * Scale shape: one container file per partition on write
  * (dot-prefixed temp + rename commit, `_SUCCESS` stamp); the READ is
  * block-splittable — OCF interleaves a 16-byte sync marker between
  * blocks precisely so readers can split a container at arbitrary
  * byte offsets (each task rebases to the next marker, exactly the
  * Hadoop AvroRecordReader protocol). A single 100 GB container from
  * an external producer fans out to length/splitBytes tasks instead
  * of serializing on one core.
  *
  * Type mapping (both directions): long/int/short/byte ↔ long|int,
  * double/float, boolean, string, binary ↔ bytes; nested StructType ↔
  * record; MapType(string, V) ↔ avro map; DateType ↔ int/`date`;
  * TimestampType ↔ long/`timestamp-micros`; DecimalType(p,s) ↔
  * bytes/`decimal` — the standard Avro logical types, so stock readers
  * surface real dates/timestamps/decimals; arrays of any of these.
  * Nullable Spark fields (and nullable array elements / map values)
  * map to `union {null, T}`.
  *
  * Foreign-schema tolerance on READ (scio's GenericRecord read accepts
  * any container): [[inferSchema]]/[[read(spark,path)*]] derive the
  * Spark schema from the container header; enum → string, fixed →
  * binary, `timestamp-millis` → timestamp, decimal-over-fixed →
  * decimal; multi-branch unions promote (`[int,long]` → long,
  * `[float,double]` → double) or surface as a `member0..memberN`
  * struct — the public spark-avro convention. On WRITE, a string
  * column carrying [[enumMetadata]] emits a real avro `enum` and a
  * binary column carrying [[fixedMetadata]] a real `fixed`.
  */
object Avro {

  import org.apache.avro.LogicalTypes

  private def nullable(s: Schema, isNullable: Boolean): Schema =
    if (!isNullable) s
    else if (s.getType == Schema.Type.UNION) {
      // avro forbids nested unions: merge the null branch in instead
      if (s.getTypes.asScala.exists(_.getType == Schema.Type.NULL)) s
      else Schema.createUnion(
        (Schema.create(Schema.Type.NULL) +: s.getTypes.asScala.toList).asJava)
    } else Schema.createUnion(Schema.create(Schema.Type.NULL), s)

  /** Resolve the non-null branch of a union (Avro's nullable shape);
    * any other schema passes through. Multi-branch unions keep their
    * first non-null branch here — [[fromAvroValue]] handles those with
    * the full union schema instead.
    */
  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  /** The non-null branches of a union (empty for non-unions). */
  private def unionBranches(s: Schema): Seq[Schema] =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toSeq
    else Seq.empty

  /** `path` names nested records — Avro requires every record schema
    * be uniquely named, so the field path becomes the record name.
    */
  private def avroType(dt: DataType, path: String): Schema = dt match {
    case LongType => Schema.create(Schema.Type.LONG)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale).addToSchema(Schema.create(Schema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      Schema.createArray(nullable(avroType(et, s"${path}_item"), containsNull))
    case MapType(StringType, vt, valueContainsNull) => // avro maps are string-keyed
      Schema.createMap(nullable(avroType(vt, s"${path}_value"), valueContainsNull))
    case st: StructType => toAvroSchema(st, s"${path}_record")
    case other => throw new IllegalArgumentException(
      s"unsupported Avro column type $other (numeric/boolean/string/binary/date/" +
        "timestamp/decimal, nested structs, string-keyed maps, + arrays)")
  }

  /** Attach an Avro enum symbol table to a string (or array<string>)
    * column's metadata — [[write]] maps the column to a real avro
    * `enum` instead of `string` (mirrors [[Protobuf.enumMetadata]]).
    */
  def enumMetadata(symbols: Seq[String]): Metadata =
    new MetadataBuilder().putStringArray("avroEnum", symbols.toArray).build()

  /** Declare a `member0..memberN` struct column as a MULTI-BRANCH
    * avro union — [[write]] emits `union[T0..TN]` (plus a null branch
    * when the column is nullable) with each row's single non-null
    * member as the union value, closing the roundtrip with the
    * struct-of-branches READ convention ([[sparkTypeOf]]).
    */
  def unionMetadata: Metadata =
    new MetadataBuilder().putBoolean("avroUnion", true).build()

  /** Declare a binary column as avro `fixed` of `size` bytes —
    * [[write]] maps it to a real avro `fixed` instead of `bytes`.
    */
  def fixedMetadata(size: Int): Metadata = {
    require(size > 0, s"avroFixed size must be positive, got $size")
    new MetadataBuilder().putLong("avroFixed", size.toLong).build()
  }

  /** Field schema, honoring the enum/fixed metadata declarations. */
  private def fieldAvroType(f: StructField): Schema = {
    def enumSchema(name: String): Schema = {
      val syms = f.metadata.getStringArray("avroEnum")
      require(syms.nonEmpty, s"avroEnum on ${f.name} declares no symbols")
      Schema.createEnum(name, null, "graft", syms.toList.asJava)
    }
    f.dataType match {
      case StringType if f.metadata.contains("avroEnum") => enumSchema(f.name)
      case ArrayType(StringType, containsNull) if f.metadata.contains("avroEnum") =>
        Schema.createArray(nullable(enumSchema(s"${f.name}_item"), containsNull))
      case other if f.metadata.contains("avroEnum") =>
        throw new IllegalArgumentException(
          s"avroEnum metadata requires a string or array<string> column, got $other on ${f.name}")
      case st: StructType if f.metadata.contains("avroUnion") =>
        // >= 2 members: a 1-branch union is meaningless, and the write
        // path routes single-branch structs down the generic-record
        // path — fail at schema construction with a clear message
        // instead of a confusing GenericData.Record crash at write time
        require(st.fields.length >= 2 &&
          st.fields.zipWithIndex.forall { case (mf, i) => mf.name == s"member$i" },
          s"avroUnion metadata requires at least 2 member0..memberN struct fields on " +
            s"${f.name}, got ${st.fieldNames.mkString(",")}")
        Schema.createUnion(st.fields.zipWithIndex.map { case (mf, i) =>
          avroType(mf.dataType, s"${f.name}_m$i") }.toList.asJava)
      case other if f.metadata.contains("avroUnion") =>
        throw new IllegalArgumentException(
          s"avroUnion metadata requires a member0..memberN struct column, got $other on ${f.name}")
      case BinaryType if f.metadata.contains("avroFixed") =>
        Schema.createFixed(f.name, null, "graft", f.metadata.getLong("avroFixed").toInt)
      case other if f.metadata.contains("avroFixed") =>
        throw new IllegalArgumentException(
          s"avroFixed metadata requires a binary column, got $other on ${f.name}")
      case dt => avroType(dt, f.name)
    }
  }

  /** Spark schema → Avro record schema (nullable → union{null, T}). */
  def toAvroSchema(schema: StructType, recordName: String = "graft_record"): Schema = {
    val fields = schema.fields.map { f =>
      val ft = nullable(fieldAvroType(f), f.nullable)
      new Schema.Field(f.name, ft, null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(recordName, null, "graft", false, fields.toList.asJava)
  }

  /** `schema` is the (possibly union-wrapped) Avro schema of this
    * value — needed to build nested GenericRecords and to carry the
    * decimal scale.
    */
  private[sources] def toAvroValue(dt: DataType, schema: Schema, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (ShortType, x: Short) => x.toInt
    case (ByteType, x: Byte) => x.toInt
    case (StringType, s: String) if schema != null && nonNull(schema).getType == Schema.Type.ENUM =>
      val es = nonNull(schema)
      require(es.hasEnumSymbol(s), s"'$s' is not a symbol of avro enum ${es.getFullName}")
      new GenericData.EnumSymbol(es, s)
    case (BinaryType, b: Array[Byte]) if schema != null && nonNull(schema).getType == Schema.Type.FIXED =>
      val fx = nonNull(schema)
      require(b.length == fx.getFixedSize,
        s"avro fixed ${fx.getFullName} holds ${fx.getFixedSize} bytes, got ${b.length}")
      new GenericData.Fixed(fx, b)
    case (BinaryType, b: Array[Byte]) => java.nio.ByteBuffer.wrap(b)
    case (DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
    case (DateType, d: java.time.LocalDate) => d.toEpochDay.toInt
    case (TimestampType, t: java.sql.Timestamp) =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    case (TimestampType, t: java.time.Instant) =>
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    case (d: DecimalType, x: java.math.BigDecimal) =>
      java.nio.ByteBuffer.wrap(
        x.setScale(d.scale, java.math.RoundingMode.UNNECESSARY).unscaledValue().toByteArray)
    case (ArrayType(et, _), xs: scala.collection.Seq[_]) =>
      val es = nonNull(nonNull(schema).getElementType)
      xs.map(x => toAvroValue(et, es, x)).toList.asJava
    case (MapType(StringType, vt, _), m: scala.collection.Map[_, _]) =>
      val vs = nonNull(nonNull(schema).getValueType)
      val jm = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => jm.put(k.toString, toAvroValue(vt, vs, x)) }
      jm
    case (st: StructType, row: Row) if schema != null &&
        schema.getType == Schema.Type.UNION && unionBranches(schema).size >= 2 &&
        st.fields.zipWithIndex.forall { case (f, i) => f.name == s"member$i" } =>
      // multi-branch union write: exactly one member carries the value
      val branches = unionBranches(schema)
      val set = st.fields.indices.filter(i => !row.isNullAt(i))
      if (set.isEmpty) {
        require(schema.getTypes.asScala.exists(_.getType == Schema.Type.NULL),
          s"all union members null but union ${schema} has no null branch")
        null
      } else {
        require(set.size == 1,
          s"union struct must set exactly one member, got ${set.size} non-null")
        toAvroValue(st.fields(set.head).dataType, branches(set.head), row.get(set.head))
      }
    case (st: StructType, row: Row) =>
      val rs = nonNull(schema)
      val rec = new GenericData.Record(rs)
      var i = 0
      while (i < st.fields.length) {
        rec.put(i, toAvroValue(st.fields(i).dataType, rs.getFields.get(i).schema(), row.get(i)))
        i += 1
      }
      rec
    case (_, x) => x // long/int/double/float/boolean/string pass through
  }

  /** `schema` is the Avro schema at this position (possibly a union),
    * from the CONTAINER's writer schema — it disambiguates multi-branch
    * unions, millis-vs-micros timestamps, and decimal-backing shapes
    * the runtime value class alone can't. Null-tolerant: a null schema
    * falls back to value-class dispatch (graft's own type mapping).
    */
  private[sources] def fromAvroValue(dt: DataType, schema: Schema, v: Any): Any = {
    if (v == null) return null
    if (schema != null && schema.getType == Schema.Type.UNION) {
      val branches = unionBranches(schema)
      if (branches.size == 1) return fromAvroValue(dt, branches.head, v)
      // multi-branch union: resolve which branch this datum is, then
      // either fill its member slot (struct-of-branches read, the
      // spark-avro `memberN` convention) or coerce to the single asked
      // type (dominant-branch read)
      val branch = schema.getTypes.get(GenericData.get().resolveUnion(schema, v))
      return dt match {
        case st: StructType if st.fields.length == branches.size &&
            st.fields.zipWithIndex.forall { case (f, i) => f.name == s"member$i" } =>
          val pos = branches.indexOf(branch)
          Row.fromSeq(st.fields.indices.map(i =>
            if (i == pos) fromAvroValue(st.fields(i).dataType, branch, v) else null))
        case _ => fromAvroValue(dt, branch, v)
      }
    }
    (dt, v) match {
      case (StringType, s) => s.toString // Utf8 / EnumSymbol → String
      case (ShortType, x: Integer) => x.shortValue()
      case (ByteType, x: Integer) => x.byteValue()
      case (LongType, x: Integer) => x.longValue() // union[int,long] promotion
      case (DoubleType, x: java.lang.Float) => x.doubleValue() // union[float,double]
      case (BinaryType, bb: java.nio.ByteBuffer) =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      case (BinaryType, gf: org.apache.avro.generic.GenericFixed) =>
        gf.bytes().clone() // foreign avro `fixed` fields surface as binary
      case (DateType, d: Integer) => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))
      case (TimestampType, ts: java.lang.Long) =>
        // micros unless the container declares timestamp-millis
        val micros =
          if (schema != null && schema.getLogicalType != null &&
            schema.getLogicalType.getName == "timestamp-millis") Math.multiplyExact(ts.longValue(), 1000L)
          else ts.longValue()
        val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        t
      case (d: DecimalType, bb: java.nio.ByteBuffer) =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a)
        new java.math.BigDecimal(new java.math.BigInteger(a), d.scale)
      case (d: DecimalType, gf: org.apache.avro.generic.GenericFixed) =>
        new java.math.BigDecimal(new java.math.BigInteger(gf.bytes()), d.scale)
      case (ArrayType(et, _), xs: java.util.Collection[_]) =>
        val es = if (schema == null) null else nonNull(schema).getElementType
        xs.asScala.map(x => fromAvroValue(et, es, x)).toSeq
      case (MapType(StringType, vt, _), m: java.util.Map[_, _]) =>
        val vs = if (schema == null) null else nonNull(schema).getValueType
        m.asScala.map { case (k, x) => k.toString -> fromAvroValue(vt, vs, x) }.toMap
      case (st: StructType, rec: GenericRecord) =>
        // name-matched like the top level: container fields absent from
        // the asked-for struct are ignored, missing ones read null
        Row.fromSeq(st.fields.toSeq.map { f =>
          val af = rec.getSchema.getField(f.name)
          if (af == null) null else fromAvroValue(f.dataType, af.schema(), rec.get(af.pos()))
        })
      case (_, x) => x
    }
  }

  /** Write one Avro container file per partition under `path`
    * (repartition upstream to pick the shard count) through
    * [[PartFiles]]' commit: dot-prefixed temp + rename, `_SUCCESS`
    * stamp. Returns the shard count.
    *
    * `syncIntervalBytes` (0 = Avro's default, ~64 KiB) sets the
    * approximate block size between sync markers — the granularity at
    * which [[read]] can split the file.
    */
  def write(df: DataFrame, path: String, syncIntervalBytes: Int = 0): Int =
    PartFiles.writeShards(df, path, encoder(df.schema, syncIntervalBytes))

  /** One container file per part file, each row one record of
    * `schema`'s Avro mapping — the encoder of [[write]] and of
    * [[Dynamic.saveAsDynamicAvro]]. Maps the schema driver-side, so an
    * unsupported type fails before anything is written.
    */
  private[sources] def encoder(schema: StructType, syncIntervalBytes: Int = 0): PartFiles.Encoder =
    new ContainerEncoder(toAvroSchema(schema).toString, schema.fields.map(_.dataType),
      syncIntervalBytes)

  private final class ContainerEncoder(avroJson: String, fieldTypes: Array[DataType],
                                       syncIntervalBytes: Int) extends PartFiles.Encoder {
    val ext = "avro"
    @transient private lazy val schema = new Schema.Parser().parse(avroJson)
    @transient private lazy val fieldSchemas = schema.getFields.asScala.map(_.schema()).toArray
    def open(out: java.io.OutputStream): PartFiles.Sink = new PartFiles.Sink {
      private val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      if (syncIntervalBytes > 0) writer.setSyncInterval(syncIntervalBytes)
      writer.create(schema, out)
      def write(row: Row): Unit = {
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < fieldTypes.length) {
          rec.put(i, toAvroValue(fieldTypes(i), fieldSchemas(i), row.get(i)))
          i += 1
        }
        writer.append(rec)
      }
      def close(): Unit = writer.close() // closes the underlying stream
    }
  }

  /** [[org.apache.avro.file.SeekableInput]] over a Hadoop stream —
    * what lets DataFileReader seek to a split offset and rebase on the
    * next sync marker.
    */
  private[sources] class HadoopSeekableInput(in: org.apache.hadoop.fs.FSDataInputStream, len: Long)
      extends org.apache.avro.file.SeekableInput {
    override def read(b: Array[Byte], off: Int, l: Int): Int = in.read(b, off, l)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def tell(): Long = in.getPos
    override def length(): Long = len
    override def close(): Unit = in.close()
  }

  /** Read Avro container files under `path` into rows of `schema`
    * (name-matched; container fields absent from `schema` are
    * ignored, `schema` fields absent from a record read as null —
    * Avro's own evolution contract). `path` may be a graft-written
    * directory, a single container FILE, or a GLOB (`dir/` + `*.avro`)
    * selecting foreign files explicitly.
    *
    * SPLITTABLE: each container is cut into ~`splitBytes` byte ranges
    * and every range is one task. A task seeks to its range start,
    * scans forward to the next OCF sync marker, and reads whole blocks
    * until the first block starting past its range end — the standard
    * Hadoop Avro split protocol, so every record is read exactly once
    * regardless of where the cuts land. Parallelism no longer depends
    * on the writer's shard count: one huge external container file
    * still fans out.
    *
    * Guard rails: a DIRECTORY path requires the `_SUCCESS` stamp
    * ([[write]] emits one; a destination dir of a completed
    * [[Dynamic.saveAsDynamicAvro]] tree passes on the tree's own
    * completion stamp) so a partially-written tree from a failed
    * job can't read back as silently-valid data, and a committed
    * write whose partitions were all empty (zero part files) reads as
    * an empty DataFrame of `schema` rather than throwing. A path that
    * points at a FILE is read directly, no marker or naming contract
    * — the foreign-container case (one huge .avro from an external
    * producer) this read's splitting exists for.
    */
  /** The container files `path` names: an explicit glob, a single
    * foreign FILE, or a graft-written directory (which requires the
    * `_SUCCESS` stamp, or for a destination dir of a
    * [[Dynamic.saveAsDynamicAvro]]/`saveAsDynamicProtobuf` tree, the
    * tree's `_GRAFT_DYNAMIC_DONE`).
    */
  private def listContainers(fs: org.apache.hadoop.fs.FileSystem, path: String)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    val dir = new Path(path)
    if (path.exists(c => "*?[{".indexOf(c.toInt) >= 0)) {
      // explicit glob: the caller names the files, no marker contract
      val matched = Option(fs.globStatus(dir)).getOrElse(Array.empty).filter(_.isFile)
      require(matched.nonEmpty, s"glob $path matched no files")
      matched
    } else {
      val rootStatus = fs.getFileStatus(dir)
      if (rootStatus.isFile) Array(rootStatus)
      else {
        // a destination dir of a dynamic tree carries no _SUCCESS of its
        // own: the tree's root (the nearest ancestor holding the
        // ownership stamp) holds the completion stamp instead
        def treeDone = Iterator.iterate(dir.getParent)(_.getParent).takeWhile(_ != null)
          .find(d => fs.exists(new Path(d, Dynamic.Marker)))
          .exists(root => fs.exists(new Path(root, Dynamic.MarkerDone)))
        require(fs.exists(new Path(dir, "_SUCCESS")) || treeDone,
          s"$path has no _SUCCESS marker — refusing to read a possibly partial write " +
            "(point at the container file itself, or glob the files, for foreign input)")
        Option(fs.globStatus(new Path(dir, "part-*.avro"))).getOrElse(Array.empty)
      }
    }
  }

  /** Avro type → (Spark type, nullable). Union shapes: `{null, T}` →
    * nullable T; `[int, long]` → long and `[float, double]` → double
    * (Avro's own promotion pairs); any OTHER multi-branch union → a
    * struct of `member0..memberN` branch fields — the public
    * spark-avro SchemaConverters convention — with exactly the branch
    * the record holds set and the rest null.
    */
  private def sparkTypeOf(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val hasNull = s.getTypes.asScala.exists(_.getType == Schema.Type.NULL)
      val branches = unionBranches(s)
      require(branches.nonEmpty, "union of only null carries no data")
      if (branches.size == 1) (sparkTypeOf(branches.head)._1, hasNull)
      else {
        val kinds = branches.map(_.getType).toSet
        if (kinds == Set(Schema.Type.INT, Schema.Type.LONG)) (LongType, hasNull)
        else if (kinds == Set(Schema.Type.FLOAT, Schema.Type.DOUBLE)) (DoubleType, hasNull)
        else (StructType(branches.zipWithIndex.map { case (b, i) =>
          StructField(s"member$i", sparkTypeOf(b)._1, nullable = true)
        }), hasNull)
      }
    case Schema.Type.INT =>
      if (s.getLogicalType != null && s.getLogicalType.getName == "date") (DateType, false)
      else (IntegerType, false)
    case Schema.Type.LONG =>
      val lt = Option(s.getLogicalType).map(_.getName).getOrElse("")
      if (lt == "timestamp-micros" || lt == "timestamp-millis") (TimestampType, false)
      else (LongType, false)
    case Schema.Type.FLOAT => (FloatType, false)
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED => s.getLogicalType match {
      case d: LogicalTypes.Decimal => (DecimalType(d.getPrecision, d.getScale), false)
      case _ => (BinaryType, false)
    }
    case Schema.Type.ARRAY =>
      val (et, en) = sparkTypeOf(s.getElementType)
      (ArrayType(et, containsNull = en), false)
    case Schema.Type.MAP =>
      val (vt, vn) = sparkTypeOf(s.getValueType)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case Schema.Type.RECORD =>
      (StructType(s.getFields.asScala.toSeq.map { f =>
        val (t, n) = sparkTypeOf(f.schema())
        StructField(f.name(), t, nullable = n)
      }), false)
    case other => throw new IllegalArgumentException(s"unsupported avro type $other in container schema")
  }

  /** Infer the Spark schema from the first container's header — the
    * GenericRecord-style read that needs no caller schema (reference:
    * scio-avro/src/main/scala/com/spotify/scio/avro/AvroIO.scala
    * GenericRecord read).
    */
  def inferSchema(spark: SparkSession, path: String): StructType = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = listContainers(fs, path)
    require(statuses.nonEmpty, s"$path holds no avro container files to infer a schema from")
    val st = statuses.head
    val reader = new DataFileReader(
      new HadoopSeekableInput(fs.open(st.getPath), st.getLen),
      new GenericDatumReader[GenericRecord]())
    val avro = try reader.getSchema finally reader.close()
    require(avro.getType == Schema.Type.RECORD,
      s"container root schema must be a record, got ${avro.getType}")
    sparkTypeOf(avro)._1.asInstanceOf[StructType]
  }

  /** Read with the schema inferred from the container header (multi-
    * branch unions surface as `memberN` structs — see [[sparkTypeOf]]).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, inferSchema(spark, path))

  def read(spark: SparkSession, path: String, schema: StructType,
           splitBytes: Long = 64L << 20): DataFrame = {
    require(splitBytes > 0, s"splitBytes must be positive, got $splitBytes")
    val fieldNames = schema.fields.map(_.name)
    val fieldTypes = schema.fields.map(_.dataType)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = listContainers(fs, path)
    if (statuses.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val conf = PartFiles.hadoopConf(spark)
    val splits = statuses.toSeq.flatMap { st =>
      val len = st.getLen
      val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
      (0L until n).map(i =>
        (st.getPath.toString, i * splitBytes, math.min((i + 1) * splitBytes, len), len))
    }
    val rows = spark.sparkContext.parallelize(splits, splits.size)
      .flatMap { case (file, start, end, len) =>
        val p = new Path(file)
        val reader = new DataFileReader(
          new HadoopSeekableInput(p.getFileSystem(conf()).open(p), len),
          new GenericDatumReader[GenericRecord]())
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
        // the OCF header ends with the sync marker, so sync(0) lands on
        // the first block; blocks whose preceding marker sits in
        // [start, end) belong to this split
        reader.sync(start)
        new Iterator[Row] {
          override def hasNext: Boolean = reader.hasNext && !reader.pastSync(end)
          override def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(fieldNames.indices.map { i =>
              val f = rec.getSchema.getField(fieldNames(i))
              if (f == null) null else fromAvroValue(fieldTypes(i), f.schema(), rec.get(f.pos()))
            })
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }
}
