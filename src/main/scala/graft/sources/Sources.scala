package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format IO mirroring scio's file IOs (reference: scio-core
  * ScioContext.textFile / SCollection.saveAsTextFile, scio-extra csv,
  * scio json/parquet/object/binary IOs). Cloud-service IOs (BigQuery,
  * Pubsub, Bigtable) are out of scope in this environment; the `jdbc`
  * format exists on Spark but has no reachable database here.
  *
  * All of these are thin, deliberately: Spark's DataSource V2
  * framework already gives splittable parallel reads, partitioned
  * writes, predicate pushdown (parquet/orc), and schema inference —
  * the scio counterparts hand-roll much of that on top of Beam IO.
  * Avro: the spark-avro connector jar is not shipped in this
  * environment; parquet/orc cover the columnar cases.
  */
object Sources {

  // ---- text (scio textFile / saveAsTextFile) ----
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path) // one `value` column per line, splittable

  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** scio readTextFilesWithPath: (path, line) per line — the file
    * provenance column comes from `input_file_name()`, no custom
    * reader needed.
    */
  def readTextWithPath(spark: SparkSession, paths: String*): DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    spark.read.text(paths: _*).withColumn("path", input_file_name())
  }

  // ---- csv (scio-extra csv) ----
  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None,
              header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  // ---- json lines (scio saveAsJsonFile) ----
  def readJson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  // ---- parquet / orc (columnar; pushdown + pruning) ----
  def readParquet(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** scio objectFile / saveAsObjectFile: typed records persisted with
    * their schema. Spark-first this is just parquet + the Dataset
    * encoder — no Kryo blobs, splittable, queryable in place.
    */
  def writeObject[T](ds: org.apache.spark.sql.Dataset[T], path: String): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(path)

  def readObject[T: org.apache.spark.sql.Encoder](spark: SparkSession, path: String):
      org.apache.spark.sql.Dataset[T] =
    spark.read.parquet(path).as[T]

  /** scio binaryFile: whole-file bytes + metadata via the built-in
    * `binaryFile` source (path, modificationTime, length, content).
    */
  def readBinary(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format("binaryFile").load(pathGlob)

  /** scio readFilesAsBytes/readFilesAsString/readTextFiles
    * (SCollection.scala readFiles family): read the files NAMED BY a
    * dataset of paths. Unlike [[readBinary]]'s static glob, the paths
    * here are data — produced by an upstream stage — so the reads must
    * run on executors (a driver-side listing would serialize the whole
    * corpus through one machine). Each task opens its partition's
    * paths through the Hadoop FileSystem API, so any mounted scheme
    * works; repartition the path dataset first if file sizes are
    * skewed. Whole-file reads: each file must fit in task memory,
    * same contract as scio's readFilesAsBytes. The Hadoop conf rides
    * to executors via Spark's broadcast-backed serializable wrapper.
    */
  def readFilesAsBytes(paths: org.apache.spark.sql.Dataset[String]):
      org.apache.spark.sql.Dataset[(String, Array[Byte])] = {
    val spark = paths.sparkSession
    import spark.implicits._
    val hadoopConf = PartFiles.hadoopConf(spark)
    paths.mapPartitions { it =>
      val conf = hadoopConf()
      it.map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        (p, graft.util.Artifacts.readBytes(hp.getFileSystem(conf), hp))
      }
    }
  }

  /** scio readFilesAsString: UTF-8 decode of [[readFilesAsBytes]]. */
  def readFilesAsString(paths: org.apache.spark.sql.Dataset[String]):
      org.apache.spark.sql.Dataset[(String, String)] = {
    val spark = paths.sparkSession
    import spark.implicits._
    readFilesAsBytes(paths).map { case (p, b) =>
      (p, new String(b, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** scio readTextFiles: the named files' lines, flattened. */
  def readTextFiles(paths: org.apache.spark.sql.Dataset[String]):
      org.apache.spark.sql.Dataset[String] = {
    val spark = paths.sparkSession
    import spark.implicits._
    readFilesAsString(paths).flatMap(_._2.linesIterator)
  }

  /** scio saveAsZstdDictionary (SCollection.scala:1720 / ZstdDictIO):
    * train a zstd compression dictionary from a byte-bounded sample of
    * a binary column and write it to `path`. Training is inherently
    * single-machine (zstd's ZDICT over an in-memory sample buffer —
    * scio does the same inside one DoFn); the distributed part is the
    * sampling, which is the declarative [[graft.syntax]] `sampleBytes`
    * (scalar-join oversample + bounded trim), so the driver never
    * holds more than `maxTrainingBytes`. Uses the zstd-jni shipped
    * with Spark.
    */
  def saveAsZstdDictionary(df: DataFrame, bytesCol: String, path: String,
                           dictSizeBytes: Int = 110 * 1024,
                           maxTrainingBytes: Long = 16L * 1024 * 1024,
                           seed: Long = 42L): Array[Byte] = {
    require(dictSizeBytes > 0 && maxTrainingBytes > dictSizeBytes,
      s"need maxTrainingBytes ($maxTrainingBytes) > dictSizeBytes ($dictSizeBytes) > 0")
    import graft.syntax._
    import org.apache.spark.sql.functions.{col, length}
    val samples = df.select(col(bytesCol).cast("binary").as("b"))
      .filter(col("b").isNotNull && length(col("b")) > 0)
      .sampleBytes(maxTrainingBytes, length(col("b")), seed)
      .collect().map(_.getAs[Array[Byte]](0))
    require(samples.nonEmpty, "saveAsZstdDictionary: no non-empty samples to train on")
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(
      math.min(maxTrainingBytes, Int.MaxValue.toLong).toInt, dictSizeBytes)
    samples.foreach(trainer.addSample)
    val dict = trainer.trainSamples()
    graft.util.Artifacts.write(df.sparkSession, path)(_.write(dict))
    dict
  }
}
