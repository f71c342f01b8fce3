package graft.hash

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** First-class, PERSISTENT Bloom filter artifact (reference intent:
  * scio-core/src/main/scala/com/spotify/scio/hash/ApproxFilter.scala:31
  * — a sealed filter value with create/readFrom/writeTo — and
  * MutableScalableBloomFilter.scala). A real pipeline builds the
  * filter over yesterday's 100 TB key set ONCE, ships the artifact,
  * and reuses it across many downstream jobs; rebuilding per join
  * (what [[graft.operators.Joins]] does when handed raw frames) burns
  * a full scan each time.
  *
  * Spark-first shape: the BUILD is a distributed aggregation
  * (`stat.bloomFilter` → BloomFilterAggregate, partial-merged on
  * executors, only the merged bitset returns to the driver); the
  * PROBE is the native codegen [[graft.expressions.BloomProbe]]
  * kernel riding inside whole-stage codegen; persistence goes through
  * the Hadoop FileSystem API, so `path` may be local, HDFS, or an
  * object store. The on-disk format is Spark's own
  * `BloomFilter.writeTo` V1 format — readable by any Spark job with
  * no graft dependency.
  *
  * Key representation (single source of truth, shared with the
  * sparse-join family): integral keys are inserted and probed as
  * longs, strings as their UTF-8 bytes. Binary keys are rejected at
  * build time (Spark's bloom_filter_agg cannot insert them) —
  * hex-encode first.
  */
object GraftBloom {

  /** Gate shared by build and probe: what stat.bloomFilter can insert
    * and a probe can reproduce exactly.
    */
  private[graft] def requireBloomableKey(df: DataFrame, key: String, op: String): Unit =
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => ()
      case other => throw new IllegalArgumentException(
        s"$op key '$key' has unsupported type $other (integral/string only; " +
          "hex-encode binary keys first)")
    }

  /** Distributed build over `df(key)`: one scan, partial aggregates
    * merge executor-side, the driver holds only the final bitset
    * (~ -n·ln(fpp)/ln²2 bits — 1.2 GB for 1e9 keys at 1%, a driver
    * object, never a per-row cost).
    */
  def build(df: DataFrame, key: String, expectedKeys: Long, fpp: Double = 0.01): BloomFilter = {
    requireBloomableKey(df, key, "GraftBloom.build")
    df.stat.bloomFilter(key, expectedKeys, fpp)
  }

  /** Persist to any Hadoop-visible path (one small file, written from
    * the driver — the filter IS a driver value after the build), via
    * temp + atomic rename: a failed write leaves the old file intact.
    */
  def write(spark: SparkSession, bf: BloomFilter, path: String): Unit =
    graft.util.Artifacts.write(spark, path)(bf.writeTo)

  /** Load a previously written filter. */
  def read(spark: SparkSession, path: String): BloomFilter =
    graft.util.Artifacts.read(spark, path)(BloomFilter.readFrom)

  /** Membership-probe column over `df(key)`: native codegen, one
    * static call per row, null keys probe as absent. The filter ships
    * to executors inside the stage's task binary (the same transport
    * AQE runtime filters use).
    */
  def probe(df: DataFrame, key: String, bf: BloomFilter): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    requireBloomableKey(df, key, "GraftBloom.probe")
    val probeKey = df.schema(key).dataType match {
      case StringType => col(key)
      case _ => col(key).cast("long")
    }
    ColumnBridge.column(
      graft.expressions.BloomProbe(ColumnBridge.expression(probeKey), bf))
  }

  /** Keep only rows whose key MIGHT be in the filter (no false
    * negatives; false-positive rate is the build fpp). The prefilter
    * verb: compose with an exact join downstream when exactness is
    * required — rejected rows are provably non-members and skip the
    * shuffle entirely.
    */
  def filterByBloom(df: DataFrame, key: String, bf: BloomFilter): DataFrame =
    df.filter(probe(df, key, bf))

  /** Drop rows whose key might be in the filter (the exact complement
    * contract: kept rows are GUARANTEED non-members — this direction
    * is precise, which is why Bloom-side deny-lists work).
    */
  def filterNotByBloom(df: DataFrame, key: String, bf: BloomFilter): DataFrame =
    df.filter(!probe(df, key, bf))
}
