package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag

/** scio-shaped syntax on Spark Datasets/DataFrames.
  *
  * `import graft.syntax._` gives `SCollection`-style verbs
  * (reference: scio-core/src/main/scala/com/spotify/scio/values/
  * SCollection.scala and PairSCollectionFunctions.scala) on top of
  * `Dataset[T]`/`DataFrame`. Everything stays declarative — each verb
  * expands to Catalyst expressions (codegen'd, partial-aggregated,
  * pushdown-friendly), never driver-side loops.
  */
package object syntax {

  /** The one weight-bounded batcher behind [[GraftDatasetOps.batchedBytes]],
    * `batchedWeighted` and `batchedWeightedByKey`: consecutive elements
    * join a batch until the next would push its weight past
    * `maxWeight`; an element heavier than `maxWeight` travels alone.
    */
  private def weightBatches[T](it: Iterator[T], maxWeight: Long, weighOf: T => Long)
      : Iterator[Seq[T]] = new Iterator[Seq[T]] {
    private val buf = it.buffered
    def hasNext: Boolean = buf.hasNext
    def next(): Seq[T] = {
      val batch = Seq.newBuilder[T]
      var w = 0L
      var done = false
      while (!done && buf.hasNext) {
        val sz = weighOf(buf.head)
        if (w > 0L && w + sz > maxWeight) done = true
        else { batch += buf.next(); w += sz }
      }
      batch.result()
    }
  }

  /** SCollection[T] analogue. */
  implicit class GraftDatasetOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** scio collect(pf): filter + map in one. */
    def collectWith[U: Encoder](pf: PartialFunction[T, U]): Dataset[U] =
      ds.filter((t: T) => pf.isDefinedAt(t)).map((t: T) => pf(t))

    /** scio keyBy. */
    def keyBy[K: Encoder](f: T => K)(implicit te: Encoder[T], kv: Encoder[(K, T)]): Dataset[(K, T)] =
      ds.map(t => (f(t), t))

    /** scio distinctBy: one representative element per key. Spark's
      * dropDuplicates keeps an arbitrary row; this keeps the minimum
      * by `ord`, making results deterministic (and oracle-checkable).
      */
    def distinctByMin[K](keyCols: Seq[String], tieBreak: String): DataFrame = {
      val d = ds.toDF()
      val others = d.columns.filterNot(c => keyCols.contains(c) || c == tieBreak)
      d.groupBy(keyCols.map(col): _*)
        .agg(min(col(tieBreak)).as(tieBreak),
          others.map(c => min_by(col(c), col(tieBreak)).as(c)): _*)
    }

    /** scio countByValue over chosen columns. */
    def countByValue(cols: String*): DataFrame =
      ds.toDF().groupBy(cols.map(col): _*).agg(count(lit(1)).as("count"))

    /** scio top(n): TakeOrdered — per-partition top-n then merge, no
      * global sort at scale.
      */
    def topBy(n: Int, ordering: Column*): DataFrame =
      ds.toDF().orderBy(ordering: _*).limit(n)

    /** scio sample without replacement, seeded. */
    def sampleFraction(fraction: Double, seed: Long = 42L): Dataset[T] =
      ds.sample(withReplacement = false, fraction, seed)

    /** scio sampleWeighted: weighted reservoir sample of n rows
      * (Efraimidis–Spirakis A-Res: top-n by rand^(1/w), a single
      * TakeOrdered — no per-partition reservoir state needed).
      * Rows with non-positive or NaN weights are excluded (they would
      * otherwise sort above every valid key and hijack the sample).
      */
    def sampleWeighted(n: Int, weightCol: String, seed: Long = 42L): DataFrame = {
      val w = col(weightCol).cast("double")
      ds.toDF()
        .filter(w > 0.0 && !isnan(w))
        .withColumn("__k", pow(rand(seed), lit(1.0) / w))
        .orderBy(col("__k").desc)
        .limit(n)
        .drop("__k")
    }

    /** Deterministic systematic sample: keep rows whose key hashes
      * into the chosen residue class. Unlike `sample`, reproducible
      * across engines — the oracle can express it.
      */
    def sampleSystematic(keyCol: String, modulus: Int, residue: Int = 0): DataFrame =
      ds.toDF().filter(pmod(col(keyCol), lit(modulus)) === residue)

    /** scio batch(n): group elements into fixed-size batches within a
      * partition (no shuffle) — for batched downstream calls
      * (reference: scio BatchDoFn usage in SCollection.batch).
      */
    def batched(n: Int)(implicit ct: ClassTag[T], e: Encoder[Seq[T]]): Dataset[Seq[T]] = {
      require(n > 0, s"batch size must be positive, got $n")
      ds.mapPartitions((it: Iterator[T]) => it.grouped(n).map(_.toSeq))(e)
    }

    /** scio batchByKey: per-key batches of at most n elements (each
      * key's values chunked; one output row per chunk).
      */
    def batchedByKey[K: Encoder](n: Int)(key: T => K)(
        implicit te: Encoder[T], out: Encoder[(K, Seq[T])]): Dataset[(K, Seq[T])] = {
      require(n > 0, s"batch size must be positive, got $n")
      ds.groupByKey(key).flatMapGroups((k: K, it: Iterator[T]) =>
        it.grouped(n).map(b => (k, b.toSeq)))
    }

    /** scio batchByteSized: batches bounded by estimated byte weight
      * (caller supplies the estimator; a batch closes once it reaches
      * maxBytes, and a single oversized element travels alone).
      */
    def batchedBytes(maxBytes: Long)(sizeOf: T => Long)(
        implicit ct: ClassTag[T], e: Encoder[Seq[T]]): Dataset[Seq[T]] = {
      require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
      ds.mapPartitions((it: Iterator[T]) => weightBatches(it, maxBytes, sizeOf))(e)
    }

    /** scio batchByteSizedByKey/batchWeightedByKey: per-key batches
      * bounded by accumulated weight — the keyed form of
      * [[batchedWeighted]] (byte size IS a weight; pass the estimator
      * under either scio name). One shuffle on the key; a single
      * oversized element travels alone, as in the unkeyed form.
      */
    def batchedWeightedByKey[K: Encoder](maxWeight: Long)(key: T => K)(weighOf: T => Long)(
        implicit te: Encoder[T], out: Encoder[(K, Seq[T])]): Dataset[(K, Seq[T])] = {
      require(maxWeight > 0, s"maxWeight must be positive, got $maxWeight")
      ds.groupByKey(key).flatMapGroups((k: K, it: Iterator[T]) =>
        weightBatches(it, maxWeight, weighOf).map(b => (k, b)))
    }

    /** scio flatten: SCollection[Iterable[U]] → SCollection[U]. */
    def flattened[U](implicit ev: T => IterableOnce[U], e: Encoder[U]): Dataset[U] =
      ds.flatMap((t: T) => ev(t))

    /** scio batchWeighted: batches bounded by an arbitrary per-element
      * weight — the same batcher as [[batchedBytes]] (byte size IS a
      * weight), exposed under the scio name.
      */
    def batchedWeighted(maxWeight: Long)(weighOf: T => Long)(
        implicit ct: ClassTag[T], e: Encoder[Seq[T]]): Dataset[Seq[T]] = {
      require(maxWeight > 0, s"maxWeight must be positive, got $maxWeight")
      ds.mapPartitions((it: Iterator[T]) => weightBatches(it, maxWeight, weighOf))(e)
    }

    /** scio partition(p): split into disjoint frames by predicate.
      * Both sides share the one cached scan when `cache` is set.
      */
    def partitionBy2(pred: Column): (DataFrame, DataFrame) = {
      val d = ds.toDF()
      (d.filter(pred), d.filter(!pred))
    }

    /** scio partitionByKey: one frame per listed key value (each a
      * filter over the same plan — cache the input when consuming
      * several). Rows with unlisted keys appear in none (as scio,
      * where an unmapped key is an error).
      */
    def partitionByValues(keyCol: String, values: Seq[String]): Map[String, DataFrame] = {
      val d = ds.toDF()
      values.map(v => v -> d.filter(col(keyCol) === v)).toMap
    }

    /** scio sampleByteSized: a uniform sample whose total weight
      * (bytes) is ≤ maxBytes. Two declarative phases: a scalar-join
      * oversample at ~1.3× the target fraction, then an exact running-
      * weight trim over the oversample. The trim window is a single
      * partition, but over the SAMPLE only — bounded by ~1.3× the
      * byte budget, not the corpus — so the global sort is safe by
      * construction.
      */
    def sampleBytes(maxBytes: Long, sizeCol: Column, seed: Long = 42L): DataFrame = {
      require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
      val d = ds.toDF()
      val tot = d.agg(sum(sizeCol).cast("double").as("__tot"))
      val frac = least(lit(1.0), lit(maxBytes.toDouble) / col("__tot") * 1.3)
      val over = d.withColumn("__r", rand(seed))
        .crossJoin(broadcast(tot))
        .filter(col("__r") < frac)
        .drop("__tot")
      val w = Window.orderBy(col("__r")).rowsBetween(Window.unboundedPreceding, 0)
      over.withColumn("__cum", sum(sizeCol.cast("long")).over(w))
        .filter(col("__cum") <= maxBytes)
        .drop("__r", "__cum")
    }

    /** Deterministic byte-budget sample: the engine-reproducible form
      * of [[sampleBytes]] (as `sampleSystematic` is to `sample`) —
      * rows ranked by a caller-supplied UNIQUE numeric order column
      * (e.g. a hash of the row key), kept while the running byte
      * total stays within `maxBytes`. Same balanced bucketed
      * prefix-sum machinery as [[graft.operators.GlobalOrder]] — one
      * balanced shuffle, never a whole-corpus single-partition window.
      */
    def sampleBytesOrdered(maxBytes: Long, sizeCol: Column, orderCol: String): DataFrame = {
      require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
      operators.GlobalOrder.takePrefixByWeight(ds.toDF(), orderCol, sizeCol.cast("long"), maxBytes)
    }

    /** scio hashPartition(n): split into n disjoint frames by key
      * hash. Cache the input when consuming several outputs — each is
      * a filter over the same plan.
      */
    def hashPartitions(n: Int, keys: Column*): Seq[DataFrame] = {
      require(n > 0, s"n must be positive, got $n")
      val d = ds.toDF().withColumn("__hp", pmod(hash(keys: _*), lit(n)))
      (0 until n).map(i => d.filter(col("__hp") === i).drop("__hp"))
    }

    /** scio hashPartitionByKey: [[hashPartitions]] keyed by the pair's
      * key columns (same contract — n disjoint frames, one plan).
      */
    def hashPartitionsByKey(n: Int, keyCols: Seq[String]): Seq[DataFrame] =
      hashPartitions(n, keyCols.map(col): _*)

    /** scio flattenValues: (K, Iterable[V]) → (K, V). */
    def flattenValues(keyCol: String, valuesCol: String): DataFrame =
      ds.toDF().select(col(keyCol), explode(col(valuesCol)).as("value"))

    /** scio Metrics.counter/distribution: named metrics collected in
      * the SAME pass as the job (Spark `observe`) — no second scan.
      * Read values from the returned Observation after the first
      * action: `obs.get("n_bad")`.
      */
    def observed(name: String, metrics: Column*): (DataFrame, org.apache.spark.sql.Observation) = {
      require(metrics.nonEmpty, "observed(name, metrics…) needs at least one metric column")
      val obs = org.apache.spark.sql.Observation(name)
      (ds.toDF().observe(obs, metrics.head, metrics.tail: _*), obs)
    }
  }

  /** Typed keyed verbs on (K, V) Datasets — the statically-typed face
    * of PairSCollectionFunctions (scio reduceByKey/aggregateByKey/
    * foldByKey). Backed by KeyValueGroupedDataset.reduceGroups /
    * mapGroups; Spark plans these as object-hash aggregates with
    * map-side partial reduction, so the scio semantics keep Spark's
    * shuffle efficiency.
    */
  implicit class GraftPairOps[K, V](private val ds: Dataset[(K, V)]) extends AnyVal {

    /** scio reduceByKey: associative merge of values per key. */
    def reduceByKey(f: (V, V) => V)(implicit ke: Encoder[K], kve: Encoder[(K, V)]): Dataset[(K, V)] =
      ds.groupByKey(_._1)
        .reduceGroups((a: (K, V), b: (K, V)) => (a._1, f(a._2, b._2)))
        .map { case (_, kv) => kv }

    /** scio foldByKey: fold with a zero (zero must be f-identity). */
    def foldByKey(zero: V)(f: (V, V) => V)(implicit ke: Encoder[K], kve: Encoder[(K, V)]): Dataset[(K, V)] =
      reduceByKey(f) // associative fold with identity zero ≡ reduce

    /** scio aggregateByKey: different accumulator type, seqOp+combOp.
      * mapGroups materializes each group's iterator once (use the
      * codegen'd `groupBy.agg` face for algebraic aggregates; this is
      * for genuinely non-algebraic accumulators).
      */
    def aggregateByKey[B](zero: => B)(seqOp: (B, V) => B, combOp: (B, B) => B)(
        implicit ke: Encoder[K], kbe: Encoder[(K, B)]): Dataset[(K, B)] =
      ds.groupByKey(_._1)
        .mapGroups((k: K, it: Iterator[(K, V)]) => (k, it.foldLeft(zero)((b, kv) => seqOp(b, kv._2))))

    /** scio mapValues (typed). */
    def mapValuesTyped[W](f: V => W)(implicit kwe: Encoder[(K, W)]): Dataset[(K, W)] =
      ds.map { case (k, v) => (k, f(v)) }

    /** scio mapKeys (typed). */
    def mapKeysTyped[J](f: K => J)(implicit jve: Encoder[(J, V)]): Dataset[(J, V)] =
      ds.map { case (k, v) => (f(k), v) }

    /** scio filterValues: keep pairs whose value passes the predicate. */
    def filterValues(p: V => Boolean): Dataset[(K, V)] =
      ds.filter((kv: (K, V)) => p(kv._2))

    /** scio flatMapValues: expand each value, repeating the key. */
    def flatMapValuesTyped[W](f: V => IterableOnce[W])(
        implicit kwe: Encoder[(K, W)]): Dataset[(K, W)] =
      ds.flatMap { case (k, v) => f(v).iterator.map(w => (k, w)) }
  }

  /** PairSCollectionFunctions analogue on DataFrames with explicit
    * key columns — the dynamic-schema face of the API.
    */
  implicit class GraftFrameOps(private val df: DataFrame) extends AnyVal {

    def hashJoin(right: DataFrame, on: Column, how: String = "inner"): DataFrame =
      operators.Joins.hashJoin(df, right, on, how)

    def skewedJoin(right: DataFrame, keys: Seq[String], fanout: Int, how: String = "inner"): DataFrame =
      operators.Joins.skewedJoin(df, right, keys, fanout, how)

    /** scio's CMS-based skewedJoin: sketch-detected hot keys fan out,
      * cold keys take the plain join; the split is a map-side codegen
      * filter (see [[graft.operators.Joins.skewedJoinCms]]).
      */
    def skewedJoinCms(right: DataFrame, keys: Seq[String], fanout: Int,
                      how: String = "inner", hotKeyThreshold: Long = 9000L): DataFrame =
      operators.Joins.skewedJoinCms(df, right, keys, fanout, how, hotKeyThreshold)

    def sparseJoin(right: DataFrame, key: String, expectedRightKeys: Long = 1000000L): DataFrame =
      operators.Joins.sparseJoin(df, right, key, expectedRightKeys)

    def sparseLookup(right: DataFrame, key: String, rightVal: String,
                     expectedLeftKeys: Long = 1000000L): DataFrame =
      operators.Joins.sparseLookup(df, right, key, rightVal, expectedLeftKeys)

    def sparseIntersectByKey(right: DataFrame, key: String,
                             expectedRightKeys: Long = 1000000L): DataFrame =
      operators.Joins.sparseIntersectByKey(df, right, key, expectedRightKeys)

    def hashFilter(right: DataFrame, key: String): DataFrame =
      operators.Joins.hashFilter(df, right, key)

    /** Prefilter by a (possibly persisted) Bloom artifact — see
      * [[graft.hash.GraftBloom]] for build/write/read. No false
      * negatives; compose with an exact join downstream where
      * exactness is required.
      */
    def filterByBloom(key: String, bf: org.apache.spark.util.sketch.BloomFilter): DataFrame =
      _root_.graft.hash.GraftBloom.filterByBloom(df, key, bf)

    /** Exact complement: kept rows are GUARANTEED non-members. */
    def filterNotByBloom(key: String, bf: org.apache.spark.util.sketch.BloomFilter): DataFrame =
      _root_.graft.hash.GraftBloom.filterNotByBloom(df, key, bf)

    def intersectByKey(right: DataFrame, key: String): DataFrame =
      operators.Joins.semiJoin(df, right, key)

    def subtractByKey(right: DataFrame, key: String): DataFrame =
      operators.Joins.antiJoin(df, right, key)

    /** scio topByKey: per-key top-n without a global sort — a window
      * rank bounded per key; Catalyst runs it as one shuffle by key.
      */
    def topByKey(keyCols: Seq[String], n: Int, ordering: Column*): DataFrame = {
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordering: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n)
        .drop("__rn")
    }

    /** scio latestByKey: value of the most recent row per key. */
    def latestByKey(keyCols: Seq[String], tsCol: String, valueCol: String): DataFrame =
      df.groupBy(keyCols.map(col): _*)
        .agg(max_by(col(valueCol), col(tsCol)).as(s"latest_$valueCol"),
          max(col(tsCol)).as(s"max_$tsCol"))

    /** scio sampleByKey: per-key fractions via a seeded content hash —
      * deterministic across runs and partition layouts (duplicate rows
      * sample together, the price of layout independence). Keys absent
      * from `fractions` are dropped (scio semantics).
      */
    def sampleByKey(keyCol: String, fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
      val frac = map(fractions.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val u = pmod(xxhash64(df.columns.map(col) :+ lit(seed): _*), lit(1000000L))
        .cast("double") / 1000000.0
      df.filter(frac.getItem(col(keyCol)).isNotNull && u < frac.getItem(col(keyCol)))
    }

    /** scio swap for a 2-column frame. */
    def swapped: DataFrame = {
      require(df.columns.length == 2, "swap expects a 2-column (key, value) frame")
      df.select(col(df.columns(1)), col(df.columns(0)))
    }
  }
}
