package graft.queries

import org.apache.spark.sql.functions._
import graft.syntax._
import graft.syntax.external._
import QueryDsl._

import scala.concurrent.Future

/** Oracle promotions for the core-syntax and external-service verbs
  * that previously leaned on specs alone (SURVEY §2 rows: take,
  * flatten, observe metrics, randomSplit, batch family,
  * partitionByKey, hashPartition, sampleByteSized, timestampBy,
  * saveAsZstdDictionary, and the whole `transforms` external-verb
  * family — DoFnWithResource, ParallelismDoFns, ScalaAsyncDoFn,
  * AsyncLookupDoFn, BaseAsyncBatchLookupDoFn, RateLimiterDoFn,
  * safeFlatMap, PipeDoFn; reference scio-core values/SCollection.scala
  * and transforms/).
  *
  * Design note — what an oracle can honestly gate here:
  *  - Deterministic verbs (take/flatten/observe/partition/timestampBy/
  *    pipe/resource/async/lookup) gate full output equivalence.
  *  - RNG-backed verbs (randomSplit, batch boundaries) gate their
  *    CONTRACT: disjoint + exhaustive roundtrip (any dropped or
  *    duplicated row flips the hash) with in-plan validation that
  *    drops rows loudly when a batch violates its bound.
  *  - sampleByteSized gates through its engine-reproducible ordered
  *    form ([[graft.syntax]] `sampleBytesOrdered`), exactly as
  *    `sampleSystematic` gates `sample`.
  */
object SyntaxQueries extends QueryPack {

  /** Run-scoped scratch (token shared with the other packs so one
    * Verify JVM = one scratch tree); old runs swept like IoQueries.
    */
  private def scratch(leaf: String): String = {
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(new java.io.File("/tmp/graft_ext").listFiles()).getOrElse(Array.empty)
      .filter(d => d.getName != QueryDsl.runToken && d.lastModified() < cutoff)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    val dir = new java.io.File(s"/tmp/graft_ext/${QueryDsl.runToken}")
    dir.mkdirs()
    dir.setLastModified(System.currentTimeMillis())
    s"${dir.getAbsolutePath}/$leaf"
  }

  override val queries: Map[String, Q] = Map(

    // take ↦ limit (with a total order so the taken set is defined).
    "q_take" -> { (s, dir) =>
      tables(s, dir).documents
        .orderBy(col("doc_id")).limit(50)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },

    // flatten: typed Dataset[Seq[String]] → Dataset[String] (the
    // `flattened` verb; q_flatmap gates the Column-level explode).
    "q_flatten" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).documents.filter(col("doc_id") < 5)
        .select(split(col("text"), " ").as("toks")).as[Seq[String]]
        .flattened
        .toDF("token")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("token"))
    },

    // counters/metrics: `observed` collects named metrics in the SAME
    // pass as the job (Spark observe — no second scan); the observed
    // values themselves are the oracle-checked output.
    "q_observe" -> { (s, dir) =>
      import s.implicits._
      val (df, obs) = tables(s, dir).lineitem.observed(
        "graft_obs_" + java.util.UUID.randomUUID().toString.replace("-", ""),
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty_raw"),
        count(when(col("l_discount") > 0.05, 1)).as("n_disc"))
      df.write.mode("overwrite").format("noop").save()
      val m = obs.get
      Seq((m("n").asInstanceOf[Long],
        BigDecimal(m("sum_qty_raw").asInstanceOf[Double])
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        m("n_disc").asInstanceOf[Long]))
        .toDF("n", "sum_qty", "n_disc")
    },

    // randomSplit contract: the splits are disjoint AND exhaustive —
    // the union must reproduce the source exactly (a dropped or
    // double-assigned row flips the hash). Split sizes are RNG-bound
    // and stay spec-gated (CoreSyntaxSpec).
    "q_random_split" -> { (s, dir) =>
      tables(s, dir).customer
        .select(col("c_custkey"), col("c_nationkey"))
        .randomSplit(Array(0.3, 0.3, 0.4), 42L)
        .reduce(_ union _)
        .orderBy(col("c_custkey"))
    },

    // batchByteSized contract: every batch within the byte bound
    // (oversized singletons travel alone) and the batches partition
    // the input — validation happens IN the plan (a violating batch
    // drops its rows → hash mismatch), then the roundtrip must
    // reproduce the source.
    "q_batch_bytes" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).documents
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .batchedBytes(10000L)(_._2)
        .flatMap { b =>
          val ok = b.nonEmpty && (b.map(_._2).sum <= 10000L || b.size == 1)
          if (ok) b else Nil
        }
        .toDF("doc_id", "n_chars")
        .orderBy(col("doc_id"))
    },

    // batchWeightedByKey contract: per-key batches (all elements carry
    // the batch's key), weight-bounded, and the keyed roundtrip
    // reproduces the source.
    "q_batch_by_key" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).documents
        .select(col("lang"), col("doc_id"), col("n_chars")).as[(String, Long, Long)]
        .batchedWeightedByKey(8000L)(_._1)(_._3)
        .flatMap { case (k, b) =>
          val ok = b.nonEmpty && b.forall(_._1 == k) &&
            (b.map(_._3).sum <= 8000L || b.size == 1)
          if (ok) b.map(t => (k, t._2)) else Nil
        }
        .toDF("lang", "doc_id")
        .orderBy(col("doc_id"))
    },

    // partitionByKey: one frame per listed key value over a shared
    // plan; unlisted keys appear in none.
    "q_partition_values" -> { (s, dir) =>
      val frames = tables(s, dir).documents.partitionByValues("lang", Seq("en", "de"))
      frames("en").select(lit("en").as("frame"), col("doc_id"))
        .union(frames("de").select(lit("de").as("frame"), col("doc_id")))
        .orderBy(col("frame"), col("doc_id"))
    },

    // hashPartition contract: n disjoint frames that exactly cover the
    // input (assignment is Spark's hash — engine-specific — but
    // coverage is not).
    "q_hash_partition" -> { (s, dir) =>
      tables(s, dir).orders.filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"), col("o_custkey"))
        .hashPartitions(4, col("o_orderkey"))
        .reduce(_ union _)
        .orderBy(col("o_orderkey"))
    },

    // timestampBy/withTimestamp: event-time reassignment as integer-µs
    // arithmetic (engine-exact), formatted for the compare.
    "q_timestamp_assign" -> { (s, dir) =>
      tables(s, dir).events.filter(col("event_id") < 2000)
        .select(col("event_id"),
          date_format(
            timestamp_micros(unix_micros(col("ts")) + pmod(col("user_id"), lit(60)) * 1000000L),
            "yyyy-MM-dd HH:mm:ss").as("shifted_ts"))
        .orderBy(col("event_id"))
    },

    // sampleByteSized through its deterministic ordered form: rows
    // ranked by an md5-derived key, kept while the running byte total
    // fits the budget (balanced prefix sums — no corpus-wide window).
    "q_sample_bytes" -> { (s, dir) =>
      tables(s, dir).documents
        .withColumn("__ord",
          conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10).cast("long"))
        .sampleBytesOrdered(50000L, col("n_chars"), "__ord")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // saveAsZstdDictionary on the critical path: train the dictionary,
    // then dictionary-compress AND decompress every doc in-cluster —
    // the oracle sees the decompressed content (any training/codec
    // corruption flips the hash).
    "q_zstd_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val docs = tables(s, dir).documents.filter(col("doc_id") < 300)
      val dictPath = scratch("dict.zstd")
      graft.sources.Sources.saveAsZstdDictionary(
        docs.select(col("text")), "text", dictPath,
        dictSizeBytes = 16 * 1024, maxTrainingBytes = 4L * 1024 * 1024)
      val dict = graft.util.Artifacts.readBytes(s, dictPath)
      val bc = s.sparkContext.broadcast(dict)
      docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val zc = new com.github.luben.zstd.ZstdDictCompress(bc.value, 3)
          val zd = new com.github.luben.zstd.ZstdDictDecompress(bc.value)
          it.map { case (id, text) =>
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val packed = com.github.luben.zstd.Zstd.compress(raw, zc)
            val back = com.github.luben.zstd.Zstd.decompress(packed, zd, raw.length)
            (id, new String(back, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
        .toDF("doc_id", "text_rt")
        .select(col("doc_id"), md5(col("text_rt")).as("h"))
        .orderBy(col("doc_id"))
    },

    // sampleByKey at its deterministic extremes (the skewedJoin
    // threshold-extremes precedent): fraction 1.0 keeps every row of
    // the key, 0.0 and UNLISTED keys drop all — u ∈ [0,1) makes both
    // bounds exact, so the output is a pure filter the oracle
    // reproduces. Mid-fraction behavior stays spec-gated.
    "q_sample_by_key" -> { (s, dir) =>
      tables(s, dir).documents
        .sampleByKey("lang", Map("en" -> 1.0, "de" -> 0.0))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // sampleWeighted at its deterministic extreme: n >= corpus size
    // means the reservoir IS the input minus the contract exclusions
    // (non-positive/NaN weights) — the exclusion filter is the
    // oracle-checkable core. Sub-n draws stay spec-gated (RNG).
    "q_sample_weighted" -> { (s, dir) =>
      tables(s, dir).documents
        .withColumn("w", col("n_chars").cast("double") - 300.0)
        .sampleWeighted(1000000, "w")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // debug/tap/materialize: localCheckpoint on the critical path must
    // preserve content exactly (the materialized plan re-reads
    // checkpoint files, not the source).
    "q_materialize" -> { (s, dir) =>
      tables(s, dir).orders
        .filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"), r2(col("o_totalprice")).as("total"))
        .localCheckpoint()
        .orderBy(col("o_orderkey"))
    },

    // PipeDoFn: partition lines through a real subprocess (`tr`,
    // ASCII-safe input by construction), parsed back and compared.
    "q_ext_pipe" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).documents.filter(col("doc_id") < 200)
        .select(concat_ws(" ", col("doc_id"), md5(col("text"))).as("line")).as[String]
        .pipe(Seq("tr", "a-z", "A-Z"))
        .map { l => val Array(a, b) = l.split(" "); (a.toLong, b) }
        .toDF("doc_id", "h")
        .orderBy(col("doc_id"))
    },

    // DoFnWithResource: a per-task MessageDigest reused across the
    // partition; the digests are the oracle-checked output.
    "q_ext_resource" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapWithResource(
          () => java.security.MessageDigest.getInstance("SHA-256"),
          (_: java.security.MessageDigest) => ()) { (mdr, t) =>
          mdr.reset()
          val d = mdr.digest(t._2.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (t._1, d.map("%02x".format(_)).mkString)
        }
        .toDF("doc_id", "sha")
        .orderBy(col("doc_id"))
    },

    // mapWithParallelism: bounded in-task concurrency, order/count
    // preserved — every row must come back exactly once, transformed.
    "q_ext_parallelism" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).documents.filter(col("doc_id") < 400)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapWithParallelism(8)(t => (t._1, t._2.split(" ").length.toLong))
        .toDF("doc_id", "n_tokens")
        .orderBy(col("doc_id"))
    },

    // ScalaAsyncDoFn/mapAsync: caller-supplied Futures under the
    // bounded window.
    "q_ext_async" -> { (s, dir) =>
      import s.implicits._
      import scala.concurrent.ExecutionContext.Implicits.global
      tables(s, dir).documents.filter(col("doc_id") < 400)
        .select(col("doc_id"), md5(col("text")).as("h")).as[(Long, String)]
        .mapAsync(4)(t => Future((t._1, t._2.reverse)))
        .toDF("doc_id", "rev_h")
        .orderBy(col("doc_id"))
    },

    // AsyncLookupDoFn/lookupWithCache: keyed lookup memoized per task
    // (25 nation keys over ~1.5k customers → cache-hit dominated);
    // the looked-up values are oracle arithmetic.
    "q_ext_lookup" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).customer
        .select(col("c_custkey"), col("c_nationkey").cast("long")).as[(Long, Long)]
        .lookupWithCache(8)(_._2)(k => k * k + 7L)
        .map { case ((ck, nk), v) => (ck, nk, v) }
        .toDF("c_custkey", "c_nationkey", "v")
        .orderBy(col("c_custkey"))
    },

    // BaseAsyncBatchLookupDoFn: batched distinct-key lookups with a
    // deliberately partial response map — matched keys fan back out,
    // unmatched keys carry the UnmatchedRequest error, both
    // oracle-reconstructed.
    "q_ext_batch_lookup" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).orders.filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_custkey")).as[(Long, Long)]
        .asyncBatchLookup(16, maxPending = 2, maxCacheEntries = 32)(_._2) { keys =>
          Future.successful(keys.filter(_ % 5 != 0L).map(k => k -> (k * 3 + 1)).toMap)
        }
        .map { case ((ok, ck), vOpt, eOpt) =>
          (ok, ck, vOpt.getOrElse(-1L), eOpt.getOrElse(""))
        }
        .toDF("o_orderkey", "o_custkey", "v", "err")
        .orderBy(col("o_orderkey"))
    },

    // safeFlatMap/safeMap: poison records route to the error output
    // with the thrown reason; successes transform normally. Both
    // sides oracle-reconstructed (the message is deterministic).
    "q_ext_safe" -> { (s, dir) =>
      import s.implicits._
      val src = tables(s, dir).orders.filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_totalprice")).as[(Long, Double)]
      val (ok, err) = src.safeMap { t =>
        require(t._2 <= 300000.0, "poison")
        (t._1, t._2 * 2.0)
      }
      ok.map(t => ("ok", t._1, t._2, ""))
        .union(err.map { case ((k, _), m) => ("err", k, -1.0, m) })
        .toDF("side", "o_orderkey", "v", "msg")
        .orderBy(col("o_orderkey"))
    },

    // RateLimiterDoFn: pacing must be a pure pass-through — content
    // identity is the oracle; the elapsed-time bound stays in
    // ExternalSpec.
    "q_ext_rate" -> { (s, dir) =>
      import s.implicits._
      tables(s, dir).nation
        .select(col("n_nationkey").cast("long"), col("n_name")).as[(Long, String)]
        .rateLimited(5000.0)
        .toDF("n_nationkey", "n_name")
        .orderBy(col("n_nationkey"))
    }
  )

  override val oracles: Map[String, String] = Map(
    "q_take" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id LIMIT 50""".stripMargin,
    "q_flatten" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id < 5)
        |GROUP BY token ORDER BY token""".stripMargin,
    "q_observe" ->
      """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
        |  count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_disc
        |FROM lineitem""".stripMargin,
    "q_random_split" ->
      """SELECT c_custkey, c_nationkey FROM customer ORDER BY c_custkey""",
    // CAST: the typed (Long, Long) roundtrip emits BIGINT even where a
    // scaled corpus stores n_chars as INTEGER (the sf1 tree does).
    "q_batch_bytes" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_batch_by_key" ->
      """SELECT lang, doc_id FROM documents ORDER BY doc_id""",
    "q_partition_values" ->
      """SELECT 'en' AS frame, doc_id FROM documents WHERE lang = 'en'
        |UNION ALL
        |SELECT 'de' AS frame, doc_id FROM documents WHERE lang = 'de'
        |ORDER BY frame, doc_id""".stripMargin,
    "q_hash_partition" ->
      """SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 5000
        |ORDER BY o_orderkey""".stripMargin,
    "q_timestamp_assign" ->
      """SELECT event_id,
        |  strftime(make_timestamp(epoch_us(ts) + (user_id % 60) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS shifted_ts
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,
    "q_sample_bytes" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    sum(n_chars) OVER (ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS cum
        |  FROM documents)
        |WHERE cum <= 50000 ORDER BY doc_id""".stripMargin,
    "q_zstd_roundtrip" ->
      """SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin,
    "q_sample_by_key" ->
      """SELECT doc_id, lang FROM documents WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin,
    "q_sample_weighted" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(n_chars AS DOUBLE) - 300.0 > 0.0
        |ORDER BY doc_id""".stripMargin,
    "q_materialize" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total
        |FROM orders WHERE o_orderkey < 5000 ORDER BY o_orderkey""".stripMargin,
    "q_ext_pipe" ->
      """SELECT doc_id, upper(md5(text)) AS h FROM documents WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin,
    "q_ext_resource" ->
      """SELECT doc_id, sha256(text) AS sha FROM documents WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin,
    "q_ext_parallelism" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,
    "q_ext_async" ->
      """SELECT doc_id, reverse(md5(text)) AS rev_h
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,
    "q_ext_lookup" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(c_nationkey AS BIGINT) * c_nationkey + 7 AS v
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_ext_batch_lookup" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_custkey % 5 = 0 THEN -1 ELSE o_custkey * 3 + 1 END AS v,
        |  CASE WHEN o_custkey % 5 = 0
        |    THEN 'UnmatchedRequest: no value for key ' || o_custkey ELSE '' END AS err
        |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin,
    "q_ext_safe" ->
      """SELECT CASE WHEN o_totalprice <= 300000.0 THEN 'ok' ELSE 'err' END AS side,
        |  o_orderkey,
        |  CASE WHEN o_totalprice <= 300000.0 THEN o_totalprice * 2.0 ELSE -1.0 END AS v,
        |  CASE WHEN o_totalprice <= 300000.0 THEN ''
        |    ELSE 'java.lang.IllegalArgumentException: requirement failed: poison' END AS msg
        |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin,
    "q_ext_rate" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
        |FROM nation ORDER BY n_nationkey""".stripMargin
  )
}
