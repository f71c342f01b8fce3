package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextFunctions.tokens
import graft.util.Artifacts

/** Corpus-LM quality scoring (the CCNet recipe, unigram form): score
  * each document by its mean negative log-probability under a
  * Laplace-smoothed unigram model TRAINED ON THE CORPUS ITSELF —
  * documents whose word distribution diverges from the corpus (spam,
  * gibberish, wrong-language fragments) score high and get filtered
  * or bucketed (CCNet's head/middle/tail split).
  *
  * p(w) = (n_w + α) / (T + α(V + 1)), with the +1 pooling every
  * unseen word into one OOV bucket — well-defined on docs the model
  * never saw (the score is also usable cross-corpus: train once,
  * score a different crawl).
  *
  * Scale shape mirrors [[Tfidf]]: one (doc, term) explode with
  * map-side partial counts for training; scoring joins doc-term rows
  * back against the vocabulary-sized count table (AQE broadcasts it)
  * and aggregates per doc. Corpus constants T and V come from one
  * two-number agg to the driver.
  */
object LmScore {

  /** Per-doc unigram score: (id, n_tokens, avg_nll) where avg_nll =
    * −(1/n)·Σ ln p(wᵢ) — lower is more corpus-typical. Rounded to
    * 6 dp (sum order across engines differs in the last ulps).
    */
  def unigram(df: DataFrame, idCol: String, textCol: String,
              alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val terms = df
      .select(col(idCol).as("id"),
        explode(tokens(coalesce(col(textCol), lit("")))).as("term"))
      .filter(length(col("term")) > 0)
    val vocab = terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
    val Array(t, v) = vocab.agg(sum(col("n")), count(lit(1)))
      .collect()(0).toSeq.map(x => Option(x).map(_.toString.toLong).getOrElse(0L)).toArray
    val denom = t + alpha * (v + 1)
    val scored = terms
      .join(vocab, Seq("term")) // self-trained: every term is in-vocab
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(-avg(log((col("n") + alpha) / denom)), 6).as("avg_nll"))
    // token-less docs are exactly what a quality filter must see:
    // keep them, scoreless (null avg_nll), instead of dropping them
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_nll"))
  }

  /** Interpolated bigram score — the stronger corpus-LM signal (the
    * published pipelines use n-gram KenLM models; this is the honest
    * distributed 2-gram form): per-transition probability
    * λ·p_bi(w2|w1) + (1−λ)·p_uni(w2) with add-α smoothing on both
    * components, per-doc mean negative log over the doc's
    * transitions. Repetitive/garbled word ORDER scores high even when
    * the unigram bag looks corpus-typical. Docs with fewer than two
    * tokens have no transitions: kept, scoreless (null avg_nll).
    *
    * Scale shape: one narrow (id, w1, w2) transition explode; bigram,
    * context, and unigram count tables are vocabulary-sized
    * join-backs (AQE broadcasts them); corpus constants from one
    * two-number agg.
    */
  def bigram(df: DataFrame, idCol: String, textCol: String,
             lambdaBi: Double = 0.7, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    require(lambdaBi >= 0 && lambdaBi <= 1, s"lambdaBi must be in [0,1], got $lambdaBi")
    val toks = filter(tokens(coalesce(col(textCol), lit(""))), w => length(w) > 0)
    val trans = df
      .select(col(idCol).as("id"),
        explode(when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("t"))
      .select(col("id"), col("t.w1").as("w1"), col("t.w2").as("w2"))
    val uniTerms = df
      .select(col(idCol).as("id"), explode(toks).as("term"))
    val vocab = uniTerms.groupBy(col("term")).agg(count(lit(1)).as("n"))
    val Array(t, v) = vocab.agg(sum(col("n")), count(lit(1)))
      .collect()(0).toSeq.map(x => Option(x).map(_.toString.toLong).getOrElse(0L)).toArray
    val uniDenom = t + alpha * (v + 1)
    val biCounts = trans.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
    val ctxCounts = trans.groupBy(col("w1")).agg(count(lit(1)).as("nc"))
    val pBi = (col("nb") + alpha) / (col("nc") + lit(alpha) * (v + 1))
    val pUni = (col("n") + alpha) / uniDenom
    val scored = trans
      .join(biCounts, Seq("w1", "w2"))
      .join(ctxCounts, Seq("w1"))
      .join(vocab.select(col("term").as("w2"), col("n")), Seq("w2"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_transitions"),
        round(-avg(log(lit(lambdaBi) * pBi + lit(1.0 - lambdaBi) * pUni)), 6)
          .as("avg_nll"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_transitions"), lit(0L)).as("n_transitions"),
        col("avg_nll"))
  }

  /** CCNet's head/middle/tail corpus split: bucket each doc by where
    * its [[unigram]] score falls against exact score percentiles
    * (default thirds) — "head" is the most corpus-typical third, the
    * slice CCNet feeds to training first. Returns (id, n_tokens,
    * avg_nll, bucket); token-less docs carry a null score and a null
    * bucket (kept, disclosed — dropping is the caller's filter).
    *
    * Scale shape: scoring as in [[unigram]]; the two thresholds are
    * ONE exact-percentile agg broadcast back as a 1-row frame (the
    * [[graft.operators.Drift]] boundary pattern) — no sort of the
    * corpus, no driver collect of data.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        cuts: (Double, Double) = (1.0 / 3, 2.0 / 3),
                        alpha: Double = 1.0): DataFrame = {
    require(cuts._1 > 0 && cuts._2 < 1 && cuts._1 < cuts._2,
      s"need 0 < cut1 < cut2 < 1, got $cuts")
    val scored = unigram(df, idCol, textCol, alpha)
    val th = broadcast(scored.filter(col("avg_nll").isNotNull)
      .agg(percentile(col("avg_nll"), lit(cuts._1)).as("__t1"),
        percentile(col("avg_nll"), lit(cuts._2)).as("__t2")))
    scored.crossJoin(th)
      .select(col("id"), col("n_tokens"), col("avg_nll"),
        when(col("avg_nll").isNull, lit(null).cast("string"))
          .when(col("avg_nll") <= col("__t1"), "head")
          .when(col("avg_nll") <= col("__t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  // ------------------------------------------------------------------
  // Persisted corpus-LM artifact: train once on the historical corpus,
  // score every future crawl against it (the cross-corpus use the
  // p(w) docstring above promises, made a first-class artifact like
  // GraftBloom/GraftCms/the MinHash index).
  // ------------------------------------------------------------------

  private val UnigramMeta = "_GRAFT_UNILM"

  /** Train the Laplace-smoothable unigram counts on `df` and persist
    * them at `path`: `vocab/` parquet (term, n) + a sidecar pinning
    * total tokens T and vocabulary size V (so scoring never rescans
    * the artifact for constants). α is a SCORE-time knob — the
    * artifact stores raw counts.
    */
  def saveUnigramModel(df: DataFrame, idCol: String, textCol: String,
                       path: String): Unit = {
    val spark = df.sparkSession
    val vocab = df
      .select(explode(tokens(coalesce(col(textCol), lit("")))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    vocab.write.mode("overwrite").parquet(s"$path/vocab")
    val Array(t, v) = spark.read.parquet(s"$path/vocab")
      .agg(sum(col("n")), count(lit(1)))
      .collect()(0).toSeq.map(x => Option(x).map(_.toString.toLong).getOrElse(0L)).toArray
    Artifacts.writeJson(spark, s"$path/$UnigramMeta",
      Artifacts.json.createObjectNode().put("totalTokens", t).put("vocabSize", v))
  }

  /** Score ANY crawl against a persisted unigram model: same
    * (id, n_tokens, avg_nll) contract as [[unigram]], but p(w) comes
    * from the artifact's counts — out-of-vocabulary words take the
    * smoothed OOV mass α/(T + α(V+1)) instead of being impossible.
    * Scale shape: the crawl's (doc, term) rows LEFT-join the
    * vocabulary-sized count table (AQE broadcasts it when small);
    * the model corpus itself is never touched.
    */
  def scoreWithUnigramModel(df: DataFrame, idCol: String, textCol: String,
                            modelPath: String, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val spark = df.sparkSession
    def malformed(raw: Any) = s"malformed $UnigramMeta sidecar at $modelPath: $raw"
    val n = Artifacts.readJson(spark, s"$modelPath/$UnigramMeta",
      s"$modelPath is not a graft unigram-LM artifact (no $UnigramMeta sidecar)",
      malformed("not JSON"))
    def field(name: String): Long = Artifacts.field(n, name, malformed(n))(v =>
      v.isIntegralNumber && v.canConvertToLong && v.longValue >= 0).longValue
    val denom = field("totalTokens") + alpha * (field("vocabSize") + 1)
    val vocab = spark.read.parquet(s"$modelPath/vocab")
    val terms = df
      .select(col(idCol).as("id"),
        explode(tokens(coalesce(col(textCol), lit("")))).as("term"))
      .filter(length(col("term")) > 0)
    val scored = terms
      .join(vocab, Seq("term"), "left") // OOV keeps the row, n = null
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(-avg(log((coalesce(col("n"), lit(0L)) + alpha) / denom)), 6).as("avg_nll"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_nll"))
  }
}
