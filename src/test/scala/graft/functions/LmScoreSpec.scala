package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("unigram matches hand arithmetic; atypical docs score higher") {
    val docs = Seq(
      (1L, "a a b"), // corpus-typical
      (2L, "a b"),
      (3L, "z")      // rare word -> highest nll
    ).toDF("doc_id", "text")
    // counts: a=3, b=2, z=1; T=6, V=3; denom = 6 + 1*(3+1) = 10
    def p(n: Long) = (n + 1.0) / 10.0
    val out = LmScore.unigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - (-(2 * math.log(p(3)) + math.log(p(2))) / 3)) < 1e-6)
    assert(math.abs(out(3L)._2 - (-math.log(p(1)))) < 1e-6)
    assert(out(3L)._2 > out(1L)._2 && out(3L)._2 > out(2L)._2)
  }

  test("token-less docs stay in the output, scoreless") {
    val docs = Seq((1L, "word word"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = LmScore.unigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.isNullAt(2)))).toMap
    assert(out(1L) == ((2L, false)))
    assert(out(2L) == ((0L, true)))
    assert(out(3L) == ((0L, true)))
  }

  test("alpha must be positive") {
    intercept[IllegalArgumentException](
      LmScore.unigram(Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text", alpha = 0.0))
  }

  test("bigram: word ORDER matters — same bag, scrambled order scores higher") {
    val docs = ((1L to 20L).map(i => (i, "alpha beta gamma delta")) :+
      (99L, "delta gamma beta alpha") :+   // same unigram bag, reversed order
      (100L, "single") :+ (101L, "")).toDF("doc_id", "text")
    val bi = LmScore.bigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(bi(1L)._1 == 3L)
    assert(bi(99L)._2.get > bi(1L)._2.get,
      "reversed word order must score worse than the corpus-typical order")
    // the unigram model cannot tell them apart (identical bags)
    val uni = LmScore.unigram(docs, "doc_id", "text")
      .collect().filterNot(_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(99L) == uni(1L))
    assert(bi(100L) == ((0L, None)), "single-token doc has no transitions, kept scoreless")
    assert(bi(101L) == ((0L, None)))
    intercept[IllegalArgumentException](
      LmScore.bigram(docs, "doc_id", "text", lambdaBi = 1.5))
  }

  test("perplexityBuckets: thirds by score, typical docs head, gibberish tail") {
    // 30 corpus-typical docs + 10 rare-vocabulary docs
    val docs = ((1 to 30).map(i => (i.toLong, "the cat sat on the mat")) ++
      (31 to 40).map(i => (i.toLong, s"zxqv$i wkjh$i")) :+
      (41L, "")).map { case (i, t) => (i, t) }.toDF("doc_id", "text")
    val out = LmScore.perplexityBuckets(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert((1L to 30L).forall(out(_) == "head"),
      "corpus-typical docs must land in head")
    assert((31L to 40L).forall(out(_) == "tail"),
      "rare-vocabulary docs must land in tail")
    assert(out(41L) == null, "token-less docs carry a null bucket")
    intercept[IllegalArgumentException](
      LmScore.perplexityBuckets(docs, "doc_id", "text", cuts = (0.8, 0.2)))
  }

  test("persisted unigram model: cross-corpus scores match the closed-form; OOV smoothed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_unilm").toFile
    val path = s"${dir.getAbsolutePath}/lm"
    // train corpus: "a" ×6, "b" ×3, "c" ×1 → T=10, V=3, denom = 10 + 1·4 = 14
    val train = Seq((1L, "a a a b b c"), (2L, "a a a b")).toDF("doc_id", "text")
    LmScore.saveUnigramModel(train, "doc_id", "text", path)
    val probe = Seq((10L, "a b"), (11L, "zz"), (12L, "")).toDF("doc_id", "text")
    val got = LmScore.scoreWithUnigramModel(probe, "doc_id", "text", path)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble // Spark round() semantics
    assert(got(10L)._1 == 2L)
    assert(got(10L)._2 == r6(-(math.log(7.0 / 14) + math.log(4.0 / 14)) / 2))
    assert(got(11L)._1 == 1L)
    assert(got(11L)._2 == r6(-math.log(1.0 / 14)), "OOV word takes the alpha mass")
    assert(got(12L)._1 == 0L && got(12L)._2.isNaN, "token-less doc kept scoreless")
    // scoring the training corpus against its own artifact == unigram()
    val self = LmScore.scoreWithUnigramModel(train, "doc_id", "text", path)
      .orderBy("id").collect().map(_.toString).toSeq
    val direct = LmScore.unigram(train, "doc_id", "text")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(self == direct)
    intercept[IllegalArgumentException](
      LmScore.scoreWithUnigramModel(probe, "doc_id", "text", dir.getAbsolutePath))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("_GRAFT_UNILM sidecar format is pinned: its bytes load, a save writes them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_unilm_meta").toFile
    // T=10, V=3 as in the closed-form test above
    val train = Seq((1L, "a a a b b c"), (2L, "a a a b")).toDF("doc_id", "text")
    LmScore.saveUnigramModel(train, "doc_id", "text", s"$dir/lm")
    val pinned = """{"totalTokens":10,"vocabSize":3}"""
    val sidecar = java.nio.file.Paths.get(s"$dir/lm/_GRAFT_UNILM")
    assert(java.nio.file.Files.readString(sidecar) == pinned)
    // the loaded T and V set the OOV mass α/(T + α(V+1)) = 1/14
    def oov(): Double = LmScore.scoreWithUnigramModel(Seq((1L, "zz")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/lm").collect()(0).getDouble(2)
    val formatted = "{ \"totalTokens\" : 10 ,\n\t\"vocabSize\" : 3 }\n"
    for (text <- Seq(pinned, formatted)) {
      java.nio.file.Files.deleteIfExists(sidecar.resolveSibling("._GRAFT_UNILM.crc"))
      java.nio.file.Files.writeString(sidecar, text)
      assert(oov() == BigDecimal(-math.log(1.0 / 14))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, text)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
