package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Trained byte-pair-encoding tokenizer (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the train-once-persist-reuse artifact shape a training-data
  * pipeline needs around token budgeting, and the reference reaches
  * through user code over scio verbs.
  *
  * Scale split, mirroring graft's IVF/Annoy/Voyager artifact
  * contract:
  *  - TRAINING reduces the corpus distributedly to a word-frequency
  *    table (groupBy word, map-side partial counts — the only pass
  *    over the full corpus), then iterates merges locally over that
  *    table. A natural-language vocabulary is bounded (millions of
  *    types against 100 TB of tokens), and `maxWords` caps the
  *    driver-side table by descending frequency — the tail it drops
  *    can contribute at most `minPairFreq`-failing pair counts, and
  *    the cap is DISCLOSED via the returned `truncated` flag, never
  *    silent.
  *  - ENCODING is fully distributed: the ordered merge list
  *    broadcasts (a few hundred KB), and each partition applies
  *    merges greedily per word with a per-partition word→pieces memo
  *    (real corpora repeat words constantly; the memo makes encode
  *    amortized O(1) per repeated word). mapPartitions is the right
  *    tool here — greedy iterative pair-merging is a loop over
  *    mutable word state, not a Catalyst expression.
  *
  * Training is deterministic: pair ties break lexicographically, so
  * the same corpus always yields byte-identical artifacts.
  */
object Bpe {

  /** End-of-word marker (classic BPE): distinguishes "est" inside a
    * word from "est</w>" closing one, so detokenization is exact.
    */
  val EndOfWord = "</w>"

  /** An ordered merge list; rank = position. `truncated` reports
    * whether the driver-side word table hit `maxWords` (cap
    * disclosure, not an error).
    */
  final case class Model(merges: Seq[(String, String)], truncated: Boolean) {
    /** rank lookup used by the encoder */
    @transient lazy val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
  }

  /** Train `numMerges` merges on the whitespace-token stream of
    * `textCol`. One distributed pass builds the word-frequency table;
    * the merge loop runs on the driver over at most `maxWords` rows.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minPairFreq: Long = 2L, maxWords: Int = 1000000): Model = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val counts = df
      .select(explode(tokens(coalesce(col(textCol), lit("")))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxWords + 1) // +1 sentinel: detect truncation without a second count
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val truncated = counts.length > maxWords
    val table = (if (truncated) counts.dropRight(1) else counts).toSeq
    Model(trainLocal(table, numMerges, minPairFreq), truncated)
  }

  /** The merge loop over a (word, freq) table — pure and local.
    * Stops early when no pair reaches `minPairFreq`.
    */
  private[pipeline] def trainLocal(table: Seq[(String, Long)], numMerges: Int,
                                   minPairFreq: Long): Seq[(String, String)] = {
    var words: Seq[(Vector[String], Long)] = table.map { case (w, n) =>
      (w.map(_.toString).toVector :+ EndOfWord, n)
    }
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val pairCounts = collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + n)
          j += 1
        }
      }
      val best = pairCounts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) } // deterministic tie-break
        .headOption.filter(_._2 >= minPairFreq)
      best match {
        case None => done = true
        case Some((pair, _)) =>
          merges += pair
          words = words.map { case (syms, n) => (mergePair(syms, pair), n) }
          i += 1
      }
    }
    merges.result()
  }

  private def mergePair(syms: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == pair._1 && syms(j + 1) == pair._2) {
        out += syms(j) + syms(j + 1); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Encode one word against a rank map: start from characters +
    * [[EndOfWord]], repeatedly merge the lowest-ranked adjacent pair.
    * Exactly the decode-side inverse of training, so a word seen in
    * training segments identically to how training left it.
    */
  private[pipeline] def encodeWord(w: String, rank: Map[(String, String), Int]): Seq[String] = {
    var syms = w.map(_.toString).toVector :+ EndOfWord
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < syms.length - 1) {
        rank.get((syms(j), syms(j + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestAt = j }
        }
        j += 1
      }
      if (bestAt < 0) continue = false
      else syms = (syms.take(bestAt) :+ (syms(bestAt) + syms(bestAt + 1))) ++ syms.drop(bestAt + 2)
    }
    syms
  }

  /** EXACTLY the [[graft.functions.TextFunctions.tokens]] contract,
    * replicated on the JVM side: SQL `trim` strips SPACES only (not
    * tabs/newlines — Java's String.trim would), and SQL `split` keeps
    * leading AND trailing empty tokens (Java's default split drops
    * trailing ones). Any divergence here silently breaks the
    * q_bpe_roundtrip detokenization invariant on whitespace-edged
    * text.
    */
  private[pipeline] def sqlTokens(t: String): Seq[String] = {
    var i = 0; var j = t.length
    while (i < j && t.charAt(i) == ' ') i += 1
    while (j > i && t.charAt(j - 1) == ' ') j -= 1
    t.substring(i, j).split("\\s+", -1).toSeq
  }

  private val IntegralTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(ByteType, ShortType, IntegerType, LongType)
  }

  /** Adds `pieces: array<string>` (per-token subword pieces, in token
    * order, each word closed by an [[EndOfWord]]-suffixed piece) and
    * `n_pieces: long`. The merge table broadcasts; each partition
    * memoizes word→pieces, so repeated words (the overwhelming bulk
    * of a real corpus) encode once per partition. `idCol` must be an
    * integral type (it rides the typed encode row as a long; re-key
    * string- or fractional-keyed corpora via
    * [[graft.operators.GlobalOrder.zipWithGlobalIndex]] first).
    */
  def encode(df: DataFrame, idCol: String, textCol: String, model: Model): DataFrame = {
    require(IntegralTypes.contains(df.schema(idCol).dataType),
      s"idCol '$idCol' must be an integral type for encode (fractional ids would " +
        "truncate and collide); zipWithGlobalIndex string-keyed corpora first")
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.rank)
    val rows = df.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rank = bc.value
        val memo = collection.mutable.Map.empty[String, Seq[String]]
        it.map { case (id, t) =>
          val pieces = sqlTokens(t)
            .flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, rank)))
          (id, pieces)
        }
      }
    rows.toDF("id", "pieces")
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** Persist the ordered merge list (one `left<TAB>right` line per
    * merge, rank = line number; header carries the truncation flag).
    * Temp + atomic rename (graft.util.Artifacts.write).
    */
  def save(spark: SparkSession, model: Model, path: String): Unit = {
    require(model.merges.forall { case (a, b) =>
      !a.contains("\t") && !a.contains("\n") && !b.contains("\t") && !b.contains("\n")
    }, "merge symbols must not contain tab/newline")
    val text = new StringBuilder(s"GBPE1\t${model.merges.size}\t${model.truncated}\n")
    model.merges.foreach { case (a, b) => text.append(s"$a\t$b\n") }
    graft.util.Artifacts.write(spark, path)(
      _.write(text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Load a model written by [[save]]; malformed files fail loudly. */
  def load(spark: SparkSession, path: String): Model =
    graft.util.Artifacts.read(spark, path) { is =>
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(is, java.nio.charset.StandardCharsets.UTF_8))
      val header = Option(in.readLine()).getOrElse(
        throw new IllegalArgumentException(s"$path: empty BPE model file"))
      val h = header.split("\t", -1)
      require(h.length == 3 && h(0) == "GBPE1", s"$path: not a GBPE1 model file")
      val n = h(1).toInt
      val merges = (0 until n).map { i =>
        val line = Option(in.readLine()).getOrElse(
          throw new IllegalArgumentException(s"$path: truncated at merge $i of $n"))
        val parts = line.split("\t", -1)
        require(parts.length == 2, s"$path: malformed merge line $i")
        (parts(0), parts(1))
      }
      Model(merges, h(2).toBoolean)
    }
}
