package graft.tools

import com.fasterxml.jackson.databind.JsonNode

/** Calibrated cross-round bench comparison (SCALING.md "Calibration"):
  * turns the round-over-round drift adjudication from forensic prose
  * into arithmetic. Three consecutive rounds of ambient shared-VM
  * drift (r12–r14, 10–28% with zero code cause) had to be adjudicated
  * by hand from untouched-query deltas; since r14 every bench artifact
  * carries a fixed-work CPU calibration probe, so the comparison is
  * now a division:
  *
  *   norm_ratio(q) = (cur_q / ref_q) · (calib_multi(ref) / calib_multi(cur))
  *
  * — the residual after the machine's measured speed change is divided
  * out. |norm − 1| > threshold flags a query for a code/plan
  * explanation; everything else is drift by measurement.
  *
  *   runMain graft.tools.BenchCompare <refBench.json> <curBench.json> [threshold]
  *
  * Prints ONE JSON line (per-query raw and normalized ratios off the
  * min-of-reps samples — the low-noise bound both verdicts used — plus
  * the suite-total ratio off the medians). calib_multi is min(pre,
  * post): the probe is fixed work, so every deviation above the true
  * time is interference by construction. Refuses artifacts without a
  * probe (pre-r14) — those comparisons stay prose, by construction.
  */
object BenchCompare {

  /** A recording whose bw probe moved more than this pre→post is
    * CONTENDED — the memory subsystem changed mid-run, and neither its
    * raw nor its normalized ratios should be read as a baseline.
    * Empirical placement: the r15 idle recording's spread was 1.01,
    * the mildly-loaded sf1 one 1.22, and the recording the verdict
    * adjudicated as contended (sf10, 0.0224→0.0340) 1.52.
    */
  val BwSpreadBound = 1.25

  private def calibMulti(env: JsonNode, path: String): Double = {
    require(env != null && env.has("calib_multi_pre") && env.has("calib_multi_post"),
      s"$path carries no calibration probe (pre-r14 artifact?) — " +
        "cross-round normalization needs calib_multi_pre/post in env")
    math.min(env.get("calib_multi_pre").asDouble, env.get("calib_multi_post").asDouble)
  }

  private def queryMap(node: JsonNode, field: String): Map[String, Double] = {
    val qs = node.get(field)
    require(qs != null, s"artifact has no '$field' block")
    val it = qs.fields()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asDouble) }
    b.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchCompare <refBench.json> <curBench.json> [flagThreshold=0.10]")
    val threshold = if (args.length > 2) args(2).toDouble else 0.10
    println(compare(args(0), args(1), threshold))
  }

  /** The comparison as one JSON line (separated from main so the spec
    * can pin the normalization arithmetic on synthetic artifacts).
    */
  def compare(refPath: String, curPath: String, threshold: Double = 0.10): String = {
    val ref = graft.util.Artifacts.json.readTree(new java.io.File(refPath))
    val cur = graft.util.Artifacts.json.readTree(new java.io.File(curPath))
    val calibRef = calibMulti(ref.get("env"), refPath)
    val calibCur = calibMulti(cur.get("env"), curPath)
    // machine speed change, measured: >1 means the current machine is
    // FASTER than the reference recording's
    val calibRatio = calibRef / calibCur
    val refMin = queryMap(ref, "queries_min")
    val curMin = queryMap(cur, "queries_min")
    // medians ride along: a min is the low-noise bound under
    // INTERFERENCE, but it can also be a lucky pass — a recording
    // whose mins sit far under its own medians had high within-run
    // variance, and min-vs-min comparison against a stable recording
    // then reads as a phantom regression. Emitting both lets the
    // reader (and the flag explanation) separate the two.
    val refMed = queryMap(ref, "queries")
    val curMed = queryMap(cur, "queries")
    val shared = (refMin.keySet & curMin.keySet).toSeq.sorted
    val perQuery = shared.map { q =>
      val raw = curMin(q) / refMin(q)
      val normMed = (for { r <- refMed.get(q); c <- curMed.get(q) }
        yield c / r * calibRatio).getOrElse(Double.NaN)
      (q, refMin(q), curMin(q), raw, raw * calibRatio, normMed)
    }
    val flagged = perQuery.filter { case (_, _, _, _, norm, _) =>
      math.abs(norm - 1.0) > threshold
    }
    val totalRef = ref.get("value").asDouble
    val totalCur = cur.get("value").asDouble
    val totalRaw = totalCur / totalRef
    val qJson = perQuery.map { case (q, r, c, raw, norm, normMed) =>
      val med = if (normMed.isNaN) "null" else f"$normMed%.3f"
      f""""$q":{"ref":$r%.3f,"cur":$c%.3f,"raw":$raw%.3f,"norm":$norm%.3f,"norm_med":$med%s}"""
    }.mkString("{", ",", "}")
    val fJson = flagged.map { case (q, _, _, _, norm, _) =>
      f""""$q":$norm%.3f"""
    }.mkString("{", ",", "}")
    val dropped = ((refMin.keySet | curMin.keySet) -- shared).toSeq.sorted
    // paths are caller-supplied: a backslash or quote in one would
    // make the emitted line unparseable JSON
    def esc(p: String): String =
      p.replace("\\", "\\\\").replace("\"", "\\\"")
    val (refE, curE) = (esc(refPath), esc(curPath))
    // bandwidth dial (r15+ artifacts), CONSUMED since r16: the r15
    // same-session A/B proved the residual ±7-23% drift is
    // memory-bandwidth class (ALU calib flat while bw moved), so the
    // comparison now (a) self-rejects CONTENDED recordings — a bw
    // pre→post spread past BwSpreadBound means the memory subsystem
    // moved mid-run and the artifact is not a comparison baseline (the
    // r15 sf10 case: 0.0224→0.0340, spread 1.52) — and (b) emits the
    // bw-normalized total alongside the ALU-normalized one. The ALU
    // ratio stays the headline divisor (queries are mostly
    // compute-bound); bw_norm bounds the bandwidth-class residual.
    // Thread counts must match for bw comparability — the probe is
    // fixed work PER THREAD, and a heap-capped recording (see
    // Bench.Calib.BwThreads) runs fewer.
    def bwOf(env: JsonNode): Option[(Double, Double)] =
      if (env != null && env.has("calib_bw_pre") && env.has("calib_bw_post")) {
        val (a, b) = (env.get("calib_bw_pre").asDouble, env.get("calib_bw_post").asDouble)
        Some((math.min(a, b), math.max(a, b) / math.min(a, b)))
      } else None
    def bwThreads(env: JsonNode): Option[Int] =
      if (env != null && env.has("calib_bw_threads"))
        Some(env.get("calib_bw_threads").asInt)
      else None
    val (bwJson, bwRatioOpt) = (bwOf(ref.get("env")), bwOf(cur.get("env"))) match {
      case (Some((a, spreadA)), Some((b, spreadB))) =>
        val threadsMatch = (bwThreads(ref.get("env")), bwThreads(cur.get("env"))) match {
          case (Some(ta), Some(tb)) => ta == tb
          case _ => true // pre-threads-stamp artifacts: assume same host class
        }
        val contended = spreadA > BwSpreadBound || spreadB > BwSpreadBound
        val comparable = threadsMatch && !contended
        val ratio = a / b
        (f""""calib_bw_ref":$a%.4f,"calib_bw_cur":$b%.4f,""" +
          f""""bw_spread_ref":$spreadA%.3f,"bw_spread_cur":$spreadB%.3f,""" +
          f""""bw_spread_bound":$BwSpreadBound%.2f,""" +
          s""""bw_contended_ref":${spreadA > BwSpreadBound},""" +
          s""""bw_contended_cur":${spreadB > BwSpreadBound},""" +
          s""""bw_threads_match":$threadsMatch,""" +
          f""""bw_ratio":$ratio%.4f,"bw_comparable":$comparable%b,""",
          if (comparable) Some(ratio) else None)
      case _ => ("", None)
    }
    val bwNormJson = bwRatioOpt
      .map(r => f""""total_bw_norm_ratio":${totalRaw * r}%.4f,""").getOrElse("")
    (f"""{"metric":"bench_compare","ref":"$refE%s","cur":"$curE%s",""" +
      f""""calib_multi_ref":$calibRef%.3f,"calib_multi_cur":$calibCur%.3f,""" +
      f""""calib_ratio":$calibRatio%.4f,""" + bwJson +
      f""""total_ref":$totalRef%.3f,"total_cur":$totalCur%.3f,""" +
      f""""total_raw_ratio":$totalRaw%.4f,"total_norm_ratio":${totalRaw * calibRatio}%.4f,""" +
      bwNormJson +
      s""""threshold":$threshold,"queries":$qJson,"flagged":$fJson,""" +
      s""""not_in_both":${dropped.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
  }
}
