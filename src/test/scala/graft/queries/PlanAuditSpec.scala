package graft.queries

import graft.SparkSpec

/** Physical-plan regression guards for the headline suite: these pin
  * the PLAN SHAPE the 100 TB contract depends on, so a refactor that
  * silently drops a broadcast, un-pushes a filter, or breaks partial
  * aggregation fails here — not in a cluster bill. Asserted on the
  * executed plan against the sf0.001 test data.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q1_pricing: shipdate filter reaches the parquet scan; aggregation is partial") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate not pushed to scan:\n$p")
    assert(p.contains("HashAggregate(keys=") && p.contains("partial_"),
      s"no partial (map-side) aggregation:\n$p")
  }

  test("q3_shipping: dimension join broadcasts; fact filters pushed") {
    val p = plan("q3_shipping")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q3:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem filter not pushed:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      s"customer segment filter not pushed:\n$p")
  }

  test("q5_local_supplier: region/nation broadcast; no cartesian anywhere") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q5:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q5 planned a product join:\n$p")
  }

  test("scans prune to referenced columns only (no SELECT * reads)") {
    // q1 touches 7 lineitem columns; the scan schema must not carry
    // the full 16-column table (ReadSchema parsed from the FORMATTED
    // explain — the compact plan string truncates scan details and
    // the AQE wrapper hides the scan node from plan.collect)
    val p = graft.SparkEntry.queries("q1_pricing")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .getOrElse(fail(s"no ReadSchema in plan:\n$p")).group(1)
    val cols = read.split(",").map(_.split(":").head.trim).toSet
    assert(cols.size <= 8, s"q1 scan reads too many columns: $cols")
    assert(!cols.contains("l_comment") && !cols.contains("l_partkey"))
  }

  test("q_embed_algebra: the vector verbs fuse into projections — no UDF, no extra exchange") {
    val p = plan("q_embed_algebra")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"vector algebra left codegen:\n$p")
    // one equi-join + final sort: nothing about elementwise algebra
    // may introduce additional shuffles
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 3, s"too many exchanges for a projection-only query:\n$p")
  }

  test("q_io_protobuf: the decode pipeline is shuffle-free (scan → decode → agg)") {
    // the read side: splittable avro scan + per-partition proto decode
    // must reach the partial aggregation without any exchange besides
    // the aggregation's own
    val df = graft.SparkEntry.queries("q_io_protobuf")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"proto decode planned as a UDF:\n$p")
  }

  test("q_window_session: ONE hash shuffle serves both window functions and the session agg") {
    // lag + running sum partition by user_id; the groupBy(user_id,
    // sess_id) clusters on a superset, so the window's partitioning
    // must be reused — a second hash exchange means sessionization
    // shuffles the events twice at 100 TB
    val p = plan("q_window_session")
    assert(p.contains("Window"), s"no window operator:\n$p")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s"session agg re-shuffled the window output:\n$p")
  }

  test("q_top_by_key: rank filter is pushed as WindowGroupLimit, one hash shuffle") {
    // topByKey must plan the per-key limit BELOW the full window sort
    // (WindowGroupLimit keeps only k rows per key per partition);
    // without it every key's full row set survives to the rank filter
    val p = plan("q_top_by_key")
    assert(p.contains("WindowGroupLimit"), s"top-k not pushed as WindowGroupLimit:\n$p")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s"topByKey needs exactly the window's shuffle:\n$p")
  }

  test("q_multimodal_bulk: per-partition batched decode, shuffle-free up to the global agg") {
    // media decode is a typed mapPartitions kernel: no Python, no UDF
    // re-plan, and the only exchange is the final single-partition agg
    val p = plan("q_multimodal_bulk")
    assert(!p.contains("BatchEvalPython"), s"decode left the JVM:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 1, s"decode pipeline shuffled before the agg:\n$p")
  }

  test("q_skewed_split: hot-key probes broadcast; cold path joins plain; no product join") {
    // sampled skew split: the hot-key frame reaches both sides as
    // BROADCAST semi/anti probes (a shuffle there would defeat the
    // point), the two paths union, and nothing degenerates to a
    // cartesian/nested-loop product
    val p = plan("q_skewed_split")
    assert(p.contains("BroadcastHashJoin"), s"hot-key probes not broadcast:\n$p")
    assert(p.contains("Union"), s"hot/cold paths not unioned:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skew split planned a product join:\n$p")
  }

  test("q_cms_heavy: the sketch prefilter sits below the aggregation exchange") {
    val p = plan("q_cms_heavy")
    assert(p.contains("graft_cms_estimate"), s"CMS kernel missing:\n$p")
    // candidate filter must appear under the partial aggregate, i.e.
    // before any exchange — non-candidates never shuffle
    val lines = p.linesIterator.toSeq
    val filterIdx = lines.indexWhere(_.contains("graft_cms_estimate"))
    val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
    assert(filterIdx > exchangeIdx, // tree prints top-down: deeper = later lines
      s"CMS filter not below the exchange:\n$p")
  }

  test("q_pack_sequences: prefix sum is bucketed — no single-partition exchange or global sort") {
    val p = plan("q_pack_sequences")
    assert(!p.contains("Exchange SinglePartition"),
      s"global cumsum collapsed to one partition:\n$p")
    // the cumsum window must be keyed by the range bucket, not empty
    assert(p.contains("hashpartitioning(__go_bucket"),
      s"window not partitioned by the prefix bucket:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket offsets not broadcast:\n$p")
  }

  test("q_substr_dup: gram counting partial-aggregates; no per-row UDF; no product join") {
    val p = plan("q_substr_dup")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      s"UDF in the gram pipeline:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in substring dedup:\n$p")
  }

  test("q_substr_remove: census partial-aggregates; rebuild windowless; no UDF/product") {
    val p = plan("q_substr_remove")
    assert(p.contains("partial_"), s"gram census lacks map-side partial agg:\n$p")
    assert(!p.contains("Window"), s"rebuild planned a window (interval fold should):\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      s"UDF in the span-removal pipeline:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"product join in span removal:\n$p")
  }

  test("q_collocations: pair gen is in-task (no join below the pair count); no product") {
    val p = plan("q_collocations")
    assert(p.contains("partial_"), s"pair count lacks map-side partial agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"product join in collocations:\n$p")
    // pair generation is the explode itself, and the pair-count
    // partial aggregate sits DIRECTLY on it (only Project/Filter
    // between) — a positional self-join would show a Join there
    assert(p.contains("Generate explode"), s"no in-task pair explode:\n$p")
    val directAgg = "(?s)partial_count.{0,600}?Generate explode".r
    assert(directAgg.findFirstIn(p).isDefined,
      s"pair count is not directly over the explode:\n$p")
    assert(!"(?s)Generate explode.{0,600}?Join".r.findFirstIn(p).isDefined ||
      !p.substring(p.lastIndexOf("Generate explode")).contains("Join"),
      s"a join below the pair explode:\n$p")
  }

  test("q_interval_overlap: equi join on (key, bucket) — never a nested-loop range join") {
    val p = plan("q_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval-overlap join planned as a product:\n$p")
    assert(p.contains("Join"), s"no join in the plan?\n$p")
    assert(p.contains("partial_"), s"per-user agg lacks map-side partials:\n$p")
  }

  test("q_line_dedup: census partial-aggregates; rebuild has no window; no product join") {
    val p = plan("q_line_dedup")
    assert(p.contains("partial_"), s"line census lacks map-side partial agg:\n$p")
    assert(!p.contains("Window"), s"rebuild planned a window (sort_array should):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"product join in line dedup:\n$p")
  }

  test("q_pack_export: no single-partition exchange; tokens group without a window") {
    val p = plan("q_pack_export")
    assert(!p.contains("Exchange SinglePartition"),
      s"packed-sequence export collapsed to one partition:\n$p")
    assert(p.contains("hashpartitioning(__go_bucket"),
      s"prefix sum not bucketed:\n$p")
    assert(p.contains("partial_"), s"sequence agg lacks map-side partials:\n$p")
  }

  test("q_semantic_dedup: within-cluster join only, no cartesian, hot set broadcast") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup planned a product join:\n$p")
    assert(p.contains("BroadcastExchange"), s"hot-cluster set not broadcast:\n$p")
    assert(p.contains("graft_nearest_centroid"), s"fused centroid assignment missing:\n$p")
  }

  test("q_domain_mix: rates broadcast back; rows never shuffle; no UDF") {
    val p = plan("q_domain_mix")
    assert(p.contains("BroadcastExchange"), s"per-domain rates not broadcast:\n$p")
    assert(!p.contains("ScalaUDF"), s"mixture filter uses a UDF:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus rows shuffled for the rate join (must be broadcast):\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in domain mix:\n$p")
  }

  test("q5_local_supplier: dims prune before the fact joins") {
    val p = plan("q5_local_supplier")
    // the ASIA semi-filter must sit under the customer/supplier joins:
    // region appears only inside broadcast subtrees, never above lineitem
    assert(p.contains("BroadcastExchange"), s"no broadcast in Q5:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"product join in Q5:\n$p")
  }

  test("q_funnel: no product join, no window over the raw stream, partial aggs") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct"), s"product join in funnel:\n$p")
    assert(!p.contains("Window"), s"funnel planned a window over events:\n$p")
    assert(p.contains("partial_"), s"step aggs lack map-side partials:\n$p")
  }

  test("q_retention: no broadcast assumption baked in, distinct before the final agg") {
    val p = plan("q_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"product join in retention:\n$p")
    assert(p.contains("partial_"), s"retention lacks partial aggs:\n$p")
  }

  test("q_drift: boundaries broadcast; snapshots never sort") {
    val p = plan("q_drift")
    assert(p.contains("BroadcastExchange"), s"bounds not broadcast:\n$p")
    // the only Sort allowed is the final nBuckets-row presentation
    // sort/window; the full snapshots must not range-sort
    assert(!p.contains("rangepartitioning(__v"), s"snapshot sorted for drift:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in drift:\n$p")
  }

  test("q_profile approx variant: no Expand, partial aggs (exact variant may Expand)") {
    val df = graft.operators.Profile.profileApprox(
      spark.read.parquet(s"$dir/documents.parquet"), Seq("doc_id", "source"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), s"approx profile expanded:\n$p")
    assert(p.contains("partial_"), s"approx profile lacks partials:\n$p")
  }

  test("q_gopher_quality: pure per-row expressions — no UDF, no shuffle, no explode") {
    val p = plan("q_gopher_quality")
    assert(!p.contains("ScalaUDF"), s"rule battery uses a UDF:\n$p")
    assert(!p.contains("Generate"), s"rule battery exploded the token array:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"rule battery shuffles beyond the presentation sort:\n$p")
  }

  test("q_dsir: ratio table broadcasts; feature counts partial-aggregate; no UDF") {
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"), s"bucket log-ratio table not broadcast:\n$p")
    assert(p.contains("partial_"), s"feature counts lack map-side partials:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in DSIR:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in DSIR:\n$p")
  }

  test("q_bm25: one (doc,term) shuffle family; avgdl broadcast; vocabulary join-back") {
    val p = plan("q_bm25")
    assert(p.contains("partial_"), s"tf counts lack map-side partials:\n$p")
    assert(p.contains("BroadcastExchange"), s"avgdl scalar not broadcast:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("CartesianProduct"),
      s"UDF or product join in bm25:\n$p")
  }

  test("q_ks_drift: CDF via bucketed prefix sum — no single-partition exchange") {
    val p = plan("q_ks_drift")
    assert(!p.contains("Exchange SinglePartition") ||
      // the final 1-row agg may legitimately single-partition; the
      // window must not
      !p.linesIterator.exists(l => l.contains("Window") && l.contains("SinglePartition")),
      s"KS window collapsed to one partition:\n$p")
    assert(p.contains("hashpartitioning(__go_bucket"),
      s"CDF window not keyed by the prefix bucket:\n$p")
    assert(p.contains("partial_"), s"per-value counts lack map-side partials:\n$p")
  }

  test("new TPC-H shapes: no product joins, partial aggs, brand/part dims broadcast") {
    Seq("q13_order_dist", "q15_top_supplier", "q17_small_qty",
      "q6_forecast", "q10_returned", "q14_promo", "q19_discounted",
      "q20_excess_supply").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a product join:\n$p")
      assert(p.contains("partial_"), s"$q lacks map-side partial aggregation:\n$p")
    }
    // the part-dim joins broadcast
    Seq("q14_promo", "q17_small_qty", "q19_discounted").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"), s"$q part dim not broadcast")
    }
    // q6 is pure scan+agg: predicates reach the scan, no join at all
    val p6 = plan("q6_forecast")
    assert(!p6.contains("Join"), s"q6 must not join:\n$p6")
    assert(p6.contains("PushedFilters:"), s"q6 filters not pushed:\n$p6")
  }

  test("q_split_assign and q_tfidf stay codegen'd: no UDF anywhere") {
    Seq("q_split_assign", "q_tfidf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"$q uses a UDF:\n$p")
    }
    // split assignment adds no shuffle at all
    val ps = plan("q_split_assign")
    val exchanges = ps.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"q_split_assign shuffles beyond the presentation sort:\n$ps")
  }

  test("q_merge_upsert: the anti-join probe carries keys only and broadcasts") {
    // MERGE's matched-row elimination must not shuffle the target on a
    // payload-wide side: the updates KEY projection broadcasts into a
    // left-anti hash join
    val p = plan("q_merge_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"upsert anti-join not a broadcast left-anti:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"upsert planned a product join:\n$p")
  }

  test("q_scd2: one hash shuffle serves both window passes (lag compress + lead spans)") {
    val p = plan("q_scd2")
    assert(p.contains("Window"), s"no window operator:\n$p")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1,
      s"scd2 re-shuffled between the compress and span passes:\n$p")
  }

  test("q_ema: one key shuffle feeds the sorted fold; no extra exchange before the agg") {
    // repartition(key) + sortWithinPartitions + mapPartitions: the
    // fold itself adds exactly one hash exchange; the final per-key
    // reduction re-clusters the typed output (mapPartitions erases
    // partitioning info), nothing more
    val p = plan("q_ema")
    assert(!p.toLowerCase.contains("scalaudf"), s"ema planned a UDF:\n$p")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges <= 2, s"ema shuffled more than fold + reduce:\n$p")
    assert(p.contains("partial_"), s"final reduction not partial-aggregated:\n$p")
  }

  test("q_gap_fill: grid explodes from the per-key span agg, never the raw rows") {
    val p = plan("q_gap_fill")
    // the sequence() explode must sit above an aggregate (two numbers
    // per key), and the whole query stays product-join-free
    assert(p.contains("Generate explode(sequence"), s"grid not a sequence explode:\n$p")
    assert(p.contains("partial_"), s"bucket downsample not partial-aggregated:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gap fill planned a product join:\n$p")
  }

  test("q_triangles: every join is an equi hash/merge join — no product anywhere") {
    // the wedge self-join and the closing-edge probe are both
    // equi-joins by construction; a product join here is quadratic in
    // the edge list at 100 TB
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle count planned a product join:\n$p")
    assert(p.contains("partial_"), s"per-vertex count not partial-aggregated:\n$p")
  }

  test("q_image_dedup: chunk-blocked candidates only — equi-joins, no UDF, capped window") {
    val p = plan("q_image_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"image near-dup planned a product join:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"hamming verify left codegen:\n$p")
  }

  test("q_normalize: the native normalize expression stays inside codegen — no UDF") {
    val df = graft.SparkEntry.queries("q_normalize")(spark, dir)
    df.collect() // AQE prints codegen spans only in the FINAL executed plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_normalize"), s"normalize not planned as the native expr:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"normalize fell back to a UDF:\n$p")
    // the `*(n)` stage prefix is the compact-plan WholeStageCodegen
    // marker: the projection carrying the expression must be inside one
    assert(p.linesIterator.exists(l =>
      l.contains("graft_normalize") && l.trim.stripPrefix("+- ").startsWith("*(")),
      s"normalize's projection not inside a codegen stage:\n$p")
  }

  test("q_epoch_shuffle: bucket offsets broadcast; exactly one data shuffle + per-bucket window") {
    val p = plan("q_epoch_shuffle")
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast-joined:\n$p")
    // the data moves once (hash by bucket for the window); the
    // presentation sort's range exchange is the query's own orderBy
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s"epoch shuffle moved the data more than once:\n$p")
    assert(!p.contains("SinglePartition"),
      s"epoch shuffle collapsed to a single partition:\n$p")
  }

  test("q_rolling: one hash exchange feeds the range-frame window; no join, no UDF") {
    val p = plan("q_rolling")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s"rolling shuffled more than the window clustering:\n$p")
    assert(p.contains("specifiedwindowframe(RangeFrame"),
      s"rolling lost the RANGE frame:\n$p")
    assert(!p.contains("Join"), s"rolling planned a join:\n$p")
  }

  test("q_pct_rank: the probe side ranks with NO shuffle and NO join — grid is a literal") {
    // percentileRank's plan is scan → project (HOF over the broadcast
    // literal grid) → presentation sort; the training corpus appears
    // nowhere (it was consumed at artifact-build time)
    val p = plan("q_pct_rank")
    assert(!p.contains("Join"), s"pct_rank planned a join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"pct_rank shuffled the probe:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"pct_rank planned a UDF:\n$p")
  }

  test("q_corr: every pairwise coefficient rides ONE aggregate pair — no joins, no expand") {
    val p = plan("q_corr")
    assert(!p.contains("Join"), s"correlations planned a join:\n$p")
    assert(!p.contains("Expand"), s"correlations planned an Expand:\n$p")
    assert(p.contains("partial_"), s"correlation aggs not partial (map-side):\n$p")
  }

  test("q_knn_pq: ADC scoring broadcasts the probe LUTs — no shuffle of the corpus codes to probes") {
    val p = plan("q_knn_pq")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"PQ probes not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"PQ planned a cartesian product:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"PQ planned a UDF:\n$p")
  }

  test("q_rollup_count: no Expand (the count-distinct fan-out it exists to avoid); codegen explode") {
    val p = plan("q_rollup_count")
    // a naive grouping-sets COUNT(DISTINCT) plans Expand over the raw
    // rows; rollupAndCount's whole point is replacing that with a leaf
    // pre-aggregate + explode fan-out + correction stream
    assert(!p.contains("Expand"), s"rollupAndCount planned an Expand:\n$p")
    assert(p.contains("Generate explode"), s"variant fan-out is not an explode:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"rollupAndCount planned a UDF:\n$p")
    assert(p.contains("partial_"), s"aggregation not partial (map-side):\n$p")
  }

  test("q_rolling_chunked: carry replication stays cheap — one window exchange family, no UDF") {
    val p = plan("q_rolling_chunked")
    assert(!p.toLowerCase.contains("scalaudf"), s"rollingChunked planned a UDF:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rollingChunked planned a product join:\n$p")
    // native + carry sides union into ONE (key, chunk) hash exchange
    // feeding the RANGE window; the carry explode must not introduce
    // additional shuffles beyond the union's
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 3, s"too many exchanges for chunked rolling ($exchanges):\n$p")
    assert(p.contains("Window"), s"no window operator in rollingChunked plan:\n$p")
  }

  test("graph loops exchange the vertex-sized table per round, never the adjacency") {
    // The r11 win (pageRank sf1: 467→346 MB shuffle) came from folding
    // out-degree into the edge list ONCE, pre-partitioned by source and
    // persisted, so each round exchanges only rank-table bytes. That
    // property was protected only by a comment; this pins it with the
    // same task-metrics scope Bench uses: per-iteration shuffle delta
    // must stay far below one adjacency exchange.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dense graph: 100 vertices, 9900 edges — adjacency dwarfs ranks
    val edges = (for { s <- 1L to 100L; d <- 1L to 100L if s != d } yield (s, d))
      .toDF("src", "dst").persist()
    edges.count()
    // bytes written by `body`'s jobs only: a process-global counter
    // would inflate under any concurrent suite sharing the SparkContext
    // and flake the /3 threshold
    def measured(body: => Unit): Long =
      graft.util.JobScope.run(spark, "plan-audit graph-loop shuffle measurement")(body)._2
        .sum(_.shuffleWriteMetrics.bytesWritten)
    try {
      val adjacency = measured(edges.repartition(col("src")).foreach(_ => ()))
      def perIter(run: Int => Long): Double = {
        val short = measured(run(2))
        val long = measured(run(6))
        (long - short) / 4.0
      }
      val pr = perIter(i =>
        graft.operators.Graph.pageRank(edges, "src", "dst", iters = i).count())
      assert(pr < adjacency / 3.0,
        s"a pageRank round shuffles adjacency-scale bytes (perIter=$pr, one edge " +
          s"exchange=$adjacency) — is eDeg still pre-partitioned+persisted outside the loop?")
      val ppr = perIter(i => graft.operators.Graph.personalizedPageRank(
        edges, "src", "dst", seeds = Seq(1L, 2L), iters = i).count())
      assert(ppr < adjacency / 3.0,
        s"a PPR round shuffles adjacency-scale bytes (perIter=$ppr, one edge " +
          s"exchange=$adjacency)")
      val bfs = perIter(i => graft.operators.Graph.shortestPaths(
        edges, "src", "dst", landmarks = Seq(1L, 2L), maxHops = i).count())
      // BFS doubles the adjacency (undirected), so the same bound holds
      assert(bfs < adjacency / 3.0,
        s"a BFS hop shuffles adjacency-scale bytes (perIter=$bfs, one edge " +
          s"exchange=$adjacency)")
    } finally { edges.unpersist(); () }
  }

  test("q_quality_score: artifact scoring broadcasts the weights; pure codegen, no ML vector ops") {
    // scoreWithWeights' contract: the 1025-row (bucket, weight)
    // artifact rides a BroadcastHashJoin into the feature aggregation —
    // no UDF, no ML vector assembly (the typed-Dataset map of
    // featurize/score must appear nowhere on this path), partial aggs
    // map-side. The train leg runs once here (sf0.001, 500 docs).
    val p = plan("q_quality_score")
    assert(p.contains("BroadcastHashJoin"), s"weights not broadcast:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"scoring planned a UDF:\n$p")
    assert(!p.contains("DeserializeToObject") && !p.contains("MapElements"),
      s"scoring left codegen for a typed-object hop:\n$p")
    assert(!p.contains("CartesianProduct"), s"scoring planned a product join:\n$p")
    assert(p.contains("partial_"), s"feature aggregation not partial (map-side):\n$p")
  }

  test("q_dedup_incremental: the index's bucket cap is a pushed scan filter, not a window") {
    val p = graft.SparkEntry.queries("q_dedup_incremental")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the bands scan must arrive pre-filtered (n <= maxBucket pushed
    // into parquet) and the probe side must not re-aggregate the index
    assert(p.contains("LessThanOrEqual(n,1000"),
      s"hot-bucket cap not pushed into the index scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup planned a product join:\n$p")
  }
}
