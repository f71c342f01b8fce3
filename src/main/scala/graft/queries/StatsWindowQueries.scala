package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryDsl._

/** Stats, sketches-with-exact-oracles, rollups, and event-time
  * windowing (SURVEY §2 "Stats & sketches" + "Windowing").
  * Reference semantics: scio DoubleSCollectionFunctions.scala
  * (stats/histogram), scio-extra rollup/package.scala,
  * WindowedSCollection.scala + streaming/package.scala (fixed/
  * sliding/session windows — Structured Streaming mirrors live in
  * graft.streaming and are exercised in StreamingSpec).
  */
object StatsWindowQueries extends QueryPack {

  override val queries: Map[String, Q] = Map(

    // DoubleSCollectionFunctions.stats: one-pass moments.
    "q_stats" -> { (s, dir) =>
      tables(s, dir).events.agg(
        count(lit(1)).as("n"),
        r6(avg(col("value"))).as("mean"),
        r6(stddev_samp(col("value"))).as("stdev"),
        r6(var_samp(col("value"))).as("variance"),
        r6(min(col("value"))).as("min_v"),
        r6(max(col("value"))).as("max_v"))
    },

    // histogram(buckets): fixed-width bucketing. floor() of the same
    // IEEE division is engine-independent (no rounding involved).
    "q_histogram" -> { (s, dir) =>
      tables(s, dir).orders
        .select((floor(col("o_totalprice") / 50000.0)).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },

    // histogram(buckets): the reference's arbitrary-boundary form —
    // half-open intervals, last bucket inclusive, out-of-range ignored.
    "q_histogram_buckets" -> { (s, dir) =>
      graft.operators.Stats.histogram(tables(s, dir).orders, "o_totalprice",
        Array(0.0, 25000.0, 75000.0, 150000.0, 300000.0))
    },

    // scio-extra rollup: hierarchical subtotal aggregation.
    "q_rollup" -> { (s, dir) =>
      val t = tables(s, dir)
      t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_supp"), sumMoney(dec(col("s_acctbal"))).as("sum_bal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_supp"), col("sum_bal"))
        .orderBy(col("region"), col("nation"))
    },

    // cube: all grouping-set combinations.
    "q_cube" -> { (s, dir) =>
      tables(s, dir).orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
        .orderBy(col("status"), col("priority"))
    },

    // scio-extra rollupAndCount: distinct customers + summed spend per
    // rollup level of (status, year) under a fixed priority dimension —
    // exact distinct counts at every subtotal WITHOUT a count-distinct
    // over the grouping-set fan-out. Decimal measure keeps the sum
    // engine-exact; the oracle recomputes every level with real
    // COUNT(DISTINCT) grouping sets.
    "q_rollup_count" -> { (s, dir) =>
      val ord = tables(s, dir).orders
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .withColumn("price_d", col("o_totalprice").cast("decimal(12,2)"))
      graft.operators.Rollup.rollupAndCount(ord, "o_custkey",
          Seq("o_orderpriority"), Seq("o_orderstatus", "o_year"),
          Seq(Seq("o_orderstatus", "o_year"), Seq("o_orderstatus"),
            Seq("o_year"), Seq.empty),
          "price_d")
        .select(col("o_orderpriority").as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_year").cast("string"), lit("ALL")).as("yr"),
          round(col("measure_sum"), 2).cast("double").as("sum_price"),
          col("distinct_count").as("n_cust"))
        .orderBy(col("priority"), col("status"), col("yr"))
    },

    // distribution drift (PSI) of order totals: pre-1998 reference vs
    // 1998+ feed, 10 equi-probable reference buckets.
    "q_drift" -> { (s, dir) =>
      val ord = tables(s, dir).orders
      graft.operators.Drift.psiBuckets(
        ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        "o_totalprice", nBuckets = 10)
    },

    // Welch's t over the same pre/post-1998 split (location drift next
    // to q_drift's shape drift); every moment recomputed in SQL.
    "q_welch_t" -> { (s, dir) =>
      val ord = tables(s, dir).orders
      graft.operators.Drift.welchT(
        ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        "o_totalprice")
    },

    // Mann–Whitney U over the same split — rank-based location drift;
    // midrank arithmetic is exact integers/halves in both engines.
    "q_mann_whitney" -> { (s, dir) =>
      val ord = tables(s, dir).orders
      graft.operators.Drift.mannWhitney(
        ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        "o_totalprice")
    },

    // chi-square drift between the order-priority mixes of the two
    // date halves (categorical cousin of q_drift's PSI).
    "q_chi2_drift" -> { (s, dir) =>
      val ord = tables(s, dir).orders
      graft.operators.Drift.chiSquare(
        ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        "o_orderpriority")
    },

    // exact two-sample KS statistic over the same pre/post-1998 split
    // as q_drift — bucket-free CDF-gap drift test; all cumulative
    // arithmetic is integer so both engines agree bit-exactly.
    "q_ks_drift" -> { (s, dir) =>
      val ord = tables(s, dir).orders
      graft.operators.Drift.ksStat(
          ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          "o_totalprice")
        .select(col("n_ref"), col("n_cur"),
          r6(col("d_stat")).as("d_stat"), col("at_value"))
    },

    // one-pass exact column profile over documents (string casts are
    // restricted to BIGINT/VARCHAR columns, where both engines format
    // identically; the approx variant is ApproxSpec-bounded).
    "q_profile" -> { (s, dir) =>
      graft.operators.Profile.profile(tables(s, dir).documents,
        Seq("doc_id", "lang", "source", "n_chars"))
    },

    // pairwise Pearson correlations over the lineitem measures in one
    // scan (6 pairs as partial aggs of a single pass, unpivoted).
    "q_corr" -> { (s, dir) =>
      graft.operators.Profile.correlations(tables(s, dir).lineitem,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_a"), col("col_b"))
    },

    // percentile ranks against a PERSISTED quantile grid: train the
    // 512-point grid on even orders (artifact on disk), rank odd
    // orders against it — cross-corpus score calibration. Exact
    // interpolated quantiles are engine-reproducible, so the oracle
    // rebuilds the identical grid and count arithmetic in SQL.
    "q_pct_rank" -> { (s, dir) =>
      val orders = tables(s, dir).orders
      val path = java.nio.file.Files.createTempDirectory("graft_qgrid")
        .resolve("grid.json").toString
      graft.operators.Stats.saveQuantileGrid(
        orders.filter(col("o_orderkey") % 2 === 0), "o_totalprice", path, gridSize = 512)
      graft.operators.Stats.percentileRank(
          orders.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") <= 20000),
          "o_totalprice", path)
        .select(col("o_orderkey"), col("pct_rank"))
        .orderBy(col("o_orderkey"))
    },

    // winsorized order totals: clamp at exact [p01, p99], profile the
    // clamped column (avg at 6 dp keeps the digit budget safe).
    "q_winsorize" -> { (s, dir) =>
      graft.operators.Stats.winsorize(tables(s, dir).orders, "o_totalprice",
          0.01, 0.99, outCol = "w")
        .agg(count(lit(1)).as("n"), r6(avg(col("w"))).as("avg_w"),
          r2(min(col("w"))).as("min_w"), r2(max(col("w"))).as("max_w"))
    },

    // robust z-score outliers on order totals: median/MAD flags.
    "q_robust_outliers" -> { (s, dir) =>
      graft.operators.Stats.robustOutliers(tables(s, dir).orders, "o_totalprice", k = 2.5)
        .agg(count(lit(1)).as("n"),
          sum(col("is_outlier").cast("long")).as("n_outliers"),
          r6(max(col("robust_z"))).as("max_z"))
    },

    // PageRank centrality over the supplier→part supply graph —
    // oracle-exact since the oracle unrolls the SAME 5 power
    // iterations as materialized CTEs; output is rank·10^6 (ppm) so
    // the 4-dp round keeps a scale-independent precision budget
    // (cross-engine fp drift ~1e-7 ppm vs a 5e-5 boundary).
    "q_pagerank" -> { (s, dir) =>
      val edges = tables(s, dir).lineitem
        .select(col("l_suppkey").as("src"), (col("l_partkey") + 1000000L).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 5)
        .filter(col("vertex") < 1000000L) // the supplier side: bounded, dense
        .select(col("vertex"), round(col("rank") * 1e6, 4).as("rank_ppm"))
        .orderBy(col("vertex"))
    },

    // schema drift between two crawl snapshots (the metadata axis
    // beside corpusDiff/Drift): a simulated next-crawl schema drops a
    // field, retypes another, adds a third. Pure metadata, no scan;
    // the oracle recomputes the same diff from DuckDB DESCRIBE with
    // type names normalized (varchar→string).
    "q_schema_diff" -> { (s, dir) =>
      val o = tables(s, dir).orders
      val next = o.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("string").as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        lit(1L).as("o_version"))
      graft.operators.Profile.schemaDiff(o, next).orderBy(col("field"))
    },

    // data-contract expectations over orders in one scan: passing
    // contracts, a deliberately violated threshold, and the
    // null-counts-as-violation contract.
    "q_expectations" -> { (s, dir) =>
      graft.operators.Profile.expect(tables(s, dir).orders, Seq(
        "positive_total" -> (col("o_totalprice") > 0),
        "priority_domain" -> col("o_orderpriority").isin(
          "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        "date_present" -> col("o_orderdate").isNotNull,
        "total_under_200k" -> (col("o_totalprice") < 200000.0)))
        .select(col("expectation"), col("n_rows"), col("n_violations"),
          col("pass").cast("int").as("pass"))
    },

    // z-order layout: content preservation through the quantile-
    // sketch + bucket-fold + range-shuffle path (the pruning benefit
    // itself is pinned in LayoutSpec's partitions-touched test).
    "q_zorder" -> { (s, dir) =>
      graft.operators.Layout.zorderBy(
          tables(s, dir).documents.select(col("doc_id"), col("n_chars")),
          Seq("doc_id", "n_chars"), bits = 6)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Hilbert-curve layout: content preservation through the same
    // quantile + fold + range-shuffle path as q_zorder (the curve's
    // adjacency benefit is pinned bit-exact in LayoutSpec).
    "q_hilbert" -> { (s, dir) =>
      graft.operators.Layout.hilbertBy(
          tables(s, dir).documents.select(col("doc_id"), col("n_chars")),
          Seq("doc_id", "n_chars"), bits = 6)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ordered event funnel with a 24h horizon: per-step user counts,
    // first-touch attribution, strict step ordering.
    "q_funnel" -> { (s, dir) =>
      graft.operators.Events.funnel(tables(s, dir).events,
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), withinSec = Some(86400L))
    },

    // per-user funnel step TIMES — the frame q_funnel aggregates,
    // gated µs-exact through the strict-order horizon chain.
    "q_funnel_times" -> { (s, dir) =>
      graft.operators.Events.funnelTimes(tables(s, dir).events,
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), withinSec = Some(86400L))
        .select(col("user_id"), unix_micros(col("t1")).as("t1_us"),
          unix_micros(col("t2")).as("t2_us"), unix_micros(col("t3")).as("t3_us"))
        .orderBy(col("user_id"))
    },

    // first-order event-transition census (flow/Sankey counts):
    // consecutive pairs per user in (ts, event_id) order.
    "q_transitions" -> { (s, dir) =>
      graft.operators.Events.transitions(tables(s, dir).events,
          "user_id", "ts", "event_type", tieCols = Seq("event_id"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // last-touch attribution: every purchase credited to the most
    // recent click/view within a 2h lookback (as-of composition;
    // DuckDB's native ASOF JOIN is the oracle).
    "q_attribution" -> { (s, dir) =>
      graft.operators.Events.lastTouch(tables(s, dir).events,
          "user_id", "event_type", "ts",
          touchTypes = Seq("click", "view"), conversionType = "purchase",
          lookbackSec = 7200L)
        .select(col("user_id"), unix_micros(col("conv_ts")).as("conv_us"),
          col("touch_type"), unix_micros(col("touch_ts")).as("touch_us"))
        .orderBy(col("user_id"), col("conv_us"), col("touch_us"))
    },

    // LINEAR multi-touch attribution: every touch in the lookback
    // shares the conversion credit 1/n; summed per channel.
    "q_attribution_linear" -> { (s, dir) =>
      graft.operators.Events.attributionLinear(tables(s, dir).events,
          "user_id", "event_type", "ts",
          touchTypes = Seq("click", "view"), conversionType = "purchase",
          lookbackSec = 7200L)
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"), r6(sum(col("credit"))).as("credit"))
        .orderBy(col("touch_type"))
    },

    // TIME-DECAY attribution: 30-min half-life weights, per-channel
    // credit mass (each conversion still distributes exactly 1.0).
    "q_attribution_decay" -> { (s, dir) =>
      graft.operators.Events.attributionTimeDecay(tables(s, dir).events,
          "user_id", "event_type", "ts",
          touchTypes = Seq("click", "view"), conversionType = "purchase",
          lookbackSec = 7200L, halfLifeSec = 1800L)
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"), r6(sum(col("credit"))).as("credit"))
        .orderBy(col("touch_type"))
    },

    // personalized PageRank from two seed suppliers: proximity ranks
    // over the supply graph, same unrolled-oracle treatment.
    "q_ppr" -> { (s, dir) =>
      val edges = tables(s, dir).lineitem
        .select(col("l_suppkey").as("src"), (col("l_partkey") + 1000000L).as("dst"))
      graft.operators.Graph.personalizedPageRank(edges, "src", "dst",
          seeds = Seq(1L, 2L), iters = 5)
        .filter(col("vertex") < 1000000L)
        // floor, not round: seed ranks are DYADIC rationals that land
        // exactly on round-half boundaries where engines disagree
        .select(col("vertex"), floor(col("rank") * 1e9).cast("long").as("rank_nano"))
        .orderBy(col("vertex"))
    },

    // HITS hubs/authorities over the supplier→part graph (5 L1-
    // normalized rounds; the oracle unrolls the same rounds).
    "q_hits" -> { (s, dir) =>
      val edges = tables(s, dir).lineitem
        .select(col("l_suppkey").as("src"), (col("l_partkey") + 1000000L).as("dst"))
      graft.operators.Graph.hits(edges, "src", "dst", iters = 5)
        .filter(col("vertex") < 1000000L)
        .select(col("vertex"), round(col("hub") * 1e6, 4).as("hub_ppm"),
          round(col("authority") * 1e6, 4).as("auth_ppm"))
        .orderBy(col("vertex"))
    },

    // Kaplan–Meier survival: per-user observation span as duration,
    // purchase = observed event, otherwise right-censored; risk set
    // and log-space product both via balanced prefix sums.
    "q_survival" -> { (s, dir) =>
      val subj = tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(datediff(to_date(max(col("ts"))), to_date(min(col("ts"))))
            .cast("long").as("dur"),
          bool_or(col("event_type") === "purchase").as("ev"))
      graft.operators.Survival.kaplanMeier(subj, "dur", "ev")
        .select(col("duration"), col("n_at_risk"), col("n_events"),
          col("n_censored"), r6(col("survival")).as("survival"),
          r6(col("hazard")).as("hazard"))
        .orderBy(col("duration"))
    },

    // weekly cohort retention from the first signup event.
    "q_retention" -> { (s, dir) =>
      graft.operators.Events.retention(tables(s, dir).events,
        "user_id", "event_type", "ts", cohortType = "signup", periodDays = 7)
    },

    // windowByDays: calendar bucketing.
    "q_window_daily" -> { (s, dir) =>
      tables(s, dir).events
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), r2(sum(dec(col("value")))).cast("double").as("sum_v"))
        .orderBy(col("day"), col("event_type"))
    },

    // withFixedWindows: tumbling event-time windows (batch mirror of
    // the Structured Streaming window() aggregation).
    "q_window_fixed" -> { (s, dir) =>
      tables(s, dir).events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), r2(sum(dec(col("value")))).cast("double").as("sum_v"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
          col("event_type"), col("n"), col("sum_v"))
        .orderBy(col("w_start"), col("event_type"))
    },

    // Stream-stream windowed join, driven in batch mode (Structured
    // Streaming's unified model: the same plan runs bounded or
    // unbounded; the streaming semantics are pinned in StreamingSpec).
    // Clicks ⨝ purchases of the same user in the same epoch-hour.
    "q_windowed_join" -> { (s, dir) =>
      val ev = tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("b_ts"))
      graft.streaming.StreamJoins.windowedJoin(clicks, purchases, "user_id",
          "c_ts", "b_ts", "1 hour", "10 minutes")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },

    // withSlidingWindows: duration 2h, period 1h — each event lands in
    // two windows.
    "q_window_sliding" -> { (s, dir) =>
      tables(s, dir).events
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"), r2(sum(dec(col("value")))).cast("double").as("sum_v"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
          col("n"), col("sum_v"))
        .orderBy(col("w_start"))
    },

    // withSessionWindows: 30-min-gap sessionization per user. The
    // batch form is lag + running count of session-starts — one
    // shuffle by user, everything else window functions. (The
    // streaming form uses session_window/flatMapGroupsWithState —
    // graft.streaming.Sessionize, exercised in StreamingSpec.)
    "q_window_session" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val gapSec = 1800L
      tables(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapSec * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_end"))
        .filter(col("user_id") <= 100)
        .orderBy(col("user_id"), col("sess_id"))
    },

    // Custom-state sessionization via flatMapGroupsWithState
    // (graft.streaming.Sessionize — the stateful-DoFn analogue, same
    // operator the streaming path uses). Oracle-checked against the
    // same SQL sessionization as q_window_session: the stateful
    // operator must reproduce the declarative answer exactly.
    "q_session_state" -> { (s, dir) =>
      import s.implicits._
      val ev = tables(s, dir).events
        .select(col("user_id").as("userId"), col("ts"), col("value"))
        .as[graft.streaming.Event]
      graft.streaming.Sessionize.sessions(ev, gapSec = 1800L, emitOpen = true).toDF()
        .filter(col("userId") <= 100)
        .select(col("userId").as("user_id"),
          col("nEvents").as("n_events"),
          date_format(col("sessStart"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(col("sessEnd"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
          r2(col("sumValue")).as("sum_v"))
        .orderBy(col("user_id"), col("sess_start"))
    },

    // HLL++ distinct per key (scio countApproxDistinctByKey /
    // scio-extra hll): rows-only — sketch estimates are
    // engine-specific; the error bound is asserted in ApproxSpec.
    "q_hll_by_key" -> { (s, dir) =>
      tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy(col("l_returnflag"))
    },

    // theta-sketch crawl-overlap algebra (DataSketches theta via the
    // native ThetaOps): distinct ordering customers per priority
    // in the two calendar halves — union / intersection / difference
    // per group from SKETCHES only (join traffic = groups × sketch
    // bytes, never rows). lgK=18 keeps every sketch in EXACT mode at
    // all gate scales (distincts per group ≪ 2^18), so each estimate
    // IS the true count and the oracle recomputes it with plain
    // COUNT(DISTINCT) set arithmetic; estimation-mode error bounds
    // are SketchesSpec's.
    "q_theta_overlap" -> { (s, dir) =>
      val o = tables(s, dir).orders
      val a = o.filter(month(col("o_orderdate")) <= 6)
      val b = o.filter(month(col("o_orderdate")) > 6)
      val sk = (side: org.apache.spark.sql.DataFrame) =>
        graft.operators.Sketches.thetaSketches(
          side, "o_custkey", Seq("o_orderpriority"), lgK = 18)
      graft.operators.Sketches.thetaSetEstimates(sk(a), sk(b), Seq("o_orderpriority"))
        .select(col("o_orderpriority"),
          col("est_a").cast("long").as("n_a"),
          col("est_b").cast("long").as("n_b"),
          col("est_union").cast("long").as("n_union"),
          col("est_intersection").cast("long").as("n_inter"),
          col("est_a_only").cast("long").as("n_a_only"),
          col("est_b_only").cast("long").as("n_b_only"))
        .orderBy(col("o_orderpriority"))
    },

    // persisted mergeable HLL index (scio countApproxDistinct +
    // zetasketch's merge-don't-recount design as an ARTIFACT): sketch
    // per market segment built from even custkeys, EXTENDED with the
    // odd ones — historical rows never re-read — then estimates read
    // from the merged artifact. Rows-only: HLL estimates are
    // engine-specific; extended==rebuild and the error bound are
    // SketchesSpec's.
    "q_hll_index" -> { (s, dir) =>
      val c = tables(s, dir).customer
      val base = java.nio.file.Files.createTempDirectory("graft_hllidx").toString
      graft.operators.Sketches.saveIndex(
        c.filter(col("c_custkey") % 2 === 0), "c_custkey", Seq("c_mktsegment"),
        s"$base/idx0", kind = "hll", lgK = 14)
      graft.operators.Sketches.extendIndex(
        c.filter(col("c_custkey") % 2 === 1), s"$base/idx0", s"$base/idx1")
      graft.operators.Sketches.withEstimate(
          graft.operators.Sketches.loadIndex(s, s"$base/idx1"), "hll")
        .select(col("c_mktsegment"), col("distinct_est").cast("long").as("n_est"))
        .orderBy(col("c_mktsegment"))
    },

    // mergeable KLL quantile artifact: per-priority distribution
    // sketched on even orderkeys, EXTENDED with the odd ones (history
    // never re-scanned), quantiles read off the merged artifact. The
    // bounded key subset keeps every per-group sketch below its
    // compaction capacity at ALL gate scales, so INCLUSIVE quantiles
    // are true order statistics and DuckDB's quantile_disc is the
    // oracle; estimation-mode rank bounds are SketchesSpec's.
    "q_kll_quantiles" -> { (s, dir) =>
      val o = tables(s, dir).orders.filter(col("o_orderkey") <= 20000)
      val base = java.nio.file.Files.createTempDirectory("graft_kllidx").toString
      graft.operators.Sketches.saveIndex(
        o.filter(col("o_orderkey") % 2 === 0), "o_totalprice", Seq("o_orderpriority"),
        s"$base/idx0", kind = "kll", lgK = 32768)
      graft.operators.Sketches.extendIndex(
        o.filter(col("o_orderkey") % 2 === 1), s"$base/idx0", s"$base/idx1")
      graft.operators.Sketches.withQuantiles(
          graft.operators.Sketches.loadIndex(s, s"$base/idx1"),
          Seq(0.25, 0.5, 0.75, 0.9))
        .select(col("o_orderpriority"), col("p25"), col("p50"), col("p75"), col("p90"))
        .orderBy(col("o_orderpriority"))
    },

    // Sum-mode tuple sketch: revenue per DISTINCT ordering customer
    // per priority, without deduplicating the stream — repeated
    // orders fold into their customer's summary. lgK=18 keeps θ = 1
    // at all gate scales, so distinct_est is the exact customer count
    // and value_est the plain revenue sum; sampling-mode unbiasedness
    // is SketchesSpec's.
    "q_tuple_metrics" -> { (s, dir) =>
      graft.operators.Sketches.distinctValueEstimates(
          graft.operators.Sketches.tupleSketches(
            tables(s, dir).orders, "o_custkey", "o_totalprice",
            Seq("o_orderpriority"), lgK = 18))
        .select(col("o_orderpriority"),
          col("distinct_est").cast("long").as("n_cust"),
          r2(col("value_est")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // mergeable VarOpt weighted sample (variance-optimal subset-sum
    // sampling): per-priority bounded sample of orders weighted by
    // price. k exceeds every per-group count on the bounded key
    // subset, so the sketch is in EXACT mode — the sample IS the
    // input with untouched weights — and the oracle is a plain
    // projection; estimation-mode invariants (HT weight-sum equals
    // total, heavy items always kept) are SketchesSpec's.
    "q_varopt_sample" -> { (s, dir) =>
      val o = tables(s, dir).orders.filter(col("o_orderkey") <= 20000)
      graft.operators.Sketches.weightedSample(o, "o_orderkey", "o_totalprice",
          Seq("o_orderpriority"), k = 8192)
        .select(col("o_orderpriority"), col("item").cast("long").as("o_orderkey"),
          col("weight").as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },

    // ONE-pass frequent-items heavy hitters (DataSketches Misra-Gries
    // family via graft's FreqOps): same answer as the CMS+
    // exact two-pass q_cms_heavy, but the heavy keys are DISCOVERED in
    // the counting pass itself — no second scan, the shape required
    // when the source won't be read twice. The 2^16 map never purges
    // at any gate scale (distinct users ≪ 49k), so the sketch is
    // exact and the oracle is the plain HAVING query.
    "q_freq_items" -> { (s, dir) =>
      val ev = tables(s, dir).events.select(col("user_id"))
      // exact-mode PRECONDITION, sized from the data: Misra–Gries is
      // only decrement-free (est == true count, the oracle's claim)
      // while the map holds every distinct item. A fixed 2^16 broke at
      // sf10 (150k distinct users): decrements collapsed every lower
      // bound below the threshold and the noFalsePositives filter
      // correctly returned zero rows. 2× an approx distinct count
      // (±1%) keeps the recipe exact at any scale the map fits.
      val distinct = ev.agg(approx_count_distinct(col("user_id"), 0.01))
        .head().getLong(0)
      // clamp before the Int cast: at >= 2^30 distinct the shifted Long
      // is 2^31 and toInt would wrap negative — cap the exact-mode map
      // at 2^30 entries (past that, fall out of exact mode loudly via
      // frequentItems' own size contract rather than a silent overflow)
      val mapSize = math.min(
        java.lang.Long.highestOneBit(math.max(1L << 12, distinct * 2) - 1) << 1,
        1L << 30)
      graft.operators.Sketches.frequentItems(ev, "user_id", Seq.empty,
          threshold = 60L, maxMapSize = mapSize.toInt)
        .select(col("item").cast("long").as("user_id"), col("est").as("n"))
        .orderBy(col("user_id"))
    },

    // CMS-guided EXACT heavy hitters (scio Algebird-CMS shapes): the
    // sketch prefilter only prunes — CMS never undercounts, so the
    // exact aggregation over surviving rows makes the answer
    // oracle-exact despite the approximate sketch in the plan.
    "q_cms_heavy" -> { (s, dir) =>
      val ev = tables(s, dir).events.select(col("user_id"))
      graft.hash.GraftCms.heavyHitters(ev, "user_id", minCount = 60L)
        .orderBy(col("user_id"))
    },

    // scio-extra sorter: secondary sort — per key, values ordered by a
    // secondary field without a global sort.
    "q_secondary_sort" -> { (s, dir) =>
      tables(s, dir).lineitem
        .filter(col("l_suppkey") <= 20)
        .groupBy(col("l_suppkey"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("l_shipdate"), col("l_orderkey")))),
            x => x.getField("l_orderkey").cast("string")),
          ",").as("orders_by_date"))
        .orderBy(col("l_suppkey"))
    }
  )

  override val oracles: Map[String, String] = Map(
    "q_theta_overlap" ->
      """WITH a AS (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c
        |           FROM orders WHERE month(o_orderdate) <= 6),
        |     b AS (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c
        |           FROM orders WHERE month(o_orderdate) > 6),
        |     ca AS (SELECT p, count(*) AS n_a FROM a GROUP BY p),
        |     cb AS (SELECT p, count(*) AS n_b FROM b GROUP BY p),
        |     cu AS (SELECT p, count(*) AS n_union FROM
        |              (SELECT p, c FROM a UNION SELECT p, c FROM b) GROUP BY p),
        |     ci AS (SELECT p, count(*) AS n_inter FROM
        |              (SELECT p, c FROM a INTERSECT SELECT p, c FROM b) GROUP BY p)
        |SELECT cu.p AS o_orderpriority,
        |       coalesce(n_a, 0) AS n_a,
        |       coalesce(n_b, 0) AS n_b,
        |       n_union AS n_union,
        |       coalesce(n_inter, 0) AS n_inter,
        |       coalesce(n_a, 0) - coalesce(n_inter, 0) AS n_a_only,
        |       coalesce(n_b, 0) - coalesce(n_inter, 0) AS n_b_only
        |FROM cu
        |LEFT JOIN ca ON cu.p = ca.p
        |LEFT JOIN cb ON cu.p = cb.p
        |LEFT JOIN ci ON cu.p = ci.p
        |ORDER BY o_orderpriority""".stripMargin,

    "q_cms_heavy" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id HAVING count(*) >= 60 ORDER BY user_id""".stripMargin,

    "q_freq_items" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id HAVING count(*) >= 60 ORDER BY user_id""".stripMargin,

    "q_schema_diff" ->
      """WITH a AS (SELECT column_name AS field,
        |                  replace(lower(column_type), 'varchar', 'string') AS type_a
        |           FROM (DESCRIBE SELECT * FROM orders)),
        |     b AS (SELECT column_name AS field,
        |                  replace(lower(column_type), 'varchar', 'string') AS type_b
        |           FROM (DESCRIBE SELECT o_orderkey, o_custkey,
        |                   CAST(o_totalprice AS VARCHAR) AS o_totalprice,
        |                   o_orderdate, o_orderpriority,
        |                   CAST(1 AS BIGINT) AS o_version FROM orders))
        |SELECT coalesce(a.field, b.field) AS field,
        |       CASE WHEN b.field IS NULL THEN 'removed'
        |            WHEN a.field IS NULL THEN 'added'
        |            WHEN type_a = type_b THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       type_a, type_b
        |FROM a FULL OUTER JOIN b ON a.field = b.field
        |ORDER BY field""".stripMargin,

    "q_varopt_sample" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM orders WHERE o_orderkey <= 20000
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    // revenue stays a DOUBLE sum on BOTH sides: the Spark value is a
    // tuple-sketch double accumulation (Sketches.tupleSketches), so an
    // exact-decimal oracle would be asymmetric — the reverse of the
    // money-sum sweep's rule
    "q_tuple_metrics" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey) AS n_cust,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_kll_quantiles" ->
      """SELECT o_orderpriority,
        |       quantile_disc(o_totalprice, 0.25) AS p25,
        |       quantile_disc(o_totalprice, 0.5) AS p50,
        |       quantile_disc(o_totalprice, 0.75) AS p75,
        |       quantile_disc(o_totalprice, 0.9) AS p90
        |FROM orders WHERE o_orderkey <= 20000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_ppr" -> {
      val iters = (1 to 5).map { i =>
        val p = s"r${i - 1}"
        s"""dm$i AS (
           |  SELECT coalesce(sum(r.rank), 0) AS dm FROM $p r
           |  LEFT JOIN od ON r.v = od.s WHERE od.s IS NULL),
           |c$i AS MATERIALIZED (
           |  SELECT e.dst AS v, sum(r.rank / od.deg) AS inm
           |  FROM e0 e JOIN $p r ON e.src = r.v JOIN od ON od.s = e.src
           |  GROUP BY 1),
           |r$i AS MATERIALIZED (
           |  SELECT v.v,
           |    (0.15 + 0.85 * dm.dm) * (CASE WHEN v.v IN (1, 2) THEN 0.5 ELSE 0 END)
           |    + 0.85 * coalesce(c.inm, 0) AS rank
           |  FROM v CROSS JOIN dm$i dm
           |  LEFT JOIN c$i c ON v.v = c.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
         |  FROM lineitem WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         |v AS MATERIALIZED (
         |  SELECT DISTINCT src AS v FROM e0 UNION SELECT DISTINCT dst FROM e0),
         |od AS MATERIALIZED (SELECT src AS s, count(*) AS deg FROM e0 GROUP BY 1),
         |r0 AS MATERIALIZED (
         |  SELECT v, CASE WHEN v IN (1, 2) THEN 0.5 ELSE 0.0 END AS rank FROM v),
         |$iters
         |SELECT v AS vertex, CAST(floor(rank * 1e9) AS BIGINT) AS rank_nano
         |FROM r5 WHERE v < 1000000 ORDER BY vertex""".stripMargin
    },
    "q_hits" -> {
      val rounds = (1 to 5).map { i =>
        val ph = s"h${i - 1}"
        s"""ar$i AS MATERIALIZED (
           |  SELECT e.dst AS v, sum(h.h) AS x FROM e0 e
           |  JOIN $ph h ON e.src = h.v GROUP BY 1),
           |an$i AS (SELECT sum(x) AS s FROM ar$i),
           |a$i AS MATERIALIZED (
           |  SELECT v.v, coalesce(ar.x, 0) / an.s AS a
           |  FROM v CROSS JOIN an$i an LEFT JOIN ar$i ar ON v.v = ar.v),
           |hr$i AS MATERIALIZED (
           |  SELECT e.src AS v, sum(a.a) AS x FROM e0 e
           |  JOIN a$i a ON e.dst = a.v GROUP BY 1),
           |hn$i AS (SELECT sum(x) AS s FROM hr$i),
           |h$i AS MATERIALIZED (
           |  SELECT v.v, coalesce(hr.x, 0) / hn.s AS h
           |  FROM v CROSS JOIN hn$i hn LEFT JOIN hr$i hr ON v.v = hr.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
         |  FROM lineitem WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         |v AS MATERIALIZED (
         |  SELECT DISTINCT src AS v FROM e0 UNION SELECT DISTINCT dst FROM e0),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
         |h0 AS MATERIALIZED (SELECT v.v, 1.0 / nn.n AS h FROM v CROSS JOIN nn),
         |$rounds
         |SELECT h5.v AS vertex, round(h5.h * 1e6, 4) AS hub_ppm,
         |  round(a5.a * 1e6, 4) AS auth_ppm
         |FROM h5 JOIN a5 ON h5.v = a5.v WHERE h5.v < 1000000
         |ORDER BY vertex""".stripMargin
    },
    "q_pagerank" -> {
      // 5 unrolled power iterations, mirroring Graph.pageRank exactly:
      // rank_i = (1-d)/N + d*(sum_in rank/outdeg + dangling/N)
      val iters = (1 to 5).map { i =>
        val p = s"r${i - 1}"
        s"""dm$i AS (
           |  SELECT coalesce(sum(r.rank), 0) AS dm FROM $p r
           |  LEFT JOIN od ON r.v = od.s WHERE od.s IS NULL),
           |c$i AS MATERIALIZED (
           |  SELECT e.dst AS v, sum(r.rank / od.deg) AS inm
           |  FROM e0 e JOIN $p r ON e.src = r.v JOIN od ON od.s = e.src
           |  GROUP BY 1),
           |r$i AS MATERIALIZED (
           |  SELECT v.v, 0.15 / nn.n + 0.85 * (coalesce(c.inm, 0) + dm.dm / nn.n)
           |    AS rank
           |  FROM v CROSS JOIN nn CROSS JOIN dm$i dm
           |  LEFT JOIN c$i c ON v.v = c.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
         |  FROM lineitem WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         |v AS MATERIALIZED (
         |  SELECT DISTINCT src AS v FROM e0 UNION SELECT DISTINCT dst FROM e0),
         |od AS MATERIALIZED (SELECT src AS s, count(*) AS deg FROM e0 GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
         |r0 AS MATERIALIZED (SELECT v.v, 1.0 / nn.n AS rank FROM v CROSS JOIN nn),
         |$iters
         |SELECT v AS vertex, round(rank * 1e6, 4) AS rank_ppm
         |FROM r5 WHERE v < 1000000 ORDER BY vertex""".stripMargin
    },
    "q_stats" ->
      """SELECT count(*) AS n, round(avg(value), 6) AS mean,
        |  round(stddev_samp(value), 6) AS stdev,
        |  round(var_samp(value), 6) AS variance,
        |  round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
        |FROM events""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_histogram_buckets" ->
      """WITH b AS (SELECT [25000.0, 75000.0, 150000.0] AS inner_b,
        |            [0.0, 25000.0, 75000.0, 150000.0] AS lows,
        |            [25000.0, 75000.0, 150000.0, 300000.0] AS highs),
        |v AS (SELECT o_totalprice AS v FROM orders
        |      WHERE o_totalprice >= 0.0 AND o_totalprice <= 300000.0),
        |c AS (SELECT least(len(list_filter(b.inner_b, x -> v >= x)), 3) AS bucket,
        |        count(*) AS n
        |      FROM v, b GROUP BY 1),
        |base AS (SELECT range AS bucket FROM range(4))
        |SELECT CAST(base.bucket AS INT) AS bucket,
        |  b.lows[base.bucket + 1] AS lo, b.highs[base.bucket + 1] AS hi,
        |  coalesce(c.n, 0) AS n
        |FROM base CROSS JOIN b LEFT JOIN c ON base.bucket = c.bucket
        |ORDER BY bucket""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS n_supp, CAST(round(sum(CAST(s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_zorder" ->
      """SELECT doc_id, n_chars FROM documents ORDER BY doc_id""".stripMargin,
    "q_hilbert" ->
      """SELECT doc_id, n_chars FROM documents ORDER BY doc_id""".stripMargin,
    "q_rollup_count" ->
      """WITH o AS (SELECT o_orderpriority AS priority, o_orderstatus AS st,
        |  CAST(year(o_orderdate) AS BIGINT) AS y, o_custkey,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT priority, coalesce(st, 'ALL') AS status,
        |  coalesce(CAST(y AS VARCHAR), 'ALL') AS yr,
        |  CAST(round(sum(price), 2) AS DOUBLE) AS sum_price,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM o
        |GROUP BY GROUPING SETS ((priority, st, y), (priority, st), (priority, y), (priority))
        |ORDER BY priority, status, yr""".stripMargin,
    "q_drift" ->
      """WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
        |b AS (SELECT quantile_disc(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bounds FROM ref),
        |rb AS (SELECT len(list_filter(b.bounds, x -> v >= x)) AS bucket, count(*) AS n_ref
        |       FROM ref, b GROUP BY 1),
        |cb AS (SELECT len(list_filter(b.bounds, x -> v >= x)) AS bucket, count(*) AS n_cur
        |       FROM cur, b GROUP BY 1),
        |base AS (SELECT range AS bucket FROM range(10)),
        |j AS (SELECT base.bucket, coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |      FROM base LEFT JOIN rb USING (bucket) LEFT JOIN cb USING (bucket)),
        |t AS (SELECT bucket, n_ref, n_cur,
        |        greatest(n_ref / (SELECT sum(n_ref) FROM j), 1e-6) AS pr,
        |        greatest(n_cur / (SELECT sum(n_cur) FROM j), 1e-6) AS pc
        |      FROM j)
        |SELECT CAST(bucket AS INT) AS bucket, n_ref, n_cur,
        |  round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
        |  round((pc - pr) * ln(pc / pr), 6) AS contrib
        |FROM t ORDER BY bucket""".stripMargin,
    "q_welch_t" ->
      """WITH r AS (
        |  SELECT count(*) AS n_ref, avg(o_totalprice) AS mean_ref,
        |    var_samp(o_totalprice) AS var_ref
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |c AS (
        |  SELECT count(*) AS n_cur, avg(o_totalprice) AS mean_cur,
        |    var_samp(o_totalprice) AS var_cur
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
        |j AS (SELECT *, var_ref/n_ref + var_cur/n_cur AS se2 FROM r CROSS JOIN c)
        |SELECT n_ref, n_cur, round(mean_ref, 6) AS mean_ref, round(mean_cur, 6) AS mean_cur,
        |  round((mean_cur - mean_ref) / sqrt(se2), 6) AS t_stat,
        |  round(se2*se2 / ((var_ref/n_ref)*(var_ref/n_ref)/(n_ref-1)
        |                   + (var_cur/n_cur)*(var_cur/n_cur)/(n_cur-1)), 6) AS df
        |FROM j""".stripMargin,
    "q_transitions" ->
      """WITH s AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "q_mann_whitney" ->
      """WITH s AS (
        |  SELECT o_totalprice AS v,
        |    CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END AS t
        |  FROM orders),
        |c AS (SELECT v, sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS nr,
        |             sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS nc
        |      FROM s GROUP BY v),
        |o AS (SELECT v, nr, nc, nr + nc AS m,
        |        coalesce(sum(nr + nc) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |      FROM c),
        |t AS (SELECT sum(nr) AS tnr, sum(nc) AS tnc,
        |        sum(m * (m * m - 1)) AS tiesum,
        |        sum(nc * (2 * off + m + 1)) AS r2cur
        |      FROM o)
        |SELECT CAST(tnr AS BIGINT) AS n_ref, CAST(tnc AS BIGINT) AS n_cur,
        |  CAST(r2cur AS DOUBLE) / 2 - CAST(tnc AS DOUBLE) * (tnc + 1) / 2 AS u_cur,
        |  round((CAST(r2cur AS DOUBLE) / 2 - CAST(tnc AS DOUBLE) * (tnc + 1) / 2
        |         - CAST(tnr AS DOUBLE) * tnc / 2)
        |        / sqrt(CAST(tnr AS DOUBLE) * tnc / 12
        |               * ((tnr + tnc + 1)
        |                  - CAST(tiesum AS DOUBLE) / ((tnr + tnc) * (tnr + tnc - 1)))), 6)
        |    AS z
        |FROM t""".stripMargin,
    "q_chi2_drift" ->
      """WITH r AS (
        |  SELECT o_orderpriority AS cat, count(*) AS cr FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
        |c AS (
        |  SELECT o_orderpriority AS cat, count(*) AS cc FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
        |cells AS (
        |  SELECT coalesce(r.cat, c.cat) AS cat, coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
        |  FROM r FULL OUTER JOIN c ON r.cat = c.cat),
        |t AS (SELECT sum(cr) AS tr, sum(cc) AS tc FROM cells),
        |e AS (
        |  SELECT cat, cc, tr, tc,
        |    greatest(CAST(cr AS DOUBLE), 0.5) / tr * tc AS expd
        |  FROM cells CROSS JOIN t)
        |SELECT count(*) AS n_categories,
        |  CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur,
        |  round(sum((cc - expd) * (cc - expd) / expd), 6) AS chi2
        |FROM e""".stripMargin,
    "q_pct_rank" -> {
      val ps = (0 to 512).map(i => (i.toDouble / 512).toString).mkString(", ")
      s"""WITH g AS (
         |  SELECT quantile_cont(o_totalprice, [$ps]) AS grid
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |p AS (
         |  SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey <= 20000)
         |SELECT o_orderkey,
         |  least(greatest(
         |    (len([b FOR b IN g.grid IF b <= p.o_totalprice]) - 1) / 512.0, 0.0), 1.0)
         |    AS pct_rank
         |FROM p, g ORDER BY o_orderkey""".stripMargin
    },
    "q_corr" ->
      """SELECT * FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |    round(corr(l_quantity, l_extendedprice), 5) AS corr FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_discount',
        |    round(corr(l_quantity, l_discount), 5) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_tax',
        |    round(corr(l_quantity, l_tax), 5) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |    round(corr(l_extendedprice, l_discount), 5) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |    round(corr(l_extendedprice, l_tax), 5) FROM lineitem
        |  UNION ALL SELECT 'l_discount', 'l_tax',
        |    round(corr(l_discount, l_tax), 5) FROM lineitem)
        |ORDER BY col_a, col_b""".stripMargin,
    "q_winsorize" ->
      """WITH th AS (SELECT quantile_cont(o_totalprice, 0.01) AS lo,
        |                   quantile_cont(o_totalprice, 0.99) AS hi FROM orders)
        |SELECT count(*) AS n,
        |  round(avg(greatest(least(o_totalprice, th.hi), th.lo)), 6) AS avg_w,
        |  round(min(greatest(least(o_totalprice, th.hi), th.lo)), 2) AS min_w,
        |  round(max(greatest(least(o_totalprice, th.hi), th.lo)), 2) AS max_w
        |FROM orders CROSS JOIN th""".stripMargin,
    "q_robust_outliers" ->
      """WITH m AS (SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders),
        |d AS (SELECT quantile_cont(abs(o_totalprice - m.med), 0.5) AS mad
        |      FROM orders CROSS JOIN m)
        |SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN abs(o_totalprice - m.med) / (1.4826 * d.mad) > 2.5
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(abs(o_totalprice - m.med) / (1.4826 * d.mad)), 6) AS max_z
        |FROM orders CROSS JOIN m CROSS JOIN d""".stripMargin,
    "q_expectations" ->
      """WITH t AS (SELECT count(*) AS n FROM orders),
        |e AS (
        |  SELECT 'positive_total' AS expectation,
        |    count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, FALSE)) AS v
        |  FROM orders
        |  UNION ALL SELECT 'priority_domain',
        |    count(*) FILTER (WHERE NOT coalesce(o_orderpriority IN
        |      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), FALSE))
        |  FROM orders
        |  UNION ALL SELECT 'date_present',
        |    count(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
        |  UNION ALL SELECT 'total_under_200k',
        |    count(*) FILTER (WHERE NOT coalesce(o_totalprice < 200000.0, FALSE))
        |  FROM orders)
        |SELECT e.expectation, t.n AS n_rows, e.v AS n_violations,
        |  CAST(e.v = 0 AS INT) AS pass
        |FROM e CROSS JOIN t ORDER BY expectation""".stripMargin,
    "q_ks_drift" ->
      """WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
        |u AS (SELECT v, 1 AS r, 0 AS c FROM ref UNION ALL SELECT v, 0 AS r, 1 AS c FROM cur),
        |g AS (SELECT v, sum(r) AS nr, sum(c) AS nc FROM u GROUP BY v),
        |cd AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr,
        |               sum(nc) OVER (ORDER BY v) AS cc FROM g),
        |t AS (SELECT (SELECT count(*) FROM ref) AS tnr, (SELECT count(*) FROM cur) AS tnc),
        |d AS (SELECT v, abs(CAST(cr AS DOUBLE) / CAST(t.tnr AS DOUBLE)
        |                  - CAST(cc AS DOUBLE) / CAST(t.tnc AS DOUBLE)) AS dd
        |      FROM cd CROSS JOIN t)
        |SELECT t.tnr AS n_ref, t.tnc AS n_cur, round(d.dd, 6) AS d_stat, d.v AS at_value
        |FROM d CROSS JOIN t ORDER BY d.dd DESC, d.v LIMIT 1""".stripMargin,
    "q_profile" -> {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_funnel" ->
      """WITH u1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |u2 AS (
        |  SELECT e.user_id, min(u1.t1) AS t1, min(e.ts) AS t2
        |  FROM events e JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u1.t1
        |    AND e.ts <= u1.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1),
        |u3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN u2 ON e.user_id = u2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        |    AND e.ts <= u2.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1)
        |SELECT CAST(step_idx AS INT) AS step_idx, step, users FROM (
        |  SELECT 1 AS step_idx, 'view' AS step, (SELECT count(*) FROM u1) AS users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM u2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM u3))
        |ORDER BY step_idx""".stripMargin,
    "q_funnel_times" ->
      """WITH u1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |u2 AS (
        |  SELECT e.user_id, min(u1.t1) AS t1, min(e.ts) AS t2
        |  FROM events e JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u1.t1
        |    AND e.ts <= u1.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1),
        |u3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN u2 ON e.user_id = u2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        |    AND e.ts <= u2.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1)
        |SELECT u1.user_id, epoch_us(u1.t1) AS t1_us, epoch_us(u2.t2) AS t2_us,
        |  epoch_us(u3.t3) AS t3_us
        |FROM u1 LEFT JOIN u2 ON u1.user_id = u2.user_id
        |LEFT JOIN u3 ON u1.user_id = u3.user_id
        |ORDER BY u1.user_id""".stripMargin,
    "q_survival" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST(datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
        |      AS BIGINT) AS dur,
        |    bool_or(event_type = 'purchase') AS ev
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |pt AS (
        |  SELECT dur AS duration,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        |  FROM subj GROUP BY 1),
    |r AS (
        |  SELECT *, CAST((SELECT sum(n_events + n_censored) FROM pt)
        |    - coalesce(sum(n_events + n_censored) OVER (ORDER BY duration
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_at_risk
        |  FROM pt)
        |SELECT duration, n_at_risk, n_events, n_censored,
        |  CASE WHEN n_events = n_at_risk THEN 0.0 ELSE
        |    round(exp(sum(CASE WHEN n_events < n_at_risk
        |        THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_at_risk) ELSE 0.0 END)
        |      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 6) END AS survival,
        |  round(sum(CAST(n_events AS DOUBLE) / n_at_risk)
        |    OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING), 6) AS hazard
        |FROM r ORDER BY duration""".stripMargin,
    "q_attribution_decay" ->
      """WITH conv AS (
        |  SELECT DISTINCT user_id, ts AS conv_ts FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |t AS (
        |  SELECT user_id, ts AS touch_ts, event_type AS touch_type FROM events
        |  WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL),
        |pairs AS (
        |  SELECT c.user_id, c.conv_ts, t.touch_type,
        |    pow(0.5, CAST(epoch_us(c.conv_ts) - epoch_us(t.touch_ts) AS DOUBLE)
        |      / 1800000000.0) AS w
        |  FROM conv c JOIN t ON c.user_id = t.user_id
        |    AND t.touch_ts >= c.conv_ts - INTERVAL 7200 SECONDS
        |    AND t.touch_ts <= c.conv_ts),
        |tot AS (
        |  SELECT user_id, conv_ts, sum(w) AS sw FROM pairs GROUP BY 1, 2)
        |SELECT p.touch_type, count(*) AS n_touches,
        |  round(sum(p.w / tot.sw), 6) AS credit
        |FROM pairs p JOIN tot USING (user_id, conv_ts)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_attribution_linear" ->
      """WITH conv AS (
        |  SELECT DISTINCT user_id, ts AS conv_ts FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |t AS (
        |  SELECT user_id, ts AS touch_ts, event_type AS touch_type FROM events
        |  WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL),
        |pairs AS (
        |  SELECT c.user_id, c.conv_ts, t.touch_type
        |  FROM conv c JOIN t ON c.user_id = t.user_id
        |    AND t.touch_ts >= c.conv_ts - INTERVAL 7200 SECONDS
        |    AND t.touch_ts <= c.conv_ts),
        |cnt AS (
        |  SELECT user_id, conv_ts, count(*) AS n FROM pairs GROUP BY 1, 2)
        |SELECT p.touch_type, count(*) AS n_touches,
        |  round(sum(1.0 / cnt.n), 6) AS credit
        |FROM pairs p JOIN cnt USING (user_id, conv_ts)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, ts AS conv_ts FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id, ts AS touch_ts, max(event_type) AS touch_type
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY user_id, ts),
        |j AS (
        |  SELECT c.user_id, c.conv_ts, t.touch_type, t.touch_ts
        |  FROM conv c ASOF LEFT JOIN tch t
        |    ON c.user_id = t.user_id AND c.conv_ts >= t.touch_ts)
        |SELECT user_id, epoch_us(conv_ts) AS conv_us,
        |  CASE WHEN touch_ts IS NOT NULL
        |        AND (epoch_us(conv_ts) // 1000000) - (epoch_us(touch_ts) // 1000000) <= 7200
        |       THEN touch_type END AS touch_type,
        |  CASE WHEN touch_ts IS NOT NULL
        |        AND (epoch_us(conv_ts) // 1000000) - (epoch_us(touch_ts) // 1000000) <= 7200
        |       THEN epoch_us(touch_ts) END AS touch_us
        |FROM j ORDER BY user_id, conv_us, touch_us""".stripMargin,
    "q_retention" ->
      """WITH c AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS cohort
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT e.user_id, c.cohort,
        |    CAST(floor((epoch_us(e.ts) - epoch_us(c.cohort)) / (7 * 86400 * 1000000.0)) AS INT) AS period
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.ts >= c.cohort)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, period,
        |  count(*) AS active_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_window_daily" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_v
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "q_window_fixed" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS w_start,
        |  event_type, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_v
        |FROM events GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,
    "q_windowed_join" ->
      """SELECT c.user_id, count(*) AS n_pairs
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND date_trunc('hour', c.ts) = date_trunc('hour', p.ts)
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    "q_window_sliding" ->
      """SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS w_start,
        |  count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_v
        |FROM (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start,
        |         value
        |  FROM events)
        |GROUP BY w_start ORDER BY w_start""".stripMargin,
    "q_window_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM flagged)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end
        |FROM sess GROUP BY user_id, sess_id
        |HAVING user_id <= 100
        |ORDER BY user_id, sess_id""".stripMargin,
    "q_session_state" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM flagged)
        |SELECT user_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end,
        |  round(sum(value), 2) AS sum_v
        |FROM sess GROUP BY user_id, sess_id
        |HAVING user_id <= 100
        |ORDER BY user_id, sess_start""".stripMargin,
    "q_secondary_sort" ->
      """SELECT l_suppkey,
        |  string_agg(l_orderkey::VARCHAR, ',' ORDER BY l_shipdate, l_orderkey) AS orders_by_date
        |FROM lineitem WHERE l_suppkey <= 20
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin
  )
}
