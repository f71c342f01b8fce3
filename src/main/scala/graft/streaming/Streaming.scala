package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming mirrors of scio's windowed / stateful stream
  * processing (reference: scio-core WindowedSCollection.scala and
  * PairSCollectionFunctions stateful sections; Beam fixed/sliding/
  * session windows and stateful DoFns).
  *
  * Spark-first: unbounded input is `readStream` → the SAME declarative
  * transforms used in batch → `writeStream`; event time comes from a
  * watermark, windows from `window()`/`session_window()`, and custom
  * state from `flatMapGroupsWithState`. Everything here works on both
  * batch and streaming frames (Structured Streaming's unified model),
  * which is what StreamingSpec asserts.
  */
object Windows {

  /** Beam fixed windows → tumbling `window()` groups. Caller adds
    * aggregates; on a stream combine with OutputMode.Append and the
    * given watermark delay.
    */
  def fixedGroups(df: DataFrame, tsCol: String, duration: String,
                  watermarkDelay: String, extraKeys: Column*): RelationalGroupedDataset =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), duration) +: extraKeys: _*)

  /** Beam sliding windows → `window(ts, duration, slide)`. */
  def slidingGroups(df: DataFrame, tsCol: String, duration: String, slide: String,
                    watermarkDelay: String, extraKeys: Column*): RelationalGroupedDataset =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), duration, slide) +: extraKeys: _*)

  /** Beam session windows → `session_window(ts, gap)` (merging windows
    * handled by Spark's streaming session aggregation).
    */
  def sessionGroups(df: DataFrame, tsCol: String, gap: String,
                    watermarkDelay: String, keys: Column*): RelationalGroupedDataset =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap) +: keys: _*)
}

/** Stream-stream joins — the scio/Beam "join two unbounded
  * SCollections" surface (reference: scio joins run per window via
  * CoGroupByKey once both sides' panes fire; scio-core
  * PairSCollectionFunctions.join on windowed inputs). Spark-first the
  * same semantics are a watermarked stream-stream join: state for each
  * side is retained exactly until the watermark proves no more matches
  * can arrive, then evicted — bounded state at 100 TB/day rates,
  * no batch boundary.
  */
object StreamJoins {

  /** Beam-windowed join: both sides bucket into the same fixed window
    * and join on (key, window) — scio's `join` after `withFixedWindows`
    * on both inputs. The window-equality condition is what lets Spark
    * evict per-window join state as the watermark passes each window
    * end, for inner AND outer modes (outer rows emit null-padded once
    * their window expires — Beam's on-time pane).
    *
    * Column names other than `key` must be disjoint across sides
    * (rename upstream, as with any join).
    */
  def windowedJoin(left: DataFrame, right: DataFrame, key: String,
                   tsLeft: String, tsRight: String, duration: String,
                   watermarkDelay: String, how: String = "inner"): DataFrame = {
    val w = "__graft_w"
    require(!left.columns.contains(w) && !right.columns.contains(w),
      s"reserved column $w already present")
    // The derived window column inherits the event-time tag; the raw ts
    // must then shed its own (Spark allows one event-time column per
    // stream) — re-aliasing with explicit empty metadata clears the
    // watermark tag without touching values.
    def prep(df: DataFrame, ts: String) = {
      val windowed = df.withWatermark(ts, watermarkDelay)
        .withColumn(w, window(col(ts), duration))
      windowed.select(windowed.columns.map {
        case c if c == ts => col(ts).as(ts, org.apache.spark.sql.types.Metadata.empty)
        case c => col(c)
      }: _*)
    }
    prep(left, tsLeft).join(prep(right, tsRight), Seq(key, w), how).drop(w)
  }

  /** Interval-style stream-stream join (the streaming mirror of
    * `operators.Temporal.intervalJoin`, and Flink's interval join):
    * match right rows whose event time lies in
    * `[tsLeft - before, tsLeft + after]` for the same key. The
    * time-range condition plus both watermarks bounds each side's
    * state — Spark evicts a row once the watermark passes the far edge
    * of the interval it could still match.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   tsLeft: String, tsRight: String,
                   before: String, after: String,
                   watermarkDelay: String, how: String = "inner"): DataFrame = {
    val rk = "__graft_rk"
    require(tsLeft != tsRight,
      "tsLeft and tsRight must have distinct names (rename one side upstream)")
    require(!left.columns.contains(rk) && !right.columns.contains(rk),
      s"reserved column $rk already present")
    // the join condition references key/tsLeft/tsRight unqualified —
    // either column appearing on both sides would resolve ambiguously
    require(!left.columns.contains(tsRight),
      s"left already has a column named '$tsRight' (the right-side ts) — rename it upstream")
    require(!right.columns.contains(tsLeft),
      s"right already has a column named '$tsLeft' (the left-side ts) — rename it upstream")
    val l = left.withWatermark(tsLeft, watermarkDelay)
    val r = right.withWatermark(tsRight, watermarkDelay).withColumnRenamed(key, rk)
    l.join(r,
        col(key) === col(rk) &&
          col(tsRight) >= col(tsLeft) - expr(s"INTERVAL $before") &&
          col(tsRight) <= col(tsLeft) + expr(s"INTERVAL $after"),
        how)
      .drop(rk)
  }
}

/** Streaming deduplication — the scio `distinct`/exact-dedup verbs on
  * unbounded input (reference: SCollection.distinct; the Dedup module's
  * exact content-hash dedup is the batch form). State is keyed by the
  * dedup key and bounded by the watermark — without a watermark the
  * key set would grow forever, so both entry points require one.
  */
object StreamDedup {

  /** Exact dedup on (keys, event-time): a duplicate must carry the
    * same timestamp to be suppressed; state for a timestamp is dropped
    * once the watermark passes it. Use when duplicates are true
    * replays (at-least-once sources re-delivering the same record).
    */
  def dedup(df: DataFrame, keys: Seq[String], tsCol: String,
            watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay).dropDuplicates(keys :+ tsCol)

  /** Dedup on keys alone within the watermark horizon: suppresses any
    * later arrival with the same key while the first sighting is
    * within `watermarkDelay` — the streaming mirror of content-hash
    * dedup (key = md5(text)) where re-publishes carry new timestamps.
    */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String], tsCol: String,
                           watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay).dropDuplicatesWithinWatermark(keys)
}

/** A keyed event on the stream (mirrors the `events` test table). */
final case class Event(userId: Long, ts: Timestamp, value: Double)

/** A closed session emitted by [[Sessionize]]. */
final case class SessionAgg(userId: Long, sessStart: Timestamp, sessEnd: Timestamp,
                            nEvents: Long, sumValue: Double)

/** Custom-state sessionizer via `flatMapGroupsWithState` — graft's
  * analogue of a Beam stateful DoFn with an event-time timer. The
  * built-in `session_window` covers plain windowed aggregation;
  * this path exists for session logic the built-in can't express
  * (per-session derived payloads, early emission, caps).
  *
  * State per user is the SET of open sessions (Beam's merging session
  * windows): late in-watermark events may interleave arbitrarily with
  * already-open sessions, so each invocation sweep-merges the open
  * sessions plus the new events (sorted by start; adjacent intervals
  * within the gap coalesce). A session is emitted once the watermark
  * passes `last + gap` — at that point no admissible future event
  * (all have ts ≥ watermark) can merge into it — either during an
  * invocation or via the event-time timeout set to the earliest
  * pending expiry. A batch run never fires timeouts; `emitOpen`
  * flushes everything instead.
  */
object Sessionize {

  /** Open-session accumulator (timestamps in epoch micros). */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long, sum: Double)

  /** State: disjoint open sessions, kept sorted by startUs. */
  final case class SessionSet(sessions: Seq[OpenSession])

  /** Full-µs epoch micros (Timestamp.getTime alone truncates to ms —
    * the events table carries µs precision and the gap compare must
    * match the SQL/oracle sessionization exactly).
    */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def toAgg(userId: Long, s: OpenSession): SessionAgg =
    SessionAgg(userId, tsOf(s.startUs), tsOf(s.lastUs), s.n, s.sum)

  /** Sorted-by-start sweep merge: intervals whose gap-padded spans
    * touch coalesce into one session. Input need not be sorted.
    */
  private[streaming] def sweepMerge(all: Seq[OpenSession], gapUs: Long): Seq[OpenSession] =
    all.sortBy(s => (s.startUs, s.lastUs)).foldLeft(List.empty[OpenSession]) {
      case (prev :: rest, s) if s.startUs - prev.lastUs <= gapUs =>
        OpenSession(prev.startUs, math.max(prev.lastUs, s.lastUs),
          prev.n + s.n, prev.sum + s.sum) :: rest
      case (acc, s) => s :: acc
    }.reverse

  /** Sessionize an event stream with the given inactivity gap.
    *
    * @param emitOpen also emit the still-open sessions at the end of
    *                 each invocation — set ONLY for batch runs (no
    *                 timeouts there to flush final sessions); on a
    *                 stream it would double-emit.
    */
  def sessions(events: Dataset[Event], gapSec: Long = 1800L,
               emitOpen: Boolean = false): Dataset[SessionAgg] = {
    val sess = events.sparkSession
    import sess.implicits._
    val gapUs = gapSec * 1000000L

    events.groupByKey(_.userId).flatMapGroupsWithState[SessionSet, SessionAgg](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (userId: Long, it: Iterator[Event], state: GroupState[SessionSet]) =>
        val merged =
          if (state.hasTimedOut) state.getOption.map(_.sessions).getOrElse(Nil)
          else {
            val fresh = it.map { e =>
              val us = micros(e.ts); OpenSession(us, us, 1L, e.value)
            }.toVector
            sweepMerge(state.getOption.map(_.sessions).getOrElse(Nil) ++ fresh, gapUs)
          }
        if (emitOpen) {
          // Batch: no timeouts ever fire — flush everything.
          state.remove()
          merged.map(toAgg(userId, _)).iterator
        } else {
          // A session is final once the watermark passes last+gap:
          // Spark has already dropped anything later than that, so no
          // admissible future event can merge into it.
          val wmMs = state.getCurrentWatermarkMs()
          val (expired, open) = merged.partition(s => s.lastUs + gapUs < wmMs * 1000L)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionSet(open))
            // earliest pending expiry; ms truncation can land exactly
            // on the watermark, which Spark rejects — clamp past it
            state.setTimeoutTimestamp(
              math.max(open.map(_.lastUs / 1000L + gapSec * 1000L).min, wmMs + 1L))
          }
          expired.map(toAgg(userId, _)).iterator
        }
    }
  }
}

/** Streaming sinks for formats without a native streaming writer
  * (reference intent: scio streaming pipelines write windowed output
  * to sharded files — saveAsTfRecordFile etc. work on unbounded
  * collections). Structured Streaming's escape hatch is
  * `foreachBatch`: each micro-batch is a plain DataFrame, so every
  * graft batch sink applies — one output directory per batch, named
  * by the (exactly-once, checkpoint-tracked) batch id. Batch dirs are
  * the unit of idempotence: a replayed micro-batch overwrites its own
  * directory and nothing else, so the tree stays consistent across
  * failures — exactly the shape a downstream training job consumes
  * (read `path/batch-*`).
  */
object StreamSinks {

  import org.apache.spark.sql.streaming.DataStreamWriter
  import org.apache.spark.sql.Row

  private def perBatch(path: String)(write: (DataFrame, String) => Unit)
      : (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], id: Long) => write(batch.toDF(), f"$path%s/batch-$id%05d")

  /** Carry-forward fanout for the dynamic sinks: `Sampled` auto-fanout
    * re-scans EVERY micro-batch's destination column, but a steady
    * stream's destination histogram is stable batch over batch — so
    * with `carryManifest = true`, batch N sizes its salts from batch
    * N−1's manifest (exact counts, a kilobyte metadata read — the
    * [[graft.sources.Dynamic.Fanout.FromManifest]] path) and only
    * batch 0 (or the first batch after a restart: the carried dir
    * lives in this writer instance, and idempotence is per-batch-dir
    * CONTENT, not layout) pays the sampling pass.
    * `spark.graft.dynamic.streamGrowth` (default 1.2) scales the prior
    * batch's counts for batch-to-batch wobble. Only `Sampled` is
    * rewritten; every other mode passes through untouched.
    */
  private def perBatchDynamic(path: String, fanout: graft.sources.Dynamic.Fanout,
                              carryManifest: Boolean)
                             (write: (DataFrame, String, graft.sources.Dynamic.Fanout) => Unit)
      : (Dataset[Row], Long) => Unit = {
    import graft.sources.Dynamic.Fanout
    @volatile var prevDir: String = null
    (batch: Dataset[Row], id: Long) => {
      val dir = f"$path%s/batch-$id%05d"
      val eff = fanout match {
        case Fanout.Sampled if carryManifest && prevDir != null =>
          val growth = batch.sparkSession.conf
            .get("spark.graft.dynamic.streamGrowth", "1.2").toDouble
          Fanout.FromManifest(prevDir, growth)
        case other => other
      }
      write(batch.toDF(), dir, eff)
      // carry only batches that actually committed manifest entries:
      // an EMPTY micro-batch (idle period, watermark-advance tick)
      // writes no _manifest dir, and carrying its empty histogram
      // would silently downgrade the next real batch's hot
      // destinations to fanout 1 — keep the last non-empty batch's
      // histogram instead (still the best available estimate)
      val mDir = new org.apache.hadoop.fs.Path(dir, "_manifest")
      val fs = mDir.getFileSystem(
        batch.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(mDir)) prevDir = dir
    }
  }

  /** TFRecord shards per micro-batch (`value` binary column). */
  def toTfRecord(ds: Dataset[Row], path: String): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatch(path)((df, p) => graft.sources.TfRecord.write(df, p)))

  /** tf.train.Example shards per micro-batch (schema-driven). */
  def toTfExample(ds: Dataset[Row], path: String): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatch(path)((df, p) => graft.sources.TfExample.write(df, p)))

  /** Avro container shards per micro-batch. */
  def toAvro(ds: Dataset[Row], path: String): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatch(path)((df, p) => graft.sources.Avro.write(df, p)))

  /** Proto-message shards per micro-batch (schema-driven proto3 wire,
    * bytes-in-Avro container or TFRecord framing — [[graft.sources.Protobuf]]).
    */
  def toProtobuf(ds: Dataset[Row], path: String,
                 container: String = "avro"): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatch(path)((df, p) =>
      graft.sources.Protobuf.write(df, p, container)))

  /** Dynamic per-record destinations per micro-batch (destination
    * column → subdirectory under the batch dir). Every batch codec of
    * [[graft.sources.Dynamic]] lifts the same way: a replayed
    * micro-batch re-runs the scatter over ITS OWN batch dir only (the
    * scatter's wipe-and-stamp recognizes its previous attempt via the
    * ownership marker and replaces it whole — other batch dirs are
    * untouched), so exactly-once lands per batch dir. `fanout` passes
    * through, including [[graft.sources.Dynamic.AutoFanout]] — each
    * micro-batch samples its own destination histogram — and
    * `carryManifest = true` turns Sampled into carry-forward mode:
    * batch N reuses batch N−1's manifest instead of re-sampling (see
    * [[perBatchDynamic]]).
    */
  def toDynamicText(ds: Dataset[Row], path: String, destCol: String, textCol: String,
                    fanout: graft.sources.Dynamic.Fanout = graft.sources.Dynamic.Fanout.Static(1),
                    carryManifest: Boolean = false): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatchDynamic(path, fanout, carryManifest)((df, p, f) =>
      graft.sources.Dynamic.saveAsDynamicText(df, p, destCol, textCol, f)))

  /** Dynamic per-destination Avro containers per micro-batch. */
  def toDynamicAvro(ds: Dataset[Row], path: String, destCol: String,
                    fanout: graft.sources.Dynamic.Fanout = graft.sources.Dynamic.Fanout.Static(1),
                    carryManifest: Boolean = false): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatchDynamic(path, fanout, carryManifest)((df, p, f) =>
      graft.sources.Dynamic.saveAsDynamicAvro(df, p, destCol, f)))

  /** Dynamic per-destination RFC 4180 CSV per micro-batch. */
  def toDynamicCsv(ds: Dataset[Row], path: String, destCol: String,
                   header: Boolean = true,
                   fanout: graft.sources.Dynamic.Fanout = graft.sources.Dynamic.Fanout.Static(1),
                   carryManifest: Boolean = false): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatchDynamic(path, fanout, carryManifest)((df, p, f) =>
      graft.sources.Dynamic.saveAsDynamicCsv(df, p, destCol, header, f)))

  /** Dynamic per-destination parquet per micro-batch. */
  def toDynamicParquet(ds: Dataset[Row], path: String, destCol: String,
                       fanout: graft.sources.Dynamic.Fanout = graft.sources.Dynamic.Fanout.Static(1),
                       carryManifest: Boolean = false): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatchDynamic(path, fanout, carryManifest)((df, p, f) =>
      graft.sources.Dynamic.saveAsDynamicParquet(df, p, destCol, f)))

  /** Dynamic per-destination proto shards (bytes-in-Avro) per
    * micro-batch.
    */
  def toDynamicProtobuf(ds: Dataset[Row], path: String, destCol: String,
                        fanout: graft.sources.Dynamic.Fanout = graft.sources.Dynamic.Fanout.Static(1),
                        carryManifest: Boolean = false): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatchDynamic(path, fanout, carryManifest)((df, p, f) =>
      graft.sources.Dynamic.saveAsDynamicProtobuf(df, p, destCol, f)))

  /** Dynamic per-destination WebDataset-style tar shards per
    * micro-batch.
    */
  def toDynamicTar(ds: Dataset[Row], path: String, destCol: String,
                   nameCol: String = "name", valueCol: String = "value",
                   fanout: graft.sources.Dynamic.Fanout = graft.sources.Dynamic.Fanout.Static(1),
                   carryManifest: Boolean = false): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatchDynamic(path, fanout, carryManifest)((df, p, f) =>
      graft.sources.Dynamic.saveAsDynamicTar(df, p, destCol, nameCol, valueCol, f)))

  /** WebDataset-style tar shards per micro-batch
    * (`name` string + `value` binary columns — [[graft.sources.Tar]]).
    */
  def toTar(ds: Dataset[Row], path: String): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch(perBatch(path)((df, p) => graft.sources.Tar.write(df, p)))
}

/** Incremental near-dup lifted to unbounded streams: every micro-batch
  * of documents probes the SAME persisted MinHash index the batch path
  * uses ([[graft.dedup.Dedup.saveMinhashIndex]] /
  * `minhashNewVsIndex`) — new crawl arrives as a stream, matches land
  * as parquet match tables, the historical corpus is never re-read.
  * Batch-dir-per-checkpoint-tracked-batch-id is the idempotence unit
  * (a replayed batch overwrites its own dir only), the same contract
  * as [[StreamSinks]]. Only the micro-batch's documents shingle; the
  * per-batch work is exactly the batch operator's.
  *
  * New vs. index only: each micro-batch is paired with the fixed index
  * at `indexPath` and nothing else. Two near-duplicates that arrive in
  * different micro-batches of the same stream are never paired, and
  * neither are two in the same batch. Pairing them is a streaming
  * set-similarity join (ICDE 2020), which this operator does not do.
  */
object StreamNearDup {

  import org.apache.spark.sql.streaming.DataStreamWriter
  import org.apache.spark.sql.Row

  def againstIndex(ds: Dataset[Row], idCol: String, textCol: String,
                   indexPath: String, outPath: String,
                   minEstJaccard: Double = 0.5, maxBucket: Int = 1000)
      : DataStreamWriter[Row] =
    ds.writeStream.foreachBatch { (batch: Dataset[Row], id: Long) =>
      graft.dedup.Dedup.minhashNewVsIndex(batch.toDF(), idCol, textCol,
          indexPath, minEstJaccard, maxBucket)
        .write.mode("overwrite").parquet(f"$outPath%s/batch-$id%05d")
    }
}

/** Per-micro-batch data-quality monitoring — [[graft.operators.Profile.expect]]
  * lifted to unbounded streams. `withExpectations` rides the named
  * row-level contracts on the SAME pass as the query via `observe()`
  * (accumulator-backed — zero extra scans, works under any sink);
  * each micro-batch's row and violation counts surface in
  * `StreamingQueryProgress.observedMetrics(name)`, where an alerting
  * hook (or [[latestCounts]]) reads them. Null contract matches the
  * batch gate: an unknown value violates unless nullability is
  * explicit.
  */
object StreamMonitor {

  import org.apache.spark.sql.Column

  def withExpectations(df: DataFrame, expectations: Seq[(String, Column)],
                       name: String = "graft_expectations"): DataFrame = {
    // the aggregate bodies come from Profile.violationAggs — batch and
    // streaming gates share ONE statement of the null-violates contract
    val aggs = graft.operators.Profile.violationAggs(
      expectations.map { case (n, p) => (s"viol_$n", p) }, prefix = "")
    df.observe(name, aggs.head, aggs.tail: _*)
  }

  /** The observed counts from a query's latest progress, as
    * (metric → value); empty until the first batch completes or if
    * `name` was never attached.
    */
  def latestCounts(q: org.apache.spark.sql.streaming.StreamingQuery,
                   name: String = "graft_expectations"): Map[String, Long] =
    Option(q.lastProgress)
      .flatMap(p => Option(p.observedMetrics.get(name)))
      .map { row =>
        row.schema.fieldNames.zipWithIndex.collect {
          case (f, i) if !row.isNullAt(i) => f -> row.getLong(i)
        }.toMap
      }
      .getOrElse(Map.empty)
}
