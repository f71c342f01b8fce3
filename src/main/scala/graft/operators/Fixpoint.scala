package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.util.JobScope

/** The loop kernel behind every iterative operator in graft: the seven
  * [[Graph]] loops and `Dedup.minhashClustersTransitive`. The shape is
  * Pregel's (Malewicz et al., SIGMOD 2010) over DataFrames: loop-invariant
  * caches built once, then rounds that each rebuild a vertex-sized state
  * frame from the previous one. The kernel owns the machinery the loops
  * share:
  *  - loop caches sized by [[loopPartitions]], hash-partitioned and
  *    sorted on their join key, forced before the loop and released
  *    when it ends, on failure paths too ([[withCaches]]);
  *  - one eager `localCheckpoint` per round. Persist alone is not
  *    enough: it caches execution but the LOGICAL plan still nests, and
  *    by a few dozen rounds plan stringification alone OOMs the driver
  *    (GraphSpec's 25-round chain). The checkpoint keeps every round's
  *    plan one round deep;
  *  - per-round scalars ([[observe]]: convergence counts, pageRank's
  *    dangling mass) computed by the checkpoint's own tasks, so no round
  *    pays a second pass or job for them;
  *  - the round loop ([[iterate]]): a fixed number of rounds, or until a
  *    fixpoint.
  */
private[graft] object Fixpoint {

  /** Loop caches hold ~2M rows per partition (edge rows are 2-3 longs
    * wide, so tens of MB) instead of inheriting
    * `spark.sql.shuffle.partitions`. On a small graph a constant
    * partition count pays a fixed shuffle-file cost per (map task ×
    * round), thread-sampled at sf0.1 as the dominant executor cost of
    * the pageRank loop; on a huge graph it under-splits.
    */
  private val LoopRowsPerPartition = 2L * 1000 * 1000

  /** Never split below this many rows per partition when applying the
    * parallelism floor: 64k edge rows ≈ 1.5 MB per shuffle file keeps
    * the per-file overhead amortized while still parallelizing.
    */
  private val MinLoopRowsPerPartition = 64L * 1024

  /** Partition count for a loop cache of `rows` rows: size-based, with a
    * parallelism floor so a graph under 2M edges does not serialize
    * every round on one core. The floor is max(defaultParallelism,
    * shuffle.partitions), never below [[MinLoopRowsPerPartition]] rows a
    * partition: AQE's EnsureRequirements aligns a co-partitioned join to
    * the session shuffle count and rewrites a lower user-specified count
    * (re-shuffling the CACHED side), so matching it keeps the caches and
    * the per-round aggregates co-partitioned. At scale the size term
    * dominates.
    */
  def loopPartitions(rows: Long): Int = {
    val bySize = (rows + LoopRowsPerPartition - 1) / LoopRowsPerPartition
    val session = org.apache.spark.sql.SparkSession.active
    val par = math.max(
      session.sparkContext.defaultParallelism.toLong,
      session.conf.get("spark.sql.shuffle.partitions", "200").toLong)
    val byPar = math.min(par, rows / MinLoopRowsPerPartition)
    math.max(1L, math.min(math.max(bySize, byPar), 1L << 20)).toInt
  }

  /** The scratch caches of one loop run. */
  final class Caches private[Fixpoint] {
    private[Fixpoint] val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var parts = 1

    /** Persists the loop's raw edge frame; its row count sizes every
      * later [[sorted]] cache. Unpersist it once those are built, so the
      * loop does not pin its edge list twice.
      */
    def base(df: DataFrame): DataFrame = {
      val b = hold(df)
      parts = loopPartitions(b.count())
      b
    }

    /** A loop-invariant cache hash-partitioned and sorted on `key`, so
      * each round's join on `key` neither re-shuffles nor re-sorts it.
      * Forced at once; returned with its row count.
      */
    def sorted(df: DataFrame, key: String): (DataFrame, Long) = {
      val c = hold(df.repartition(parts, col(key)).sortWithinPartitions(col(key)))
      (c, c.count())
    }

    private def hold(df: DataFrame): DataFrame = { held += df; df.persist() }
  }

  /** Runs `body` with a fresh [[Caches]] and releases every cache it
    * built when `body` returns or throws, newest first: a cache released
    * while a later cache built on it is still registered makes Spark
    * re-check (and possibly re-plan) that dependent. The result must not
    * read the caches lazily: loops return a checkpointed frame.
    */
  def withCaches[T](body: Caches => T): T = {
    val c = new Caches
    try body(c) finally c.held.reverseIterator.foreach(_.unpersist())
  }

  private val Metric = "__graft_round"

  /** Attaches a round's scalars to `df`, anywhere in the round's plan;
    * [[iterate]] hands them to the next round and to `done`.
    */
  def observe(df: DataFrame, metric: Column, more: Column*): DataFrame =
    df.observe(Metric, metric, more: _*)

  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Builds round `i`'s `state` with `i` as its jobs'
    * `JobScope.RoundKey`, checkpoints it, and reads its observed scalars
    * straight from the checkpoint's own QueryExecution as soon as it
    * returns. That is the same map Spark's observation handles receive
    * later through the asynchronous listener bus, so no round waits on
    * that bus.
    */
  private def round(sc: SparkContext, i: Int)(state: => DataFrame): (DataFrame, Row) = {
    sc.setLocalProperty(JobScope.RoundKey, i.toString)
    val df = state
    val ckpt = checkpoint(df)
    (ckpt, df.queryExecution.observedMetrics.getOrElse(Metric, Row.empty))
  }

  /** Checkpoints `init`, then runs up to `maxIters` rounds, each
    * checkpointing `step(state, scalars of the previous round)`. Stops
    * early once `done(previous scalars, this round's scalars)` holds.
    * Returns the last state and whether `done` stopped the loop.
    *
    * Each round's jobs carry the round number (0 for `init`) in the
    * local property `JobScope.RoundKey`, which `util.JobScope` records
    * per stage; the caller's value is restored afterwards. It is not
    * the job group, which a loop nested in a measured scope must keep.
    */
  def iterate(init: DataFrame, maxIters: Int, done: (Row, Row) => Boolean = (_, _) => false)
             (step: (DataFrame, Row) => DataFrame): (DataFrame, Boolean) = {
    val sc = init.sparkSession.sparkContext
    val outer = sc.getLocalProperty(JobScope.RoundKey)
    try {
      var (state, seen) = round(sc, 0)(init)
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val (next, now) = round(sc, i + 1)(step(state, seen))
        converged = done(seen, now)
        state = next; seen = now; i += 1
      }
      (state, converged)
    } finally sc.setLocalProperty(JobScope.RoundKey, outer)
  }
}
