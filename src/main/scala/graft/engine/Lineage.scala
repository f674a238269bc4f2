package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.StatsBridge

/** The loop scaffolding of the iterative kernels: the session scopes their
  * rounds run under, the capped round loop, and per-round lineage
  * truncation. A loop's partition count comes from the session
  * ([[partitions]]), lowered to the input's size by
  * [[withAdaptiveLoopConf]].
  */
object Lineage {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The shuffle partition count of `spark`'s session: LA3's process-grid
    * size, fixed when the job is launched (PAPER §4). Every loop kernel
    * takes its requested partition count from here; none takes it as a
    * parameter, and only [[withAdaptiveLoopConf]] lowers it.
    */
  def partitions(spark: SparkSession): Int =
    spark.conf.get(ShufflePartitions).toInt

  /** Runs `body` with the session keys `kv` set, then restores each key's
    * previous value, after a normal exit or a throw.
    */
  private[engine] def withConf[T](spark: SparkSession,
                                  kv: (String, String)*)(body: => T): T = {
    val restore = kv.map { case (k, _) => k -> spark.conf.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Loop-scoped session tuning of the many-round loops (the Superstep
    * discipline, extracted in r5 when AQE was measured splitting each
    * one-action SCC round into ~8 stage-jobs — BASELINE.md r5 "SCC
    * rewritten", "AQE job explosion"): AQE off (pure scheduling overhead
    * for hundreds of small identical round jobs) and sort-merge join off
    * (round joins must be shuffled-hash — SMJ re-sorts the big side every
    * round). The partition count stays the session's ([[partitions]]); a
    * loop lowers it for its rounds with a nested [[withAdaptiveLoopConf]].
    * Restores both keys on exit.
    */
  def withLoopConf[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.join.preferSortMergeJoin" -> "false")(body)

  /** The row unit of [[adaptiveParallelism]]: one adaptive partition's
    * worth of rows. A relation this small is also small enough to collect
    * and finish on the driver.
    */
  val rowsPerPartition: Long = 65536L

  /** Scale-adaptive loop partition count (guide §2.2/§2.5 discipline:
    * derive partitioning from measured input size, never a constant tuned
    * for one box). nEff = min(requested, ceil(rows / rowsPerPartition)),
    * floor 1 — a 4k-edge peel round shouldn't pay 32 tasks/stage across
    * dozens of rounds of pure scheduling, while cluster-scale inputs keep
    * the full requested parallelism (the clamp only ever LOWERS the
    * count). Safe only for partition-count-invariant computations
    * (integer/min/max/count aggregates, joins) — float SUM trajectories
    * (PageRank) keep their pinned count so rounding stays bit-stable.
    */
  private def adaptiveParallelism(rows: Long, requested: Int): Int =
    math.max(1L, math.min(requested.toLong,
      (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt

  /** Runs `body` at the session's partition count lowered to
    * [[adaptiveParallelism]] of the measured `rows`; the body receives
    * that count. Only the partition count changes, and only when the clamp
    * engages: alone, this is the scope of the few-round peels (A/B on
    * their tiny loops measured AQE-off as a small regression — their
    * per-round joins were getting runtime broadcasts — and large inputs
    * ran un-wrapped before r6 and measured fine); nested in
    * [[withLoopConf]], it lowers a many-round loop's count after its prep.
    * Restores the count on exit.
    */
  def withAdaptiveLoopConf[T](spark: SparkSession, rows: Long)(
      body: Int => T): T = {
    val requested = partitions(spark)
    val nEff = adaptiveParallelism(rows, requested)
    if (nEff == requested) body(nEff)
    else withConf(spark, ShufflePartitions -> nEff.toString)(body(nEff))
  }

  /** The capped round loop of every hand-written iterative kernel: runs
    * `round` (given its 1-based number) while `pending` holds and returns
    * the number of rounds run. `pending` is evaluated once per loop head.
    * If it still holds after `maxRounds` rounds, throws
    * IllegalStateException naming `what` — a loop that runs out of rounds
    * fails loudly instead of returning a partial result.
    */
  def rounds(what: String, maxRounds: Int)(pending: => Boolean)(
      round: Int => Unit): Int = {
    var r = 0
    while (pending) {
      if (r >= maxRounds)
        throw new IllegalStateException(
          s"$what did not converge in $maxRounds rounds")
      r += 1
      round(r)
    }
    r
  }

  /** `localCheckpoint` + plan-size clamp. The checkpoint truncates the
    * logical plan but carries the origin plan's size ESTIMATE into the new
    * leaf; in a loop those estimates multiply through every join and their
    * bit-length doubles per round, until Catalyst planning drowns in
    * megabit BigInteger products (see
    * [[org.apache.spark.sql.graftbridge.StatsBridge]] for the measurement).
    * Every loop kernel must truncate lineage through THIS, not through raw
    * localCheckpoint. Honest estimates (≤ Long.MaxValue) pass through
    * unchanged, so one-off checkpoints lose nothing.
    */
  def cut(df: DataFrame, eager: Boolean = false): DataFrame =
    StatsBridge.clampStats(df.localCheckpoint(eager))
}
