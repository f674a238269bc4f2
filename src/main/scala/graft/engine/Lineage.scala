package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.StatsBridge

/** Per-round lineage truncation for iterative kernels. */
object Lineage {

  /** Loop-scoped session tuning shared by every iterative kernel (the
    * Superstep discipline, extracted in r5 when AQE was measured splitting
    * each one-action SCC round into ~8 stage-jobs — BASELINE.md r5 "SCC
    * rewritten", "AQE job explosion"): AQE off
    * (pure scheduling overhead for hundreds of small identical round
    * jobs), sort-merge join off (round joins must be shuffled-hash — SMJ
    * re-sorts the big side every round), shuffle partitions pinned to the
    * loop's co-partitioning. Restores the previous values on exit.
    */
  def withLoopConf[T](spark: SparkSession, numPartitions: Int)(body: => T): T = {
    val restore = Seq(
      "spark.sql.adaptive.enabled" -> spark.conf.get(
        "spark.sql.adaptive.enabled", "true"),
      "spark.sql.join.preferSortMergeJoin" -> spark.conf.get(
        "spark.sql.join.preferSortMergeJoin", "true"),
      "spark.sql.shuffle.partitions" -> spark.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set("spark.sql.shuffle.partitions", numPartitions.toString)
    try body
    finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

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
  def adaptiveParallelism(rows: Long, requested: Int): Int =
    math.max(1L, math.min(requested.toLong,
      (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt

  /** [[withLoopConf]] with the partition count adapted to the measured
    * input size ([[adaptiveParallelism]]); the body receives nEff.
    */
  def withAdaptiveLoopConf[T](spark: SparkSession, rows: Long,
                              requested: Int)(body: Int => T): T = {
    val nEff = adaptiveParallelism(rows, requested)
    // clamp not engaged → leave the session exactly as it was (AQE etc.):
    // callers here ran un-wrapped before r6 and large inputs measured fine.
    // When it does engage, lower ONLY the shuffle partition count — AQE
    // and join-strategy preferences stay whatever the session chose (the
    // full withLoopConf is for kernels that always ran under it; A/B on
    // the few-round tiny loops measured AQE-off as a small regression:
    // their per-round joins were getting runtime broadcasts).
    if (nEff == requested) body(nEff)
    else {
      val prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
      spark.conf.set("spark.sql.shuffle.partitions", nEff.toString)
      try body(nEff)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
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
