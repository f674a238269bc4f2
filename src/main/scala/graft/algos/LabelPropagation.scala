package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.{EdgeSet, GraphOps}

/** Synchronous label propagation (SURVEY.md §2.4 A3, §5.3): label₀ = id;
  * each round every vertex adopts the MODE of its in-neighbors' labels,
  * ties broken toward the smallest label; a vertex with no in-neighbors
  * keeps its label. The mode-with-tiebreak ⊕ doesn't fit a single built-in
  * aggregate, so LP runs a two-level aggregation instead of the
  * [[graft.engine.Superstep]] kernel (SURVEY.md §2.6): groupBy(dst, label)
  * count, then max_by(label, (count, -label)) — deterministic, which is
  * what makes the exact-match gate achievable.
  */
object LabelPropagation {

  /** One synchronous round; withFlag adds a `chg` column so the convergence
    * check can ride the materializing aggregate instead of a second action.
    * `vote` is a neighbor's weight in the mode (count, or Σ weight).
    *
    * `carry = false` (the edges are an [[EdgeSet.Symmetric]], so every
    * vertex has at least one in-neighbor): the mode exists for every
    * vertex, the keep-label carry join disappears, and the round references
    * the previous labels ONCE. That turns a lazily-composed k-round batch
    * from ~2^k plan leaves into a linear chain, which is what lets [[run]]
    * batch more rounds per action on undirected graphs.
    */
  private def round(edges: DataFrame, labels: DataFrame, withFlag: Boolean,
                    carry: Boolean, vote: Column = count(lit(1))): DataFrame = {
    val best = mode(edges, labels, vote)
    if (carry) {
      val joined = labels.join(best, Seq("id"), "left_outer")
      if (withFlag)
        joined.select(col("id"),
          coalesce(col("newlabel"), col("label")).as("label"),
          (col("newlabel").isNotNull &&
            col("newlabel") =!= col("label")).as("chg"))
      else
        joined.select(col("id"),
          coalesce(col("newlabel"), col("label")).as("label"))
    } else if (withFlag) // the one double-reference, last in a batch
      best.join(labels, Seq("id"))
        .select(col("id"), col("newlabel").as("label"),
          (col("newlabel") =!= col("label")).as("chg"))
    else
      best.select(col("id"), col("newlabel").as("label"))
  }

  /** Each vertex's mode among its in-neighbours' labels, as (id,
    * newlabel): the label with the largest `vote` total, ties toward the
    * smallest label. Vertices with no voting in-neighbour get no row.
    */
  private def mode(edges: DataFrame, labels: DataFrame,
                   vote: Column): DataFrame =
    edges.join(labels.withColumnRenamed("id", "src")
        .hint("shuffle_hash"), "src")
      .groupBy(col("dst"), col("label"))
      .agg(vote.as("cnt"))
      .groupBy(col("dst").as("id"))
      .agg(max_by(col("label"),
        struct(col("cnt"), (-col("label")).as("nl"))).as("newlabel"))

  /** Lazily-composed fixed-k rounds (no actions) — oracle-checked path.
    *
    * On an [[EdgeSet.Symmetric]] every vertex has ≥1 in-neighbor, so the
    * carry join goes: the mode then exists for every vertex,
    * `coalesce(newlabel, label)` ≡ `newlabel`, and each round references
    * the previous labels ONCE. The k-round lazy plan collapses from ~2^k
    * leaves (688 KB of formatted plan at k=5 — measured r6) to a linear
    * chain, and k carry joins disappear outright. Results are identical by
    * construction; the oracle is unchanged.
    */
  def fixedRounds(edges: EdgeSet, k: Int): DataFrame =
    lazyRounds(edges, edges.frame.select("src", "dst"), k, count(lit(1)))

  private def lazyRounds(shape: EdgeSet, e: DataFrame, k: Int,
                         vote: Column): DataFrame = {
    val carry = !shape.isInstanceOf[EdgeSet.Symmetric]
    var labels = GraphOps.vertices(e).select(col("id"), col("id").as("label"))
    for (_ <- 1 to k)
      labels = round(e, labels, withFlag = false, carry = carry, vote = vote)
    labels
  }

  /** Semi-supervised (seeded) label propagation: vertices with
    * id % seedMod == 0 are SEEDS holding their own id as an immutable
    * label; every other vertex starts unlabeled and each round adopts the
    * mode label among its LABELED in-neighbors (count desc, smallest-label
    * tie-break — the lp5 determinism discipline), keeping its previous
    * label when no labeled neighbor votes. Labels only ever spread outward
    * from seeds, so after k rounds a vertex is labeled iff it is within k
    * hops of a seed; never-reached vertices report -1 (no NULL crosses the
    * oracle gate). The k-round trajectory replays exactly in SQL.
    *
    * This is the production shape for propagating a small curated taxonomy
    * (spam/license/topic tags on a few repos) over the whole link graph:
    * the frontier is sparse early on, and each round is the same
    * co-partitioned edge join as lp5.
    */
  def seededFixedRounds(edges: DataFrame, k: Int, seedMod: Long): DataFrame = {
    val e = edges.select("src", "dst")
      .transform(Lineage.cut(_, eager = true))
    var labels = GraphOps.vertices(e).select(col("id"),
      when(col("id") % seedMod === 0, col("id"))
        .otherwise(lit(null).cast("long")).as("label"))
    for (_ <- 1 to k) {
      val best = mode(e, labels.where(col("label").isNotNull), count(lit(1)))
      labels = labels.join(best, Seq("id"), "left_outer")
        .select(col("id"),
          when(col("id") % seedMod === 0, col("id"))
            .otherwise(coalesce(col("newlabel"), col("label"))).as("label"))
    }
    labels.select(col("id"), coalesce(col("label"), lit(-1L)).as("label"))
  }

  /** Weighted synchronous LP: neighbor votes weighted by edge weight
    * (Σ weight instead of count), ties broken toward the smallest label —
    * same determinism discipline as the unweighted mode, so exact-match
    * oracles stay achievable. Lazily-composed fixed-k rounds; an
    * [[EdgeSet.Symmetric]] input drops the carry join, as in
    * [[fixedRounds]].
    */
  def weightedFixedRounds(edges: EdgeSet, k: Int): DataFrame =
    lazyRounds(edges, edges.frame.select(col("src"), col("dst"),
      col("weight").cast("double").as("weight")), k, sum(col("weight")))

  /** Rounds composed lazily per materializing action in [[run]] (ONE job
    * of pipelined stages per batch, amortizing the per-round serial
    * term). Each round references the previous labels twice (vote join +
    * carry), so a lazy batch grows ~2^k plan leaves — all pointing at the
    * same cached frame, fine for small k (4 → ≤16 leaves), ruinous for
    * large k (SURVEY.md §9 anti-lesson); on an [[EdgeSet.Symmetric]] the
    * carry join goes and the batch is a linear chain (doubling the batch
    * on top measured slightly slower, r6).
    */
  private val Batch = 4

  /** Materializing variant: runs up to maxRounds, stops early when no label
    * changes; lineage truncated per batch of [[Batch]] rounds. Output:
    * (id, label), rounds run. The changed-flag is computed on the LAST
    * round of the batch only: if that round changed nothing the labels are
    * a fixpoint, so stopping is exact; a run may execute up to Batch-1
    * extra no-op rounds past the fixpoint.
    */
  def run(spark: SparkSession, edges: EdgeSet,
          maxRounds: Int = 50): (DataFrame, Int) = {
    val carry = !edges.isInstanceOf[EdgeSet.Symmetric]
    val e = edges.frame.select("src", "dst")
      .repartition(Lineage.partitions(spark), col("src"))
      .transform(Lineage.cut(_, eager = true))
    val rows = e.count()
    Lineage.withLoopConf(spark) {
    Lineage.withAdaptiveLoopConf(spark, rows) { nEff =>
    var labels = GraphOps.vertices(e)
      .select(col("id"), col("id").as("label"))
      .repartition(nEff, col("id")).transform(Lineage.cut(_, eager = true))
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val inner = math.min(Batch, maxRounds - r)
      var next = labels
      for (i <- 1 to inner)
        next = round(e, next, withFlag = i == inner, carry = carry)
      // ONE action per batch: the lazy localCheckpoint is materialized by
      // the changed-count aggregate (same shape as the Superstep kernel).
      val nextM = next.transform(Lineage.cut(_))
      val m = nextM.agg(sum(when(col("chg"), 1L).otherwise(0L))).head()
      val changed = if (m.isNullAt(0)) 0L else m.getLong(0)
      labels = nextM.drop("chg")
      r += inner
      done = changed == 0
    }
    (labels, r)
    }
    }
  }
}
