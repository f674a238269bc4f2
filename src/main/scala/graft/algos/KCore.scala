package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.GraphOps

/** k-core peeling (coverage extension beyond LA3's four apps; the standard
  * companion analysis on link graphs). Each synchronous round removes every
  * vertex whose degree in the current surviving subgraph is < k; run to a
  * fixpoint this yields the k-core. Rounds are MATERIALIZED (one
  * localCheckpoint per round): each round references its predecessor three
  * times (degree agg + two semi-joins), so a lazily-composed unroll grows
  * 3^rounds subtrees — the same reason CC/PR materialize per superstep.
  * The fixed-round variant has an unrolled ANSI-SQL twin in
  * [[graft.OracleSql]].
  */
object KCore {

  /** `rounds` synchronous peels on the symmetrized simple graph.
    * Output: surviving vertices with their in-subgraph degree (id, deg).
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    var e = GraphOps.symmetrize(edges).transform(Lineage.cut(_, eager = true))
    val req = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    Lineage.withAdaptiveLoopConf(spark, e.count(), req) { _ =>
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select("id")
      e = e
        .join(keep.toDF("src"), Seq("src"), "left_semi")
        .join(keep.toDF("dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
        .transform(Lineage.cut(_, eager = true))
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    }
  }

  /** Peel to the true k-core: rounds until no vertex is removed; each round
    * materialized (lineage-truncated). ONE job per round: the lazy
    * localCheckpoint is materialized by the surviving-edge count (the same
    * pattern as LabelPropagation.run — never an eager checkpoint plus a
    * separate count). Returns ((id, deg), roundsRun); throws
    * IllegalStateException if `maxRounds` rounds do not reach the fixpoint.
    */
  def converged(edges: DataFrame, k: Int,
                maxRounds: Int = 100): (DataFrame, Int) = {
    val spark = edges.sparkSession
    var e = GraphOps.symmetrize(edges).transform(Lineage.cut(_, eager = true))
    var n = e.count()
    val req = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    Lineage.withAdaptiveLoopConf(spark, n, req) { _ =>
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val keep = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select("id")
      val next = e
        .join(keep.toDF("src"), Seq("src"), "left_semi")
        .join(keep.toDF("dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
        .transform(Lineage.cut(_))
      val m = next.count() // materializes + truncates lineage in one job
      done = m == n
      n = m
      e = next
      r += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"k-core did not converge in $maxRounds rounds")
    (e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")), r)
    }
  }

  /** Weighted k-core (s-core: Eidsaa & Almaas, PRL 111, 2013) — `rounds`
    * synchronous peels removing every vertex whose WEIGHTED degree
    * (sum of incident integral edge weights) in the surviving subgraph is
    * < s. Input is the directed weighted edge list (src, dst, weight),
    * src < dst oriented; symmetrization preserves the weight on both
    * directions. Weights are exact integers (BIGINT counts), so the
    * DuckDB twin is exact at any equal unroll. Output: surviving vertices
    * with their in-subgraph weighted degree (id, wdeg). Same one
    * agg + two semi-joins per materialized round as [[peel]].
    */
  def peelWeighted(wedges: DataFrame, s: Long, rounds: Int): DataFrame = {
    var e = wedges.select(col("src"), col("dst"), col("weight"))
      .union(wedges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
      .transform(Lineage.cut(_, eager = true))
    val spark = wedges.sparkSession
    val req = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    Lineage.withAdaptiveLoopConf(spark, e.count(), req) { _ =>
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src").as("id"))
        .agg(sum(col("weight")).as("wdeg"))
        .where(col("wdeg") >= s)
        .select("id")
      e = e
        .join(keep.toDF("src"), Seq("src"), "left_semi")
        .join(keep.toDF("dst"), Seq("dst"), "left_semi")
        .select("src", "dst", "weight")
        .transform(Lineage.cut(_, eager = true))
    }
    e.groupBy(col("src").as("id")).agg(sum(col("weight")).as("wdeg"))
    }
  }

  /** Full core DECOMPOSITION — coreness(v) = max k with v ∈ k-core
    * (Seidman, Social Networks 5, 1983; the distributed peel is
    * Montresor/De Pellegrini/Miorandi-style level-synchronous peeling):
    * peel to the 1-core fixpoint, record survivors at level 1, peel the
    * SAME surviving subgraph to the 2-core, record, … until the k-core
    * empties. Coreness is then max level survived — one max-agg over the
    * per-level survivor union. Exact integers throughout; the k levels
    * and per-level rounds are both fixpoints, so the DuckDB twin
    * over-unrolls BOTH axes safely (extra levels/rounds past the fixpoint
    * are no-ops / empty).
    *
    * Each level reuses the previous level's surviving edge set (never
    * restarts from the full graph), so total work is Σ_k |E_k| — the
    * sequential-peel bound, parallelized per round. One driver action per
    * peel round ([[converged]]'s count-materializes discipline).
    *
    * Returns ((id, coreness) for every non-isolated vertex, max coreness,
    * per-level peel round counts — the last level is the empty-k-core
    * check).
    */
  def coreness(edges: DataFrame, maxK: Int = 64): (DataFrame, Int, Seq[Int]) = {
    var e = GraphOps.symmetrize(edges).transform(Lineage.cut(_, eager = true))
    var n = e.count()
    val spark = edges.sparkSession
    var levels = spark.range(0)
      .select(col("id"), col("id").as("coreness"))
    val req = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    Lineage.withAdaptiveLoopConf(spark, n, req) { _ =>
    var k = 0
    val perLevel = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (n > 0) {
      k += 1
      if (k > maxK)
        throw new IllegalStateException(
          s"coreness exceeded maxK=$maxK — raise the bound")
      var done = false
      var lvlRounds = 0
      while (!done) {
        lvlRounds += 1
        val keep = e.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k)
          .select("id")
        val next = e
          .join(keep.toDF("src"), Seq("src"), "left_semi")
          .join(keep.toDF("dst"), Seq("dst"), "left_semi")
          .select("src", "dst")
          .transform(Lineage.cut(_))
        val m = next.count()
        done = m == n
        n = m
        e = next
      }
      perLevel += lvlRounds
      if (n > 0)
        levels = levels
          .unionByName(e.select(col("src").as("id")).distinct()
            .select(col("id"), lit(k.toLong).as("coreness")))
          .transform(Lineage.cut(_, eager = true))
    }
    val out = levels.groupBy("id").agg(max(col("coreness")).as("coreness"))
    (out, k - 1, perLevel.toSeq)
    }
  }
}
