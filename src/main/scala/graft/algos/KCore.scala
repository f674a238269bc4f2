package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.EdgeSet

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

  /** One synchronous peel round, shared by every peel in this object:
    * keep the vertices whose `deg` aggregate over their incident edges is
    * ≥ `min`, then semi-join both endpoints onto them. The caller decides
    * how to cut the returned plan.
    */
  private def peelRound(e: DataFrame, deg: Column, min: Long): DataFrame = {
    val keep = e.groupBy(col("src").as("id"))
      .agg(deg.as("deg"))
      .where(col("deg") >= min)
      .select("id")
    e.join(keep.toDF("src"), Seq("src"), "left_semi")
      .join(keep.toDF("dst"), Seq("dst"), "left_semi")
      .select(e.columns.map(col).toSeq: _*)
  }

  /** `rounds` eagerly-cut peel rounds over the symmetric edge set `e0`,
    * then (id, `name`) = each surviving vertex's `deg` aggregate.
    */
  private def fixedPeel(e0: DataFrame, deg: Column, min: Long, rounds: Int,
                        name: String): DataFrame = {
    val spark = e0.sparkSession
    var e = e0.transform(Lineage.cut(_, eager = true))
    Lineage.withAdaptiveLoopConf(spark, e.count()) { _ =>
    for (_ <- 1 to rounds)
      e = peelRound(e, deg, min).transform(Lineage.cut(_, eager = true))
    e.groupBy(col("src").as("id")).agg(deg.as(name))
    }
  }

  /** Peel the symmetric edge set `e0` (of `n0` rows) to the `k`-core
    * fixpoint: rounds until no edge is removed. ONE job per round: the
    * lazy localCheckpoint is materialized by the surviving-edge count
    * (the same pattern as LabelPropagation.run — never an eager
    * checkpoint plus a separate count). Returns (edges, their count,
    * rounds run); throws IllegalStateException naming `what` if
    * `maxRounds` rounds do not reach the fixpoint.
    */
  private def peelToFixpoint(e0: DataFrame, n0: Long, k: Int, what: String,
                             maxRounds: Int): (DataFrame, Long, Int) = {
    var e = e0
    var n = n0
    var done = false
    val r = Lineage.rounds(what, maxRounds)(!done) { _ =>
      val next = peelRound(e, count(lit(1)), k).transform(Lineage.cut(_))
      val m = next.count() // materializes + truncates lineage in one job
      done = m == n
      n = m
      e = next
    }
    (e, n, r)
  }

  /** `rounds` synchronous peels on the [[EdgeSet.symmetric]] view of
    * `edges`. Output: surviving vertices with their in-subgraph degree
    * (id, deg).
    */
  def peel(edges: EdgeSet, k: Int, rounds: Int): DataFrame =
    fixedPeel(edges.symmetric.frame, count(lit(1)), k, rounds, "deg")

  /** Peel to the true k-core ([[peelToFixpoint]]). Returns
    * ((id, deg), roundsRun); throws IllegalStateException if `maxRounds`
    * rounds do not reach the fixpoint.
    */
  def converged(edges: EdgeSet, k: Int,
                maxRounds: Int = 100): (DataFrame, Int) = {
    val e = edges.symmetric.cut.frame
    val spark = e.sparkSession
    val n = e.count()
    Lineage.withAdaptiveLoopConf(spark, n) { _ =>
    val (core, _, r) = peelToFixpoint(e, n, k, "k-core", maxRounds)
    (core.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")), r)
    }
  }

  /** Weighted k-core (s-core: Eidsaa & Almaas, PRL 111, 2013) — `rounds`
    * synchronous peels removing every vertex whose WEIGHTED degree
    * (sum of incident integral edge weights) in the surviving subgraph is
    * < s. Input is the directed weighted edge list (src, dst, weight),
    * src < dst oriented; symmetrization preserves the weight on both
    * directions. Weights are exact integers (BIGINT counts), so the
    * DuckDB twin is exact at any equal unroll. Output: surviving vertices
    * with their in-subgraph weighted degree (id, wdeg). Same
    * [[peelRound]] as [[peel]], on the weight sum.
    */
  def peelWeighted(wedges: DataFrame, s: Long, rounds: Int): DataFrame =
    fixedPeel(
      wedges.select(col("src"), col("dst"), col("weight"))
        .union(wedges.select(col("dst").as("src"), col("src").as("dst"),
          col("weight"))),
      sum(col("weight")), s, rounds, "wdeg")

  /** Full core DECOMPOSITION — coreness(v) = max k with v ∈ k-core
    * (Seidman, Social Networks 5, 1983; the distributed peel is
    * Montresor/De Pellegrini/Miorandi-style level-synchronous peeling):
    * peel to the 1-core fixpoint, record survivors at level 1, peel the
    * SAME surviving subgraph to the 2-core, record, … until the k-core
    * empties. Coreness is then max level survived — one max-agg over the
    * per-level survivor union. Exact integers throughout; the DuckDB twin
    * runs the same levels, each peeled to its own fixpoint, as one
    * recursion.
    *
    * Each level reuses the previous level's surviving edge set (never
    * restarts from the full graph), so total work is Σ_k |E_k| — the
    * sequential-peel bound, parallelized per round. One driver action per
    * peel round ([[peelToFixpoint]], uncapped: a finite peel always
    * reaches its fixpoint). Throws IllegalStateException if the
    * (maxK+1)-core is not empty.
    *
    * Returns ((id, coreness) for every non-isolated vertex, max coreness,
    * per-level peel round counts — the last level is the empty-k-core
    * check).
    */
  def coreness(edges: EdgeSet,
               maxK: Int = 64): (DataFrame, Int, Seq[Int]) = {
    var e = edges.symmetric.cut.frame
    var n = e.count()
    val spark = e.sparkSession
    var levels = spark.range(0)
      .select(col("id"), col("id").as("coreness"))
    Lineage.withAdaptiveLoopConf(spark, n) { _ =>
    val perLevel = scala.collection.mutable.ArrayBuffer.empty[Int]
    val nLevels = Lineage.rounds("coreness levels", maxK)(n > 0) { k =>
      val (next, m, r) =
        peelToFixpoint(e, n, k, s"coreness level $k", Int.MaxValue)
      e = next
      n = m
      perLevel += r
      if (n > 0)
        levels = levels
          .unionByName(e.select(col("src").as("id")).distinct()
            .select(col("id"), lit(k.toLong).as("coreness")))
          .transform(Lineage.cut(_, eager = true))
    }
    val out = levels.groupBy("id").agg(max(col("coreness")).as("coreness"))
    (out, nLevels - 1, perLevel.toSeq)
    }
  }
}
