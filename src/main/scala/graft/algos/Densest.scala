package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.EdgeSet

/** Densest-subgraph greedy peel (Charikar's 2-approximation, in the
  * parallel ε-batched form of Bahmani, Kumar & Vassilvitskii, VLDB 2012 —
  * both public algorithms): each round measures the current subgraph, then
  * removes EVERY vertex whose degree is at most 2(1+ε)·m/n. At ε = 1 the
  * kept set is strictly smaller than n/2 (vertices above twice the average
  * degree hold less than half the degree mass), so the peel terminates in
  * at most ⌈log₂ n⌉ rounds and the densest round is a 2(1+ε)=4-approx of
  * the optimum density — the standard "find the core community / spam
  * cluster" primitive on link graphs.
  *
  * Exactness discipline: the threshold test `deg ≤ 2m/n` is spelled
  * `deg·n ≤ 2·m2` (m2 = half-edge count = Σdeg, always even) and the
  * best-round argmax compares densities by cross-multiplication
  * (`m2_i·n_j vs m2_j·n_i`) — no float division anywhere, so the whole
  * per-round profile crosses the DuckDB gate as hard integers.
  *
  * Scale shape: each round is ONE degree aggregate (shuffle on vertex id)
  * + one 2-value scalar read + two co-partitioned semi-joins to shrink the
  * edge set; rounds are logarithmic in |V|. The per-round profile is
  * O(log n) scalar pairs on the driver — never row data.
  */
object Densest {

  /** WEIGHTED peel profile — the same ε=1 greedy peel on weighted degree
    * (density = total edge weight / vertices; Σw plays m): remove every
    * vertex with wdeg·n ≤ 2·w2 where w2 = Σ over symmetric edges of the
    * integral weight. The ≥half-shrink argument carries over verbatim
    * (vertices above twice the average weighted degree hold less than
    * half the weight mass), so rounds stay ≤ ⌈log₂ n⌉. Columns:
    * (round, n_vertices, w2_weight, is_best).
    *
    * @param edgesW symmetrized weighted edges (src, dst, weight), integral
    */
  def peelProfileWeighted(spark: SparkSession, edgesW: DataFrame,
                          maxRounds: Int = 64): DataFrame =
    peelLoop(spark, edgesW.select(col("src"), col("dst"),
        col("weight").cast("long").as("w")),
      sum(col("w")), "w2_weight", "weighted densest peel", maxRounds)

  /** Peel profile: one row per executed round, measured BEFORE that
    * round's removal. Columns (all BIGINT): `round` (1-based),
    * `n_vertices` (vertices with ≥1 edge in the current subgraph),
    * `m2_edges` (directed half-edge count = 2× undirected edges),
    * `is_best` (1 on max-density rounds by exact rational compare).
    *
    * @param edges read as its [[EdgeSet.symmetric]] view
    */
  def peelProfile(spark: SparkSession, edges: EdgeSet,
                  maxRounds: Int = 64): DataFrame =
    peelLoop(spark, edges.symmetric.frame,
      count(lit(1)), "m2_edges", "densest peel", maxRounds)

  /** The peel both profiles run: `deg` is the per-vertex degree aggregate
    * and `massCol` names its per-round total in the profile. Each loop
    * head measures the current subgraph (ONE action: vertex count + degree
    * mass off the materialized degree table); the round records it and
    * removes every vertex with deg·n ≤ 2·mass.
    */
  private def peelLoop(spark: SparkSession, edges: DataFrame, deg: Column,
                       massCol: String, what: String,
                       maxRounds: Int): DataFrame =
    Lineage.withLoopConf(spark) {
      var e = edges
        .repartition(Lineage.partitions(spark), col("src"))
        .transform(Lineage.cut(_, eager = true))
      // scale-adaptive round parallelism
      Lineage.withAdaptiveLoopConf(spark, e.count()) { _ =>
      val prof = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var degs: DataFrame = null
      var n = 0L
      var mass = 0L
      def measure(): Boolean = {
        degs = e.groupBy(col("src").as("id"))
          .agg(deg.as("deg"))
          .transform(Lineage.cut(_))
        val row = degs.agg(count(lit(1)), coalesce(sum(col("deg")), lit(0L)))
          .head()
        n = row.getLong(0)
        mass = row.getLong(1)
        n > 0
      }
      Lineage.rounds(what, maxRounds)(measure()) { round =>
        prof += ((round.toLong, n, mass))
        // keep deg·n > 2·mass ⇔ deg > 2(1+ε)·m/n at ε=1; exact integers
        val keep = degs.where(col("deg") * lit(n) > lit(2L * mass))
          .select("id")
        e = e
          .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .transform(Lineage.cut(_))
      }
      // best round(s) by cross-multiplied rational density compare — the
      // profile is O(log n) driver-side scalars, not row data
      val rows = prof.toSeq
      import spark.implicits._
      rows.map { case (r, nv, m) =>
        val best = rows.forall { case (_, nj, mj) => m * nj >= mj * nv }
        (r, nv, m, if (best) 1L else 0L)
      }.toDF("round", "n_vertices", massCol, "is_best")
      }
    }
}
