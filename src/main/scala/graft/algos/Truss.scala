package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.EdgeSet

/** k-truss peeling (SURVEY.md §10 round-4 queue item 3): the maximal
  * subgraph in which every edge closes ≥ k−2 triangles WITHIN the
  * subgraph — the standard cohesion companion to [[TriangleCount]] and
  * [[KCore]] (edge-level where k-core is vertex-level).
  *
  * Each synchronous round re-enumerates triangles over the surviving edge
  * set with [[TriangleCount]]'s wedge machinery — degree-ordered
  * orientation (√(2m) forward-degree bound on the wedge fan-out), one
  * self-join for wedges, left-semi closing, both against the broadcast
  * edge set ([[TriangleCount.closedWedges]]) — credits each triangle's
  * three edges in canonical (min,max) form, and drops edges with support
  * < k−2. Rounds are materialized with the 1-job lazy-checkpoint+count
  * pattern (KCore's); the DuckDB oracle runs the same peel as a recursion
  * to its own fixpoint (the kcore3_converged recipe, [[graft.OracleSql]]).
  */
object Truss {

  /** Per-edge triangle support (common-neighbor count) over the
    * [[EdgeSet.canonical]] view of `edges` (each undirected edge once, as
    * src < dst), INCLUDING zero-support edges — the cohesion profile
    * (which edges are embedded in dense neighborhoods vs bridges) that
    * truss peeling consumes as its round-0 table and that a pipeline
    * reads directly for edge-strength features. One degree-
    * oriented wedge enumeration (√(2m)-bounded fan-out) plus a coalescing
    * left join back onto the edge list.
    */
  def edgeSupport(edges: EdgeSet): DataFrame = {
    val e = edges.canonical.frame
    e.join(supports(e), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Per-edge triangle support over the current canonical (src<dst) edge
    * set. Edges in no triangle simply have no row (support 0).
    */
  private def supports(e: DataFrame): DataFrame = {
    // materialized lazily: three plan legs below reference the oriented
    // set; the caller's count materializes everything in one job
    val tris = TriangleCount.closedWedges(
      TriangleCount.orientedByDegree(e).transform(Lineage.cut(_)))
    tris.select(explode(array(
        struct(least(col("a"), col("b")).as("src"),
          greatest(col("a"), col("b")).as("dst")),
        struct(least(col("b"), col("c")).as("src"),
          greatest(col("b"), col("c")).as("dst")),
        struct(least(col("a"), col("c")).as("src"),
          greatest(col("a"), col("c")).as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("support"))
  }

  /** Peel the [[EdgeSet.canonical]] view of `edges` to the k-truss
    * fixpoint (k ≥ 3). Output: surviving canonical edges with their final
    * in-truss support ((src, dst, support), src < dst), plus the number
    * of peel rounds run.
    */
  def converged(edges: EdgeSet, k: Int,
                maxRounds: Int = 100): (DataFrame, Int) = {
    require(k >= 3, s"k-truss needs k >= 3 (got $k)")
    var e = edges.canonical.cut.frame
    val spark = e.sparkSession
    var n = e.count()
    Lineage.withAdaptiveLoopConf(spark, n) { _ =>
    var lastSupp = spark.range(0)
      .select(col("id").as("src"), col("id").as("dst"),
        col("id").as("support"))
    var done = n == 0
    val r = Lineage.rounds("k-truss", maxRounds)(!done) { _ =>
      // supp is lazily checkpointed too: the count below caches it, so the
      // post-loop output read is served from cache instead of re-running
      // the final wedge join
      val supp = supports(e).transform(Lineage.cut(_))
      val next = supp.where(col("support") >= k - 2).select("src", "dst")
        .transform(Lineage.cut(_))
      val m = next.count() // materializes supp's round in one job
      lastSupp = supp
      done = m == n
      n = m
      e = next
    }
    // at the fixpoint the last support table was computed ON the surviving
    // set, so its ≥ k−2 rows are the final edges with final support
    (lastSupp.where(col("support") >= k - 2), r)
    }
  }
}
