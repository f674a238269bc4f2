package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** CSR-blocked SpMV (SURVEY.md §2.2 G6, §4.4 deferred candidate 2),
  * relational spelling: join blocks with the rank frame on src,
  * `explode(dsts)`, hash-agg by dst — everything stays in Tungsten rows +
  * whole-stage codegen. Computes the exact pr5 trajectory (outdeg =
  * packed adjacency length). Relational, not a typed `cogroup` walk of
  * the packed arrays (LA3's CSC column loop): the typed spelling measured
  * ~20% slower (BASELINE.md round 3, "Blocked kernel A/B").
  */
object BlockedKernel {

  /** Relational blocked kernel: k fixed PR iterations over packed blocks.
    * Blocks and vertices are materialized once (loop-invariant; the lazy
    * 5-iteration plan references them k and k+1 times).
    */
  def prFixedExplode(e: DataFrame, k: Int, numBlocks: Int): DataFrame = {
    val verts = GraphOps.vertices(e).transform(Lineage.cut(_, eager = true))
    val blocks = GraphOps.edgeBlocks(e, numBlocks).toDF()
      .repartition(numBlocks, col("src")).transform(Lineage.cut(_, eager = true))
    var rank = verts.select(col("id"), lit(1.0).as("rank"))
    for (_ <- 1 to k) {
      val msgs = blocks.join(rank.withColumnRenamed("id", "src"), "src")
        .select(explode(col("dsts")).as("id"),
          (col("rank") / size(col("dsts"))).as("m"))
        .groupBy("id").agg(sum(col("m")).as("mass"))
      rank = verts.join(msgs, Seq("id"), "left_outer")
        .select(col("id"), (lit(0.15) +
          lit(0.85) * coalesce(col("mass"), lit(0.0))).as("rank"))
    }
    rank
  }
}
