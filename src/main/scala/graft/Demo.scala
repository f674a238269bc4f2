package graft

import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, PageRank, TriangleCount}
import graft.engine.SuperstepConfig
import graft.graph.GraphOps

/** Minimal end-to-end usage sample — what a reference (LA3) user runs
  * instead of `mpirun bin/pr graph.bin`:
  *
  * {{{
  * sbt "runMain graft.Demo /path/to/edge-list-dir [topK]"
  * }}}
  *
  * Reads a whitespace `src dst [w]` edge list, runs PageRank to 1e-6
  * convergence, connected components to fixpoint, and a triangle count,
  * printing the top-k ranks and summary stats.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      sys.error("usage: graft.Demo <edge-list dir> [topK]"))
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.util.Sessions.local(
      Runtime.getRuntime.availableProcessors.min(8), "graft-demo")
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = SuperstepConfig()

    val edges = GraphOps.readEdgeList(spark, path)
    println(s"edges: ${edges.count()}")

    val pr = PageRank.run(spark, edges, cfg)
    println(s"pagerank: converged=${pr.converged} supersteps=${pr.supersteps}")
    pr.state.orderBy(desc("rank"), col("id")).limit(k).show()

    val cc = ConnectedComponents.run(spark, edges, cfg)
    println(s"components: ${cc.state.select("component").distinct().count()}")

    val tri = TriangleCount.count(edges).head().getLong(0)
    println(s"triangles: $tri")
    spark.stop()
  }
}
