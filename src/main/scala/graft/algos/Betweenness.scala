package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.GraphOps

/** Sampled-source betweenness centrality (Brandes) — the standard
  * large-graph approximation: run the exact dependency accumulation from a
  * deterministic source sample and sum; with sources = V this IS Brandes'
  * exact algorithm (the equivalence the golden spec pins).
  *
  * Both phases are level-synchronous DataFrame jobs over one materialized
  * edge table, all roots advancing together keyed by (root, id):
  *
  *  - '''forward''': BFS wavefront carrying shortest-path counts σ —
  *    one shuffle join + partial-agg sum per level, newly-discovered
  *    vertices via left-anti against the visited set;
  *  - '''backward''': Brandes' δ accumulation walked from the deepest
  *    level down, δ(v) = σ(v)·Σ_{w∈succ(v)} (1+δ(w))/σ(w) — the successor
  *    restriction is structural (an edge v→w with w one level deeper is
  *    always a shortest-path DAG edge), so no per-edge predecessor list is
  *    ever materialized or shipped.
  *
  * Level frames are localCheckpoint-materialized (the backward pass
  * re-reads them; lazily they would re-run the whole forward phase per
  * level). At scale each level is one co-partitioned shuffle join of the
  * wavefront against the fixed edge layout — the same movement bound as a
  * Superstep round; sampling k sources bounds total work at k·O(E) like
  * any k-source BFS.
  */
object Betweenness {

  /** Deterministic source sample: the k smallest (xxhash64(id), id) vertex
    * ids — distributed top-k (TakeOrderedAndProject), no RNG state.
    */
  def sampledSources(vertices: DataFrame, k: Int): DataFrame =
    vertices.select(col("id"))
      .orderBy(xxhash64(col("id")), col("id")).limit(k)

  /** Betweenness scores (id, btw) from the given source rows (column `id`).
    * Directed semantics; pass a symmetrized edge table for undirected
    * graphs (each undirected pair-dependency is then counted from both
    * endpoints — divide by 2 for the textbook undirected score).
    * Vertices on no shortest path get btw = 0.0. `maxDepth` caps the
    * forward BFS rounds, the last of which finds no new vertex; a deeper
    * graph throws IllegalStateException.
    */
  def run(spark: SparkSession, edges: DataFrame, sources: DataFrame,
          maxDepth: Int = 30): DataFrame =
    runWithRounds(spark, edges, sources, maxDepth)._1

  /** As [[run]], also returning the number of forward BFS rounds. */
  private[graft] def runWithRounds(spark: SparkSession, edges: DataFrame,
                                   sources: DataFrame,
                                   maxDepth: Int = 30): (DataFrame, Int) = {
    val n = Lineage.partitions(spark)
    val e = edges.select("src", "dst")
      .repartition(n, col("src"))
      .transform(Lineage.cut(_, eager = true))
    val verts = GraphOps.vertices(e)

    // --- forward: levels(d) = (root, id, sigma) at distance d ---
    var frontier = sources.select(col("id").as("root"), col("id"),
      lit(1.0).as("sigma")).transform(Lineage.cut(_, eager = true))
    var visited = frontier.select("root", "id").transform(Lineage.cut(_, eager = true))
    var levels = Vector(frontier)
    // each round's new frontier decides whether another level follows:
    // one emptiness check per level
    var growing = true
    val rounds = Lineage.rounds("betweenness forward BFS", maxDepth)(growing) {
        _ =>
      val msgs = frontier.withColumnRenamed("id", "src")
        .join(e, "src")
        .select(col("root"), col("dst").as("id"), col("sigma"))
        .groupBy("root", "id").agg(sum(col("sigma")).as("sigma"))
      frontier = msgs.join(visited, Seq("root", "id"), "left_anti")
        .transform(Lineage.cut(_, eager = true))
      growing = !frontier.isEmpty
      if (growing) {
        visited = visited.union(frontier.select("root", "id"))
          .repartition(n, col("root"), col("id"))
          .transform(Lineage.cut(_, eager = true))
        levels :+= frontier
      }
    }

    // --- backward: delta walked from the deepest level to the roots ---
    var lvlDelta = levels.last.withColumn("delta", lit(0.0))
      .transform(Lineage.cut(_, eager = true))
    var deltas = Vector(lvlDelta)
    for (l <- levels.size - 2 to 0 by -1) {
      val wside = lvlDelta.select(col("root"), col("id").as("dst"),
        col("sigma").as("sw"), col("delta").as("dw"))
      val perPred = e.join(wside, "dst")
        .select(col("root"), col("src").as("id"),
          ((lit(1.0) + col("dw")) / col("sw")).as("part"))
        .groupBy("root", "id").agg(sum(col("part")).as("part"))
      lvlDelta = levels(l)
        .join(perPred, Seq("root", "id"), "left_outer")
        .select(col("root"), col("id"), col("sigma"),
          (col("sigma") * coalesce(col("part"), lit(0.0))).as("delta"))
        .transform(Lineage.cut(_, eager = true))
      deltas :+= lvlDelta
    }

    val allDeltas = deltas.map(_.select("root", "id", "delta"))
      .reduce(_.unionByName(_))
    (verts.join(
        allDeltas.where(col("id") =!= col("root"))
          .groupBy("id").agg(sum(col("delta")).as("btw")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("btw"), lit(0.0)).as("btw")), rounds)
  }
}
