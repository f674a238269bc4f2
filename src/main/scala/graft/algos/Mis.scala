package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.{EdgeSet, GraphOps}

/** Maximal independent set — Luby's algorithm with DETERMINISTIC
  * priorities (SURVEY.md §11 queue: the JP-priority machinery, made
  * oracle-checkable): priority(v) = the 60-bit md5 prefix of the id as a
  * BIGINT ([[GraphOps.md5Prio]]) — reproducible in DuckDB byte-for-byte
  * (the [[Coloring]] xxhash64 priorities have no DuckDB twin — md5 does,
  * the oracle-parity discipline), and a LONG so the per-round max
  * aggregate stays on the hash-agg path (the hex-string spelling planned
  * as SortAggregate — VERDICT r4).
  *
  * Per round, over the still-undecided subgraph: a vertex whose priority
  * strictly beats every undecided neighbor's joins the MIS; its neighbors
  * drop out; repeat until no vertex is undecided — expected O(log n)
  * rounds (each round is one join+agg over the shrinking active set, the
  * coloring movement bound). The DuckDB twin runs the same rounds as a
  * recursion to the same fixpoint (everyone decided).
  *
  * Output: (id, in_mis ∈ {0,1}) for every vertex — INDEPENDENT (no edge
  * inside the set) and MAXIMAL (every 0-vertex has a 1-neighbor), both
  * pinned in the spec along with exact equality to a sequential Luby
  * reference using the same priorities.
  */
object Mis {

  /** The MIS of the [[EdgeSet.symmetric]] view of `edges`, and the
    * round count. */
  def run(spark: SparkSession, edges: EdgeSet,
          maxRounds: Int = 100): (DataFrame, Int) = {
    val e = edges.symmetric.frame
      .repartition(Lineage.partitions(spark), col("src"))
      .transform(Lineage.cut(_, eager = true))
    val verts = GraphOps.vertices(e).transform(Lineage.cut(_, eager = true))
    Lineage.withAdaptiveLoopConf(spark, e.count()) { _ =>
    var active = verts
      .select(col("id"), GraphOps.md5Prio(col("id").cast("string")).as("p"))
      .transform(Lineage.cut(_))
    var nActive = active.count()
    var inMis = spark.range(0).select(col("id"))
    val r = Lineage.rounds("MIS", maxRounds)(nActive > 0) { _ =>
      // strict priority local-max among UNDECIDED neighbors (the 60-bit
      // md5 prefix is collision-free on the tested id domains; were two
      // priorities ever equal, neither vertex would win — identically in
      // both engines, which share the prefix)
      val nbrMax = e
        .join(active.select(col("id").as("src"), col("p").as("ps")), "src")
        .groupBy(col("dst").as("id")).agg(max(col("ps")).as("mp"))
      val winners = active.join(nbrMax, Seq("id"), "left_outer")
        .where(col("mp").isNull || col("p") > col("mp"))
        .select("id")
      val out = e
        .join(winners.withColumnRenamed("id", "src"), Seq("src"),
          "left_semi")
        .select(col("dst").as("id")).distinct()
      // one lineage-truncating materialization per round (winners ride it)
      inMis = inMis.unionByName(winners).transform(Lineage.cut(_, eager = true))
      active = active.join(inMis, Seq("id"), "left_anti")
        .join(out, Seq("id"), "left_anti")
        .transform(Lineage.cut(_))
      nActive = active.count()
    }
    val res = verts
      .join(inMis.withColumn("one", lit(1L)), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("one"), lit(0L)).as("in_mis"))
    (res, r)
    }
  }
}
