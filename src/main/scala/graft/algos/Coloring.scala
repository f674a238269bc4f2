package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.{EdgeSet, GraphOps}

/** Deterministic Jones–Plassmann graph coloring: vertex priorities are the
  * (xxhash64(id), id) total order — no RNG state — and each round every
  * uncolored vertex that is a priority local-max among its UNCOLORED
  * neighbors takes the smallest color unused by its already-colored
  * neighbors. Expected O(log n) rounds; every round is two co-partitioned
  * joins + aggregations over the shrinking uncolored set (the classic
  * independent-set peel on the same movement bound as a superstep).
  *
  * The mex (smallest free color) is computed per selected vertex as
  * `array_min(array_except(sequence(0, |used|), used))` — bounded by the
  * vertex's colored-degree. At extreme hub degrees a capped-palette
  * variant (recolor conflicts) would bound the array; not needed at the
  * tested scales.
  *
  * Output (id, color) is a PROPER coloring (no edge monochromatic) and is
  * bit-deterministic — ColoringSpec pins equality with a sequential
  * Jones–Plassmann reference and properness on random graphs.
  */
object Coloring {

  /** Colors the [[EdgeSet.symmetric]] view of `edges` (coloring is an
    * undirected notion); returns (id, color) and the round count.
    * With `md5Pri` the priority order is the 60-bit md5 prefix of the id
    * ([[GraphOps.md5Prio]] — the Mis/Matching discipline), which HAS a
    * byte-exact DuckDB twin, so the md5 variant runs under the full
    * oracle where the xxhash64 default is rows-only.
    */
  def runWithRounds(spark: SparkSession, edges: EdgeSet,
                    maxRounds: Int = 60,
                    md5Pri: Boolean = false): (DataFrame, Int) = {
    val e = edges.symmetric.frame
      .repartition(Lineage.partitions(spark), col("src"))
      .transform(Lineage.cut(_, eager = true))
    val nEdges = e.count()
    Lineage.withAdaptiveLoopConf(spark, nEdges) { nEff =>
    val priExpr =
      if (md5Pri)
        struct(GraphOps.md5Prio(col("id").cast("string")), col("id"))
      else struct(xxhash64(col("id")), col("id"))
    var uncolored = GraphOps.vertices(e)
      .select(col("id"), priExpr.as("pri"))
      .repartition(nEff, col("id"))
      .transform(Lineage.cut(_, eager = true))
    var colored = spark.range(0).select(col("id"), lit(0).cast("int")
      .as("color")) // empty (id, color)
    // A silent partial coloring is worse than a loud failure: JP colors at
    // least one vertex per round (the global max priority is always a
    // local max), so exhausting maxRounds with vertices left means the
    // caller under-budgeted rounds.
    val r = Lineage.rounds("coloring", maxRounds)(!uncolored.isEmpty) { _ =>
      // priority local-max among uncolored neighbors
      val nbrPri = e
        .join(uncolored.select(col("id").as("src"), col("pri")), "src")
        .select(col("dst").as("id"), col("pri"))
        .groupBy("id").agg(max(col("pri")).as("maxNbrPri"))
      val winners = uncolored
        .join(nbrPri, Seq("id"), "left_outer")
        .where(col("maxNbrPri").isNull || col("pri") > col("maxNbrPri"))
        .select("id")
      // smallest color unused by colored neighbors (mex)
      val usedBy = e
        .join(colored.select(col("id").as("dst"), col("color")), "dst")
        .select(col("src").as("id"), col("color"))
        .join(winners, Seq("id"), "left_semi")
        .groupBy("id").agg(collect_set(col("color")).as("used"))
      val newly = winners
        .join(usedBy, Seq("id"), "left_outer")
        .select(col("id"),
          when(col("used").isNull, lit(0)).otherwise(
            array_min(array_except(
              sequence(lit(0), size(col("used"))), col("used"))))
            .cast("int").as("color"))
      colored = colored.unionByName(newly)
        .repartition(nEff, col("id"))
        .transform(Lineage.cut(_, eager = true))
      uncolored = uncolored.join(newly, Seq("id"), "left_anti")
        .transform(Lineage.cut(_, eager = true))
    }
    (colored, r)
    }
  }
}
