package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.{EdgeSet, GraphOps}

/** Maximal matching — the [[Mis]] recipe on the line graph, without
  * materializing it: an edge joins the matching when its priority
  * strictly beats every adjacent edge's (adjacency = shared endpoint),
  * which — priorities being distinct — is exactly "maximal at BOTH
  * endpoints", two per-vertex aggregations per round instead of an
  * edge×edge join. Winners' endpoints leave; incident edges drop out;
  * repeat until no edge remains — expected O(log m) rounds.
  *
  * [[run]] uses the 60-bit md5 prefix of the canonical "src:dst" string as
  * a BIGINT ([[GraphOps.md5Prio]] — LONG keeps the per-round max aggs
  * hash-agg, not SortAggregate), so the DuckDB twin reproduces every round
  * byte-for-byte (oracle-parity discipline). [[runWeighted]] is the
  * locally-dominant-edge greedy for MAX-WEIGHT matching (Preis/Hoepman's
  * 1/2-approximation, public algorithm): priority = weight in the high
  * bits, md5 tie-break in the low 40 — still deterministic, still
  * DuckDB-twinnable with integral weights. The oracles are DuckDB
  * recursions run to the same fixpoint (no active edge). Spec pins
  * validity (no shared endpoints), maximality (every dropped edge touches
  * a matched vertex), and exact equality with sequential references using
  * the same priorities.
  */
object Matching {

  /** Max-weight greedy priority: weight in bits 40+, 40-bit md5 prefix
    * tie-break below. Fits a signed 64-bit for weight < 2^23 (checked at
    * runtime); DuckDB twin:
    * `weight * 1099511627776 + ('0x' || substr(md5(src:dst),1,10))::BIGINT`.
    */
  private def weightedPrio(w: Column, src: Column, dst: Column): Column =
    shiftleft(w.cast("long"), 40) +
      conv(substring(md5(concat_ws(":", src, dst)), 1, 10), 16, 10)
        .cast("long")

  /** Unweighted maximal matching of the [[EdgeSet.canonical]] view of
    * `edges`; returns the canonical (src < dst) matching edges plus the
    * round count.
    */
  def run(spark: SparkSession, edges: EdgeSet,
          maxRounds: Int = 100): (DataFrame, Int) = {
    val init = edges.canonical.frame
      .select(col("src"), col("dst"),
        GraphOps.md5Prio(concat_ws(":", col("src"), col("dst"))).as("p"))
    val (m, r) = greedyLoop(spark, init, maxRounds)
    (m.select("src", "dst"), r)
  }

  /** Greedy max-weight maximal matching (1/2-approx): weights must be
    * integral and < 2^23 (throws otherwise — the priority packs them into
    * the high bits of a signed long). Duplicate orientations of the same
    * pair keep the max weight. Returns (src, dst, weight) + rounds.
    */
  def runWeighted(spark: SparkSession, edges: DataFrame,
                  maxRounds: Int = 100): (DataFrame, Int) = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("weight").cast("long").as("weight"))
      .where(col("src") < col("dst"))
      .groupBy("src", "dst").agg(max(col("weight")).as("weight"))
      // lazy shared cut (r6): the wMax guard otherwise re-ran the whole
      // upstream derivation a second time when the loop materialized
      .transform(graft.engine.Lineage.cut(_))
    val wMax = canon.agg(max(col("weight"))).head().getLong(0)
    if (wMax >= (1L << 23))
      throw new IllegalArgumentException(
        s"weighted matching requires weight < 2^23, got max $wMax")
    val init = canon.select(col("src"), col("dst"), col("weight"),
      weightedPrio(col("weight"), col("src"), col("dst")).as("p"))
    greedyLoop(spark, init, maxRounds)
  }

  /** Greedy maximal b-MATCHING (each vertex matches up to `b` edges; b = 1
    * degenerates to [[run]]): the b-suitor-style locally-dominant rule,
    * relationally — an edge is accepted when its priority RANK among the
    * still-active edges at BOTH endpoints is within each endpoint's
    * remaining capacity. With distinct priorities this computes EXACTLY
    * the sequential greedy b-matching (induction: a rank-r ≤ cap edge
    * survives even if every higher-ranked active edge is accepted, and a
    * vertex saturates only with b sequentially-accepted edges), and every
    * round accepts at least the globally max-priority active edge, so the
    * loop drains in expected O(log m) rounds.
    *
    * Per round: one key-partitioned window rank over the doubled
    * per-endpoint view (a vertex's incident edges sit in both the src and
    * dst columns — no global window), a capacity join, a both-endpoints
    * pass count, and a capacity decrement aggregate. Reads the
    * [[EdgeSet.canonical]] view of `edges`; returns the canonical
    * (src < dst) accepted edges plus the round count.
    */
  def runB(spark: SparkSession, edges: EdgeSet, b: Int,
           maxRounds: Int = 100): (DataFrame, Int) = {
    require(b >= 1, s"b-matching needs b >= 1, got $b")
    import org.apache.spark.sql.expressions.Window
    var active = edges.canonical.frame
      .select(col("src"), col("dst"),
        GraphOps.md5Prio(concat_ws(":", col("src"), col("dst"))).as("p"))
      .repartition(Lineage.partitions(spark), col("src"))
      .transform(Lineage.cut(_, eager = true))
    var nActive = active.count()
    Lineage.withAdaptiveLoopConf(spark, nActive) { _ =>
    var caps = GraphOps.vertices(active)
      .select(col("id").as("v"), lit(b.toLong).as("cap"))
      .transform(Lineage.cut(_, eager = true))
    var matched = spark.range(0)
      .select(col("id").as("src"), col("id").as("dst"))
    val r = Lineage.rounds("b-matching", maxRounds)(nActive > 0) { _ =>
      // rank every edge at EACH endpoint (a vertex's incident edges sit in
      // both the src and dst columns, so rank over the doubled view — one
      // key-partitioned window, no global window)
      val byV = active.select(col("src").as("v"), col("src"), col("dst"),
          col("p"))
        .union(active.select(col("dst").as("v"), col("src"), col("dst"),
          col("p")))
      val winners = byV
        .withColumn("rk", row_number().over(
          Window.partitionBy("v").orderBy(col("p").desc)))
        .join(caps, Seq("v"))
        .where(col("rk") <= col("cap"))
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("okc"))
        .where(col("okc") === 2)
        .select("src", "dst")
        .transform(Lineage.cut(_, eager = true))
      matched = matched.unionByName(winners)
        .transform(Lineage.cut(_, eager = true))
      val used = winners.select(col("src").as("v"))
        .union(winners.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("used"))
      caps = caps.join(used, Seq("v"), "left_outer")
        .select(col("v"),
          (col("cap") - coalesce(col("used"), lit(0L))).as("cap"))
        .where(col("cap") > 0)
        .transform(Lineage.cut(_, eager = true))
      // drop accepted edges and any edge touching a saturated vertex
      active = active
        .join(winners, Seq("src", "dst"), "left_anti")
        .join(caps.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(caps.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .transform(Lineage.cut(_))
      nActive = active.count()
    }
    (matched, r)
    }
  }

  /** Shared locally-dominant-edge loop over (src, dst, [weight,] p) rows
    * with distinct priorities p; keeps all non-p columns on the winners.
    */
  private def greedyLoop(spark: SparkSession, init: DataFrame,
                         maxRounds: Int): (DataFrame, Int) = {
    val outCols = init.columns.filter(_ != "p").toSeq
    var active = init
      .repartition(Lineage.partitions(spark), col("src"))
      .transform(Lineage.cut(_, eager = true))
    var nActive = active.count()
    Lineage.withAdaptiveLoopConf(spark, nActive) { _ =>
    var matched = spark.range(0)
      .select(outCols.map(c => col("id").as(c)): _*)
    val r = Lineage.rounds("matching", maxRounds)(nActive > 0) { _ =>
      // per-endpoint max priority over incident ACTIVE edges
      val byV = active.select(col("src").as("v"), col("p"))
        .union(active.select(col("dst").as("v"), col("p")))
        .groupBy("v").agg(max(col("p")).as("mp"))
      val winners = active
        .join(byV.toDF("src", "mps"), "src")
        .join(byV.toDF("dst", "mpd"), "dst")
        .where(col("p") === col("mps") && col("p") === col("mpd"))
        .select(outCols.map(col): _*)
      // vertices consumed by this round's winners
      val used = winners.select(col("src").as("v"))
        .union(winners.select(col("dst").as("v"))).distinct()
      matched = matched.unionByName(winners)
        .transform(Lineage.cut(_, eager = true))
      active = active
        .join(used.toDF("src"), Seq("src"), "left_anti")
        .join(used.toDF("dst"), Seq("dst"), "left_anti")
        .transform(Lineage.cut(_))
      nActive = active.count()
    }
    (matched, r)
    }
  }
}
