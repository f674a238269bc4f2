package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.{EdgeSet, GraphOps}

/** Neighborhood-based link prediction (Liben-Nowell & Kleinberg, CIKM
  * 2003): score non-adjacent vertex pairs (u, v) that share at least one
  * neighbor by
  *
  *  - cn       — the common-neighbor count, and
  *  - ra_micro — the Resource Allocation index (Zhou, Lü & Zhang, Eur.
  *               Phys. J. B 71, 2009) Σ_{w ∈ N(u)∩N(v)} 1/deg(w), scored
  *               in integer micro-units: each term is `1000000 div deg(w)`
  *               (floored integer division, identical in Spark `div` and
  *               DuckDB `//` for non-negative operands), so the per-pair
  *               sum is an exact BIGINT in both engines. RA is chosen over
  *               Adamic–Adar precisely because it needs no float log —
  *               1/ln(deg) cannot cross the oracle bit-exactly, 10⁶/deg
  *               can (the lcc/harmonic8 micro-unit discipline).
  *
  * Scale shape: the wedge enumeration e(w,u) ⋈ e(w,v) grouped on (u, v) —
  * the same two-shuffle shape as triangle counting, with map-side partial
  * aggregation on the pair key. `maxDeg` is the hot-center guard: a wedge
  * center of degree d contributes d² pairs, so celebrity vertices above
  * the cap are skipped (deterministically — capped runs stay oracle-able,
  * the g_jaccard_capped discipline). The final adjacency check is a
  * left-anti join against the [[EdgeSet.symmetric]] view, shuffled on the
  * same (u, v) key the aggregate just produced.
  */
object LinkPrediction {

  /** Scores pairs of the [[EdgeSet.symmetric]] view of `edges`. Returns
    * (u, v, cn, ra_micro) with u < v for every non-adjacent
    * pair sharing ≥1 common neighbor of degree ≤ maxDeg. Callers
    * order/limit (scores are exact longs, so top-k is deterministic with
    * an (ra_micro, cn, u, v) sort).
    */
  def scores(edges: EdgeSet, maxDeg: Long = 10000L): DataFrame = {
    val und = edges.symmetric.cut.frame
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // wedge legs from capped centers only; deg rides leg 1 so the RA term
    // needs no third join
    val leg1 = und.join(deg.where(col("deg") <= maxDeg)
        .select(col("id").as("src"), col("deg")), "src")
      .select(col("src").as("ctr"), col("dst").as("u"), col("deg"))
    val leg2 = und.select(col("src").as("ctr"), col("dst").as("v"))
    val pairs = leg1.join(leg2, "ctr")
      .where(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000L div deg")).as("ra_micro"))
    pairs.join(und.select(col("src").as("u"), col("dst").as("v")),
      Seq("u", "v"), "left_anti")
  }

  /** Deterministic negative edge sampling — the other half of a
    * link-prediction / embedding training set (word2vec-style negatives):
    * for every vertex, up to `k` NON-neighbors drawn by hashing
    * (vertex : trial) onto the dense vertex-rank space and rejecting
    * self-pairs and known edges. md5 keying makes the sample reproducible,
    * engine-agnostic, and stable per vertex under re-runs; a near-complete
    * vertex (adjacent to almost everything) may yield fewer than k rows —
    * deterministically in both engines.
    *
    * Scale shape: ranks come from [[GraphOps.denseIds]] (two-phase,
    * sort-pinned — no global window); candidates are |V|·trials rows
    * joined on the rank key; the rejection is one left-anti join against
    * the [[EdgeSet.symmetric]] view of `edges` on the SAME (id, neg) key
    * the next aggregate uses; the keep-first-k window partitions by vertex
    * (per-partition state, one vertex's ≤ trials rows).
    *
    * Output (id, neg_id, trial).
    */
  def negativeSample(edges: EdgeSet, trials: Int = 8,
                     k: Int = 2): DataFrame = {
    require(trials >= 1 && k >= 1, s"need trials/k >= 1, got $trials/$k")
    import org.apache.spark.sql.expressions.Window
    val und = edges.symmetric.frame
    val v = und.select(col("src").as("id")).distinct()
    val ranks = GraphOps.denseIds(v, Lineage.partitions(und.sparkSession))
      .select(col("key").cast("long").as("neg"), col("id").as("ci"))
      .transform(Lineage.cut(_, eager = true))
    val n = ranks.count()
    val cand = v
      .select(col("id"), explode(sequence(lit(0), lit(trials - 1))).as("t"))
      .select(col("id"), col("t"),
        (GraphOps.md5Prio(concat_ws(":", col("id"), col("t"))) % n)
          .as("ci"))
    val ok = cand.join(ranks, Seq("ci"))
      .where(col("neg") =!= col("id"))
      .join(und.select(col("src").as("id"), col("dst").as("neg")),
        Seq("id", "neg"), "left_anti")
    ok.withColumn("rn",
        row_number().over(Window.partitionBy("id").orderBy("t")))
      .where(col("rn") <= k)
      .select(col("id"), col("neg").as("neg_id"),
        col("t").cast("long").as("trial"))
  }
}
