package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.GraphOps

/** Minimum spanning forest via Borůvka's algorithm (1926; the textbook
  * parallel MST — e.g. JáJá §5.2), the one classic bulk-graph operator the
  * family still lacked: per round every component picks its minimum-weight
  * incident edge (cut property: that edge is IN the MSF), picked edges
  * merge components, merged components contract, repeat. Components at
  * least halve per round ⇒ ≤ ⌈log₂ n⌉ rounds regardless of diameter.
  *
  * Determinism + oracle parity: weights are made DISTINCT by packing
  * weight into the high bits and a 40-bit md5 prefix of "src:dst" below
  * ([[Matching.runWeighted]]'s packed-LONG recipe, weight < 2^23
  * enforced), tie-broken totally by (pri, src, dst). With distinct
  * priorities the MSF is UNIQUE, so the DuckDB Borůvka twin, a recursion
  * run to its own fixpoint, must reproduce the exact edge set — a hard
  * gate.
  *
  * Contraction without materializing a vertex relabel: chosen edges form a
  * functional graph on component ids whose only cycles are 2-cycles (the
  * globally-min edge of any would-be longer cycle is chosen by BOTH
  * endpoints — distinct weights), so roots = 2-cycle minima, everything
  * else points toward a root, and pointer jumping (p ← p∘p) reaches the
  * root in O(log depth) rounds. Edges then re-key to root components and
  * deduplicate to the min-priority edge per component pair (only that edge
  * can still enter the MSF — cut property again), which keeps the active
  * edge set SHRINKING: the 100 TB path ships ≤ one edge per component
  * pair per round, never the raw edge list.
  *
  * Discipline: one driver action per Borůvka round (the contracted-edge
  * count materializes the round) plus one per jump round (the change
  * aggregate), both capped by [[graft.engine.Lineage.rounds]].
  */
object Msf {

  /** `edges`: (src, dst, weight) in any orientation; canonicalized to
    * src < dst keeping the min weight per pair, self-loops dropped,
    * integral weights < 2^23 required. Returns the MSF edge set
    * (src, dst, weight) plus stats (rounds, jumpRounds, maxJump).
    */
  def runWithStats(spark: SparkSession, edges: DataFrame,
                   maxRounds: Int = 48,
                   maxJumpRounds: Int = 32): (DataFrame, Map[String, Int]) =
    Lineage.withLoopConf(spark) {
      runLoop(spark, edges, maxRounds, maxJumpRounds)
    }

  private def runLoop(spark: SparkSession, edges: DataFrame, maxRounds: Int,
                      maxJumpRounds: Int): (DataFrame, Map[String, Int]) = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("weight").cast("long").as("weight"))
      .where(col("src") < col("dst"))
      .groupBy("src", "dst").agg(min(col("weight")).as("weight"))
      // lazy shared cut (r6): the wMax guard below otherwise re-ran the
      // whole canonicalization a second time when ce materialized
      .transform(Lineage.cut(_))
    val wMax = Option(canon.agg(max(col("weight"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (wMax >= (1L << 23))
      throw new IllegalArgumentException(
        s"Borůvka MSF requires weight < 2^23, got max $wMax")

    // active contracted edges: (cu, cv, pri, src, dst, weight), cu < cv
    var ce = canon
      .select(col("src").as("cu"), col("dst").as("cv"),
        (shiftleft(col("weight"), 40) +
          conv(substring(md5(concat_ws(":", col("src"), col("dst"))), 1, 10),
            16, 10).cast("long")).as("pri"),
        col("src"), col("dst"), col("weight"))
      .repartition(Lineage.partitions(spark), col("cu"))
      .transform(Lineage.cut(_, eager = true))
    var nActive = ce.count()
    // scale-adaptive round parallelism
    Lineage.withAdaptiveLoopConf(spark, nActive) { nP =>
    var forest = spark.range(0).select(col("id").as("src"),
      col("id").as("dst"), col("id").as("weight"))
    var jumpTotal = 0
    var maxJump = 0

    val rounds = Lineage.rounds("Borůvka MSF", maxRounds)(nActive > 0) {
        round =>
      // 1. per-component min incident edge over the doubled view — TWO
      // phases so the full-edge-set aggregate stays on the HashAggregate
      // path (a single min_by over a struct ordering key has a struct
      // buffer → SortAggregate over |E| rows per round, the VERDICT-r4
      // MIS/matching defect): (a) min LONG priority per component (hash
      // agg, map-side combinable), (b) join-back fetches the achieving
      // edge; 40-bit md5-collision ties (≈|E|²/2^41 pairs) fall through to
      // a struct-min over the ≤2-row residue per component, matching the
      // DuckDB (pri, src, dst) total order
      val byC = ce.select(col("cu").as("c"), col("cv").as("t"),
          col("pri"), col("src"), col("dst"), col("weight"))
        .unionByName(ce.select(col("cv").as("c"), col("cu").as("t"),
          col("pri"), col("src"), col("dst"), col("weight")))
      val mp = byC.groupBy("c").agg(min(col("pri")).as("pri"))
      val chosen = byC.join(mp, Seq("c", "pri"), "left_semi")
        .groupBy("c")
        .agg(min(struct(col("src"), col("dst"), col("t"),
          col("weight"))).as("m"))
        .select(col("c"), col("m.t").as("t"), col("m.src").as("src"),
          col("m.dst").as("dst"), col("m.weight").as("weight"))
        .transform(Lineage.cut(_, eager = true))
      forest = forest
        .unionByName(chosen.select("src", "dst", "weight").distinct())
        .transform(Lineage.cut(_, eager = true))
      // 2. parent pointers; only cycles are 2-cycles → min of each becomes
      // its tree's root (self-parent), everything else keeps its target
      val tgt = chosen.select(col("c"), col("t"))
      var par = tgt
        .join(tgt.select(col("c").as("t"), col("t").as("tt")), "t")
        .select(col("c"),
          when(col("tt") === col("c") && col("c") < col("t"), col("c"))
            .otherwise(col("t")).as("p"))
        .transform(Lineage.cut(_, eager = true))
      // 3. pointer jumping to the roots — one action per jump round
      var jumping = true
      val jr = Lineage.rounds(s"MSF pointer jumping (Borůvka round $round)",
          maxJumpRounds)(jumping) { _ =>
        val nxt = par
          .join(par.select(col("c").as("p"), col("p").as("pp")), "p")
          .select(col("c"), col("pp").as("p"),
            (col("pp") =!= col("p")).as("ch"))
          .transform(Lineage.cut(_))
        jumping = Option(nxt.agg(sum(when(col("ch"), 1L).otherwise(0L)))
          .head().get(0)).exists(_.asInstanceOf[Long] > 0)
        par = nxt.select("c", "p")
      }
      jumpTotal += jr
      maxJump = math.max(maxJump, jr)
      // 4. contract: re-key edges to root components, keep only the
      // min-priority edge per component pair (the sole MSF candidate) —
      // same two-phase argmin (hash-agg LONG min + join-back + tiny
      // struct-min tie residue)
      val rekeyed = ce
        .join(par.select(col("c").as("cu"), col("p").as("nu")), "cu")
        .join(par.select(col("c").as("cv"), col("p").as("nv")), "cv")
        .where(col("nu") =!= col("nv"))
        .select(least(col("nu"), col("nv")).as("cu"),
          greatest(col("nu"), col("nv")).as("cv"),
          col("pri"), col("src"), col("dst"), col("weight"))
      val pmin = rekeyed.groupBy("cu", "cv").agg(min(col("pri")).as("pri"))
      ce = rekeyed.join(pmin, Seq("cu", "cv", "pri"), "left_semi")
        .groupBy("cu", "cv")
        .agg(min(struct(col("src"), col("dst"), col("weight"),
          col("pri"))).as("m"))
        .select(col("cu"), col("cv"), col("m.pri").as("pri"),
          col("m.src").as("src"), col("m.dst").as("dst"),
          col("m.weight").as("weight"))
        .repartition(nP, col("cu"))
        .transform(Lineage.cut(_))
      nActive = ce.count()
    }
    (forest, Map("rounds" -> rounds, "jumpRounds" -> jumpTotal,
      "maxJump" -> maxJump))
    }
  }
}
