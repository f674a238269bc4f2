package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loop configuration (SURVEY.md §3.4, §4.3).
  *
  * @param maxIter      superstep cap
  * @param tol          stationary convergence: stop when max(residual) < tol;
  *                     frontier programs do not read it
  *                     ([[VertexProgram.residualExpr]])
  * @param numPartitions not read: the loop co-partitions at the session's
  *                     shuffle partition count ([[Lineage.partitions]],
  *                     LA3's process-grid size, fixed at launch)
  * @param broadcastFrontierBelow broadcast the frontier side of the gather
  *                     join when its row count is below this (LA3's
  *                     column-broadcast of active x-segments). Also the
  *                     layout switch: graphs whose vertex count exceeds it
  *                     use the 2D grid layout, where a too-large frontier
  *                     is shuffled ×√P instead of broadcast ×P.
  * @param checkpoint   durable snapshot store; None = in-memory only
  *                     (localCheckpoint lineage truncation each round).
  *                     A store holding a committed snapshot resumes from
  *                     its latest one (SURVEY.md §5.2.3); else superstep 0
  * @param durableEvery write a durable snapshot every k supersteps
  * @param hubTau       explicit skew handling: salt-split adjacency of
  *                     vertices with out-degree > tau (SURVEY.md §2.2 G7)
  * @param gridSide     Some(g): force the 2D (srcBlk, dstBlk) g×g grid edge
  *                     layout (SURVEY.md §2.2 G5 full design); None = auto
  *                     (grid iff the vertex count ≥ broadcastFrontierBelow)
  * @param batchSize    supersteps composed lazily per materializing action —
  *                     amortizes the per-superstep serial term (planning +
  *                     dispatch, measured ~1 s/superstep at local[32]).
  *                     Applies on every layout; on grid/salt a batch > 1
  *                     gives up the small-frontier broadcast sub-paths.
  *                     Convergence is checked at batch boundaries, so a run
  *                     may execute up to batchSize-1 extra supersteps past
  *                     convergence. Results are unchanged only when those
  *                     are no-ops: frontier programs (empty frontier)
  *                     or tol = 0. A stationary program with tol > 0 keeps
  *                     moving its float state in the extra supersteps, so
  *                     its result depends on batchSize — pr_converged runs
  *                     that way on purpose (batchSize = 5, tol = 1e-6).
  */
final case class SuperstepConfig(
    maxIter: Int = 100,
    tol: Double = 1e-6,
    numPartitions: Int = 32,
    broadcastFrontierBelow: Long = 2L * 1000 * 1000,
    checkpoint: Option[CheckpointStore] = None,
    durableEvery: Int = 1,
    hubTau: Option[Long] = None,
    gridSide: Option[Int] = None,
    batchSize: Int = 1)

final case class SuperstepResult(
    state: DataFrame, supersteps: Int, converged: Boolean,
    metrics: Vector[Map[String, String]])

/** The engine's core: LA3's SpMV superstep (scatter → gather ⊗ → combine ⊕
  * → apply, PAPER §4) as one Catalyst plan per iteration:
  *
  * {{{
  * msgs   = edges ⋈ frontier on src   |> select gather ⊗  |> groupBy(dst).agg(⊕)
  * state' = state ⟕ msgs on id        |> apply
  * }}}
  *
  * Edge layouts (chosen once per run, all materialized exactly once):
  *
  *  - '''dst layout''' (small graphs, |V| < broadcastFrontierBelow): edges
  *    hash-co-partitioned by dst; the frontier is broadcast (bounded by the
  *    threshold — frontier ⊆ V), and gather join + combine agg + apply join
  *    all run partition-local: ZERO exchanges per superstep. Best on a
  *    single box, where shuffle throughput does not scale with cores.
  *
  *  - '''2D grid layout''' (G5 full design — large graphs or forced via
  *    gridSide): edges carry (srcBlk, dstBlk) = (hash(src) mod g,
  *    hash(dst) mod g) and are hash-co-partitioned by both. A large
  *    frontier is replicated ×g (NOT ×P) across its srcBlk row of tiles and
  *    shuffled; the gather join is partition-local on the edge side; the
  *    combine agg partially aggregates in-tile (≤ g partial rows per dst)
  *    then exchanges by id; the apply join is co-partitioned. Per-superstep
  *    exchanged volume is O(g·|frontier| + g·|active dst|) — the LA3 ×√P
  *    property — with no driver-side whole-frontier broadcast build. Small
  *    frontiers still use a broadcast gather join adaptively
  *    (broadcastFrontierBelow is honored on EVERY path).
  *
  *  - '''salt layout''' (hubTau): src+salt co-partitioning spreads
  *    pathological hub adjacency across partitions.
  *
  * Scale discipline (SURVEY.md §3.4): only frontier/messages move per
  * superstep; the plan is truncated every batch (localCheckpoint or durable
  * parquet snapshot) so lineage depth stays O(1); exactly one expensive
  * action per batch, with convergence metrics read off the materialized
  * state.
  */
object Superstep {

  def run(spark: SparkSession, edges: DataFrame, graphVertices: DataFrame,
          vp: VertexProgram, cfg: SuperstepConfig): SuperstepResult = {

    // The shared loop conf (every loop shuffle aligns with the edge
    // co-partitioning at the session's partition count) plus one key of
    // its own, restored on exit: the grid gather join clusters on
    // (srcBlk, dstBlk, src) while the tiles are partitioned by the
    // (srcBlk, dstBlk) PREFIX — without subset-key co-partitioning
    // EnsureRequirements re-shuffles the whole edge side every superstep.
    Lineage.withLoopConf(spark) {
      Lineage.withConf(spark,
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
        runLoop(spark, edges, graphVertices, vp, cfg)
      }
    }
  }

  private def blkOf(c: Column, g: Int): Column =
    pmod(xxhash64(c), lit(g.toLong)).cast("int")

  private def runLoop(spark: SparkSession, edges: DataFrame,
                      graphVertices: DataFrame, vp: VertexProgram,
                      cfg: SuperstepConfig): SuperstepResult = {
    val n = Lineage.partitions(spark)

    val withW =
      if (vp.usesEdgeWeight && edges.columns.contains("weight"))
        edges.select(col("src"), col("dst"), col("weight").cast("double"))
      else if (vp.usesEdgeWeight)
        edges.select(col("src"), col("dst"), lit(1.0).as("weight"))
      else edges.select(col("src"), col("dst"))

    // --- resume from the store's latest committed snapshot, else init
    // (before edge prep: the layout choice needs |V|) ---
    val (startStep, state) = cfg.checkpoint.flatMap { ck =>
      ck.latestComplete().map { s =>
        (s + 1, ck.read(spark, s).repartition(n, col("id"))
          .transform(Lineage.cut(_, eager = true)))
      }
    }.getOrElse {
      val s0 = vp.initState(graphVertices)
        .withColumn("changed", lit(true))
        .repartition(n, col("id"))
        .transform(Lineage.cut(_, eager = true))
      (0, s0)
    }
    val numVertices = state.count()

    // Scale-adaptive loop parallelism for frontier programs (exact
    // min/max/count combines — identical results at any shuffle partition
    // count; stationary float-sum programs like PR keep the pinned count
    // so their rounding trajectory stays bit-stable). The clamp only ever
    // LOWERS the count, so cluster-scale runs are unaffected; a 4k-edge CC
    // fixpoint loop stops paying 32 tasks/stage/round.
    if (vp.residualExpr.isEmpty) {
      val pre = withW.transform(Lineage.cut(_, eager = true))
      Lineage.withAdaptiveLoopConf(spark, pre.count()) { nL =>
        loop(spark, pre, nL, n, state, startStep, numVertices, vp, cfg)
      }
    } else loop(spark, withW, n, n, state, startStep, numVertices, vp, cfg)
  }

  /** The edge layout and the superstep loop over the prepared edges `wPre`
    * and initial `state0` (`numVertices` rows, resumed at `startStep`):
    * the loop's shuffles run at `nL` partitions, the state and the durable
    * snapshots at the requested `n`.
    */
  private def loop(spark: SparkSession, wPre: DataFrame, nL: Int, n: Int,
                   state0: DataFrame, startStep: Int, numVertices: Long,
                   vp: VertexProgram, cfg: SuperstepConfig): SuperstepResult = {
    var state = state0
    // --- one-time edge prep: pick ONE layout for the whole run ---
    val saltMode = cfg.hubTau.isDefined
    val gridMode = !saltMode && (cfg.gridSide.isDefined ||
      numVertices >= cfg.broadcastFrontierBelow)
    val g = cfg.gridSide.getOrElse(
      math.max(2, math.round(math.sqrt(n.toDouble)).toInt))
    val (eB, joinKeys) =
      if (saltMode) {
        val tau = cfg.hubTau.get
        val salted = graft.graph.GraphOps
          .splitHubs(wPre.withColumn("weight",
            if (vp.usesEdgeWeight) col("weight") else lit(1.0)), tau)
          .repartition(nL, col("src"), col("salt"))
          .sortWithinPartitions("src", "dst")
        (salted.transform(Lineage.cut(_, eager = true)), Seq("src", "salt"))
      } else if (gridMode) {
        val tiled = wPre
          .withColumn("srcBlk", blkOf(col("src"), g))
          .withColumn("dstBlk", blkOf(col("dst"), g))
          .repartition(nL, col("srcBlk"), col("dstBlk"))
          .sortWithinPartitions("src", "dst")
        (tiled.transform(Lineage.cut(_, eager = true)), Seq("srcBlk", "dstBlk", "src"))
      } else {
        val plain = wPre
          .repartition(nL, col("dst"))
          .sortWithinPartitions("dst", "src")
        (plain.transform(Lineage.cut(_, eager = true)), Seq("src"))
      }
    // src → number of salt groups (1 for non-hubs); tiny unless pathological.
    // Only materialized when hub splitting is on.
    lazy val saltMap = eB.select("src", "nsalts").distinct()
      .repartition(nL, col("src")).transform(Lineage.cut(_, eager = true))
    val anyHubs = saltMode &&
      saltMap.where(col("nsalts") > 1).limit(1).count() > 0
    // Grid mode: src → the dst-blocks its edges actually touch (LA3 ships
    // column segments only to tiles with nonzero entries). Frontier rows
    // then replicate to min(g, #blocks-with-edges) tiles instead of all g.
    // Only engaged when the mean out-degree is below the grid side — on
    // denser graphs nearly every src touches all g blocks and the pruning
    // join is pure per-superstep overhead (measured +26% loop wall on the
    // 74M-edge avg-degree-140 corpus graph at 8 cores). The join is
    // co-partitioned with the state (hash by src = id, same n), no exchange.
    val prunedScatter = gridMode && {
      val nEdges = eB.count() // cheap: counts the checkpointed blocks
      nEdges < numVertices.toDouble * g
    }
    val blkMap =
      if (prunedScatter)
        eB.groupBy("src").agg(collect_set(col("dstBlk")).as("dstBlks"))
          .repartition(nL, col("src")).transform(Lineage.cut(_, eager = true))
      else null

    var metrics = Vector.empty[Map[String, String]]
    var converged = false
    var step = startStep
    var lastDurable = startStep - 1
    var frontierSize = state.where(col("changed")).count()

    // Batching: a batch is one job whose k supersteps are pipelined stages
    // with no driver round-trip between them. On the shuffle layouts
    // (grid/salt) that is 2k shuffle stages per job. On the broadcast (dst)
    // layout each superstep's frontier broadcast still materializes its
    // input as a build job — but with the per-superstep lazy cuts (r6) the
    // build reads the PREVIOUS superstep's cached RDD instead of
    // re-executing its subtree, so batching now saves the per-superstep
    // metrics action + convergence round-trip there too. Convergence is
    // checked at batch boundaries, so up to batchSize-1 supersteps run past
    // it. They are no-ops for frontier programs (empty frontier) and
    // at tol = 0, where results are unchanged at any batch size; a
    // stationary program with tol > 0 keeps refining its state in them, so
    // its result depends on the batch size (see SuperstepConfig.batchSize).
    val effectiveBatch = math.max(1, cfg.batchSize)

    // One lazily-composed superstep: current state → next state.
    def superstep(cur: DataFrame): DataFrame = {
      val frontierRaw =
        if (vp.residualExpr.isDefined) cur else cur.where(col("changed"))
      // LA3 communication filtering: only active vertices scatter. Project
      // to the columns the gather expression actually reads — state
      // bookkeeping columns don't belong on the wire.
      val gatherRefs = vp.gatherStateColumns.toSet
      val keepCols = frontierRaw.columns
        .filter(c => c == "id" || gatherRefs.contains(c))
      val frontier0 = frontierRaw.select(keepCols.map(col).toSeq: _*)
        .withColumnRenamed("id", "src")
      // frontierSize is measured at batch boundaries, so it bounds only a
      // batch's first superstep. The dst layout broadcasts every frontier
      // regardless (frontier ⊆ V, |V| < broadcastFrontierBelow), mid-batch
      // too: each build reads the previous superstep's lazily-cut cached
      // RDD. On grid/salt |V| may exceed the bound and a mid-batch
      // frontier can outgrow it, so their broadcast sub-paths are taken
      // only when supersteps materialize one at a time.
      val smallFrontier = frontierSize < cfg.broadcastFrontierBelow &&
        (effectiveBatch == 1 || !(gridMode || saltMode))
      val msgs =
        if (saltMode) {
          // Hub replication: frontier rows for salted vertices go to every
          // salt; shuffled-hash join on (src, salt) unless small enough to
          // broadcast. The shuffle_hash hint is required because
          // localCheckpointed inputs have unknown stats and the planner
          // would fall back to sort-merge, re-sorting the edge side.
          val fr0 =
            if (anyHubs)
              frontier0.join(saltMap, "src")
                .withColumn("salt",
                  explode(sequence(lit(0), col("nsalts") - 1)))
                .drop("nsalts")
            else frontier0.withColumn("salt", lit(0))
          val fr = if (smallFrontier) broadcast(fr0) else fr0.hint("shuffle_hash")
          eB.join(fr, joinKeys)
        } else if (gridMode && !smallFrontier) {
          // Grid path: frontier replicated across its srcBlk tile row —
          // to the dst-blocks actually holding its edges when the scatter
          // is pruned (sparse graphs), to all g otherwise — and shuffled
          // to the (srcBlk, dstBlk) co-partitioning; the edge side never
          // moves (its HashPartitioning is a prefix of the join keys).
          val replicated =
            if (prunedScatter)
              frontier0.join(blkMap.hint("shuffle_hash"), "src")
                .withColumn("srcBlk", blkOf(col("src"), g))
                .withColumn("dstBlk", explode(col("dstBlks")))
                .drop("dstBlks")
            else
              frontier0
                .withColumn("srcBlk", blkOf(col("src"), g))
                .withColumn("dstBlk",
                  explode(array((0 until g).map(b => lit(b)): _*)))
          eB.join(replicated.hint("shuffle_hash"), joinKeys)
        } else {
          // Broadcast gather join (dst layout always — bounded by |V| <
          // broadcastFrontierBelow; grid layout adaptively for small
          // frontiers). Edge partitions stream in place.
          eB.join(broadcast(frontier0), Seq("src"))
        }
      val agged = msgs
        .select(col("dst").as("id"), vp.gatherExpr.as("msg"))
        .groupBy("id")
        .agg(vp.combineExpr(col("msg")).as("agg"))
      vp.applyState(cur.drop("changed"), agged.hint("shuffle_hash"))
    }

    while (step < cfg.maxIter && !converged) {
      val t0 = System.nanoTime()
      val inner = math.min(effectiveBatch, cfg.maxIter - step)
      var newState = state
      // LAZY per-superstep cut inside a batch: each superstep references its
      // input TWICE (frontier projection + apply join), so a lazily-composed
      // batch of k supersteps otherwise carries ~2^k copies of the earlier
      // supersteps' subtrees — the duplicated probe pipelines re-execute even
      // where ReuseExchange dedupes the shuffles (the fixedRounds r6
      // finding). The cut makes both references share ONE checkpointed RDD;
      // the whole batch still materializes as a single pipelined job at the
      // batch-boundary action below. Values are unchanged: the cut preserves
      // partitioning and the cached rows are exactly what recomputation
      // would produce (AQE off, pinned partition count).
      for (j <- 1 to inner) {
        newState = superstep(newState)
        if (j < inner) newState = newState.transform(Lineage.cut(_))
      }
      val stepAfter = step + inner

      // Materialize once per batch: durable snapshot (Iceberg-shaped) or
      // in-memory. Durable fires whenever the batch CROSSES a durableEvery
      // boundary (stepAfter/k > step/k), not only when it lands exactly on
      // one — batchSize=4 with durableEvery=5 still snapshots ~every 5.
      val durable = cfg.checkpoint.isDefined &&
        (stepAfter / cfg.durableEvery > step / cfg.durableEvery ||
          stepAfter >= cfg.maxIter)
      val materialized =
        if (durable) {
          val ck = cfg.checkpoint.get
          val (loaded, _) = ck.writeAndLoad(stepAfter - 1, newState, Map(
            "superstep" -> (stepAfter - 1).toString,
            "frontier" -> frontierSize.toString,
            "wallMs" -> ((System.nanoTime() - t0) / 1000000).toString), n)
          lastDurable = stepAfter - 1
          loaded
        } else newState.transform(Lineage.cut(_)) // lazy: materialized by the
      // metrics aggregate below — ONE job per batch computes the pipeline,
      // caches the state blocks, and truncates lineage.
      val resCol = vp.residualExpr.getOrElse(lit(0.0))
      val m = materialized.agg(
        sum(when(col("changed"), 1L).otherwise(0L)).as("nChanged"),
        max(resCol).as("residual"),
        count(lit(1)).as("rows")).head()
      val nChanged = Option(m.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val residual = Option(m.get(1)).map(_.toString.toDouble).getOrElse(0.0)
      val wallMs = (System.nanoTime() - t0) / 1000000
      metrics :+= Map(
        "superstep" -> (stepAfter - 1).toString,
        "rows" -> m.getLong(2).toString,
        "changed" -> nChanged.toString, "residual" -> residual.toString,
        "frontier" -> frontierSize.toString, "wallMs" -> wallMs.toString,
        "batch" -> inner.toString,
        "layout" -> (if (saltMode) "salt" else if (gridMode) s"grid$g"
                     else "dst"))

      state = materialized
      frontierSize = nChanged
      converged =
        if (vp.residualExpr.isDefined) residual < cfg.tol else nChanged == 0L
      step = stepAfter
    }
    // A run that converges between durable snapshots would otherwise leave
    // its FINAL state un-checkpointed, making resume recompute supersteps
    // from a stale snapshot. Write the final snapshot if it's missing.
    cfg.checkpoint.foreach { ck =>
      if (step > startStep && lastDurable != step - 1)
        ck.write(step - 1, state, Map(
          "superstep" -> (step - 1).toString,
          "converged" -> converged.toString,
          "frontier" -> frontierSize.toString))
    }
    SuperstepResult(state.drop("changed"), step, converged, metrics)
  }
}
