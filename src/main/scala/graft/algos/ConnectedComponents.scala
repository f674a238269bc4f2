package graft.algos

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.engine.{Superstep, SuperstepConfig, SuperstepResult, VertexProgram}
import graft.graph.{EdgeSet, GraphOps}

/** HashMin connected components (SURVEY.md §2.4 A2): symmetrize, label =
  * min vertex id in component, non-stationary frontier until fixpoint.
  * Integer domain → exact-match correctness gate.
  */
object ConnectedComponents {

  private object CcProgram extends VertexProgram {
    def initState(vertices: DataFrame): DataFrame =
      vertices.select(col("id"), col("id").as("label"))
    def gatherExpr: Column = col("label")
    def gatherStateColumns: Seq[String] = Seq("label")
    override def usesEdgeWeight: Boolean = false
    def combineExpr(msg: Column): Column = min(msg)
    def applyState(state: DataFrame, msgs: DataFrame): DataFrame =
      state.join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), col("agg")).as("label"),
          (col("agg").isNotNull && col("agg") < col("label")).as("changed"))
    val residualExpr: Option[Column] = None // frontier: exact min combine
  }

  /** Exact components to fixpoint of the [[EdgeSet.symmetric]] view of
    * `edges` (a directed input is read as undirected). Output:
    * (id, component).
    */
  def run(spark: SparkSession, edges: EdgeSet,
          cfg: SuperstepConfig): SuperstepResult = {
    val und = edges.symmetric.frame
    val verts = GraphOps.vertices(und)
    val r = Superstep.run(spark, und, verts, CcProgram, cfg)
    r.copy(state = r.state.select(col("id"), col("label").as("component")))
  }

  /** Large-star/small-star components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): alternating star
    * contractions converge in O(log² n) ROUNDS regardless of diameter,
    * where [[run]]'s HashMin needs O(diameter) rounds — the scale path for
    * high-diameter graphs (chains of links, long dependency paths). Per
    * round:
    *
    *  - '''large-star''': every vertex u points its LARGER neighbors at
    *    m = min(N(u) ∪ u) — emit (v, m) for v ∈ N(u), v > u;
    *  - '''small-star''': u links its ≤-neighbors and itself to
    *    m = min({v ∈ N(u): v ≤ u} ∪ u) — emit (v, m) for those v plus
    *    (u, m).
    *
    * Each star's m is one window `min` over u's neighbour rows, and the
    * same rows emit the star's edges: no group-by-then-join-back, and no
    * dedup inside the round (duplicate rows change neither a min nor the
    * round's final edge set). The round ends in one exchange, hash(src),
    * which the closing `distinct` reuses.
    *
    * Both stars preserve connectivity and pull ids toward the component
    * minimum, and every emitted edge points down (dst < src). At the
    * fixpoint the edge set is a star forest (v → component-min root); a
    * downward edge set that IS a star forest (no dst is also a src, and no
    * src has two dsts) is a fixpoint, since each root's star maps onto
    * itself under both contractions. So the loop stops on the round that
    * reaches the star forest, counted in the round's one materializing
    * action. Both conditions are needed: a round can leave a leaf with two
    * roots and no root that is also a leaf (StarContractionSpec pins such a
    * graph). Output ((id, component), rounds) — exact, same result as
    * [[run]], shared oracle.
    */
  def stars(edges: DataFrame, maxRounds: Int = 200): (DataFrame, Int) = {
    // LAZY cuts + one fused prep action (r6): verts is only read by the
    // caller's final action; the prep count materializes the edge cache
    // AND yields the row count the adaptive clamp needs, so the old
    // verts-cut / edge-cut / count / isEmpty prep (4 driver round-trips)
    // collapses to one. There is no up-front repartition: every round
    // re-shuffles to the loop layout.
    val verts = GraphOps.vertices(edges.select("src", "dst"))
      .transform(Lineage.cut(_))
    val e = edges.select("src", "dst").where(col("src") =!= col("dst"))
      .distinct()
      .transform(Lineage.cut(_))
    val n = e.count() // ONE prep action: materializes e, counts it
    val (forest, rounds) = contract(e, n, maxRounds)
    // the star forest maps each leaf to its root; isolated vertices are
    // their own component
    val comp = verts
      .join(forest.select(col("src").as("id"), col("dst").as("root")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
    (comp, rounds)
  }

  /** The rounds of [[stars]] on `edges`, a distinct, self-loop-free
    * (src, dst) set of `n` rows: returns the star forest (leaf → root,
    * roots absent as srcs) and the number of rounds run.
    */
  private def contract(edges: DataFrame, n: Long,
                       maxRounds: Int): (DataFrame, Int) = {
    var e = edges
    val byU = Window.partitionBy("u")

    // m ≤ u < v: the emitted edges point down and are never self-loops
    def largeStar(ed: DataFrame): DataFrame =
      ed.select(col("src").as("u"), col("dst").as("v"))
        .union(ed.select(col("dst").as("u"), col("src").as("v")))
        .withColumn("m", least(min(col("v")).over(byU), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))

    // the large-star output points down, so u's ≤-neighbors are exactly
    // its out-edges (u = src): m = min(v) over them, and u without one
    // would only link itself to itself
    def smallStar(ed: DataFrame): DataFrame =
      ed.select(col("src").as("u"), col("dst").as("v"))
        .withColumn("m", min(col("v")).over(byU))
        .select(explode(array(col("v"), col("u"))).as("src"),
          col("m").as("dst"))
        .where(col("src") =!= col("dst"))

    // vertices off the star forest: a vertex is a root (only a dst) or a
    // leaf (the src of one edge and no dst), so out-degree + is-dst ≤ 1
    def offForest(ed: DataFrame): Long =
      ed.select(col("src").as("x"), lit(1).as("out"), lit(0).as("in"))
        .union(ed.select(col("dst").as("x"), lit(0).as("out"),
          lit(1).as("in")))
        .groupBy("x").agg((sum(col("out")) + max(col("in"))).as("k"))
        .where(col("k") > 1)
        .count()

    // the loop conf goes on the session that plans the rounds: inside a
    // streaming foreachBatch that is the query's cloned session
    val spark = edges.sparkSession
    Lineage.withLoopConf(spark) {
    Lineage.withAdaptiveLoopConf(spark, n) { nEff =>
    var done = n == 0L
    val rounds = Lineage.rounds("star contraction", maxRounds)(!done) { _ =>
      val next = smallStar(largeStar(e))
        .repartition(nEff, col("src")).distinct()
        .transform(Lineage.cut(_))
      done = offForest(next) == 0L // materializes the round in one job
      e = next
    }
    (e, rounds)
    }
    }
  }

  /** Incremental connected components — the daily-delta production path:
    * fold a batch of NEW edges into an existing labeling without
    * re-traversing the full graph. The delta edges are projected onto
    * COMPONENT ids (one join against the prior labels); the contracted
    * graph has at most one vertex per touched component + new vertex,
    * orders of magnitude smaller than the input graph. Its components are
    * merged, and the result maps back over the prior labels with one join.
    *
    * The merge is finished where it is cheapest ("finishing computations
    * serially", Salihoglu & Widom, VLDB 2014). One count of the contracted
    * edges decides: up to [[Lineage.rowsPerPartition]] rows (one adaptive
    * partition's worth) are collected and merged by a union-find on the
    * driver, whose root of each set is its minimum id; the merge map goes
    * back as a local relation that the relabel join broadcasts. A larger
    * contracted graph runs the [[stars]] rounds, handed the count already
    * taken.
    *
    * Exact either way: prior labels are component-minimum member ids (what
    * [[run]] and [[stars]] emit), so the minimum of a merged set of
    * component ids and new vertex ids is exactly the union graph's
    * component minimum, and the output matches a from-scratch run over
    * old ∪ delta edges (shared closure oracle). A new vertex is never a
    * component id, so it never contracts to a self-loop: every new vertex
    * is an endpoint of a contracted edge, flagged there, and takes its
    * label from the merge, with no anti-join against the prior labels.
    *
    * Every action (the count, the collect or the star rounds, and the
    * relabel) runs under [[Lineage.withLoopConf]] on the delta's own
    * session, at that session's partition count: inside a stream replay
    * that is the batch session, already clamped to the replay's size.
    * The labels come back materialized and cut, so a fold over many
    * batches keeps its lineage bounded.
    *
    * At 100 TB this touches the full vertex set only in the final
    * label-rewrite join; everything proportional to work actually runs on
    * |delta| + |touched components|.
    */
  def incremental(labels: DataFrame, deltaEdges: DataFrame): DataFrame =
    incremental(labels, deltaEdges, Lineage.rowsPerPartition)

  /** [[incremental]] finishing on the driver up to `driverRows` contracted
    * edges; a spec sets 0 to force the [[stars]] path. */
  private[graft] def incremental(labels: DataFrame, deltaEdges: DataFrame,
                                 driverRows: Long): DataFrame = {
    val spark = deltaEdges.sparkSession
    Lineage.withLoopConf(spark) {
      val lab = labels.select(col("id"), col("component"))
        .transform(Lineage.cut(_))
      // snew/dnew: the endpoint is a new vertex (no prior label)
      val compEdges = deltaEdges.select("src", "dst")
        .join(lab.select(col("id").as("src"), col("component").as("csrc")),
          Seq("src"), "left_outer")
        .join(lab.select(col("id").as("dst"), col("component").as("cdst")),
          Seq("dst"), "left_outer")
        .select(coalesce(col("csrc"), col("src")).as("src"),
          coalesce(col("cdst"), col("dst")).as("dst"),
          col("csrc").isNull.as("snew"), col("cdst").isNull.as("dnew"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .transform(Lineage.cut(_))
      val n = compEdges.count() // materializes lab and compEdges
      // (id, root, fresh): the new label of every new vertex and of every
      // prior component that merged into a smaller one
      val roots =
        if (n <= driverRows) driverRoots(spark, compEdges.collect())
        else {
          val (forest, _) = // 200: stars' default round cap
            contract(compEdges.select("src", "dst"), n, 200)
          compEdges.select(col("src").as("id"), col("snew").as("fresh"))
            .union(compEdges.select(col("dst").as("id"),
              col("dnew").as("fresh")))
            .distinct()
            .join(forest.select(col("src").as("id"), col("dst").as("root")),
              Seq("id"), "left_outer")
            .select(col("id"), coalesce(col("root"), col("id")).as("root"),
              col("fresh"))
        }
      // a frame runs on its left-most input's session, and `labels` may
      // come from another one (a fold's previous batch): the merge map
      // leads, so the relabel runs on the delta's session and loop conf
      roots.where(!col("fresh"))
        .select(col("id").as("component"), col("root").as("newcomp"))
        .join(lab, Seq("component"), "right_outer")
        .select(col("id"),
          coalesce(col("newcomp"), col("component")).as("component"))
        .unionByName(roots.where(col("fresh"))
          .select(col("id"), col("root").as("component")))
        // without it every fold adds the new labels' partitions
        .coalesce(Lineage.partitions(spark))
        .transform(Lineage.cut(_, eager = true))
    }
  }

  /** Union-find over collected contracted edges (src, dst, snew, dnew);
    * the root of each set is its minimum id. Returns (id, root, fresh) as
    * a local relation for every new endpoint and every prior component
    * whose root is another id.
    */
  private def driverRoots(spark: SparkSession,
                          edges: Array[Row]): DataFrame = {
    val parent = mutable.LongMap.empty[Long]
    val fresh = mutable.LongMap.empty[Boolean]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x // path compression
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      fresh(a) = e.getBoolean(2)
      fresh(b) = e.getBoolean(3)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    import spark.implicits._
    fresh.toSeq.map { case (v, f) => (v, find(v), f) }
      .filter { case (v, r, f) => f || r != v }
      .toDF("id", "root", "fresh")
  }

  /** Robustness-after-hub-removal census (targeted-attack percolation,
    * Albert/Jeong/Barabási, Nature 406, 2000): drop the `k` highest-degree
    * vertices (deterministic (deg desc, id) tie-break), re-run HashMin CC
    * over the surviving edges, and report a 1-row component census
    * (n_components, max_comp, n_left). Vertices whose every edge touched a
    * hub vanish with their edges — the census counts vertices that still
    * have ≥1 edge, the same reading the oracle closure takes. Degrees are
    * those of the [[EdgeSet.symmetric]] view.
    *
    * The hub list is a top-k (driver-size) sort+limit; the removal is two
    * broadcast anti-joins; the rest is [[run]]'s cost.
    */
  def hubAttackCensus(spark: SparkSession, edges: EdgeSet, k: Int,
                      cfg: SuperstepConfig): DataFrame = {
    val und = edges.symmetric
    val deg = und.frame.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    val hubs = deg.orderBy(col("deg").desc, col("id")).limit(k).select("id")
    val comp = run(spark, und.withoutVertices(hubs), cfg).state
    comp.groupBy("component").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).cast("long").as("n_components"),
        max("sz").cast("long").as("max_comp"),
        sum("sz").cast("long").as("n_left"))
  }
}
