package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.engine.{Superstep, SuperstepConfig, SuperstepResult, VertexProgram}
import graft.graph.{EdgeSet, GraphOps}

/** BFS and SSSP (SURVEY.md §2.4 A5) — the min-plus semiring on the same
  * superstep kernel as CC; non-stationary frontier = vertices whose
  * distance improved. Integer weights ⇒ exact results.
  */
object Paths {

  /** `source` is a LAZY one-row frame (e.g. `edges.agg(min("src"))`):
    * broadcast-cross-joined into the initial state so the lookup rides the
    * engine's first materializing action instead of an eager driver
    * `.head()` in the query builder (lazily-built contract, SURVEY §7.3).
    */
  private final class MinPlusProgram(source: DataFrame) extends VertexProgram {
    def initState(vertices: DataFrame): DataFrame =
      vertices.crossJoin(broadcast(source.toDF("s0")))
        .select(col("id"),
          when(col("id") === col("s0"), lit(0.0)).otherwise(lit(null)
            .cast("double")).as("dist"))
    def gatherExpr: Column = col("dist") + col("weight")
    def gatherStateColumns: Seq[String] = Seq("dist")
    def combineExpr(msg: Column): Column = min(msg)
    def applyState(state: DataFrame, msgs: DataFrame): DataFrame =
      state.join(msgs, Seq("id"), "left_outer")
        .select(col("id"), least(col("dist"), col("agg")).as("dist"),
          (col("agg").isNotNull &&
            (col("dist").isNull || col("agg") < col("dist"))).as("changed"))
    val residualExpr: Option[Column] = None // frontier: exact min combine
  }

  /** Converged single-source shortest paths. `edges` needs (src, dst
    * [, weight]); missing weight = 1.0 (BFS). Unreached vertices keep null.
    */
  def sssp(spark: SparkSession, edges: DataFrame, sourceId: Long,
           cfg: SuperstepConfig): SuperstepResult =
    ssspFrom(spark, edges,
      spark.range(1).select(lit(sourceId).as("s0")), cfg)

  /** Converged SSSP from a lazily-computed one-row source frame (e.g.
    * `edges.agg(min("src"))`) — no eager driver action in the builder.
    */
  def ssspFrom(spark: SparkSession, edges: DataFrame, source: DataFrame,
               cfg: SuperstepConfig): SuperstepResult = {
    val verts = GraphOps.vertices(edges.select("src", "dst"))
    Superstep.run(spark, edges, verts, new MinPlusProgram(source), cfg)
  }

  /** Truncated harmonic centrality from the `numRoots` smallest vertex ids:
    * h(v) = Σ_roots round(10⁶ / d(root, v)) over roots within `k` hops
    * (0 for unreached vertices) — the standard k-hop harmonic
    * approximation, made ENGINE-EXACT by scoring in integer micro-units:
    * distances are small integers, so every per-root term and the ≤
    * numRoots-term sum are exact longs in both Spark and DuckDB (no float
    * aggregate crosses the oracle). Multi-root BFS advances all roots
    * together keyed (root, id), one level per materialized round — at
    * scale each level is one co-partitioned join of the dense (root, id)
    * state against the fixed edge layout, numRoots× a BFS.
    */
  def harmonicFixedRounds(edges: DataFrame, numRoots: Int,
                          k: Int, weighted: Boolean = false): DataFrame = {
    val (verts, dist) = multiRootDistances(edges, numRoots, k, weighted)
    val scores = dist.where(col("dist") > 0)
      .groupBy("id")
      .agg(sum(round(lit(1000000.0) / col("dist"), 0).cast("long"))
        .as("harmonic"))
    verts.join(scores, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("harmonic"), lit(0L)).as("harmonic"))
  }

  /** Truncated closeness centrality over the same root sample as
    * [[harmonicFixedRounds]]: per vertex, the COUNT of sample roots reached
    * within `k` hops and the exact integer SUM of those distances —
    * closeness = reached / sum_dist is left to the caller so no float
    * crosses the oracle gate (the modularity/lcc exact-rational
    * discipline). Same scale shape: one co-partitioned join per level over
    * dense (root, id) state.
    */
  def closenessFixedRounds(edges: DataFrame, numRoots: Int,
                           k: Int): DataFrame = {
    val (verts, dist) = multiRootDistances(edges, numRoots, k,
      weighted = false)
    val scores = dist.where(col("dist") > 0)
      .groupBy("id")
      .agg(count(lit(1)).as("reached"),
        sum(col("dist").cast("long")).as("sum_dist"))
    verts.join(scores, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("reached"), lit(0L)).as("reached"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist"))
  }

  /** Dense (root, id, dist) k-hop multi-root BFS / min-plus levels shared
    * by the truncated-centrality family: roots = the `numRoots` smallest
    * vertex ids, one materialized co-partitioned join per level. Returns
    * (vertices, final distance table).
    */
  private def multiRootDistances(edges: DataFrame, numRoots: Int, k: Int,
                                 weighted: Boolean): (DataFrame, DataFrame) = {
    val e = weightedEdges(edges, weighted)
    val verts = GraphOps.vertices(e)
    val roots = verts.orderBy("id").limit(numRoots)
      .select(col("id").as("root"))
    // dist travels as double either way; with integral edge weights every
    // value is integer-valued, so round(1e6/d) stays engine-exact
    val init = verts.crossJoin(broadcast(roots))
      .select(col("root"), col("id"),
        when(col("id") === col("root"), lit(0.0))
          .otherwise(lit(null).cast("double")).as("v"),
        (col("id") === col("root")).as("chg"))
    val dist = relax(e, init, Seq("root"), k, Least)(col("v") + col("w"))
    (verts, dist.withColumnRenamed("v", "dist"))
  }

  /** The loop-invariant edge table of the min-plus kernels: (src, dst, w)
    * with w = the `weight` column as a double, or 1.0 unless `weighted`.
    * Cut once up front: every round reads it, and an uncut table re-runs
    * its (possibly expensive) derivation plan per round — measured k+1
    * recomputes of the co-purchase self-join (bfs5 63.5 s vs pr5 18.5 s
    * on the same graph).
    */
  private def weightedEdges(edges: DataFrame, weighted: Boolean): DataFrame =
    edges.select(col("src"), col("dst"),
        (if (weighted) col("weight").cast("double") else lit(1.0)).as("w"))
      .transform(Lineage.cut(_, eager = true))

  /** Which way a relaxation moves a value: the aggregate over a vertex's
    * messages, its merge with the current value, and the strict
    * improvement test (message first).
    */
  private sealed abstract class Order(val agg: Column => Column,
                                      val merge: (Column, Column) => Column,
                                      val better: (Column, Column) => Column)
  private case object Least extends Order(min(_), least(_, _), _ < _)
  private case object Greatest extends Order(max(_), greatest(_, _), _ > _)

  /** `k` rounds of frontier-restricted relaxation over `state` = (keys…,
    * id, v, chg). Each round, only the rows with `chg` send `msg` (an
    * expression over their `v` and the edge row) along their out-edges in
    * `e` (src, dst, …); the per-(keys, dst) `order` aggregate merges into
    * `v`, and `chg` marks a strict improvement. Restricting the senders is
    * exact because min and max are monotone: a row whose value did not
    * move last round would resend only messages its targets have already
    * absorbed, so round k ends with the values of the full relaxation,
    * while each round aggregates only frontier-incident edges (LA3's
    * activity filtering). Every round but the last is cut lazily: each
    * round reads the previous one twice (scatter + carry-forward), so
    * without the cut the plan would double per round (2^k leaf copies,
    * measured 45 s at sf0.1 for k=5), and a lazy cut runs at the caller's
    * action instead of as k eager jobs. Returns (keys…, id, v).
    */
  private def relax(e: DataFrame, state: DataFrame, keys: Seq[String], k: Int,
                    order: Order)(msg: Column): DataFrame = {
    val keyCols = keys.map(col)
    var st = state
    for (i <- 1 to k) {
      val msgs = e.join(st.where(col("chg"))
          .select(keyCols :+ col("id").as("src") :+ col("v"): _*)
          .hint("shuffle_hash"), "src")
        .groupBy(keyCols :+ col("dst").as("id"): _*)
        .agg(order.agg(msg).as("m"))
      val improved = col("m").isNotNull &&
        (col("v").isNull || order.better(col("m"), col("v")))
      st = st.join(msgs.hint("shuffle_hash"), keys :+ "id", "left_outer")
        .select(keyCols :+ col("id") :+
          order.merge(col("v"), col("m")).as("v") :+ improved.as("chg"): _*)
      if (i < k) st = st.transform(Lineage.cut(_))
    }
    st.drop("chg")
  }

  /** Double-sweep BFS diameter lower bound (the standard 2-BFS heuristic;
    * exact on trees, a tight lower bound in practice): sweep 1 from the
    * min-id vertex finds the peripheral vertex `far` (max dist, min-id
    * tie-break); sweep 2 from `far` — its max distance is the bound. Each
    * sweep is a fixed `k`-round unrolled BFS (k ≥ the graph's eccentricity
    * ⇒ the fixpoint is reached and stable under the extra rounds, so the
    * DuckDB twin unrolls the same chains). All integer-exact: one row
    * (root, far, diameter_lb). With `weighted` the sweeps are min-plus
    * over integral edge weights (the weighted-eccentricity double sweep);
    * parity needs only EQUAL k in both engines — any k yields a valid
    * ≤k-hop lower bound.
    */
  def doubleSweepDiameter(edges: DataFrame, k: Int,
                          weighted: Boolean = false): DataFrame = {
    val e = weightedEdges(edges, weighted)
    val root = e.agg(min(col("src")))
    val d1 = minPlus(e, root, k)
    val far = d1.where(col("dist").isNotNull)
      .orderBy(col("dist").desc, col("id").asc).limit(1).select("id")
    val d2 = minPlus(e, far, k)
    d2.where(col("dist").isNotNull)
      .agg(max(col("dist")).cast("long").as("diameter_lb"))
      .crossJoin(broadcast(root.toDF("root")))
      .crossJoin(broadcast(far.toDF("far")))
      .select(col("root"), col("far"), col("diameter_lb"))
  }

  /** Delta-stepping SSSP (Meyer & Sanders, J. Algorithms 49(1), 2003),
    * relational spelling: tentative distances are processed in buckets of
    * width `delta`; within the current bucket, LIGHT edges (w ≤ delta)
    * relax to a fixpoint — only vertices whose distance improved into the
    * current bucket re-scatter — then HEAVY edges (w > delta) relax ONCE
    * and the bucket settles (a relaxation from bucket b along a heavy edge
    * lands strictly above (b+1)·delta, so it can never re-open b). The
    * result is exactly the Dijkstra/Bellman-Ford fixpoint — the schedule
    * changes WORK, never distances — which is what lets the DuckDB twin
    * stay the plain relaxation to its fixpoint.
    *
    * The 100 TB case for the schedule: plain synchronous Bellman-Ford
    * re-scatters the entire reached set every round for
    * O(hop-length of the longest shortest path) rounds; here a vertex
    * scatters only while its bucket is open (typically once), settled
    * vertices NEVER re-enter a shuffle, and each inner round ships only
    * the changed frontier — per-round shuffle volume tracks the frontier,
    * not the reached set. One driver action per inner round (the lineage
    * cut is materialized by the same scalar agg that reads the changed
    * count — the KCore discipline); one per bucket close (heavy relax +
    * settle + next-bucket min, folded into a single job).
    *
    * Returns ((id, dist) over ALL vertices — null dist = unreached —
    * plus buckets processed and total light rounds). Loud
    * IllegalStateException when `maxBuckets` / `maxInner` exhaust.
    */
  def deltaStepping(spark: SparkSession, edges: DataFrame, source: DataFrame,
                    delta: Double, maxBuckets: Int = 10000,
                    maxInner: Int = 200): (DataFrame, Int, Int) = {
    require(delta > 0, s"delta-stepping needs delta > 0, got $delta")
    val e = edges.select(col("src"), col("dst"),
        col("weight").cast("double").as("w"))
      .repartition(Lineage.partitions(spark), col("src"))
      .transform(Lineage.cut(_, eager = true))
    val light = e.where(col("w") <= delta)
    val heavy = e.where(col("w") > delta)
    val verts = GraphOps.vertices(e.select("src", "dst"))
    def bkt(c: Column): Column = floor(c / delta).cast("long")
    val nextBucket =
      min(when(!col("settled") && col("dist").isNotNull, bkt(col("dist"))))

    var st = verts.crossJoin(broadcast(source.toDF("s0")))
      .select(col("id"),
        when(col("id") === col("s0"), lit(0.0))
          .otherwise(lit(null).cast("double")).as("dist"),
        lit(false).as("settled"))
      .transform(Lineage.cut(_))
    var bRow = st.agg(nextBucket).head() // materializes init + finds bucket 0
    var lightRounds = 0
    val buckets = Lineage.rounds(s"delta-stepping buckets (delta=$delta)",
        maxBuckets)(!bRow.isNullAt(0)) { _ =>
      val b = bRow.getLong(0)
      val inBucket =
        !col("settled") && col("dist").isNotNull && bkt(col("dist")) === b
      // first pass scatters the whole open bucket; later passes only the
      // vertices whose distance improved into it (chg)
      var front = st.where(inBucket).select(col("id").as("src"), col("dist"))
      var changed = true
      lightRounds += Lineage.rounds(s"delta-stepping bucket $b", maxInner)(
          changed) { _ =>
        val msgs = light.join(front, "src")
          .groupBy(col("dst").as("id"))
          .agg(min(col("dist") + col("w")).as("nd"))
        val st2 = st.join(msgs, Seq("id"), "left_outer")
          .select(col("id"),
            least(col("dist"), col("nd")).as("dist"),
            col("settled"),
            (col("nd").isNotNull &&
              (col("dist").isNull || col("nd") < col("dist")) &&
              bkt(least(col("dist"), col("nd"))) === b).as("chg"))
          .transform(Lineage.cut(_))
        changed = st2.agg(sum(col("chg").cast("long"))).head().getLong(0) > 0
        front = st2.where(col("chg")).select(col("id").as("src"), col("dist"))
        st = st2.select("id", "dist", "settled")
      }
      // close the bucket: heavy relax once from its members, settle them,
      // and find the next open bucket — one materializing job
      val bucketSrc = st.where(inBucket)
        .select(col("id").as("src"), col("dist"))
      val hmsgs = heavy.join(bucketSrc, "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("dist") + col("w")).as("nd"))
      // col("dist") in the settled expression is the PRE-relax distance:
      // heavy relaxations land above (b+1)·delta, so bucket-b membership
      // is unchanged by this select and old-dist is the right test
      val st3 = st.join(hmsgs, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("dist"), col("nd")).as("dist"),
          (col("settled") ||
            (col("dist").isNotNull && bkt(col("dist")) === b)).as("settled"))
        .transform(Lineage.cut(_))
      bRow = st3.agg(nextBucket).head()
      st = st3
    }
    (st.select("id", "dist"), buckets, lightRounds)
  }

  /** Truncated longest-path layering of a DAG (topological levels, the
    * scheduling/stratification view of directed reachability):
    * l_0(v) = 0; l_{t+1}(v) = max(l_t(v), 1 + max_{(u,v)∈E} l_t(u)) —
    * after k rounds, l_k(v) is the length of the longest path ending at v
    * over ≤ k edges. Monotone, so k ≥ the DAG's longest path makes it the
    * exact layering and extra rounds are absorbed (the harmonic8
    * truncation discipline: any equal k is engine-exact integer output).
    * Each round is one [[relax]] round in the max order: a frontier join
    * and a max-aggregate on the vertex key.
    */
  def dagLayers(edges: DataFrame, k: Int): DataFrame = {
    val e = edges.select("src", "dst").transform(Lineage.cut(_, eager = true))
    val init = GraphOps.vertices(e)
      .select(col("id"), lit(0L).as("v"), lit(true).as("chg"))
    relax(e, init, Nil, k, Greatest)(col("v") + 1L)
      .select(col("id"), col("v").as("layer"))
  }

  /** k rounds of min-plus relaxation from the one-row `source` frame (e.g.
    * the min vertex id), cross-joined in: Bellman-Ford unrolled, so `dist`
    * is the shortest distance over paths of ≤ k edges, null where no such
    * path exists. Every edge weighs 1 (BFS) unless `weighted`, which reads
    * the `weight` column; weights must be integral for the exact gate.
    * Matches the unrolled DuckDB SQL exactly. The rounds are [[relax]]'s,
    * lazily cut. Returns (id, dist) over all vertices.
    */
  def fixedRounds(edges: DataFrame, source: DataFrame, k: Int,
                  weighted: Boolean): DataFrame =
    minPlus(weightedEdges(edges, weighted), source, k)

  /** [[fixedRounds]] over an edge table built by [[weightedEdges]]. */
  private def minPlus(e: DataFrame, source: DataFrame, k: Int): DataFrame = {
    val init = GraphOps.vertices(e).crossJoin(broadcast(source.toDF("s0")))
      .select(col("id"),
        when(col("id") === col("s0"), lit(0.0))
          .otherwise(lit(null).cast("double")).as("v"),
        (col("id") === col("s0")).as("chg"))
    relax(e, init, Nil, k, Least)(col("v") + col("w"))
      .select(col("id"), col("v").as("dist"))
  }

  /** Shortest-path σ counts within `k` hops of `source` — the forward
    * phase of Brandes' betweenness exposed as its own operator (the "how
    * many distinct shortest routes reach v?" redundancy question).
    * Level-synchronous BFS carrying counts: round i settles exactly the
    * level-i frontier (a settled vertex never improves in an unweighted
    * graph, so no re-expansion), sigma(v) = Σ sigma(u) over level-(i−1)
    * in-neighbors — exact BIGINTs, bounded by maxdeg^k at truncation k.
    * Output (id, dist, sigma) for reached vertices only.
    *
    * Scale shape: one co-partitioned frontier join + one sum aggregate
    * per round, frontier-sized messages (the bfs5 cost family).
    */
  def sigmaCounts(edges: DataFrame, source: DataFrame, k: Int): DataFrame = {
    val e = edges.select("src", "dst")
      .transform(Lineage.cut(_, eager = true))
    var state = GraphOps.vertices(e)
      .crossJoin(broadcast(source.toDF("s0")))
      .select(col("id"),
        when(col("id") === col("s0"), 0L)
          .otherwise(lit(null).cast("long")).as("dist"),
        when(col("id") === col("s0"), 1L)
          .otherwise(lit(null).cast("long")).as("sigma"))
      .transform(Lineage.cut(_, eager = true))
    for (i <- 1 to k) {
      val frontier = state.where(col("dist") === (i - 1).toLong)
        .select(col("id").as("src"), col("sigma").as("fsig"))
      val msgs = e.join(frontier, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("fsig")).as("nsig"))
      state = state.join(msgs.hint("shuffle_hash"), Seq("id"), "left_outer")
        .select(col("id"),
          when(col("dist").isNotNull, col("dist"))
            .when(col("nsig").isNotNull, lit(i.toLong)).as("dist"),
          when(col("dist").isNotNull, col("sigma"))
            .otherwise(col("nsig")).as("sigma"))
      // lazy per-round cut, as in relax: k rounds run as ONE job
      if (i < k) state = state.transform(Lineage.cut(_))
    }
    state.where(col("dist").isNotNull).select("id", "dist", "sigma")
  }

  /** Multi-source BFS / graph-Voronoi landmark assignment: seeds are the
    * vertices with `md5Prio(id) % seedMod == 0` (deterministic ~1/seedMod
    * sample — the doc_split hash discipline), and every vertex within `k`
    * hops is assigned its (dist, seed) lexicographic-minimum landmark.
    * The pair travels as ONE packed BIGINT `dist·2⁴⁴ + seed` so each round
    * is a plain `min` hash-aggregate — no struct min_by, no string
    * compare (the MSF/mis priority discipline) — and the same packing
    * makes the DuckDB twin byte-exact. Precondition: ids ∈ [0, 2⁴⁴) —
    * densify first ([[graft.graph.GraphOps.denseIds]]) if they are not.
    *
    * The web-scale use is landmark-based partitioning/routing: one BFS
    * wave from ~|V|/seedMod sources costs the same per-round
    * co-partitioned join as single-source BFS — the frontier is just
    * denser — where running |seeds| separate BFS jobs would multiply the
    * serial floor. Returns (id, dist, seed) for reached vertices only;
    * fixed-`k` truncation is exact at any equal unroll in both engines.
    */
  def nearestSeeds(edges: DataFrame, k: Int, seedMod: Long): DataFrame = {
    val Shift = 17592186044416L // 2^44
    val e = edges.select("src", "dst")
      .transform(Lineage.cut(_, eager = true))
    val init = GraphOps.vertices(e).select(col("id"),
      when(GraphOps.md5Prio(col("id").cast("string")) % seedMod === 0,
        col("id").cast("long")).otherwise(lit(null).cast("long")).as("v"))
      .withColumn("chg", col("v").isNotNull)
    relax(e, init, Nil, k, Least)(col("v") + Shift)
      .where(col("v").isNotNull)
      .select(col("id"),
        expr(s"v div ${Shift}L").as("dist"),
        expr(s"v % ${Shift}L").as("seed"))
  }

  /** Landmark distance oracle (the standard web-graph shortest-path
    * estimator): precompute truncated BFS distances from `numRoots`
    * landmarks, then answer pair queries with the triangle-inequality
    * upper bound `est(a,b) = min_l d(l,a) + d(l,b)`. Pairs are the
    * md5-sampled vertex subset (the doc_split hash discipline — stable
    * under graph growth); a pair with no common landmark within `k` hops
    * has no estimate and is absent. All integer-exact.
    *
    * Scale shape: the landmark table is one multi-root BFS
    * (O(numRoots·|V|) rows); the pair estimates come from a self-join ON
    * THE LANDMARK KEY — fan-out bounded by numRoots · sample², never
    * |V|² — followed by a min hash-agg on the pair key.
    */
  def landmarkDistances(edges: DataFrame, numRoots: Int, k: Int,
                        sampleMod: Long): DataFrame = {
    val (verts, dist) =
      multiRootDistances(edges, numRoots, k, weighted = false)
    val d = dist.where(col("dist").isNotNull)
      .select(col("root"), col("id"), col("dist").cast("long").as("d"))
      .transform(Lineage.cut(_, eager = true))
    val sample = verts
      .where(GraphOps.md5Prio(col("id").cast("string")) % sampleMod === 0)
      .select("id")
    val da = d.join(sample, Seq("id"), "left_semi")
      .select(col("root"), col("id").as("a"), col("d").as("dla"))
    val db = d.join(sample, Seq("id"), "left_semi")
      .select(col("root"), col("id").as("b"), col("d").as("dlb"))
    da.join(db, Seq("root")).where(col("a") < col("b"))
      .groupBy("a", "b").agg(min(col("dla") + col("dlb")).as("est_dist"))
  }

  /** Truncated odd-cycle / bipartiteness profile — per component: vertex
    * count and the number of edges joining two vertices of the SAME BFS
    * parity (an odd-parity edge witnesses an odd cycle; a component with
    * zero such edges within the explored ball is bipartite there — the
    * two-coloring / conflict-detection pass a signed or bipartite-layout
    * pipeline runs first). One HashMin-with-distance sweep of `k` rounds:
    * the state is ONE packed BIGINT `root·2²⁰ + dist`, so the lexicographic
    * (min root, then min dist) update is a plain min hash-agg per round
    * (the nearestSeeds packing discipline) and the DuckDB unroll is
    * byte-exact at equal `k`. Truncation is honest: `root` is the smallest
    * id within k hops and parities are relative to it, so undercounting —
    * never false positives on a genuinely bipartite ball. Precondition:
    * ids ∈ [0, 2⁴³) and k < 2²⁰.
    *
    * Reads the [[EdgeSet.canonical]] view of `edges`; output
    * (comp, reached, odd_edges) with each undirected edge counted once.
    */
  def oddCycleProfile(edges: EdgeSet, k: Int): DataFrame = {
    val Shift = 1048576L // 2^20
    val canon = edges.canonical.cut
    val ce = canon.frame
    val e = canon.symmetric.cut.frame
    val init = GraphOps.vertices(e)
      .select(col("id"), (col("id") * Shift).as("v"), lit(true).as("chg"))
    val fin = relax(e, init, Nil, k, Least)(col("v") + 1L)
      .select(col("id"), expr(s"v div ${Shift}L").as("root"),
        (expr(s"v % ${Shift}L") % 2L).as("par"))
      .transform(Lineage.cut(_, eager = true))
    val odd = ce
      .join(fin.toDF("src", "rs", "ps"), Seq("src"))
      .join(fin.toDF("dst", "rd", "pd"), Seq("dst"))
      .where(col("rs") === col("rd") && col("ps") === col("pd"))
      .groupBy(col("rs").as("comp")).agg(count(lit(1)).as("odd_edges"))
    fin.groupBy(col("root").as("comp")).agg(count(lit(1)).as("reached"))
      .join(odd, Seq("comp"), "left_outer")
      .select(col("comp"), col("reached"),
        coalesce(col("odd_edges"), lit(0L)).as("odd_edges"))
  }
}
