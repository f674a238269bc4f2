package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.{EdgeSet, GraphOps}

/** Triangle counting (SURVEY.md §2.4 A4, §3.3): orient each undirected edge
  * low→high by (degree, id), build wedges with one self-join, close with a
  * left-semi join — each triangle counted exactly once. Not the iterate
  * kernel: LA3's TC is likewise a two-phase neighborhood-exchange +
  * intersection app.
  *
  * Three shared functions carry every wedge enumeration in the repo:
  *  - [[orientedByDegree]] — the (degree, id) orientation;
  *  - [[closedWedges]] — one (a, b, c) row per triangle (the triangle
  *    family here and [[Truss]]);
  *  - [[graft.graph.GraphOps.codegreePairs]] — center-keyed co-neighbor
  *    pairs (butterflies, rectangles, neighbor Jaccard/overlap).
  * Kernels whose closing join carries a payload (sampled count, signs,
  * weights) keep their own closing join.
  *
  * Scale notes: wedge generation is the quadratic-in-degree step. Orienting
  * by (degree, id) instead of raw id is the standard wedge reducer — every
  * vertex's forward-degree is then ≤ √(2m)-ish, so hub vertices (whose
  * id-ordered forward-degree can be Θ(deg)) no longer dominate the wedge
  * fan-out. The count is orientation-invariant, so the oracle is unchanged.
  * The oriented edge set is materialized once and reused by all three plan
  * legs (two wedge sides + closing), instead of re-running the upstream
  * derivation per leg. The closing join is left-semi (no payload moves).
  *
  * Where the wedges go: every join whose build side is the edge set
  * broadcasts it, so the wedges are built and closed in the stage that
  * reads the edges and never cross the network (LA3 ships neighbour
  * lists, not wedges — PAPER §6). Against shuffled-hash edge sides,
  * broadcast cost less task CPU for tc, lcc, kclique4 and balance_tri on
  * every co-purchase graph measured, 8.9 k to 1.2 M edges (sf0.001 to
  * sf0.1), and less wall time from 30 k edges up (BASELINE.md, "Triangle
  * family: broadcast edge sides"). The price is that the oriented edge
  * set must fit in the driver's and each executor's memory.
  */
object TriangleCount {

  /** Orients a canonical simple edge set (each undirected edge once, no
    * self-loops) low→high in the (degree, id) total order; degree =
    * undirected simple-graph degree. Columns other than (src, dst) pass
    * through. No cut inside: callers materialize eagerly or lazily.
    */
  def orientedByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val fwd = e
      .join(deg.toDF("src", "dsrc").hint("shuffle_hash"), "src")
      .join(deg.toDF("dst", "ddst").hint("shuffle_hash"), "dst")
    val srcFirst = col("dsrc") < col("ddst") ||
      (col("dsrc") === col("ddst") && col("src") < col("dst"))
    val extra = e.columns.filterNot(Set("src", "dst")).map(col).toSeq
    fwd.select(Seq(
        when(srcFirst, col("src")).otherwise(col("dst")).as("src"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("dst")) ++
      extra: _*)
  }

  /** One row (a, b, c) per triangle of an acyclically oriented edge set
    * (a→b, b→c, a→c): the wedge self-join on b, closed by a left-semi
    * join on (a, c). Both joins broadcast their edge side, so the wedges
    * are built and closed in the stage that reads `o`: they are never
    * shuffled or sorted.
    */
  def closedWedges(o: DataFrame): DataFrame = {
    val e1 = o.select(col("src").as("a"), col("dst").as("b"))
    val e2 = o.select(col("src").as("b"), col("dst").as("c"))
    val wedges = e1.join(broadcast(e2), "b").select("a", "b", "c")
    val closing = o.select(col("src").as("a"), col("dst").as("c"))
    wedges.join(broadcast(closing), Seq("a", "c"), "left_semi")
  }

  /** The [[EdgeSet.canonical]] view, [[orientedByDegree]], with both the
    * canonical and the oriented set materialized. The view of a
    * [[EdgeSet.Canonical]] input is the set itself, so it skips the
    * orient + dedup shuffle over the full edge set.
    */
  private def oriented(edges: EdgeSet): DataFrame =
    orientedByDegree(canonical(edges))
      .transform(Lineage.cut(_, eager = true))

  /** The [[EdgeSet.canonical]] pairs, materialized for
    * [[orientedByDegree]]. */
  private def canonical(edges: EdgeSet): DataFrame =
    edges.canonical.cut.frame

  /** Triangles per corner vertex (id, tri_cnt): each triangle credits all
    * three corners.
    */
  private def cornerCounts(tris: DataFrame): DataFrame =
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("tri_cnt"))

  /** Global triangle count; single row (triangles: long). */
  def count(edges: EdgeSet): DataFrame =
    closedWedges(oriented(edges))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles"))

  /** Per-vertex triangle participation counts (id, tri_cnt). */
  def perVertex(edges: EdgeSet): DataFrame =
    cornerCounts(closedWedges(oriented(edges)))

  /** Per-vertex local clustering coefficient, scored in exact integer
    * micro-units so the oracle twin is byte-identical across engines:
    * `lcc_micro = floor(2e6 · tri(v) / (deg(v)·(deg(v)−1)))`, 0 when
    * deg < 2. Output (id, tri_cnt, deg, lcc_micro), one row per vertex of
    * the simple undirected graph. Integer `div` truncation on non-negative
    * operands ≡ DuckDB's `//` floor division, so no float ever crosses the
    * comparison boundary (the harmonic-centrality micro-unit recipe).
    *
    * Scale: one extra groupBy over the oriented edge endpoints beyond the
    * [[perVertex]] plan — degree and triangle aggregates both shuffle on
    * vertex id, and the final assembly is a same-key left join.
    */
  def localClustering(edges: EdgeSet): DataFrame = {
    val e = oriented(edges)
    val deg = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    deg.join(cornerCounts(closedWedges(e)), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        col("deg"),
        when(col("deg") >= 2,
          expr("(2000000 * coalesce(tri_cnt, 0)) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** Butterfly (bipartite 4-cycle) count — the motif that plays the
    * triangle's role in bipartite graphs (Sanei-Mehri, Sariyüce &
    * Tirthapura, KDD 2018): ▷◁ = Σ_{v<w same side} C(|N(v)∩N(w)|, 2),
    * counted here from the DST side via SRC-centered wedges. cn·(cn−1)/2
    * is a product of consecutive integers, so the per-pair term and the
    * total are exact BIGINTs in both engines.
    *
    * `maxDeg` is the hot-wedge-center guard (a src of degree d generates
    * d² wedge pairs — the LinkPrediction/g_jaccard_capped discipline);
    * deterministic, so capped runs stay oracle-able. Returns one row
    * (wedge_pairs, butterflies).
    */
  def butterflies(edges: DataFrame, maxDeg: Long = 10000L): DataFrame =
    GraphOps.codegreePairs(edges.select("src", "dst").distinct()
        .transform(Lineage.cut(_, eager = true)), maxDeg).agg(
      org.apache.spark.sql.functions.count(lit(1)).as("wedge_pairs"),
      coalesce(sum(expr("(cn * (cn - 1)) div 2")), lit(0L))
        .as("butterflies"))

  /** Per-vertex butterfly participation on the non-center side: each
    * co-neighbor pair (v, w) with codegree cn contributes C(cn, 2)
    * butterflies to BOTH v and w — the bipartite analog of per-vertex
    * triangle counts, the local-cohesion signal for bipartite graphs.
    * Output (id, bflys) for vertices in ≥ 1 butterfly; same wedge-center
    * cap as [[butterflies]].
    */
  def butterfliesPerVertex(edges: DataFrame,
                           maxDeg: Long = 10000L): DataFrame =
    GraphOps.codegreePairs(edges.select("src", "dst").distinct()
        .transform(Lineage.cut(_, eager = true)), maxDeg)
      .where(col("cn") >= 2)
      .select(explode(array(col("u"), col("w"))).as("id"),
        expr("(cn * (cn - 1)) div 2").as("b"))
      .groupBy("id").agg(sum(col("b")).as("bflys"))

  /** Global 4-clique (K4) count. Under the acyclic (degree, id)
    * orientation every K4 induces a transitive tournament with a unique
    * vertex order a→b→c→d, so counting (oriented triangle (a,b,c)) ×
    * (forward edge c→d) pairs whose (a,d) and (b,d) edges also exist
    * counts each K4 exactly once. Orientation-invariant, so the DuckDB
    * twin may orient by raw id.
    *
    * Scale: the candidate fan-out is Σ_tri fwd-deg(c) — the same
    * arboricity-bounded budget as the wedge step (degree orientation caps
    * forward-degree at ~√(2m)), and both clique checks are left-semi
    * joins. The extension join and both checks broadcast their edge side,
    * as the triangle joins do, so the whole candidate chain runs in the
    * stage that reads the edges and only the count's partial aggregates
    * move. One row (cliques4: long).
    */
  def fourCliques(edges: EdgeSet): DataFrame = {
    val e = oriented(edges)
    val ext = e.select(col("src").as("c"), col("dst").as("d"))
    val cand = closedWedges(e).join(broadcast(ext), "c")
    cand
      .join(broadcast(e.select(col("src").as("a"), col("dst").as("d"))),
        Seq("a", "d"), "left_semi")
      .join(broadcast(e.select(col("src").as("b"), col("dst").as("d"))),
        Seq("b", "d"), "left_semi")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cliques4"))
  }

  /** Unipartite 4-cycle (rectangle) count — [[butterflies]]' analog on a
    * general graph: for each unordered DIAGONAL pair (u, w) with cn common
    * neighbors, C(cn, 2) rectangles pass through it, and every C4 has
    * exactly two diagonals, so Σ C(cn, 2) div 2 counts each once. Wedge
    * pairs come from one center-keyed self-join with the deterministic
    * maxDeg hot-center cap (wedge fan-out is Σ C(deg, 2) — hub-dominated
    * on power-law graphs; the cap is mirrored in the oracle). Reads the
    * [[EdgeSet.symmetric]] view of `edges`. One row (wedge_pairs,
    * rectangles), exact BIGINTs.
    */
  def rectangles(edges: EdgeSet, maxDeg: Long = 10000L): DataFrame = {
    val und = edges.symmetric.cut.frame
    GraphOps.codegreePairs(und, maxDeg).agg(
        org.apache.spark.sql.functions.count(lit(1)).as("wedge_pairs"),
        coalesce(sum(expr("(cn * (cn - 1)) div 2")), lit(0L)).as("dd"))
      .select(col("wedge_pairs"), expr("dd div 2").as("rectangles"))
  }

  /** Directed triangle census: cyclic (a→b→c→a) vs transitive (a→b→c plus
    * the shortcut a→c) pattern-instance counts on a simple digraph — the
    * two 3-walk closure shapes behind directed clustering/transitivity.
    * Every directed wedge a→b→c is closed against the edge set once per
    * pattern with a left-semi join (no payload moves); a cyclic triangle
    * matches the wedge pattern at each of its 3 rotations, so the raw
    * closed-wedge count divides exactly by 3 (integer `div` is lossless
    * there). Self-pairs cannot appear: closing edges c→a / a→c exclude
    * a = c because the input is self-loop-free. One row
    * (cyclic3, transitive3), exact BIGINTs.
    */
  def directedCensus(edges: DataFrame): DataFrame = {
    val e = GraphOps.simplify(edges.select("src", "dst"))
      .transform(Lineage.cut(_, eager = true))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"))
    val wedges = e1.join(broadcast(e2), "b").select("a", "c")
    val cyc = wedges
      .join(broadcast(e.select(col("src").as("c"), col("dst").as("a"))),
        Seq("a", "c"), "left_semi")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c3"))
    val trans = wedges
      .join(broadcast(e.select(col("src").as("a"), col("dst").as("c"))),
        Seq("a", "c"), "left_semi")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("t3"))
    cyc.crossJoin(trans)
      .select(expr("c3 div 3").as("cyclic3"), col("t3").as("transitive3"))
  }

  /** Wedge-sampling triangle estimate (Seshadhri, Pinar & Kolda, "Triadic
    * measures on graphs: the power of wedge sampling", SDM 2013) with a
    * DETERMINISTIC sampler: an oriented wedge (a, b, c) is kept iff the
    * 60-bit md5 prefix of "a:b:c" ≡ 0 (mod rate), so the sampled set — and
    * hence the whole result — is engine-reproducible, not just the
    * estimator's distribution. Returns one row (n_sampled, n_closed,
    * est_triangles = n_closed·rate).
    *
    * Scale honesty: the hash filter sits on the wedge rows AFTER the wedge
    * join, so wedge enumeration is still the full √(2m)-bounded fan-out;
    * the ×rate saving lands on everything downstream — the closing
    * join probes the broadcast edge set with 1/rate of the wedges.
    * Estimator error is the standard ~1/√sampled; the EXACT sampled/closed
    * counts are what the oracle gates.
    */
  def sampledCount(edges: EdgeSet, rate: Int): DataFrame = {
    require(rate >= 1, s"rate must be >= 1, got $rate")
    val e = oriented(edges)
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"))
    val wedges = e1.join(broadcast(e2), "b").select("a", "b", "c")
      .where(GraphOps.md5Prio(concat_ws(":", col("a"), col("b"), col("c")))
        % rate === 0)
    val closing = e.select(col("src").as("a"), col("dst").as("c"),
      lit(1L).as("hit"))
    wedges.join(broadcast(closing), Seq("a", "c"), "left")
      .agg(org.apache.spark.sql.functions.count(lit(1)).cast("long")
        .as("n_sampled"),
        coalesce(sum("hit"), lit(0L)).cast("long").as("n_closed"))
      .select(col("n_sampled"), col("n_closed"),
        (col("n_closed") * rate).as("est_triangles"))
  }

  /** Weighted triangle strength: Σ over triangles of the minimum edge
    * weight — the weighted-clustering mass a pure triangle count misses
    * (a triangle of weight-9 co-purchases is stronger evidence than one
    * of weight-2s). Integral weights ⇒ exact BIGINT output
    * (n_triangles, strength_sum). Same enumeration plan as [[count]] with
    * the weight carried through the joins (the signedBalance discipline).
    */
  def triangleStrength(edgesW: DataFrame): DataFrame = {
    val e = orientedByDegree(edgesW.select(col("src"), col("dst"),
        col("weight").cast("long").as("w")))
      .transform(Lineage.cut(_, eager = true))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"),
      col("w").as("w1"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"),
      col("w").as("w2"))
    val wedges = e1.join(broadcast(e2), "b").select("a", "c", "w1", "w2")
    val closing = e.select(col("src").as("a"), col("dst").as("c"),
      col("w").as("w3"))
    wedges.join(broadcast(closing), Seq("a", "c"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_triangles"),
        coalesce(sum(least(col("w1"), col("w2"), col("w3"))), lit(0L))
          .as("strength_sum"))
  }

  /** Structural-balance triangle census (Heider/Cartwright–Harary balance
    * theory, public): every edge carries a deterministic ±1 sign — here
    * the parity of its md5 priority on the canonical `least:greatest`
    * endpoint string, so both engines derive identical signs with no side
    * data — and a triangle is balanced iff it has an even number of
    * negative edges (sign product +1). Output is one exact row:
    * (balanced, unbalanced).
    *
    * Scale shape: the [[count]] enumeration plan (degree-oriented wedges +
    * closing join) with three codegen'd sign expressions over the corner
    * ids — no extra shuffle beyond the triangle enumeration itself.
    */
  def signedBalance(edges: EdgeSet): DataFrame = {
    // sign each edge ONCE (|E| hashes) and carry the bit through the
    // enumeration joins, instead of recomputing 3 md5s per TRIANGLE. At
    // sf0.1 the wedge join dominates either way (A/B medians 24.5 vs 26,
    // inside noise — BASELINE.md wave 24); the per-edge spelling is kept
    // because triangles ≫ edges is exactly the skew that grows at 100×.
    // The sign reads the unordered pair, so it is signed before orienting
    // and rides the oriented edge set's one cut.
    val e = orientedByDegree(canonical(edges)
        .withColumn("s", GraphOps.md5Prio(concat_ws(":",
          least(col("src"), col("dst")),
          greatest(col("src"), col("dst")))) % 2))
      .transform(Lineage.cut(_, eager = true))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"),
      col("s").as("s1"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"),
      col("s").as("s2"))
    val wedges = e1.join(broadcast(e2), "b").select("a", "c", "s1", "s2")
    val closing = e.select(col("src").as("a"), col("dst").as("c"),
      col("s").as("s3"))
    val par = (col("s1") + col("s2") + col("s3")) % 2
    wedges.join(broadcast(closing), Seq("a", "c")).agg(
      coalesce(sum(when(par === 0, 1L).otherwise(0L)), lit(0L))
        .as("balanced"),
      coalesce(sum(when(par === 1, 1L).otherwise(0L)), lit(0L))
        .as("unbalanced"))
  }
}
