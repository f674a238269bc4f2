package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.engine.{Superstep, SuperstepConfig, SuperstepResult, VertexProgram}
import graft.graph.GraphOps

/** PageRank with LA3's pinned semantics (SURVEY.md §5.3): r₀ = 1.0,
  * r' = 0.15 + 0.85·Σ_{u→v} r(u)/outdeg(u), NO dangling-mass
  * redistribution (sinks receive, never scatter — LA3 computation
  * filtering, PAPER §5.1), converged at L∞ < tol, unnormalized.
  */
object PageRank {
  val Damping = 0.85
  val Teleport = 0.15

  /** The vertex program: state (id, rank, outdeg, cvec) where cvec is the
    * folded constant source contribution (0 for the unfiltered variant).
    */
  private final class PrProgram(tol: Double) extends VertexProgram {
    def initState(vertices: DataFrame): DataFrame =
      vertices.select(col("id"), lit(1.0).as("rank"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        col("cvec"))
    // Sinks have outdeg 0 but are never joined as src (no out edges), so
    // the division is safe on every gathered row.
    def gatherExpr: Column = col("rank") / col("outdeg")
    def gatherStateColumns: Seq[String] = Seq("rank", "outdeg")
    override def usesEdgeWeight: Boolean = false
    def combineExpr(msg: Column): Column = sum(msg)
    def applyState(state: DataFrame, msgs: DataFrame): DataFrame =
      state.join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(Teleport) + col("cvec") +
            lit(Damping) * coalesce(col("agg"), lit(0.0))).as("rank"),
          col("outdeg"), col("cvec"), col("rank").as("oldRank"))
        .withColumn("delta", abs(col("rank") - col("oldRank")))
        .withColumn("changed", col("delta") > lit(tol))
        .drop("oldRank")
    val residualExpr: Option[Column] = Some(col("delta")) // stationary
  }

  /** Converged PR over the full graph (no class split). Vertices = edge
    * endpoints unless an explicit universe is given.
    */
  def run(spark: SparkSession, edges: DataFrame,
          cfg: SuperstepConfig): SuperstepResult = {
    val e = edges.select("src", "dst")
    val verts = GraphOps.vertices(e)
      .join(GraphOps.outDegrees(e), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .withColumn("cvec", lit(0.0))
    val r = Superstep.run(spark, e, verts, new PrProgram(cfg.tol), cfg)
    r.copy(state = r.state.select("id", "rank"))
  }

  /** Converged PR with LA3 computation filtering (SURVEY.md §2.3 C7):
    * sources (indeg 0) are fixed at rank = 0.15 and folded into a constant
    * contribution vector; the loop iterates only the regular×regular
    * sub-graph; sinks are applied once post-loop. On web-shaped graphs with
    * 30%+ sources/sinks this shrinks every superstep's join and shuffle by
    * that fraction (PAPER §5.1's headline optimization).
    */
  def runFiltered(spark: SparkSession, edges: DataFrame,
                  cfg: SuperstepConfig): SuperstepResult = {
    // Materialized ONCE: the raw edge table is referenced by the class
    // split, the constant vector, the RR subgraph AND the post-loop sink
    // pass — each an eagerly-materialized job that would otherwise re-run
    // the (possibly expensive) derivation plan. Measured on the driver's
    // bench: pr_converged paid the ~5 s co-purchase self-join 4× per run.
    val e = edges.select("src", "dst").transform(Lineage.cut(_, eager = true))
    val classes = GraphOps.classify(e, GraphOps.vertices(e))
      .transform(Lineage.cut(_, eager = true)) // reused by 4 sub-plans below
    val srcIds = classes.where(col("class") === "source").select("id")
    val sinkIds = classes.where(col("class") === "sink").select("id")
    val regular = classes.where(col("class") === "regular")

    // Constant vector: mass every superstep from fixed-rank sources,
    // 0.85 * Σ_{u∈source, u→v} 0.15/outdeg(u), landing on regular or sink v.
    val srcOut = classes.where(col("class") === "source")
      .select(col("id").as("src"), col("outdeg").as("srcOutdeg"))
    val cvecAll = e.join(srcOut, "src")
      .groupBy(col("dst").as("id"))
      .agg((lit(Damping) * sum(lit(Teleport) / col("srcOutdeg"))).as("cvec"))

    // Regular×regular edges: src not source, dst not sink.
    val eRR = e.join(srcIds.withColumnRenamed("id", "src"), Seq("src"),
        "left_anti")
      .join(sinkIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select("src", "dst")

    val verts = regular.select("id", "outdeg")
      .join(cvecAll, Seq("id"), "left_outer")
      .select(col("id"), col("outdeg"),
        coalesce(col("cvec"), lit(0.0)).as("cvec"))

    val loop = Superstep.run(spark, eRR, verts, new PrProgram(cfg.tol), cfg)

    // Post-loop: sinks applied once; sources fixed at 0.15.
    val regRanks = loop.state.select("id", "rank", "outdeg")
    val regScatter = regRanks
      .select(col("id").as("src"), (col("rank") / col("outdeg")).as("contrib"))
    val sinkMass = e.join(sinkIds.withColumnRenamed("id", "dst"), Seq("dst"))
      .join(regScatter, Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("contrib")).as("mass"))
    val sinkRanks = sinkIds
      .join(cvecAll, Seq("id"), "left_outer")
      .join(sinkMass, Seq("id"), "left_outer")
      .select(col("id"),
        (lit(Teleport) + coalesce(col("cvec"), lit(0.0)) +
          lit(Damping) * coalesce(col("mass"), lit(0.0))).as("rank"))
    val srcRanks = srcIds.select(col("id"), lit(Teleport).as("rank"))
    val isoRanks = classes.where(col("class") === "isolated")
      .select(col("id"), lit(Teleport).as("rank"))

    val all = regRanks.select("id", "rank")
      .unionByName(sinkRanks).unionByName(srcRanks).unionByName(isoRanks)
    loop.copy(state = all)
  }

  /** Personalized PageRank, fixed-k unrolled (oracle path): teleport mass
    * goes only to the source set S — r₀ = 1_S, r' = 0.15·1_S(v) + 0.85·mass.
    * `sourcePred` maps the id column to the S-membership predicate (a
    * Catalyst expression, so the whole plan stays codegen'd). With S = V
    * this degenerates to [[fixedIterations]] exactly.
    */
  def personalizedFixedIterations(edges: DataFrame,
                                  sourcePred: Column => Column,
                                  k: Int): DataFrame =
    powerRounds(edges.select("src", "dst"), count(lit(1)).as("outdeg"),
      col("rank") / col("outdeg"), sourcePred, k)

  /** k lazily-composed power rounds over the edge rows `e` (src, dst, …):
    * r₀ = 1_S, r'(v) = 0.15·1_S(v) + 0.85·Σ_{(u,v)∈e} share(u,v), with S
    * the vertices where `sourcePred` holds. `outAgg` is a per-src
    * aggregate, named by the caller and joined onto every edge row;
    * `share` is the mass one edge row carries, an expression over that
    * row and its src's `rank`. The tagged edge table is cut once up front:
    * exchange reuse does not dedupe it across the unrolled rounds.
    * Vertices = edge endpoints.
    */
  private def powerRounds(e: DataFrame, outAgg: Column, share: Column,
                          sourcePred: Column => Column, k: Int): DataFrame = {
    val verts = GraphOps.vertices(e)
    val eDeg = e.join(e.groupBy("src").agg(outAgg).hint("shuffle_hash"), "src")
      .transform(Lineage.cut(_, eager = true))
    def tele(c: Column): Column =
      when(sourcePred(c), lit(Teleport)).otherwise(lit(0.0))
    var rank = verts.select(col("id"),
      when(sourcePred(col("id")), lit(1.0)).otherwise(lit(0.0)).as("rank"))
    for (_ <- 1 to k) {
      val msgs = eDeg.join(rank.withColumnRenamed("id", "src")
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("id"), share.as("m"))
        .groupBy("id").agg(sum(col("m")).as("mass"))
      rank = verts.join(msgs.hint("shuffle_hash"), Seq("id"), "left_outer")
        .select(col("id"),
          (tele(col("id")) +
            lit(Damping) * coalesce(col("mass"), lit(0.0))).as("rank"))
    }
    rank
  }

  /** Multi-seed personalized PageRank — one rank vector PER seed, kept
    * SPARSE: state rows (seed, id, rank) exist only for pairs the mass has
    * already reached, so state is O(Σ per-seed k-hop reach), never
    * |seeds|·|V| — at web scale per-seed vectors stay localized around
    * their seeds (the "related items for THIS item" batch-serving shape).
    * Fixed-k lazily-composed trajectory, keyed by seed:
    * r'(s,v) = 0.15·[v=s] + 0.85·Σ_in r(s,u)/outdeg(u) — the
    * [[fixedIterations]] float discipline with (seed, id) aggregation
    * keys, so every shuffle is keyed (seed, vertex) and seeds never
    * synchronize with each other.
    */
  def multiSeedFixedIterations(edges: DataFrame,
                               seedPred: Column => Column,
                               k: Int): DataFrame = {
    val e = edges.select("src", "dst")
    val out = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // materialized once (r6): the k-round lazy composition references the
    // degree-tagged edge table per round and exchange reuse does not
    // dedupe across the unrolled plan
    val eDeg = e.join(out.hint("shuffle_hash"), "src")
      .transform(Lineage.cut(_, eager = true))
    val seeds = GraphOps.vertices(e).where(seedPred(col("id")))
      .select(col("id").as("seed"))
    val base = seeds.select(col("seed"), col("seed").as("id"),
      lit(Teleport).as("r0"))
    var rank = seeds.select(col("seed"), col("seed").as("id"),
      lit(1.0).as("rank"))
    for (_ <- 1 to k) {
      val msgs = eDeg.join(rank.withColumnRenamed("id", "src")
          .hint("shuffle_hash"), "src")
        .select(col("seed"), col("dst").as("id"),
          (col("rank") / col("outdeg")).as("m"))
        .groupBy("seed", "id").agg(sum(col("m")).as("mass"))
      rank = base.join(msgs, Seq("seed", "id"), "full_outer")
        .select(col("seed"), col("id"),
          (coalesce(col("r0"), lit(0.0)) +
            lit(Damping) * coalesce(col("mass"), lit(0.0))).as("rank"))
    }
    rank
  }

  /** Lazily-composed fixed-k iteration plan (no actions) — the
    * oracle-checked query path; trajectory matches the unrolled DuckDB SQL
    * exactly. Vertices = edge endpoints. This is
    * [[personalizedFixedIterations]] with S = V.
    */
  def fixedIterations(edges: DataFrame, k: Int): DataFrame =
    personalizedFixedIterations(edges, _ => lit(true), k)

  /** WEIGHTED fixed-k PageRank — scatter shares proportional to edge
    * weight: mass(v) = Σ_{(u,v)} rank(u)·w(u,v)/wout(u), with
    * wout(u) = Σ_{(u,·)} w (the standard weighted-PR generalization; the
    * wlp5/harmonic_w8 "weighted companion" discipline). Same
    * lazily-composed plan shape as [[fixedIterations]]: one edges⋈rank
    * join + one dst-keyed sum per round, map-side partial aggregation,
    * the weight-share division fused into the scatter projection — no
    * extra shuffle over the unweighted plan (wout rides the same
    * broadcast-or-shuffle join outdeg did).
    */
  def weightedFixedIterations(edges: DataFrame, k: Int): DataFrame =
    powerRounds(edges.select(col("src"), col("dst"),
        col("weight").cast("double").as("w")),
      sum(col("w")).as("wout"), col("rank") * col("w") / col("wout"),
      _ => lit(true), k)
}
