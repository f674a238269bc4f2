package graft.graph

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical edge row. Directed; `weight` defaults to 1 for unweighted
  * graphs. Mirrors LA3's edge triple (SURVEY.md §1.1) with 64-bit ids.
  */
final case class Edge(src: Long, dst: Long, weight: Double)

/** Packed CSR edge block — our analog of LA3's CSC tiles (SURVEY.md §2.2
  * G5/G6). One row per (blockId, src): the full adjacency of `src` as packed
  * arrays kept in Tungsten format. Built once, reused every superstep.
  */
final case class EdgeBlock(blockId: Int, src: Long,
                           dsts: Array[Long], weights: Array[Double])

/** G1–G7: graph construction / partitioning operators (SURVEY.md §2.2).
  * All pure DataFrame transformations — lazily composable, no actions.
  */
object GraphOps {

  /** S1 — text edge-list reader (LA3's converter input format): whitespace-
    * separated `src dst [weight]` lines; blank lines and `#` comments
    * skipped; missing weight = 1.0. Schema-on-read via the csv source so
    * parsing stays distributed and pushdown-friendly.
    */
  def readEdgeList(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    spark.read
      .option("delimiter", " ")
      .option("comment", "#")
      .option("mode", "PERMISSIVE") // 2-field rows → null weight, kept
      .schema("src LONG, dst LONG, weight DOUBLE")
      .csv(path)
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"),
        coalesce(col("weight"), lit(1.0)).as("weight"))

  /** Deterministic 60-bit priority shared with the DuckDB oracle: the
    * first 15 hex digits of md5 as a BIGINT (Spark `conv`, DuckDB
    * `('0x' || substr(md5(x),1,15))::BIGINT`). A LONG priority keeps every
    * per-round max/min aggregate on the hash-agg path — the 32-char hex
    * STRING spelling planned as SortAggregate (VERDICT r4 defect 2), a
    * measurable regression at 10⁹-edge rounds. Fixed-length lowercase hex
    * is order-isomorphic to its numeric value, so the prefix preserves
    * md5-string order except on 60-bit ties, where both engines use the
    * same prefix and therefore still agree.
    */
  def md5Prio(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** G1 — dedup, self-loops dropped. */
  def simplify(edges: DataFrame): DataFrame =
    edges.select("src", "dst").distinct().where(col("src") =!= col("dst"))

  /** §2.8 — both directions present, deduped; keeps self-loops. Read
    * through [[EdgeSet.symmetric]], which drops them.
    */
  private[graph] def symmetrize(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst")
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Orient each undirected edge as (min, max); drops self loops. Input may
    * be directed or undirected; output is the canonical simple oriented
    * edge set used by triangle counting (SURVEY.md §2.4 A4). Read
    * through [[EdgeSet.canonical]].
    */
  private[graph] def orient(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("src"),
                 greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") < col("dst"))
      .distinct()

  /** G3 — out-degrees (hash agg, partial+final = LA3's local-then-row
    * reduce). Columns: id, outdeg.
    */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))

  def inDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("indeg"))

  /** G4 — vertex classification into regular / source / sink / isolated
    * (LA3 computation filtering, PAPER §5.1). `vertices` is the vertex
    * universe (single column `id`); vertices with no edges are `isolated`.
    */
  def classify(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val od = outDegrees(edges)
    val id = inDegrees(edges)
    vertices.select("id")
      .join(od, Seq("id"), "left_outer")
      .join(id, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"))
      .withColumn("class",
        when(col("outdeg") > 0 && col("indeg") > 0, "regular")
          .when(col("outdeg") > 0, "source")
          .when(col("indeg") > 0, "sink")
          .otherwise("isolated"))
  }

  /** Vertex universe of an edge table: distinct endpoints, column `id`. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()

  /** One-row exact moment profile of the undirected graph of `edges`
    * (read as its [[EdgeSet.symmetric]] view) — the degree-correlation
    * summary a planner or analyst reads before choosing layouts:
    * vertex/edge counts, max degree, wedge count Σ C(d,2), and the
    * degree-assortativity Pearson coefficient as an EXACT RATIONAL
    * (Newman, Phys. Rev. Lett. 89,
    * 208701, 2002): over directed edge copies with x=deg(src), y=deg(dst),
    * r = (m2·Σxy − Σx·Σy) / (m2·Σx² − (Σx)²) — symmetrization makes the
    * x and y marginals identical, so the usual sqrt denominator collapses
    * to one integer and (assort_num, assort_den) cross the oracle
    * bit-exactly where a float r would be summation noise.
    *
    * Scale shape: one degree aggregate, one join of edges against the
    * degree map per endpoint (shuffle on vertex id), then a single
    * global one-row aggregate — map-side partial sums all the way.
    */
  def profile(edges: EdgeSet): DataFrame = {
    val e = edges.symmetric.frame
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val tagged = e
      .join(deg.toDF("src", "ds"), "src")
      .join(deg.toDF("dst", "dd"), "dst")
    val degStats = deg.agg(
      count(lit(1)).as("n_vertices"),
      max(col("deg")).as("max_deg"),
      sum(expr("(deg * (deg - 1)) div 2")).as("wedges"))
    val moments = tagged.agg(
      count(lit(1)).as("m2"),
      sum(col("ds")).as("sx"),
      sum(col("ds") * col("ds")).as("sxx"),
      sum(col("ds") * col("dd")).as("sxy"))
    moments.crossJoin(broadcast(degStats))
      .select(col("n_vertices").cast("long").as("n_vertices"),
        col("m2").cast("long").as("m2"),
        col("max_deg").cast("long").as("max_deg"),
        col("wedges").cast("long").as("wedges"),
        (col("m2") * col("sxy") - col("sx") * col("sx")).cast("long")
          .as("assort_num"),
        (col("m2") * col("sxx") - col("sx") * col("sx")).cast("long")
          .as("assort_den"))
  }

  /** One-row dyad census + reciprocity + global transitivity of a DIRECTED
    * graph (input: directed (src, dst); self-loops dropped, duplicates
    * deduped here). Reports, all as exact integers / exact rationals so the
    * gate is a hard compare:
    *
    *  - `m_edges`        — directed simple edge count
    *  - `mutual_pairs`   — unordered pairs {u,v} with BOTH directions
    *    present (Holland–Leinhardt dyad census M; Am. J. Sociol. 76, 1970)
    *  - `asym_pairs`     — pairs with exactly one direction (census A)
    *  - `recip_num/den`  — edge reciprocity r = (#reciprocated directed
    *    edges)/m as the rational (2·mutual, m)
    *  - `triangles`, `wedges`, `trans_num/den` — global transitivity
    *    3·△/Σ C(d,2) of the UNDERLYING undirected simple graph as the
    *    rational (3·triangles, wedges)
    *
    * Scale shape: reciprocity is one self-semi-join of the edge set against
    * its reverse (shuffle on (src, dst), map-side combinable count);
    * transitivity reuses [[graft.algos.TriangleCount.count]]'s degree-
    * oriented wedge plan; everything meets in broadcast one-row cross
    * joins — no driver collect.
    */
  def digraphProfile(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst").where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val base = e.agg(count(lit(1)).as("m"))
    val mut = e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("m_mut"))
    val und = symmetrize(e)
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val dstats = deg.agg(
      count(lit(1)).as("n_vertices"),
      sum(expr("(deg * (deg - 1)) div 2")).as("wedges"))
    val tri = graft.algos.TriangleCount.count(und)
    base.crossJoin(broadcast(mut)).crossJoin(broadcast(dstats))
      .crossJoin(broadcast(tri))
      .select(col("n_vertices").cast("long").as("n_vertices"),
        col("m").cast("long").as("m_edges"),
        (col("m_mut") / 2).cast("long").as("mutual_pairs"),
        (col("m") - col("m_mut")).cast("long").as("asym_pairs"),
        col("m_mut").cast("long").as("recip_num"),
        col("m").cast("long").as("recip_den"),
        col("triangles").cast("long").as("triangles"),
        col("wedges").cast("long").as("wedges"),
        (col("triangles") * 3).cast("long").as("trans_num"),
        col("wedges").cast("long").as("trans_den"))
  }

  /** G2 — dense id assignment 0..V-1 by global sort order, scale-safe:
    * range-repartition + in-partition sort, per-partition counts collected
    * once (tiny), then offset + local rank inside `mapPartitions`. The
    * assignment equals the global rank regardless of where the range
    * sampler placed partition bounds, so it is deterministic (SURVEY.md
    * §2.2 G2), at any range-partition count `partitions` (callers pass
    * [[graft.engine.Lineage.partitions]]). Input: one string column
    * `key`; output: (key, id).
    */
  def denseIds(keys: DataFrame, partitions: Int): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    // Materialized ONCE before either job below: the range partitioner
    // samples with an rdd-dependent seed, so re-executing the un-persisted
    // plan could place partition bounds differently between the counts job
    // and the id-assignment job, leaving the broadcast offsets stale and
    // ids duplicated/skipped. localCheckpoint pins one physical placement
    // that both jobs (and every downstream consumer) read.
    val sorted = keys.select(col(keys.columns.head).cast("string").as("key"))
      .distinct()
      .repartitionByRange(partitions, col("key"))
      .sortWithinPartitions("key")
      .localCheckpoint(true)
      .as[String]
    val counts = sorted.mapPartitions { it =>
      Iterator.single((TaskContext.getPartitionId(), it.size.toLong))
    }.collect().toMap
    val nParts = sorted.rdd.getNumPartitions
    val offsets = (0 until nParts).scanLeft(0L) { (acc, p) =>
      acc + counts.getOrElse(p, 0L)
    }.toArray
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    sorted.mapPartitions { it =>
      var i = bcOffsets.value(TaskContext.getPartitionId())
      it.map { k => val r = (k, i); i += 1; r }
    }.toDF("key", "id")
  }

  /** Average-neighbor-degree curve knn(k) — degree-degree correlation as
    * a function (the power-law/assortativity diagnostic beside
    * graph_profile's single coefficient): for each degree class k, the
    * mean degree of the neighbors of degree-k vertices, in integer
    * micro-units `Σ nbr_deg · 10⁶ div samples` where samples = k ·
    * |{v : deg v = k}| (every endpoint contributes its neighbor once).
    * Two co-partitioned degree joins + one agg on the (≤64-ish) degree
    * key over the [[EdgeSet.symmetric]] view; exact at any scale.
    */
  def knnDegree(edges: EdgeSet): DataFrame = {
    val e = edges.symmetric.frame
    val d = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    e.join(d.toDF("src", "dsrc"), Seq("src"))
      .join(d.toDF("dst", "ddst"), Seq("dst"))
      .groupBy(col("dsrc").as("deg"))
      .agg(count(lit(1)).as("samples"), sum(col("ddst")).as("nds"))
      .select(col("deg"), expr("samples div deg").as("n_vertices"),
        expr("nds * 1000000 div samples").as("knn_micro"))
  }

  /** G6 — pack per-src adjacency into CSR-style array rows (EdgeBlock).
    * Arrays stay in Tungsten format; the blocked SpMV kernel explodes them
    * back per superstep. blockId = src hash bucket.
    */
  def edgeBlocks(edges: DataFrame, numBlocks: Int): Dataset[EdgeBlock] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val withW =
      if (edges.columns.contains("weight"))
        edges.select(col("src"), col("dst"), col("weight").cast("double"))
      else edges.select(col("src"), col("dst"), lit(1.0).as("weight"))
    withW
      .withColumn("blockId", pmod(hash(col("src")), lit(numBlocks)).cast("int"))
      .groupBy("blockId", "src")
      .agg(sort_array(collect_list(struct(col("dst"), col("weight"))))
        .as("adj"))
      .select(col("blockId"), col("src"),
        col("adj.dst").as("dsts"), col("adj.weight").as("weights"))
      .as[EdgeBlock]
  }

  /** G7 — hub/skew split (mandated, SURVEY.md §2.2 G7): edges whose `src`
    * degree exceeds `tau` are salted into ⌈deg/tau⌉ sub-groups so no single
    * reducer owns a whole hub adjacency. Returns the salted edge table with
    * columns (src, dst, weight?, salt, nsalts). Frontier rows for hubs must
    * be replicated to all salts ([[graft.engine.Superstep]] does so).
    */
  def splitHubs(edges: DataFrame, tau: Long): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    edges.join(deg, "src")
      .withColumn("nsalts",
        greatest(lit(1L), ceil(col("deg") / lit(tau.toDouble))).cast("int"))
      .withColumn("salt", pmod(hash(col("dst")), col("nsalts")))
      .drop("deg")
  }

  /** Neighbor-set Jaccard similarity (link prediction / co-citation): for
    * vertex pairs sharing ≥1 neighbor in the [[EdgeSet.symmetric]] view,
    * sim(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)|, 6-dp rounded, thresholded.
    * One wedge join on the shared neighbor (the TC shape — candidate pairs
    * only, never all-pairs) + a degree join; |N(u)∪N(v)| = d(u)+d(v)−inter
    * needs no second pass.
    *
    * `maxDeg` is the hot-vertex guard (same discipline as
    * `Dedup.minhashLsh.maxBucket`): a wedge center of degree d fans out
    * d² candidate pairs, so one celebrity vertex makes the join quadratic
    * regardless of the threshold (the filter sits above the aggregate).
    * Centers with degree > maxDeg are dropped from the wedge join —
    * an explicit approximation (their pairs undercount `inter`); union
    * sizes keep the TRUE degrees. Default = no cap (exact).
    */
  def neighborJaccard(edges: EdgeSet, threshold: Double,
                      maxDeg: Long = Long.MaxValue): DataFrame =
    codegreeWithDegrees(edges, maxDeg)
      .select(col("u").as("v1"), col("w").as("v2"),
        round(col("cn") / (col("d1") + col("d2") - col("cn")), 6).as("sim"))
      .where(col("sim") >= threshold)

  /** Neighbor-set OVERLAP coefficient — |N(a)∩N(b)| / min(|N(a)|,|N(b)|)
    * in exact integer micro-units: the hub-subset detector Jaccard
    * misses (a vertex whose whole neighborhood sits inside a hub's scores
    * overlap 1.0 but a tiny Jaccard — the containment/Jaccard asymmetry,
    * on graphs). Same candidate generation as [[neighborJaccard]]: pairs
    * come from the shared-neighbor wedge join — never all-pairs — with
    * the identical deterministic `maxDeg` hot-center cap, and the score
    * is `(inter·10⁶) div min(d1,d2)` so no float crosses the oracle.
    * Output (v1, v2, overlap_micro) at ≥ `thresholdMicro`.
    */
  def neighborOverlap(edges: EdgeSet, thresholdMicro: Long,
                      maxDeg: Long = Long.MaxValue): DataFrame =
    codegreeWithDegrees(edges, maxDeg)
      .select(col("u").as("v1"), col("w").as("v2"),
        expr("(cn * 1000000) div least(d1, d2)").as("overlap_micro"))
      .where(col("overlap_micro") >= thresholdMicro)

  /** Co-neighbor pairs (u, w, cn) of `dst`s sharing a `src` center, u < w,
    * over unique (src, dst) rows: one center-keyed shuffled-hash self-join
    * plus a pair count — candidate pairs only, never all-pairs. Centers of
    * degree > `maxDeg` are skipped: a center of degree d fans out d² pairs,
    * and the cap is a pure degree threshold, so the oracle can mirror it.
    * `Long.MaxValue` = no cap (and no cap join).
    */
  def codegreePairs(e: DataFrame, maxDeg: Long): DataFrame = {
    val centered =
      if (maxDeg == Long.MaxValue) e
      else e.join(outDegrees(e).where(col("outdeg") <= maxDeg)
          .select(col("id").as("src")), Seq("src"), "left_semi")
    val nbr = centered.select(col("src").as("ctr"), col("dst").as("u"))
    nbr.join(nbr.toDF("ctr", "w").hint("shuffle_hash"), "ctr")
      .where(col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("cn"))
  }

  /** [[codegreePairs]] of the [[EdgeSet.symmetric]] view with both
    * endpoint degrees attached: (u, w, cn, d1, d2). Degrees are the TRUE
    * ones even when `maxDeg` drops centers.
    */
  private def codegreeWithDegrees(edges: EdgeSet, maxDeg: Long): DataFrame = {
    val und = edges.symmetric.frame.localCheckpoint(true)
    val deg = outDegrees(und)
    codegreePairs(und, maxDeg)
      .join(deg.toDF("u", "d1"), "u")
      .join(deg.toDF("w", "d2"), "w")
  }

  /** WEIGHTED neighbor Jaccard — Σmin(w)/Σmax(w) over the union of the two
    * weighted neighborhoods (the Ruzicka similarity, the standard weighted
    * generalization), in exact integer micro-units: with integral edge
    * weights, `Σmax over the union = tot(a) + tot(b) − Σmin over the
    * intersection`, so the score is `(num·10⁶) div den` with both sides
    * BIGINT and no float at the gate. Candidate pairs come from the
    * shared-neighbor wedge join (never all-pairs), with the same
    * deterministic `maxDeg` hot-center cap as [[neighborJaccard]].
    * Output (v1, v2, wjac_micro) at ≥ `thresholdMicro`.
    *
    * @param edges canonical weighted edges (src, dst, weight), integral
    *              weights; symmetrized here
    */
  def neighborJaccardWeighted(edges: DataFrame, thresholdMicro: Long,
                              maxDeg: Long = Long.MaxValue): DataFrame = {
    // self-loop filter AFTER the union so BOTH legs drop them (ADVICE r5:
    // filtering only the forward leg would let a self-loop survive in one
    // direction, skewing tot/wedge counts asymmetrically; current call
    // sites pass canonical src<dst edges, so values are unchanged)
    val und = edges.select("src", "dst", "weight")
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(true)
    val tot = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"), sum(col("weight")).as("tot"))
    val wedgeE =
      if (maxDeg == Long.MaxValue) und
      else und.join(tot.where(col("deg") <= maxDeg)
          .select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst", "weight")
    val wedge = wedgeE.select(col("dst").as("nbr"), col("src").as("v"),
      col("weight").as("w"))
    val inter = wedge.toDF("nbr", "v1", "w1")
      .join(wedge.toDF("nbr", "v2", "w2"), Seq("nbr"))
      .where(col("v1") < col("v2"))
      .groupBy("v1", "v2")
      .agg(sum(least(col("w1"), col("w2"))).as("num"))
    inter
      .join(tot.select(col("id").as("v1"), col("tot").as("t1")), "v1")
      .join(tot.select(col("id").as("v2"), col("tot").as("t2")), "v2")
      .select(col("v1"), col("v2"),
        expr("(num * 1000000) div (t1 + t2 - num)").as("wjac_micro"))
      .where(col("wjac_micro") >= thresholdMicro)
  }

  /** JSON-lines edge reader (S-family source format beside the text
    * edge list and parquet): explicit schema — NEVER inferSchema, which
    * would force a full pre-scan of the input — malformed lines dropped
    * (PERMISSIVE leaves their fields null).
    */
  def readJsonEdges(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .schema("src LONG, dst LONG, weight LONG")
      .json(path)
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"),
        coalesce(col("weight"), lit(1L)).as("weight"))

  /** CSV edge source (S-family format beside text, parquet, JSON-lines):
    * explicit schema — no inferSchema, which would scan the whole input
    * twice at 100 TB — header expected, malformed lines dropped
    * (PERMISSIVE + null filter), absent weights default to 1. Integral
    * weight preserved as LONG (the text format degrades it to DOUBLE).
    */
  def readCsvEdges(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .schema("src LONG, dst LONG, weight LONG")
      .csv(path)
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"),
        coalesce(col("weight"), lit(1L)).as("weight"))

  /** ORC edge source (S-family format beside text / parquet / JSON-lines /
    * CSV — the columnar alternative with identical pushdown/pruning
    * behavior under Catalyst). Explicit schema; integral weights preserved
    * exactly by the format.
    */
  def readOrcEdges(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    spark.read
      .schema("src LONG, dst LONG, weight LONG")
      .orc(path)
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"),
        coalesce(col("weight"), lit(1L)).as("weight"))

  /** 2-hop neighborhood size — |{u : 1 ≤ dist(v,u) ≤ 2}| per vertex (the
    * friend-of-friend reach every influence/audience estimate starts
    * from). Exact distinct count over the [[EdgeSet.symmetric]] view: one
    * self-join on the mid vertex, one union with the 1-hop edges, one
    * distinct. Integer-exact.
    *
    * Scale shape: the wedge join shuffles on the mid vertex and the
    * distinct on (src, dst) — the same two-shuffle plan as triangle
    * counting's wedge phase. On power-law graphs the wedge fan-out is
    * Σ deg², dominated by hubs; at 100 TB cap hub mids first (the
    * neighborJaccard maxDeg discipline) or switch the count to HLL
    * ([[graft.functions.Cardinality]]) — exact distinct is the oracle
    * baseline here.
    */
  def twoHopReach(edges: EdgeSet,
                  maxMidDeg: Long = Long.MaxValue): DataFrame = {
    val e = edges.symmetric.frame
    // deterministic hot-mid cap: wedges through a mid vertex of degree >
    // maxMidDeg are skipped (its Σ deg² term dominates the fan-out on
    // power-law graphs); direct 1-hop edges always count, so the result
    // is a LOWER bound that degrades gracefully — and the cap predicate
    // is a pure degree threshold, reproducible in the oracle
    val mids =
      if (maxMidDeg == Long.MaxValue) e
      else {
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        e.join(deg.where(col("deg") <= maxMidDeg).select("src"),
          Seq("src"), "left_semi")
      }
    val two = mids.toDF("mid", "src").join(mids.toDF("mid", "dst"), Seq("mid"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
    e.union(two).distinct()
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("reach2"))
  }

  /** Snapshot edge diff — the daily-ETL churn report between two edge
    * sets: +1 for edges only in `b` (added), -1 for edges only in `a`
    * (removed); common edges are dropped before anything wide moves. One
    * full-outer join on the edge key; at 100 TB both sides arrive
    * hash-partitioned on (src, dst) so the join co-locates.
    */
  def edgeDiff(a: DataFrame, b: DataFrame): DataFrame =
    a.select("src", "dst").withColumn("in_a", lit(1))
      .join(b.select("src", "dst").withColumn("in_b", lit(1)),
        Seq("src", "dst"), "full_outer")
      .where(col("in_a").isNull || col("in_b").isNull)
      .select(col("src"), col("dst"),
        when(col("in_a").isNull, lit(1L)).otherwise(lit(-1L)).as("change"))

  /** Rich-club profile φ(k) (Colizza et al., Nature Physics 2006): for each
    * degree threshold k, the density of the subgraph induced by vertices of
    * degree ≥ k. Read over the [[EdgeSet.symmetric]] view (both
    * directions), so the directed row count over the club IS 2·E_k and
    * φ(k) = 2·E_k / (N_k·(N_k−1)) = e2_k / (N_k·(N_k−1)) — reported in ppm
    * via exact floor division (engine-identical on BIGINTs).
    *
    * Scale shape: one degree agg, two co-partitioned deg joins to tag the
    * edges, then ONE pass over the tagged edges per the broadcast |ks|-row
    * threshold table (conditional sums — no per-k rescan); clubs with
    * N_k ≤ 1 are dropped (φ undefined). Everything after the tag is a
    * |ks|-row aggregate.
    */
  def richClub(edges: EdgeSet, ks: Seq[Int]): DataFrame = {
    val e = edges.symmetric.frame
    val spark = e.sparkSession
    import spark.implicits._
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val kdf = broadcast(ks.map(_.toLong).toDF("k"))
    val nk = deg.crossJoin(kdf).where(col("deg") >= col("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("n_k"))
    val tagged = e
      .join(deg.toDF("src", "ds"), "src")
      .join(deg.toDF("dst", "dd"), "dst")
    val ek = tagged.crossJoin(kdf)
      .where(col("ds") >= col("k") && col("dd") >= col("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("e2_k"))
    nk.join(ek, Seq("k"), "left")
      .where(col("n_k") > 1)
      .select(col("k"), col("n_k"),
        coalesce(col("e2_k"), lit(0L)).as("e2_k"),
        expr("(coalesce(e2_k, 0) * 1000000) div (n_k * (n_k - 1))")
          .as("phi_ppm"))
  }
}
