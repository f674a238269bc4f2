package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** Exact-integer Lloyd k-means over an embedding column — the clustering
  * primitive a training-data pipeline runs for corpus curation (topic
  * balancing, per-cluster sampling, IVF coarse quantizers).
  *
  * Every quantity that crosses the oracle gate is a BIGINT, so the result
  * is bit-exact in Spark and DuckDB:
  *
  *  - coordinates are quantized to micro-units `q = floor(x·scale) + offset`
  *    (float→double widening is exact, the double multiply and floor are
  *    IEEE-identical in both engines); the offset shifts every coordinate
  *    non-negative so truncating integer division (Spark `div`, DuckDB `//`)
  *    IS floor division — and k-means is translation-invariant, so the
  *    offset never shows up in a distance;
  *  - initial centroids are the k vectors with the smallest
  *    [[GraphOps.md5Prio]] (deterministic, engine-agnostic seeding);
  *  - squared distances decompose as `|q|² − 2·q·m + |m|²` — pure integer
  *    sums, order-independent, no float path;
  *  - the per-vector argmin ships as ONE packed BIGINT `dist²·16 + cluster`
  *    (the Mis/Msf priority discipline), so each assignment round is a
  *    plain hash-agg min, ties broken toward the lower cluster id;
  *  - updated centroids are the per-dimension FLOORED means
  *    (`sum(q) div count`) — "integer k-means": rounding the mean to the
  *    lattice changes distances by < 1 micro-unit per dimension and keeps
  *    the trajectory exactly replayable in ANSI SQL;
  *  - a cluster that loses all members keeps its previous centroid
  *    (coalesce against the prior round).
  *
  * Scale shape: the long format (vec_id, dim, q) joins centroids on `dim`
  * — k·d rows, always a broadcast — then aggregates n·k partial dots with
  * map-side combine; per-round shuffle is O(n·k) grouped rows, never a
  * cross join of vectors. At 10⁹ vectors the same algebra runs with the
  * centroid matrix broadcast as one array row and the dot computed by a
  * codegen'd expression per row ([[graft.functions]] DotProduct pattern),
  * dropping the explode entirely; the relational spelling here is the
  * oracle-exact baseline of that path.
  */
object KMeans {

  /** Long-format quantized coordinates (vec_id, dim, q); dim is 0-based. */
  def quantize(vecs: DataFrame, scale: Long, offset: Long): DataFrame =
    vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        (floor(col("x").cast("double") * scale).cast("long") + offset)
          .as("q"))

  /** One assignment round: nearest centroid per vector under the packed
    * (dist², cluster) order. `cent` is (cluster, dim, m).
    */
  private def assign(quant: DataFrame, qq: DataFrame,
                     cent: DataFrame): DataFrame = {
    val cmm = cent.groupBy("cluster").agg(sum(col("m") * col("m")).as("mm"))
    val dots = quant.join(broadcast(cent), Seq("dim"))
      .groupBy("vec_id", "cluster")
      .agg(sum(col("q") * col("m")).as("dot"))
    dots.join(qq, Seq("vec_id")).join(broadcast(cmm), Seq("cluster"))
      .groupBy("vec_id")
      .agg(min((col("qq") - lit(2L) * col("dot") + col("mm")) * lit(16L)
        + col("cluster")).as("p"))
      .select(col("vec_id"), (col("p") % 16L).as("cluster"),
        expr("p div 16").as("dist2"))
  }

  /** Floored-mean centroid update; empty clusters keep `centPrev`. */
  private def update(quant: DataFrame, asg: DataFrame,
                     centPrev: DataFrame): DataFrame = {
    val agg = quant.join(asg.select("vec_id", "cluster"), Seq("vec_id"))
      .groupBy("cluster", "dim")
      .agg(expr("sum(q) div count(*)").as("mNew"))
    centPrev.join(agg, Seq("cluster", "dim"), "left")
      .select(col("cluster"), col("dim"),
        coalesce(col("mNew"), col("m")).as("m"))
  }

  /** The state both Lloyd chains start from: the quantized coordinates,
    * each vector's |q|², and the round-0 centroids (cluster, dim, m) — the
    * k vectors with the smallest md5 priority, all materialized.
    */
  private def prep(vecs: DataFrame, k: Int, iters: Int, scale: Long,
                   offset: Long): (DataFrame, DataFrame, DataFrame) = {
    require(k >= 1 && k <= 16, s"packed priority holds k <= 16, got $k")
    require(iters >= 1, s"need at least one assignment round, got $iters")
    val quant = quantize(vecs, scale, offset).localCheckpoint(true)
    val qq = quant.groupBy("vec_id").agg(sum(col("q") * col("q")).as("qq"))
      .localCheckpoint(true)

    // Deterministic seeds: the k vectors with the smallest md5 priority
    // (TakeOrdered — never a global sort), ranked into cluster ids by a
    // window over the k-row result only.
    import org.apache.spark.sql.expressions.Window
    val seeds = vecs
      .select(col("vec_id"),
        GraphOps.md5Prio(col("vec_id").cast("string")).as("prio"))
      .orderBy("prio", "vec_id").limit(k)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy("prio", "vec_id")) - 1)
          .cast("long").as("cluster"))
    val cent = quant.join(seeds, Seq("vec_id"))
      .select(col("cluster"), col("dim"), col("q").as("m"))
      .localCheckpoint(true)
    (quant, qq, cent)
  }

  /** Runs `iters` assignment rounds (with `iters − 1` centroid updates in
    * between) and returns the final (vec_id, cluster, dist2) assignment.
    * dist2 is the exact squared distance in quantized micro-units.
    */
  def run(spark: SparkSession, vecs: DataFrame, k: Int, iters: Int,
          scale: Long = 10000L, offset: Long = 10000L): DataFrame = {
    val (quant, qq, cent0) = prep(vecs, k, iters, scale, offset)
    var cent = cent0
    var asg: DataFrame = null
    for (i <- 1 to iters) {
      asg = assign(quant, qq, cent).localCheckpoint(true)
      if (i < iters) cent = update(quant, asg, cent).localCheckpoint(true)
    }
    asg
  }

  /** Per-round inertia curve — the elbow plot a clustering pipeline reads
    * to pick k: (round, inertia = Σ dist²) after every assignment round of
    * the SAME deterministic chain as [[run]]. Lloyd monotonicity makes the
    * curve non-increasing; everything is the exact quantized integer
    * algebra, so the whole curve crosses the oracle gate. Cost: [[run]]'s
    * rounds plus one 1-row agg per round over the already-materialized
    * assignment.
    */
  def runProfile(spark: SparkSession, vecs: DataFrame, k: Int, iters: Int,
                 scale: Long = 10000L, offset: Long = 10000L): DataFrame = {
    val (quant, qq, cent0) = prep(vecs, k, iters, scale, offset)
    var cent = cent0
    var prof: DataFrame = null
    for (i <- 1 to iters) {
      val asg = assign(quant, qq, cent).localCheckpoint(true)
      val row = asg.agg(sum("dist2").cast("long").as("inertia"))
        .select(lit(i.toLong).as("round"), col("inertia"))
      prof = if (prof == null) row else prof.unionByName(row)
      if (i < iters) cent = update(quant, asg, cent).localCheckpoint(true)
    }
    prof
  }

  /** Product quantization — the embedding-compression primitive behind
    * every large-scale vector index (Jégou, Douze & Schmid, TPAMI 2011):
    * the vector splits into `m` disjoint `dsub`-dim subspaces, each
    * subspace gets its own exact-integer [[run]] codebook, and the vector
    * is stored as the m-tuple of centroid codes (here m·2 bits instead of
    * dsub·m floats). Returns (vec_id, c0..c{m-1}, dist2) where dist2 is
    * the summed per-subspace squared quantization error — the exact
    * reconstruction error of the code, and the quantity an ADC search
    * accumulates from lookup tables. Every subspace chain is bit-exact in
    * DuckDB, so the full code table crosses the oracle gate.
    *
    * Scale shape: m independent k-means chains over n·dsub-row slices
    * (same per-round O(n·k) grouped shuffle as [[run]]), then an m-way
    * co-partitioned join on vec_id.
    */
  def pq(spark: SparkSession, vecs: DataFrame, m: Int, dsub: Int, k: Int,
         iters: Int): DataFrame = {
    require(m >= 1 && dsub >= 1, s"need m/dsub >= 1, got $m/$dsub")
    val subs = (0 until m).map { j =>
      run(spark,
        vecs.select(col("vec_id"),
          slice(col("embedding"), j * dsub + 1, dsub).as("embedding")),
        k, iters)
        .select(col("vec_id"), col("cluster").as(s"c$j"),
          col("dist2").as(s"__d$j"))
    }
    subs.reduce(_.join(_, Seq("vec_id")))
      .select(col("vec_id") +: (0 until m).map(j => col(s"c$j")) :+
        (0 until m).map(j => col(s"__d$j")).reduce(_ + _).as("dist2"): _*)
  }
}
