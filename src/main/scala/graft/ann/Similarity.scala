package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>): brute-force
  * cosine top-k as the correctness baseline, plus an LSH-bucketed variant
  * (random-hyperplane signs) as the scale path. All arithmetic is done in
  * double via codegen'd higher-order functions (zip_with / aggregate) — no
  * UDFs (SURVEY.md-style functions-first discipline). Every operator
  * reads an `embeddings` frame by its column names, `vec_id` and
  * `embedding`.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double, sequential array-order fold (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-vector prep done ONCE before pair fan-out: double-cast array +
    * norm. dot(vd)/(n1·n2) over prepped rows is bit-identical to computing
    * cosine from the raw float arrays per pair (same summation order), but
    * the casts and norms are O(n) instead of O(n²).
    */
  private def prepped(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("__vd"))
      .select(col("vec_id"), col("__vd"),
        sqrt(dotD(col("__vd"), col("__vd"))).as("__nrm"))

  /** Codegen'd dot product (see [[graft.functions.DotProduct]]) — the
    * O(n²) pair loops must stay inside whole-stage codegen.
    */
  private def dotD(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** All pairs (v1 < v2) with 6-decimal-rounded cosine ≥ threshold —
    * embedding near-dup detection. Brute force: O(n²) pairs; callers at
    * scale should bucket first (see [[lshBuckets]]).
    */
  def nearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val p = prepped(emb)
    val a = p.toDF("v1", "va", "na")
    val b = p.toDF("v2", "vb", "nb")
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(dotD(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Brute-force cosine top-k neighbors for each query vector. Output:
    * (query_id, neighbor_id, rk, cos); ranking on the rounded cosine with
    * id tie-break (deterministic across engines).
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = prepped(queries).toDF("query_id", "qv", "qn")
    val c = prepped(corpus).toDF("neighbor_id", "cv", "cn")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** Random-hyperplane LSH signature: `bits` sign bits, hyperplane b
    * component i = centered hash of (b, i) — deterministic, no RNG state
    * (Date/Random are banned for resumability). Vectors sharing a bucket
    * are near-cosine candidates; probing neighboring buckets (hamming ≤ 1)
    * gives the recall knob. This is the 100 TB path: candidate generation
    * is bucket-local, never corpus-quadratic.
    */
  def lshBuckets(emb: DataFrame, bits: Int): DataFrame = {
    val sig = (0 until bits).map { b =>
      // pseudo-random ±weights per (plane b, dim i) from a hash; the
      // projection is Σ_i w(b,i)·v_i with w ∈ {-1, +1}
      val proj = aggregate(
        zip_with(col("embedding"),
          transform(sequence(lit(0), size(col("embedding")) - 1),
            i => when(pmod(xxhash64(lit(b), i), lit(2)) === 0, lit(1.0))
              .otherwise(lit(-1.0))),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    emb.select(col("vec_id"), sig.as("bucket"))
  }

  /** Multi-table random-hyperplane LSH bucket rows (id, tbl, bucket):
    * `tables` independent `bits`-bit signatures. Each plane's projection is
    * one codegen'd [[graft.functions.DotProduct]] over the vector — not an
    * interpreted per-element HOF. `dim` is the embedding dimensionality
    * (one cheap head() at the call site).
    *
    * The deterministic ±1 hyperplanes travel as DATA, not as plan: one
    * broadcast single-row frame carrying all tables·bits planes as an
    * array<array<double>>, cross-joined in. The plan holds tables·bits
    * `element_at` references — O(tables·bits) expressions regardless of
    * dim — where the previous literal-array spelling inlined
    * tables·bits·dim literals into one projection and hit plan/codegen
    * size limits at realistic dims (24 tables × 4 bits × 2048 dims ≈ 200k
    * literals; BASELINE.md "lshBucketsMulti plan size"). Bucket
    * values are unchanged (same w(t,b,i) weights, same summation order).
    */
  def lshBucketsMulti(emb: DataFrame, bits: Int, tables: Int,
                      dim: Int): DataFrame = {
    def w(t: Int, b: Int, i: Int): Double =
      if ((scala.util.hashing.MurmurHash3.productHash((t, b, i)) & 1) == 0)
        1.0 else -1.0
    val spark = emb.sparkSession
    import spark.implicits._
    val planes: Seq[Seq[Double]] = (0 until tables * bits).map { p =>
      val t = p / bits
      val b = p % bits
      (0 until dim).map(i => w(t, b, i))
    }
    val planesDf = Seq(Tuple1(planes)).toDF("__planes")
    val tableCols = (0 until tables).map { t =>
      (0 until bits).map { b =>
        val plane = element_at(col("__planes"), t * bits + b + 1)
        when(dotD(col("__vd"), plane) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"bkt$t")
    }
    val stackArgs = (0 until tables).map(t => s"$t, bkt$t").mkString(", ")
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("__vd"))
      .crossJoin(broadcast(planesDf))
      .select(col("vec_id") +: tableCols: _*)
      .selectExpr("vec_id", s"stack($tables, $stackArgs) AS (tbl, bucket)")
  }

  /** ANN top-k with band-OR over multiple independent LSH tables plus a
    * bucket-size cap (SURVEY-grade scale path): a pair is a candidate if it
    * shares a bucket in ANY table; buckets larger than `maxBucket` are
    * dropped (hot-bucket guard — one degenerate bucket cannot go
    * quadratic). More tables → higher recall at linear candidate cost.
    */
  def annTopKMulti(emb: DataFrame, bits: Int, tables: Int, k: Int,
                   maxBucket: Long = 10000): DataFrame = {
    val dimRow = emb.select(size(col("embedding")).as("d")).limit(1).collect()
    if (dimRow.isEmpty) return topK(emb, emb, k)
    val dim = dimRow.head.getInt(0)
    val bk = lshBucketsMulti(emb, bits, tables, dim)
      .localCheckpoint(true)
    val small = bk.groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") <= maxBucket)
      .select("tbl", "bucket")
    // Rename by NAME, not positional toDF — the using-join's output column
    // order is an implementation detail; a positional rename could silently
    // rebind the id to a bucket column if the projection ever changes.
    val capped = bk.join(small, Seq("tbl", "bucket"))
    val cand = capped.withColumnRenamed("vec_id", "query_id")
      .join(capped.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("tbl", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val p = prepped(emb)
    val scored = cand
      .join(p.toDF("query_id", "qv", "qn"), "query_id")
      .join(p.toDF("neighbor_id", "cv", "cn"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** IVF-flat ANN top-k (the third scale path, next to the LSH variants):
    *
    *  1. '''Centroids''': the `nCentroids` corpus vectors with the smallest
    *     `xxhash64(id)` — a deterministic uniform sample, no RNG state
    *     (resumable; k-means refinement is deliberately omitted: float agg
    *     order varies across partitions, and a jittered centroid can flip
    *     assignments between otherwise-identical runs).
    *  2. '''Assignment''': every vector scores against the broadcast
    *     centroid table with the codegen'd dot product — O(n·C), no
    *     shuffle; corpus vectors keep their argmax list, queries keep the
    *     `nProbe` closest lists (the recall knob).
    *  3. '''Candidates''': query-probe ⋈ inverted-list on the centroid id,
    *     lists capped at `maxList` rows (hot-list guard, same discipline as
    *     [[annTopKMulti]]'s maxBucket) — candidate generation is
    *     list-local, never corpus-quadratic.
    *  4. '''Re-rank''': exact rounded cosine + row_number, identical tail
    *     to the other ANN paths.
    *
    * Recall < 1 by construction; the ≥-recall gate vs [[topK]] lives in
    * AnnRecallSpec.
    */
  def ivfTopK(emb: DataFrame, nCentroids: Int, nProbe: Int, k: Int,
              maxList: Long = 100000): DataFrame = {
    val p = prepped(emb).localCheckpoint(true)
    // Deterministic sample: the nCentroids smallest (xxhash64(id), id) —
    // orderBy+limit plans as TakeOrderedAndProject (distributed per-partition
    // top-k + driver merge), never a global sort; the empty-over window
    // assigning cid runs over the C-row result only.
    val cw = Window.orderBy(col("__h"), col("vec_id"))
    val centroids = p
      .withColumn("__h", xxhash64(col("vec_id")))
      .orderBy(col("__h"), col("vec_id")).limit(nCentroids)
      .withColumn("cid", row_number().over(cw))
      .select(col("cid"), col("__vd").as("cv"), col("__nrm").as("cn"))
    val assigned = ivfAssignment(p, centroids).localCheckpoint(true)
    val lists = assigned.where(col("__crk") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cid"),
        col("__vd").as("cv2"), col("__nrm").as("cn2"))
    val smallLists = lists.groupBy("cid").agg(count(lit(1)).as("__lsz"))
      .where(col("__lsz") <= maxList).select("cid")
    val probes = assigned.where(col("__crk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cid"),
        col("__vd").as("qv"), col("__nrm").as("qn"))
    val scored = probes
      .join(smallLists, Seq("cid"))
      .join(lists, Seq("cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qv"), col("cv2")) / (col("qn") * col("cn2")), 6)
          .as("cos"))
      .distinct() // a pair can meet through several probed lists
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** IVF assignment sub-plan (package-visible so PlanShapeSpec can audit
    * the pre-checkpoint physical plan): n×C scored rows against the
    * BROADCAST centroid table, ranked per vector. The aw window partitions
    * by the vector id — distributed, never a global sort.
    */
  private[graft] def ivfAssignment(p: DataFrame,
                                   centroids: DataFrame): DataFrame = {
    val aw = Window.partitionBy("vec_id")
      .orderBy(col("__csim").desc, col("cid").asc)
    p.join(broadcast(centroids))
      .select(col("vec_id"), col("__vd"), col("__nrm"), col("cid"),
        (dotD(col("__vd"), col("cv")) / (col("__nrm") * col("cn")))
          .as("__csim"))
      .withColumn("__crk", row_number().over(aw))
  }

  /** Package-visible prepped view for plan audits. */
  private[graft] def preppedView(emb: DataFrame): DataFrame = prepped(emb)

  /** ANN top-k via LSH buckets: candidates share a bucket; exact cosine +
    * rank inside the bucket. Recall < 1 by construction — this is the
    * throughput-oriented variant; [[topK]] is the exact baseline.
    */
  def annTopK(emb: DataFrame, bits: Int, k: Int): DataFrame = {
    val withBucket = prepped(emb)
      .join(lshBuckets(emb, bits), "vec_id")
    val a = withBucket.toDF("query_id", "qv", "qn", "bucket")
    val b = withBucket.toDF("neighbor_id", "cv", "cn", "bucket")
    val scored = a.join(b, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }
}
