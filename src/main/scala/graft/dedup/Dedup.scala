package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for the training-data pipeline: exact,
  * n-gram-Jaccard (brute pairwise — correctness baseline), MinHash+LSH
  * (the scale path: shingle → minhash → band → bucket-join), and SimHash
  * with pigeonhole-banded candidate generation.
  *
  * Oracle-checked variants hash with md5 (identical hex in Spark and
  * DuckDB); the `xxhash64` variants are the production/bench path (codegen'd
  * long hashing, no string materialization).
  *
  * Scale discipline (the 100 TB rules all candidate paths obey):
  *   - exact dedup groups by a content DIGEST — full document bytes never
  *     enter a shuffle;
  *   - signatures (minhash) are ONE wide codegen'd aggregate over shingle
  *     rows — a single shuffle of the shingle rows, never ×numHashes, and
  *     no interpreted higher-order array expressions in the hot path;
  *   - similarity is VERIFIED only for LSH/band candidates: the candidate
  *     semi-join is applied BELOW the intersection aggregate, so no
  *     all-pairs aggregate is ever materialized;
  *   - the only all-pairs path left is [[jaccardPairs]], the labeled brute
  *     baseline: it is uncapped, so a stop-shingle posting list goes
  *     quadratic there — [[minhashLsh]] is the scale path.
  *
  * Every operator reads a `documents` frame by its column names, `doc_id`
  * and `text`.
  */
object Dedup {

  /** Exact dedup by content digest: one row per distinct text with the
    * surviving (min) id and the duplicate count. Grouping on
    * (xxhash64, md5) — 192 bits of digest, collision-free in practice —
    * keeps the shuffle to (digest, id) rows instead of full document bytes.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        xxhash64(col("text")).as("__hx"), md5(col("text")).as("__hm"))
      .groupBy(col("__hx"), col("__hm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "dup_cnt")

  /** Exact Jaccard over CANDIDATE pairs only, via the inverted-index join
    * with the candidate filter pushed BELOW the aggregate: posting-list
    * pair rows are left-semi-joined against the (small, broadcastable)
    * candidate set BEFORE the intersection groupBy, so no all-pairs
    * aggregate is ever materialized. All codegen — no interpreted
    * higher-order array functions in the hot path. Work is bounded by the
    * posting lists of the candidates' shingles, never corpus-quadratic.
    */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    val a = sh.toDF("doc1", "shingle")
    val b = sh.toDF("doc2", "shingle")
    val inter = a.join(b, Seq("shingle"))
      .where(col("doc1") < col("doc2"))
      .join(cand, Seq("doc1", "doc2"), "left_semi") // AQE broadcasts when small
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sz.toDF("doc1", "n1"), "doc1")
      .join(sz.toDF("doc2", "n2"), "doc2")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc1", "doc2", "jaccard")
  }

  /** Pairwise intersection counts over a shingle-rows table (equi-join on
    * shingle — the inverted-index join; quadratic only within a posting
    * list, so one frequent shingle goes quadratic at scale).
    */
  private def intersections(sh: DataFrame): DataFrame = {
    val a = sh.toDF("doc1", "shingle")
    val b = sh.toDF("doc2", "shingle")
    a.join(b, Seq("shingle"))
      .where(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("inter"))
  }

  /** Brute-force n-gram Jaccard near-dup pairs with jaccard ≥ threshold
    * (threshold applied to the 6-decimal-rounded value, matching the
    * oracle). Output: (doc1, doc2, jaccard). Correctness baseline: no
    * shingle is capped, so the pair work is quadratic in the longest
    * posting list — at scale use [[minhashLsh]].
    */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // materialized once — referenced by both join sides and the sizes agg
    val sh = TextOps.shingleRows(docs, n).localCheckpoint(true)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    intersections(sh)
      .join(sz.toDF("doc1", "n1"), "doc1")
      .join(sz.toDF("doc2", "n2"), "doc2")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc1", "doc2", "jaccard")
  }

  /** Asymmetric shingle-CONTAINMENT near-dup pairs (Broder's containment,
    * SEQUENCES '97 — the quote/subset detector Jaccard misses: a short doc
    * fully embedded in a long one has tiny Jaccard but containment 1):
    * containment(a→b) = |S(a) ∩ S(b)| / |S(a)| in integer micro-units
    * (`1000000 div |S(a)|` per shared shingle — the link_pred/lcc
    * no-float discipline, exact in both engines). Output: one DIRECTED
    * row per ordered pair with containment_micro ≥ thresholdMicro,
    * (src_doc, dst_doc, inter, containment_micro).
    *
    * Scale shape: the same inverted-index shingle join as [[jaccardPairs]]
    * (quadratic only within a posting list); both directions of a pair
    * come from ONE undirected intersection count, so the join work is not
    * doubled. Like [[jaccardPairs]] it caps no shingle: an uncapped
    * baseline, with [[minhashLsh]] as the scale path.
    */
  def containmentPairs(docs: DataFrame, n: Int,
                       thresholdMicro: Long): DataFrame = {
    val sh = TextOps.shingleRows(docs, n).localCheckpoint(true)
    val und = intersections(sh)
    val both = und.unionByName(
      und.select(col("doc2").as("doc1"), col("doc1").as("doc2"),
        col("inter")))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    both
      .join(sz.toDF("doc1", "n1"), "doc1")
      .withColumn("containment_micro",
        expr("CAST(1000000L * inter div n1 AS BIGINT)"))
      .where(col("containment_micro") >= thresholdMicro)
      .select(col("doc1").as("src_doc"), col("doc2").as("dst_doc"),
        col("inter"), col("containment_micro"))
  }

  /** MinHash signatures, md5 variant: numHashes rows per doc, (doc_id, i,
    * h) with h = min over shingles of md5("<i>:<shingle>"). One wide
    * codegen'd aggregate over the shingle rows (single shuffle of shingle
    * rows, not ×numHashes) then unpivoted. NOT a per-row higher-order
    * array expression: HOFs evaluate interpreted in Spark and measured 40×
    * slower than the codegen agg on the same workload.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"h$i"))
    val stackArgs = (0 until numHashes).map(i => s"$i, h$i").mkString(", ")
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .selectExpr("doc_id", s"stack($numHashes, $stackArgs) AS (i, h)")
  }

  /** MinHash + LSH near-dup pairs: wide-agg signatures → band buckets (r=1:
    * any matching hash makes a candidate — recall ≈ 1 for J ≥ 0.5 at 16
    * hashes) → exact Jaccard verification of the CANDIDATES ONLY (the
    * semi-join sits below the intersection aggregate, see
    * [[verifyJaccard]]). Output identical to [[jaccardPairs]] whenever LSH
    * recall is 1, which is what the DuckDB oracle checks. Candidate
    * generation cost is bucket-quadratic, not corpus-quadratic — the
    * 100 TB path.
    */
  def minhashLsh(docs: DataFrame, n: Int, numHashes: Int, threshold: Double,
                 maxBucket: Long = 100000L): DataFrame = {
    val sh = TextOps.shingleRows(docs, n)
      .localCheckpoint(true) // reused: signatures + verify join + sizes
    // Materialized once: referenced by the bucket-size agg and both sides
    // of the candidate self-join (3 plan references).
    val sig = minhashSignatures(sh, numHashes).localCheckpoint(true)
    // Hot-bucket cap (same guard as Similarity.annTopKMulti): a bucket with
    // more than maxBucket members — e.g. a corpus of byte-identical
    // documents that skipped exact() — would make the band self-join
    // quadratic in that bucket. Oversized buckets are dropped from
    // candidate generation; run [[exact]] first so identical documents are
    // collapsed before near-dup detection.
    val smallBuckets = sig.groupBy("i", "h")
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") <= maxBucket)
      .select("i", "h")
    val capped = sig.join(smallBuckets, Seq("i", "h"))
    val cand = capped.withColumnRenamed("doc_id", "doc1")
      .join(capped.withColumnRenamed("doc_id", "doc2"), Seq("i", "h"))
      .where(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Production minhash banding path: wide-agg xxhash64 signatures (single
    * shuffle of shingle rows, all codegen) banded into `bands` buckets of
    * `rowsPerBand` via a second-level hash. Returns (doc_id, band, bucket).
    */
  def minhashBucketsXx(docs: DataFrame, n: Int, bands: Int,
                       rowsPerBand: Int): DataFrame = {
    val sh = TextOps.shingleRows(docs, n)
    val numHashes = bands * rowsPerBand
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    val bandCols = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      xxhash64(rows: _*).as(s"b$b")
    }
    val stackArgs = (0 until bands).map(b => s"$b, b$b").mkString(", ")
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", s"stack($bands, $stackArgs) AS (band, bucket)")
  }

  /** 16-bit SimHash from md5 bits of tokens, weighted by token frequency.
    * Bit b of token t comes from hex digit b/4 of md5(t); the simhash bit
    * is the sign of the weighted ±1 vote. Fully reproducible in ANSI SQL.
    * Output: (doc_id, simhash).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tokRows = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5(col("tok")))
    val hexDigits = "0123456789abcdef"
    // vote_b = Σ_tokens cnt * (bit_b ? 1 : -1); simhash = Σ_b (vote_b>0)<<b
    val votes = (0 until 16).map { b =>
      val dval = expr(s"instr('$hexDigits', substring(h, ${b / 4 + 1}, 1)) - 1")
      val bit = shiftright(dval, 3 - b % 4).bitwiseAND(lit(1))
      sum(col("cnt") * (bit * 2 - 1)).as(s"v$b")
    }
    tokRows.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup candidate pairs at hamming distance ≤ maxHamming,
    * verified by exact n-gram Jaccard ≥ threshold. Candidate generation is
    * a pigeonhole band equi-join, NOT a cross join: the 16-bit signature is
    * split into maxHamming+1 bands, and any pair within hamming ≤ maxHamming
    * must agree on at least one whole band — identical output to the
    * all-pairs filter, bucket-local cost.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int, n: Int,
                   threshold: Double): DataFrame = {
    val s = simhash(docs)
    // maxHamming ≥ 16 admits EVERY pair of 16-bit signatures (hamming is
    // at most 16), and banding cannot guarantee completeness there (a pair
    // differing in all 16 bits shares no band) — so skip banding and emit
    // all pairs; the Jaccard verification still prunes. This path is
    // O(n²) in the corpus — warn loudly so a large maxHamming on a big
    // corpus is a deliberate choice, not a silent blow-up (ADVICE r4).
    if (maxHamming >= 16) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"simhashPairs: maxHamming=$maxHamming >= 16 disables pigeonhole " +
          "banding — falling back to ALL n(n-1)/2 candidate pairs " +
          "(quadratic in corpus size); use maxHamming < 16 at scale")
      val allPairs = s.select(col("doc_id").as("doc1"))
        .join(s.select(col("doc_id").as("doc2")), col("doc1") < col("doc2"))
      val shAll = TextOps.shingleRows(docs, n)
      return verifyJaccard(allPairs, shAll, threshold)
    }
    // Partition the 16 bits into numBands NON-EMPTY disjoint ranges — the
    // remainder bits are spread across the first bands (widths e.g. 4/3/3/3/3
    // for 5 bands), so no band can degenerate to a constant 0 (which would
    // turn the band equi-join into an all-pairs cross join). Pigeonhole
    // holds because maxHamming < numBands ≤ 16: fewer differing bits than
    // bands cannot touch every band, so some band agrees exactly.
    val numBands = math.min(maxHamming + 1, 16)
    val base = 16 / numBands
    val rem = 16 % numBands
    val widths = (0 until numBands).map(b => base + (if (b < rem) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val banded = s.select(col("doc_id").as("doc"), col("simhash"),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), starts(b))
            .bitwiseAND(lit((1L << widths(b)) - 1)).as("bval"))
      }: _*)).as("bb"))
      .select(col("doc"), col("simhash"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    val cand = banded.toDF("doc1", "h1", "band", "bval")
      .join(banded.toDF("doc2", "h2", "band", "bval"), Seq("band", "bval"))
      .where(col("doc1") < col("doc2") &&
        bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxHamming)
      .select("doc1", "doc2").distinct()
    val sh = TextOps.shingleRows(docs, n)
    verifyJaccard(cand, sh, threshold)
  }

  /** Near-dup cluster canonicalization — the production dedup shape
    * ("which row do I keep"), not just raw pairs: near-dup `pairs`
    * (doc1, doc2 [, …] from [[minhashLsh]]/[[simhashPairs]]/…) become an
    * undirected graph, connected components assign every member its
    * cluster's min doc id, and documents with no near-dup keep themselves.
    * Near-duplication is NOT transitive — a chain A≈B≈C pulls A and C into
    * one cluster even when jaccard(A,C) < threshold — which is exactly the
    * conservative keep-one-per-cluster behavior a training-data dedup
    * wants. Scale shape: the pair graph is tiny next to the corpus (only
    * near-dup docs appear), components run HashMin over it, and the final
    * assignment is one left join of (doc_id) against the component map —
    * document text never enters any shuffle.
    */
  def clusters(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
               pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .localCheckpoint(true)
    val comp = graft.algos.ConnectedComponents.run(spark, e,
      graft.engine.SuperstepConfig()).state
    docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keep_id"))
  }
}
