package graft

import org.apache.spark.sql.functions._

import graft.ann.Similarity
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.text.TextOps

/** Training-data pipeline operators: dedup family on planted duplicates,
  * text analysis on hand-checked strings, similarity search on tiny
  * vectors, multimodal plumbing determinism.
  */
class PipelineOpsSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while a cold wind blows through tall dark trees in the silent night"
  private val nearDup = base.replace("cold", "warm") // one-token change
  private val distinct1 =
    "completely different content about spark catalyst optimizers and " +
      "columnar execution with whole stage code generation for analytics"

  private val docs = Seq(
    (1L, base), (2L, nearDup), (3L, distinct1), (4L, base), (5L, "tiny doc"))

  test("exact dedup groups identical texts, keeps min id") {
    val got = Dedup.exact(docsDf(docs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 2L) // docs 1 and 4 identical
    assert(got(2L) === 1L)
    assert(got.values.sum === 5L)
  }

  test("jaccard pairs find planted near-dup and exact dup; not distinct doc") {
    val got = Dedup.jaccardPairs(docsDf(docs), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 4L)) &&
      got.contains((2L, 4L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH finds the same pairs as brute-force jaccard here") {
    val brute = Dedup.jaccardPairs(docsDf(docs), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLsh(docsDf(docs), 3, 16, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh === brute)
  }

  test("near-dup clusters: transitive chain collapses, uniques keep selves") {
    // chain: base ≈ nearDup ≈ nearDup2 (adjacent pairs over threshold;
    // the ends need not be) + exact dup of base + two uniques
    val nearDup2 = nearDup.replace("dark", "pale")
    val chain = Seq((1L, base), (2L, nearDup), (3L, distinct1),
      (4L, base), (5L, "tiny doc"), (6L, nearDup2))
    val pairs = Dedup.minhashLsh(docsDf(chain), 3, 16, 0.5)
    val got = Dedup.clusters(spark, docsDf(chain), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // expected: union-find closure over the ACTUAL emitted pairs
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map(
      chain.map(_._1).map(v => v -> v): _*)
    def find(v: Long): Long =
      if (parent(v) == v) v else { parent(v) = find(parent(v)); parent(v) }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val roots = chain.map(_._1).groupBy(find)
    val exp = roots.flatMap { case (_, vs) => vs.map(_ -> vs.min) }
    assert(got === exp)
    // the planted chain actually exercises transitivity: 1,2,4,6 together
    assert(Set(1L, 2L, 4L, 6L).map(got) === Set(1L))
    assert(got(3L) === 3L && got(5L) === 5L)
  }

  test("simhash: identical docs at distance 0; near-dups within 3 bits") {
    val s = Dedup.simhash(docsDf(docs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) === s(4L))
    assert(java.lang.Long.bitCount(s(1L) ^ s(2L)) <= 3)
    val pairs = Dedup.simhashPairs(docsDf(docs), 3, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)))
  }

  test("text stats: hand-checked counts and ratios") {
    val d = docsDf(Seq((1L, "The cat, the hat! 42 times.")))
    val r = TextOps.textStats(d).head()
    // tokens: the,cat,the,hat,42,times  → 6
    assert(r.getAs[Long]("n_tokens") === 6L)
    assert(r.getAs[Long]("n_punct") === 3L)  // , ! .
    assert(r.getAs[Long]("n_stopwords") === 2L) // the, the ("The"→the too)
      // NB "The" lowercases to "the": 2 occurrences... plus none else
    assert(r.getAs[Double]("stopword_ratio") === 0.333333)
  }

  test("langId picks marker-dominant language, und when no markers") {
    val d = docsDf(Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "der hund und die katze ist nicht hier"),
      (3L, "zzz qqq www")))
    val got = TextOps.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("token counts: whitespace vs bpe-ish") {
    val d = docsDf(Seq((1L, "hello world42, don't")))
    val r = TextOps.tokenCounts(d).head()
    assert(r.getAs[Long]("ws_tokens") === 3L)
    // bpe: hello | world | 42 | , | don | ' | t  → 7
    assert(r.getAs[Long]("bpe_tokens") === 7L)
  }

  test("fingerprint is stable and order-insensitive to partitioning") {
    val d = docsDf(docs)
    val a = TextOps.fingerprint(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = TextOps.fingerprint(d.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    assert(a(1L) === a(4L)) // identical docs → identical fingerprints
    assert(a(1L) !== a(3L))
  }

  private def embDf(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("cosine topK: hand-checked neighbors and deterministic tie-break") {
    val e = embDf(Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.01f)), (2L, Seq(0f, 1f)),
      (3L, Seq(-1f, 0f))))
    val got = Similarity.topK(e.where(col("vec_id") === 0L), e, 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rk")))
    assert(got.toSeq.sortBy(_._2).map(_._1) === Seq(1L, 2L, 3L))
  }

  test("nearDupPairs finds only the near-parallel pair at 0.99") {
    val e = embDf(Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.01f)), (2L, Seq(0f, 1f))))
    val got = Similarity.nearDupPairs(e, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 1L)))
  }

  test("LSH buckets put identical vectors together; annTopK self-excludes") {
    val e = embDf(Seq(
      (0L, Seq(1f, 2f, 3f)), (1L, Seq(1f, 2f, 3f)), (2L, Seq(-9f, 1f, -5f))))
    val b = Similarity.lshBuckets(e, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) === b(1L))
    val ann = Similarity.annTopK(e, 8, 2).collect()
    assert(ann.forall(r =>
      r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }

  test("multimodal: typed decode stub is deterministic; payload meta real") {
    val d = docsDf(docs)
    val meta = Multimodal.decodeMeta(Multimodal.withPayload(d))
    val a = meta.collect().sortBy(_.doc_id)
    val b = Multimodal.decodeMeta(Multimodal.withPayload(d.repartition(5)))
      .collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(m => m.n_bytes > 0 && m.checksum.length === 32 &&
      m.width >= 16 && m.n_frames >= 1))
    // identical docs → identical checksums
    assert(a.find(_.doc_id == 1L).get.checksum ===
      a.find(_.doc_id == 4L).get.checksum)
    val pm = Multimodal.payloadMeta(d).where(col("doc_id") === 5L).head()
    assert(pm.getAs[Long]("payload_bytes") === 8L) // "tiny doc"
  }

  test("minhash LSH hot-bucket cap keeps candidate volume linear on a " +
    "corpus of identical documents") {
    // 1000 byte-identical docs (the pre-exact-dedup pathological case):
    // every (i, h) bucket has 1000 members, so uncapped candidate
    // generation would be ~500k pairs × 16 bands. With the cap the hot
    // buckets are dropped and the query completes with zero candidates —
    // the documented contract is that exact() collapses identical docs
    // BEFORE near-dup detection.
    val many = docsDf((1L to 1000L).map(i => (i, base)))
    val capped = Dedup.minhashLsh(many, 3, 16, 0.5, maxBucket = 100L)
    assert(capped.count() === 0L)
    // and the cap does not change results when no bucket is hot
    val normal = docsDf(docs)
    val withCap = Dedup.minhashLsh(normal, 3, 16, 0.5, maxBucket = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noCap = Dedup.minhashLsh(normal, 3, 16, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withCap === noCap)
  }

  test("simhash pigeonhole bands stay non-degenerate for maxHamming >= 4") {
    // maxHamming=5 → 6 bands over 16 bits (widths 3/3/3/3/2/2). Before the
    // fix, bands past 16/width were constant 0 for every doc — an all-pairs
    // cross join. Verify output equals the brute-force hamming filter of
    // the jaccard-qualified pairs.
    val d = docsDf(docs)
    val sh = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jacc = Dedup.jaccardPairs(d, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = jacc.filter { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 5 }
    val got = Dedup.simhashPairs(d, 5, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }
}
