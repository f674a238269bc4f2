package graft

import org.apache.spark.sql.functions._

import graft.algos.{Katz, Msf}
import graft.graph.GraphOps
import graft.text.TextOps

/** Gates for the round-5 batch-2 operators: Borůvka MSF (≡ sequential
  * Kruskal under the same distinct packed priorities — different
  * algorithm, same unique forest), truncated Katz (hand-computed golden
  * DAG), the directed dyad/transitivity profile, integer TF·IDF ranking,
  * and the deterministic md5 hash split.
  */
class MsfKatzSpec extends SparkSpec {

  private def msfSet(triples: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    Msf.runWithStats(spark,
      edgesWDf(triples.map(t => (t._1, t._2, t._3.toDouble))))._1
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("Msf ≡ sequential Kruskal on golden weighted graph") {
    // square 0-1-2-3 + diagonal + pendant: MST drops the heaviest cycle edge
    val g = Seq[(Long, Long, Long)]((0L, 1L, 1L), (1L, 2L, 2L),
      (2L, 3L, 3L), (0L, 3L, 9L), (0L, 2L, 7L), (3L, 4L, 1L))
    val got = msfSet(g)
    assert(got === Set((0L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 3L),
      (3L, 4L, 1L)))
    assert(got === Oracles.bruteKruskal(g))
  }

  test("Msf ≡ Kruskal on random weighted multi-component graphs") {
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      // two id bands with no cross edges → a genuine forest, not a tree
      val es = (1 to 120).map { _ =>
        val band = if (rnd.nextBoolean()) 0L else 100L
        (band + rnd.nextInt(30), band + rnd.nextInt(30),
          (1 + rnd.nextInt(50)).toLong)
      }.filter(e => e._1 != e._2)
      val exp = Oracles.bruteKruskal(es)
      val got = msfSet(es)
      assert(got === exp, s"seed $seed")
      // structural validity: |forest| = n − #components
      val vs = es.flatMap(e => Seq(e._1, e._2)).distinct
      val cc = Oracles.unionFind(vs, es.map(e => (e._1, e._2)))
      assert(got.size === vs.size - cc.values.toSet.size, s"seed $seed")
    }
  }

  test("Msf pointer jumping stays logarithmic on a 256-deep ascending chain") {
    // ascending weights along a path: every vertex's min edge points LEFT,
    // so round 1's parent chain is the whole path — the adversarial depth
    // for pointer jumping (2-cycle only at the far-left pair)
    val path = (0L until 256L).sliding(2).map(p =>
      (p(0), p(1), (10 + p(0)).toLong)).toSeq
    val (forest, stats) = Msf.runWithStats(spark,
      edgesWDf(path.map(t => (t._1, t._2, t._3.toDouble))))
    assert(forest.count() === 255L) // MSF of a tree is the tree
    assert(stats("rounds") <= 3,
      s"expected ≤3 Borůvka rounds on a path, got ${stats("rounds")}")
    assert(stats("maxJump") <= 10,
      s"pointer jumping should be ≤ log2(256)+margin, got ${stats("maxJump")}")
  }

  test("Msf rejects weights ≥ 2^23") {
    intercept[IllegalArgumentException] {
      msfSet(Seq((0L, 1L, 1L << 23)))
    }
  }

  test("Katz.truncated golden DAG: per-length walk counts + numerator") {
    // diamond 0→{1,2}→3 plus tail 3→4
    val g = edgesDf(Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val got = Katz.truncated(g, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // walks ending at v of length 1..4
    assert(got(0L) === ((0L, 0L, 0L, 0L, 0L)))
    assert(got(1L) === ((1L, 0L, 0L, 0L, 64L)))
    assert(got(2L) === ((1L, 0L, 0L, 0L, 64L)))
    assert(got(3L) === ((2L, 2L, 0L, 0L, 2L * 64 + 2 * 16)))
    assert(got(4L) === ((1L, 2L, 2L, 0L, 64L + 32 + 8)))
  }

  test("digraphProfile golden: dyads, reciprocity, transitivity") {
    // mutual pair {0,1}, asym 1→2, undirected triangle 0-1-2 via 2→0
    val g = edgesDf(Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L)))
    val r = GraphOps.digraphProfile(g).collect()(0)
    assert(r.getAs[Long]("n_vertices") === 3L)
    assert(r.getAs[Long]("m_edges") === 4L)
    assert(r.getAs[Long]("mutual_pairs") === 1L)
    assert(r.getAs[Long]("asym_pairs") === 2L)
    assert(r.getAs[Long]("recip_num") === 2L)
    assert(r.getAs[Long]("recip_den") === 4L)
    assert(r.getAs[Long]("triangles") === 1L)
    assert(r.getAs[Long]("wedges") === 3L) // every vertex deg 2 → 3·C(2,2)
    assert(r.getAs[Long]("trans_num") === 3L)
    assert(r.getAs[Long]("trans_den") === 3L) // triangle: transitivity 1
  }

  test("tfIdfTop ranks by integer tf·(N·10⁶ div df), ties → term asc") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "banana banana banana cherry")).toDF("doc_id", "text")
    val got = TextOps.tfIdfTop(docs, 2).orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(5)))
    // N=3; df: apple 2, banana 2, cherry 2 → idf_micro = 1500000 each
    // doc1: apple tf2 → 3000000 beats banana 1500000
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSeq ===
      Seq((1L, "apple", 3000000L), (2L, "banana", 1500000L)))
    // doc2: tie at 1500000 → alphabetical
    assert(got.filter(_._1 == 2L).map(_._3).toSeq === Seq("apple", "cherry"))
    // doc3: banana tf3 wins
    assert(got.filter(_._1 == 3L).map(_._3).toSeq === Seq("banana", "cherry"))
  }

  test("KCore.coreness golden: 4-clique + triangle + tail") {
    // 4-clique {0,1,2,3} (coreness 3), triangle {3,4,5} (4,5 → 2),
    // pendant 5–6 (6 → 1)
    val g = Seq[(Long, Long)]((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L),
      (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 5L), (5L, 6L))
    val (core, maxK, perLevel) =
      graft.algos.KCore.coreness(edgesDf(g))
    val got = collectL(core, "id", "coreness")
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 2L, 5L -> 2L, 6L -> 1L))
    assert(maxK === 3)
    assert(perLevel.length === maxK + 1) // + the empty-core check level
  }

  test("KCore.coreness ≡ sequential peel on random graphs") {
    for (seed <- Seq(11, 42)) {
      val es = Oracles.randomGraph(seed, 40, 160)
      val exp = Oracles.bruteCoreness(es)
      val got = collectL(
        graft.algos.KCore.coreness(edgesDf(es))._1, "id", "coreness")
      assert(got === exp, s"seed $seed")
    }
  }

  test("KCore.converged throws when maxRounds ends before the fixpoint") {
    // triangle {0,1,2} with tail 2–3–4: the 2-core peel drops 4, then 3,
    // then sees no change — three rounds to the fixpoint
    val g = edgesDf(Seq[(Long, Long)]((0L, 1L), (1L, 2L), (0L, 2L),
      (2L, 3L), (3L, 4L)))
    val (core, rounds) = graft.algos.KCore.converged(g, 2)
    assert(collectL(core, "id", "deg") === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    assert(rounds === 3)
    intercept[IllegalStateException](
      graft.algos.KCore.converged(g, 2, maxRounds = 1))
  }

  test("contamination counts distinct shared n-grams across the md5 split") {
    val s = spark
    import s.implicits._
    // pick ids by their md5Prio bucket so the split is under our control
    val ids = (0L until 400L)
    val train = ids.filter(i => Oracles.md5Prio(i.toString) % 10 < 8)
    val test = ids.filter(i => Oracles.md5Prio(i.toString) % 10 == 9)
    val trId = train.head
    val teId = test.head
    val teId2 = test(1)
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (trId, s"$shared and some extra train words"),
      (teId, s"prefix words then $shared"),
      (teId2, "no overlap at all here beyond seven tokens"))
      .toDF("doc_id", "text")
    val got = TextOps.contamination(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly one contaminated pair, sharing exactly the one 8-gram
    assert(got.toSeq === Seq((teId, trId, 1L)))
  }

  test("contamination hot-shingle cap drops high-df grams deterministically") {
    val s = spark
    import s.implicits._
    val ids = (0L until 400L)
    val train = ids.filter(i => Oracles.md5Prio(i.toString) % 10 < 8)
    val test = ids.filter(i => Oracles.md5Prio(i.toString) % 10 == 9)
    val boiler = "one two three four five six seven eight"
    val docs = (train.take(3).map(i => (i, boiler)) :+
      ((test.head, boiler))).toDF("doc_id", "text")
    // df(gram)=3 in train: cap 2 drops it, cap 3 keeps all 3 pairs
    assert(TextOps.contamination(docs, 8, maxTrainDf = 2L).count() === 0L)
    assert(TextOps.contamination(docs, 8, maxTrainDf = 3L).count() === 3L)
  }

  test("weightedFixedIterations with unit weights ≡ unweighted PR") {
    val pairs = Oracles.randomGraph(5, 20, 60)
    val unw = graft.algos.PageRank.fixedIterations(edgesDf(pairs), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = graft.algos.PageRank.weightedFixedIterations(
      edgesWDf(pairs.map(p => (p._1, p._2, 1.0))), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet === unw.keySet)
    w.foreach { case (id, r) =>
      assert(math.abs(r - unw(id)) < 1e-12, s"vertex $id")
    }
  }

  test("weightedFixedIterations golden: weight-proportional shares") {
    // 0 scatters to 1 (w=3) and 2 (w=1): after 1 iter from rank 1.0,
    // mass(1)=0.75, mass(2)=0.25 (sinks keep nothing else)
    val g = edgesWDf(Seq((0L, 1L, 3.0), (0L, 2L, 1.0)))
    val got = graft.algos.PageRank.weightedFixedIterations(g, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(0L) - 0.15) < 1e-12)
    assert(math.abs(got(1L) - (0.15 + 0.85 * 0.75)) < 1e-12)
    assert(math.abs(got(2L) - (0.15 + 0.85 * 0.25)) < 1e-12)
  }

  test("hashSplit is the md5Prio bucket and an 8/1/1 rule") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val got = TextOps.hashSplit(docs).select("doc_id", "bucket", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    got.foreach { case (id, b, sp) =>
      assert(b === Oracles.md5Prio(id.toString) % 10, s"doc $id")
      val expSp = if (b < 8) "train" else if (b < 9) "valid" else "test"
      assert(sp === expSp, s"doc $id")
    }
    // all three splits non-empty at n=200 (sanity that the rule engages)
    assert(got.map(_._3).distinct.sorted === Array("test", "train", "valid"))
  }
}
