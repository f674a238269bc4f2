package graft

import org.scalacheck.Gen

import graft.algos.{ConnectedComponents, PageRank, TriangleCount}
import graft.dedup.Dedup
import graft.engine.SuperstepConfig
import graft.graph.{EdgeSet, GraphOps}

/** Property-based tests (ScalaCheck generators, sampled deterministically
  * via fixed seeds): structural invariants that must hold on ARBITRARY
  * graphs/corpora, not just the golden fixtures. Each property is checked
  * over a batch of generated inputs; failures print the offending sample.
  */
class PropertiesSpec extends SparkSpec {

  private val cfg = SuperstepConfig(numPartitions = 4, maxIter = 100)

  /** Deterministic sample stream from a Gen (fixed seed per index). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i =>
      g(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 18)
    m <- Gen.choose(1, 40)
    es <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
    } yield (a.toLong, b.toLong))
  } yield es

  test("property: orient yields src<dst, deduped, self-loop-free") {
    for (g <- samples(graphGen, 12)) {
      val rows = EdgeSet.canonical(edgesDf(g)).frame.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.forall { case (a, b) => a < b }, s"sample $g")
      assert(rows.length == rows.distinct.length, s"sample $g")
    }
  }

  test("property: TC degree-ordered count equals brute count") {
    for (g <- samples(graphGen, 12) if g.exists(e => e._1 != e._2)) {
      val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
      val exp = Oracles.bruteTriangles(verts, g)
      val got = TriangleCount.count(edgesDf(g)).head().getLong(0)
      assert(got === exp, s"sample $g")
    }
  }

  test("property: CC equals union-find on arbitrary graphs") {
    for (g <- samples(graphGen, 8) if g.exists(e => e._1 != e._2)) {
      val simple = g.filter(e => e._1 != e._2)
      val verts = simple.flatMap(e => Seq(e._1, e._2)).distinct
      val exp = Oracles.unionFind(verts, simple)
      val got = collectL(
        ConnectedComponents.run(spark, edgesDf(simple), cfg).state,
        "id", "component")
      assert(got === exp, s"sample $simple")
    }
  }

  test("property: grid PR equals dst PR on arbitrary graphs") {
    for (g <- samples(graphGen, 5) if g.exists(e => e._1 != e._2)) {
      val simple = g.filter(e => e._1 != e._2).distinct
      val plain = collectD(PageRank.run(spark, edgesDf(simple),
        cfg.copy(tol = 1e-9)).state, "id", "rank")
      val grid = collectD(PageRank.run(spark, edgesDf(simple),
        cfg.copy(tol = 1e-9, gridSide = Some(2),
          broadcastFrontierBelow = 1L)).state, "id", "rank")
      assert(grid.keySet === plain.keySet, s"sample $simple")
      grid.foreach { case (k, v) =>
        assert(math.abs(v - plain(k)) < 1e-7, s"sample $simple vertex $k")
      }
    }
  }

  private val docsGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(2, 10)
    texts <- Gen.listOfN(n, for {
      w <- Gen.choose(3, 12)
      ws <- Gen.listOfN(w, Gen.oneOf(
        "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
        "theta", "iota", "kappa"))
    } yield ws.mkString(" "))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("property: exact dedup partitions the corpus; keep_id is group min") {
    for (docs <- samples(docsGen, 10)) {
      val got = Dedup.exact(docsDf(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.map(_._2).sum === docs.length.toLong, s"sample $docs")
      val expGroups = docs.groupBy(_._2).values
        .map(g => (g.map(_._1).min, g.size.toLong)).toSet
      assert(got.toSet === expGroups, s"sample $docs")
    }
  }

  test("property: LSH pair sets are subsets of brute jaccard pairs, " +
    "with identical jaccard values") {
    for (docs <- samples(docsGen, 8)) {
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val brute = pairs(Dedup.jaccardPairs(docsDf(docs), 2, 0.5))
      val lsh = pairs(Dedup.minhashLsh(docsDf(docs), 2, 16, 0.5))
      val sim = pairs(Dedup.simhashPairs(docsDf(docs), 3, 2, 0.5))
      assert(lsh.keySet.subsetOf(brute.keySet), s"sample $docs")
      assert(sim.keySet.subsetOf(brute.keySet), s"sample $docs")
      lsh.foreach { case (k, j) => assert(j === brute(k), s"sample $docs") }
      sim.foreach { case (k, j) => assert(j === brute(k), s"sample $docs") }
    }
  }

  test("property: denseIds is an order-preserving bijection onto 0..n-1, " +
    "stable under input partitioning") {
    val keysGen = for {
      n <- Gen.choose(1, 30)
      ks <- Gen.listOfN(n, Gen.identifier.map(_.take(8)))
    } yield ks
    val s = spark
    import s.implicits._
    for (ks <- samples(keysGen, 8)) {
      val a = GraphOps.denseIds(ks.toDF("key"), 4).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val b = GraphOps.denseIds(ks.toDF("key").repartition(7), 4).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val distinct = ks.distinct.sorted
      val exp = distinct.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
      assert(a === exp, s"sample $ks")
      assert(b === exp, s"sample $ks")
    }
  }
}
