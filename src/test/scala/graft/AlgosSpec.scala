package graft

import org.apache.spark.sql.functions._

import graft.algos._
import graft.engine.SuperstepConfig
import graft.graph.{EdgeSet, GraphOps}

/** Golden micro-graph + independent-oracle tests for the four mandated
  * algorithms (SURVEY.md §5.2-§5.3). PR compares against the dense-matrix
  * oracle with the identical stopping rule (trajectory equality → tight
  * tolerance); CC/LP/TC are exact.
  */
class AlgosSpec extends SparkSpec {

  private val cfg = SuperstepConfig(numPartitions = 4, maxIter = 200)

  private def assertRanks(got: Map[Long, Double], exp: Array[Double],
                          tol: Double): Unit = {
    assert(got.size === exp.count(_ => true))
    got.foreach { case (id, r) =>
      assert(math.abs(r - exp(id.toInt)) < tol,
        s"vertex $id: got $r expected ${exp(id.toInt)}")
    }
  }

  // line4: 0→1→2→3 — DAG, converges exactly in 4 steps
  private val line4 = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 3L))
  // cycle3 + tail: 0→1→2→0, 2→3
  private val cyc = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L))
  // twoTriangles: {0,1,2}, {3,4,5} + bridge 2–3
  private val twoTri = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (0L, 2L),
    (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))

  test("PageRank.run matches dense oracle on line4 (tol 1e-6)") {
    val r = PageRank.run(spark, edgesDf(line4), cfg.copy(tol = 1e-6))
    assert(r.converged)
    val exp = Oracles.densePageRank(4, line4, 1e-6)
    assertRanks(collectD(r.state, "id", "rank"), exp, 1e-9)
  }

  test("PageRank.run matches dense oracle on cycle3+tail (trajectory)") {
    val r = PageRank.run(spark, edgesDf(cyc), cfg.copy(tol = 1e-4))
    assert(r.converged)
    val exp = Oracles.densePageRank(4, cyc, 1e-4)
    assertRanks(collectD(r.state, "id", "rank"), exp, 1e-9)
  }

  test("PageRank.runFiltered (computation filtering) ≡ unfiltered semantics") {
    for (g <- Seq(line4, cyc, twoTri)) {
      val n = (g.flatMap(e => Seq(e._1, e._2)).max + 1).toInt
      val exp = Oracles.densePageRank(n, g, 1e-6)
      val r = PageRank.runFiltered(spark, edgesDf(g), cfg.copy(tol = 1e-7))
      // filtered trajectory differs from the dense loop's; compare to the
      // fixed point at the gate tolerance instead
      assertRanks(collectD(r.state, "id", "rank"), exp, 1e-5)
    }
  }

  test("PageRank with hub splitting ≡ without (skew path correctness)") {
    val hub = (1L to 12L).map(d => (0L, d)) ++ Seq((1L, 2L), (2L, 1L))
    val plain = PageRank.run(spark, edgesDf(hub), cfg.copy(tol = 1e-4))
    val salted = PageRank.run(spark, edgesDf(hub),
      cfg.copy(tol = 1e-4, hubTau = Some(4L)))
    val p = collectD(plain.state, "id", "rank")
    val s = collectD(salted.state, "id", "rank")
    assert(p.keySet === s.keySet)
    p.foreach { case (k, v) => assert(math.abs(v - s(k)) < 1e-12) }
  }

  test("PageRank salt layout + batching ≡ fixedIterations trajectory") {
    // the pr5_hubsplit oracle query's exact shape: fixed-k (tol=0),
    // hubTau forcing the salted shuffled-hash join, batchSize>1 so the
    // broadcast shortcut is disabled and supersteps compose lazily
    val hub = (1L to 12L).map(d => (0L, d)) ++ Seq((1L, 2L), (2L, 1L))
    val salted = PageRank.run(spark, edgesDf(hub),
      cfg.copy(tol = 0.0, maxIter = 5, hubTau = Some(4L), batchSize = 2))
    assert(salted.supersteps === 5)
    val exp = collectD(PageRank.fixedIterations(edgesDf(hub), 5), "id", "rank")
    val got = collectD(salted.state, "id", "rank")
    assert(exp.keySet === got.keySet)
    exp.foreach { case (k, v) => assert(math.abs(v - got(k)) < 1e-12) }
  }

  test("PageRank.fixedIterations matches dense oracle at k iterations") {
    val got = collectD(
      PageRank.fixedIterations(edgesDf(cyc), 5), "id", "rank")
    val exp = Oracles.densePageRank(4, cyc, Double.NaN, iters = 5)
    assertRanks(got, exp, 1e-12)
  }

  test("Betweenness from all sources ≡ sequential Brandes (golden graphs)") {
    for (g <- Seq(line4, cyc, twoTri,
        twoTri ++ twoTri.map { case (a, b) => (b, a) })) { // + symmetrized
      val n = (g.flatMap(e => Seq(e._1, e._2)).max + 1).toInt
      val s = spark
      import s.implicits._
      val sources = (0L until n.toLong).toDF("id")
      val got = collectD(
        Betweenness.run(spark, edgesDf(g), sources),
        "id", "btw")
      val exp = Oracles.bruteBetweenness(n, g, 0L until n.toLong)
      assert(got.size === n)
      got.foreach { case (id, b) =>
        assert(math.abs(b - exp(id.toInt)) < 1e-9,
          s"vertex $id: got $b expected ${exp(id.toInt)}")
      }
    }
  }

  test("harmonicFixedRounds ≡ brute multi-root BFS micro-unit scores") {
    for (g <- Seq(cyc, twoTri ++ twoTri.map { case (a, b) => (b, a) })) {
      val n = (g.flatMap(e => Seq(e._1, e._2)).max + 1).toInt
      val (numRoots, k) = (3, 4)
      // brute: BFS from each of the numRoots smallest ids, capped at k hops
      val adj = Array.fill(n)(List.empty[Int])
      g.foreach { case (s, d) => adj(s.toInt) ::= d.toInt }
      val exp = Array.fill(n)(0L)
      for (r <- 0 until math.min(numRoots, n)) {
        val dist = Array.fill(n)(-1); dist(r) = 0
        var q = scala.collection.immutable.Queue(r)
        while (q.nonEmpty) {
          val (v, q2) = q.dequeue; q = q2
          if (dist(v) < k) adj(v).foreach { w =>
            if (dist(w) < 0) { dist(w) = dist(v) + 1; q = q.enqueue(w) }
          }
        }
        for (v <- 0 until n if dist(v) > 0)
          exp(v) += math.round(1000000.0 / dist(v))
      }
      val got = collectD(
        Paths.harmonicFixedRounds(edgesDf(g), numRoots, k)
          .withColumn("harmonic", col("harmonic").cast("double")),
        "id", "harmonic")
      assert(got.size === n)
      got.foreach { case (id, h) =>
        assert(h.toLong === exp(id.toInt), s"vertex $id")
      }
    }
  }

  test("Betweenness sampled sources are a deterministic subset of V") {
    val s = spark
    import s.implicits._
    val verts = (0L to 50L).toDF("id")
    val a = Betweenness.sampledSources(verts, 8).collect().map(_.getLong(0))
    val b = Betweenness.sampledSources(verts, 8).collect().map(_.getLong(0))
    assert(a.toSeq === b.toSeq && a.length === 8 && a.forall(_ <= 50L))
  }

  test("CC exact vs union-find: golden graphs") {
    val bridgeless = twoTri.filterNot(_ == ((2L, 3L)))
    for (g <- Seq(line4, cyc, twoTri, bridgeless)) {
      val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
      val exp = Oracles.unionFind(verts, g)
      val got = collectL(
        ConnectedComponents.run(spark, edgesDf(g), cfg).state,
        "id", "component")
      assert(got === exp, s"graph $g")
    }
  }

  test("CC exact vs union-find: seeded random graphs") {
    for (seed <- 1 to 4) {
      val g = Oracles.randomGraph(seed, n = 30, m = 25)
      val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
      val exp = Oracles.unionFind(verts, g)
      val got = collectL(
        ConnectedComponents.run(spark, edgesDf(g), cfg).state,
        "id", "component")
      assert(got === exp, s"seed $seed")
    }
  }

  test("LP fixedRounds exact vs brute force (incl. tie-breaks)") {
    for ((g, rounds) <- Seq((twoTri, 3), (line4, 5),
        (Oracles.randomGraph(7, 20, 40), 4))) {
      val und = g.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      val verts = und.flatMap(e => Seq(e._1, e._2)).distinct
      val exp = Oracles.bruteLp(verts, und, rounds)
      val got = collectL(
        LabelPropagation.fixedRounds(edgesDf(und), rounds), "id", "label")
      assert(got === exp, s"graph $g rounds $rounds")
    }
  }

  test("weighted LP with unit weights equals unweighted LP; weights steer") {
    val und = twoTri.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val unit = edgesWDf(und.map { case (a, b) => (a, b, 1.0) })
    val got = collectL(LabelPropagation.weightedFixedRounds(unit, 3),
      "id", "label")
    val exp = collectL(LabelPropagation.fixedRounds(edgesDf(und), 3),
      "id", "label")
    assert(got === exp)
    // a dominant-weight neighbor wins over two unit neighbors
    val star = edgesWDf(Seq((1L, 0L, 1.0), (2L, 0L, 1.0), (3L, 0L, 5.0),
      (0L, 3L, 1.0)))
    val w1 = collectL(LabelPropagation.weightedFixedRounds(star, 1),
      "id", "label")
    assert(w1(0L) === 3L) // weight 5 beats labels 1,2 (and min-tie would be 1)
  }

  test("LP.run converges and is a fixed point of one more round") {
    val und = EdgeSet.symmetric(edgesDf(twoTri)).frame
    val (labels, rounds) = LabelPropagation.run(spark, und, maxRounds = 20)
    val got = collectL(labels, "id", "label")
    val verts = got.keySet.toSeq
    val edges = und.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // run's labels are `rounds` synchronous rounds from scratch ...
    assert(got === Oracles.bruteLp(verts, edges, rounds))
    // ... and one more round changes none of them
    assert(Oracles.bruteLp(verts, edges, rounds + 1) === got)
  }

  test("TC exact vs brute force") {
    for ((g, _) <- Seq((twoTri, 0), (cyc, 0),
        (Oracles.randomGraph(11, 25, 80), 0),
        (Oracles.randomGraph(13, 15, 60), 0))) {
      val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
      val exp = Oracles.bruteTriangles(verts, g)
      val got = TriangleCount.count(edgesDf(g)).head().getLong(0)
      assert(got === exp, s"graph $g")
    }
    assert(TriangleCount.count(edgesDf(twoTri)).head().getLong(0) === 2L)
  }

  test("TC perVertex credits all three corners") {
    val got = collectL(TriangleCount.perVertex(edgesDf(twoTri)), "id",
      "tri_cnt")
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L))
  }

  test("local clustering coefficient vs brute adjacency-set count") {
    for (g <- Seq(twoTri, cyc, Oracles.randomGraph(11, 25, 80),
        Oracles.randomGraph(13, 15, 60))) {
      // simple undirected adjacency (dedup + drop self-loops, both dirs)
      val adj = g.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val exp = adj.map { case (v, ns) =>
        val d = ns.size.toLong
        val tri = ns.toSeq.combinations(2)
          .count { case Seq(a, b) => adj(a).contains(b) }.toLong
        v -> (tri, d, if (d >= 2) 2000000L * tri / (d * (d - 1)) else 0L)
      }
      val rows = TriangleCount.localClustering(edgesDf(g)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      assert(rows === exp, s"graph $g")
    }
  }

  test("personalized PR with S = V degenerates to standard fixed-k PR") {
    val all = PageRank.personalizedFixedIterations(edgesDf(cyc),
      _ => org.apache.spark.sql.functions.lit(true), 5)
    val std = PageRank.fixedIterations(edgesDf(cyc), 5)
    val a = collectD(all, "id", "rank")
    val b = collectD(std, "id", "rank")
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("personalized PR: mass reachable only from the source set") {
    // line4: 0→1→2→3; S={0} ⇒ every rank positive downstream of 0, and
    // teleport contributes only at 0
    val r = collectD(PageRank.personalizedFixedIterations(edgesDf(line4),
      id => id === 0L, 4), "id", "rank")
    assert(math.abs(r(0L) - 0.15) < 1e-12)
    assert(r(1L) > 0 && r(2L) > 0 && r(3L) > 0)
    // vertex 3 gets only propagated mass: 0.85^3 * (initial 1.0 path decay)
    assert(r.values.forall(_ >= 0.0))
  }

  test("KCore.converged exact vs brute peeling") {
    for ((seed, k) <- Seq((3, 2), (11, 3), (21, 3))) {
      val g = Oracles.randomGraph(seed, 25, 70)
      val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
      val exp = Oracles.bruteKCore(verts, g, k)
      val (got, _) = KCore.converged(edgesDf(g), k)
      assert(collectL(got, "id", "deg") === exp, s"seed $seed k $k")
    }
  }

  test("KCore.peel with enough rounds reaches the converged core") {
    val g = Oracles.randomGraph(11, 25, 70)
    val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
    val exp = Oracles.bruteKCore(verts, g, 3)
    assert(collectL(KCore.peel(edgesDf(g), 3, 25), "id", "deg") === exp)
  }

  test("BFS/SSSP fixedRounds exact vs Bellman-Ford") {
    val g = Oracles.randomGraph(3, 20, 35)
    val und = g.flatMap { case (a, b) => Seq((a, b, (a + b % 5 + 1).toDouble),
      (b, a, (a + b % 5 + 1).toDouble)) }.distinct
    val e = edgesWDf(und)
    val src = und.map(_._1).min
    val exp = Oracles.bellmanFord(und.map(t => t._1).distinct ++
        und.map(_._2).distinct, und, src, 4)
      .filter(!_._2.isInfinity)
    val got = collectD(Paths.fixedRounds(e,
        e.select(col("src")).agg(min(col("src"))), 4, weighted = true)
      .where(col("dist").isNotNull), "id", "dist")
    assert(got === exp)
  }

  test("delta-stepping ≡ converged Bellman-Ford across deltas; bucket bound holds") {
    for (seed <- Seq(7, 21); delta <- Seq(0.7, 2.0, 100.0)) {
      val g = Oracles.randomGraph(seed, 24, 50)
      val rnd = new scala.util.Random(seed + 1)
      val und = g.filter(e => e._1 != e._2).flatMap { case (a, b) =>
        val w = (rnd.nextInt(5) + 1).toDouble
        Seq((a, b, w), (b, a, w))
      }.distinct
      val verts = (und.map(_._1) ++ und.map(_._2)).distinct
      val src = verts.min
      val exp = Oracles.bellmanFord(verts, und, src, verts.size)
        .filter(!_._2.isInfinity)
      val e = edgesWDf(und)
      val (df, buckets, _) = Paths.deltaStepping(spark, e,
        e.select(col("src")).agg(min(col("src"))), delta)
      val got = collectD(df.where(col("dist").isNotNull), "id", "dist")
      assert(got === exp, s"seed=$seed delta=$delta")
      // every processed bucket holds ≥1 settled distance ⇒ ≤ range/delta+1
      assert(buckets <= math.ceil(exp.values.max / delta).toInt + 1,
        s"seed=$seed delta=$delta buckets=$buckets")
      assert(df.count() === verts.size) // unreached keep null rows
    }
  }

  test("delta-stepping matches the converged superstep SSSP") {
    val e = edgesWDf(Seq((0L, 1L, 2.0), (1L, 2L, 2.0), (0L, 2L, 10.0),
      (2L, 3L, 1.0)))
    val (df, _, _) = Paths.deltaStepping(spark, e,
      e.select(col("src")).agg(min(col("src"))), 2.0)
    assert(collectD(df.where(col("dist").isNotNull), "id", "dist") ===
      Map(0L -> 0.0, 1L -> 2.0, 2L -> 4.0, 3L -> 5.0))
  }

  test("SSSP converged run reaches all of a connected graph") {
    val e = edgesWDf(Seq((0L, 1L, 2.0), (1L, 2L, 2.0), (0L, 2L, 10.0),
      (2L, 3L, 1.0)))
    val r = Paths.sssp(spark, e, 0L, cfg)
    assert(r.converged)
    assert(collectD(r.state, "id", "dist") ===
      Map(0L -> 0.0, 1L -> 2.0, 2L -> 4.0, 3L -> 5.0))
  }
}
