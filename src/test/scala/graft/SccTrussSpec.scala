package graft

import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.algos.{Scc, Truss}

class SccTrussSpec extends SparkSpec {

  private def sccMap(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Scc.runWithStats(spark, edgesDf(pairs))._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("scc golden: two 3-cycles joined by a one-way bridge") {
    // cycle {0,1,2}, cycle {3,4,5}, bridge 2→3 (no way back)
    val g = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L))
    val got = sccMap(g)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("scc golden: pure chain is all singletons (trim path)") {
    val g = (0L until 6L).map(i => (i, i + 1))
    val got = sccMap(g)
    assert(got === (0L to 6L).map(v => v -> v).toMap)
  }

  test("scc golden: mutual pair inside a DAG") {
    // 0→1, 1→2, 2→1 (2-cycle {1,2}), 2→3
    val g = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 1L), (2L, 3L))
    val got = sccMap(g)
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("scc ≡ mutual-reachability oracle on seeded random digraphs") {
    for (seed <- Seq(7, 21)) {
      val g = Oracles.randomGraph(seed, 24, 60)
      val verts = g.flatMap(p => Seq(p._1, p._2)).distinct
      val want = Oracles.bruteScc(verts, g)
      val got = sccMap(g)
      assert(got === want, s"seed=$seed")
    }
  }

  test("scc deep chain of SCCs: rounds ≪ diameter, well under maxOuter") {
    // 128 two-cycles {2i, 2i+1} chained by one-way bridges 2i+1 → 2i+2 —
    // the r4-adversarial shape: 256 vertices with ids ordered along
    // reachability, diameter 255, no trimmable vertex. The old FW-BW
    // coloring resolved ONE SCC per outer round (min-id pivots made the
    // whole chain a single color class) and so THREW at maxOuter=100,
    // with O(diameter) hops per sweep besides. The signature
    // decomposition must finish with log-bounded sweeps and outers.
    val k = 128
    val g = (0 until k).flatMap { i =>
      val (a, b) = (2L * i, 2L * i + 1)
      Seq((a, b), (b, a)) ++
        (if (i < k - 1) Seq((b, 2L * (i + 1))) else Nil)
    }
    val verts = (0L until 2L * k)
    val (df, stats) = Scc.runWithStats(spark, edgesDf(g))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === verts.map(v => v -> (v - v % 2)).toMap)
    val diameter = 2 * k - 1 // 255; log2 = 8
    // each single sweep is pointer-jump log-bounded, NOT O(diameter)
    assert(stats("maxSweep") <= 24 && stats("maxSweep") < diameter / 8,
      s"a sweep ran O(diameter) hops: $stats")
    // multi-way block splits: outer rounds logarithmic, not O(#SCCs)
    assert(stats("outer") <= 20, s"outer rounds not logarithmic: $stats")
  }

  private def trussMap(pairs: Seq[(Long, Long)],
                       k: Int): Map[(Long, Long), Long] =
    Truss.converged(edgesDf(pairs), k)._1
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("truss golden: K4 with pendants — 4-truss keeps exactly K4") {
    // K4 on {0,1,2,3} + pendant edges 3-4, 4-5
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val g = k4 ++ Seq((3L, 4L), (4L, 5L))
    val got = trussMap(g, 4)
    // every K4 edge closes 2 triangles inside K4
    assert(got === k4.map(e => e -> 2L).toMap)
    // k=5 needs support 3: K4 cannot supply it — empty truss
    assert(trussMap(g, 5) === Map.empty)
  }

  test("truss golden: triangle chain peels to nothing at k=4") {
    // two triangles sharing one vertex: each edge has support 1 only
    val g = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (0L, 2L),
      (2L, 3L), (3L, 4L), (2L, 4L))
    assert(trussMap(g, 4) === Map.empty)
    // k=3 (support ≥ 1) keeps both triangles as they stand
    assert(trussMap(g, 3) === g.map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) -> 1L
    }.toMap)
  }

  test("truss ≡ brute peeling oracle on seeded random graphs") {
    for (seed <- Seq(11, 42)) {
      val g = Oracles.randomGraph(seed, 18, 70)
      val want = Oracles.bruteTruss(g, 4)
      val got = trussMap(g, 4)
      assert(got === want, s"seed=$seed")
    }
  }

  private def starsMap(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, r) = graft.algos.ConnectedComponents
      .stars(edgesDf(pairs))
    (df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap, r)
  }

  test("stars CC ≡ union-find on goldens and seeded random graphs") {
    val goldens = Seq(
      Seq[(Long, Long)]((0L, 1L), (1L, 2L), (3L, 4L)), // two components
      Seq[(Long, Long)]((5L, 1L), (1L, 9L), (9L, 5L), (2L, 7L)), // cycle
      (0L until 10L).map(i => (i, i + 1)) // path
    )
    for ((g, i) <- (goldens ++ Seq(7, 21).map(Oracles.randomGraph(_, 30, 45)))
           .zipWithIndex) {
      val verts = g.flatMap(p => Seq(p._1, p._2)).distinct
      val want = Oracles.unionFind(verts, g)
      val (got, _) = starsMap(g)
      assert(got === want, s"graph #$i")
    }
  }

  test("stars CC round count is log-bounded on a path (diameter-immune)") {
    // a 256-vertex path has diameter 255: HashMin needs 255 rounds, the
    // star contraction must stay within O(log² n) — assert a hard cap
    val path = (0L until 255L).map(i => (i, i + 1))
    val (got, rounds) = starsMap(path)
    assert(got === (0L to 255L).map(v => v -> 0L).toMap)
    assert(rounds <= 20, s"rounds=$rounds")
  }

  test("MIS ≡ sequential Luby (md5 priorities), independent and maximal") {
    for (seed <- Seq(5, 13)) {
      val g = Oracles.randomGraph(seed, 25, 55)
      val verts = g.flatMap(p => Seq(p._1, p._2)).distinct
      val want = Oracles.bruteMis(verts, g)
      val (df, _) = graft.algos.Mis.run(spark, edgesDf(g))
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"seed=$seed")
      // independence: no edge with both endpoints in the set
      val und = g.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      assert(!und.exists { case (a, b) =>
        a != b && got(a) == 1L && got(b) == 1L
      })
      // maximality: every excluded vertex has an in-set neighbor
      val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(verts.filter(got(_) == 0L).forall(v =>
        adj.getOrElse(v, Nil).exists(got(_) == 1L)))
    }
  }

  test("weighted harmonic: unit weights ≡ unweighted; weights lower scores") {
    val g = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L))
    val und = g.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val s = spark
    import s.implicits._
    val unit = und.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "weight")
    val uw = graft.algos.Paths.harmonicFixedRounds(edgesDf(und), 4, 3)
      .orderBy("id").collect().toSeq
    val wu = graft.algos.Paths.harmonicFixedRounds(unit, 4, 3,
      weighted = true).orderBy("id").collect().toSeq
    assert(uw === wu)
    // hand-computed: 4-cycle with weight 2 — per vertex, two neighbors at
    // dist 2 and one at dist 4 ⇒ 2·round(1e6/2) + round(1e6/4) = 1250000
    val w2 = und.map { case (a, b) => (a, b, 2L) }.toDF("src", "dst", "weight")
    val got = graft.algos.Paths.harmonicFixedRounds(w2, 4, 3,
      weighted = true).orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 3L).map(_ -> 1250000L).toMap)
  }

  test("matching ≡ sequential greedy (md5 priorities), valid and maximal") {
    for (seed <- Seq(3, 17)) {
      val g = Oracles.randomGraph(seed, 25, 60)
      val want = Oracles.bruteMatching(g)
      val (df, _) = graft.algos.Matching.run(spark, edgesDf(g))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"seed=$seed")
      // validity: no two matching edges share an endpoint
      val ends = got.toSeq.flatMap(e => Seq(e._1, e._2))
      assert(ends.distinct.size === ends.size)
      // maximality: every input edge touches a matched vertex
      val endSet = ends.toSet
      assert(g.filter(e => e._1 != e._2).forall { case (a, b) =>
        endSet(a) || endSet(b)
      }, s"seed=$seed not maximal")
    }
  }

  test("b-matching ≡ TRUE sequential greedy for b = 1, 2, 3") {
    for (seed <- Seq(5, 19); b <- 1 to 3) {
      val g = Oracles.randomGraph(seed, 22, 70)
      val want = Oracles.bruteBMatching(g, b)
      val (df, _) = graft.algos.Matching.runB(spark, edgesDf(g), b)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"seed=$seed b=$b")
      // validity: no vertex exceeds capacity b
      val degs = got.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size)
      assert(degs.values.forall(_ <= b), s"seed=$seed b=$b capacity")
      // maximality: every dropped edge touches a saturated endpoint
      val sat = degs.filter(_._2 == b).keys.toSet
      val canon = g.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      assert(canon.filterNot(got).forall(e => sat(e._1) || sat(e._2)),
        s"seed=$seed b=$b not maximal")
    }
    // b = 1 degenerates to the unweighted matching
    val g1 = Oracles.randomGraph(3, 25, 60)
    val (b1, _) = graft.algos.Matching.runB(spark, edgesDf(g1), 1)
    assert(b1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Oracles.bruteMatching(g1))
  }

  test("weighted matching ≡ sequential greedy; heavy edges dominate") {
    for (seed <- Seq(9, 23)) {
      val rnd = new scala.util.Random(seed)
      val g = Oracles.randomGraph(seed, 20, 45)
        .map { case (a, b) => (a, b, (rnd.nextInt(9) + 1).toLong) }
      val want = Oracles.bruteMatchingW(g)
      val s = spark
      import s.implicits._
      val (df, _) = graft.algos.Matching.runWeighted(spark,
        g.toDF("src", "dst", "weight"))
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"seed=$seed")
      // validity + maximality
      val ends = got.toSeq.flatMap(e => Seq(e._1, e._2))
      assert(ends.distinct.size === ends.size)
      val endSet = ends.toSet
      assert(g.filter(e => e._1 != e._2).forall { case (a, b, _) =>
        endSet(a) || endSet(b)
      }, s"seed=$seed not maximal")
    }
    // weight dominance: path a-b-c-d with heavy middle edge — greedy takes
    // the middle edge alone (its endpoints kill both light edges)
    val s = spark
    import s.implicits._
    val path = Seq((0L, 1L, 1L), (1L, 2L, 9L), (2L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val (dom, _) = graft.algos.Matching.runWeighted(spark, path)
    assert(dom.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))
    // oversized weights fail loudly (the priority packing bound)
    val big = Seq((0L, 1L, 1L << 24)).toDF("src", "dst", "weight")
    intercept[IllegalArgumentException] {
      graft.algos.Matching.runWeighted(spark, big)
    }
  }

  test("doubleSweepDiameter exact on a path and tree") {
    // path 0-1-...-7: root=0, far=7 (dist 7), sweep2 from 7 → dlb = 7
    val path = (0L until 7L).map(i => (i, i + 1))
    val und = edgesDf(path.flatMap { case (a, b) => Seq((a, b), (b, a)) })
    val r = graft.algos.Paths.doubleSweepDiameter(und, 10).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, 7L, 7L)))
    // star K1,4 centered at 0: ecc(0)=1, far=1, diameter 2 via the center
    val star = (1L to 4L).map(l => (0L, l))
    val undS = edgesDf(star.flatMap { case (a, b) => Seq((a, b), (b, a)) })
    val r2 = graft.algos.Paths.doubleSweepDiameter(undS, 5).head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((0L, 1L, 2L)))
  }

  test("weighted doubleSweepDiameter exact on weighted path and triangle") {
    // path 0-1-2-3 with weights 3,1,5: far from 0 is 3 (dist 9), dlb = 9
    val pw = Seq((0L, 1L, 3L), (1L, 2L, 1L), (2L, 3L, 5L))
    val und = edgesW(pw)
    val r = graft.algos.Paths.doubleSweepDiameter(und, 10, weighted = true)
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, 3L, 9L)))
    // triangle with one heavy side: 0-1 w5, 1-2 w1, 0-2 w1 — shortest
    // 0↔1 is 2 via vertex 2; weighted ecc of every vertex is 2
    val tri = edgesW(Seq((0L, 1L, 5L), (1L, 2L, 1L), (0L, 2L, 1L)))
    val r2 = graft.algos.Paths.doubleSweepDiameter(tri, 6, weighted = true)
      .head()
    assert(r2.getLong(2) === 2L)
  }

  test("doubleSweepDiameter cuts its edge table once: 8 jobs") {
    // one eager cut of the edge table serves the root, both sweeps and the
    // final row (a second eager cut inside each sweep made it 10). Under
    // the loop conf AQE is off, so a job is an action or a broadcast, not
    // one map stage of a plan.
    val path = (0L until 7L).map(i => (i, i + 1))
    val und = edgesDf(path.flatMap { case (a, b) => Seq((a, b), (b, a)) })
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val r = try {
      val rows = graft.engine.Lineage.withLoopConf(spark) {
        graft.algos.Paths.doubleSweepDiameter(und, 10).collect()
      }
      Bus.drain(spark.sparkContext)
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ===
      Seq((0L, 7L, 7L)))
    assert(jobs.get === 8)
  }

  private def edgesW(tw: Seq[(Long, Long, Long)]) =
    edgesWDf(tw.flatMap { case (a, b, w) =>
      Seq((a, b, w.toDouble), (b, a, w.toDouble))
    })
}
