package graft

import graft.algos.{ConnectedComponents, PageRank, Paths}
import graft.engine.SuperstepConfig

/** The 2D grid layout and superstep batching must be result-identical to
  * the default dst-broadcast layout (SURVEY.md §2.2 G5): same gather/
  * combine/apply algebra, different data placement. PR is compared at
  * 1e-12 (same partition count ⇒ same per-partition summation order only
  * within a layout, so the cross-layout gate is the convergence tolerance);
  * CC/SSSP are exact at convergence regardless of layout.
  */
class GridKernelSpec extends SparkSpec {

  private val cfg = SuperstepConfig(numPartitions = 4, maxIter = 200)
  private val g = Oracles.randomGraph(5, 40, 120)

  test("PR on the 2D grid layout matches the dst layout at convergence") {
    val plain = collectD(
      PageRank.run(spark, edgesDf(g), cfg.copy(tol = 1e-10)).state,
      "id", "rank")
    val grid = PageRank.run(spark, edgesDf(g),
      cfg.copy(tol = 1e-10, gridSide = Some(2),
        broadcastFrontierBelow = 1L)) // force the shuffle path every step
    assert(grid.converged)
    assert(grid.metrics.last("layout") == "grid2")
    val got = collectD(grid.state, "id", "rank")
    assert(got.keySet === plain.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - plain(k)) < 1e-9, s"vertex $k grid=$v dst=${plain(k)}")
    }
  }

  test("grid layout with a small frontier takes the broadcast sub-path") {
    val r = PageRank.run(spark, edgesDf(g),
      cfg.copy(tol = 1e-8, gridSide = Some(2))) // default threshold ≫ |V|
    assert(r.converged)
    assert(r.metrics.last("layout") == "grid2")
    val plain = collectD(
      PageRank.run(spark, edgesDf(g), cfg.copy(tol = 1e-8)).state,
      "id", "rank")
    collectD(r.state, "id", "rank").foreach { case (k, v) =>
      assert(math.abs(v - plain(k)) < 1e-9)
    }
  }

  test("CC exact on grid layout; batching converges to the same fixpoint") {
    val verts = g.flatMap(e => Seq(e._1, e._2)).distinct
    val exp = Oracles.unionFind(verts, g)
    val gridCc = collectL(ConnectedComponents.run(spark, edgesDf(g),
      cfg.copy(gridSide = Some(2), broadcastFrontierBelow = 1L)).state,
      "id", "component")
    assert(gridCc === exp)
    val batched = collectL(ConnectedComponents.run(spark, edgesDf(g),
      cfg.copy(gridSide = Some(2), broadcastFrontierBelow = 1L,
        batchSize = 3)).state, "id", "component")
    assert(batched === exp)
  }

  test("batched PR equals unbatched PR trajectory at batch-aligned steps") {
    // batchSize must not change the per-superstep algebra: run exactly 6
    // supersteps both ways (maxIter caps the batched run at the boundary)
    val a = PageRank.run(spark, edgesDf(g),
      cfg.copy(tol = 0.0, maxIter = 6))
    val b = PageRank.run(spark, edgesDf(g),
      cfg.copy(tol = 0.0, maxIter = 6, batchSize = 3,
        gridSide = Some(2), broadcastFrontierBelow = 1L))
    assert(a.supersteps === 6 && b.supersteps === 6)
    val ra = collectD(a.state, "id", "rank")
    val rb = collectD(b.state, "id", "rank")
    ra.foreach { case (k, v) => assert(math.abs(v - rb(k)) < 1e-12) }
  }

  test("grid-mode resume from mid-run checkpoint equals straight-through") {
    graft.util.TempDir.withTempDir("graft-gridck") { tmp =>
      val base = tmp.toString
      val gcfg = cfg.copy(tol = 1e-8, gridSide = Some(2),
        broadcastFrontierBelow = 1L, batchSize = 2)
      val ref = collectD(PageRank.run(spark, edgesDf(g), gcfg).state,
        "id", "rank")
      val ck = new graft.engine.CheckpointStore(base, "pr", "grid")
      PageRank.run(spark, edgesDf(g),
        gcfg.copy(maxIter = 4, checkpoint = Some(ck), durableEvery = 2))
      val r2 = PageRank.run(spark, edgesDf(g),
        gcfg.copy(checkpoint = Some(ck)))
      assert(r2.converged)
      collectD(r2.state, "id", "rank").foreach { case (k, v) =>
        assert(math.abs(v - ref(k)) < 1e-9, s"vertex $k")
      }
    }
  }

  test("SSSP converged on grid layout is exact") {
    val und = Seq((0L, 1L, 2.0), (1L, 2L, 2.0), (0L, 2L, 10.0), (2L, 3L, 1.0))
    val r = Paths.sssp(spark, edgesWDf(und), 0L,
      cfg.copy(gridSide = Some(2), broadcastFrontierBelow = 1L))
    assert(r.converged)
    assert(collectD(r.state, "id", "dist") ===
      Map(0L -> 0.0, 1L -> 2.0, 2L -> 4.0, 3L -> 5.0))
  }
}
