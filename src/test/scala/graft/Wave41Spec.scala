package graft

import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, PageRank, TriangleCount}
import graft.engine.SuperstepConfig
import graft.graph.EdgeSet

/** Round-6 optimization equivalences: every fast path added in the
  * optimization round must be RESULT-identical to the generic path it
  * bypasses — the dedup skips a kernel takes on a shaped [[EdgeSet]]
  * (`Canonical.symmetric`, a canonical TriangleCount input, a canonical
  * or symmetric CC input) and the broadcast-layout superstep batching
  * (per-superstep lazy cuts).
  */
class Wave41Spec extends SparkSpec {

  /** Seeded unique ORIENTED (src < dst) simple edge set — the shape the
    * co-purchase derivation's groupBy output guarantees.
    */
  private def orientedSet(seed: Int, n: Int, m: Int): Seq[(Long, Long)] =
    Oracles.randomGraph(seed, n, m)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct

  test("Canonical.symmetric ≡ symmetrize on a unique oriented input") {
    val e = edgesDf(orientedSet(101, 40, 160))
    val want = EdgeSet.symmetric(e).frame.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = EdgeSet.canonical(e).symmetric.frame.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size) // no dup rows introduced
    assert(got.toSet == want)
  }

  test("TriangleCount on a Canonical set ≡ generic on canonical edges") {
    val pairs = orientedSet(202, 30, 140)
    val e = edgesDf(pairs)
    val c = EdgeSet.canonical(e)
    assert(TriangleCount.count(e).collect().toSeq.map(_.getLong(0)) ==
      TriangleCount.count(c).collect().toSeq.map(_.getLong(0)))
    val pv = collectL(TriangleCount.perVertex(e), "id", "tri_cnt")
    val pvC = collectL(TriangleCount.perVertex(c), "id", "tri_cnt")
    assert(pv == pvC)
    val sc = TriangleCount.sampledCount(e, 4).collect().head
    val scC = TriangleCount.sampledCount(c, 4).collect().head
    assert((sc.getLong(0), sc.getLong(1)) == (scC.getLong(0), scC.getLong(1)))
  }

  test("CC.run on Canonical and Symmetric sets ≡ generic symmetrize") {
    val s = spark
    val pairs = orientedSet(303, 50, 120)
    val e = edgesDf(pairs)
    val cfg = SuperstepConfig(numPartitions = 4)
    val want = collectL(ConnectedComponents.run(s, e, cfg).state,
      "id", "component")
    val gotO = collectL(
      ConnectedComponents.run(s, EdgeSet.canonical(e), cfg).state,
      "id", "component")
    assert(gotO == want)
    val gotS = collectL(
      ConnectedComponents.run(s, EdgeSet.symmetric(e), cfg).state,
      "id", "component")
    assert(gotS == want)
  }

  test("broadcast-layout superstep batching ≡ unbatched (CC fixpoint)") {
    val s = spark
    val pairs = Oracles.randomGraph(404, 60, 150)
    val e = edgesDf(pairs)
    val want = collectL(ConnectedComponents
        .run(s, e, SuperstepConfig(numPartitions = 4, batchSize = 1)).state,
      "id", "component")
    val got = collectL(ConnectedComponents
        .run(s, e, SuperstepConfig(numPartitions = 4, batchSize = 4)).state,
      "id", "component")
    assert(got == want)
    // and against the union-find oracle
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    assert(want == Oracles.unionFind(verts, pairs))
  }

  test("grid-layout superstep batching with lazy cuts ≡ unbatched (PR)") {
    val s = spark
    val pairs = Oracles.randomGraph(505, 40, 160)
    val e = edgesDf(pairs)
    def pr(batch: Int): Map[Long, Double] =
      collectD(PageRank.run(s, e, SuperstepConfig(numPartitions = 4,
          tol = 0.0, maxIter = 4, gridSide = Some(2), batchSize = batch))
        .state.select(col("id"), col("rank")), "id", "rank")
    // Exact doubles on purpose: the order of each rank's sums is stable.
    // PageRank.run runs inside Superstep.run, which enters
    // Lineage.withLoopConf: AQE is off and the shuffle partition count is
    // pinned to the session's. Both gather joins (broadcast at batch 1,
    // the grid's shuffled hash at batch 3) stream the edge partitions in
    // place, so each partial sum adds the same messages in the same order
    // and the final aggregate merges the same partials in the same
    // partitions.
    assert(pr(1) == pr(3)) // bit-identical trajectory at any batch size
  }
}
