package graft

import graft.algos.{Community, LinkPrediction}
import graft.graph.EdgeSet

/** Modularity (exact rational) and link prediction (common neighbors +
  * Resource Allocation micro-units): golden values on hand-checkable
  * graphs, plus a brute-force cross-check on a seeded random graph.
  */
class CommunitySpec extends SparkSpec {

  private def sym(pairs: Seq[(Long, Long)]) =
    EdgeSet.symmetric(edgesDf(pairs)).frame

  test("modularity: two triangles joined by a bridge (golden rational)") {
    // triangles {0,1,2} and {3,4,5} bridged by 2-3; labels = triangle.
    // m=7, m2=14, Σin_c = 12 (6 directed per triangle), d_c = 7 each
    // ⇒ q_num = 14·12 − 2·49 = 70, q_den = 196 (Q = 5/14 ≈ 0.357).
    val e = sym(Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 3L)))
    val s = spark; import s.implicits._
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L),
      (5L, 1L)).toDF("id", "label")
    val r = Community.modularity(e, labels).collect()(0)
    assert(r.getLong(0) == 2L)   // n_comms
    assert(r.getLong(1) == 70L)  // q_num
    assert(r.getLong(2) == 196L) // q_den
  }

  test("modularity: the all-in-one partition scores exactly zero") {
    val e = sym(Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)))
    val s = spark; import s.implicits._
    val labels = Seq(0L, 1L, 2L, 3L).map(v => (v, 9L)).toDF("id", "label")
    val r = Community.modularity(e, labels).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L)
  }

  test("link prediction: path a-b-c predicts (a,c) through b") {
    val out = LinkPrediction.scores(edgesDf(Seq((1L, 2L), (2L, 3L))))
      .collect()
    assert(out.length == 1)
    val r = out(0)
    // common neighbor b=2 has deg 2 ⇒ cn=1, ra = 1000000 div 2 = 500000
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 500000L)
  }

  test("link prediction: star center above maxDeg is skipped (hot-center cap)") {
    val star = edgesDf(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    // uncapped: 3 leaf pairs through the deg-3 center, ra = 333333 each
    val full = LinkPrediction.scores(star).collect()
    assert(full.length == 3 && full.forall(_.getLong(3) == 333333L))
    // cap below the center's degree: no wedge centers remain
    assert(LinkPrediction.scores(star, maxDeg = 2).count() == 0L)
  }

  test("link prediction: seeded random graph matches brute force") {
    val pairs = Oracles.randomGraph(seed = 11, n = 30, m = 80)
    val got = LinkPrediction.scores(edgesDf(pairs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // brute force over the symmetrized simple graph
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(e => e._1 != e._2).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val verts = adj.keySet.toSeq.sorted
    val want = (for {
      i <- verts.indices; j <- (i + 1) until verts.size
      u = verts(i); v = verts(j)
      if !adj(u)(v)
      common = adj(u) & adj(v)
      if common.nonEmpty
    } yield (u, v) -> (common.size.toLong,
      common.toSeq.map(w => 1000000L / adj(w).size).sum)).toMap
    assert(got == want)
  }
}
