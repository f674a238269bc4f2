package graft

import org.apache.spark.sql.functions._

import graft.algos.TriangleCount
import graft.graph.{EdgeSet, GraphOps}

/** Graph moment profile (exact assortativity rational) and bipartite
  * butterfly counting: hand-checked goldens plus brute equality.
  */
class MotifProfileSpec extends SparkSpec {

  test("profile: path graph golden (perfectly disassortative, r = -1)") {
    val e = EdgeSet.symmetric(edgesDf(Seq((0L, 1L), (1L, 2L))))
    val r = GraphOps.profile(e).collect()(0)
    assert(r.getLong(0) == 3L)  // n_vertices
    assert(r.getLong(1) == 4L)  // m2
    assert(r.getLong(2) == 2L)  // max_deg
    assert(r.getLong(3) == 1L)  // wedges: C(2,2) at the center
    assert(r.getLong(4) == -4L && r.getLong(5) == 4L) // r = -1 exactly
  }

  test("profile: regular graph has zero assortativity numerator") {
    // 4-cycle: every vertex degree 2 -> x and y constant -> num = 0
    val e = EdgeSet.symmetric(
      edgesDf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))))
    val r = GraphOps.profile(e).collect()(0)
    assert(r.getLong(4) == 0L)
    assert(r.getLong(5) == 0L) // constant degrees: den collapses too
  }

  test("butterflies: K2,2 golden, star zero, hot-center cap") {
    val k22 = edgesDf(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)))
    val r = TriangleCount.butterflies(k22).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L) // one pair, cn=2
    val star = edgesDf(Seq((1L, 10L), (1L, 11L), (1L, 12L)))
    val s1 = TriangleCount.butterflies(star).collect()(0)
    assert(s1.getLong(0) == 3L && s1.getLong(1) == 0L)
    val s2 = TriangleCount.butterflies(star, maxDeg = 2).collect()(0)
    assert(s2.getLong(0) == 0L && s2.getLong(1) == 0L)
  }

  test("butterflies: seeded random bipartite graph matches brute count") {
    val rnd = new scala.util.Random(23)
    val pairs = (1 to 120).map(_ =>
      (rnd.nextInt(12).toLong, 100L + rnd.nextInt(15))).distinct
    val got = TriangleCount.butterflies(edgesDf(pairs)).collect()(0)
    val bySrc = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val dsts = pairs.map(_._2).distinct.sorted
    var wp = 0L; var bf = 0L
    for (i <- dsts.indices; j <- (i + 1) until dsts.size) {
      val cn = bySrc.values.count(s => s(dsts(i)) && s(dsts(j))).toLong
      if (cn > 0) { wp += 1; bf += cn * (cn - 1) / 2 }
    }
    assert(got.getLong(0) == wp && got.getLong(1) == bf)
  }
}
