package graft

import org.apache.spark.sql.functions._

import graft.algos.{Community, ConnectedComponents, Paths}
import graft.engine.SuperstepConfig
import graft.streaming.EdgeStream

/** Round-5 wave-12 operators: odd-cycle/bipartiteness profile, attribute
  * modularity, streaming CC maintenance.
  */
class Wave12Spec extends SparkSpec {

  private def profile(pairs: Seq[(Long, Long)], k: Int)
  : Map[Long, (Long, Long)] =
    Paths.oddCycleProfile(edgesDf(pairs), k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Brute converged profile: per component, BFS parity from the min-id
    * root, conflicts = edges joining equal parities.
    */
  private def bruteProfile(pairs: Seq[(Long, Long)])
  : Map[Long, (Long, Long)] = {
    val nbr = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vs = nbr.keySet
    // components by flood fill
    var comp = Map.empty[Long, Long]
    vs.toSeq.sorted.foreach { v =>
      if (!comp.contains(v)) {
        var seen = Set(v); var frontier = Set(v)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(nbr(_)) -- seen; seen ++= frontier
        }
        val root = seen.min
        seen.foreach(u => comp += u -> root)
      }
    }
    comp.values.toSeq.distinct.map { root =>
      var dist = Map(root -> 0L); var frontier = Set(root)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(nbr(_)).filterNot(dist.contains)
        next.foreach(u => dist += u -> (dist(frontier.find(f =>
          nbr(f).contains(u)).get) + 1L))
        frontier = next
      }
      val members = comp.collect { case (v, r) if r == root => v }.toSet
      val odd = pairs.count { case (a, b) =>
        members(a) && members(b) && (dist(a) % 2) == (dist(b) % 2)
      }
      root -> ((members.size.toLong, odd.toLong))
    }.toMap
  }

  test("oddCycleProfile at full depth ≡ brute BFS-parity conflicts") {
    val pairs = Oracles.randomGraph(seed = 61, n = 24, m = 40)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    assert(profile(pairs, 24) == bruteProfile(pairs))
  }

  test("oddCycleProfile: even cycle + tree bipartite, odd cycle flagged") {
    // 6-cycle (bipartite), a path tree, and a 5-cycle (odd)
    val even = (0L until 6L).map(i => (i, (i + 1) % 6))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val tree = Seq((10L, 11L), (10L, 12L), (12L, 13L))
    val oddc = (20L until 25L).map(i => (i, if (i == 24L) 20L else i + 1))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val got = profile(even ++ tree ++ oddc, 12)
    assert(got(0L) == ((6L, 0L)))   // even cycle: bipartite
    assert(got(10L) == ((4L, 0L)))  // tree: bipartite
    assert(got(20L)._1 == 5L && got(20L)._2 >= 1L) // odd cycle witnessed
  }

  test("modularity accepts string (attribute) labels — brute rational") {
    val s = spark
    import s.implicits._
    // two brand-clusters joined by one bridge; directed-edge table is the
    // symmetrized form
    val pairs = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (2L, 3L))
    val e = edgesDf(pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) })
    val lab = Seq((0L, "A"), (1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("id", "label")
    val r = Community.modularity(e, lab).collect().head
    // m2 = 10 directed edges; intra = 8; per-label endpoint sums
    // d_A = deg0+deg1+deg2 = 2+2+3 = 7, d_B = deg3+deg4 = 2+1 = 3
    // → q_num = 10·8 − (49 + 9) = 22, q_den = 10² = 100
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 22L && r.getLong(2) == 100L)
  }

  test("ccViaStream drained labels ≡ batch CC on the full edge set") {
    val pairs = Oracles.randomGraph(seed = 67, n = 40, m = 55)
      .filter(e => e._1 != e._2).distinct
    val got = EdgeStream.ccViaStream(edgesDf(pairs),
        splits = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ConnectedComponents
      .run(spark, edgesDf(pairs), SuperstepConfig(numPartitions = 4))
      .state.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }
}
