package graft

import scala.collection.mutable

import graft.algos.{Paths, Walks}
import graft.graph.{EdgeSet, GraphOps}

/** DAG layering (truncated longest path) and deterministic md5 walks:
  * goldens on hand-checkable graphs plus brute-force equality on seeded
  * random graphs.
  */
class WalksLayersSpec extends SparkSpec {

  test("dagLayers: chain and diamond goldens, truncation at k") {
    val chain = edgesDf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
    assert(collectL(Paths.dagLayers(chain, 8), "id", "layer") ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // k=2 truncates: layer(v) = longest path ending at v over <= 2 edges
    assert(collectL(Paths.dagLayers(chain, 2), "id", "layer") ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    val diamond = edgesDf(Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)))
    assert(collectL(Paths.dagLayers(diamond, 4), "id", "layer") ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("dagLayers: longest path (not shortest) on the shortcut DAG") {
    // 0→3 shortcut plus 0→1→2→3: layer(3) must be 3, not 1
    val g = edgesDf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)))
    assert(collectL(Paths.dagLayers(g, 8), "id", "layer")(3L) == 3L)
  }

  test("dagLayers ≡ brute longest path within k on random DAGs") {
    // a DAG: orient each edge along a random vertex order, so ids are not
    // already a topological order. In a DAG every walk is a path, so
    // layer(v) = the largest j ≤ k with a j-edge walk ending at v.
    def brute(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val vs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      var ends = vs // end points of j-edge walks, j = 0
      val layer = mutable.Map(vs.toSeq.map(_ -> 0L): _*)
      for (j <- 1 to k) {
        ends = pairs.collect { case (u, v) if ends(u) => v }.toSet
        ends.foreach(layer(_) = j.toLong)
      }
      layer.toMap
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rank = rnd.shuffle((0L until 24L).toList).zipWithIndex.toMap
      val dag = Oracles.randomGraph(seed, n = 24, m = 50).map {
        case (a, b) => if (rank(a) < rank(b)) (a, b) else (b, a)
      }
      for (k <- Seq(1, 3, 24)) {
        assert(collectL(Paths.dagLayers(edgesDf(dag), k), "id", "layer") ===
          brute(dag, k), s"seed $seed, k $k")
      }
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Sequential replay of the engine's walk rule. */
  private def bruteWalk(adj: Map[Long, Set[Long]], start: Long,
                        steps: Int): (String, Long) = {
    var cur = start
    val path = new StringBuilder(start.toString)
    for (t <- 1 to steps) {
      val ns = adj.getOrElse(cur, Set.empty)
      if (ns.nonEmpty) {
        val nxt = ns.minBy(w =>
          md5hex(s"$cur:$t:$w") + w.toString.reverse.padTo(20, '0').reverse)
        path.append("->").append(nxt)
        cur = nxt
      }
    }
    (path.toString, cur)
  }

  test("walks: seeded random graph replays the brute trajectory exactly") {
    val pairs = Oracles.randomGraph(seed = 7, n = 25, m = 60)
    val e = EdgeSet.symmetric(edgesDf(pairs)).frame
    val starts = GraphOps.vertices(e)
    val got = Walks.walks(e, starts, 4).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val adj = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(p => p._1 != p._2).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = adj.keySet.map(v => v -> bruteWalk(adj, v, 4)).toMap
    assert(got == want)
  }

  test("walks: a sink walker keeps its position, path unextended") {
    val e = edgesDf(Seq((0L, 1L))) // directed: 1 is a sink
    val s = spark; import s.implicits._
    val out = Walks.walks(e, Seq(1L).toDF("id"), 3).collect()(0)
    assert(out.getString(1) == "1" && out.getLong(2) == 1L)
  }
}
