package graft

import org.apache.spark.sql.functions._

import graft.algos.{Paths, TriangleCount}
import graft.text.TextOps

/** Round-5 wave-4 operators: 4-clique counting, multi-source BFS landmark
  * assignment (nearest_seed), bigram collocation lift. Golden hand-checked
  * values plus brute-force cross-checks on seeded random inputs (the
  * SURVEY §5.2 pyramid).
  */
class Wave4Spec extends SparkSpec {

  /** The md5Prio twin in plain Scala: 60-bit prefix of md5(id.toString). */
  private def md5Prio(id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Brute K4 count: check all 6 edges of every 4-subset. */
  private def bruteK4(pairs: Seq[(Long, Long)]): Long = {
    val adj = pairs.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a, b), (b, a))
    }.toSet
    val vs = adj.map(_._1).toSeq.sorted
    val combos = vs.combinations(4)
    combos.count { c =>
      c.combinations(2).forall(p => adj((p(0), p(1))))
    }.toLong
  }

  private def k4(pairs: Seq[(Long, Long)]): Long =
    TriangleCount.fourCliques(edgesDf(pairs)).head().getLong(0)

  test("fourCliques: golden K4, K5, and triangle-only graphs") {
    val k4Edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L))
    assert(k4(k4Edges) == 1L)
    // K5 contains C(5,4) = 5 four-cliques
    val k5 = (0L to 4L).combinations(2).map(p => (p(0), p(1))).toSeq
    assert(k4(k5) == 5L)
    // a bare triangle plus a pendant has none
    assert(k4(Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))) == 0L)
  }

  test("fourCliques ≡ brute 4-subset enumeration on a random graph") {
    val pairs = Oracles.randomGraph(seed = 31, n = 18, m = 90)
      .filter { case (a, b) => a != b }
    assert(k4(pairs) == bruteK4(pairs))
  }

  /** Brute multi-source BFS: (dist, seed) lexicographic min per vertex. */
  private def bruteNearest(pairs: Seq[(Long, Long)],
                           k: Int, mod: Long): Map[Long, (Long, Long)] = {
    val adj = pairs.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a, b), (b, a))
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vs = adj.keySet
    val seeds = vs.filter(v => md5Prio(v) % mod == 0).toSeq.sorted
    var best = seeds.map(s => s -> (0L, s)).toMap
    for (_ <- 1 to k) {
      val relaxed = best.toSeq.flatMap { case (v, (d, s)) =>
        adj.getOrElse(v, Set.empty).map(n => n -> (d + 1, s))
      }
      val merged = (best.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
      best = merged
    }
    best
  }

  test("nearestSeeds ≡ brute (dist, seed)-min BFS on a random graph") {
    val pairs = Oracles.randomGraph(seed = 47, n = 60, m = 90)
      .filter { case (a, b) => a != b }
    val got = Paths.nearestSeeds(
      graft.graph.EdgeSet.symmetric(edgesDf(pairs)).frame, 8, 3L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == bruteNearest(pairs, 8, 3L))
    assert(got.nonEmpty)
  }

  test("nearestSeeds truncates exactly at k hops on a chain") {
    // chain 0-1-...-19; whichever vertices hash to seeds, every reported
    // dist is ≤ k and matches the brute truncation
    val chain = (0L until 19L).map(i => (i, i + 1))
    val k = 2
    val got = Paths.nearestSeeds(
      graft.graph.EdgeSet.symmetric(edgesDf(chain)).frame, k, 4L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == bruteNearest(chain, k, 4L))
    assert(got.values.forall(_._1 <= k))
  }

  /** Brute bigram lift with the exact staged integer-rate arithmetic. */
  private def bruteLift(texts: Seq[(Long, String)],
                        minCount: Long): Map[String, (Long, Long)] = {
    val toks = texts.map { case (_, t) =>
      t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    }
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    val tTok = uni.values.sum
    val bg = toks.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tBg = bg.values.sum
    bg.collect { case ((w1, w2), cnt) if cnt >= minCount =>
      val rXy = cnt * 1000000L / tBg
      val rX = uni(w1) * 1000000L / tTok
      val rY = uni(w2) * 1000000L / tTok
      (s"$w1 $w2", cnt, if (rX > 0 && rY > 0)
        Some(rXy * 1000000000000L / (rX * rY)) else None)
    }.collect { case (g, c, Some(l)) => g -> (c, l) }.toMap
  }

  test("bigramLift ≡ brute staged-integer-rate lift on a tiny corpus") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat naps; the lazy dog snores",
      3L -> "quick brown things move, the dog and the fox rest",
      4L -> "a lazy dog and a quick fox")
    val s = spark; import s.implicits._
    val got = TextOps.bigramLift(texts.toDF("doc_id", "text"), minCount = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == bruteLift(texts, 2))
    // "quick brown" co-occurs far above its unigram rates: lift > 10⁶
    assert(got("quick brown")._2 > 1000000L)
  }
}
