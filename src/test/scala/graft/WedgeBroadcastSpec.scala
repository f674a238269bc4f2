package graft

import org.apache.spark.sql.DataFrame

import graft.algos.{TriangleCount, Truss}
import graft.engine.Lineage
import graft.graph.EdgeSet

/** The triangle family with its edge sides broadcast: every kernel whose
  * wedge and closing joins broadcast the edge set gives the brute-force
  * result on seeded random graphs and on the edge cases of the
  * enumeration; the plan case pins that the wedges are never shuffled.
  */
class WedgeBroadcastSpec extends SparkSpec {

  private def canon(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .distinct

  /** A deterministic integral weight per canonical edge. */
  private def weight(a: Long, b: Long): Long = 1L + (a * 7 + b * 3) % 9

  /** Brute-force results of every kernel on the simple graph of `pairs`. */
  private final class Brute(pairs: Seq[(Long, Long)]) {
    val es: Seq[(Long, Long)] = canon(pairs)
    private val nbrs: Map[Long, Set[Long]] =
      es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    /** Every triangle once, as (a < b < c). */
    val tris: Seq[(Long, Long, Long)] = for {
      (a, b) <- es
      c <- (nbrs(a) & nbrs(b)).toSeq if c > b
    } yield (a, b, c)

    val perVertex: Map[Long, Long] =
      tris.flatMap { case (a, b, c) => Seq(a, b, c) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap

    def lcc: Map[Long, (Long, Long, Long)] = nbrs.map { case (v, ns) =>
      val t = perVertex.getOrElse(v, 0L)
      val d = ns.size.toLong
      v -> ((t, d, if (d >= 2) 2000000L * t / (d * (d - 1)) else 0L))
    }

    def fourCliques: Long = tris.map { case (a, b, c) =>
      (nbrs(a) & nbrs(b) & nbrs(c)).count(_ > c).toLong
    }.sum

    /** (n_sampled, n_closed, est_triangles) of the md5 wedge sampler over
      * the (degree, id) orientation. */
    def sampled(rate: Int): (Long, Long, Long) = {
      def fwd(x: Long, y: Long): Boolean = {
        val (dx, dy) = (nbrs(x).size, nbrs(y).size)
        dx < dy || (dx == dy && x < y)
      }
      val o = es.map { case (x, y) => if (fwd(x, y)) (x, y) else (y, x) }
      val oSet = o.toSet
      val wedges = for {
        (a, b) <- o; (b2, c) <- o if b == b2
        if Oracles.md5Prio(s"$a:$b:$c") % rate == 0
      } yield (a, c)
      val closed = wedges.count(oSet).toLong
      (wedges.size.toLong, closed, closed * rate)
    }

    def strength: (Long, Long) = (tris.size.toLong, tris.map {
      case (a, b, c) => Seq(weight(a, b), weight(b, c), weight(a, c)).min
    }.sum)

    def balance: (Long, Long) = {
      def sgn(x: Long, y: Long) = Oracles.md5Prio(s"$x:$y") % 2
      val bal = tris.count { case (a, b, c) =>
        (sgn(a, b) + sgn(b, c) + sgn(a, c)) % 2 == 0
      }.toLong
      (bal, tris.size - bal)
    }

    /** (cyclic3, transitive3) over the simple digraph of `pairs`. */
    def census: (Long, Long) = {
      val d = pairs.filter(p => p._1 != p._2).toSet
      val wedges = for {
        (a, b) <- d.toSeq; (b2, c) <- d.toSeq if b == b2
      } yield (a, c)
      (wedges.count { case (a, c) => d((c, a)) } / 3L,
        wedges.count(d).toLong)
    }
  }

  private def row(df: DataFrame): Seq[Long] =
    df.collect().head.toSeq.map(_.asInstanceOf[Long])

  /** Every kernel of the family on `edges` (its [[EdgeSet]] view of
    * `pairs`) against the brute-force results. */
  private def check(at: String, pairs: Seq[(Long, Long)],
                    edges: EdgeSet): Unit = {
    val s = spark
    import s.implicits._
    val want = new Brute(pairs)
    val wEdges = want.es.map { case (a, b) => (a, b, weight(a, b)) }
      .toDF("src", "dst", "weight")
    assert(row(TriangleCount.count(edges)) === Seq(want.tris.size.toLong), at)
    assert(collectL(TriangleCount.perVertex(edges), "id", "tri_cnt") ===
      want.perVertex, at)
    assert(TriangleCount.localClustering(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap === want.lcc, at)
    assert(row(TriangleCount.fourCliques(edges)) === Seq(want.fourCliques),
      at)
    val (ns, nc, est) = want.sampled(3)
    assert(row(TriangleCount.sampledCount(edges, 3)) === Seq(ns, nc, est),
      at)
    val (nt, str) = want.strength
    assert(row(TriangleCount.triangleStrength(wEdges)) === Seq(nt, str), at)
    val (bal, unbal) = want.balance
    assert(row(TriangleCount.signedBalance(edges)) === Seq(bal, unbal), at)
    val (cyc, tr) = want.census
    assert(row(TriangleCount.directedCensus(edgesDf(pairs))) === Seq(cyc, tr),
      at)
    for (k <- Seq(3, 4)) {
      val (truss, _) = Truss.converged(edgesDf(pairs), k)
      assert(truss.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ===
        Oracles.bruteTruss(pairs, k), s"$at, $k-truss")
    }
  }

  test("triangle family ≡ brute force on seeded random graphs") {
    for (seed <- Seq(11, 23)) {
      val pairs = Oracles.randomGraph(seed, n = 24, m = 110)
      assert(new Brute(pairs).fourCliques > 0, s"seed $seed has no K4")
      check(s"seed $seed", pairs, edgesDf(pairs))
    }
  }

  test("triangle family ≡ brute force on the enumeration's edge cases") {
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    // K3,3 plus a 6-cycle: 4-cycles everywhere, no triangle
    val triangleFree = (for (a <- 0L until 3L; b <- 3L until 6L)
      yield (a, b)) ++ (10L until 16L).map(v => (v, 10L + (v - 9L) % 6L))
    val cases = Seq[(String, Seq[(Long, Long)])](
      "empty" -> Nil, "triangle-free" -> triangleFree, "K5" -> k5)
    for ((name, pairs) <- cases) check(name, pairs, edgesDf(pairs))
  }

  test("duplicate and reversed input through EdgeSet.canonical") {
    val base = Oracles.randomGraph(37, n = 18, m = 70)
    val noisy = base ++ base.take(20).map(_.swap) ++ base.take(15) ++
      Seq((3L, 3L), (7L, 7L))
    check("noisy", noisy, EdgeSet.canonical(edgesDf(noisy)))
  }

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  private def count(plan: String, node: String): Int =
    s"\\(\\d+\\) $node".r.findAllIn(plan).size

  test("closedWedges plan: broadcast edge sides, no shuffled wedges") {
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val o = TriangleCount.orientedByDegree(edgesDf(k5))
      .transform(Lineage.cut(_, eager = true))
    // the wedge join and the closing join are both built from broadcast
    // edges, so no shuffle sits above the wedge join
    val plan = fmt(TriangleCount.closedWedges(o))
    assert(count(plan, "BroadcastHashJoin") === 2, s"plan:\n$plan")
    assert(count(plan, "ShuffledHashJoin") === 0, s"plan:\n$plan")
    assert(count(plan, "Exchange") === 0, s"plan:\n$plan")
    // the triangle count then shuffles only its partial counts
    val tc = fmt(TriangleCount.count(edgesDf(k5)))
    assert(count(tc, "BroadcastHashJoin") === 2, s"plan:\n$tc")
    assert(count(tc, "Exchange") === 1, s"plan:\n$tc")
  }
}
