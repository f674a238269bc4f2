package graft

import org.apache.spark.sql.functions._

import graft.algos.{Densest, TriangleCount}
import graft.events.Analytics

/** Round-5 wave-24: densest-subgraph peel profile, signed-triangle
  * balance census, Markov stationary distribution over event types.
  */
class Wave24Spec extends SparkSpec {

  /** Sequential reference of the ε=1 greedy peel (same integer
    * semantics: measure, then drop deg·n ≤ 2·m2).
    */
  private def brutePeel(
      sym: Seq[(Long, Long)]): Vector[(Long, Long, Long, Long)] = {
    var e = sym
    var rows = Vector.empty[(Long, Long, Long)]
    var r = 0L
    while (e.nonEmpty) {
      r += 1
      val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val n = deg.size.toLong
      val m2 = deg.values.sum
      rows :+= ((r, n, m2))
      val keep = deg.filter { case (_, d) => d * n > 2 * m2 }.keySet
      e = e.filter(t => keep(t._1) && keep(t._2))
    }
    rows.map { case (ri, n, m2) =>
      val best = rows.forall { case (_, nj, m2j) => m2 * nj >= m2j * n }
      (ri, n, m2, if (best) 1L else 0L)
    }
  }

  test("densest peel profile ≡ sequential peel; rounds ≤ log2(n)+1") {
    // planted K12 clique + sparse random noise on 200 extra vertices
    val clique = for {
      a <- 0L until 12L; b <- (a + 1) until 12L
    } yield (a, b)
    val noise = Oracles.randomGraph(421, 200, 260)
      .map { case (a, b) => (a + 12L, b + 12L) }
    val canon = (clique ++ noise)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(t => t._1 != t._2).distinct
    val sym = canon.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val want = brutePeel(sym)
    val got = Densest.peelProfile(spark, edgesDf(sym))
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toVector
    assert(got == want)
    val n0 = want.head._2
    assert(want.size <= (64 - java.lang.Long.numberOfLeadingZeros(n0)) + 1,
      s"peel must halve per round: ${want.size} rounds for n=$n0")
    // approximation guarantee vs the planted K12 (density m2/n = 11):
    // Charikar's peel is a 2(1+ε)=4-approx, so best m2/n ≥ 11/4; measured
    // it lands at 9.57 (clique + 2 noise vertices)
    val best = want.filter(_._4 == 1L).head
    assert(best._3 * 4 >= 11 * best._2,
      s"best density m2/n=${best._3}/${best._2} below the 4-approx floor")
  }

  test("signed balance census ≡ brute triangle enumeration") {
    val canon = Oracles.randomGraph(907, 60, 420)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(t => t._1 != t._2).distinct
    val adj = canon.toSet
    def sgn(x: Long, y: Long): Long = Oracles.md5Prio(s"$x:$y") % 2
    val ids = canon.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    var bal = 0L
    var unbal = 0L
    for {
      i <- ids.indices; j <- (i + 1) until ids.size; k <- (j + 1) until ids.size
      a = ids(i); b = ids(j); c = ids(k)
      if adj((a, b)) && adj((b, c)) && adj((a, c))
    } {
      if ((sgn(a, b) + sgn(b, c) + sgn(a, c)) % 2 == 0) bal += 1
      else unbal += 1
    }
    val row = TriangleCount.signedBalance(edgesDf(canon)).head()
    assert((row.getLong(0), row.getLong(1)) == ((bal, unbal)))
    assert(bal + unbal > 0, "test graph must contain triangles")
  }

  test("markov stationary ≡ brute integer power iteration") {
    val s = spark
    import s.implicits._
    val types = Array("view", "click", "buy")
    val rnd = new scala.util.Random(1511)
    // duplicate timestamps present → event_id tie-break is exercised
    val ev = (0L until 300L).map { i =>
      (i, s"2026-01-01 00:00:${10 + rnd.nextInt(40)}", i % 7L,
        types(rnd.nextInt(3)))
    }
    val df = ev.toDF("event_id", "ts", "user_id", "event_type")
    // brute transition counts under the (us, event_id) order
    val byUser = ev.groupBy(_._3).values.map(_.sortBy(e => (e._2, e._1)))
    val c = scala.collection.mutable.Map.empty[(String, String), Long]
    byUser.foreach { seq =>
      seq.sliding(2).filter(_.size == 2).foreach { p =>
        val k = (p(0)._4, p(1)._4)
        c(k) = c.getOrElse(k, 0L) + 1L
      }
    }
    val rs = c.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    var p = types.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val nxt = scala.collection.mutable.Map.empty[String, Long]
      c.foreach { case ((f, t), n) =>
        nxt(t) = nxt.getOrElse(t, 0L) + (p(f) * n) / rs(f)
      }
      p = types.map(t => t -> nxt.getOrElse(t, 0L)).toMap
    }
    val got = Analytics.markovStationary(df, 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == p)
    assert(got.values.sum > 0L)
  }
}
