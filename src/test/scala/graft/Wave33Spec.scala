package graft

import org.apache.spark.sql.functions._

import graft.algos.{Densest, TriangleCount}

/** Round-5 wave-33: temporal 3-chain motifs, weighted densest peel,
  * clustering-by-degree curve.
  */
class Wave33Spec extends SparkSpec {

  test("3-chain census ≡ brute triple enumeration with both gaps bounded") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4203)
    val types = Array("a", "b", "c")
    val h = 3600000000L
    val ev = (0L until 150L).map { i =>
      (i % 6L, types(rnd.nextInt(3)), 1000000L * rnd.nextInt(30000))
    }
    val want = (for {
      x <- ev; y <- ev; z <- ev
      if x._1 == y._1 && y._1 == z._1
      if y._3 > x._3 && y._3 <= x._3 + h
      if z._3 > y._3 && z._3 <= y._3 + h
    } yield (x._2, y._2, z._2)).groupBy(identity)
      .map { case (k, v) => (k._1, k._2, k._3, v.size.toLong) }
      .toSeq.sortBy(t => (t._1, t._2, t._3)).toVector
    val e = ev.toDF("user_id", "event_type", "us").localCheckpoint(true)
    val got = e.toDF("user_id", "t1", "us1")
      .join(e.toDF("user_id", "t2", "us2"), Seq("user_id"))
      .where(col("us2") > col("us1") && col("us2") <= col("us1") + h)
      .join(e.toDF("user_id", "t3", "us3"), Seq("user_id"))
      .where(col("us3") > col("us2") && col("us3") <= col("us2") + h)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      .orderBy("t1", "t2", "t3").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toVector
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("weighted peel ≡ sequential weighted peel; planted heavy clique wins") {
    val rnd = new scala.util.Random(4301)
    // heavy K8 (weights 8-10) + light random noise (weight 1)
    val clique = for {
      a <- 0L until 8L; b <- (a + 1) until 8L
    } yield (a, b, 8L + rnd.nextInt(3))
    val noise = Oracles.randomGraph(4301, 150, 220)
      .map { case (a, b) => (a + 8L, b + 8L, 1L) }
    val canon = (clique ++ noise)
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
    val sym = canon.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    // sequential reference
    var e = sym
    var rows = Vector.empty[(Long, Long, Long)]
    var r = 0L
    while (e.nonEmpty) {
      r += 1
      val wdeg = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
      val n = wdeg.size.toLong
      val w2 = wdeg.values.sum
      rows :+= ((r, n, w2))
      val keep = wdeg.filter { case (_, d) => d * n > 2 * w2 }.keySet
      e = e.filter(t => keep(t._1) && keep(t._2))
    }
    val want = rows.map { case (ri, n, w2) =>
      val best = rows.forall { case (_, nj, w2j) => w2 * nj >= w2j * n }
      (ri, n, w2, if (best) 1L else 0L)
    }
    val got = Densest.peelProfileWeighted(spark,
        edgesWDf(sym.map(t => (t._1, t._2, t._3.toDouble))))
      .orderBy("round").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toVector
    assert(got == want)
    // the heavy clique must survive to a best round denser than round 1
    val best = want.filter(_._4 == 1L).head
    assert(best._1 > 1L, s"peel should find a denser core than round 1: $want")
  }

  test("c(k) curve ≡ brute bucketed mean of exact lcc micros") {
    val canon = Oracles.randomGraph(4401, 40, 180)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(t => t._1 != t._2).distinct
    val adj = scala.collection.mutable
      .Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    canon.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val micro = adj.map { case (v, ns) =>
      val d = ns.size.toLong
      val tri = canon.count { case (a, b) => ns(a) && ns(b) }.toLong
      val m = if (d >= 2) 2000000L * tri / (d * (d - 1)) else 0L
      (v, d, m)
    }
    val want = micro.groupBy { case (_, d, _) =>
      64 - java.lang.Long.numberOfLeadingZeros(d)
    }.map { case (bkt, vs) =>
      (bkt.toLong, vs.size.toLong, vs.map(_._3).sum / vs.size)
    }.toSeq.sortBy(_._1).toVector
    val got = TriangleCount.localClustering(edgesDf(canon))
      .groupBy(length(bin(col("deg"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_vertices"),
        expr("sum(lcc_micro) div count(1)").as("avg_lcc_micro"))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toVector
    assert(got == want)
  }
}
