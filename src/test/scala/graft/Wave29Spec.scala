package graft

import org.apache.spark.sql.functions._

/** Round-5 wave-29: star-schema revenue rollup, user-day basket lift,
  * hub ego-net density.
  */
class Wave29Spec extends SparkSpec {

  test("basket lift ≡ brute pair counts over (user, day) baskets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3407)
    val types = Array("view", "click", "buy", "ship")
    val rows = (0 until 400).map { _ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(5).toLong,
        types(rnd.nextInt(4)))
    }.distinct
    val baskets = rows.groupBy(t => (t._1, t._2))
      .map { case (k, v) => k -> v.map(_._3).toSet }
    val nb = baskets.size.toLong
    val nt = rows.groupBy(_._3).map { case (t, v) => t -> v.size.toLong }
    val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
    baskets.values.foreach { ts =>
      val sorted = ts.toSeq.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.size)
        pairCnt((sorted(i), sorted(j))) =
          pairCnt.getOrElse((sorted(i), sorted(j)), 0L) + 1L
    }
    val want = pairCnt.toSeq.map { case ((t1, t2), n) =>
      (t1, t2, n, n * nb * 1000000L / (nt(t1) * nt(t2)))
    }.sortBy(t => (t._1, t._2)).toVector
    // run the same shape as the query on a synthetic events-like DF
    val b = rows.toDF("user_id", "day", "event_type").distinct()
      .localCheckpoint(true)
    val nbGot = b.select("user_id", "day").distinct().count()
    val ntDf = b.groupBy(col("event_type")).agg(count(lit(1)).as("nt"))
    val got = b.toDF("user_id", "day", "t1")
      .join(b.toDF("user_id", "day", "t2"), Seq("user_id", "day"))
      .where(col("t1") < col("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_pair"))
      .join(broadcast(ntDf.toDF("t1", "n1")), "t1")
      .join(broadcast(ntDf.toDF("t2", "n2")), "t2")
      .select(col("t1"), col("t2"), col("n_pair"),
        expr(s"(n_pair * ${nbGot}L * 1000000) div (n1 * n2)")
          .as("lift_micro"))
      .orderBy("t1", "t2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toVector
    assert(nbGot == nb)
    assert(got == want)
  }

  test("ego density ≡ brute neighborhood edge counts for top hubs") {
    val canon = Oracles.randomGraph(3501, 40, 200)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(t => t._1 != t._2).distinct
    val adj = scala.collection.mutable
      .Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    canon.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val hubs = adj.toSeq.map { case (v, ns) => (v, ns.size.toLong) }
      .sortBy { case (v, d) => (-d, v) }.take(8)
    val want = hubs.map { case (h, d) =>
      val ns = adj(h)
      val among = canon.count { case (a, b) => ns(a) && ns(b) }.toLong
      (h, d, d + among, 2L * (d + among) * 1000000L / ((d + 1) * d))
    }.sortBy(t => (-t._2, t._1)).toVector
    val cpf = edgesDf(canon).localCheckpoint(true)
    val und2 = graft.graph.EdgeSet.symmetric(cpf).frame
    val deg = und2.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val hubsDf = deg.orderBy(col("deg").desc, col("id")).limit(8)
      .toDF("hub", "hdeg")
    val nbrs = und2.join(broadcast(hubsDf), col("src") === col("hub"))
      .select(col("hub"), col("dst").as("nbr")).localCheckpoint(true)
    val among = cpf
      .join(nbrs.toDF("hub", "src"), Seq("src"))
      .join(nbrs.toDF("hub", "dst"), Seq("dst", "hub"), "left_semi")
      .groupBy("hub").agg(count(lit(1)).as("among"))
    val got = hubsDf.join(among, Seq("hub"), "left")
      .select(col("hub"), col("hdeg").as("deg"),
        (col("hdeg") + coalesce(col("among"), lit(0L))).as("ego_edges"),
        expr("(2 * (hdeg + coalesce(among, 0)) * 1000000) div ((hdeg + 1) * hdeg)")
          .as("density_micro"))
      .orderBy(col("deg").desc, col("hub")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toVector
    assert(got == want)
  }

  test("rev_region star join ≡ brute rollup on a hand-built star") {
    val s = spark
    import s.implicits._
    val region = Seq((0L, "AMERICA"), (1L, "ASIA")).toDF(
      "r_regionkey", "r_name")
    val nation = Seq((0L, "US", 0L), (1L, "JP", 1L), (2L, "CN", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val cust = Seq((10L, 0L), (11L, 1L), (12L, 2L))
      .toDF("c_custkey", "c_nationkey")
    val orders = Seq(
      (100L, 10L, "1997-02-01"), (101L, 11L, "1997-06-01"),
      (102L, 12L, "1998-01-01"), (103L, 10L, "1998-07-07"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("timestamp"))
    val li = Seq(
      (100L, 10.0, 0.1), (100L, 5.5, 0.0), (101L, 7.25, 0.2),
      (102L, 3.33, 0.05), (103L, 9.99, 0.0))
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
    // brute: cents per row, rollup by (region, year)
    val o2c = Map(100L -> 10L, 101L -> 11L, 102L -> 12L, 103L -> 10L)
    val c2r = Map(10L -> "AMERICA", 11L -> "ASIA", 12L -> "ASIA")
    val o2y = Map(100L -> 1997L, 101L -> 1997L, 102L -> 1998L, 103L -> 1998L)
    val rows = Seq(
      (100L, 10.0, 0.1), (100L, 5.5, 0.0), (101L, 7.25, 0.2),
      (102L, 3.33, 0.05), (103L, 9.99, 0.0))
    val want = rows.groupBy(r => (c2r(o2c(r._1)), o2y(r._1)))
      .map { case ((reg, yr), rs) =>
        (reg, yr,
          rs.map(r => math.round(r._2 * (1.0 - r._3) * 100)).sum,
          rs.map(_._1).distinct.size.toLong)
      }.toSeq.sortBy(t => (t._1, t._2)).toVector
    val got = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100, 0).cast("long")).as("rev_cents"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("r_name", "yr").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toVector
    assert(got == want)
  }
}
