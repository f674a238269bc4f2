package graft

import org.apache.spark.sql.functions._

/** Round-5 wave-38: decayed activity score, vertex cover via matching,
  * dropDuplicatesWithinWatermark replay.
  */
class Wave38Spec extends SparkSpec {

  test("decay score ≡ brute bit-shift half-life sum") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5203)
    val ev = (0 until 300).map(_ =>
      (rnd.nextInt(9).toLong, rnd.nextInt(120).toLong))
    val maxDay = ev.map(_._2).max
    val want = ev.groupBy(_._1).map { case (u, es) =>
      val score = es.map { case (_, d) =>
        1L << (10 - math.min((maxDay - d) / 7, 10L)).toInt
      }.sum
      (u, es.size.toLong, score)
    }.toSeq.sortBy(_._1).toVector
    val got = ev.toDF("user_id", "day")
      .select(col("user_id"),
        expr(s"shiftleft(1L, 10 - least(" +
          s"cast((${maxDay}L - day) div 7 as int), 10))").as("contrib"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("contrib")).as("score"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toVector
    assert(got == want)
  }

  test("matching endpoints form a vertex cover (every edge touched)") {
    val canon = Oracles.randomGraph(5303, 40, 140)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(t => t._1 != t._2).distinct
    val (m, _) = graft.algos.Matching.run(spark, edgesDf(canon))
    val cover = m.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().collect().map(_.getLong(0)).toSet
    canon.foreach { case (a, b) =>
      assert(cover(a) || cover(b), s"edge ($a,$b) uncovered")
    }
    // 2-approximation: |cover| = 2|M| ≤ 2·OPT ≤ 2·|cover|
    assert(cover.size.toLong == 2L * m.count())
  }

  test("dropDuplicatesWithinWatermark replay ≡ batch counts") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5407)
    val types = Array("a", "b")
    val ev = (0L until 80L).map { i =>
      (i, new java.sql.Timestamp(1700000000000L + rnd.nextInt(5000) * 1000L),
        types(rnd.nextInt(2)))
    }
    val want = ev.groupBy(_._3).map { case (t, v) => (t, v.size.toLong) }
      .toSeq.sortBy(_._1).toVector
    val df = ev.toDF("event_id", "ts", "event_type")
    val got = graft.streaming.EdgeStream
      .dedupWithinWatermarkViaStream(df, 4)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1))).toVector
    assert(got == want)
  }
}
