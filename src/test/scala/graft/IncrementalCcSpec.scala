package graft

import scala.collection.mutable

import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.algos.ConnectedComponents
import graft.streaming.EdgeStream

/** [[ConnectedComponents.incremental]]: the driver finish and the
  * distributed star path (threshold forced to 0) give the labels of a
  * union-find over old ∪ delta edges, on random graphs and on the edge
  * cases of the contraction; a streaming fold runs every job with the loop
  * conf and within a pinned job count.
  */
class IncrementalCcSpec extends SparkSpec {

  private def verts(pairs: Seq[(Long, Long)]): Seq[Long] =
    pairs.flatMap(p => Seq(p._1, p._2)).distinct

  /** Prior labels: union-find components of `base`, labelled by minimum. */
  private def baseLabels(base: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    Oracles.unionFind(verts(base), base).toSeq.toDF("id", "component")
  }

  /** Union-find over old ∪ delta: a vertex seen only in a delta self-loop
    * has no edge and gets no label, as in a from-scratch run. */
  private def want(base: Seq[(Long, Long)],
                   delta: Seq[(Long, Long)]): Map[Long, Long] = {
    val all = base ++ delta.filter(e => e._1 != e._2)
    Oracles.unionFind(verts(all), all)
  }

  /** Both paths' labels: (driver finish, stars path). */
  private def bothPaths(base: Seq[(Long, Long)], delta: Seq[(Long, Long)])
      : (Map[Long, Long], Map[Long, Long]) = {
    def labels(driverRows: Long) = collectL(
      ConnectedComponents.incremental(baseLabels(base), edgesDf(delta),
        driverRows), "id", "component")
    (labels(Long.MaxValue), labels(0L))
  }

  private def check(name: String, base: Seq[(Long, Long)],
                    delta: Seq[(Long, Long)]): Unit = {
    val (driver, dist) = bothPaths(base, delta)
    val w = want(base, delta)
    assert(driver === w, s"$name: driver finish")
    assert(dist === w, s"$name: stars path")
  }

  test("incremental ≡ union-find on random graphs, on both paths") {
    for (seed <- Seq(5, 17, 29, 43)) {
      val all = Oracles.randomGraph(seed, n = 70, m = 80)
      val (base, delta) = all.partition { case (a, b) => (a * 7 + b) % 4 != 0 }
      // delta also brings vertices the base has never seen
      val fresh = (0 until 6).map(i => (1000L + i, (seed + 9L * i) % 70))
      check(s"seed $seed", base, delta ++ fresh)
    }
  }

  test("incremental ≡ union-find on the contraction's edge cases") {
    // base components {0,1,2}, {5,6}, {10,11}
    val base = Seq((0L, 1L), (1L, 2L), (5L, 6L), (10L, 11L))
    val cases = Seq[(String, Seq[(Long, Long)])](
      "empty delta" -> Nil,
      "only new vertices" -> Seq((100L, 101L), (102L, 101L), (200L, 201L)),
      "inside one component" -> Seq((0L, 2L), (2L, 1L)),
      "one delta merging three components" -> Seq((11L, 6L), (2L, 10L)),
      "three components through a new vertex" ->
        Seq((6L, 100L), (100L, 11L), (1L, 100L)),
      "duplicate, reversed and self-loop edges" ->
        Seq((1L, 5L), (5L, 1L), (1L, 5L), (7L, 7L), (6L, 6L), (300L, 300L),
          (301L, 302L), (302L, 301L)))
    for ((name, delta) <- cases) check(name, base, delta)
  }

  test("incremental on empty prior labels ≡ union-find of the delta") {
    val delta = Oracles.randomGraph(seed = 61, n = 30, m = 25)
    check("no prior labels", Nil, delta)
  }

  /** Runs `body` and returns its result with the `spark.sql.adaptive.enabled`
    * of every job that a streaming query ran (a fold's jobs). */
  private def foldJobsDuring[T](body: => T): (T, List[Option[String]]) = {
    val jobs = mutable.ArrayBuffer.empty[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("sql.streaming.queryId") != null))
          jobs.synchronized(jobs +=
            p.flatMap(x => Option(x.getProperty("spark.sql.adaptive.enabled"))))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Bus.drain(spark.sparkContext)
      (r, jobs.synchronized(jobs.toList))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ccViaStream folds run every job AQE-off, at most 5 jobs a fold") {
    val pairs = Oracles.randomGraph(seed = 67, n = 40, m = 55)
    val (got, jobs) = foldJobsDuring(EdgeStream.ccViaStream(edgesDf(pairs),
      splits = 3).collect())
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Oracles.unionFind(verts(pairs), pairs))
    // 3 batches: a fold is a count, a collect and the relabel's jobs
    assert(jobs.size >= 3)
    assert(jobs.forall(_.contains("false")), s"AQE per fold job: $jobs")
    assert(jobs.size <= 3 * 5, s"${jobs.size} fold jobs")
  }
}
