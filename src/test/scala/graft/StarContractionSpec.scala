package graft

import scala.collection.mutable

import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.algos.ConnectedComponents

/** [[ConnectedComponents.stars]]: window-min stars and the star-forest
  * stop. Labels ≡ union-find on the edge cases of the stop test, exact
  * round counts where the stop decides them, and the loop conf reaching
  * the rounds that a streaming fold plans on its own session.
  */
class StarContractionSpec extends SparkSpec {

  private def starsMap(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, r) = ConnectedComponents.stars(edgesDf(pairs))
    (df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap, r)
  }

  // round 1 leaves leaf 3 under two roots (3 → 1, 3 → 2) with no root
  // that is also a leaf: not yet a star forest
  private val twoRoots = Seq[(Long, Long)]((1L, 10L), (3L, 10L), (2L, 11L),
    (3L, 11L))

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Oracles.unionFind(pairs.flatMap(p => Seq(p._1, p._2)).distinct, pairs)

  test("stars ≡ union-find on the star-forest stop's edge cases") {
    val cases = Seq[(String, Seq[(Long, Long)])](
      "one edge, src < dst" -> Seq((0L, 1L)),
      "one edge, src > dst" -> Seq((1L, 0L)),
      "reversed duplicates" -> Seq((0L, 1L), (1L, 0L), (0L, 1L), (2L, 1L)),
      "self-loop only" -> Seq((5L, 5L)),
      "in-star" -> (1L to 6L).map(v => (v, 0L)),
      "out-star" -> (1L to 6L).map(v => (3L, v + 3L)),
      "leaf under two roots" -> twoRoots)
    for ((name, g) <- cases) {
      assert(starsMap(g)._1 === unionFind(g), name)
    }
  }

  test("stars on an empty edge set runs 0 rounds") {
    val (got, rounds) = starsMap(Nil)
    assert(got.isEmpty && rounds === 0)
  }

  test("stars stops on the round that reaches the star forest") {
    // the path 0–1–…–11 is a star forest after round 4; stopping on an
    // unchanged edge set would take a 5th round to confirm it
    val path = (0L until 11L).map(i => (i, i + 1))
    val (got, rounds) = starsMap(path)
    assert(got === (0L to 11L).map(_ -> 0L).toMap)
    assert(rounds === 4)
    // one edge is the star 1 → 0 after one round, whichever way it points
    assert(starsMap(Seq((0L, 1L)))._2 === 1)
    assert(starsMap(Seq((1L, 0L)))._2 === 1)
    // the leaf-under-two-roots graph needs the out-degree half of the test
    assert(starsMap(twoRoots)._2 === 3)
  }

  /** Runs `body` and returns its result with every job it started, as
    * (call site, `spark.sql.adaptive.enabled` of the planning session). */
  private def jobsDuring[T](body: => T): (T, List[(String, Option[String])]) = {
    val jobs = mutable.ArrayBuffer.empty[(String, Option[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.map(_.details).mkString("\n")
        val aqe = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.adaptive.enabled")))
        jobs.synchronized(jobs += site -> aqe)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Bus.drain(spark.sparkContext)
      (r, jobs.synchronized(jobs.toList))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stars runs each round as one job under its edges' session loop conf") {
    // the edges belong to another session than the `spark` argument, as a
    // streaming batch does inside foreachBatch; with AQE left on, each
    // round would split into one job per shuffle stage
    val other = spark.newSession()
    import other.implicits._
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val ((_, rounds), jobs) =
      jobsDuring(ConnectedComponents.stars(path))
    val roundJobs = jobs.filter(_._1.contains("Lineage$.rounds"))
    assert(roundJobs.size === rounds)
    assert(roundJobs.forall(_._2.contains("false")),
      s"AQE per round job: ${roundJobs.map(_._2)}")
  }
}
