package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algos._
import graft.engine.Lineage

/** Every capped round loop runs on [[Lineage.rounds]]. One table row per
  * loop with a public cap: at the default cap the kernel finishes and
  * reports ≥ 2 rounds; with that cap set to 1 it throws
  * IllegalStateException instead of returning a partial result.
  */
class RoundCapSpec extends SparkSpec {

  test("Lineage.rounds: nothing pending runs no round") {
    var calls = 0
    assert(Lineage.rounds("idle", 5)(false)(_ => calls += 1) === 0)
    assert(calls === 0)
  }

  test("Lineage.rounds: counts rounds, numbers them from 1, throws past the cap") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    assert(Lineage.rounds("three", 3)(seen.size < 3)(seen += _) === 3)
    assert(seen.toSeq === Seq(1, 2, 3))
    val e = intercept[IllegalStateException](
      Lineage.rounds("endless", 2)(true)(_ => ()))
    assert(e.getMessage.contains("endless"))
  }

  // triangle {0,1,2} with tail 2–3–4
  private def tail: DataFrame = edgesDf(Seq[(Long, Long)]((0L, 1L), (1L, 2L),
    (0L, 2L), (2L, 3L), (3L, 4L)))
  // path 0–1–…–11
  private def path: DataFrame = edgesDf((0L until 11L).map(i => (i, i + 1)))
  private def random: DataFrame = edgesDf(Oracles.randomGraph(7, 30, 60))
  private def weighted: DataFrame = {
    val rnd = new scala.util.Random(3)
    edgesWDf(Oracles.randomGraph(7, 30, 60)
      .map { case (a, b) => (a, b, (rnd.nextInt(9) + 1).toDouble) })
  }
  // Borůvka: {0,1,2,3} and {4,5} merge in round 1 (3 → 2 → 1 ↔ 0 needs
  // two pointer jumps), the heavy 3–4 bridge joins them in round 2
  private def msfGraph: DataFrame = edgesWDf(Seq((0L, 1L, 1.0), (1L, 2L, 2.0),
    (2L, 3L, 3.0), (3L, 4L, 9.0), (4L, 5L, 1.0)))
  // K5 plus 20 disjoint edges: round 1 keeps K5, round 2 peels it
  private def densest: Seq[(Long, Long)] = {
    val k5 = for (i <- 0L to 4L; j <- 0L to 4L if i != j) yield (i, j)
    k5 ++ (0L until 20L).flatMap { i =>
      val (a, b) = (10L + 2 * i, 11L + 2 * i)
      Seq((a, b), (b, a))
    }
  }
  // K4 with pendants 3–4, 4–5: round 1 drops the pendants, round 2 confirms
  private def truss: DataFrame = edgesDf(
    (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)) ++
      Seq((3L, 4L), (4L, 5L)))
  // eight two-cycles chained by one-way bridges (SccTrussSpec's shape)
  private def sccChain: DataFrame = edgesDf((0 until 8).flatMap { i =>
    val (a, b) = (2L * i, 2L * i + 1)
    Seq((a, b), (b, a)) ++ (if (i < 7) Seq((b, 2L * (i + 1))) else Nil)
  })
  private def zero: DataFrame = spark.range(1).toDF("id")
  private def sssp(delta: Double, maxBuckets: Int = 10000,
                   maxInner: Int = 200): (Int, Int) = {
    val e = edgesWDf((0L until 6L).flatMap(i =>
      Seq((i, i + 1, 1.0), (i + 1, i, 1.0))))
    val (_, buckets, light) = Paths.deltaStepping(spark, e,
      e.agg(min(col("src"))), delta, maxBuckets, maxInner)
    (buckets, light)
  }

  /** (loop, rounds at the default cap, the same run with the cap at 1) */
  private val table: Seq[(String, () => Int, () => Any)] = Seq(
    ("Mis", () => Mis.run(spark, random)._2,
      () => Mis.run(spark, random, maxRounds = 1)),
    ("Coloring", () => Coloring.runWithRounds(spark, random)._2,
      () => Coloring.runWithRounds(spark, random, maxRounds = 1)),
    ("KCore.converged", () => KCore.converged(tail, 2)._2,
      () => KCore.converged(tail, 2, maxRounds = 1)),
    ("KCore.coreness levels", () => KCore.coreness(tail)._3.size,
      () => KCore.coreness(tail, maxK = 1)),
    ("Matching.run", () => Matching.run(spark, random)._2,
      () => Matching.run(spark, random, maxRounds = 1)),
    ("Matching.runWeighted", () => Matching.runWeighted(spark, weighted)._2,
      () => Matching.runWeighted(spark, weighted, maxRounds = 1)),
    ("Matching.runB", () => Matching.runB(spark, random, 2)._2,
      () => Matching.runB(spark, random, 2, maxRounds = 1)),
    ("Msf Borůvka rounds",
      () => Msf.runWithStats(spark, msfGraph)._2("rounds"),
      () => Msf.runWithStats(spark, msfGraph, maxRounds = 1)),
    ("Msf pointer jumping",
      () => Msf.runWithStats(spark, msfGraph)._2("maxJump"),
      () => Msf.runWithStats(spark, msfGraph, maxJumpRounds = 1)),
    ("Densest.peelProfile",
      () => Densest.peelProfile(spark, edgesDf(densest)).count().toInt,
      () => Densest.peelProfile(spark, edgesDf(densest), maxRounds = 1)),
    ("Densest.peelProfileWeighted",
      () => Densest.peelProfileWeighted(spark,
        edgesWDf(densest.map(t => (t._1, t._2, 1.0)))).count().toInt,
      () => Densest.peelProfileWeighted(spark,
        edgesWDf(densest.map(t => (t._1, t._2, 1.0))), maxRounds = 1)),
    ("Truss.converged", () => Truss.converged(truss, 3)._2,
      () => Truss.converged(truss, 3, maxRounds = 1)),
    ("Scc outer rounds",
      () => Scc.runWithStats(spark, sccChain)._2("outer"),
      () => Scc.runWithStats(spark, sccChain, maxOuter = 1)),
    ("Scc sweep rounds",
      () => Scc.runWithStats(spark, sccChain)._2("maxSweep"),
      () => Scc.runWithStats(spark, sccChain, maxSweepRounds = 1)),
    ("ConnectedComponents.stars",
      () => ConnectedComponents.stars(path)._2,
      () => ConnectedComponents.stars(path, maxRounds = 1)),
    // unit weights: delta 1 opens one bucket per hop; delta 100 puts the
    // whole path in bucket 0, closed by one light round per hop
    ("Paths.deltaStepping buckets", () => sssp(1.0)._1,
      () => sssp(1.0, maxBuckets = 1)),
    ("Paths.deltaStepping light rounds", () => sssp(100.0)._2,
      () => sssp(100.0, maxInner = 1)),
    // from vertex 0 of the path: one round per level, then the empty one
    ("Betweenness forward BFS",
      () => Betweenness.runWithRounds(spark, path, zero)._2,
      () => Betweenness.runWithRounds(spark, path, zero, 1)))

  for ((name, atDefault, atCap1) <- table)
    test(s"round cap: $name — ≥ 2 rounds at the default cap, throws at 1") {
      val r = atDefault()
      assert(r >= 2, s"$name ran $r rounds; the row needs a deeper input")
      intercept[IllegalStateException](atCap1())
    }
}
