package graft

import org.apache.spark.sql.functions._

import graft.algos.Coloring

/** Jones–Plassmann coloring: exact equality with a sequential reference
  * running the identical rounds (priorities collected from the same
  * xxhash64 the engine uses, so the trajectories are comparable), plus
  * properness on seeded random graphs.
  */
class ColoringSpec extends SparkSpec {

  /** Sequential JP with the given priorities and the engine's mex rule. */
  private def seqJp(vertices: Seq[Long], und: Set[(Long, Long)],
                    pri: Map[Long, (Long, Long)]): Map[Long, Int] = {
    val adj = vertices.map { v =>
      v -> und.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }
    }.toMap
    val colors = scala.collection.mutable.Map.empty[Long, Int]
    var uncolored = vertices.toSet
    val ord = implicitly[Ordering[(Long, Long)]]
    while (uncolored.nonEmpty) {
      val winners = uncolored.filter { v =>
        adj(v).filter(uncolored).forall(w => ord.gt(pri(v), pri(w)))
      }
      winners.foreach { v =>
        val used = adj(v).flatMap(colors.get).toSet
        colors(v) = Iterator.from(0).find(!used(_)).get
      }
      uncolored --= winners
    }
    colors.toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val s = spark
    import s.implicits._
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.toSet
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val pri = vertices.toDF("id")
      .select(col("id"), xxhash64(col("id")).as("h")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(0)))).toMap
    val exp = seqJp(vertices, und, pri)
    val got = Coloring.runWithRounds(spark, edges.toDF("src", "dst"))._1
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === exp)
    und.foreach { case (a, b) =>
      assert(got(a) !== got(b), s"edge ($a,$b) monochromatic")
    }
  }

  test("coloring ≡ sequential Jones–Plassmann on golden graphs") {
    check(Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    check(Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L),
      (2L, 3L)))
  }

  test("coloring proper and ≡ sequential JP on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    check(edges)
  }
}
