package graft

import org.apache.spark.sql.functions._

import graft.algos.{Coloring, TriangleCount}
import graft.graph.GraphOps
import graft.text.TextOps

/** Round-5 wave-7 operators: md5-priority Jones–Plassmann coloring (the
  * oracle-twin variant), unipartite rectangle count, CSV edge source,
  * stratified per-language sampling. Golden hand-checked values plus
  * brute-force cross-checks (SURVEY §5.2).
  */
class Wave7Spec extends SparkSpec {

  // ---- md5-priority coloring ----------------------------------------------

  /** Sequential JP with md5Prio priorities and the engine's mex rule
    * (ColoringSpec's reference, re-keyed to the oracle-twin order).
    */
  private def seqJpMd5(vertices: Seq[Long],
                       und: Set[(Long, Long)]): Map[Long, Int] = {
    val adj = vertices.map { v =>
      v -> und.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }
    }.toMap
    val pri = vertices.map(v => v -> ((Oracles.md5Prio(v.toString), v))).toMap
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

  test("md5-priority coloring ≡ sequential JP and proper on random graphs") {
    for (seed <- Seq(79, 83)) {
      val edges = Oracles.randomGraph(seed, n = 30, m = 70)
      val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter { case (a, b) => a != b }.toSet
      val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val got = Coloring.runWithRounds(spark, edgesDf(edges),
        md5Pri = true)._1.collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === seqJpMd5(vertices, und))
      und.foreach { case (a, b) =>
        assert(got(a) !== got(b), s"edge ($a,$b) monochromatic")
      }
    }
  }

  // ---- rectangle (C4) count ----------------------------------------------

  /** Brute: ordered distinct 4-tuples with the cycle edges, / 8
    * (4 rotations × 2 directions per C4) — independent of the diagonal
    * formula the operator uses.
    */
  private def bruteRectangles(und: Set[(Long, Long)]): Long = {
    val vs = und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct
    val e = und ++ und.map { case (a, b) => (b, a) }
    val tuples = for {
      a <- vs; b <- vs if a != b && e((a, b))
      c <- vs if c != a && c != b && e((b, c))
      d <- vs if d != a && d != b && d != c && e((c, d)) && e((d, a))
    } yield 1L
    tuples.sum / 8
  }

  test("rectangles golden: one C4 plus a chord and a pendant") {
    // square 1-2-3-4 with chord 1-3 (still exactly one C4) + pendant 5
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (4L, 5L))
    val r = TriangleCount.rectangles(edgesDf(e)).head()
    assert(r.getLong(1) == 1L)
  }

  test("rectangles ≡ brute 4-tuple enumeration on a random graph") {
    val edges = Oracles.randomGraph(seed = 89, n = 18, m = 60)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val r = TriangleCount.rectangles(edgesDf(edges.toSeq)).head()
    assert(r.getLong(1) == bruteRectangles(edges))
    assert(r.getLong(1) > 0)
  }

  test("rectangles hot-center cap drops wedges centered at hubs") {
    // star center 0 over 1..5 plus square 1-2-3-4: cap 4 excludes the
    // center-0 wedges but keeps the square's own diagonals
    val e = (1L to 5L).map(n => (0L, n)) ++
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val uncapped = TriangleCount.rectangles(edgesDf(e)).head()
    val capped = TriangleCount.rectangles(edgesDf(e), maxDeg = 4).head()
    assert(capped.getLong(0) < uncapped.getLong(0))
    assert(capped.getLong(1) <= uncapped.getLong(1))
  }

  // ---- CSV edge source ----------------------------------------------------

  test("readCsvEdges: explicit schema, malformed dropped, weight default") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csvspec")
    val f = dir.resolve("edges.csv")
    java.nio.file.Files.writeString(f,
      "src,dst,weight\n1,2,7\n3,4,\nnot,a,row\n5,6,2\n,9,1\n")
    try {
      val got = GraphOps.readCsvEdges(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == Set((1L, 2L, 7L), (3L, 4L, 1L), (5L, 6L, 2L)))
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  // ---- stratified sampling ------------------------------------------------

  test("stratified sample keeps exactly the (lang:id)-hash-selected docs") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the cat and the dog is in the house of the king"),
      (2L, "der hund und die katze ist nicht ein tier"),
      (3L, "el perro y los gatos es una casa que canta"),
      (4L, "le chien et la maison est un chat les arbres"),
      (5L, "the quick brown fox is one of a kind and smart"),
      (6L, "zzz qqq xxx")).toDF("doc_id", "text")
    val lid = TextOps.langId(docs)
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = lid.filter { case (id, lang) =>
      Oracles.md5Prio(s"$lang:$id") % 5 == 0
    }.keySet
    val got = TextOps.langId(docs).select(col("doc_id"), col("pred_lang"))
      .where(GraphOps.md5Prio(
        concat_ws(":", col("pred_lang"), col("doc_id"))) % 5 === 0)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }
}
