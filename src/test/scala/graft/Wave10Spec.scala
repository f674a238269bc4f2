package graft

import org.apache.spark.sql.functions._

import graft.algos.{Scc, Truss}
import graft.streaming.EdgeStream
import graft.text.TextOps

/** Round-5 wave-10 operators: per-edge triangle support, SCC condensation
  * DAG, within-doc repetition ratio, streaming top-k heavy hitters.
  */
class Wave10Spec extends SparkSpec {

  // ---- per-edge triangle support --------------------------------------------

  private def bruteSupport(pairs: Seq[(Long, Long)])
  : Map[(Long, Long), Long] = {
    val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val nbr = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    canon.map { case (a, b) => (a, b) -> (nbr(a) & nbr(b)).size.toLong }.toMap
  }

  test("edgeSupport ≡ brute common-neighbor counts incl. zero-support") {
    val pairs = Oracles.randomGraph(seed = 31, n = 25, m = 60)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val got = Truss.edgeSupport(edgesDf(pairs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = bruteSupport(pairs)
    assert(got == want)
    assert(want.values.exists(_ == 0L)) // the zero-support path is real
  }

  // ---- SCC condensation -------------------------------------------------------

  test("condensation ≡ brute labels, is acyclic, counts crossing edges") {
    // two 3-cycles bridged by two parallel-ish edges plus a tail
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (0L, 3L), (2L, 4L), (5L, 6L))
    val vs = e.flatMap(p => Seq(p._1, p._2)).distinct
    val lab = Oracles.bruteScc(vs, e)
    val want = e.map { case (s, d) => (lab(s), lab(d)) }
      .filter { case (a, b) => a != b }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Scc.condensation(spark, edgesDf(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.contains((0L, 3L)) && got((0L, 3L)) == 2L)
    // acyclic: no pair appears in both directions
    assert(!got.keys.exists { case (a, b) => got.contains((b, a)) })
  }

  // ---- within-doc repetition ratio ---------------------------------------------

  private def bruteRep(docs: Seq[(Long, String)], n: Int)
  : Map[Long, (Long, Long, Long)] =
    docs.flatMap { case (id, t) =>
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val total = toks.length - n + 1
      if (total <= 0) None
      else {
        val distinct = toks.sliding(n).map(_.mkString(" ")).toSet.size
        Some(id -> ((total.toLong, distinct.toLong,
          (total - distinct).toLong * 1000000L / total)))
      }
    }.toMap

  test("repetition ≡ brute sliding-window ratio; short docs absent") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      0L -> "spam spam spam spam spam spam spam spam",   // max repetition
      1L -> "a b c d e f g h i j",                       // all distinct
      2L -> "x y z x y z x y z x y",                     // periodic
      3L -> "one two three four")                        // < 5 tokens
    val got = TextOps.repetition(docs.toDF("doc_id", "text"), 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == bruteRep(docs, 5))
    assert(!got.contains(3L))
    assert(got(0L)._3 > got(1L)._3)   // spam scores higher than prose
    assert(got(1L)._3 == 0L)
  }

  // ---- streaming top-k heavy hitters ----------------------------------------

  test("topKCountsViaStream final batch ≡ batch top-k incl. tie order") {
    val rnd = new scala.util.Random(41)
    // skewed multigraph with deliberate count ties
    val pairs = Seq.tabulate(120)(i =>
      (rnd.nextInt(30).toLong, (rnd.nextInt(10) * rnd.nextInt(3)).toLong))
    val e = edgesDf(pairs)
    val got = EdgeStream.topKCountsViaStream(e, 5, splits = 4)
      .orderBy(col("cnt").desc, col("id").asc).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      .map { case (id, cnt) => (id, cnt) }
      .sortBy { case (id, cnt) => (-cnt, id) }.take(5)
    assert(got == want)
  }
}
