package graft

import org.apache.spark.sql.functions._

import graft.algos.{Louvain, Sketches}

/** Round-5 wave-17 operators: ANF/HyperBall FM sketches, synchronous
  * level-1 Louvain, Heaps-law vocabulary growth.
  */
class Wave17Spec extends SparkSpec {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Seed bit for register j of vertex id — the same 60-bit md5-prefix
    * trailing-zeros rule as Sketches.anf / OracleSql anf4. */
  private def seedBit(j: Int, id: Long): Long = {
    val h = java.lang.Long.parseLong(md5Hex(s"$j:$id").substring(0, 15), 16)
    1L << math.min(java.lang.Long.numberOfTrailingZeros(h), 30)
  }

  private def bruteAnf(edges: Seq[(Long, Long)], rounds: Int,
                       regs: Int): Map[Long, Seq[Long]] = {
    val vs = edges.map(_._1).distinct
    var s = vs.map(v => v -> (0 until regs).map(j => seedBit(j, v))).toMap
    for (_ <- 1 to rounds) {
      val upd = edges.groupBy(_._2).map { case (d, es) =>
        d -> (0 until regs).map(j =>
          es.map(e => s(e._1)(j)).reduce(_ | _))
      }
      s = s.map { case (v, r) =>
        v -> upd.get(v).fold(r)(u => r.zip(u).map(p => p._1 | p._2))
      }
    }
    s
  }

  private def lowestZero(r: Long): Long =
    java.lang.Long.numberOfTrailingZeros(~r)

  test("anf ≡ brute FM OR-propagation on a random symmetrized graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(173)
    val base = (1 to 90).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).distinct
    val edges = (base ++ base.map(_.swap)).distinct
    val got = Sketches.anf(edges.toDF("src", "dst"), 4, 8).collect()
      .map(r => r.getLong(0) ->
        ((0 until 8).map(j => r.getLong(1 + j)), r.getLong(9))).toMap
    val want = bruteAnf(edges, 4, 8)
    assert(got.keySet == want.keySet)
    for ((v, regs) <- want) {
      assert(got(v)._1 == regs, s"vertex $v registers")
      assert(got(v)._2 == regs.map(lowestZero).sum, s"vertex $v lsb_sum")
    }
  }

  test("anf sketches grow along a path and saturate on a clique") {
    val s = spark
    import s.implicits._
    // 6-clique: after 1 round every vertex has the OR of all seeds
    val k6 = (for (a <- 0L to 5L; b <- 0L to 5L if a != b) yield (a, b))
    val out = Sketches.anf(k6.toDF("src", "dst"), 1, 8).collect()
      .map(r => (0 until 8).map(j => r.getLong(1 + j))).toSeq
    val all = (0 until 8).map(j => (0L to 5L).map(seedBit(j, _)).reduce(_ | _))
    assert(out.forall(_ == all))
  }

  /** Sequential reference for the synchronous integer-gain move round. */
  private def bruteLouvain(edges: Seq[(Long, Long, Long)],
                           rounds: Int): Map[Long, Long] = {
    val k = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val m2 = edges.map(_._3).sum
    var c: Map[Long, Long] = k.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val sig = c.groupBy(_._2).view.mapValues(_.keys.map(k).sum).toMap
      c = k.keys.map { i =>
        val kin = edges.filter(_._1 == i).groupBy(e => c(e._2))
          .view.mapValues(_.map(_._3).sum).toMap
        val cands = (kin.keySet + c(i)).toSeq
        val scored = cands.map { cm =>
          val stay = if (cm == c(i)) k(i) else 0L
          cm -> (m2 * kin.getOrElse(cm, 0L) - k(i) * (sig(cm) - stay))
        }
        val bg = scored.map(_._2).max
        i -> scored.filter(_._2 == bg).map(_._1).min
      }.toMap
    }
    c
  }

  test("louvain ≡ brute synchronous moves on a random weighted graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(191)
    val base = (1 to 80).map(_ => (rnd.nextInt(18).toLong,
        rnd.nextInt(18).toLong, (rnd.nextInt(4) + 1).toLong))
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map { case ((a, b), es) =>
        (a, b, es.map(_._3).sum) }.toSeq
    val sym = (base ++ base.map(e => (e._2, e._1, e._3)))
      .groupBy(e => (e._1, e._2)).map { case ((a, b), es) =>
        (a, b, es.map(_._3).sum) }.toSeq
    val got = Louvain.rounds(sym.toDF("src", "dst", "weight"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == bruteLouvain(sym, 3))
  }

  test("louvain merges two obvious cliques bridged by one weak edge") {
    val s = spark
    import s.implicits._
    def clique(ids: Seq[Long], w: Long) =
      for (a <- ids; b <- ids if a != b) yield (a, b, w)
    val sym = clique(Seq(0L, 1L, 2L, 3L), 5L) ++
      clique(Seq(10L, 11L, 12L, 13L), 5L) ++ Seq((3L, 10L, 1L), (10L, 3L, 1L))
    val got = Louvain.rounds(sym.toDF("src", "dst", "weight"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.filter(_._1 < 10).values.toSet.size == 1)
    assert(got.filter(_._1 >= 10).values.toSet.size == 1)
    assert(got(0L) != got(10L))
  }

  test("vocab_growth ≡ brute first-seen buckets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(211)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 130L).map { d =>
      (d, (1 to 8).map(_ => words(rnd.nextInt(10))).mkString(" ") +
        (if (d % 7 == 0) s" uniq$d" else ""))
    }
    val first = docs.flatMap { case (d, t) =>
      val ts = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      ts.sliding(3).filter(_.length == 3).map(_.mkString(" ") -> d)
    }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val perB = first.values.groupBy(_ / 5).view.mapValues(_.size.toLong)
    val buckets = perB.keys.toSeq.sorted
    val want = buckets.zip(buckets.map(b =>
      (perB(b), buckets.filter(_ <= b).map(perB).sum)))
    val out = {
      // the operator body applied to an in-memory docs frame
      import org.apache.spark.sql.expressions.Window
      val fs = graft.text.TextOps
        .shingleRows(docs.toDF("doc_id", "text"), 3)
        .groupBy("shingle").agg(min("doc_id").as("fd"))
      fs.groupBy(expr("fd div 5").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
        .select(col("bucket"), col("new_types"),
          sum("new_types").over(Window.orderBy("bucket"))
            .cast("long").as("cum_types"))
        .orderBy("bucket").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    }
    assert(out.toSeq == want.map { case (b, (n, c)) => (b, (n, c)) })
  }
}
