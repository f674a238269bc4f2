package graft

import org.apache.spark.sql.functions._

import graft.graph.EdgeSet

/** Round-5 wave-37: link-prediction AUC counts (RA of explicit pair
  * sets + histogram concordance). The end-to-end query is gated by the
  * DuckDB oracle; this spec pins the two building blocks against brute
  * references on a random graph.
  */
class Wave37Spec extends SparkSpec {

  test("pair-set RA + histogram concordance ≡ brute pairwise AUC counts") {
    // planted K10 + sparse noise: RA has real signal here (a pure
    // Erdős–Rényi graph's own edges carry none — measured, the first cut
    // of the coin-flip sanity below failed on ER)
    val clique = for { a <- 0L until 10L; b <- (a + 1) until 10L } yield (a, b)
    val canon = (clique ++ Oracles.randomGraph(5003, 40, 60)
        .map { case (a, b) => (a + 10L, b + 10L) })
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(t => t._1 != t._2).distinct
    val adj = scala.collection.mutable
      .Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    canon.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    def raOf(u: Long, v: Long): Long =
      (adj(u) intersect adj(v)).toSeq.map(w => 1000000L / adj(w).size).sum
    val ids = adj.keys.toSeq.sorted
    val rnd = new scala.util.Random(5101)
    val edgeSet = canon.toSet
    val negPairs = (0 until 200).map { _ =>
      val a = ids(rnd.nextInt(ids.size)); val b = ids(rnd.nextInt(ids.size))
      (math.min(a, b), math.max(a, b))
    }.filter(t => t._1 != t._2 && !edgeSet(t)).distinct
    val posScores = canon.map { case (u, v) => raOf(u, v) }
    val negScores = negPairs.map { case (u, v) => raOf(u, v) }
    val wantConc = (for (p <- posScores; n <- negScores if p > n) yield 1).size.toLong
    val wantTied = (for (p <- posScores; n <- negScores if p == n) yield 1).size.toLong
    // the query's machinery
    val und2 = EdgeSet.symmetric(edgesDf(canon)).frame.localCheckpoint(true)
    val deg = und2.groupBy(col("src").as("w")).agg(count(lit(1)).as("degw"))
    def ra(p: org.apache.spark.sql.DataFrame) = {
      val cnw = p.join(und2.toDF("u", "w"), "u")
        .join(und2.toDF("v", "w"), Seq("v", "w"))
        .join(deg, "w")
        .groupBy("u", "v").agg(sum(expr("1000000L div degw")).as("ra"))
      p.join(cnw, Seq("u", "v"), "left")
        .select(coalesce(col("ra"), lit(0L)).as("ra"))
    }
    val s = spark
    import s.implicits._
    val rp = ra(canon.toDF("u", "v")).groupBy("ra")
      .agg(count(lit(1)).as("cp")).toDF("rp", "cp").localCheckpoint(true)
    val rn = ra(negPairs.toDF("u", "v")).groupBy("ra")
      .agg(count(lit(1)).as("cn2")).toDF("rn", "cn2").localCheckpoint(true)
    val conc = rp.join(rn, col("rp") > col("rn"))
      .agg(coalesce(sum(col("cp") * col("cn2")), lit(0L))).head().getLong(0)
    val tied = rp.join(rn, col("rp") === col("rn"))
      .agg(coalesce(sum(col("cp") * col("cn2")), lit(0L))).head().getLong(0)
    assert((conc, tied) == ((wantConc, wantTied)))
    val nPos = rp.agg(sum("cp")).head().getLong(0)
    val nNeg = rn.agg(sum("cn2")).head().getLong(0)
    assert((nPos, nNeg) == ((posScores.size.toLong, negScores.size.toLong)))
    // a sane predictor ranks true edges above random non-edges on average
    assert(2 * wantConc + wantTied > nPos * nNeg,
      "RA must beat coin-flip on a random graph's own edges")
  }
}
