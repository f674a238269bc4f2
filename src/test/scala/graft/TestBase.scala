package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one JVM for the whole forked test run). */
object TestSpark {
  lazy val spark: SparkSession =
    graft.util.Sessions.local(4, "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark

  /** Edge DataFrame from (src, dst) pairs. */
  def edgesDf(pairs: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("src", "dst")
  }

  def edgesWDf(triples: Seq[(Long, Long, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    triples.toDF("src", "dst", "weight")
  }

  /** Collect (id, value[Double]) results into a map. */
  def collectD(df: DataFrame, id: String, v: String): Map[Long, Double] =
    df.select(id, v).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def collectL(df: DataFrame, id: String, v: String): Map[Long, Long] =
    df.select(id, v).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body` on a dir holding a small `lineitem.parquet` (l_orderkey,
    * l_partkey) for the co-purchase derivation: every order lists one part
    * twice and one part of its own, and many orders share part pairs.
    */
  def withLineitem[T](body: String => T): T =
    graft.util.TempDir.withTempDir("graft-lineitem") { dir =>
      val s = spark
      import s.implicits._
      (0L until 120L).flatMap { o =>
        Seq(o % 7, (o + 1) % 7, (o + 1) % 7, 3L, 100L + o).map(p => (o, p))
      }.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
      body(dir.toString)
    }
}

/** Independent in-test oracles (SURVEY.md §5.2): plain-Scala implementations
  * with the pinned semantics of §5.3, no Spark involved.
  */
object Oracles {

  /** Dense PageRank with the engine's exact semantics: r0 = 1, r' = 0.15 +
    * 0.85·Σ in r/outdeg, stop when L∞ residual < tol (or after `iters` if
    * tol is NaN). Returns ranks for vertices 0..n-1.
    */
  def densePageRank(n: Int, edges: Seq[(Long, Long)], tol: Double,
                    iters: Int = 1000): Array[Double] = {
    val out = Array.fill(n)(0)
    edges.foreach { case (s, _) => out(s.toInt) += 1 }
    var r = Array.fill(n)(1.0)
    var it = 0
    var residual = Double.MaxValue
    while (it < iters && !(residual < tol)) {
      val mass = Array.fill(n)(0.0)
      edges.foreach { case (s, d) =>
        mass(d.toInt) += r(s.toInt) / out(s.toInt)
      }
      val r2 = Array.tabulate(n)(i => 0.15 + 0.85 * mass(i))
      residual = r.zip(r2).map { case (a, b) => math.abs(a - b) }.max
      r = r2
      it += 1
    }
    r
  }

  /** Textbook sequential Brandes (unweighted, directed): exact betweenness
    * from the given source set; sources = all vertices gives the exact
    * centrality. Independent of the DataFrame implementation.
    */
  def bruteBetweenness(n: Int, edges: Seq[(Long, Long)],
                       sources: Seq[Long]): Array[Double] = {
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (s, d) => adj(s.toInt) ::= d.toInt }
    val btw = Array.fill(n)(0.0)
    for (s <- sources.map(_.toInt)) {
      val dist = Array.fill(n)(-1)
      val sigma = Array.fill(n)(0.0)
      val preds = Array.fill(n)(List.empty[Int])
      var stack = List.empty[Int]
      dist(s) = 0; sigma(s) = 1.0
      var q = scala.collection.immutable.Queue(s)
      while (q.nonEmpty) {
        val (v, q2) = q.dequeue; q = q2; stack ::= v
        for (w <- adj(v)) {
          if (dist(w) < 0) { dist(w) = dist(v) + 1; q = q.enqueue(w) }
          if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) ::= v }
        }
      }
      val delta = Array.fill(n)(0.0)
      for (w <- stack) {
        for (v <- preds(w)) delta(v) += sigma(v) / sigma(w) * (1 + delta(w))
        if (w != s) btw(w) += delta(w)
      }
    }
    btw
  }

  /** Union-find connected components over the symmetrized graph; label =
    * min vertex id in component.
    */
  def unionFind(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  /** Brute-force synchronous LP with the pinned tie-break (mode of
    * in-neighbor labels, ties → smallest label, no in-neighbors → keep).
    */
  def bruteLp(vertices: Seq[Long], edges: Seq[(Long, Long)],
              rounds: Int): Map[Long, Long] = {
    var lab = vertices.map(v => v -> v).toMap
    val inN = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    for (_ <- 1 to rounds) {
      lab = vertices.map { v =>
        inN.get(v) match {
          case None => v -> lab(v)
          case Some(ns) =>
            val counts = ns.groupBy(lab).view.mapValues(_.size).toSeq
            val best = counts.minBy { case (l, c) => (-c, l) }._1
            v -> best
        }
      }.toMap
    }
    lab
  }

  /** Brute-force triangle count on the simple undirected graph. */
  def bruteTriangles(vertices: Seq[Long], edges: Seq[(Long, Long)]): Long = {
    val es = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((math.min(a, b), math.max(a, b)))
    }.toSet
    val vs = vertices.sorted
    var cnt = 0L
    for {
      i <- vs.indices; j <- (i + 1) until vs.size
      if es((vs(i), vs(j)))
      k <- (j + 1) until vs.size
      if es((vs(j), vs(k))) && es((vs(i), vs(k)))
    } cnt += 1
    cnt
  }

  /** k-core by iterative peeling to fixpoint: survivors with their in-core
    * degree on the symmetrized simple graph.
    */
  def bruteKCore(vertices: Seq[Long], edges: Seq[(Long, Long)],
                 k: Int): Map[Long, Long] = {
    var und = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a, b), (b, a))
    }.distinct
    var changed = true
    while (changed) {
      val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != und.size
      und = next
    }
    und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
  }

  /** k rounds of Bellman-Ford (min distance over paths of ≤ k edges). */
  def bellmanFord(vertices: Seq[Long], edges: Seq[(Long, Long, Double)],
                  src: Long, rounds: Int): Map[Long, Double] = {
    var dist = vertices.map(v =>
      v -> (if (v == src) 0.0 else Double.PositiveInfinity)).toMap
    for (_ <- 1 to rounds) {
      val relaxed = edges.flatMap { case (s, d, w) =>
        if (dist(s).isInfinity) Nil else Seq(d -> (dist(s) + w))
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      dist = dist.map { case (v, dv) =>
        v -> math.min(dv, relaxed.getOrElse(v, Double.PositiveInfinity))
      }
    }
    dist
  }

  /** SCC by definition (mutual reachability, per-vertex DFS — O(n·m),
    * algorithm-independent of the engine's FW-BW coloring): scc(v) = min id
    * mutually reachable with v.
    */
  def bruteScc(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def reach(s: Long): Set[Long] = {
      var seen = Set(s)
      var stack = List(s)
      while (stack.nonEmpty) {
        val v = stack.head; stack = stack.tail
        for (w <- adj.getOrElse(v, Nil) if !seen(w)) {
          seen += w; stack ::= w
        }
      }
      seen
    }
    val r = vertices.map(v => v -> reach(v)).toMap
    vertices.map(v => v -> vertices.filter(u => r(v)(u) && r(u)(v)).min).toMap
  }

  /** k-truss by iterative support peeling to fixpoint on the simple
    * undirected graph; returns surviving (min,max) edges with their final
    * in-truss support.
    */
  def bruteTruss(edges: Seq[(Long, Long)],
                 k: Int): Map[(Long, Long), Long] = {
    def support(e: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val nbrs = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      e.toSeq.map { case (a, b) =>
        (a, b) -> (nbrs(a) & nbrs(b)).size.toLong
      }.toMap
    }
    var es = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((math.min(a, b), math.max(a, b)))
    }.distinct.toSet
    var changed = true
    while (changed) {
      val supp = support(es)
      val next = es.filter(p => supp(p) >= k - 2)
      changed = next.size != es.size
      es = next
    }
    if (es.isEmpty) Map.empty else support(es)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Sequential Lloyd with graft.ann.KMeans' exact semantics: lattice
    * quantization, md5-prio seeds, packed argmin, floored-mean updates,
    * empty-cluster coalesce. Returns vec_id -> (cluster, dist2).
    */
  def bruteKMeans(vecs: Seq[(Long, Array[Float])], k: Int, iters: Int,
                  scale: Long, offset: Long): Map[Long, (Long, Long)] = {
    val quant: Map[Long, Array[Long]] = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale).toLong + offset)
    }.toMap
    val seeds = vecs.map(_._1)
      .sortBy(id => (md5Prio(id.toString), id)).take(k)
    var cent: Map[Long, Array[Long]] =
      seeds.zipWithIndex.map { case (id, c) => c.toLong -> quant(id) }.toMap
    def d2(q: Array[Long], m: Array[Long]): Long =
      q.indices.map(i => (q(i) - m(i)) * (q(i) - m(i))).sum
    var asg: Map[Long, (Long, Long)] = Map.empty
    for (i <- 1 to iters) {
      asg = quant.map { case (id, q) =>
        val p = cent.map { case (c, m) => d2(q, m) * 16L + c }.min
        id -> ((p % 16, p / 16))
      }
      if (i < iters) {
        val members = quant.keys.toSeq.groupBy(id => asg(id)._1)
        cent = cent.map { case (c, old) =>
          members.get(c) match {
            case Some(ids) =>
              c -> old.indices
                .map(d => ids.map(quant(_)(d)).sum / ids.size).toArray
            case None => c -> old
          }
        }
      }
    }
    asg
  }

  /** The engine's 60-bit md5-prefix BIGINT priority (GraphOps.md5Prio). */
  def md5Prio(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)

  /** Sequential Luby MIS with the engine's md5-prefix priorities (same
    * rounds, same winners — exact-equality reference for
    * [[graft.algos.Mis]]).
    */
  def bruteMis(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val p = vertices.map(v => v -> md5Prio(v.toString)).toMap
    val und = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a, b), (b, a))
    }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var active = vertices.toSet
    var in = Set.empty[Long]
    while (active.nonEmpty) {
      val winners = active.filter(v =>
        adj.getOrElse(v, Set.empty).intersect(active)
          .forall(u => p(v) > p(u)))
      val out = winners.flatMap(w => adj.getOrElse(w, Set.empty))
        .intersect(active)
      in ++= winners
      active = active -- winners -- out
    }
    vertices.map(v => v -> (if (in(v)) 1L else 0L)).toMap
  }

  /** Sequential greedy maximal matching with the engine's md5-prefix edge
    * priorities (locally-max edges win each round) — exact-equality
    * reference for [[graft.algos.Matching]].
    */
  def bruteMatching(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    var act = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((math.min(a, b), math.max(a, b)))
    }.distinct.map(e => e -> md5Prio(s"${e._1}:${e._2}")).toMap
    var res = Set.empty[(Long, Long)]
    while (act.nonEmpty) {
      val byV = scala.collection.mutable.Map.empty[Long, Long]
      act.foreach { case ((a, b), p) =>
        for (v <- Seq(a, b)) if (byV.get(v).forall(_ < p)) byV(v) = p
      }
      val winners = act.filter { case ((a, b), p) =>
        byV(a) == p && byV(b) == p
      }.keySet
      val used = winners.flatMap(e => Seq(e._1, e._2))
      res ++= winners
      act = act.filter { case ((a, b), _) => !used(a) && !used(b) }
    }
    res
  }

  /** TRUE sequential greedy b-matching (edges in descending md5-prefix
    * priority, accept while both endpoints have remaining capacity) —
    * exact-equality reference for [[graft.algos.Matching.runB]].
    * Deliberately a different algorithm shape from the engine's
    * round-parallel rank rule.
    */
  def bruteBMatching(edges: Seq[(Long, Long)], b: Int): Set[(Long, Long)] = {
    val canon = edges.flatMap { case (a, z) =>
      if (a == z) Nil else Seq((math.min(a, z), math.max(a, z)))
    }.distinct
    val cap = scala.collection.mutable.Map.empty[Long, Int]
      .withDefaultValue(b)
    var res = Set.empty[(Long, Long)]
    for (e <- canon.sortBy(x => -md5Prio(s"${x._1}:${x._2}"))) {
      if (cap(e._1) > 0 && cap(e._2) > 0) {
        res += e
        cap(e._1) -= 1
        cap(e._2) -= 1
      }
    }
    res
  }

  /** Sequential greedy MAX-WEIGHT matching with the engine's packed
    * (weight << 40 | md5-prefix) priorities — exact-equality reference for
    * [[graft.algos.Matching.runWeighted]].
    */
  def bruteMatchingW(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    var act = edges.flatMap { case (a, b, w) =>
      if (a == b) Nil else Seq((math.min(a, b), math.max(a, b)) -> w)
    }.groupBy(_._1).map { case (e, ws) => e -> ws.map(_._2).max }
      .map { case ((a, b), w) =>
        (a, b, w) -> ((w << 40) +
          java.lang.Long.parseLong(md5hex(s"$a:$b").substring(0, 10), 16))
      }
    var res = Set.empty[(Long, Long, Long)]
    while (act.nonEmpty) {
      val byV = scala.collection.mutable.Map.empty[Long, Long]
      act.foreach { case ((a, b, _), p) =>
        for (v <- Seq(a, b)) if (byV.get(v).forall(_ < p)) byV(v) = p
      }
      val winners = act.filter { case ((a, b, _), p) =>
        byV(a) == p && byV(b) == p
      }.keySet
      val used = winners.flatMap(e => Seq(e._1, e._2))
      res ++= winners
      act = act.filter { case ((a, b, _), _) => !used(a) && !used(b) }
    }
    res
  }

  /** Sequential Kruskal MSF with the engine's packed
    * (weight << 40 | 40-bit md5-prefix) DISTINCT priorities — with unique
    * weights the MSF is unique, so this is an exact-equality reference for
    * [[graft.algos.Msf]] (a deliberately different algorithm: sorted
    * union-find vs round-parallel Borůvka).
    */
  def bruteKruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val canon = edges.flatMap { case (a, b, w) =>
      if (a == b) Nil else Seq((math.min(a, b), math.max(a, b)) -> w)
    }.groupBy(_._1).map { case ((a, b), ws) => (a, b, ws.map(_._2).min) }
      .toSeq
    def pri(e: (Long, Long, Long)): (Long, Long, Long) =
      ((e._3 << 40) +
        java.lang.Long.parseLong(md5hex(s"${e._1}:${e._2}").substring(0, 10), 16),
        e._1, e._2)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      r
    }
    var res = Set.empty[(Long, Long, Long)]
    for (e <- canon.sortBy(pri)) {
      val (ra, rb) = (find(e._1), find(e._2))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); res += e }
    }
    res
  }

  /** Sequential core decomposition (peel min-degree vertices, Batagelj–
    * Zaveršnik style) — independent reference for
    * [[graft.algos.KCore.coreness]].
    */
  def bruteCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    var und = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a, b), (b, a))
    }.distinct
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (und.nonEmpty) {
      k += 1
      var changed = true
      while (changed) {
        val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val next = und.filter { case (a, b) => keep(a) && keep(b) }
        changed = next.size != und.size
        und = next
      }
      und.map(_._1).distinct.foreach(v => core(v) = k)
    }
    core.toMap
  }

  /** Seeded random simple directed graph. */
  def randomGraph(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to m).map { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
    }.filter { case (a, b) => a != b }.distinct
  }
}
