package graft

import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, LabelPropagation, Paths, TriangleCount}
import graft.engine.SuperstepConfig
import graft.functions.Quantiles

/** Round-5 wave-6 operators: truncated closeness, seeded (semi-supervised)
  * LP, incremental CC via component-graph contraction, exact discrete
  * quantiles, directed triangle census. Golden hand-checked values plus
  * brute-force cross-checks (SURVEY §5.2).
  */
class Wave6Spec extends SparkSpec {

  private val cfg = SuperstepConfig(numPartitions = 4)

  // ---- truncated closeness ------------------------------------------------

  /** Brute multi-root BFS: (reached, sum_dist) per vertex over the
    * numRoots smallest ids within k hops, self excluded (dist > 0).
    */
  private def bruteCloseness(pairs: Seq[(Long, Long)], numRoots: Int,
                             k: Int): Map[Long, (Long, Long)] = {
    val nbr = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vs = nbr.keys.toSeq.sorted
    val roots = vs.take(numRoots)
    def bfs(r: Long): Map[Long, Int] = {
      var dist = Map(r -> 0)
      var frontier = Set(r)
      for (d <- 1 to k) {
        frontier = frontier.flatMap(nbr.getOrElse(_, Set.empty[Long]))
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      dist
    }
    val all = roots.flatMap(r => bfs(r).toSeq.map { case (v, d) => v -> d })
    vs.map { v =>
      val ds = all.collect { case (`v`, d) if d > 0 => d.toLong }
      v -> (ds.size.toLong, ds.sum)
    }.toMap
  }

  test("closenessFixedRounds ≡ brute multi-root BFS on a random graph") {
    val pairs = Oracles.randomGraph(seed = 61, n = 40, m = 80)
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val got = Paths.closenessFixedRounds(edgesDf(und), 8, 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == bruteCloseness(pairs, 8, 4))
    assert(got.values.exists(_._1 > 0))
  }

  test("closeness on a path: distances sum exactly, truncation at k") {
    // path 0-1-2-3-4-5 with roots {0, 1}: vertex 5 sees root 1 at 4 hops
    // and root 0 at 5 > k=4 hops — truncation must drop it
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = Paths.closenessFixedRounds(edgesDf(e), 2, 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(5L) == (1L, 4L))   // only root 1 within 4 hops
    assert(got(2L) == (2L, 3L))   // dist 2 + dist 1
    assert(got(0L) == (1L, 1L))   // sees root 1, not itself
  }

  // ---- seeded label propagation ------------------------------------------

  /** Brute synchronous seeded LP with the pinned tie-break (mode of
    * LABELED in-neighbor labels, ties → smallest; seeds immutable).
    */
  private def bruteSeededLp(pairs: Seq[(Long, Long)], k: Int,
                            seedMod: Long): Map[Long, Long] = {
    val in = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val vs = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var lab: Map[Long, Option[Long]] =
      vs.map(v => v -> (if (v % seedMod == 0) Some(v) else None)).toMap
    for (_ <- 1 to k) {
      lab = vs.map { v =>
        if (v % seedMod == 0) v -> Some(v)
        else {
          val votes = in.getOrElse(v, Seq.empty).flatMap(lab(_))
          if (votes.isEmpty) v -> lab(v)
          else {
            val counts = votes.groupBy(identity).view.mapValues(_.size)
            val best = counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
            v -> Some(best)
          }
        }
      }.toMap
    }
    vs.map(v => v -> lab(v).getOrElse(-1L)).toMap
  }

  test("seededFixedRounds ≡ brute seeded LP on a random graph") {
    val pairs = Oracles.randomGraph(seed = 67, n = 50, m = 100)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = collectL(
      LabelPropagation.seededFixedRounds(edgesDf(und), 5, 10L),
      "id", "label")
    assert(got == bruteSeededLp(pairs, 5, 10L))
    assert(got.exists(_._2 == -1L) || got.values.forall(_ >= 0))
  }

  test("seeded LP: seeds immutable, spread bounded by k hops") {
    // path 0-1-2-3-4-5-6, seed 0 only (mod 10): after 2 rounds labels
    // reach exactly distance 2; beyond stays -1
    val e = (0L to 5L).map(i => (i, i + 1))
    val und = e.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = collectL(
      LabelPropagation.seededFixedRounds(edgesDf(und), 2, 10L),
      "id", "label")
    assert(got(0L) == 0L && got(1L) == 0L && got(2L) == 0L)
    assert(got(3L) == -1L && got(6L) == -1L)
  }

  // ---- incremental CC -----------------------------------------------------

  test("incremental CC ≡ from-scratch union-find on the union graph") {
    val all = Oracles.randomGraph(seed = 71, n = 60, m = 90)
    val (base, delta) = all.partition { case (a, b) => (a + b) % 3 != 0 }
    assume(base.nonEmpty && delta.nonEmpty)
    val baseLabels = ConnectedComponents.run(spark, edgesDf(base), cfg).state
    val got = collectL(
      ConnectedComponents.incremental(baseLabels, edgesDf(delta)),
      "id", "component")
    val vs = all.flatMap(p => Seq(p._1, p._2)).distinct
    assert(got == Oracles.unionFind(vs, all))
  }

  test("incremental CC: merge across prior components + brand-new vertices") {
    // base: {0,1} and {5,6} as two components; delta bridges them through
    // a brand-new vertex 100 and adds an isolated new pair {200, 201}
    val base = Seq((0L, 1L), (5L, 6L))
    val delta = Seq((1L, 100L), (100L, 5L), (200L, 201L))
    val baseLabels = ConnectedComponents.run(spark, edgesDf(base), cfg).state
    val got = collectL(
      ConnectedComponents.incremental(baseLabels, edgesDf(delta)),
      "id", "component")
    assert(Seq(0L, 1L, 5L, 6L, 100L).forall(got(_) == 0L))
    assert(got(200L) == 200L && got(201L) == 200L)
  }

  // ---- discrete quantiles -------------------------------------------------

  /** Brute percentile_disc: smallest v with ≥ ceil(pct·n/100) values ≤ v. */
  private def bruteQuantiles(values: Seq[Long],
                             percents: Seq[Int]): Map[Long, Long] = {
    val sorted = values.sorted
    val n = sorted.size.toLong
    percents.map { p =>
      val target = ((n * p + 99) / 100).toInt
      p.toLong -> sorted(math.max(target, 1) - 1)
    }.toMap
  }

  test("Quantiles.discrete ≡ brute percentile_disc incl. ties and skew") {
    val s = spark; import s.implicits._
    val values = Seq.fill(50)(3L) ++ (1L to 30L) ++ Seq.fill(5)(100L)
    val df = values.toDF("v")
    val got = Quantiles.discrete(df, "v", Seq(1, 25, 50, 75, 90, 99, 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == bruteQuantiles(values, Seq(1, 25, 50, 75, 90, 99, 100)))
    assert(got(100L) == 100L)
  }

  test("Quantiles.discrete on a single row") {
    val s = spark; import s.implicits._
    val got = Quantiles.discrete(Seq(7L).toDF("v"), "v", Seq(50, 99))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(50L -> 7L, 99L -> 7L))
  }

  // ---- directed triangle census ------------------------------------------

  /** Brute census over a simple digraph edge set. */
  private def bruteCensus(edges: Set[(Long, Long)]): (Long, Long) = {
    val wedges = for {
      (a, b) <- edges.toSeq; (b2, c) <- edges.toSeq if b2 == b
    } yield (a, b, c)
    val cyc = wedges.count { case (a, _, c) => edges.contains((c, a)) }
    val tr = wedges.count { case (a, _, c) => edges.contains((a, c)) }
    (cyc / 3L, tr.toLong)
  }

  test("directedCensus golden: one cycle, one transitive, reciprocal noise") {
    // cycle 1→2→3→1; transitive 4→5→6 with 4→6; reciprocal pair 7↔8
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (4L, 6L), (7L, 8L), (8L, 7L))
    val r = TriangleCount.directedCensus(edgesDf(e)).head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
  }

  test("directedCensus ≡ brute on a random digraph") {
    val e = Oracles.randomGraph(seed = 73, n = 25, m = 140).toSet
    val r = TriangleCount.directedCensus(edgesDf(e.toSeq)).head()
    val (cyc, tr) = bruteCensus(e)
    assert((r.getLong(0), r.getLong(1)) == (cyc, tr))
    assert(cyc + tr > 0)
  }
}
