package graft

import org.apache.spark.graftbridge.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.algos._
import graft.engine.SuperstepConfig
import graft.graph.{EdgeSet, GraphOps, TestGraphs}

/** [[EdgeSet]]: what the trusted derivation promises, what the public
  * constructors do with a dirty frame, and where the trust boundary is.
  */
class EdgeSetSpec extends SparkSpec {

  test("trusted co-purchase Canonical: unique src < dst pairs, also filtered") {
    withLineitem { dir =>
      val full = TestGraphs.copurchaseEdges(spark, dir)
      val sizes = for (c <- Seq(full, full.where(col("weight") >= 2))) yield {
        val r = c.frame.agg(count(lit(1)),
          count_distinct(col("src"), col("dst")),
          min(col("dst") - col("src"))).head()
        assert(r.getLong(0) == r.getLong(1), "duplicate (src, dst) pairs")
        assert(r.getLong(2) > 0, "a pair with src >= dst")
        r.getLong(0)
      }
      assert(sizes(0) > sizes(1) && sizes(1) > 0)
    }
  }

  /** A random canonical set, and the same edges made dirty: every edge
    * twice, half of them reversed as well, and a self-loop on every
    * fifth vertex.
    */
  private val clean = Oracles.randomGraph(505, 40, 150)
    .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
  private val verts = clean.flatMap { case (a, b) => Seq(a, b) }.distinct
  private val dirty = clean ++ clean ++
    clean.zipWithIndex.collect { case ((a, b), i) if i % 2 == 0 => (b, a) } ++
    verts.filter(_ % 5 == 0).map(v => (v, v))

  test("public constructors on a dirty frame ≡ the clean set") {
    val s = spark
    val e = edgesDf(clean)
    val d = edgesDf(dirty)
    val shaped = Seq(EdgeSet.canonical(d), EdgeSet.symmetric(d))
    def one(df: org.apache.spark.sql.DataFrame) = df.head().getLong(0)

    val tri = Oracles.bruteTriangles(verts, clean)
    assert(one(TriangleCount.count(e)) == tri)
    assert(one(TriangleCount.count(EdgeSet.canonical(d))) == tri)
    assert(one(TriangleCount.fourCliques(EdgeSet.canonical(d))) ==
      one(TriangleCount.fourCliques(e)))
    assert(collectL(TriangleCount.perVertex(EdgeSet.canonical(d)),
      "id", "tri_cnt") == collectL(TriangleCount.perVertex(e), "id", "tri_cnt"))
    def lcc(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(lcc(TriangleCount.localClustering(EdgeSet.canonical(d))) ==
      lcc(TriangleCount.localClustering(e)))

    val cfg = SuperstepConfig(numPartitions = 4)
    val uf = Oracles.unionFind(verts, clean)
    for (x <- shaped)
      assert(collectL(ConnectedComponents.run(s, x, cfg).state,
        "id", "component") == uf)

    val und = clean.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val lp = Oracles.bruteLp(verts, und, 4)
    assert(collectL(LabelPropagation.fixedRounds(EdgeSet.symmetric(d), 4),
      "id", "label") == lp)
    assert(collectL(LabelPropagation.fixedRounds(edgesDf(und), 4),
      "id", "label") == lp)
  }

  test("the public constructors dedup; the trusted ones are package-private") {
    val d = edgesDf(dirty)
    val c = EdgeSet.canonical(d).frame
    assert(c.count() == clean.size)
    assert(c.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      clean.toSet)
    val sym = EdgeSet.symmetric(d).frame
    assert(sym.count() == 2L * clean.size)
    assert(EdgeSet.canonical(d).symmetric.frame.count() == 2L * clean.size)
    assertCompiles("graft.graph.EdgeSet.canonical(spark.emptyDataFrame)")
    assertDoesNotCompile(
      "new graft.graph.EdgeSet.Canonical(spark.emptyDataFrame)")
    assertDoesNotCompile(
      "new graft.graph.EdgeSet.Symmetric(spark.emptyDataFrame)")
  }

  private val cfg = SuperstepConfig(numPartitions = 4)

  /** A result as the sorted strings of its rows (a multiset compare). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every kernel that reads a view of its [[EdgeSet]], as one result. */
  private lazy val kernels: Seq[(String, EdgeSet => DataFrame)] = {
    val labels = spark.createDataFrame(verts.map(v => (v, v % 3)))
      .toDF("id", "label")
    Seq(
      "KCore.peel" -> (KCore.peel(_, 3, 4)),
      "KCore.converged" -> (KCore.converged(_, 3)._1),
      "KCore.coreness" -> (KCore.coreness(_)._1),
      "Truss.converged" -> (Truss.converged(_, 3)._1),
      "Truss.edgeSupport" -> (Truss.edgeSupport(_)),
      "Matching.run" -> (Matching.run(spark, _)._1),
      "Matching.runB" -> (Matching.runB(spark, _, 2)._1),
      "Coloring" -> (Coloring.runWithRounds(spark, _)._1),
      "Mis.run" -> (Mis.run(spark, _)._1),
      "LinkPrediction.scores" -> (LinkPrediction.scores(_)),
      "LinkPrediction.negativeSample" -> (LinkPrediction.negativeSample(_)),
      "TriangleCount.rectangles" -> (TriangleCount.rectangles(_)),
      "GraphOps.knnDegree" -> (GraphOps.knnDegree(_)),
      "GraphOps.twoHopReach" -> (GraphOps.twoHopReach(_)),
      "GraphOps.neighborJaccard" -> (GraphOps.neighborJaccard(_, 0.2)),
      "GraphOps.neighborOverlap" -> (GraphOps.neighborOverlap(_, 300000L)),
      "GraphOps.profile" -> (GraphOps.profile(_)),
      "GraphOps.richClub" -> (GraphOps.richClub(_, Seq(2, 4, 8))),
      "Densest.peelProfile" -> (Densest.peelProfile(spark, _)),
      "Community.modularity" -> (Community.modularity(_, labels)),
      "Paths.oddCycleProfile" -> (Paths.oddCycleProfile(_, 4)),
      "ConnectedComponents.run" ->
        (ConnectedComponents.run(spark, _, cfg).state),
      "ConnectedComponents.hubAttackCensus" ->
        (ConnectedComponents.hubAttackCensus(spark, _, 3, cfg)))
  }

  test("view-reading kernels: dirty Unknown ≡ Canonical ≡ its Symmetric") {
    val canon = EdgeSet.canonical(edgesDf(clean)).cut
    val inputs = Seq[(String, EdgeSet)]("Unknown" -> edgesDf(dirty),
      "Canonical" -> canon, "Symmetric" -> canon.symmetric)
    for ((name, kernel) <- kernels) {
      val want = rows(kernel(canon))
      assert(want.nonEmpty, s"$name: empty result")
      for ((shape, in) <- inputs)
        assert(rows(kernel(in)) === want, s"$name on $shape")
    }
  }

  /** The optimized plans of every query `body` executes, eager cuts
    * included. */
  private def executedPlans(body: => Unit): Seq[LogicalPlan] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; Bus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq)
  }

  /** Aggregates that only dedup (src, dst): grouped on both, no
    * aggregate function. */
  private def pairDedups(plans: Seq[LogicalPlan]): Seq[Aggregate] =
    plans.flatMap(_.collect {
      case a: Aggregate
          if a.groupingExpressions.collect { case n: NamedExpression =>
            n.name }.toSet == Set("src", "dst") &&
            a.aggregateExpressions.forall(_.isInstanceOf[Attribute]) => a
    })

  test("plan pin: a Canonical input plans no (src, dst) dedup") {
    val canon = EdgeSet.canonical(edgesDf(clean)).cut
    val runs = Seq[(String, EdgeSet => Unit)](
      "KCore.converged" -> (e => KCore.converged(e, 3)._1.collect()),
      "Coloring" -> (e => Coloring.runWithRounds(spark, e)._1.collect()))
    for ((name, run) <- runs) {
      val dirtyPlans = executedPlans(run(edgesDf(dirty)))
      assert(pairDedups(dirtyPlans).nonEmpty,
        s"$name: the Unknown input's dedup was not seen")
      val plans = executedPlans(run(canon))
      assert(plans.nonEmpty)
      assert(pairDedups(plans).isEmpty, s"$name dedups a Canonical input")
    }
  }

  test("one self-loop rule: a self-loop changes no undirected result") {
    val loops = verts.map(v => (v, v)) :+ ((1000L, 1000L))
    val plain = edgesDf(clean)
    val looped = edgesDf(clean ++ loops)
    assert(collectL(ConnectedComponents.run(spark, looped, cfg).state,
      "id", "component") ===
      collectL(ConnectedComponents.run(spark, plain, cfg).state,
        "id", "component"))
    assert(rows(KCore.converged(looped, 3)._1) ===
      rows(KCore.converged(plain, 3)._1))
  }
}
