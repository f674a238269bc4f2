package graft

import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, LabelPropagation, TriangleCount}
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
    assert(GraphOps.symmetrize(d).count() > 2L * clean.size) // self-loops
    assertCompiles("graft.graph.EdgeSet.canonical(spark.emptyDataFrame)")
    assertDoesNotCompile(
      "new graft.graph.EdgeSet.Canonical(spark.emptyDataFrame)")
    assertDoesNotCompile(
      "new graft.graph.EdgeSet.Symmetric(spark.emptyDataFrame)")
  }
}
