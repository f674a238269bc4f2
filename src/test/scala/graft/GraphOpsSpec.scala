package graft

import org.apache.spark.sql.functions._

import graft.graph.{EdgeSet, GraphOps}

class GraphOpsSpec extends SparkSpec {

  // star5: hub 0 ↔ leaves 1–4 (FIXTURES.md §C)
  private val star = Seq[(Long, Long)]((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))

  test("degrees: out/in on star graph") {
    val e = edgesDf(star)
    assert(collectL(GraphOps.outDegrees(e), "id", "outdeg") ===
      Map(0L -> 4L))
    assert(collectL(GraphOps.inDegrees(e), "id", "indeg") ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("classify: regular/source/sink/isolated with explicit universe") {
    val s = spark
    import s.implicits._
    val e = edgesDf(Seq((0L, 1L), (1L, 2L)))
    val universe = Seq(0L, 1L, 2L, 9L).toDF("id")
    val cls = GraphOps.classify(e, universe)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(cls === Map(0L -> "source", 1L -> "regular", 2L -> "sink",
      9L -> "isolated"))
  }

  test("symmetrize doubles directed edges and dedups") {
    val e = edgesDf(Seq((0L, 1L), (1L, 0L), (1L, 2L)))
    assert(EdgeSet.symmetric(e).frame.count() === 4) // (0,1),(1,0),(1,2),(2,1)
  }

  test("orient produces simple a<b edge set") {
    val e = edgesDf(Seq((2L, 1L), (1L, 2L), (3L, 3L), (1L, 4L)))
    val o = EdgeSet.canonical(e).frame.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(o === Set((1L, 2L), (1L, 4L)))
  }

  test("denseIds: 0..V-1, sort-ordered, deterministic across partitionings") {
    val s = spark
    import s.implicits._
    val keys = Seq("pear", "apple", "mango", "fig").toDF("key")
    val m1 = GraphOps.denseIds(keys, partitions = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val m2 = GraphOps.denseIds(keys.repartition(7), partitions = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m1 === Map("apple" -> 0L, "fig" -> 1L, "mango" -> 2L,
      "pear" -> 3L))
    assert(m1 === m2)
  }

  test("edgeBlocks pack full adjacency per src, sorted") {
    val e = edgesWDf(Seq((0L, 3L, 1.0), (0L, 1L, 2.0), (5L, 0L, 1.0)))
    val blocks = GraphOps.edgeBlocks(e, 4).collect()
    val b0 = blocks.find(_.src == 0L).get
    assert(b0.dsts.toSeq === Seq(1L, 3L))
    assert(b0.weights.toSeq === Seq(2.0, 1.0))
    assert(blocks.find(_.src == 5L).get.dsts.toSeq === Seq(0L))
  }

  test("readEdgeList parses src dst [w] text with comments and blanks") {
    graft.util.TempDir.withTempDir("graft-el") { dir =>
      java.nio.file.Files.writeString(dir.resolve("g.txt"),
        "# a comment\n0 1\n1 2 3.5\n\n2 0 1.25\n")
      val got = GraphOps.readEdgeList(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set((0L, 1L, 1.0), (1L, 2L, 3.5), (2L, 0L, 1.25)))
    }
  }


  test("neighborJaccard matches hand-computed sets on the two-triangle graph") {
    // triangles {0,1,2} and {3,4,5} + bridge 2-3 (undirected)
    val g = Seq[(Long, Long)]((0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val got = GraphOps.neighborJaccard(edgesDf(g), 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // N(0)={1,2} N(1)={0,2} N(2)={0,1,3} N(3)={2,4,5} N(4)={3,5} N(5)={3,4}
    // pair (0,1): inter {2} =1, union {0,1,2}=3 -> 0.333333
    assert(math.abs(got((0L, 1L)) - 0.333333) < 1e-9)
    // pair (4,5): inter {3}=1, union {3,4,5}=3 -> 0.333333
    assert(math.abs(got((4L, 5L)) - 0.333333) < 1e-9)
    // pair (0,3): no shared neighbor? N(0)={1,2}, N(3)={2,4,5} share {2}
    // inter 1, union {1,2,4,5}=4 -> 0.25
    assert(math.abs(got((0L, 3L)) - 0.25) < 1e-9)
    // pairs with no shared neighbor are absent (candidate-only generation)
    assert(!got.contains((0L, 4L)))
  }

  test("neighborJaccard maxDeg cap drops hot wedge centers, exact above") {
    // star K1,8: every leaf pair shares only the center (degree 8)
    val star = (1L to 8L).map(l => (0L, l))
    val exact = GraphOps.neighborJaccard(edgesDf(star), 0.0)
    assert(exact.count() === 8L * 7 / 2) // all leaf pairs via the center
    // cap below the center degree: the hot center is excluded from the
    // wedge join, so candidate generation is linear, not quadratic
    val capped = GraphOps.neighborJaccard(edgesDf(star), 0.0, maxDeg = 4)
    assert(capped.count() === 0)
    // cap above every degree ≡ exact (the g_jaccard_sim gate relies on it)
    val wide = GraphOps.neighborJaccard(edgesDf(star), 0.0, maxDeg = 100)
    assert(wide.orderBy("v1", "v2").collect().toSeq ===
      exact.orderBy("v1", "v2").collect().toSeq)
  }

  test("splitHubs salts only above tau and covers all edges") {
    val hubEdges = (1L to 10L).map(d => (0L, d)) :+ ((1L, 2L))
    val e = edgesDf(hubEdges).withColumn("weight", lit(1.0))
    val salted = GraphOps.splitHubs(e, tau = 4)
    assert(salted.count() === 11)
    val hubSalts = salted.where(col("src") === 0L)
      .select("nsalts").distinct().collect().map(_.getInt(0)).toSeq
    assert(hubSalts === Seq(3)) // ceil(10/4)
    assert(salted.where(col("src") === 1L)
      .select("nsalts").head().getInt(0) === 1)
  }
}
