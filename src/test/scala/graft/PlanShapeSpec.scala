package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the scale properties the engine claims are
  * PLAN properties (what moves per superstep), so they are asserted on the
  * physical plan text, not just on results. The first test is the grid
  * superstep's plan audit (BASELINE.md "Grid plan audit").
  */
class PlanShapeSpec extends SparkSpec {

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  private def exchanges(plan: String): Int =
    "\\(\\d+\\) Exchange".r.findAllIn(plan).size

  test("grid superstep plan: 2 exchanges; edges and state never move") {
    val s = spark
    val n = 4
    val g = 2
    val restore = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.join.preferSortMergeJoin",
      "spark.sql.shuffle.partitions",
      "spark.sql.requireAllClusterKeysForCoPartition")
      .map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      def blk(c: org.apache.spark.sql.Column) =
        pmod(xxhash64(c), lit(g.toLong)).cast("int")
      val raw = s.range(10000)
        .select((col("id") % 500).as("src"),
          ((col("id") * 13 + 7) % 500).as("dst"))
        .where(col("src") =!= col("dst"))
      val eB = raw
        .withColumn("srcBlk", blk(col("src")))
        .withColumn("dstBlk", blk(col("dst")))
        .repartition(n, col("srcBlk"), col("dstBlk"))
        .sortWithinPartitions("src", "dst")
        .localCheckpoint(true)
      val state = raw.select(col("src").as("id")).distinct()
        .withColumn("rank", lit(1.0)).withColumn("outdeg", lit(2L))
        .repartition(n, col("id"))
        .localCheckpoint(true)
      val fr = state.withColumnRenamed("id", "src")
        .withColumn("srcBlk", blk(col("src")))
        .withColumn("dstBlk", explode(array((0 until g).map(lit): _*)))
        .hint("shuffle_hash")
      val msgs = eB.join(fr, Seq("srcBlk", "dstBlk", "src"))
        .select(col("dst").as("id"),
          (col("rank") / col("outdeg")).as("msg"))
        .groupBy("id").agg(sum(col("msg")).as("agg"))
      val next = state
        .join(msgs.hint("shuffle_hash"), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("agg"), lit(0.0)).as("rank"))
      val plan = fmt(next)
      // frontier shuffle + post-partial-agg message shuffle, nothing else:
      // a third exchange means the edge tiles or the state moved.
      assert(exchanges(plan) === 2, s"plan:\n$plan")
      assert(!plan.contains("SortMergeJoin"), "SMJ would re-sort edges")
    } finally restore.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  test("derivation scan prunes columns: copurchase reads only 2 columns") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val plan = fmt(graft.graph.TestGraphs.copurchase(spark, dir))
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_partkey"),
      s"got: $read")
    assert(!read.contains("l_quantity") && !read.contains("l_comment"),
      s"column pruning lost: $read")
  }

  test("IVF assignment plan: centroids broadcast, corpus side never shuffles for the product") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ann.Similarity.preppedView(emb)
    val cents = p.limit(8)
      .withColumn("cid", lit(1))
      .select(col("cid"), col("__vd").as("cv"), col("__nrm").as("cn"))
    val plan = fmt(
      graft.ann.Similarity.ivfAssignment(p, cents))
    // the n×C centroid scoring must broadcast the C-row side — anything
    // else (cartesian, shuffled product) is corpus-quadratic movement
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast product in the assignment plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "corpus-side cartesian in the IVF assignment plan")
  }

  test("matching round plan: no cartesian, winners by two agg passes") {
    val s = spark
    import s.implicits._
    // one round's winner sub-plan, as Matching.run composes it
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
      .select(col("src"), col("dst"),
        graft.graph.GraphOps
          .md5Prio(concat_ws(":", col("src"), col("dst"))).as("p"))
    val byV = e.select(col("src").as("v"), col("p"))
      .union(e.select(col("dst").as("v"), col("p")))
      .groupBy("v").agg(max(col("p")).as("mp"))
    val winners = e.join(byV.toDF("src", "mps"), "src")
      .join(byV.toDF("dst", "mpd"), "dst")
      .where(col("p") === col("mps") && col("p") === col("mpd"))
    val plan = fmt(winners)
    // the line-graph trick: adjacency tested via per-vertex max aggs and
    // equi-joins — an edge×edge product would be quadratic in degree
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"edge-adjacency product in the matching plan:\n$plan")
    // LONG priorities keep the per-round max on the hash-agg path — the
    // old 32-char hex STRING spelling planned as SortAggregate, a real
    // per-round regression at 10⁹ edges (VERDICT r4 defect 2)
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"priority max fell back to SortAggregate:\n$plan")
  }

  test("msf round plan: full-edge-set argmin is a LONG hash agg") {
    val s = spark
    import s.implicits._
    // phase (a) of Msf's per-component argmin, as run() composes it: the
    // aggregate that sees EVERY edge each round must be min(LONG) on the
    // hash-agg path — a min_by over a struct ordering key has a struct
    // buffer and falls back to SortAggregate over |E| rows (the VERDICT-r4
    // MIS/matching defect, preempted here); the struct-min tie residue
    // downstream only ever sees ≈1 row per component
    val ce = Seq((0L, 1L, 5L), (1L, 2L, 3L), (2L, 3L, 4L))
      .toDF("cu", "cv", "pri")
    val byC = ce.select(col("cu").as("c"), col("pri"))
      .unionByName(ce.select(col("cv").as("c"), col("pri")))
    val mp = byC.groupBy("c").agg(min(col("pri")).as("pri"))
    val plan = fmt(mp)
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"msf per-round priority min fell back to SortAggregate:\n$plan")
  }

  test("truss support plan: closing join is left-semi (no payload moves)") {
    val s = spark
    import s.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val (truss, _) = graft.algos.Truss.converged(e, 3, maxRounds = 3)
    // audited on the OUTPUT plan of a converged run: the wedge-closing
    // step must appear as a semi join in the cached round lineage — the
    // converged frame itself reads the cached support table, so assert on
    // a freshly-composed round of the same two functions Truss calls
    val plan = fmt(graft.algos.TriangleCount.closedWedges(
      graft.algos.TriangleCount.orientedByDegree(e)))
    assert(plan.contains("LeftSemi"), s"closing join not semi:\n$plan")
    assert(truss.columns.toSeq === Seq("src", "dst", "support"))
  }

  test("nearestSeeds round plan: packed (dist,seed) min is a LONG hash agg") {
    val s = spark
    import s.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val plan = fmt(graft.algos.Paths.nearestSeeds(
      graft.graph.EdgeSet.symmetric(e).frame, 2, 3L))
    // the whole point of the dist·2^44+seed packing: the per-round
    // lexicographic (dist, seed) minimum must plan as min(LONG) on the
    // hash-agg path — a struct min would SortAggregate over every
    // frontier message (the MSF/mis/matching priority lesson)
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"packed landmark min fell back to SortAggregate:\n$plan")
  }

  test("trusted symmetric view plans no dedup; the public constructor does") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
    // aggregates with a Union below them: a dedup of the two directions,
    // not the derivation's own groupBy (which sits under each leg)
    def dedups(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate if a.find(_.isInstanceOf[Union]).isDefined => a
      }.size
    def aggregates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    withLineitem { dir =>
      val cp = graft.graph.TestGraphs.copurchaseEdges(spark, dir)
      for (c <- Seq(cp, cp.where(col("weight") >= 2))) {
        val trusted = c.symmetric.frame
        assert(aggregates(trusted) > 0, "the derivation's groupBy is gone")
        assert(dedups(trusted) === 0, s"trusted symmetric view plans a " +
          s"dedup:\n${trusted.queryExecution.optimizedPlan}")
        val public = graft.graph.EdgeSet.symmetric(c.frame).frame
        assert(dedups(public) === 1, s"public constructor lost its " +
          s"dedup:\n${public.queryExecution.optimizedPlan}")
      }
    }
  }

  test("fourCliques plan: both clique checks are semi joins, no product") {
    val s = spark
    import s.implicits._
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L)).toDF("src", "dst")
    val plan = fmt(graft.algos.TriangleCount.fourCliques(e))
    // the (a,d) and (b,d) clique checks plus the triangle closing join:
    // all three must ship ids only (semi), and nothing may degrade to a
    // nested-loop/cartesian product
    assert("LeftSemi".r.findAllIn(plan).size >= 3,
      s"expected ≥3 semi joins in the K4 plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"product join in the K4 plan:\n$plan")
  }

  test("dedup_exact plan carries digests, not document text, into the agg") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "some document body")).toDF("doc_id", "text")
    val plan = fmt(graft.dedup.Dedup.exact(docs))
    // the exchange feeding the final agg must key on the digest columns,
    // and the raw text column must not flow through any exchange
    val exch = plan.linesIterator.filter(_.contains("hashpartitioning"))
      .mkString("\n")
    assert(exch.contains("__hx") && exch.contains("__hm"),
      s"group-by key not digest-first:\n$exch")
    assert(!exch.contains("text#"), s"document text in the shuffle:\n$exch")
  }
}
