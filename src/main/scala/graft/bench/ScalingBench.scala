package graft.bench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.algos.PageRank
import graft.corpus.CorpusGen
import graft.engine.SuperstepConfig
import graft.graph.EdgeDerivation

/** The north-rule scaling evidence (BASELINE.json): PageRank-to-convergence
  * on the corpus-derived co-change graph, run at two parallelism levels on
  * IDENTICAL input — local[N] and local[4N] stand in for N and 4N
  * executors (no real cluster in this sandbox; see BASELINE.md).
  *
  * Usage: runMain graft.bench.ScalingBench [nRepos] [filesPerRepo]
  *        [commitsPerRepo] [coresLo] [coresHi]
  *
  * Prints one JSON line per level: wall seconds, supersteps, edges,
  * supersteps/min, edges-processed/sec; then the scaling efficiency
  * (T_lo/T_hi)/(coresHi/coresLo).
  */
object ScalingBench {

  def buildEdges(spark: SparkSession, nRepos: Int, filesPerRepo: Int,
                 commitsPerRepo: Int, dir: String): Unit = {
    val corpus = CorpusGen.generate(spark, nRepos, filesPerRepo,
      commitsPerRepo)
    val ids = EdgeDerivation.idMap(corpus,
      spark.sparkContext.defaultParallelism)
    val directed = EdgeDerivation.coChangeEdges(corpus, ids)
      .select("src", "dst")
      .union(EdgeDerivation.importEdges(corpus, ids).select("src", "dst"))
    // symmetrize: undirected co-change graph → PageRank convergence is
    // contraction-driven (~90 supersteps at 1e-6) instead of DAG-depth-
    // driven, so the workload is scale-invariant
    val edges = directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    edges.write.mode("overwrite").parquet(dir)
  }

  /** Partition count is FIXED across parallelism levels (sized for the
    * high level) — a scaling comparison must hold the data layout and the
    * per-task work constant and vary only the worker count, exactly like
    * adding executors to a cluster over the same table.
    */
  /** Returns (total wall, loop-only wall, supersteps, edges). The graph is
    * symmetric (no sources/sinks), so the plain kernel is used —
    * computation filtering is a no-op there and its classification prep
    * would only add one-time shuffles. Loop-only wall (Σ per-superstep
    * wallMs) is the sustained-throughput number; prep (co-partition +
    * materialize) is O(1) per run and reported inside the total.
    */
  def timePr(cores: Int, partitions: Int, edgeDir: String, tol: Double,
             maxIter: Int, gridSide: Option[Int] = None,
             batch: Int = 1): (Double, Double, Int, Long) = {
    val spark = graft.util.Sessions.local(cores, s"graft-scaling-$cores",
      shufflePartitions = partitions)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val edges = spark.read.parquet(edgeDir)
      val nEdges = edges.count()
      val t0 = System.nanoTime()
      val r = PageRank.run(spark, edges,
        SuperstepConfig(tol = tol, maxIter = maxIter, gridSide = gridSide,
          batchSize = batch,
          // force the grid's shuffle path when a grid is requested — the
          // whole point of the grid evidence run is no frontier broadcast
          broadcastFrontierBelow =
            if (gridSide.isDefined) 1L else 2L * 1000 * 1000))
      // force the final result
      r.state.agg(sum(col("rank"))).head()
      val secs = (System.nanoTime() - t0) / 1e9
      val loopSecs = r.metrics.map(_("wallMs").toLong).sum / 1e3
      (secs, loopSecs, r.supersteps, nEdges)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val nRepos = args.lift(0).map(_.toInt).getOrElse(300)
    val filesPerRepo = args.lift(1).map(_.toInt).getOrElse(60)
    val commitsPerRepo = args.lift(2).map(_.toInt).getOrElse(30)
    val coresLo = args.lift(3).map(_.toInt).getOrElse(8)
    val coresHi = args.lift(4).map(_.toInt).getOrElse(32)
    val maxIter = args.lift(5).map(_.toInt).getOrElse(60)
    // kernel knobs: "grid=G" runs the 2D grid layout (frontier shuffled ×G,
    // never broadcast), "batch=K" composes K supersteps per action
    val gridSide = args.collectFirst {
      case a if a.startsWith("grid=") => a.stripPrefix("grid=").toInt
    }
    val batch = args.collectFirst {
      case a if a.startsWith("batch=") => a.stripPrefix("batch=").toInt
    }.getOrElse(1)
    // = coresHi, not more: per-superstep task-launch overhead is the serial
    // term that kills local-mode scaling; partition count is still held
    // constant across both levels.
    val partitions = coresHi
    val edgeDir = "target/scaling/edges"

    // Build the input once, at fixed parallelism, so both runs read the
    // exact same parquet bytes. "reuse" keeps an existing edge dir.
    val reuse = args.contains("reuse") &&
      Files.exists(Paths.get(edgeDir, "_SUCCESS"))
    if (!reuse) {
      val gen = graft.util.Sessions.local(8, "graft-scaling-gen")
      gen.sparkContext.setLogLevel("WARN")
      buildEdges(gen, nRepos, filesPerRepo, commitsPerRepo, edgeDir)
      gen.stop()
    }

    // JVM warm-up: a short throwaway run at the HIGH level first, so the
    // measured low-level run doesn't pay one-time JIT/codegen compilation
    // for both (measured: it inflates the first run by minutes and turns
    // "efficiency" super-linear).
    timePr(coresHi, partitions, edgeDir, tol = 1e-6, maxIter = 3,
      gridSide = gridSide, batch = batch)

    val kernelTag = gridSide.map(g => s"grid$g").getOrElse("dst") +
      (if (batch > 1) s"+batch$batch" else "")
    val results = Seq(coresLo, coresHi).map { c =>
      val (secs, loopSecs, steps, edges) =
        timePr(c, partitions, edgeDir, tol = 1e-6, maxIter = maxIter,
          gridSide = gridSide, batch = batch)
      val line =
        s"""{"cores":$c,"kernel":"$kernelTag","wall_sec":${f"$secs%.2f"},"loop_sec":${f"$loopSecs%.2f"},""" +
          s""""supersteps":$steps,"edges":$edges,""" +
          s""""supersteps_per_min":${f"${steps * 60.0 / loopSecs}%.2f"},""" +
          s""""edges_per_sec":${f"${steps.toLong * edges / loopSecs}%.0f"}}"""
      println(line)
      (c, secs, loopSecs, line)
    }
    val (cLo, tLo, lLo, _) = results(0)
    val (cHi, tHi, lHi, _) = results(1)
    val ratio = cHi.toDouble / cLo
    val effTotal = (tLo / tHi) / ratio
    val effLoop = (lLo / lHi) / ratio
    val effLine =
      f"""{"kernel":"$kernelTag%s","scaling_efficiency_loop":$effLoop%.3f,"scaling_efficiency_total":$effTotal%.3f,"lo_cores":$cLo,"hi_cores":$cHi}"""
    println(effLine)

    val report = results.map(_._4).mkString("\n")
    Files.createDirectories(Paths.get("target/scaling"))
    Files.writeString(Paths.get(s"target/scaling/scaling-$kernelTag.json"),
      report + "\n" + effLine)
  }
}
