package graft.bench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.algos.PageRank
import graft.engine.SuperstepConfig

/** Direct scale evidence for the 2D grid kernel (SURVEY.md §2.2 G5): on the
  * same graph, per-superstep SHUFFLE VOLUME grows with the grid side g
  * (= √P), not with the partition count P. Measured via SparkListener task
  * metrics (shuffle bytes/records written), differencing two runs with
  * different superstep counts so one-time prep (edge tiling, state init)
  * cancels out. Doubling g should ~double per-superstep shuffled records; a
  * frontier broadcast would grow ×P and a naive shuffle join would move the
  * edge table itself.
  *
  * Usage: runMain graft.bench.ShuffleVolumeProbe [nVertices] [nEdges]
  */
object ShuffleVolumeProbe {

  private final class Acc extends SparkListener {
    val bytes = new AtomicLong
    val records = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  /** Total shuffle (bytes, records) written by a gridSide=g PR run of
    * exactly `steps` supersteps (shuffle path forced, batch=1).
    */
  private def measure(spark: SparkSession,
                      edges: org.apache.spark.sql.DataFrame,
                      g: Int, steps: Int): (Long, Long) = {
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    try {
      PageRank.run(spark, edges, SuperstepConfig(
        tol = 0.0, maxIter = steps,
        gridSide = Some(g), broadcastFrontierBelow = 1L))
      // listener events are async; give the bus a moment to drain
      Thread.sleep(2000)
      (acc.bytes.get(), acc.records.get())
    } finally spark.sparkContext.removeSparkListener(acc)
  }

  def main(args: Array[String]): Unit = {
    val nV = args.lift(0).map(_.toInt).getOrElse(100000)
    val nE = args.lift(1).map(_.toInt).getOrElse(2000000)
    val spark = graft.util.Sessions.local(8, "graft-shufflevol",
      shufflePartitions = 32)
    spark.sparkContext.setLogLevel("ERROR")

    def graph(m: Long) = spark.range(m)
      .select(pmod(xxhash64(col("id"), lit(1)), lit(nV.toLong)).as("src"),
        pmod(xxhash64(col("id"), lit(2)), lit(nV.toLong)).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(true)

    // dense: avg out-degree ≫ g, every frontier row touches ~all g blocks
    // (the ×√P upper bound); sparse: avg out-degree < g, the dstBlk-pruned
    // replication (nonzero tiles only) keeps traffic ~flat in g.
    val cases = Seq(("dense", graph(nE.toLong)),
      ("sparse_deg3", graph(nV * 3L)))
    val out = cases.flatMap { case (tag, edges) =>
      val lines = Seq(2, 4, 8).map { g =>
        val (b1, r1) = measure(spark, edges, g, 2)
        val (b2, r2) = measure(spark, edges, g, 10)
        val perStepB = (b2 - b1) / 8.0
        val perStepR = (r2 - r1) / 8.0
        val line = f"""{"case":"$tag%s","grid_side":$g,"shuffle_bytes_per_superstep":$perStepB%.0f,"shuffle_records_per_superstep":$perStepR%.0f}"""
        println(line)
        (g, perStepR, line)
      }
      val ratio84 = lines(2)._2 / lines(1)._2
      val ratio42 = lines(1)._2 / lines(0)._2
      val summary =
        f"""{"case":"$tag%s","records_ratio_g4_to_g2":$ratio42%.2f,"records_ratio_g8_to_g4":$ratio84%.2f,"expected_if_sqrtP":2.0,"expected_if_P":4.0}"""
      println(summary)
      lines.map(_._3) :+ summary
    }
    Files.createDirectories(Paths.get("target/scaling"))
    Files.writeString(Paths.get("target/scaling/shuffle_volume.json"),
      out.mkString("\n"))
    spark.stop()
  }
}
