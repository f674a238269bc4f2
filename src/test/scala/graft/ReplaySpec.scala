package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Oracles, SparkSpec}
import graft.dedup.Dedup
import graft.graph.GraphOps

/** The bounded-replay harness ([[Replay]]) and the two replays no other
  * spec drives against their batch twins.
  */
class ReplaySpec extends SparkSpec {

  /** The staged temp dir a replay file lives in (`<tmp>/stream/<file>`). */
  private def tmpOf(file: String): Path =
    Paths.get(new java.net.URI(file)).getParent.getParent

  test("ordered replay: one micro-batch per frame, in order, empty included") {
    val s = spark
    import s.implicits._
    val base = Seq(1L, 2L, 3L).toDF("v")
    val frames = Seq(base.where(col("v") <= 2), base.where(col("v") > 9),
      base.where(col("v") === 3))
    var files = Vector.empty[String]
    val batches = Replay.fold(Replay.Ordered(frames), Vector.empty[Seq[Long]]) {
      (acc, batch) =>
        val rows = batch.select(col("v"), input_file_name()).collect()
        files ++= rows.map(_.getString(1))
        acc :+ rows.map(_.getLong(0)).toSeq.sorted
    }
    assert(batches == Vector(Seq(1L, 2L), Seq.empty[Long], Seq(3L)))
    assert(files.nonEmpty)
    assert(files.map(tmpOf).forall(d => !Files.exists(d)),
      "the staged dir must be deleted after a normal return")
  }

  test("split replay: every pass sees the same batches in the same order") {
    // a shuffled input: its row order is not fixed from one run to the next
    val df = spark.range(0, 3000)
      .select((col("id") * 7919 % 2003).as("v"), (col("id") % 11).as("w"))
      .distinct()
    def pass(): Vector[Set[(Long, Long)]] =
      Replay.fold(Replay.Split(df, 4), Vector.empty[Set[(Long, Long)]]) {
        (acc, batch) =>
          acc :+ batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    val first = pass()
    assert(first.size > 1)
    assert(first.map(_.size).sum == df.count())
    for (_ <- 1 to 2) assert(pass() == first)
  }

  test("the staged dir is deleted when the drain throws") {
    val s = spark
    import s.implicits._
    var file = ""
    intercept[Exception] {
      Replay.fold(Replay.Split(Seq(1L, 2L, 3L).toDF("v"), 1), 0L) {
        (_, batch) =>
          file = batch.select(input_file_name()).head().getString(0)
          throw new IllegalStateException("boom")
      }
    }
    assert(file.nonEmpty && !Files.exists(tmpOf(file)),
      "the staged dir must be deleted after a throwing body")
  }

  test("runningDegreesViaStream ≡ batch out-degrees") {
    val pairs = Oracles.randomGraph(seed = 71, n = 30, m = 80)
    val e = edgesDf(pairs)
    def degrees(df: DataFrame) = collectL(df, "id", "outdeg")
    assert(degrees(EdgeStream.runningDegreesViaStream(e, splits = 3)) ==
      degrees(GraphOps.outDegrees(e)))
  }

  test("exactViaStream ≡ batch Dedup.exact") {
    val s = spark
    import s.implicits._
    val docs = (0L until 40L).map(i => (i, s"doc ${i % 7} text ${i % 3}"))
      .toDF("doc_id", "text")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows(StreamDedup.exactViaStream(docs, splits = 3))
    assert(got == rows(Dedup.exact(docs)))
    assert(got.size == 21 && got.toSeq.map(_._2).sum == 40L)
  }
}
