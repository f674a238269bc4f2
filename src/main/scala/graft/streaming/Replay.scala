package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.streaming.Trigger

import graft.util.TempDir

/** The bounded stream replay every `*ViaStream` shape runs on. The input is
  * staged as parquet files in a temp dir, streamed back one file per
  * micro-batch (`maxFilesPerTrigger = 1`) under Trigger.AvailableNow, and
  * drained; the result is `localCheckpoint`ed, so it outlives the dir,
  * which is deleted on every path. The stream's schema is the staged
  * files' own, so a shape types its columns in its staging `select`.
  *
  * Two staging policies:
  *  - [[Split]]: one write partitioned by a hash of the whole row, so a
  *    row lands in the same file on every pass (an empty partition writes
  *    no file), for shapes whose merges are order-independent;
  *  - [[Ordered]]: one single-file batch per frame (empty ones included).
  *
  * Either way the files get increasing mtimes and the file source
  * schedules by mtime, so micro-batch k replays file k.
  *
  * Two drains: [[toMemory]] (a memory sink under an output mode, then a
  * per-shape batch `finish`) and [[fold]] (`foreachBatch` into a state).
  *
  * Scale-adaptive parallelism (r6, guide §2): each micro-batch of an
  * AvailableNow replay commits one state-store instance PER shuffle
  * partition, so a 100k-row replay at the configured 32 partitions pays
  * splits × 32 near-empty state commits of pure overhead. The replay
  * runs under [[graft.engine.Lineage.withAdaptiveLoopConf]] of the staged
  * row count (parquet metadata count — no data scan; the same read gives
  * the schema): the session's count is the ceiling, and the scope
  * restores it afterwards. Results are unchanged: every gated streaming
  * shape is a count/sum/min/dedup/session merge, all
  * partition-count-invariant; production-scale replays exceed the clamp
  * threshold and keep full parallelism.
  */
private[streaming] object Replay {

  sealed trait Staging {
    def spark: SparkSession
    /** Writes the replay files into the new directory `dir`; `tmp` is
      * scratch space beside it. */
    def write(tmp: Path, dir: Path): Unit
  }

  final case class Split(df: DataFrame, splits: Int) extends Staging {
    def spark: SparkSession = df.sparkSession
    def write(tmp: Path, dir: Path): Unit = {
      // a hash of the row, not its columns: a repartition on an aggregate's
      // own keys merges into its exchange, which AQE may coalesce
      df.repartition(splits, xxhash64(df.columns.map(col).toSeq: _*))
        .write.parquet(dir.toString)
      // part-NNNNN names sort by partition index
      dir.toFile.listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, k) =>
          replayAt(f.toPath, k)
        }
    }
  }

  final case class Ordered(frames: Seq[DataFrame]) extends Staging {
    def spark: SparkSession = frames.head.sparkSession
    def write(tmp: Path, dir: Path): Unit = {
      Files.createDirectory(dir)
      frames.zipWithIndex.foreach { case (df, k) =>
        // a one-partition write always leaves one file, even when empty
        val work = tmp.resolve(s"work$k")
        df.coalesce(1).write.parquet(work.toString)
        val ls = Files.list(work)
        val part =
          try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
          finally ls.close()
        replayAt(Files.move(part, dir.resolve(f"chunk-$k%03d.parquet")), k)
      }
    }
  }

  /** Sets replay file k's mtime: strictly increasing in k. */
  private def replayAt(file: Path, k: Int): Unit =
    Files.setLastModifiedTime(file,
      FileTime.fromMillis(1000000000000L + k * 2000L))

  private val runCounter = new AtomicLong(0)

  /** Streams `query` (given a function that opens a fresh source over the
    * staged files on each call) into a memory sink under `outputMode`,
    * and returns `finish` of the sink's final table.
    */
  def toMemory(staging: Staging, outputMode: String,
               finish: DataFrame => DataFrame = identity)
              (query: (() => DataFrame) => DataFrame): DataFrame =
    run(staging) { open =>
      val spark = staging.spark
      val name = s"graft_replay_${runCounter.incrementAndGet()}"
      try {
        query(open).writeStream.format("memory").queryName(name)
          .outputMode(outputMode).trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        finish(spark.table(name)).localCheckpoint(true)
      } finally spark.catalog.dropTempView(name)
    }

  /** Folds every micro-batch into a state with `step` (`foreachBatch`);
    * the state must not depend on the staged files.
    */
  def fold[S](staging: Staging, zero: S)(step: (S, DataFrame) => S): S =
    run(staging) { open =>
      var acc = zero
      open().writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          acc = step(acc, batch)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      acc
    }

  private def run[T](staging: Staging)(body: (() => DataFrame) => T): T =
    TempDir.withTempDir("graft-replay") { tmp =>
      val spark = staging.spark
      val dir = tmp.resolve("stream")
      staging.write(tmp, dir)
      val staged = spark.read.parquet(dir.toString)
      val open = () => spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      graft.engine.Lineage.withAdaptiveLoopConf(spark, staged.count()) { _ =>
        body(open)
      }
    }
}
