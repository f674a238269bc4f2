package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped snapshot store (SURVEY.md §7.6 — no Iceberg jars ship in
  * this sandbox, so the layout emulates a table format over plain parquet):
  *
  * {{{
  * base/<algo>/<runId>/snap=<superstep>/part-*.parquet
  * base/<algo>/<runId>/manifest-<superstep>.json
  * }}}
  *
  * Commit protocol (SURVEY.md §7.4.5): data dir is written first, then the
  * manifest is written to a temp name and atomically renamed — a snapshot
  * exists iff its manifest exists, so readers never observe partial data.
  * The manifest carries per-partition lineage (row count per partition),
  * metrics, and the parent-snapshot pointer, per the north rule's
  * "checkpoints per-partition vertex state and lineage/metrics".
  *
  * One store holds one run: a [[Superstep]] run handed a store whose
  * [[latestComplete]] is defined resumes from that snapshot, so a store
  * is reused exactly to continue the run that wrote it.
  */
final class CheckpointStore(base: String, algo: String, runId: String) {
  val root: Path = Paths.get(base, algo, runId)
  Files.createDirectories(root)

  private def snapDir(s: Int): Path = root.resolve(s"snap=$s")
  private def manifestPath(s: Int): Path = root.resolve(s"manifest-$s.json")

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Write superstep `s`: parquet data, then ONE read-back pass that both
    * caches the snapshot (lazy localCheckpoint materialized by the
    * per-partition stats job) and computes the manifest lineage. Total rows
    * = Σ partition rows — never a separate count action. Returns the cached
    * read-back frame (hash-repartitioned by id into `partitions`, restoring
    * the loop's co-partitioning) and the total row count: exactly two
    * actions per durable snapshot (the write + the stats/cache job).
    */
  def writeAndLoad(s: Int, state: DataFrame, metrics: Map[String, String],
                   partitions: Int): (DataFrame, Long) = {
    val dir = snapDir(s)
    state.write.mode("overwrite").parquet(dir.toString)
    val readBack = state.sparkSession.read.parquet(dir.toString)
      .repartition(partitions, col("id"))
      .localCheckpoint(false)
    val total = commitManifest(s, readBack, state, metrics)
    (readBack, total)
  }

  /** Write without a read-back: per-partition lineage is computed from the
    * input frame itself (already cached when called from the loop's final
    * snapshot), so only the parquet write plus one stats job run — never a
    * throwaway cached copy.
    *
    * NB the manifest's `partitions` array therefore describes the
    * PRODUCING frame's partitioning (pid/rows/id-range of the in-memory
    * state), not the written parquet's file layout — the two can differ
    * (parquet writers may split/merge files). Resume never validates files
    * against `partitions`; it reads the parquet and re-partitions to the
    * loop's layout. A future reader wanting file-level fidelity must
    * compute stats from the read-back (as [[writeAndLoad]] does).
    */
  def write(s: Int, state: DataFrame, metrics: Map[String, String]): Long = {
    state.write.mode("overwrite").parquet(snapDir(s).toString)
    commitManifest(s, state, state, metrics)
  }

  /** One stats job over `statsFrom` (partition rows + id range), then the
    * atomic manifest rename. Total rows = Σ partition rows — never a
    * separate count action.
    */
  private def commitManifest(s: Int, statsFrom: DataFrame, state: DataFrame,
                             metrics: Map[String, String]): Long = {
    val stats = statsFrom
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("rows"), min("id").as("minId"), max("id").as("maxId"))
      .collect()
    val perPart = stats
      .map(r => s"""{"pid":${r.getInt(0)},"rows":${r.getLong(1)},""" +
        s""""minId":${r.get(2)},"maxId":${r.get(3)}}""")
    val total = stats.map(_.getLong(1)).sum
    val parent = if (s > 0) s"${s - 1}" else "null"
    val metricsJson = metrics.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",", "}")
    val schemaJson = jstr(state.schema.json)
    val json =
      s"""{"superstep":$s,"rows":$total,"parentSnapshot":$parent,
         |"partitions":[${perPart.mkString(",")}],
         |"metrics":$metricsJson,
         |"schema":$schemaJson}""".stripMargin
    val tmp = root.resolve(s"manifest-$s.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(s), StandardCopyOption.ATOMIC_MOVE)
    total
  }

  /** Latest superstep with a committed manifest, if any. The pattern is
    * anchored (full-name match) so a leftover `manifest-N.json.tmp` from a
    * crash mid-write is NOT counted as committed.
    */
  def latestComplete(): Option[Int] = {
    if (!Files.isDirectory(root)) return None
    val re = "^manifest-(\\d+)\\.json$".r
    val stream = Files.list(root)
    try {
      stream.iterator().asScala
        .flatMap(p => re.findFirstMatchIn(p.getFileName.toString)
          .filter(m => m.matched == p.getFileName.toString)
          .map(_.group(1).toInt))
        .toList
        .reduceOption(_ max _)
    } finally stream.close()
  }

  def read(spark: SparkSession, s: Int): DataFrame =
    spark.read.parquet(snapDir(s).toString)

  def readManifest(s: Int): String = Files.readString(manifestPath(s))
}
