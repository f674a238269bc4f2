package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G8 — corpus → edge derivation (SURVEY.md §2.2): the three edge families
  * the north star names, over the (repo, path, commit, lang, content)
  * corpus. Vertex ids are sort-based dense longs from [[GraphOps.denseIds]]
  * (deterministic across partitionings — monotonically_increasing_id is
  * banned for this reason).
  */
object EdgeDerivation {

  /** Node-key strings: repos are "r:<repo>", files "f:<repo>/<path>". */
  def nodeKeys(corpus: DataFrame): DataFrame = {
    val repos = corpus.select(concat(lit("r:"), col("repo")).as("key"))
    val files = corpus.select(
      concat(lit("f:"), col("repo"), lit("/"), col("path")).as("key"))
    repos.union(files).distinct()
  }

  /** Dense id map for all nodes ([[GraphOps.denseIds]] over `partitions`
    * range partitions; the ids do not depend on the count).
    */
  def idMap(corpus: DataFrame, partitions: Int): DataFrame =
    GraphOps.denseIds(nodeKeys(corpus), partitions)

  /** (a) bipartite repo → file edges. */
  def repoPathEdges(corpus: DataFrame, ids: DataFrame): DataFrame = {
    val pairs = corpus.select(
      concat(lit("r:"), col("repo")).as("srckey"),
      concat(lit("f:"), col("repo"), lit("/"), col("path")).as("dstkey"))
      .distinct()
    resolve(pairs, ids).withColumn("weight", lit(1L))
  }

  /** (b) import edges: parse `import <path>` lines out of content, resolve
    * to files within the same repo. Distinct file→file pairs over all
    * commits. The regex runs inside codegen; the resolve is an equi-join on
    * the derived key (pushdown-friendly).
    */
  def importEdges(corpus: DataFrame, ids: DataFrame): DataFrame = {
    val imports = corpus
      .select(col("repo"), col("path"),
        explode(expr(
          "regexp_extract_all(content, 'import ([^\\n]+)', 1)"))
          .as("target"))
      .where(col("target") =!= col("path"))
      .select(
        concat(lit("f:"), col("repo"), lit("/"), col("path")).as("srckey"),
        concat(lit("f:"), col("repo"), lit("/"), col("target")).as("dstkey"))
      .distinct()
    // only keep targets that exist as files (inner join via resolve)
    resolve(imports, ids).withColumn("weight", lit(1L))
  }

  /** (c) co-change edges: files sharing a commit, pairwise, oriented
    * id1 < id2; weight = number of shared commits. Files-per-commit is
    * capped at generation AND here (row_number ≤ cap) so a pathological
    * giant commit cannot go quadratic (SURVEY.md §2.2 G8, §7.4.3).
    */
  def coChangeEdges(corpus: DataFrame, ids: DataFrame,
                    filesPerCommitCap: Int = 64): DataFrame = {
    val fc = corpus.select(col("repo"), col("commit"),
        concat(lit("f:"), col("repo"), lit("/"), col("path")).as("key"))
      .distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("repo", "commit").orderBy("key")))
      .where(col("rn") <= filesPerCommitCap)
      .join(ids, "key")
      .select(col("repo"), col("commit"), col("id"))
    val a = fc.toDF("repo", "commit", "src")
    val b = fc.toDF("repo", "commit", "dst")
    a.join(b, Seq("repo", "commit"))
      .where(col("src") < col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  private def resolve(pairs: DataFrame, ids: DataFrame): DataFrame =
    pairs
      .join(ids.toDF("srckey", "src"), "srckey")
      .join(ids.toDF("dstkey", "dst"), "dstkey")
      .select("src", "dst")
}
