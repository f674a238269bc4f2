package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Lineage

/** Graph derivations over the driver's read-only `/root/testdata` parquets
  * (FIXTURES.md §B). Structural analog of the corpus graphs: order ↔ commit,
  * part ↔ file, customer ↔ repo. Every derivation here has an ANSI-SQL
  * equivalent in [[graft.OracleSql]] for the DuckDB correctness gate.
  *
  * All outputs use the canonical edge schema (src: long, dst: long,
  * weight: long) with lowercase names so Spark parquet and DuckDB agree.
  */
object TestGraphs {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Co-purchase edges: part↔part via shared l_orderkey (co-change analog,
    * SURVEY.md §2.2 G8c). Oriented src < dst; weight = number of line-pair
    * co-occurrences. Only the two needed columns are read (column pruning
    * reaches the parquet scan).
    */
  def copurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem").select("l_orderkey", "l_partkey")
    val a = li.toDF("ok", "src")
    val b = li.toDF("ok", "dst")
    a.join(b.hint("shuffle_hash"), Seq("ok"))
      .where(col("src") < col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  /** [[copurchase]] as a trusted [[EdgeSet.Canonical]] (its groupBy output
    * is unique src < dst pairs). k-round kernels read its `.symmetric` view
    * materialized (`.cut(eager = true)`): unmaterialized, pr5's plan
    * replayed the derivation in 128 parquet scans (r6). */
  def copurchaseEdges(spark: SparkSession, sfDir: String): EdgeSet.Canonical =
    new EdgeSet.Canonical(copurchase(spark, sfDir))

  /** Bipartite customer → part edges via orders ⋈ lineitem (repo→path
    * analog, SURVEY.md §2.2 G8a). Part ids offset by 10^9 to keep the two
    * vertex domains disjoint.
    */
  def custPart(spark: SparkSession, sfDir: String): DataFrame = {
    val o = table(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val li = table(spark, sfDir, "lineitem").select("l_orderkey", "l_partkey")
    o.hint("shuffle_hash").join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").as("src"),
              (col("l_partkey") + lit(1000000000L)).as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  /** user → event-type bipartite sanity graph from `events`; event types get
    * dense negative ids via a deterministic dictionary join (no hashing, so
    * the DuckDB oracle can reproduce ids exactly).
    */
  def userEvent(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events").select("user_id", "event_type")
    // Dense ids via the scale-safe G2 operator (range-partitioned rank) —
    // an unpartitioned dense_rank() window would move all rows to one
    // partition, the exact pattern SURVEY.md §2.2 G2 bans.
    val dict = GraphOps.denseIds(ev.select("event_type").distinct(),
        Lineage.partitions(spark))
      .select(col("key").as("event_type"), (-(col("id") + 1)).as("type_id"))
    ev.join(broadcast(dict), "event_type")
      .select(col("user_id").as("src"), col("type_id").as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }
}
