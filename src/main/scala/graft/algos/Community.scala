package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.EdgeSet

/** Community quality metrics over a partition produced by any community
  * detector (here typically [[LabelPropagation]]).
  *
  * Newman modularity (Newman & Girvan, Phys. Rev. E 69, 026113, 2004) is
  * reported as an EXACT RATIONAL, not a float: over the
  * [[EdgeSet.symmetric]] view of the edges (|e| = m2 = 2m, no self-loops),
  *
  *   Q = Σ_c [ in_c/m2 − (d_c/m2)² ] = (m2·Σ_c in_c − Σ_c d_c²) / m2²
  *
  * where in_c counts directed edges with both endpoints labeled c and d_c
  * is the total degree of community c. Every term is an integer count, so
  * the (q_num, q_den) pair crosses the Spark↔DuckDB oracle bit-exactly
  * where a float Q would be summation-order noise (oracle-parity
  * discipline, SURVEY.md §7.5). Callers wanting the float divide once at
  * the end.
  *
  * Scale shape: two hash joins of the edge list against the (id, label)
  * map (shuffle on vertex id — broadcast when the label map is a dim), a
  * map-side-combinable per-label degree aggregate, then three one-row
  * aggregates broadcast-crossed together. Nothing is ever collected; no
  * global window; no per-vertex state beyond the label map itself.
  */
object Community {

  /** `edges`: read as its [[EdgeSet.symmetric]] view; `labels`:
    * (id, label) covering every vertex incident to `edges`. One row:
    * (n_comms, q_num, q_den) — all BIGINT, q_num/q_den = modularity.
    */
  def modularity(edges: EdgeSet, labels: DataFrame): DataFrame = {
    val e = edges.symmetric.frame
    val lab = labels.select("id", "label")
    val tagged = e
      .join(lab.toDF("src", "slabel"), "src")
      .join(lab.toDF("dst", "dlabel"), "dst")
    // m2 and the intra-community directed-edge count in one pass
    val totals = tagged.agg(
      count(lit(1)).as("m2"),
      sum(when(col("slabel") === col("dlabel"), 1L).otherwise(0L))
        .as("intra"))
    // d_c = Σ deg(v) over v∈c == per-label count of directed edge endpoints
    val dc2 = tagged.groupBy("slabel")
      .agg(count(lit(1)).as("dcsum"))
      .agg(sum(col("dcsum") * col("dcsum")).as("sum_dc2"))
    val nComms = lab.agg(countDistinct(col("label")).as("n_comms"))
    totals.crossJoin(broadcast(dc2)).crossJoin(broadcast(nComms))
      .select(
        col("n_comms").cast("long").as("n_comms"),
        (col("m2") * col("intra") - col("sum_dc2")).cast("long").as("q_num"),
        (col("m2") * col("m2")).cast("long").as("q_den"))
  }
}
