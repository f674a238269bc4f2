package graft.graph

import scala.language.implicitConversions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Lineage

/** An edge frame and what is known of its shape. LA3 dedups and orients a
  * graph once, in its offline converter, and every app relies on that
  * layout (SURVEY.md §3.2, G1); here the layout is a type:
  *
  *  - [[EdgeSet.Canonical]]: unique `src < dst` pairs, no self-loops;
  *  - [[EdgeSet.Symmetric]]: both directions of a canonical set;
  *  - [[EdgeSet.Unknown]]: any frame (a `DataFrame` converts implicitly).
  *
  * An undirected kernel asks its input for one of two views and never
  * dedups on its own: [[symmetric]] (both directions) or [[canonical]]
  * (each undirected edge once, as `src < dst`). A view the set already is
  * costs nothing; `Canonical.symmetric` is a mirror and
  * `Symmetric.canonical` a filter, neither with a dedup; only an
  * `Unknown` set dedups, once, to give its view. A view holds the
  * (src, dst) columns only, and no self-loop.
  *
  * The trust boundary is this package: only code in `graft.graph` builds a
  * shaped set without a dedup — [[TestGraphs.copurchaseEdges]], filters and
  * projections of a canonical set, and the views above. The public
  * constructors [[EdgeSet.canonical]] and [[EdgeSet.symmetric]] always
  * dedup.
  */
sealed abstract class EdgeSet private[graph] (val frame: DataFrame) {
  /** Both directions of each undirected edge, as (src, dst). */
  def symmetric: EdgeSet.Symmetric
  /** Each undirected edge once, as (src, dst) with `src < dst`. */
  def canonical: EdgeSet.Canonical
}

object EdgeSet {

  final class Canonical private[graph] (frame: DataFrame)
      extends EdgeSet(frame) {
    /** Any row filter of a canonical set is canonical. */
    def where(cond: Column): Canonical = new Canonical(frame.where(cond))
    /** Drops the payload columns; the pairs stay unique. */
    def pairs: Canonical = new Canonical(frame.select("src", "dst"))
    /** Materialized now ([[graft.engine.Lineage.cut]], eager). */
    def cut: Canonical = new Canonical(Lineage.cut(frame, eager = true))

    /** Its own pairs. */
    def canonical: Canonical = pairs
    /** Both directions, as (src, dst). The two union legs are disjoint
      * (src < dst vs src > dst) and each is unique, so the union is
      * already distinct: no dedup exchange.
      */
    def symmetric: Symmetric = mirrored(Seq.empty)
    /** [[symmetric]] with the `weight` column on both directions. */
    def weightedSymmetric: Symmetric = mirrored(Seq(col("weight")))

    private def mirrored(payload: Seq[Column]): Symmetric =
      new Symmetric(frame.select(col("src") +: col("dst") +: payload: _*)
        .union(frame.select(
          col("dst").as("src") +: col("src").as("dst") +: payload: _*)))
  }

  final class Symmetric private[graph] (frame: DataFrame)
      extends EdgeSet(frame) {
    /** Materialized now ([[graft.engine.Lineage.cut]], eager). */
    def cut: Symmetric = new Symmetric(Lineage.cut(frame, eager = true))
    /** Its own pairs. */
    def symmetric: Symmetric = new Symmetric(frame.select("src", "dst"))
    /** The `src < dst` direction of each pair: no dedup. */
    def canonical: Canonical =
      new Canonical(frame.select("src", "dst").where(col("src") < col("dst")))
    /** Without the edges that touch `ids` (column `id`); removal is
      * endpoint-symmetric, so the rest is still symmetric. */
    def withoutVertices(ids: DataFrame): Symmetric = new Symmetric(frame
      .join(ids.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_anti"))
  }

  final class Unknown private[graph] (frame: DataFrame)
      extends EdgeSet(frame) {
    /** Deduped here, by the public constructors. */
    def symmetric: Symmetric = EdgeSet.symmetric(frame)
    def canonical: Canonical = EdgeSet.canonical(frame)
  }

  /** Oriented as (min, max), self-loops dropped, deduped. */
  def canonical(edges: DataFrame): Canonical =
    new Canonical(GraphOps.orient(edges))

  /** Both directions, deduped, self-loops dropped (before the dedup, so a
    * later distinct over its endpoints can absorb it). */
  def symmetric(edges: DataFrame): Symmetric =
    new Symmetric(GraphOps.symmetrize(edges.where(col("src") =!= col("dst"))))

  implicit def unknown(edges: DataFrame): EdgeSet = new Unknown(edges)
}
