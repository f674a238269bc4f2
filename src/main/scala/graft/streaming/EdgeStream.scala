package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming ingestion for a continuously-arriving edge log. LA3 itself is
  * batch-iterative (SURVEY.md §2.9/§2.10 — no streaming surface to match),
  * but a production link-graph pipeline tails an edge log; these operators
  * maintain graph statistics incrementally so the batch engine can be
  * re-run from fresh snapshots:
  *
  *  - [[windowedEdgeCounts]]: tumbling-window edge rates per source with a
  *    watermark (late events beyond the bound are dropped).
  *  - [[runningOutDegrees]]: exact per-vertex degree kept in keyed state
  *    (KeyValueGroupedDataset.mapGroupsWithState) — the streaming analog of
  *    G3, feeding degree-aware planning (hub split thresholds) without a
  *    full rescan.
  *
  * The `*ViaStream` shapes run a statistic as a bounded replay on
  * [[Replay]] (stage, stream one file per micro-batch, drain) so its
  * drained result can be gated against the batch answer:
  *
  *  - [[windowedCountsViaStream]]: complete-mode tumbling-window counts;
  *  - [[runningDegreesViaStream]]: the mapGroupsWithState degree counter;
  *  - [[enrichedEdgeCountsViaStream]]: stream-static join + rollup;
  *  - [[ccViaStream]]: per-batch incremental CC via foreachBatch;
  *  - [[topKCountsViaStream]]: complete-mode sort + limit;
  *  - [[lateDropWindowCounts]]: append-mode windows under a late drop;
  *  - [[pairJoinViaStream]]: stream-stream interval self-join;
  *  - [[dedupWithinWatermarkViaStream]]: `dropDuplicatesWithinWatermark`.
  *
  * [[SessionStream]], [[TransitionStream]] and [[StreamDedup]] hold the
  * other four replays.
  */
object EdgeStream {

  final case class EdgeEvent(src: Long, dst: Long, ts: Timestamp)
  final case class VertexDegree(id: Long, outdeg: Long)

  /** Tumbling-window per-source edge counts; watermarked so state is
    * bounded (windows older than the watermark are finalized and evicted).
    */
  def windowedEdgeCounts(edges: DataFrame, windowLen: String = "1 minute",
                         watermark: String = "2 minutes"): DataFrame =
    edges
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("src"))
      .agg(count(lit(1)).as("edges"))
      .select(col("window.start").as("window_start"), col("src"),
        col("edges"))

  /** Watermark delay beyond any replay's time span (a year; the sf
    * tables span ~30 days): the watermark then evicts and drops nothing,
    * so the drained output is exactly the batch answer. */
  private val beyondSpan = "9000 hours"

  /** Run the windowed aggregation as a bounded Structured Streaming job and
    * return the final state: the events are re-written as `splits` parquet
    * files, streamed back one file per micro-batch, and a complete-mode
    * tumbling-window aggregation (1-hour windows per event type) maintains
    * counts + exact integer cent-sums across batches. After
    * Trigger.AvailableNow drains the source the memory sink holds exactly
    * the batch groupBy's answer — count/sum merges are order-independent.
    * Output is engine-agnostic on purpose: integer hour buckets (window
    * starts are hour-aligned, so epoch/3600 is exact) and value summed in
    * cents (round(value·100) as long — float sums never cross the oracle).
    */
  def windowedCountsViaStream(events: DataFrame, splits: Int = 4): DataFrame =
    Replay.toMemory(Replay.Split(events.select(col("ts").cast("timestamp"),
        col("event_type"), col("value")), splits), "complete") { open =>
      open()
        .withWatermark("ts", "2 hours") // production shape; complete mode
        // keeps all windows, so the bounded replay still yields the full agg
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .select((unix_timestamp(col("window.start")) / 3600).cast("long")
            .as("hour_bucket"),
          col("event_type"), col("n"), col("cents"))
    }

  /** Run [[runningOutDegrees]] as a bounded Structured Streaming job and
    * return its drained final state: edges re-written as `splits` parquet
    * files, streamed back one file per micro-batch, the
    * mapGroupsWithState counter emitting an update row per touched vertex
    * per batch into an update-mode memory sink. The counter is MONOTONE,
    * so the final state per vertex is exactly max(outdeg) over its update
    * rows ≡ the batch out-degree — the keyed-state analog of the
    * complete-mode replays above, and the oracle-checked gate for the
    * mapGroupsWithState path (`stream_degrees`).
    *
    * Driver-memory note (ADVICE r4): the update-mode memory sink retains
    * ONE ROW PER TOUCHED VERTEX PER MICRO-BATCH until the final max()
    * collapse — ≈ splits × |touched vertices| rows in driver memory.
    * Bounded and fine for this bench replay (splits = 4); to stream a
    * LARGE graph, aggregate per batch via foreachBatch (merge each batch's
    * updates into a keyed store) instead of retaining all update rows.
    */
  def runningDegreesViaStream(edges: DataFrame, splits: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Replay.toMemory(Replay.Split(edges.select(col("src"), col("dst")), splits),
        "update", _.groupBy("id").agg(max(col("outdeg")).as("outdeg"))) {
      open =>
        // fixed synthetic ts: the counter ignores event time (no watermark)
        runningOutDegrees(open().select(col("src"), col("dst"),
          lit(new Timestamp(0L)).as("ts")).as[EdgeEvent]).toDF()
    }
  }

  /** STREAM-STATIC join + aggregate — the dimension-enrichment shape every
    * streaming pipeline has (tail the edge log, join the slowly-changing
    * vertex dim, keep per-attribute rollups): the streamed edges are
    * equi-joined against the STATIC `dim` frame (`id`, `attr`) on src —
    * Spark plans the static side as a broadcast rebuilt per micro-batch,
    * so nothing streams twice and no state grows with the dim — then a
    * complete-mode aggregate keeps (attr, n_edges, wsum). After
    * Trigger.AvailableNow drains the replay the sink holds exactly the
    * batch join+groupBy answer (count/sum merges are order-independent),
    * which is what lets the batch SQL twin gate this shape. `weight`
    * must be integral (summed as long).
    */
  def enrichedEdgeCountsViaStream(edges: DataFrame, dim: DataFrame,
                                  splits: Int = 4): DataFrame = {
    val dimSt = dim.select(col("id").as("src"), col("attr"))
    Replay.toMemory(Replay.Split(edges.select(col("src"), col("dst"),
        col("weight").cast("long")), splits), "complete") { open =>
      open().join(dimSt, Seq("src"))
        .groupBy("attr")
        .agg(count(lit(1)).as("n_edges"), sum(col("weight")).as("wsum"))
    }
  }

  /** Streaming connected-components maintenance — the "edges arrive,
    * keep components current" production loop: edges replayed one file
    * per micro-batch, each batch folded into the running label table with
    * [[graft.algos.ConnectedComponents.incremental]] (component-graph
    * contraction — merge work O(|batch|), one label rewrite per batch,
    * never a from-scratch recompute). Incremental CC is confluent (the
    * cc_incr union-find spec pins fold ≡ from-scratch), so the drained
    * labels equal batch CC on the full edge set REGARDLESS of how the
    * stream partitioned the edges — which is what lets cc's closure
    * oracle gate this eighth streaming shape.
    *
    * Each fold is one `incremental` call on the batch's own session — the
    * streaming query's clone, whose shuffle-partition count is the
    * replay's clamped one. `incremental` runs all of the fold's actions
    * under the loop conf (AQE off, that partition count) on that session,
    * where it reaches the plans that execute (set on the caller's session
    * it would not), and returns its labels materialized and cut: bounded
    * lineage between batches, and state that survives the replay dir's
    * cleanup. At the ledger's scales a batch contracts to far fewer than
    * `Lineage.rowsPerPartition` rows, so every merge finishes on the
    * driver.
    */
  def ccViaStream(edges: DataFrame, splits: Int = 5): DataFrame =
    Replay.fold(Replay.Split(edges.select(col("src"), col("dst")), splits),
        edges.sparkSession.range(0)
          .select(col("id"), col("id").as("component"))) {
      (labels, batch) =>
        graft.algos.ConnectedComponents.incremental(labels, batch)
    }

  /** Streaming heavy hitters — the trending-items shape: top-k
    * destination vertices by edge count over the whole stream so far,
    * recomputed each micro-batch (complete output mode is the one mode
    * that permits a streaming sort+limit, and the state it keeps is the
    * per-vertex count map, not the stream). The final AvailableNow batch
    * therefore equals the batch `groupBy(dst).count` top-k under the same
    * deterministic (cnt DESC, id ASC) total order — count merges are
    * order-independent, which is what lets the batch SQL twin gate this
    * seventh streaming shape.
    */
  def topKCountsViaStream(edges: DataFrame, k: Int,
                          splits: Int = 4): DataFrame =
    Replay.toMemory(Replay.Split(edges.select(col("src"), col("dst")), splits),
        "complete") { open =>
      open().groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("id").asc).limit(k)
    }

  /** APPEND-mode windowed counts under a real watermark late-drop — the
    * one streaming semantics the complete-mode shapes above cannot show:
    * late rows are DROPPED and only watermark-finalized windows are
    * emitted. The bounded replay is fully deterministic so the result
    * crosses the DuckDB oracle gate:
    *
    *  - events are split into `splits` batches by `event_id % splits`
    *    (an explicit key, not a sampled range) and staged in that order
    *    ([[Replay.Ordered]]), so micro-batch k replays exactly batch k;
    *  - with one file per micro-batch, the LATE FILTER's watermark lags
    *    one batch: batch k is filtered with event-time stats through batch
    *    k−2 (AvailableNow pre-plans the batch sequence, so each watermark
    *    update takes effect one batch late — pinned empirically);
    *  - a row is dropped iff its window END ≤ that watermark (equality
    *    drops), while a window is appended iff its end ≤ the FINAL
    *    watermark, which sees every batch's stats via the trailing
    *    no-data batch — all three boundaries pinned by Wave26Spec with
    *    discriminating fixtures.
    *
    * Output: (hour_bucket, event_type, n) for finalized windows only.
    */
  def lateDropWindowCounts(events: DataFrame, splits: Int = 4,
                           delay: String = "1 hour"): DataFrame =
    Replay.toMemory(Replay.Ordered((0 until splits).map(k =>
        events.where(pmod(col("event_id"), lit(splits)) === k)
          .select(col("ts").cast("timestamp"), col("event_type")))),
        "append") { open =>
      open()
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select((unix_timestamp(col("window.start")) / 3600).cast("long")
            .as("hour_bucket"),
          col("event_type"), col("n"))
    }

  /** STREAM-STREAM windowed self-join — the one streaming join shape the
    * ledger's stream-static enrich cannot show: the event stream joined
    * to itself on user within a (0, 1 hour] event-time range. Both sides
    * carry a watermark far beyond the replay's time span
    * (`beyondSpan`), so no pair is
    * dropped and the drained append output is EXACTLY the batch
    * interval self-join — which is the oracle. The joined pairs land in
    * the sink and are aggregated batch-side to (t1, t2, n).
    *
    * Replay determinism: same event_id%splits ordered batches as
    * [[lateDropWindowCounts]]; the two join sides are two independent
    * sources over the same files. Join state is bounded by the replay
    * size here; in production the watermark bound is what evicts
    * buffered rows — the delay IS the state-size knob.
    */
  def pairJoinViaStream(events: DataFrame, splits: Int = 4): DataFrame =
    Replay.toMemory(Replay.Ordered((0 until splits).map(k =>
        events.where(pmod(col("event_id"), lit(splits)) === k)
          .select(col("event_id"), col("ts").cast("timestamp"),
            col("user_id"), col("event_type")))),
        "append", _.groupBy("t1", "t2").agg(count(lit(1)).as("n"))) { open =>
      def side(tag: String) = open()
        .select(col("event_id").as(s"id$tag"), col("ts").as(s"ts$tag"),
          col("user_id").as(s"u$tag"), col("event_type").as(s"t$tag"))
        .withWatermark(s"ts$tag", beyondSpan)
      side("1").join(side("2"),
        expr("u1 = u2 AND ts2 > ts1 AND ts2 <= ts1 + interval 1 hour"))
        .select(col("t1"), col("t2"))
    }

  /** `dropDuplicatesWithinWatermark` under a deterministic DUPLICATED
    * replay — the bounded-state streaming dedup API (Spark 3.5+) the
    * ledger's keyed-state dedup shapes don't exercise: every event is
    * written into TWO batches (`event_id % splits` and the following
    * batch), the stream dedups on event_id within a watermark beyond the
    * replay span, and the drained append output aggregated per type must
    * equal the plain batch counts — each duplicate dropped exactly once.
    * In production the watermark delay bounds the dedup state (ids older
    * than the horizon are forgotten); here it is sized to the span so the
    * gate is exact.
    */
  def dedupWithinWatermarkViaStream(events: DataFrame,
                                    splits: Int = 4): DataFrame =
    Replay.toMemory(Replay.Ordered((0 until splits).map(k =>
        events.where(pmod(col("event_id"), lit(splits)) === k ||
            pmod(col("event_id") + 1, lit(splits)) === k)
          .select(col("event_id"), col("ts").cast("timestamp"),
            col("event_type")))),
        "append", _.groupBy("event_type").agg(count(lit(1)).as("n"))) {
      open =>
        open()
          .withWatermark("ts", beyondSpan)
          .dropDuplicatesWithinWatermark("event_id")
    }

  /** Exact running out-degree per vertex in keyed state; emits the updated
    * degree for every vertex touched in a micro-batch (Update output mode).
    */
  def runningOutDegrees(events: Dataset[EdgeEvent]): Dataset[VertexDegree] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.src)
      .mapGroupsWithState[Long, VertexDegree](GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[EdgeEvent], state: GroupState[Long]) =>
          val updated = state.getOption.getOrElse(0L) + rows.size
          state.update(updated)
          VertexDegree(id, updated)
      }
  }
}
