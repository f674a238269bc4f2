package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Streaming sessionization with Spark's native `session_window` — the
  * event-time analog of [[graft.events.Sessionize]]: events of one user
  * merge into a session while each arrives inside the previous event's
  * ts+gap, and a session is FINALIZED (emitted in append mode) once the
  * watermark passes its end. Batch and streaming spellings implement the
  * same merge rule, so `stream_sessions` shares `sessionize`'s DuckDB
  * oracle row-for-row.
  *
  * Bounded replay on [[Replay]], with two twists that APPEND-mode
  * session windows need:
  *
  *  1. the event log is staged as `splits` batches covering DISJOINT
  *     INCREASING time ranges, replayed in that order
  *     ([[Replay.Ordered]]), so the watermark only ever advances and no
  *     event is late (late-drop would silently lose sessions);
  *  2. TWO SENTINEL events (user_id −1) beyond max_ts + gap land in
  *     their own final files: the first pushes the watermark past every
  *     real session's end, and the second's batch — running under that
  *     advanced watermark — emits ALL real sessions from the state store
  *     (append emission happens in the batch AFTER a watermark advance;
  *     a trailing no-data batch usually does this too, but that depends
  *     on noDataMicroBatches being enabled — the second sentinel makes
  *     the flush unconditional). The sentinels' own still-open session
  *     is filtered out by user_id AFTER the sink snapshot — filtering
  *     inside the streaming query would be pushed below the
  *     EventTimeWatermark node into the scan, and the sentinels would
  *     never advance the watermark at all (measured: the final sessions
  *     then stay open forever; EventsSpec "sessionsViaStream replays the
  *     batch gap sessions exactly" pins the full flush).
  *
  * At production scale the same query runs unbounded: state per user is
  * one open session (evicted at watermark), shuffle is hash(user_id),
  * and the memory sink becomes a real sink. Session merges are
  * count/integer-cent sums — order-independent, so micro-batch
  * boundaries never change the answer.
  */
object SessionStream {

  def sessionsViaStream(events: DataFrame, gapSeconds: Long,
                        splits: Int = 4): DataFrame = {
    // LTZ cast under the UTC session = identity instant (parquet NTZ)
    val ev = events.select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
      .localCheckpoint(true)
    val Row(minUs: Long, maxUs: Long) = ev
      .agg(min(expr("unix_micros(ts)")), max(expr("unix_micros(ts)")))
      .head()
    val span = math.max(maxUs - minUs, splits.toLong) + 1
    val chunks = (0 until splits).map { i =>
      val lo = minUs + span * i / splits
      val hi = minUs + span * (i + 1) / splits
      ev.where(expr("unix_micros(ts)") >= lo && expr("unix_micros(ts)") < hi)
    }
    // TWO sentinels: the first advances the watermark past every real
    // session's end; append-mode emission happens in the batch AFTER a
    // watermark advance, so the second sentinel's batch is the one that
    // flushes all real sessions from the state store (without it, the
    // final sessions would still be open when AvailableNow stops).
    val sentinels = (0 to 1).map { k =>
      val sentinelUs = maxUs + (gapSeconds + 7200L * (k + 1)) * 1000000L
      ev.limit(1).select(lit(-1L).as("user_id"),
        expr(s"timestamp_micros(${sentinelUs}L)").as("ts"),
        lit(0.0).as("value"))
    }
    Replay.toMemory(Replay.Ordered(chunks ++ sentinels), "append",
        _.where(col("user_id") >= 0)) { open =>
      open()
        .withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), s"$gapSeconds seconds"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        // NB do NOT filter the sentinel here: a grouping-key predicate is
        // pushed below the EventTimeWatermark node into the scan, so the
        // sentinel rows would never advance the watermark (measured: the
        // final sessions stay open forever). Filtered after the snapshot.
        .select(col("user_id"),
          expr("unix_micros(session_window.start)").as("session_start_us"),
          col("n_events"), col("cents"))
    }
  }
}
