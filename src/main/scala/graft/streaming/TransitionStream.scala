package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming first-order transition mining — the keyed-state shape that
  * CANNOT be a windowed aggregate: each user's transition (prev_type →
  * cur_type) needs the event that arrived BEFORE the current micro-batch,
  * so per-user state must carry the last-seen event across batches
  * (flatMapGroupsWithState; `stream_degrees`' mapGroupsWithState cousin
  * with a non-trivial emission per input row).
  *
  * Exactness contract: batches are replayed as DISJOINT INCREASING time
  * ranges in order (the [[SessionStream]] chunk recipe on
  * [[Replay.Ordered]]) and each batch's rows are
  * sorted by (us, event_id) inside the group function, so the concatenated
  * per-user sequence equals the batch ordering and the emitted pair
  * multiset ≡ [[graft.events.Analytics.transitions]] — `stream_transitions`
  * shares `event_transitions`' DuckDB oracle verbatim.
  *
  * At production scale: state is ONE row per user (the last event),
  * shuffle is hash(user_id), emission is append-shaped (each transition
  * exactly once), and ordered arrival is the log's own property (Kafka
  * per-key order). The update-mode memory sink below retains one row per
  * TRANSITION for the bounded replay only — a real deployment writes them
  * to a sink as they emit.
  */
object TransitionStream {

  final case class Ev(user_id: Long, us: Long, event_id: Long,
                      event_type: String)
  final case class TPair(from_type: String, to_type: String)
  final case class LastEv(us: Long, event_id: Long, event_type: String)

  /** Per-user transition pairs with the last event carried in keyed state;
    * within a batch rows are sorted by (us, event_id) — exact iff batches
    * arrive in per-user time order (the replay harness guarantees it).
    */
  def transitionPairs(events: Dataset[Ev]): Dataset[TPair] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, TPair](OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[TPair]
          for (e <- sorted) {
            last.foreach(l => out += TPair(l.event_type, e.event_type))
            last = Some(LastEv(e.us, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Bounded replay of the `events` table in `splits` increasing time
    * chunks; returns (from_type, to_type, n) ≡ the batch transition table.
    */
  def transitionsViaStream(events: DataFrame, splits: Int = 4): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("us"),
        col("event_id"), col("event_type"))
      .localCheckpoint(true)
    val org.apache.spark.sql.Row(minUs: Long, maxUs: Long) =
      ev.agg(min("us"), max("us")).head()
    val span = math.max(maxUs - minUs, splits.toLong) + 1
    val chunks = (0 until splits).map { i =>
      val lo = minUs + span * i / splits
      val hi = minUs + span * (i + 1) / splits
      ev.where(col("us") >= lo && col("us") < hi)
    }
    Replay.toMemory(Replay.Ordered(chunks), "update",
        _.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))) {
      open => transitionPairs(open().as[Ev]).toDF()
    }
  }
}
