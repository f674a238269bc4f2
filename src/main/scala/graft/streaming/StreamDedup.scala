package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Streaming near-dup detection for a continuously-arriving document log:
  * per-row minhash band buckets + stateful first-seen dedup.
  *
  * The batch minhash path ([[graft.dedup.Dedup.minhashBucketsXx]]) computes
  * signatures as a wide aggregate over exploded shingle rows — the fastest
  * batch shape, but it needs a groupBy over the whole doc's rows. A stream
  * wants a PER-ROW signature instead (no shuffle, no state, works in append
  * mode); here that is transform/array_min over the in-row shingle array.
  * Interpreted HOF evaluation is the price — acceptable per-row on a
  * stream, wrong for the batch hot path (measured 40×, BASELINE.md).
  * Both spellings compute the IDENTICAL (doc_id, band, bucket) values —
  * asserted in StreamDedupSpec — so stream-bucketed docs can be joined
  * against batch-built bucket tables directly.
  */
object StreamDedup {

  /** Per-row (doc_id, band, bucket) minhash band buckets — value-identical
    * to `Dedup.minhashBucketsXx(docs, n, bands, rowsPerBand)`. Works on
    * streaming DataFrames (no aggregation, no watermark needed).
    */
  def minhashBucketsPerRow(docs: DataFrame, n: Int, bands: Int,
                           rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sh: Column = TextOps.shingles(TextOps.tokens(col("text")), n)
    val hCols = (0 until numHashes).map { i =>
      array_min(transform(col("__sh"), s => xxhash64(lit(i), s))).as(s"h$i")
    }
    val bandCols = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      xxhash64(rows: _*).as(s"b$b")
    }
    val stackArgs = (0 until bands).map(b => s"$b, b$b").mkString(", ")
    docs.select(col("doc_id"), sh.as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("doc_id") +: hCols: _*)
      .select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", s"stack($bands, $stackArgs) AS (band, bucket)")
  }

  /** Per-row md5 minhash signatures — value-identical to the batch
    * [[graft.dedup.Dedup.minhashSignatures]] over the same docs (asserted
    * in StreamDedupSpec), but computed row-local (transform/array_min over
    * the in-row shingle array): no shuffle, no state, append-mode safe.
    * Interpreted-HOF cost is acceptable per-row on a stream — never use
    * this spelling on the batch hot path (measured 40×, BASELINE.md).
    * Output: (doc_id, i, h) with i cast to LONG for oracle parity.
    */
  def signaturesPerRowMd5(docs: DataFrame, n: Int,
                          numHashes: Int): DataFrame = {
    val sh: Column = TextOps.shingles(TextOps.tokens(col("text")), n)
    val hCols = (0 until numHashes).map { i =>
      array_min(transform(col("__sh"), s => md5(concat(lit(s"$i:"), s))))
        .as(s"h$i")
    }
    val stackArgs = (0 until numHashes).map(i => s"$i, h$i").mkString(", ")
    docs.select(col("doc_id"), sh.as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("doc_id") +: hCols: _*)
      .selectExpr("doc_id", s"stack($numHashes, $stackArgs) AS (i, h)")
      .select(col("doc_id"), col("i").cast("long").as("i"), col("h"))
  }

  /** Run minhash as a bounded Structured Streaming job and return the
    * drained signatures: documents re-written as `splits` parquet files,
    * streamed back one file per micro-batch, signatures computed PER
    * MICRO-BATCH with the codegen'd batch wide-agg
    * ([[graft.dedup.Dedup.minhashSignatures]]) inside `foreachBatch`, each
    * batch's table pinned and appended to the result. Each document
    * arrives whole in one row, so the per-batch aggregation is exact and
    * NO cross-batch state exists. After Trigger.AvailableNow drains the
    * source the result is exactly the batch md5 signature table, so the
    * driver gate pins this path to DuckDB (`stream_minhash`).
    *
    * Why not the row-local [[signaturesPerRowMd5]] inside the stream?
    * Measured (BASELINE.md "stream_minhash 29.2 → ~7 s": sf0.1, 5000
    * docs, 3 reps): the 16 interpreted-HOF md5 passes cost ~25 s whether
    * run as a batch or in the stream, while this spelling's per-batch
    * shuffle + codegen'd agg runs the same replay in ~5–9 s — the
    * streaming machinery itself is ~2 s. The per-row spelling remains the
    * right tool only when a pipeline genuinely cannot shuffle (e.g.
    * joining arriving rows against batch bucket tables in strict append
    * mode).
    */
  def minhashViaStream(docs: DataFrame, n: Int, numHashes: Int,
                       splits: Int = 4): DataFrame = {
    def signatures(batch: DataFrame) = graft.dedup.Dedup.minhashSignatures(
        TextOps.shingleRows(batch, n), numHashes)
      .select(col("doc_id"), col("i").cast("long").as("i"), col("h"))
    val staged = docs.select(col("doc_id"), col("text"))
    Replay.fold(Replay.Split(staged, splits), signatures(staged.limit(0))) {
      (acc, batch) => acc.union(signatures(batch).localCheckpoint(true))
    }.localCheckpoint(true)
  }

  /** Streaming exact dedup: keeps the first doc_id seen per content digest
    * in keyed state and emits (doc_id, keep_id, is_duplicate) per arriving
    * document — the streaming analog of `Dedup.exact`. State is keyed by
    * (xxhash64, md5) digest, never by document text.
    */
  def firstSeen(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"),
        concat_ws(":", xxhash64(col("text")), md5(col("text")))
          .as("digest"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .mapGroupsWithState[Long, Seq[(Long, Long, Boolean)]](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val sorted = rows.map(_._1).toSeq.sorted
          val keep = state.getOption.getOrElse(sorted.head)
          if (!state.exists) state.update(keep)
          sorted.map(id => (id, keep, id != keep))
      }
      .flatMap(identity)
      .toDF("doc_id", "keep_id", "is_duplicate")
  }

  /** Run exact dedup as a bounded Structured Streaming job and return the
    * final result: the documents are re-written as `splits` parquet files,
    * streamed back one file per micro-batch, and a complete-mode stateful
    * aggregation maintains (min doc_id, count) per content digest across
    * batches. After Trigger.AvailableNow drains the
    * source, the memory sink holds exactly `Dedup.exact`'s answer — min/count
    * are order-independent merges, so the result is identical no matter how
    * the rows were batched. State is keyed by digest, never document bytes.
    */
  def exactViaStream(docs: DataFrame, splits: Int = 4): DataFrame =
    Replay.toMemory(Replay.Split(docs.select(col("doc_id"), col("text")),
        splits), "complete") { open =>
      open()
        .select(col("doc_id"),
          xxhash64(col("text")).as("__hx"), md5(col("text")).as("__hm"))
        .groupBy("__hx", "__hm")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
        .select("keep_id", "dup_cnt")
    }
}
