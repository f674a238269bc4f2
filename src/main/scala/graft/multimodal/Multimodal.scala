package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata. The Spark-side plumbing (schema, batching,
  * partitioning) is real; the actual byte decoding is STUBBED with a
  * deterministic fake (this container ships no image/audio codecs) and
  * clearly marked — swap `fakeDecode` for a real codec call outside the
  * sandbox.
  */
object Multimodal {

  /** Typed metadata produced per asset by the (stubbed) decoder. */
  final case class AssetMeta(doc_id: Long, n_bytes: Long, checksum: String,
                             width: Int, height: Int, n_frames: Int)

  final case class RawAsset(doc_id: Long, payload: Array[Byte])

  /** Attach an opaque binary payload column. In production this is the
    * parquet/Iceberg binary column itself; here it is the UTF-8 bytes of
    * the first 64 characters of `text`, so the plumbing is testable
    * end-to-end.
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(substring(col("text"), 1, 64), "utf-8"))

  /** === STUB ===
    * Deterministic fake decode standing in for an image/audio codec: fake
    * dimensions derive from payload bytes. Replace the body with e.g. a
    * JNI/codec call; the signature and batch shape are the real contract.
    */
  private def fakeDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val h = payload.foldLeft(1125899906842597L)((a, b) => a * 31 + b)
    (((h & 0x3ff) + 16).toInt, (((h >> 10) & 0x3ff) + 16).toInt,
      ((h >> 20) & 0xff).toInt + 1)
  }

  /** Batched decode via mapPartitions: one partition = one decode batch
    * (amortizes per-batch codec setup exactly like mapInPandas batches).
    * Output is a typed Dataset[AssetMeta] — schema checked at compile time.
    */
  def decodeMeta(withPayloadDf: DataFrame): Dataset[AssetMeta] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf
      .select(col("doc_id").cast("long").as("doc_id"), col("payload"))
      .as[RawAsset]
      .mapPartitions { batch =>
        // per-partition decoder init would go here (real codec handle)
        batch.map { a =>
          val (w, h, f) = fakeDecode(a.payload)
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(a.payload).map("%02x".format(_)).mkString
          AssetMeta(a.doc_id, a.payload.length.toLong, hex, w, h, f)
        }
      }
  }

  /** Strided frame sampling over the opaque binary payload — the
    * video-style keyframe-extraction shape (segment the byte stream into
    * fixed `frameBytes` frames, keep every `stride`-th, fingerprint each):
    * REAL byte-level plumbing end to end, no stub — `substring` on
    * BinaryType slices bytes, `length` counts bytes, `md5` digests the
    * slice, all codegen'd expressions. A real codec swaps in at the frame
    * boundary without touching the plan (per-frame rows are exactly what a
    * decode UDF batches over). The last frame may be short; every
    * document's payload is ≥ 1 byte, so `sequence` never descends.
    * Shuffle-free: one explode per row, everything else per-row
    * expressions.
    */
  def frameSample(docs: DataFrame, frameBytes: Int = 16,
                  stride: Int = 4): DataFrame = {
    require(frameBytes >= 1 && stride >= 1,
      s"frameBytes/stride must be >= 1, got $frameBytes/$stride")
    withPayload(docs)
      .select(col("doc_id"), col("payload"),
        expr(s"(length(payload) + ${frameBytes - 1}) div $frameBytes")
          .cast("long").as("__nframes"))
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0L), col("__nframes") - 1L)).as("frame_idx"))
      .where(col("frame_idx") % stride === 0)
      .select(col("doc_id"), col("frame_idx"),
        length(expr(s"substring(payload, frame_idx * $frameBytes + 1, " +
          s"$frameBytes)")).cast("long").as("frame_bytes"),
        md5(expr(s"substring(payload, frame_idx * $frameBytes + 1, " +
          s"$frameBytes)")).as("frame_md5"))
  }

  /** Pure-expression metadata (no stub): byte length, md5, deterministic
    * fake frame count — the oracle-checkable slice of the multimodal path.
    */
  def payloadMeta(docs: DataFrame): DataFrame =
    withPayload(docs)
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("payload_bytes"),
        md5(col("payload")).as("payload_md5"),
        (floor(length(col("payload")) / lit(16)) + 1).as("n_frames"))
}
