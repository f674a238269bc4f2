package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.dedup.Dedup
import graft.streaming.StreamDedup

/** Streaming dedup operators: per-row minhash buckets must be
  * value-identical to the batch wide-agg path (so stream and batch bucket
  * tables are joinable), and first-seen state dedup must survive
  * micro-batch boundaries.
  */
class StreamDedupSpec extends SparkSpec {

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"),
    (3L, "an entirely different document about catalyst planning"),
    (4L, "short one"))

  test("per-row minhash buckets == batch wide-agg buckets, value for value") {
    val s = spark
    import s.implicits._
    val df = docs.toDF("doc_id", "text")
    def collect(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = collect(Dedup.minhashBucketsXx(df, 3, 8, 2))
    val perRow = collect(StreamDedup.minhashBucketsPerRow(df, 3, 8, 2))
    assert(perRow === batch)
  }

  test("per-row buckets run on an actual stream in append mode") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamDedup.minhashBucketsPerRow(
        input.toDF().toDF("doc_id", "text"), 3, 8, 2)
      .writeStream.format("memory").queryName("stream_buckets")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = s.table("stream_buckets").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batch = Dedup.minhashBucketsXx(docs.toDF("doc_id", "text"), 3, 8, 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === batch)
      // identical docs land in identical buckets in every band
      val b1 = got.filter(_._1 == 1L).map(t => (t._2, t._3))
      val b2 = got.filter(_._1 == 2L).map(t => (t._2, t._3))
      assert(b1 === b2)
    } finally q.stop()
  }

  test("per-row md5 signatures == batch wide-agg signatures; replay drains") {
    val s = spark
    import s.implicits._
    val df = docs.toDF("doc_id", "text")
    def collect(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = Dedup.minhashSignatures(
        graft.text.TextOps.shingleRows(df, 3), 16)
      .select($"doc_id", $"i".cast("long"), $"h")
    val perRow = collect(StreamDedup.signaturesPerRowMd5(df, 3, 16))
    assert(perRow === collect(batch))
    // the bounded-replay gate path drains to exactly the same table
    val streamed = collect(StreamDedup.minhashViaStream(df, 3, 16))
    assert(streamed === perRow)
  }

  test("firstSeen keeps the first id per digest across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamDedup.firstSeen(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("first_seen")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((1L, "aaa"), (3L, "bbb"))
      q.processAllAvailable()
      input.addData((2L, "aaa")) // duplicate of doc 1, later batch
      q.processAllAvailable()
      val rows = s.table("first_seen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(rows === Set((1L, 1L, false), (3L, 3L, false), (2L, 1L, true)))
    } finally q.stop()
  }
}
