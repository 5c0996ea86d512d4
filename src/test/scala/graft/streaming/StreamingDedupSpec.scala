package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming incremental dedup: per-micro-batch asymmetric banded join
  * against the standing index, index grows with novel docs only. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = tmpDir(p)

  test("cross-batch near-dups are flagged against the standing index") {
    implicit val sql = spark.sqlContext
    val indexDir = tmp("sdedup-idx")
    val outDir = tmp("sdedup-out")
    val ckpt = tmp("sdedup-ckpt")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")

    val base = "the quick brown fox jumps over the lazy dog again and again today"
    // batch 1: two unrelated docs — both novel
    mem.addData((1L, base), (2L, "completely different content about query planners"))
    val q1 = StreamingDedup.run(docs, indexDir, outDir, ckpt)
    try q1.processAllAvailable() finally q1.stop()

    // batch 2: a near-dup of doc 1 (one token changed) + a novel doc
    val near = base.replace("today", "tonight")
    mem.addData((3L, near), (4L, "yet another topic entirely with new words"))
    val q2 = StreamingDedup.run(docs, indexDir, outDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) === None && out(2L) === None, "batch-1 docs are novel")
    assert(out(3L) === Some(1L),
      s"doc 3 must be flagged as a dup of doc 1, got ${out(3L)}")
    assert(out(4L) === None)

    // the index holds exactly the novel docs (dup 3 never entered)
    val idx = StreamingDedup.readIndex(spark, indexDir)
      .select($"corpus_id").as[Long].collect().toSet
    assert(idx === Set(1L, 2L, 4L))
  }

  test("same-batch near-dups: later id is flagged, only earlier enters index") {
    implicit val sql = spark.sqlContext
    val indexDir = tmp("sdedup-intra-idx")
    val outDir = tmp("sdedup-intra-out")
    val ckpt = tmp("sdedup-intra-ckpt")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")

    val base = "one two three four five six seven eight nine ten eleven twelve"
    // one micro-batch carrying a twin pair + an unrelated doc
    mem.addData((7L, base), (8L, base.replace("twelve", "thirteen")),
      (9L, "entirely unrelated content talking about parquet footers"))
    val q = StreamingDedup.run(docs, indexDir, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    val out = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(7L) === None, "earlier twin is novel")
    assert(out(8L) === Some(7L), s"later twin must point at 7, got ${out(8L)}")
    assert(out(9L) === None)
    val idx = StreamingDedup.readIndex(spark, indexDir)
      .select($"corpus_id").as[Long].collect().toSet
    assert(idx === Set(7L, 9L), "the flagged twin never enters the index")
  }

  test("streaming curation: scrub → gate → incremental dedup in one flow") {
    // the c10 funnel's streaming twin: one micro-batch pipeline where
    // the SAME shared expressions (PiiOps scrub, c01 gate ints) clean
    // the stream before the dedup index ever sees a byte
    implicit val sql = spark.sqlContext
    import graft.functions.{PiiOps, TextStats}
    val indexDir = tmp("scur-idx")
    val outDir = tmp("scur-out")
    val ckpt = tmp("scur-ckpt")
    val mem = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog entirely"
    mem.addData(
      (1L, base + " contact bob@mail.com"),  // PII: admit scrubbed
      (2L, "a a a a a a a a a a"),           // TTR gate drops it
      (3L, base + " contact bob@mail.com"))  // same-batch twin of 1
    val scrubbed = mem.toDS().toDF("doc_id", "text")
      .select($"doc_id", PiiOps.redact($"text").as("text"))
    val toks = TextStats.tokens($"text")
    val gated = scrubbed
      .where(size(toks) >= 5 &&
        (size(array_distinct(toks)).cast("double") / size(toks)) >= 0.3)
    val q = StreamingDedup.run(gated, indexDir, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    val out = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out.keySet === Set(1L, 3L), "the junk doc never reaches dedup")
    assert(out(1L) === None && out(3L) === Some(1L),
      "twin collapses onto the first scrubbed copy")
    // the index must hold the REDACTED text's tokens — no raw PII at rest
    val idxToks = StreamingDedup.readIndex(spark, indexDir)
      .select(explode($"toks").as("t")).as[String].collect().toSet
    assert(!idxToks.contains("bob@mail.com"))
    assert(idxToks.contains("[PII]"))
  }

  test("replaying a micro-batch is idempotent (no duplicate rows, same decisions)") {
    val indexDir = tmp("sdedup-replay-idx")
    val outDir = tmp("sdedup-replay-out")
    val b0 = Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel"))
      .toDF("doc_id", "text")
    StreamingDedup.processBatch(b0, 0L, indexDir, outDir)
    val b1 = Seq(
      (2L, "alpha bravo charlie delta echo foxtrot golf hotelx"),
      (3L, "fresh material no overlap with anything prior"))
      .toDF("doc_id", "text")
    StreamingDedup.processBatch(b1, 1L, indexDir, outDir)
    val once = spark.read.parquet(outDir).collect().toSeq.sortBy(_.getLong(0))
    // crash-after-write: the same batch runs again with the same id —
    // its own already-written index partition must not be re-matched
    StreamingDedup.processBatch(b1, 1L, indexDir, outDir)
    val twice = spark.read.parquet(outDir).collect().toSeq.sortBy(_.getLong(0))
    assert(twice === once, "replay must not change or duplicate decisions")
    val idx = StreamingDedup.readIndex(spark, indexDir)
      .select($"corpus_id").as[Long].collect().sorted.toSeq
    assert(idx === Seq(1L, 3L), "replay must not duplicate index entries")
  }

  test("built-in watermarked exact dedup: within-watermark replays drop, expired keys readmit") {
    // the Spark-native leg of the streaming-dedup family
    // (dropDuplicatesWithinWatermark, Spark 3.5+): exact key dedup
    // with state BOUNDED by the watermark — the API a pipeline uses
    // when at-least-once sources replay records and corpus-scale
    // standing state (StreamingDedup's banded index) is overkill.
    // The flip side of bounded state is a bounded guarantee: a
    // replay arriving after its key's state expired is readmitted —
    // asserted below, because that contract is the reason the
    // operator scales.
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    val deduped = mem.toDS().toDF("event_id", "ts", "payload")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      mem.addData((1L, t(0), "first"), (1L, t(1), "dup-same-batch"), (2L, t(2), "b"))
      q.processAllAvailable()
      mem.addData((1L, t(3), "dup-cross-batch"), (3L, t(4), "c"))
      q.processAllAvailable()
      // push event time far ahead: the watermark passes 1's state
      // expiry (seen@t3 + 10 min), so the very-late replay below is
      // READMITTED — the documented within-watermark-only guarantee
      mem.addData((9L, t(40), "advance"))
      q.processAllAvailable()
      mem.addData((1L, t(35), "after-expiry"))
      q.processAllAvailable()
      val out = spark.table("wm_dedup").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(out === Set(
        (1L, "first"), (2L, "b"), (3L, "c"), (9L, "advance"),
        (1L, "after-expiry")),
        s"got $out")
    } finally q.stop()
  }
}
