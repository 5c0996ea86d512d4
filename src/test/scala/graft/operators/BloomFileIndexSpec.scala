package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bloom-skipping contract: no false negatives (every present id
  * is found through the index), real file skipping on an UNCLUSTERED
  * unique key (where min/max stats cannot prune), bounded index
  * size, and empty-handed lookups for absent ids. */
class BloomFileIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val B = BloomFileIndex

  test("no false negatives: every sampled present id is found via the index") {
    withIndexRoot("graft-bloom-spec") {
      val ids = graft.Tables(spark, sf, "events")
        .select("event_id").collect().map(_.getLong(0))
      // every 37th id — a broad sample without a full-corpus loop
      ids.grouped(37).map(_.head).foreach { id =>
        val found = B.lookup(spark, sf, id)
          .select("event_id").collect().map(_.getLong(0))
        assert(found.toSeq === Seq(id), s"id $id lost by the index path")
      }
    }
  }

  test("point lookups skip most files — the unclustered-key gap stats can't cover") {
    withIndexRoot("graft-bloom-spec") {
      val ids = graft.Tables(spark, sf, "events")
        .select("event_id").limit(40).collect().map(_.getLong(0))
      val rates = ids.map { id =>
        val (kept, total) = B.candidateFiles(spark, sf, id)
        assert(kept.nonEmpty && total === 16L)
        kept.length.toDouble / total
      }
      // one id lives in exactly one file; with FPR ~0.1% the average
      // candidate set must stay near 1 of 16
      assert(rates.sum / rates.length <= 0.2,
        s"bloom index barely skips: mean keep rate ${rates.sum / rates.length}")
    }
  }

  test("batched lookupAll equals the per-id loop row-for-row") {
    withIndexRoot("graft-bloom-spec") {
      val ids = graft.Tables(spark, sf, "events")
        .select("event_id").limit(9).collect().map(_.getLong(0)).toSeq
      val batched = B.lookupAll(spark, sf, ids)
        .select("event_id").collect().map(_.getLong(0)).sorted
      val looped = ids.flatMap(id =>
        B.lookup(spark, sf, id).select("event_id").collect().map(_.getLong(0)))
        .sorted
      assert(batched.toSeq === looped)
      assert(batched.toSeq === ids.sorted)
    }
  }

  test("absent ids return empty frames without scanning everything") {
    withIndexRoot("graft-bloom-spec") {
      val (kept, total) = B.candidateFiles(spark, sf, 999999999L)
      assert(kept.length < total,
        "an absent id must not qualify every file")
      assert(B.lookup(spark, sf, 999999999L).count() === 0L)
    }
  }

  test("a probe whose own hash bits collide still resolves (no constant-K false negative)") {
    // ~1 in 22k ids has two of its four salted bits equal; requiring
    // a constant K distinct bits would disqualify every file for such
    // an id — find a real one and prove the batched path stays sound
    val colliding = (0L to 200000L).find(id =>
      B.probeBits(id).distinct.size < B.K)
    assert(colliding.nonEmpty, "no colliding id below 200k — widen the search")
    withIndexRoot("graft-bloom-spec") {
      val present = graft.Tables(spark, sf, "events")
        .select("event_id").limit(1).head().getLong(0)
      val got = B.lookupAll(spark, sf, Seq(colliding.get, present))
        .select("event_id").collect().map(_.getLong(0)).toSet
      val expected = graft.Tables(spark, sf, "events")
        .where(col("event_id").isin(colliding.get, present))
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got === expected,
        s"colliding probe ${colliding.get} distorted the lookup")
    }
  }

  test("a layout append invalidates the index: appended ids stay findable") {
    withIndexRoot("graft-bloom-spec") {
      val p1 = B.ensure(spark, sf)
      // append a batch through the manifest layer (the layout's
      // advertised incremental path) — the index must key on the new
      // file set and rebuild, or the appended id would silently
      // false-negative (review catch: a source-only fingerprint
      // cannot see layout mutations)
      import spark.implicits._
      val batch = Seq((7777777L,
        java.sql.Timestamp.valueOf("2024-02-03 01:00:00"), 7L, "append", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      MinMaxManifest.appendBatch(spark, sf, batch)
      val p2 = B.ensure(spark, sf)
      assert(p2 !== p1, "a mutated layout must resolve to a fresh index")
      val found = B.lookup(spark, sf, 7777777L)
        .select("event_id").collect().map(_.getLong(0))
      assert(found.toSeq === Seq(7777777L),
        "the appended id must be findable through the rebuilt index")
    }
  }

  test("a rebuilt index retires the superseded one: one bloom directory remains") {
    withIndexRoot("graft-bloom-spec") {
      import spark.implicits._
      val p1 = B.ensure(spark, sf)
      val batch = Seq((7777778L,
        java.sql.Timestamp.valueOf("2024-02-03 02:00:00"), 7L, "append", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      MinMaxManifest.appendBatch(spark, sf, batch)
      val p2 = B.ensure(spark, sf)
      def blooms = new java.io.File(p2).getParentFile.getParentFile.getParentFile
        .listFiles().map(_.getName).filter(_.startsWith("bloom_event_id_")).toSeq
      assert(blooms === Seq(new java.io.File(p2).getParentFile.getParentFile.getName),
        s"expected only the current index beside $p1's retired one: $blooms")
      assert(!new java.io.File(p1).exists())
      assert(B.lookup(spark, sf, 7777778L).count() === 1L)
    }
  }

  test("index size is bounded by min(n*k, m) rows per file") {
    withIndexRoot("graft-bloom-spec") {
      val idx = spark.read.parquet(B.ensure(spark, sf))
      val bitRows = idx.groupBy("path").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // per-ACTUAL-file bound (range partitions are uneven): rows in
      // that file × K, capped by the bit-space size
      val layout = MinMaxManifest.scan(spark, sf)
        .groupBy(input_file_name().as("path")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      bitRows.foreach { case (p, c) =>
        val n = layout(p)
        assert(c <= math.min(n * B.K, B.MBits.toLong),
          s"file $p: $c bit rows exceed min(${n * B.K}, ${B.MBits})")
      }
      assert(idx.where(col("bit") < 0 || col("bit") >= B.MBits).count() === 0L)
    }
  }
}
