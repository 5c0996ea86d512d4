package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The shard-export contract: a directory per shard, no docs lost or
  * invented, hash-ascending order INSIDE each file (the reproducible
  * pseudo-random training order), and rebuild determinism. */
class ShardExportSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def withRoot[A](body: => A): A = {
    val dir = tmpDir("graft-shard-spec")
    sys.props("graft.index.dir") = dir
    try body
    finally sys.props.remove("graft.index.dir")
  }

  /** The committed shard layout part. */
  private def committed: String = {
    val p = ShardExport.path(sf)
    EnsureWatermark.current(p).getOrElse(fail("no committed shard layout"))
      .part(p, "data")
  }

  test("layout: one directory per shard; union is exactly the corpus") {
    withRoot {
      val shards = ShardExport.ensure(spark, sf)
      val dirs = new java.io.File(committed).listFiles()
        .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
      assert(dirs.length === ShardExport.NumShards,
        s"expected ${ShardExport.NumShards} shard dirs, got ${dirs.toSeq}")
      val docs = graft.Tables(spark, sf, "documents")
      assert(shards.count() === docs.count())
      assert(shards.select("doc_id").distinct().count() === docs.count(),
        "every doc must appear in exactly one shard")
    }
  }

  test("every file is internally sorted by the salted hash") {
    withRoot {
      ShardExport.ensure(spark, sf)
      // monotonically_increasing_id is ordered within a partition and
      // each parquet file reads as its own partition(s) here, so a
      // per-file (id order vs h order) comparison proves on-disk order
      val rows = spark.read.parquet(committed)
        .select(input_file_name().as("f"), col("h"),
          monotonically_increasing_id().as("rid"))
        .collect()
      rows.groupBy(_.getString(0)).foreach { case (f, rs) =>
        val byRead = rs.sortBy(_.getLong(2)).map(_.getLong(1))
        assert(byRead.sameElements(byRead.sorted),
          s"file $f is not hash-sorted on disk")
      }
    }
  }

  test("rebuild from scratch reproduces the identical layout") {
    withRoot {
      val a = ShardExport.ensure(spark, sf)
        .select("shard", "doc_id", "h").collect()
        .map(_.toString).sorted
      // force a rebuild in a fresh root
      val dir2 = tmpDir("graft-shard-spec-b")
      sys.props("graft.index.dir") = dir2
      val b = ShardExport.ensure(spark, sf)
        .select("shard", "doc_id", "h").collect()
        .map(_.toString).sorted
      assert(a.toSeq === b.toSeq,
        "shard assignment must be a pure function of the data")
    }
  }
}
