package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The result-cache contract: identical plans over unchanged sources
  * hit (served from the entry, row order preserved, source never
  * rescanned); any semantic difference or source mutation re-keys;
  * plans whose data lives outside the canonicalized string never
  * cache. */
class ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def writeTable(dir: String): Unit =
    (1L to 500L).map(i => (i % 7, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("miss then hit: the entry serves, ordered, without rescanning the source") {
    withIndexRoot("graft-rc") {
      val dir = tmpDir("graft-rc-data")
      writeTable(dir)
      def shape = graft.Tables(spark, dir, "t")
        .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
        .orderBy($"k".desc)
      val (first, hit1) = ResultCache.through(spark, shape)
      val firstRows = first.collect().map(_.toString).toSeq
      assert(!hit1, "a cold cache must miss")
      val (second, hit2) = ResultCache.through(spark, shape)
      assert(hit2, "the identical plan must hit")
      assert(second.inputFiles.forall(_.contains("result_cache")),
        "a hit must not touch the source table")
      assert(second.collect().map(_.toString).toSeq === firstRows,
        "row ORDER survives the cache (coalesce(1) write)")
      // a rebuilt session-independent equivalent also hits: the
      // canonicalized plan normalizes exprIds
      assert(ResultCache.through(spark, shape)._2)
    }
  }

  test("semantic differences and source mutations re-key; never a stale serve") {
    withIndexRoot("graft-rc-inv") {
      val dir = tmpDir("graft-rc-inv-data")
      writeTable(dir)
      def shapeLt(cut: Long) = graft.Tables(spark, dir, "t")
        .where($"v" <= cut).groupBy($"k").agg(count(lit(1)).as("n"))
        .orderBy($"k")
      assert(!ResultCache.through(spark, shapeLt(100L))._2)
      assert(ResultCache.through(spark, shapeLt(100L))._2)
      // a different literal is a different plan
      assert(!ResultCache.through(spark, shapeLt(200L))._2)
      // mutate the source: the stamp changes, the old entry is dead
      (1L to 600L).map(i => (i % 7, i)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val (fresh, hit) = ResultCache.through(spark, shapeLt(100L))
      assert(!hit, "a mutated source must miss")
      assert(fresh.agg(sum($"n")).head().getLong(0) === 100L)
    }
  }

  test("the sweep keeps the newest entries; a swept live entry just re-misses") {
    withIndexRoot("graft-rc-sweep") {
      val dir = tmpDir("graft-rc-sweep-data")
      writeTable(dir)
      def shape(cut: Long) = graft.Tables(spark, dir, "t")
        .where($"v" <= cut).groupBy($"k").agg(count(lit(1)).as("n"))
      (1L to 4L).foreach(c => ResultCache.through(spark, shape(c * 50)))
      assert(ResultCache.sweep(spark, maxEntries = 2) === 2)
      assert(ResultCache.sweep(spark, maxEntries = 2) === 0, "idempotent")
      // a swept entry is a MISS, never a wrong answer
      val (df, hit) = ResultCache.through(spark, shape(50))
      assert(df.agg(sum($"n")).head().getLong(0) === 50L)
    }
  }

  test("time-dependent and non-deterministic plans never cache") {
    withIndexRoot("graft-rc-time") {
      val dir = tmpDir("graft-rc-time-data")
      writeTable(dir)
      // current_timestamp canonicalizes identically across runs while
      // its VALUE moves: a second run would hit and serve the earlier
      // moment's rows — so it must never enter the cache
      def nowShape = graft.Tables(spark, dir, "t")
        .where(current_timestamp() > lit("2000-01-01").cast("timestamp"))
        .groupBy($"k").agg(count(lit(1)).as("n"))
      assert(!ResultCache.through(spark, nowShape)._2)
      assert(!ResultCache.through(spark, nowShape)._2,
        "a time-dependent plan must MISS every run")
      def dateShape = graft.Tables(spark, dir, "t")
        .select($"k", current_date().as("d"))
      assert(!ResultCache.through(spark, dateShape)._2)
      assert(!ResultCache.through(spark, dateShape)._2)
      def randShape = graft.Tables(spark, dir, "t")
        .where(rand() >= 0.0).groupBy($"k").agg(count(lit(1)).as("n"))
      assert(!ResultCache.through(spark, randShape)._2)
      assert(!ResultCache.through(spark, randShape)._2,
        "non-deterministic plans are uncacheable")
      // and the screen must not over-fire: a deterministic timestamp
      // LITERAL still caches
      def litShape = graft.Tables(spark, dir, "t")
        .where(lit("2000-01-01").cast("timestamp") < lit("2001-01-01").cast("timestamp"))
        .groupBy($"k").agg(count(lit(1)).as("n")).orderBy($"k")
      assert(!ResultCache.through(spark, litShape)._2)
      assert(ResultCache.through(spark, litShape)._2,
        "deterministic plans keep hitting")
    }
  }

  test("staged-write commit: a lost publish race discards the stage and serves the winner") {
    withIndexRoot("graft-rc-race") {
      val dir = tmpDir("graft-rc-race-data")
      writeTable(dir)
      val shape = graft.Tables(spark, dir, "t")
        .groupBy($"k").agg(count(lit(1)).as("n")).orderBy($"k")
      val expected = shape.collect().map(_.toString).toSeq
      def commit(key: String): Boolean =
        EnsureWatermark.commit(ResultCache.cachePath(key), key)(
          shape.coalesce(1).write.parquet(_))
      def children(key: String): Seq[String] =
        new java.io.File(ResultCache.cachePath(key)).list().toSeq
          .filterNot(_.startsWith(".")).sorted
      def served(key: String): Seq[String] =
        spark.read.parquet(ResultCache.entry(key).getOrElse(fail(s"no $key entry")))
          .collect().map(_.toString).toSeq
      // deterministic loser leg: the concurrent miss's stamp lands
      // while this writer's version (its stage) is complete but not
      // yet stamped — its stamp name is then taken, so it must delete
      // its version and report false, never overwrite the winner
      val lost = !EnsureWatermark.commit(ResultCache.cachePath("race_entry"),
          "race_entry") { part =>
        shape.coalesce(1).write.parquet(part)
        assert(commit("race_entry"), "the concurrent writer commits")
      }
      assert(lost, "the writer whose stamp name was taken loses")
      assert(!commit("race_entry"), "a later writer finds the entry and never overwrites")
      assert(children("race_entry").size === 2 &&
        children("race_entry").contains("_GRAFT_STAMP.1"),
        s"one stamp and one version; the loser's stage is deleted: ${children("race_entry")}")
      assert(served("race_entry") === expected)
      // torn leftovers never wedge the commit: a directory with no
      // stamp (an older layout's junk) reads as a miss, and the commit
      // lands and retires it
      val torn = ResultCache.cachePath("torn_entry")
      new java.io.File(torn, "junk").mkdirs()
      assert(ResultCache.entry("torn_entry").isEmpty)
      assert(commit("torn_entry"), "torn junk is retired and the commit lands")
      assert(!children("torn_entry").contains("junk"))
      assert(served("torn_entry") === expected)
      // ...and a committed entry whose part lost its _SUCCESS reads as
      // a miss and re-commits in place, retiring the torn version
      val part = ResultCache.entry("torn_entry").get
      assert(new java.io.File(part, "_SUCCESS").delete())
      assert(ResultCache.entry("torn_entry").isEmpty, "a torn entry must not serve")
      assert(commit("torn_entry"))
      assert(children("torn_entry").size === 2 &&
        children("torn_entry").contains("_GRAFT_STAMP.2"))
      assert(served("torn_entry") === expected)
    }
  }

  test("two concurrent misses on one key: both serve correct rows, one committed entry, no stage leaks") {
    withIndexRoot("graft-rc-conc") {
      val dir = tmpDir("graft-rc-conc-data")
      writeTable(dir)
      def shape = graft.Tables(spark, dir, "t")
        .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
        .orderBy($"k")
      val expected = shape.collect().map(_.toString).toSeq
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futures = (1 to 2).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Seq[String]] {
            override def call(): Seq[String] = {
              barrier.await()
              ResultCache.through(spark, shape)._1.collect().map(_.toString).toSeq
            }
          })
        }
        futures.foreach(f => assert(f.get() === expected,
          "every racer serves the correct rows, whichever commit won"))
      } finally pool.shutdown()
      val (fs, root) = IndexStore.fsOf(s"${IndexStore.root}/result_cache")
      val entries = fs.listStatus(root).map(_.getPath.getName)
      assert(entries.length === 1, s"exactly one committed entry, got ${entries.toSeq}")
      val entry = fs.listStatus(root).head.getPath
      assert(fs.listStatus(entry).count(_.getPath.getName.startsWith("v_")) === 1,
        "the losing miss's version is deleted, not leaked")
      assert(ResultCache.through(spark, shape)._2, "the committed entry serves the next identical plan")
    }
  }

  test("plans with non-file leaves compute directly and never cache") {
    withIndexRoot("graft-rc-local") {
      val local = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
        .groupBy($"s").agg(count(lit(1)).as("n"))
      assert(!ResultCache.through(spark, local)._2)
      assert(!ResultCache.through(spark, local)._2,
        "a LocalRelation's data is outside the canonicalized string — caching it could serve another frame's rows")
    }
  }
}
