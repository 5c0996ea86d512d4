package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Snapshot upsert: version wins, delta breaks ties (idempotent
  * replays), and the partition-pruning helper touches only
  * delta-adjacent partitions. */
class SnapshotMergeSpec extends SparkSpec {
  import spark.implicits._

  test("latestWins: highest version per key; delta wins version ties") {
    val base = Seq((1L, "old", 1), (2L, "keep", 5), (3L, "stale", 1))
      .toDF("k", "v", "version")
    val delta = Seq((1L, "new", 2), (2L, "replay", 5), (4L, "insert", 1))
      .toDF("k", "v", "version")
    val out = SnapshotMerge.latestWins(base, delta, "k", "version")
      .orderBy($"k").as[(Long, String, Int)].collect()
    assert(out.toSeq == Seq(
      (1L, "new", 2),      // higher version
      (2L, "replay", 5),   // tie -> delta (replay idempotence)
      (3L, "stale", 1),    // untouched
      (4L, "insert", 1)))  // new key
    assert(!out.map(_._1).groupBy(identity).exists(_._2.length > 1))
  }

  test("applyCdc: tombstone algebra — delete, reinsert above delete, stale delete no-op") {
    val base = Seq((1L, "live", 1), (2L, "live", 1), (3L, "live", 5),
      (4L, "keep", 1)).toDF("k", "v", "version")
    val delta = Seq(
      (1L, "x", 2, "delete"),      // tombstone above live → key gone
      (2L, "x", 2, "delete"),      // tombstone…
      (2L, "back", 3, "upsert"),   // …outranked by reinsert → key back
      (3L, "x", 2, "delete"),      // stale tombstone below live v5 → no-op
      (5L, "x", 9, "delete"))      // delete of a never-seen key → nothing
      .toDF("k", "v", "version", "op")
    val out = SnapshotMerge.applyCdc(base, delta, "k", "version")
      .orderBy($"k").as[(Long, String, Int)].collect()
    assert(out.toSeq === Seq(
      (2L, "back", 3),  // delete-then-reinsert ordering
      (3L, "live", 5),  // stale delete ignored
      (4L, "keep", 1))) // untouched
    // replaying the same delta is idempotent
    val replay = SnapshotMerge.applyCdc(base, delta.unionAll(delta), "k", "version")
      .orderBy($"k").as[(Long, String, Int)].collect()
    assert(replay.toSeq === out.toSeq)
  }

  test("scd2Intervals: well-formed chains; as-of max version == applyCdc snapshot") {
    val base = Seq((1L, "a", 1), (2L, "a", 1), (3L, "a", 1))
      .toDF("k", "v", "version")
    val delta = Seq(
      (1L, "b", 2, "upsert"),   // plain attribute change
      (2L, "x", 2, "delete"),   // close the chain
      (2L, "c", 3, "upsert"),   // reopen (reinsert above tombstone)
      (4L, "d", 2, "upsert"))   // key born in the delta
      .toDF("k", "v", "version", "op")
    val iv = SnapshotMerge.scd2Intervals(base, delta, "k", "version")
      .select($"k", $"v", $"version", $"valid_to", $"alive", $"is_current")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)), r.getBoolean(4), r.getBoolean(5)))
    // chain shape: per key, intervals tile the version axis — each
    // valid_to equals the next valid_from, exactly one open interval
    iv.groupBy(_._1).foreach { case (k, rows) =>
      val sorted = rows.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3),
          s"key $k: interval [${a._3}, ${a._4}) not closed by ${b._3}")
        case _ =>
      }
      assert(sorted.count(_._4.isEmpty) === 1, s"key $k: exactly one open interval")
      assert(sorted.init.forall(!_._6), s"key $k: only the last interval may be current")
    }
    // the reinserted key's history: alive, dead, alive
    val k2 = iv.filter(_._1 == 2L).sortBy(_._3).map(_._5).toSeq
    assert(k2 === Seq(true, false, true), s"key 2 liveness chain was $k2")
    // as-of the max version, the SCD2 view must reproduce the snapshot
    val maxV = 3
    val asOf = iv.filter(r => r._3 <= maxV && r._4.forall(_ > maxV) && r._5)
      .map(r => (r._1, r._2, r._3)).sortBy(_._1).toSeq
    val snap = SnapshotMerge.applyCdc(base, delta, "k", "version")
      .orderBy($"k").as[(Long, String, Int)].collect().toSeq
    assert(asOf === snap,
      "SCD2 as-of(max) must equal the applyCdc snapshot")
  }

  test("resolution is deterministic for distinct rows sharing (key, version)") {
    // (version, origin) alone leaves this winner unspecified; the
    // row-hash tie-break must pick the same row regardless of input
    // order
    val base = Seq((1L, "base", 0)).toDF("k", "v", "version")
    val rows = Seq((1L, "alpha", 7), (1L, "beta", 7))
    val fwd = SnapshotMerge.latestWins(base, rows.toDF("k", "v", "version"),
      "k", "version").as[(Long, String, Int)].head()
    val rev = SnapshotMerge.latestWins(base, rows.reverse.toDF("k", "v", "version"),
      "k", "version").as[(Long, String, Int)].head()
    assert(fwd === rev)
  }

  test("touchedPartitionValues: only partitions holding delta keys") {
    val base = Seq((1L, "2024-01"), (2L, "2024-01"), (3L, "2024-02"),
      (4L, "2024-03")).toDF("k", "month")
    val delta = Seq((3L, "x"), (99L, "y")).toDF("k", "v")
    val touched = SnapshotMerge
      .touchedPartitionValues(base, delta, "k", col("month"))
      .as[String].collect().sorted
    assert(touched.toSeq == Seq("2024-02"))
  }

  test("pruneToTouchedPartitions: reader-level pruning, maintenance-equal result") {
    val dir = tmpDir("prune-base") + "/t"
    Seq((1L, "a", 10, 1, "2024-01"), (2L, "a", 20, 1, "2024-01"),
      (3L, "b", 30, 1, "2024-02"), (4L, "b", 40, 1, "2024-03"))
      .toDF("k", "g", "x", "version", "month")
      .write.partitionBy("month").parquet(dir)
    val base = spark.read.parquet(dir)
    val delta = Seq((3L, "b", 35, 2, "upsert"))
      .toDF("k", "g", "x", "version", "op")

    val pruned = SnapshotMerge.pruneToTouchedPartitions(base, delta, "k", "month")
    // the predicate must land as a PARTITION filter (reader skips
    // directories), not a post-scan row filter
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-02"), scan)
    assert(pruned.select($"month").distinct().as[String].collect().toSeq
      == Seq("2024-02"))

    // maintenance over the pruned base equals the full recompute:
    // untouched partitions' rows are exactly the untouched-group /
    // still-winning cases that net 0 anyway
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"g").agg(count(lit(1)).as("n"), sum($"x").cast("long").as("total"))
    val maintained = IncrementalRollup.maintain(
      rollup(base), pruned.drop("month"), delta, "k", "version",
      Seq("g"), Seq("n" -> lit(1L), "total" -> $"x".cast("long")),
      liveCount = "n")
      .orderBy($"g").as[(String, Long, Long)].collect().toSeq
    val recomputed = rollup(
      SnapshotMerge.applyCdc(base.drop("month"), delta, "k", "version"))
      .orderBy($"g").as[(String, Long, Long)].collect().toSeq
    assert(maintained === recomputed)
    assert(maintained === Seq(("a", 2L, 30L), ("b", 2L, 75L)))
  }

  test("changeFeed: applying the feed to the from-state reconstructs the to-state") {
    // the consumer-side soundness proof: state(to) = state(from)
    //   minus deleted/pre-image keys, plus inserted/post-image rows —
    // and unchanged keys never appear in the feed
    val base = Seq(
      (1L, "a", 1), (2L, "b", 1), (3L, "c", 1), (4L, "d", 1))
      .toDF("k", "v", "version")
    val delta = Seq(
      (1L, "a2", 3, "upsert"),   // update
      (2L, "b", 2, "delete"),    // delete
      (5L, "e", 4, "upsert"))    // insert (arrives after fromV)
      .toDF("k", "v", "version", "op")
    val iv = SnapshotMerge.scd2Intervals(base, delta, "k", "version")
    val feed = SnapshotMerge.changeFeed(iv, "k", "version", 1L, 4L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(feed.toSet === Set(
      ("insert", 5L, "e"),
      ("delete", 2L, "b"),
      ("update_preimage", 1L, "a"),
      ("update_postimage", 1L, "a2")),
      s"feed was ${feed.toSeq}")
    // key 3/4 unchanged -> absent; reconstruct state(4) from state(1)
    def stateAt(v: Long) = iv
      .where(col("version") <= v &&
        (col("valid_to").isNull || col("valid_to") > v) && col("alive"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val from = stateAt(1L)
    val applied = (from
      -- feed.collect { case ("delete", k, _) => k }
      -- feed.collect { case ("update_preimage", k, _) => k }) ++
      feed.collect { case ("insert", k, v) => k -> v } ++
      feed.collect { case ("update_postimage", k, v) => k -> v }
    assert(applied === stateAt(4L),
      "feed application must reconstruct the to-state exactly")
  }

  test("mergeInto: update + delete + insert clauses resolve in one join") {
    val base = Seq(
      (1L, "a", 10.0),   // matched, updated
      (2L, "err", 20.0), // matched, deleted (deleteWhen on source tag)
      (3L, "c", 30.0),   // untouched
      (4L, "d", 40.0))   // untouched
      .toDF("k", "tag", "v")
    val source = Seq(
      (1L, "a", 11.0),
      (2L, "err", 21.0),
      (5L, "e", 50.0),   // inserted
      (6L, "skip", 60.0)) // insert filtered out by insertWhen
      .toDF("k", "tag", "v")
    val merged = SnapshotMerge.mergeInto(base, source, "k",
      deleteWhen = Some(col("__s_tag") === "err"),
      updates = Map("v" -> col("__s_v")),
      insertWhen = Some(col("__s_tag") =!= "skip"))
    val out = merged.orderBy($"k").as[(Long, String, Double)].collect().toSeq
    assert(out === Seq(
      (1L, "a", 11.0),   // updated v, tag kept from base
      (3L, "c", 30.0),
      (4L, "d", 40.0),
      (5L, "e", 50.0)),
      s"merge clauses must resolve exactly: $out")
    // ONE join in the whole plan — never a join per clause (the d16
    // lesson applied at birth)
    val joins = merged.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins === 1, s"MERGE must plan exactly one join, found $joins")
  }

  test("mergeInto: duplicate source keys are refused loudly (the MERGE cardinality rule)") {
    val base = Seq((1L, "a", 1.0)).toDF("k", "tag", "v")
    val source = Seq((1L, "x", 2.0), (1L, "y", 3.0)).toDF("k", "tag", "v")
    // the check rides the merge join (no O(source) pre-job), so the
    // loud failure surfaces at EXECUTION, like every lakehouse MERGE
    val e = intercept[Exception] {
      SnapshotMerge.mergeInto(base, source, "k",
        updates = Map("v" -> col("__s_v"))).collect()
    }
    assert(e.getMessage.contains("cardinality") ||
      Option(e.getCause).exists(_.getMessage.contains("cardinality")),
      s"duplicate matched source keys must fail loudly: ${e.getMessage}")
    // and updating the key itself is refused
    intercept[IllegalArgumentException] {
      SnapshotMerge.mergeInto(base, Seq((1L, "a", 1.0)).toDF("k", "tag", "v"),
        "k", updates = Map("k" -> lit(9L)))
    }
  }

  test("mergeInto: SQL scopes cardinality to MATCHED rows — duplicate unmatched keys insert") {
    val base = Seq((1L, "a", 1.0)).toDF("k", "tag", "v")
    val source = Seq((7L, "x", 2.0), (7L, "y", 3.0)).toDF("k", "tag", "v")
    val out = SnapshotMerge.mergeInto(base, source, "k")
      .orderBy($"k", $"tag").as[(Long, String, Double)].collect().toSeq
    assert(out === Seq((1L, "a", 1.0), (7L, "x", 2.0), (7L, "y", 3.0)),
      s"unmatched duplicate source keys insert one row each (SQL:2003): $out")
  }

  test("mergeInto: NULL merge keys fail loudly on either side — never a silent drop") {
    val okBase = Seq((Some(1L), "a", 1.0)).toDF("k", "tag", "v")
    val nullBase = Seq((Some(1L), "a", 1.0), (None: Option[Long], "b", 2.0))
      .toDF("k", "tag", "v")
    val okSource = Seq((Some(1L), "a", 9.0)).toDF("k", "tag", "v")
    val nullSource = Seq((None: Option[Long], "z", 9.0)).toDF("k", "tag", "v")
    val e1 = intercept[Exception] {
      SnapshotMerge.mergeInto(nullBase, okSource, "k").collect()
    }
    assert(e1.getMessage.contains("MERGE base has NULL") ||
      Option(e1.getCause).exists(_.getMessage.contains("MERGE base has NULL")),
      s"null base keys must raise, not vanish: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      SnapshotMerge.mergeInto(okBase, nullSource, "k").collect()
    }
    assert(e2.getMessage.contains("MERGE source has NULL") ||
      Option(e2.getCause).exists(_.getMessage.contains("MERGE source has NULL")),
      s"null source keys must raise: ${e2.getMessage}")
  }

  test("mergeInto: cardinality check rides the join — one source scan, no pre-aggregate job") {
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "tag", "v")
    val source = Seq((1L, "a", 9.0), (3L, "c", 3.0)).toDF("k", "tag", "v")
    val merged = SnapshotMerge.mergeInto(base, source, "k",
      updates = Map("v" -> col("__s_v")))
    val plan = merged.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
    assert(plan.collect { case j: Join => j }.size === 1,
      "MERGE must plan exactly one join")
    assert(plan.collect { case a: Aggregate => a }.isEmpty,
      "no aggregate anywhere — the dup check is the window, not a pre-job")
    assert(plan.collect { case w: LWindow => w }.size === 1,
      "exactly one window (the per-key source count riding the join shuffle)")
    // and the window's partitioning matches the join key, so the
    // exchange is shared: the executed plan has at most 2 shuffles
    // (one per join side), not 3
    val exchanges = merged.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"window must reuse the join's source-side exchange, saw $exchanges")
  }
}
