package graft.tools

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a testdata directory — the harness for
  * measuring the sf0.1 → sf1 scaling CURVE per operator family (the
  * empirical check on the PLANS.md cost model: linear families must
  * scale ~N×, and the documented quadratic knobs — d03's cell size —
  * must show their N² term so the "raise B with N" guidance is
  * evidence, not theory).
  *
  * Replication is key-consistent: every copy shifts each key domain
  * (orderkey, custkey, suppkey, partkey, event/user ids, doc/vec ids)
  * by `copy × (max_key + 1)`, and foreign keys shift with their
  * referenced domain — so join fan-outs, group cardinalities, and
  * session structures scale N× exactly. Dimension tables
  * (region/nation) stay single-copy, as a real 10× corpus would.
  *
  * Document text gets a copy-specific marker token interleaved every
  * two tokens (copy 0 unchanged): plain duplication would give every
  * doc 9 verbatim twins, exploding near-dup candidate pairs ~N²
  * (a 10× corpus does NOT have 10× copies of every page) — the marker
  * destroys every cross-copy 3-shingle while leaving within-copy
  * near-dup structure intact, so dedup workloads scale like a real
  * corpus. n_chars is recomputed after marking.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <destDir> <copies>
  */
object ScaleUp {

  /** Interleave a copy marker after every 2nd token; copy 0 = identity. */
  def mark(text: String, copy: Int): String =
    if (copy == 0) text
    else text.trim.split("\\s+").grouped(2)
      .flatMap(g => g.toSeq :+ s"zq${copy}x").mkString(" ")

  /** The embeddings analog of mark(): a copy-keyed SIGNED CIRCULAR
    * SHIFT of the coordinates. The transform is orthogonal, so every
    * within-copy inner product — and therefore every within-copy
    * cosine, near-dup pair, and IVF cell structure — is preserved
    * EXACTLY, while a vector and its copy-k image decorrelate like
    * unrelated vectors. Plain replication would give every vector
    * copies−1 exact twins (cosine 1.0), and d03's pair count would
    * measure a copies²-per-vector dup explosion no real N× corpus
    * has — the same reasoning the doc marker applies to text. Sign
    * flips come from a splitmix-style diffusion of (copy, dim) so
    * copy k = shift-by-(k mod d) alone can never reduce to the
    * identity (k = d wraps, but the signs still differ). copy 0 =
    * identity. */
  def rotate(v: Array[Float], copy: Int): Array[Float] =
    if (copy == 0) v
    else {
      val d = v.length
      val out = new Array[Float](d)
      var i = 0
      while (i < d) {
        var z = copy.toLong * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 31)) * 0x94D049BB133111EBL
        val sign = if (((z >>> 17) & 1L) == 0L) 1f else -1f
        out(i) = sign * v((i + copy) % d)
        i += 1
      }
      out
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleUp <srcDir> <destDir> <copies>")
    val (src, dest, copies) = (args(0), args(1), args(2).toInt)
    val spark = graft.GraftSession(graft.GraftSession.envCores(32))
    import spark.implicits._

    def off(table: String, col0: String): Long =
      Tables(spark, src, table).agg(max(col(col0))).head().getLong(0) + 1

    val orderOff = off("orders", "o_orderkey")
    val custOff = off("customer", "c_custkey")
    val suppOff = off("supplier", "s_suppkey")
    val partOff = off("part", "p_partkey")
    val eventOff = off("events", "event_id")
    val userOff = off("events", "user_id")
    val docOff = off("documents", "doc_id")
    val vecOff = off("embeddings", "vec_id")

    def replicate(name: String, shifts: (String, Long)*): DataFrame = {
      val base = Tables(spark, src, name)
      (0 until copies).map { k =>
        shifts.foldLeft(base) { case (d, (c, o)) =>
          d.withColumn(c, col(c) + lit(o * k)) }
      }.reduce(_ unionAll _)
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scaleup] $name written")
    }

    write(Tables(spark, src, "region"), "region")
    write(Tables(spark, src, "nation"), "nation")
    // c_name is derived from the key (TPC-H "Customer#%09d"), so it
    // must RE-derive from the shifted key: plain duplication would
    // give every name copies−1 verbatim twins and the edit-distance
    // join (d18) would measure a copies² dup explosion no real N×
    // corpus has — the same reasoning the doc marker applies to text
    // format_string, NOT lpad: lpad TRUNCATES past its width, so a
    // shifted key >= 1e9 would collapse distinct customers onto one
    // name — %09d is min-width padding (the TPC-H rendering itself)
    write(replicate("customer", "c_custkey" -> custOff)
      .withColumn("c_name", format_string("Customer#%09d", $"c_custkey")),
      "customer")
    write(replicate("supplier", "s_suppkey" -> suppOff), "supplier")
    write(replicate("part", "p_partkey" -> partOff), "part")
    write(replicate("orders",
      "o_orderkey" -> orderOff, "o_custkey" -> custOff), "orders")
    write(replicate("lineitem", "l_orderkey" -> orderOff,
      "l_partkey" -> partOff, "l_suppkey" -> suppOff), "lineitem")
    // events also shift in TIME: copy k moves forward by k × (span+1h).
    // Key-consistency for the time dimension — a real N× event corpus
    // has a longer history, not N copies of the same month. Stacked
    // time would multiply BOTH events-per-bucket and windows-per-
    // bucket by N, turning every time-windowed join/session/window
    // family quadratic in the replica (measured: q26 OOMs at 100×
    // stacked; it is linear time-extended) — an artifact no real
    // corpus shows, same reasoning as the doc marker and the
    // embedding rotation.
    val tsSpan = Tables(spark, src, "events")
      .agg((unix_timestamp(max($"ts")) - unix_timestamp(min($"ts")) + 3600L)
        .as("span")).head().getLong(0)
    val events = (0 until copies).map { k =>
      Tables(spark, src, "events")
        .withColumn("event_id", $"event_id" + lit(eventOff * k))
        .withColumn("user_id", $"user_id" + lit(userOff * k))
        .withColumn("ts", expr(s"timestampadd(SECOND, ${tsSpan * k}, ts)"))
    }.reduce(_ unionAll _)
    write(events, "events")
    val vecs = Tables(spark, src, "embeddings")
      .select($"vec_id", $"embedding", $"label").as[(Long, Array[Float], Int)]
    val rotated = (0 until copies).map { k =>
      vecs.map { case (id, v, label) =>
        (id + vecOff * k, rotate(v, k), label)
      }.toDF("vec_id", "embedding", "label")
    }.reduce(_ unionAll _)
    write(rotated, "embeddings")

    val docs = Tables(spark, src, "documents")
      .select($"doc_id", $"text", $"lang", $"source").as[(Long, String, String, String)]
    val marked = (0 until copies).map { k =>
      docs.map { case (id, t, lang, srcCol) =>
        val mt = mark(t, k)
        (id + docOff * k, mt, lang, srcCol, mt.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ unionAll _)
    write(marked, "documents")

    spark.stop()
  }
}
