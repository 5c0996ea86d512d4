package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus-curation pipeline (SURVEY.md §2.9 north star):
  * the composed shape a training-data build actually runs — quality
  * gates → deterministic train/val split → per-(lang, split) yield
  * accounting. The building blocks exist individually (t01/t02 quality
  * metrics, t04/d01 dedup); this registers the COMPOSITION under the
  * correctness gate.
  *
  * Scale design:
  *  - the quality gates are narrow per-row projections (no shuffle)
  *    evaluated before anything heavy — the 100-TB filter-early rule;
  *  - the split is a salted md5 hash of the stable doc id — fully
  *    deterministic and reproducible across runs/engines/retries (no
  *    rand(), which breaks task-retry determinism), no shuffle;
  *  - the only exchange is the final low-cardinality aggregate, with
  *    map-side partials.
  */
object CurationQueries {

  /** The 60-bit salted split hash shared by every deterministic
    * gate/split/sample/mix in this family — now the library-wide
    * [[graft.functions.DetHash]] (the IndexStore training samples use
    * the same discipline); kept as local aliases so every call site in
    * this file reads unchanged. */
  private def hash60(c: Column, salt: String): Column =
    graft.functions.DetHash.hash60(c, salt)

  /** DuckDB rendering of [[hash60]] over a SQL expression. */
  private def hash60Sql(e: String, salt: String): String =
    graft.functions.DetHash.hash60Sql(e, salt)

  /** c01 — quality-gate + 90/10 hash split + yield stats. The split
    * key is the first 15 hex chars of md5(doc_id || salt) — a 60-bit
    * value, identically computable in the DuckDB oracle (`conv` ≡
    * `CAST('0x'... AS BIGINT)`). */
  val c01CorpusCuration: GraftQuery = GraftQuery(
    "c01_corpus_curation",
    (s, dir) => {
      import s.implicits._
      val toks = split(trim($"text"), "\\s+")
      val d = Tables(s, dir, "documents")
        .select($"doc_id", $"lang",
          size(toks).as("n_tok"),
          size(array_distinct(toks)).as("n_uniq"))
      // gates: minimum length + type-token ratio (drops degenerate /
      // boilerplate docs); both are engine-exact integer/ratio math
      val gated = d.where($"n_tok" >= 5 &&
        ($"n_uniq".cast("double") / $"n_tok") >= 0.3)
      val h = hash60($"doc_id", "graft")
      gated
        .withColumn("split", when(h % 10 < 9, "train").otherwise("val"))
        .groupBy($"lang", $"split")
        .agg(
          count(lit(1)).as("docs"),
          sum($"n_tok").as("tokens"),
          round(avg($"n_uniq".cast("double") / $"n_tok"), 4).as("avg_ttr"))
        .orderBy($"lang", $"split")
    },
    Some(raw"""WITH d AS (
      |  SELECT doc_id, lang,
      |         len(regexp_split_to_array(trim(text), '\s+'))                AS n_tok,
      |         len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_uniq
      |  FROM documents),
      |g AS (
      |  SELECT *,
      |         ${hash60Sql("doc_id", "graft")} AS h
      |  FROM d
      |  WHERE n_tok >= 5 AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.3)
      |SELECT lang,
      |       CASE WHEN h % 10 < 9 THEN 'train' ELSE 'val' END AS split,
      |       count(*)                                         AS docs,
      |       CAST(sum(n_tok) AS BIGINT)                       AS tokens,
      |       round(avg(CAST(n_uniq AS DOUBLE) / n_tok), 4)    AS avg_ttr
      |FROM g
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin),
    "north-star composition: quality gates + deterministic hash split")

  /** c02 — deterministic stratified sampling: exactly k docs per
    * stratum (lang), chosen by salted-md5 hash order with a doc_id
    * tie-break. Unlike `df.sample`/TABLESAMPLE, the selection is a
    * pure function of the data — reproducible across runs, engines,
    * task retries, and partitionings (rand()-based sampling is none
    * of these). Plan: one shuffle on the stratum key, per-stratum
    * rank, bounded output; Catalyst's WindowGroupLimit prunes
    * per-partition before the exchange. At 100 TB swap the window for
    * the bounded-heap TopK aggregator (same contract, O(k) state). */
  val c02StratifiedSample: GraftQuery = GraftQuery(
    "c02_stratified_sample",
    (s, dir) => {
      import s.implicits._
      val k = 20
      val h = hash60($"doc_id", "sample")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy(h.asc, $"doc_id".asc)
      Tables(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars")
        .withColumn("rnk", row_number().over(w))
        .where($"rnk" <= k)
        .select($"lang", $"rnk", $"doc_id", $"n_chars")
        .orderBy($"lang", $"rnk")
    },
    Some(raw"""WITH h AS (
      |  SELECT doc_id, lang, n_chars,
      |         ${hash60Sql("doc_id", "sample")} AS hv
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rnk
      |  FROM h)
      |SELECT lang, rnk, CAST(doc_id AS BIGINT) AS doc_id,
      |       CAST(n_chars AS BIGINT) AS n_chars
      |FROM r WHERE rnk <= 20
      |ORDER BY lang, rnk""".stripMargin),
    "north-star: deterministic stratified sampling (exact per-stratum quotas)")

  /** c03 — hybrid retrieval via Reciprocal Rank Fusion: the standard
    * way to combine a vector ranking and a lexical ranking without
    * score calibration — fused = Σ 1/(60 + rank) over the lists a doc
    * appears in. Vector side: exact cosine ranking of the corpus for
    * query vector 0; lexical side: the t10 TF-IDF ranking. Both
    * rankings are bounded top-k lists, the fusion is a tiny full-outer
    * join on doc_id, and 1/(60+rank) sums over INTEGER ranks are
    * engine-exact doubles. */
  val c03HybridRrf: GraftQuery = GraftQuery(
    "c03_hybrid_rrf",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.queries.VectorQueries
      val e = Tables(s, dir, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      val qv = e.where($"vec_id" === 0).select($"v".as("qv"))
      val wV = Window.orderBy($"sim".desc, $"doc_id")
      val vecRank = e.crossJoin(broadcast(qv))
        .where($"vec_id" =!= 0)
        .select($"vec_id".as("doc_id"),
          VectorQueries.cosine6($"v", $"qv").as("sim"))
        .orderBy($"sim".desc, $"doc_id").limit(20)
        .withColumn("vrnk", row_number().over(wV))
        .select($"doc_id", $"vrnk")
      def occ(term: String) =
        size(split($"text", java.util.regex.Pattern.quote(term), -1)) - 1
      val tf = Tables(s, dir, "documents")
        .select($"doc_id",
          occ("data").as("t1"), occ("query").as("t2"), occ("model").as("t3"))
      val df = tf.agg(count(lit(1)).as("n"),
        count(when($"t1" > 0, 1)).as("d1"),
        count(when($"t2" > 0, 1)).as("d2"),
        count(when($"t3" > 0, 1)).as("d3"))
      val wL = Window.orderBy($"score".desc, $"doc_id")
      val lexRank = tf.crossJoin(broadcast(df))
        .select($"doc_id",
          round($"t1" * log(($"n" + 1.0) / ($"d1" + 1.0))
            + $"t2" * log(($"n" + 1.0) / ($"d2" + 1.0))
            + $"t3" * log(($"n" + 1.0) / ($"d3" + 1.0)), 6).as("score"))
        .orderBy($"score".desc, $"doc_id").limit(20)
        .withColumn("lrnk", row_number().over(wL))
        .select($"doc_id", $"lrnk")
      val wF = Window.orderBy($"rrf".desc, $"doc_id")
      vecRank.join(lexRank, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          round(
            coalesce(lit(1.0) / (lit(60.0) + $"vrnk"), lit(0.0))
              + coalesce(lit(1.0) / (lit(60.0) + $"lrnk"), lit(0.0)),
            6).as("rrf"))
        .orderBy($"rrf".desc, $"doc_id").limit(10)
        .withColumn("rnk", row_number().over(wF))
        .select($"rnk", $"doc_id", $"rrf")
    },
    Some("""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
      |vsim AS (
      |  SELECT vec_id AS doc_id,
      |         round(coalesce(
      |           list_aggregate(list_transform(list_zip(e.v, qv.q), x -> x[1] * x[2]), 'sum')
      |           / NULLIF(sqrt(list_aggregate(list_transform(e.v, x -> x * x), 'sum'))
      |              * sqrt(list_aggregate(list_transform(qv.q, x -> x * x), 'sum')), 0), 0), 6) AS sim
      |  FROM e CROSS JOIN qv WHERE e.vec_id <> 0),
      |vrank AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS vrnk
      |  FROM vsim ORDER BY sim DESC, doc_id LIMIT 20),
      |tf AS (
      |  SELECT doc_id,
      |         len(string_split(text, 'data'))  - 1 AS t1,
      |         len(string_split(text, 'query')) - 1 AS t2,
      |         len(string_split(text, 'model')) - 1 AS t3
      |  FROM documents),
      |df AS (
      |  SELECT count(*) AS n,
      |         count(*) FILTER (WHERE t1 > 0) AS d1,
      |         count(*) FILTER (WHERE t2 > 0) AS d2,
      |         count(*) FILTER (WHERE t3 > 0) AS d3
      |  FROM tf),
      |lex AS (
      |  SELECT doc_id,
      |         round(t1 * ln((n + 1.0) / (d1 + 1.0))
      |             + t2 * ln((n + 1.0) / (d2 + 1.0))
      |             + t3 * ln((n + 1.0) / (d3 + 1.0)), 6) AS score
      |  FROM tf CROSS JOIN df),
      |lrank AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lrnk
      |  FROM lex ORDER BY score DESC, doc_id LIMIT 20),
      |fused AS (
      |  SELECT coalesce(vrank.doc_id, lrank.doc_id) AS doc_id,
      |         round(coalesce(1.0 / (60.0 + vrnk), 0.0)
      |             + coalesce(1.0 / (60.0 + lrnk), 0.0), 6) AS rrf
      |  FROM vrank FULL OUTER JOIN lrank ON vrank.doc_id = lrank.doc_id)
      |SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk,
      |       CAST(doc_id AS BIGINT) AS doc_id, rrf
      |FROM fused
      |ORDER BY rrf DESC, doc_id
      |LIMIT 10""".stripMargin),
    "north-star: hybrid retrieval — reciprocal rank fusion of vector + lexical")

  /** c04 — table profiling (the Deequ-style validation pass a
    * pipeline runs before training): row count, per-column null
    * counts, exact distinct cardinalities, and min/max. The basic
    * stats are ONE wide aggregate; each exact distinct is its own
    * column-pruned scan with map-side partial distinct, cross-joined
    * back as 1-row frames — measured 3× cheaper than packing the
    * countDistincts into the wide aggregate, which multiplies the
    * full scan through a shared Expand. (At 100 TB
    * `approx_count_distinct` folds distincts back into the single
    * pass — same call shape, the trade the streaming rollup makes.)
    * Typed min/max columns avoid cross-engine string formatting of
    * numerics. */
  val c04Profile: GraftQuery = GraftQuery(
    "c04_profile",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val base = li.agg(
        count(lit(1)).as("rows"),
        (count(lit(1)) - count($"l_quantity")).as("qty_nulls"),
        round(min($"l_quantity"), 2).as("qty_min"),
        round(max($"l_quantity"), 2).as("qty_max"),
        (count(lit(1)) - count($"l_returnflag")).as("flag_nulls"),
        min($"l_returnflag").as("flag_min"),
        max($"l_returnflag").as("flag_max"),
        min($"l_shipdate").as("ship_min"),
        max($"l_shipdate").as("ship_max"))
      // count(col) after distinct (not count(*)) so a NULL group never
      // counts — SQL COUNT(DISTINCT col) semantics, which the oracle
      // uses; .distinct().count() would diverge by 1 on a null-bearing
      // column.
      // (r17: fusing the three distincts into the base aggregate as
      // countDistinct trio was measured and REJECTED — 0.61 s → 3.05 s
      // min-of-5: Catalyst plans multi-distinct via a 4-way Expand,
      // and quadrupling the 6M-value stream costs far more than three
      // extra column-pruned scans of an 11 MB parquet file. At
      // corpus scale the same logic holds: Expand multiplies the full
      // row stream, re-scans read one column each.)
      def distinctOf(c: String, as: String) =
        li.select(col(c)).distinct().agg(count(col(c)).as(as))
      base
        .crossJoin(distinctOf("l_quantity", "qty_distinct"))
        .crossJoin(distinctOf("l_returnflag", "flag_distinct"))
        .crossJoin(distinctOf("l_orderkey", "orders_distinct"))
        .select($"rows", $"qty_nulls", $"qty_distinct", $"qty_min",
          $"qty_max", $"flag_nulls", $"flag_distinct", $"flag_min",
          $"flag_max", $"orders_distinct", $"ship_min", $"ship_max")
    },
    Some("""SELECT count(*)                               AS rows,
      |       count(*) - count(l_quantity)           AS qty_nulls,
      |       count(DISTINCT l_quantity)             AS qty_distinct,
      |       round(min(l_quantity), 2)              AS qty_min,
      |       round(max(l_quantity), 2)              AS qty_max,
      |       count(*) - count(l_returnflag)         AS flag_nulls,
      |       count(DISTINCT l_returnflag)           AS flag_distinct,
      |       min(l_returnflag)                      AS flag_min,
      |       max(l_returnflag)                      AS flag_max,
      |       count(DISTINCT l_orderkey)             AS orders_distinct,
      |       min(l_shipdate)                        AS ship_min,
      |       max(l_shipdate)                        AS ship_max
      |FROM lineitem""".stripMargin),
    "north-star: one-pass table profiling (nulls/distincts/ranges)")

  /** c05 — sequence packing: assign documents to fixed token-budget
    * bins (the pretraining-batch packing step). Exact first-fit is
    * inherently sequential; the scalable standard is CONTIGUOUS
    * packing — order docs deterministically within each stratum,
    * running-sum their token counts, bin = floor((cumsum − own) /
    * budget).
    *
    * The prefix sum is TWO-LEVEL so no task ever scans a whole
    * language (lang is ~5-valued — a per-lang window is a
    * single-reducer funnel at corpus scale): docs are sharded by
    * contiguous doc_id RANGE (shard = doc_id / 1024, so shard order =
    * doc_id order), the running sum is computed within (lang, shard)
    * — high-cardinality keys, bounded rows per task — and each
    * shard's exclusive prefix offset comes from a broadcast of the
    * tiny per-shard totals table (langs × N/1024 rows). offset +
    * local cumsum = exactly the global per-lang cumsum by doc_id, so
    * bins are byte-identical to the single-window formulation the
    * oracle uses. (Sparse/skewed id spaces re-shard on
    * range-partition statistics instead of a fixed width; the
    * structure is unchanged.) Integer token math end to end →
    * engine-exact. */
  val c05SequencePacking: GraftQuery = GraftQuery(
    "c05_sequence_packing",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val budget = 4096L
      // shard width balances the two bounds: ≤ ~10⁶ shards keeps the
      // offsets table broadcastable at any N, while width ≤
      // max(1024, N/10⁶) keeps per-task window rows bounded. Bins are
      // shard-INDEPENDENT by construction (offset + local cumsum =
      // exact global cumsum), so the width never changes results and
      // the oracle needs no mirror.
      // a deliberate extra job, and a cheap one: max over ONE pruned
      // column — at any scale this reads a single parquet column chunk
      // per file (footer min/max stats make it near-free with
      // aggregate pushdown), far cheaper than caching the corpus to
      // save the second scan. The width is result-independent (bins
      // are shard-invariant by construction), it only sizes the
      // broadcastable offsets table.
      val maxId = Tables(s, dir, "documents")
        .agg(max($"doc_id")).head().getLong(0)
      val shardWidth = math.max(1024L, maxId / 1000000L + 1)
      val toks = split(trim($"text"), "\\s+")
      val d = Tables(s, dir, "documents")
        .select($"doc_id", $"lang", size(toks).cast("long").as("n_tok"),
          floor($"doc_id" / shardWidth).as("shard"))
      // level 1: running sum WITHIN each (lang, shard) range
      val wLocal = Window.partitionBy($"lang", $"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = d.withColumn("lcum", sum($"n_tok").over(wLocal))
      // level 2: exclusive prefix offsets over the per-shard TOTALS —
      // a langs × (maxId/1024) table, window'd cheaply and broadcast
      val wOff = Window.partitionBy($"lang").orderBy($"shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = d.groupBy($"lang", $"shard")
        .agg(sum($"n_tok").as("stot"))
        .withColumn("off", coalesce(sum($"stot").over(wOff), lit(0L)))
        .select($"lang", $"shard", $"off")
      local.join(broadcast(offsets), Seq("lang", "shard"))
        .withColumn("cum", $"off" + $"lcum")
        .withColumn("bin", floor(($"cum" - $"n_tok") / budget).cast("long"))
        .groupBy($"lang", $"bin")
        .agg(
          count(lit(1)).as("docs"),
          sum($"n_tok").as("tokens"),
          round(sum($"n_tok") / (budget * 1.0), 4).as("fill_ratio"))
        .orderBy($"lang", $"bin")
    },
    Some("""WITH d AS (
      |  SELECT doc_id, lang,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tok,
      |         sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                          ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d),
      |b AS (
      |  SELECT lang, CAST(floor((cum - n_tok) / 4096) AS BIGINT) AS bin, n_tok
      |  FROM c)
      |SELECT lang, bin, count(*) AS docs,
      |       CAST(sum(n_tok) AS BIGINT)           AS tokens,
      |       round(sum(n_tok) / 4096.0, 4)        AS fill_ratio
      |FROM b
      |GROUP BY lang, bin
      |ORDER BY lang, bin""".stripMargin),
    "north-star: contiguous sequence packing into fixed token budgets")

  /** c06 — LEAKAGE-SAFE train/eval split: hash-split by near-dup
    * CLUSTER, not by document. A doc-level split (c01's shape) leaks:
    * a train doc's near-duplicate can land in eval, and the model is
    * then scored on (a trivial variant of) its own training data —
    * the split-contamination failure decontamination audits (t11)
    * exist to catch. Splitting on the connected-component label makes
    * leakage impossible BY CONSTRUCTION: every member of a near-dup
    * cluster shares the component, hence the hash, hence the side —
    * including transitive chains (a~b, b~c ⇒ a,c same side even if
    * a,c are not directly similar). Singleton docs are their own
    * cluster (left join + coalesce).
    *
    * Composition of existing verified pieces: jaccardEdges (t05's
    * banded pair shape) → ConnectedComponents (d04) → salted-md5
    * split (c01's determinism contract, salted ':leak' so the
    * assignment is independent of c01's). The oracle recomputes
    * components with the recursive transitive-closure CTE and the
    * identical md5 arithmetic. Output: per split, docs and distinct
    * clusters. */
  val c06LeakageSafeSplit: GraftQuery = GraftQuery(
    "c06_leakage_safe_split",
    (s, dir) => {
      import s.implicits._
      val comp = graft.operators.ConnectedComponents
        .components(DedupQueries.jaccardEdges(s, dir), "doc_a", "doc_b")
      val labeled = Tables(s, dir, "documents").select($"doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"component", $"doc_id").as("cluster"))
      val h = hash60($"cluster", "leak")
      labeled
        .withColumn("split", when(h % 10 < 9, "train").otherwise("eval"))
        .groupBy($"split")
        .agg(
          count(lit(1)).as("docs"),
          countDistinct($"cluster").as("clusters"))
        .orderBy($"split")
    },
    Some(raw"""WITH RECURSIVE d AS (
      |  SELECT doc_id, substr(text, 1, 20) AS bucket,
      |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |  FROM documents),
      |e AS (
      |  SELECT CAST(a.doc_id AS BIGINT) AS u, CAST(b.doc_id AS BIGINT) AS v
      |  FROM d a JOIN d b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
      |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
      |reach(u, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM und) t
      |  UNION
      |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u),
      |labels AS (
      |  SELECT u AS id, min(r) AS component FROM reach GROUP BY u),
      |alld AS (
      |  SELECT doc_id,
      |         coalesce(l.component, CAST(doc_id AS BIGINT)) AS cluster
      |  FROM documents LEFT JOIN labels l ON l.id = doc_id),
      |s AS (
      |  SELECT cluster,
      |         CASE WHEN ${hash60Sql("cluster", "leak")} % 10 < 9
      |              THEN 'train' ELSE 'eval' END AS split
      |  FROM alld)
      |SELECT split, count(*) AS docs, count(DISTINCT cluster) AS clusters
      |FROM s
      |GROUP BY split
      |ORDER BY split""".stripMargin),
    "north-star: leakage-safe split — near-dup clusters never straddle train/eval")

  /** The per-domain sampling rates of the c07 mixing recipe, expressed
    * as exact 60-bit integer thresholds (rate × 2⁶⁰, truncated) so
    * BOTH engines compare the same integers — a double-typed
    * `hv < rate · 2⁶⁰` would round differently above 2⁵³. */
  private val MixThresholds: Seq[(String, Double, Long)] =
    Seq("en" -> 0.9, "de" -> 0.75, "es" -> 0.6, "zh" -> 0.5, "fr" -> 0.3)
      .map { case (l, r) => (l, r, (r * math.pow(2, 60)).toLong) }

  /** c07 — CORPUS MIXING: the Pile/Dolma-style per-domain sampling
    * recipe (upweight scarce high-quality domains, downsample the
    * crawl) as a DETERMINISTIC hash-threshold filter: keep a doc iff
    * its 60-bit salted-md5 hash < rate × 2⁶⁰. No rand(): the sample
    * is reproducible across runs, engines, retries, and partition
    * layouts (same c01 contract), and each doc's fate is independent,
    * so the achieved rate concentrates tightly around the target.
    *
    * Scale shape: the gate is a MAP-SIDE filter on a narrow
    * projection — the corpus is never shuffled; the only exchange is
    * the 5-row per-domain summary aggregate. Rates > 1 (epoch-style
    * upsampling) compose as ⌊rate⌋ full copies + this same
    * fractional-part filter. */
  val c07CorpusMix: GraftQuery = GraftQuery(
    "c07_corpus_mix",
    (s, dir) => {
      import s.implicits._
      val hv = hash60($"doc_id", "mix")
      val thr = MixThresholds.foldLeft(lit(0L)) { case (acc, (l, _, t)) =>
        when($"lang" === l, lit(t)).otherwise(acc)
      }
      Tables(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars")
        .groupBy($"lang")
        .agg(count(lit(1)).as("total_docs"),
          count(when(hv < thr, 1)).as("kept_docs"),
          sum(when(hv < thr, $"n_chars")).as("kept_chars"))
        .withColumn("achieved_rate",
          round($"kept_docs".cast("double") / $"total_docs", 4))
        .orderBy($"lang")
    },
    Some {
      val cases = MixThresholds
        .map { case (l, _, t) => s"WHEN '$l' THEN CAST($t AS BIGINT)" }
        .mkString(" ")
      raw"""WITH h AS (
         |  SELECT lang, n_chars,
         |         ${hash60Sql("doc_id", "mix")} AS hv,
         |         CASE lang $cases ELSE 0 END AS thr
         |  FROM documents)
         |SELECT lang,
         |       count(*) AS total_docs,
         |       count(*) FILTER (hv < thr) AS kept_docs,
         |       CAST(sum(n_chars) FILTER (hv < thr) AS BIGINT) AS kept_chars,
         |       round(CAST(count(*) FILTER (hv < thr) AS DOUBLE) / count(*), 4)
         |         AS achieved_rate
         |FROM h
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },
    "north-star: deterministic per-domain corpus mixing (hash-threshold sampling)")

  /** c08 — cluster-balanced ("diversity") sampling: exactly m docs
    * per k-means cluster, chosen by the c02 salted-hash order. Quota
    * sampling stratified by SEMANTIC cluster instead of a metadata
    * column is the standard anti-mode-collapse curation step — a
    * uniform sample over-represents the corpus's dense regions, a
    * cluster quota flattens them. Composition: KMeans.fit (broadcast
    * centroids, zero-shuffle assignment) → broadcast-join docs →
    * per-cluster window (WindowGroupLimit-pruned, as c02). The
    * DuckDB oracle replays the FULL pipeline — both unrolled k-means
    * iterations and the quota window. */
  val c08ClusterSample: GraftQuery = GraftQuery(
    "c08_cluster_balanced_sample",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .as[(Long, Array[Double])]
      val asg = graft.operators.KMeans.fit(ev, k = 8, iters = 2)
      val docs = Tables(s, dir, "documents")
        .select($"doc_id", $"lang")
      val h = hash60($"doc_id", "diversity")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"cluster_id").orderBy(h.asc, $"doc_id".asc)
      asg.join(docs, asg("vec_id") === docs("doc_id"))
        .withColumn("rnk", row_number().over(w))
        .where($"rnk" <= 5)
        .select($"cluster_id", $"rnk", $"doc_id", $"lang")
        .orderBy($"cluster_id", $"rnk")
    },
    Some(raw"""WITH ${VectorQueries.kmeansCtes(k = 8, iters = 2)},
      |j AS (
      |  SELECT a.cid, d.doc_id, d.lang,
      |         ${hash60Sql("d.doc_id", "diversity")} AS hv
      |  FROM kmaf a JOIN documents d ON a.vec_id = d.doc_id),
      |r AS (
      |  SELECT cid, doc_id, lang,
      |         row_number() OVER (PARTITION BY cid ORDER BY hv, doc_id) AS rnk
      |  FROM j)
      |SELECT cid AS cluster_id, rnk, CAST(doc_id AS BIGINT) AS doc_id, lang
      |FROM r WHERE rnk <= 5
      |ORDER BY cluster_id, rnk""".stripMargin),
    "north-star: cluster-balanced diversity sampling (k-means quota)")

  /** c09 — QUALITY-WEIGHTED sampling: docs drawn with probability
    * proportional to an integer quality weight, deterministically.
    * Standard weighted reservoir sampling (Efraimidis–Spirakis) keys
    * on u^(1/w) — a floating sampling key that would not survive the
    * engine-parity bar. For INTEGER weights, u^(1/w) is distributed as
    * the max of w iid uniforms, so the key becomes a hash TOURNAMENT:
    * key(doc) = max over i ∈ 1..w of hash60(doc_id#i) — pure 60-bit
    * integer comparisons, P(key_a beats key_b) = w_a/(w_a+w_b)
    * pairwise, exact weighted sampling WITHOUT replacement for the
    * top-k — reproducible across runs/engines/retries like every
    * other sampling gate in this family (no rand(), c01 contract).
    * Weight = 1 + ⌊4·TTR⌋ ∈ 1..5 (higher-quality docs up-weighted).
    * Plan: replica fan-out is a bounded ≤5× map-side explode of
    * (doc_id, i) pairs; max-key is a hash agg; the per-lang top-10
    * window is WindowGroupLimit-pruned (c02 shape). */
  val c09WeightedSample: GraftQuery = GraftQuery(
    "c09_weighted_sample",
    (s, dir) => {
      import s.implicits._
      // null text is excluded BEFORE the weight expression as
      // belt-and-braces: under ANSI (this build's default) Spark's
      // size(null) is NULL like DuckDB's len(NULL), but a session
      // with spark.sql.ansi.enabled=false would revert size(null)
      // to the legacy -1 (TTR = (-1)/(-1) = 1.0, w = 5) and silently
      // widen the universe — the filter pins both engines to the
      // same rows under either setting
      val w = Tables(s, dir, "documents")
        .where($"text".isNotNull)
        .select($"doc_id", $"lang",
          graft.functions.TextStats.qualityWeight($"text").as("w"))
      val key = hash60(
        concat($"doc_id".cast("string"), lit("#"), $"i".cast("string")),
        "wsample")
      val k = w
        .select($"doc_id", $"lang", $"w",
          explode(sequence(lit(1), $"w")).as("i"))
        .select($"doc_id", $"lang", $"w", key.as("key"))
        .groupBy($"doc_id", $"lang", $"w")
        .agg(max($"key").as("key"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"key".desc, $"doc_id")
      k.withColumn("rnk", row_number().over(win))
        .where($"rnk" <= 10)
        .select($"lang", $"rnk", $"doc_id", $"w".cast("long").as("w"))
        .orderBy($"lang", $"rnk")
    },
    Some(raw"""WITH d AS (
      |  SELECT doc_id, lang,
      |         len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS nu,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS nt
      |  FROM documents WHERE text IS NOT NULL),
      |w AS (
      |  SELECT doc_id, lang,
      |         1 + CAST(floor(4.0 * (CAST(nu AS DOUBLE) / nt)) AS INT) AS w
      |  FROM d),
      |r AS (SELECT doc_id, lang, w, unnest(range(1, w + 1)) AS i FROM w),
      |k AS (
      |  SELECT doc_id, lang, w,
      |         max(${hash60Sql("CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)", "wsample")}) AS key
      |  FROM r GROUP BY doc_id, lang, w),
      |rk AS (
      |  SELECT lang, doc_id, w,
      |         row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rnk
      |  FROM k)
      |SELECT lang, rnk, CAST(doc_id AS BIGINT) AS doc_id, CAST(w AS BIGINT) AS w
      |FROM rk WHERE rnk <= 10
      |ORDER BY lang, rnk""".stripMargin),
    "north-star: exact-integer weighted sampling (hash tournament, no rand)")

  /** c10 — the END-TO-END curation funnel: quality gates (c01's
    * rule) → near-dup drop (d07's keeper policy) → leakage-safe
    * cluster split (c06's rule), reported as stage counts — the
    * one-page answer to "how many documents survive my pipeline and
    * where do they go". Every stage reuses the exact shared
    * expression its standalone query pins (gate ints, keeperDrops,
    * cluster-hash split), so the funnel cannot drift from the parts.
    * Plan note: components/drops appear twice in this one-shot plan
    * (drop filter + cluster labels); a production pipeline
    * materializes the cluster table once per snapshot — recorded
    * here because at gate SF the recompute is cheaper than a cache
    * round trip, at 100 TB it is not. */
  val c10CurationFunnel: GraftQuery = GraftQuery(
    "c10_curation_funnel",
    (s, dir) => {
      import s.implicits._
      val toks = graft.functions.TextStats.tokens($"text")
      val d = Tables(s, dir, "documents")
        .select($"doc_id",
          size(toks).as("n_tok"), size(array_distinct(toks)).as("n_uniq"))
      // components is an EAGER iterative operator — run it once and
      // feed both consumers (the drop list and the split labels)
      val comp = graft.operators.ConnectedComponents
        .components(DedupQueries.jaccardEdges(s, dir), "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      val drops = DedupQueries
        .keeperDrops(s, dir,
          Some(comp.withColumnRenamed("component", "cluster")))
        .select($"dropped".as("doc_id"), lit(true).as("is_drop"))
      // ONE pass: the five stage counts are monotone refinements of
      // the same per-doc frame (total ⊇ gated ⊇ deduped = train ∪
      // eval), so they fold into conditional aggregates over a single
      // flags frame instead of five unioned aggregates that re-ran
      // the tokenize + drop-join + label-join lineage up to five
      // times. stack() explodes the one aggregate row back into the
      // five (stage_no, stage, docs) rows.
      val flags = d
        .withColumn("gated",
          $"n_tok" >= 5 && ($"n_uniq".cast("double") / $"n_tok") >= 0.3)
        .join(drops, Seq("doc_id"), "left")
        .join(comp, Seq("doc_id"), "left")
        .select($"gated",
          ($"gated" && $"is_drop".isNull).as("surv"),
          (hash60(coalesce($"component", $"doc_id"), "leak") % 10 < 9)
            .as("train"))
      flags
        .agg(
          count(lit(1)).as("c1"),
          count(when($"gated", 1)).as("c2"),
          count(when($"surv", 1)).as("c3"),
          count(when($"surv" && $"train", 1)).as("c4"),
          count(when($"surv" && !$"train", 1)).as("c5"))
        .select(expr(
          "stack(5, 1, 'total', c1, 2, 'gated', c2, 3, 'deduped', c3, " +
            "4, 'train', c4, 5, 'eval', c5) AS (stage_no, stage, docs)"))
        .orderBy($"stage_no")
    },
    Some(raw"""WITH RECURSIVE dd AS (
      |  SELECT doc_id, substr(text, 1, 20) AS bucket,
      |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |  FROM documents),
      |e AS (
      |  SELECT CAST(a.doc_id AS BIGINT) AS u, CAST(b.doc_id AS BIGINT) AS v
      |  FROM dd a JOIN dd b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
      |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
      |reach(u, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM und) t
      |  UNION
      |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u),
      |labels AS (
      |  SELECT u AS id, min(r) AS component FROM reach GROUP BY u),
      |qd AS (
      |  SELECT doc_id,
      |         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
      |           / len(regexp_split_to_array(trim(text), '\s+')) AS quality
      |  FROM documents),
      |member AS (
      |  SELECT l.component AS cluster, CAST(q.doc_id AS BIGINT) AS doc_id,
      |         row_number() OVER (PARTITION BY l.component
      |                            ORDER BY q.quality DESC, q.doc_id) AS rn
      |  FROM labels l JOIN qd q ON l.id = q.doc_id),
      |drops AS (SELECT doc_id FROM member WHERE rn > 1),
      |d AS (
      |  SELECT doc_id,
      |         len(regexp_split_to_array(trim(text), '\s+'))                AS n_tok,
      |         len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_uniq
      |  FROM documents),
      |gated AS (
      |  SELECT doc_id FROM d
      |  WHERE n_tok >= 5 AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.3),
      |surv AS (
      |  SELECT doc_id FROM gated
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
      |lab AS (
      |  SELECT s.doc_id,
      |         coalesce(l.component, CAST(s.doc_id AS BIGINT)) AS cluster
      |  FROM surv s LEFT JOIN labels l ON l.id = s.doc_id),
      |sp AS (
      |  SELECT doc_id,
      |         CASE WHEN ${hash60Sql("cluster", "leak")} % 10 < 9
      |              THEN 'train' ELSE 'eval' END AS split
      |  FROM lab)
      |SELECT * FROM (
      |  SELECT 1 AS stage_no, 'total' AS stage, count(*) AS docs FROM d
      |  UNION ALL SELECT 2, 'gated', count(*) FROM gated
      |  UNION ALL SELECT 3, 'deduped', count(*) FROM surv
      |  UNION ALL SELECT 4, 'train', count(*) FROM sp WHERE split = 'train'
      |  UNION ALL SELECT 5, 'eval', count(*) FROM sp WHERE split = 'eval')
      |ORDER BY stage_no""".stripMargin),
    "north-star capstone: gate → dedup-drop → leakage-safe split funnel")

  /** c11 — deterministic shard export
    * ([[graft.operators.ShardExport]]): the writer leg of the
    * pipeline — the corpus lands as [[graft.operators.ShardExport.NumShards]]
    * hash-assigned shard directories, each internally sorted by the
    * salted hash (reproducible pseudo-random training order WITHOUT a
    * global sort). The registered query reads the WRITTEN layout back
    * and emits each shard's manifest — doc/token mass for balance
    * auditing, the hash range, and the hash-order head doc (min_by) —
    * so the gate checks the on-disk artifact, not the plan that
    * intended it; the oracle replays assignment + manifest from the
    * raw documents table. */
  val c11ShardExport: GraftQuery = GraftQuery(
    "c11_shard_export",
    (s, dir) => {
      import s.implicits._
      graft.operators.ShardExport.ensure(s, dir)
        .groupBy($"shard")
        .agg(count(lit(1)).as("docs"),
          sum($"toks").as("tokens"),
          min($"h").as("min_hash"),
          max($"h").as("max_hash"),
          min_by($"doc_id", $"h").as("first_doc"))
        .orderBy($"shard")
    },
    Some(raw"""WITH x AS (
      |  SELECT doc_id,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS toks,
      |         ${hash60Sql("doc_id", graft.operators.ShardExport.Salt)} AS h
      |  FROM documents)
      |SELECT h % ${graft.operators.ShardExport.NumShards} AS shard,
      |       count(*) AS docs,
      |       CAST(sum(toks) AS BIGINT) AS tokens,
      |       min(h) AS min_hash,
      |       max(h) AS max_hash,
      |       arg_min(doc_id, h) AS first_doc
      |FROM x GROUP BY 1 ORDER BY shard""".stripMargin),
    "training-export shard writer: hash-sharded layout + per-shard manifest")

  /** c12 — hybrid retrieval SERVED FROM THE PERSISTED INDEXES (the
    * warm-path counterpart of c03, closing r6's top ask): the lexical
    * leg is BM25 over the term-pruned posting artifact
    * ([[graft.queries.TextQueries.bm25Scores]] — the t18 stage: the
    * `term IN` read touches ≈ the matched posting runs, never the
    * documents table) and the vector leg is the persisted-pivot IVF
    * candidate stage ([[graft.queries.VectorQueries.ivfCandidates]] —
    * partition-pruned flat-index read, ≈ nprobe/B of the files, never
    * a full-corpus cosine pass), fused by the same Reciprocal Rank
    * Fusion c03 pins (Σ 1/(60+rank), round-6). c03 remains registered
    * as the from-raw-text baseline; this is what the reference's
    * dashboard cadence (`README.md:11-12` — repeated interactive
    * queries over standing data) actually runs at 100 TB: every
    * per-request cost is bounded by matched postings + probed cells,
    * both index reads, with the corpus-linear work done once at build
    * time. The oracle replays BOTH legs from raw tables (tokenize →
    * BM25; sample-train → assign → probe) — the indexes are the
    * engine's shortcut, never the truth's. Both rankings are bounded
    * top-20 lists, the fusion a tiny full-outer join; the global
    * windows ride above LIMITs (≤20 rows — the established
    * scale-safe pattern). */
  val c12IndexedHybrid: GraftQuery = GraftQuery(
    "c12_indexed_hybrid_rrf",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wV = Window.orderBy($"sim".desc, $"doc_id")
      val vecRank = VectorQueries.ivfCandidates(s, dir)
        .where($"query_id" === 0)
        .select($"vec_id".as("doc_id"), $"sim")
        .orderBy($"sim".desc, $"doc_id").limit(20)
        .withColumn("vrnk", row_number().over(wV))
        .select($"doc_id", $"vrnk")
      val wL = Window.orderBy($"score".desc, $"doc_id")
      val lexRank = TextQueries.bm25Scores(s, dir)
        .orderBy($"score".desc, $"doc_id").limit(20)
        .withColumn("lrnk", row_number().over(wL))
        .select($"doc_id", $"lrnk")
      val wF = Window.orderBy($"rrf".desc, $"doc_id")
      vecRank.join(lexRank, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          round(
            coalesce(lit(1.0) / (lit(60.0) + $"vrnk"), lit(0.0))
              + coalesce(lit(1.0) / (lit(60.0) + $"lrnk"), lit(0.0)),
            6).as("rrf"))
        .orderBy($"rrf".desc, $"doc_id").limit(10)
        .withColumn("rnk", row_number().over(wF))
        .select($"rnk", $"doc_id", $"rrf")
    },
    Some(s"""WITH ${VectorQueries.ivfCandidateCtes},
      |${TextQueries.bm25Ctes},
      |vrank AS (
      |  SELECT doc_id, vrnk FROM (
      |    SELECT vec_id AS doc_id,
      |           row_number() OVER (ORDER BY sim DESC, vec_id) AS vrnk
      |    FROM cands WHERE query_id = 0)
      |  WHERE vrnk <= 20),
      |lrank AS (
      |  SELECT doc_id, lrnk FROM (
      |    SELECT doc_id,
      |           row_number() OVER (ORDER BY score DESC, doc_id) AS lrnk
      |    FROM sc)
      |  WHERE lrnk <= 20),
      |fused AS (
      |  SELECT coalesce(vrank.doc_id, lrank.doc_id) AS doc_id,
      |         round(coalesce(1.0 / (60.0 + vrnk), 0.0)
      |             + coalesce(1.0 / (60.0 + lrnk), 0.0), 6) AS rrf
      |  FROM vrank FULL OUTER JOIN lrank ON vrank.doc_id = lrank.doc_id)
      |SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk,
      |       CAST(doc_id AS BIGINT) AS doc_id, rrf
      |FROM fused
      |ORDER BY rrf DESC, doc_id
      |LIMIT 10""".stripMargin),
    "north-star warm path: hybrid RRF served from the persisted BM25 + IVF indexes")

  /** c13 — DSIR-style importance resampling (the published
    * data-selection recipe: score every raw document by a hashed
    * n-gram bag LM ratio p_target/p_raw, then Gumbel-top-k resample
    * with probability ∝ the importance weight — selection that tracks
    * the target distribution WITHOUT collapsing onto only the most
    * target-like docs). Target here = the `lang = 'en'` slice; raw =
    * the whole corpus; features = unigrams hashed into B = 8192
    * buckets by the library's md5 [[hash60]] (at 100 TB the vocab is
    * unbounded — hashing fixes the stats table at B rows regardless).
    *
    * Engine parity is the design driver, same bar as c09's
    * no-float-keys tournament:
    *  - the per-bucket log ratio is computed with ONE ln over an
    *    integer-exact rational ((ct+1)(Tr+B)) / ((cr+1)(Tt+B))
    *    (both products < 2^53, so the double inputs are identical on
    *    both engines), then FIXED-POINTED to round(1e6·ln) — a BIGINT;
    *  - a doc's score is Σ n_b·lr_b over its bucket counts — an exact
    *    integer sum, associative, immune to partial-agg order (a raw
    *    double Σ would differ between engines/retries);
    *  - the Gumbel noise uses the deterministic hash-uniform
    *    u = (hash60(doc_id)+0.5)/2^60 (no rand(): task retries and
    *    engine replays draw identical noise).
    *
    * Plan at 100 TB: bucket stats are two B-row hash aggs; the ratio
    * table broadcasts (8192 rows); the only wide shuffle carries
    * (doc_id, bucket, n) partial counts; the global top-k is
    * TakeOrdered (per-partition heaps, no global sort), and the
    * display rank window rides AFTER the limit (≤100 rows). */
  val c13DsirResample: GraftQuery = GraftQuery(
    "c13_dsir_resample",
    (s, dir) => {
      import s.implicits._
      val B = 8192
      // Par.widen (guide §2): the tokenize + per-token md5 hash is the
      // query's dominant CPU and the byte-small corpus plans ONE scan
      // split — unwidened, this pass ran serially (stage profile:
      // 1.24 s + 0.96 s + 0.58 s single-task stages).
      val toks = graft.functions.Par.widen(Tables(s, dir, "documents")
          .where($"text".isNotNull)
          .select($"doc_id", $"lang", $"text"))
        .select($"doc_id", $"lang",
          explode(split(trim($"text"), "\\s+")).as("tok"))
        .withColumn("b", hash60($"tok", "dsir") % B)
      // ONE tokenize pass, not four (r16): cr/ct/tr/tt are all exact
      // integer sums derivable from the (doc, lang, b) partial counts —
      // raw = Σn per b, tgt = Σn per b where lang='en', totals = Σ over
      // the B-row stats frame — so the expensive pass collapses into
      // docBucket's own aggregation and the bucket stats re-aggregate
      // its kilobyte-scale output (identical integers, oracle unchanged)
      // narrow partial-count cache: two consumers (bucket stats, the
      // score join) — persisted 0.94 s vs recompute 1.12 s min-of-4
      val docBucket = toks.groupBy($"doc_id", $"lang", $"b")
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = docBucket.groupBy($"b").agg(
        sum($"n").as("cr"),
        sum(when($"lang" === "en", $"n").otherwise(0L)).as("ct"))
      val tot = stats.agg(sum($"cr").as("tr"), sum($"ct").as("tt"))
      // one ln over an integer-exact rational, fixed-pointed to 1e-6
      val lr = stats
        .crossJoin(broadcast(tot))
        .select($"b",
          round(lit(1e6) * log(
            (($"ct" + 1) * ($"tr" + B)).cast("double") /
              (($"cr" + 1) * ($"tt" + B)).cast("double")))
            .cast("long").as("lr"))
      val scored = docBucket.join(broadcast(lr), "b")
        .groupBy($"doc_id", $"lang")
        .agg(sum($"n" * $"lr").as("score_fp"))
      // Gumbel-top-k: key = logw + Gumbel(0,1), noise from the
      // deterministic hash uniform — exact 2^60 divisor literal
      val u = (hash60($"doc_id", "dsirg").cast("double") + 0.5) /
        lit(1.152921504606846976e18)
      val keyed = scored.withColumn("key",
        $"score_fp".cast("double") / 1e6 - log(-log(u)))
      val top = keyed.orderBy($"key".desc, $"doc_id").limit(100)
      top.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"key".desc, $"doc_id")))
        .select($"rnk", $"doc_id", $"lang", $"score_fp")
        .orderBy($"rnk")
    },
    Some(raw"""WITH tok AS (
      |  SELECT doc_id, lang,
      |         ${hash60Sql("unnest(regexp_split_to_array(trim(text), '\\s+'))", "dsir")} % 8192 AS b
      |  FROM documents WHERE text IS NOT NULL),
      |raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY 1),
      |tgt AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
      |tot AS (SELECT count(*) AS tr,
      |               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt
      |        FROM tok),
      |lr AS (
      |  SELECT r.b,
      |         CAST(round(1e6 * ln(
      |           CAST((coalesce(t.ct, 0) + 1) * (tot.tr + 8192) AS DOUBLE)
      |           / CAST((r.cr + 1) * (tot.tt + 8192) AS DOUBLE))) AS BIGINT) AS lr
      |  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot),
      |db AS (SELECT doc_id, lang, b, count(*) AS n FROM tok GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT d.doc_id, d.lang, sum(d.n * l.lr) AS score_fp
      |  FROM db d JOIN lr l USING (b) GROUP BY 1, 2),
      |g AS (
      |  SELECT doc_id, lang, score_fp,
      |         CAST(score_fp AS DOUBLE) / 1e6
      |         - ln(-ln((${hash60Sql("doc_id", "dsirg")} + 0.5)
      |                  / 1152921504606846976.0)) AS key
      |  FROM sc),
      |rk AS (SELECT *, row_number() OVER (ORDER BY key DESC, doc_id) AS rnk FROM g)
      |SELECT rnk, CAST(doc_id AS BIGINT) AS doc_id, lang,
      |       CAST(score_fp AS BIGINT) AS score_fp
      |FROM rk WHERE rnk <= 100
      |ORDER BY rnk""".stripMargin),
    "north-star: DSIR hashed-ngram importance resampling (fixed-point LM ratio, Gumbel top-k)")

  val all: Seq[GraftQuery] = Seq(
    c01CorpusCuration, c02StratifiedSample, c03HybridRrf, c04Profile,
    c05SequencePacking, c06LeakageSafeSplit, c07CorpusMix, c08ClusterSample,
    c09WeightedSample, c10CurationFunnel, c11ShardExport, c12IndexedHybrid,
    c13DsirResample)
}
