package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fuzzy-deduplication operators (SURVEY.md §2.9 D3) over `documents`
  * and `embeddings` — the LLM-pipeline dedup family beyond the exact
  * hash-groupBy (t04) and banded n-gram Jaccard (t05):
  *
  *  - d01: shingle → MinHash → band → bucket-join → exact-verify.
  *    13 bands × 5 rows (65 derived min-hashes, JIT-compiled typed
  *    Scala — see HashSketch); a true pair at Jaccard ≥ 0.9 is missed with prob
  *    (1−0.9⁵)¹³ ≈ 9e-6, noise pairs (J≈0.3) collide with prob ≈3%,
  *    and candidates are verified with exact Jaccard so false
  *    positives never surface. Candidate generation is ONLY the
  *    (band, signature) equi-join — never all-pairs.
  *  - d02: 128-bit SimHash + 8-band (16-bit) Hamming blocking.
  *  - d03: embedding-cosine near-dup via the IVF bucketing of v04.
  *
  * Scale: every stage is (narrow projection → explode(bands) →
  * hash-partition join on high-cardinality keys). The heaviest shuffle
  * carries (doc_id, band, sig) triples — 16 rows per doc, not the
  * documents themselves; shingle sets are re-joined only for the few
  * verified candidates.
  */
object DedupQueries {
  private type QFn = (SparkSession, String) => DataFrame

  private def q(name: String, doc: String, oracle: Option[String])(fn: QFn) =
    GraftQuery(name, fn, oracle, doc)

  // NOTE: constants the oracle strings bake into their SQL MUST be
  // declared before the first consuming `val` (object vals initialize
  // in declaration order; a forward reference reads 0 and silently
  // builds a degenerate oracle — caught twice by the gate this round).
  private val MinhashBands = 13
  private val MinhashRows = 5 // 65 hash functions total

  /** Per-doc candidate budget for the SimHash band buckets: the
    * banded join may generate at most `BudgetPerDoc × N` candidate
    * pairs. Chosen so the correctness SFs never skip (random-pair
    * collision mass ≈ N²/964 stays under 64·N up to N ≈ 62k docs)
    * while the replicas are WORK-BOUNDED: the budget converts the
    * fixed-p quadratic floor into linear work plus a DISCLOSED recall
    * loss (`skipped_candidates` column). */
  private val BudgetPerDoc = 64L

  /** Distinct 3-token shingles of a text column (guarded for short
    * docs: <3 tokens degrades to the whole-doc string). */
  def shingles(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** D3 — MinHash-LSH near-duplicate pairs, exact-verified, with the
    * d02/d06 candidate budget applied to the band buckets (round-6):
    * bucket mass is counted first, buckets admit cheapest-first within
    * 64·N, and the skipped mass is disclosed in the
    * `skipped_candidates` output column (zero at the gate SFs).
    * Output: (doc_a, doc_b, jaccard, skipped_candidates) for
    * shingle-Jaccard ≥ 0.6.
    * Oracle: replays the SAME banded candidate generation (the mod-P
    * minhash family is BIGINT-expressible, see
    * [[graft.functions.HashSketch.minhashModP]]), then exact Jaccard
    * on candidates only — linear in DuckDB, so the sf0.1 gate no
    * longer needs the all-pairs skip the round-4 oracle forced.
    * A banded oracle is also the FAITHFUL one: banding at J between
    * 0.6 and 0.9 has real miss probability ((1−0.6⁵)¹³ ≈ 35% at
    * J = 0.6), so an all-pairs oracle only matches while the corpus
    * happens to contain no pairs in the miss zone — the banded oracle
    * pins the operator's actual contract at any SF. */
  val d01MinHashLsh: GraftQuery = q(
    "d01_minhash_lsh_dedup",
    "D3 shingle→minhash→band→bucket-join→verify near-dup pairs",
    Some(s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 3
      |              THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
      |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |              ELSE [list_aggregate(toks, 'string_agg', ' ')] END AS sh
      |  FROM t),
      |g AS (SELECT doc_id, unnest(sh) AS sg FROM s),
      |hx AS (
      |  SELECT doc_id,
      |         ((base*base + base) % 1000000007) AS x
      |  FROM (
      |    SELECT doc_id,
      |           CASE WHEN length(sg) = 0 THEN 0
      |                ELSE list_reduce(
      |                  list_transform(generate_series(1, length(sg)),
      |                                 i -> CAST(ascii(sg[i]) AS BIGINT)),
      |                  (h, c) -> (h*131 + c) % 1000000007) END AS base
      |    FROM g)),
      |af AS (
      |  SELECT i, a, ((a*a + a) % 1000000007) AS b
      |  FROM (
      |    SELECT i, 1 + (((sd*sd + sd) % 1000000007) % 1000000006) AS a
      |    FROM (
      |      SELECT i, ((i + 1) * 1000003) % 1000000007 AS sd
      |      FROM (SELECT unnest(generate_series(0, ${MinhashBands * MinhashRows - 1})) AS i)))),
      |hm AS (
      |  SELECT doc_id, i, min(((y*y + y) % 1000000007)) AS m
      |  FROM (SELECT h.doc_id, f.i, ((h.x * f.a + f.b) % 1000000007) AS y
      |        FROM hx h CROSS JOIN af f)
      |  GROUP BY doc_id, i),
      |bands AS (
      |  SELECT doc_id, i // $MinhashRows AS band,
      |         list_reduce(list(m ORDER BY i), (k, m) -> (k*131 + m) % 1000000007) AS sig
      |  FROM hm GROUP BY doc_id, i // $MinhashRows),
      |bm AS (SELECT band, sig, count(*) AS c FROM bands GROUP BY band, sig),
      |mass AS (SELECT band, sig, (c * (c - 1)) // 2 AS cand FROM bm),
      |budget AS (SELECT $BudgetPerDoc * count(*) AS b FROM documents),
      |budgeted AS (
      |  SELECT *, sum(cand) OVER (ORDER BY cand, band, sig
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM mass),
      |keep AS (SELECT band, sig FROM budgeted
      |         WHERE cum <= (SELECT b FROM budget)),
      |skip AS (
      |  SELECT coalesce(sum(CASE WHEN cum > (SELECT b FROM budget)
      |                            THEN cand END), 0) AS skipped_candidates
      |  FROM budgeted),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a
      |  JOIN keep k ON k.band = a.band AND k.sig = a.sig
      |  JOIN bands b ON a.band = b.band AND a.sig = b.sig
      |  WHERE a.doc_id < b.doc_id),
      |p AS (
      |  SELECT CAST(c.doc_a AS BIGINT) AS doc_a,
      |         CAST(c.doc_b AS BIGINT) AS doc_b,
      |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |         / len(list_distinct(list_concat(sa.sh, sb.sh))) AS j
      |  FROM cand c
      |  JOIN s sa ON sa.doc_id = c.doc_a
      |  JOIN s sb ON sb.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, round(j, 4) AS jaccard,
      |       CAST(sk.skipped_candidates AS BIGINT) AS skipped_candidates
      |FROM p CROSS JOIN skip sk WHERE j >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    import graft.functions.HashSketch
    // Signature generation is JIT-compiled typed Scala — as Catalyst
    // higher-order functions the 65-minima loop evaluates interpreted
    // (HOFs are CodegenFallback, no CSE) and measured 40+ s at sf0.01;
    // see graft.functions.HashSketch. Each band's 5-hash slice is
    // collapsed to ONE long band key (HashSketch.bandKeyModP —
    // collisions only add candidates, which exact verification
    // rejects), so the banded shuffle carries 13 × (long, int, long)
    // rows per doc and the bucket join is a primitive equi-join;
    // joins/dedup/sorting stay relational.
    //
    // The frame is served from the PERSISTED signature index
    // ([[graft.operators.IndexStore.minhashBands]] — the dedup
    // analog of the vector artifacts): the sketch pass runs once per
    // corpus lifetime, and the three consumers below (bucket-mass
    // count + both self-join sides) read columnar primitives instead
    // of re-sketching. An executor-cache persist here measured 3×
    // WORSE than even pipelined recompute at the 100× replica; the
    // parquet artifact beats both.
    val banded = graft.operators.IndexStore
      .minhashBands(s, dir, MinhashBands, MinhashRows)
    // ---- candidate BUDGET (the d02/d06 discipline via the shared
    // [[graft.operators.CandidateBudget]]): a band signature shared by
    // k docs yields k(k−1)/2 candidate pairs — boilerplate-heavy
    // shingle skew makes that a structural quadratic on real corpora
    // even where LSH theory promises small buckets. Count bucket mass
    // FIRST, admit cheapest-first within 64·N, DISCLOSE the skipped
    // mass in the `skipped_candidates` output column. Unlike d02's
    // key-space-bounded buckets, mod-P signatures make d01's bucket
    // count corpus-bound and singleton-dominated — so only POSITIVE-
    // mass buckets (collision buckets: one row per duplicate group or
    // band collision, never per member) enter the global window, and
    // the prune is a left_anti on the HOT TAIL (`skippedKeys`), not a
    // semi-join on the unbounded keep set; a zero- or one-member
    // bucket neither consumes budget nor yields a self-join pair, so
    // the semantics (and the oracle's cum <= b over all buckets) are
    // unchanged.
    val mass = banded.groupBy($"band", $"sig").agg(count(lit(1)).as("c"))
      .select($"band", $"sig", expr("(c * (c - 1)) div 2").as("cand"))
      .where($"cand" > 0)
    val budget = BudgetPerDoc * Tables(s, dir, "documents").count()
    val adm =
      graft.operators.CandidateBudget.admit(mass, Seq("band", "sig"), budget)
    val skipped = adm.skippedMass
    val kept = banded.join(adm.skippedKeys, Seq("band", "sig"), "left_anti")
    val candidates = kept.as("a")
      .join(kept.as("b"), Seq("band", "sig"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // exact verify on candidate pairs only, via primitive counting
    // joins (same rule as the banding: no boxed array columns in any
    // shuffle): |A∩B| = matched (doc, hash) rows once the pair is
    // joined to both docs' exploded shingle-hash sets; Jaccard =
    // inter / (|A| + |B| − inter). Set-equal to string-set Jaccard
    // modulo 64-bit collisions.
    // Par.widen: the sub-4-MB single-file corpus plans as ONE scan
    // split, so this shingling pass — which fuses into every verify
    // map stage via the broadcast semi-join — ran serially (guide §2)
    val allHashes = graft.functions.Par.widen(Tables(s, dir, "documents")
        .select($"doc_id", $"text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        HashSketch.hashSet(HashSketch.shingle3(t)).iterator.map(h => (id, h)) }
      .toDF("doc_id", "h")
    // semi-join prune: only CANDIDATE docs' hashes enter the verify
    // joins. Candidate doc ids are small relative to the corpus (LSH
    // collision rate), so the semi-join broadcasts and the corpus-wide
    // hash set is filtered map-side — the verify stage's shuffle
    // volume is bounded by candidates, not by the corpus.
    val candDocs = candidates.select($"doc_a".as("doc_id"))
      .unionAll(candidates.select($"doc_b".as("doc_id"))).distinct()
    val hashes = allHashes.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val sizes = hashes.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    candidates
      .join(hashes.select($"doc_id".as("doc_a"), $"h"), "doc_a")
      .join(hashes.select($"doc_id".as("doc_b"), $"h"), Seq("doc_b", "h"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("j"))
      .where($"j" >= 0.6)
      .select($"doc_a", $"doc_b", round($"j", 4).as("jaccard"))
      .crossJoin(broadcast(skipped))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Oracle template shared by d02/d06: full signature recomputation
    * in BIGINT-exact mod-P arithmetic, then the SAME banded multi-probe
    * candidate generation + candidate budget the Spark side runs
    * (replacing the round-4 all-pairs tail, which was quadratic in
    * DuckDB and forced an sf0.1 skip). Exactness is unchanged where
    * nothing is skipped: by the pigeonhole recall argument a Hamming
    * ≤ 15 pair ALWAYS collides in some band's ≤1-flip probe, so banded
    * candidates ⊇ the all-pairs result — and the round-4 all-pairs
    * oracle already re-proved that on this corpus. The budget CTEs
    * mirror [[simhashPairs]] bucket for bucket (same mass definition,
    * same (cand, keys) admit order, same 64·N budget), so the oracle
    * now also pins the skip semantics, not just the happy path. */
  private def simhashOracle(sharded: Boolean): String = {
    val keyList = (if (sharded) Seq("lang") else Nil) ++ Seq("band", "sub")
    val keys = keyList.mkString(", ")
    val aKeys = keyList.map(k => s"a.$k = b.$k").mkString(" AND ")
    val kKeys = keyList.map(k => s"k.$k = a.$k").mkString(" AND ")
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 3
      |              THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
      |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |              ELSE [list_aggregate(toks, 'string_agg', ' ')] END AS sh
      |  FROM t),
      |g AS (SELECT doc_id, unnest(sh) AS sg FROM s),
      |hx AS (
      |  SELECT doc_id,
      |         ((base*base + base) % 1000000007) AS x
      |  FROM (
      |    SELECT doc_id,
      |           CASE WHEN length(sg) = 0 THEN 0
      |                ELSE list_reduce(
      |                  list_transform(generate_series(1, length(sg)),
      |                                 i -> CAST(ascii(sg[i]) AS BIGINT)),
      |                  (h, c) -> (h*131 + c) % 1000000007) END AS base
      |    FROM g)),
      |ab(band, a, b) AS (VALUES
      |  (0, 236898829, 85734059),  (1, 681205763, 962623609),
      |  (2, 105683867, 227583979), (3, 893741531, 664051099),
      |  (4, 319406581, 133987433), (5, 748807279, 503595613),
      |  (6, 552167521, 847421867), (7, 407145341, 318037609)),
      |z AS (
      |  SELECT doc_id, band, ((y*y + y) % 1000000007) AS z
      |  FROM (SELECT doc_id, band,
      |               ((x * CAST(a AS BIGINT) + b) % 1000000007) AS y
      |        FROM hx CROSS JOIN ab)),
      |votes AS (
      |  SELECT doc_id, band, bit,
      |         sum(CASE WHEN ((z >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM z CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit)
      |  GROUP BY doc_id, band, bit),
      |subs AS (
      |  SELECT doc_id, band,
      |         sum(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sub
      |  FROM votes GROUP BY doc_id, band),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(CASE WHEN slo >= 9223372036854775808 THEN slo - 18446744073709551616
      |                   ELSE slo END AS BIGINT) AS lo,
      |         CAST(CASE WHEN shi >= 9223372036854775808 THEN shi - 18446744073709551616
      |                   ELSE shi END AS BIGINT) AS hi
      |  FROM (
      |    SELECT doc_id,
      |           sum(CASE WHEN band < 4
      |                    THEN CAST(sub AS HUGEINT)
      |                         * (CASE band WHEN 0 THEN 1 WHEN 1 THEN 65536
      |                            WHEN 2 THEN 4294967296 ELSE 281474976710656 END)
      |                    ELSE 0 END) AS slo,
      |           sum(CASE WHEN band >= 4
      |                    THEN CAST(sub AS HUGEINT)
      |                         * (CASE band WHEN 4 THEN 1 WHEN 5 THEN 65536
      |                            WHEN 6 THEN 4294967296 ELSE 281474976710656 END)
      |                    ELSE 0 END) AS shi
      |    FROM subs GROUP BY doc_id)),
      |ex AS (
      |  SELECT s.doc_id, d.lang, s.band, s.sub
      |  FROM subs s JOIN documents d ON d.doc_id = s.doc_id),
      |pr AS (
      |  SELECT doc_id, lang, band,
      |         CASE WHEN p = 16 THEN sub
      |              ELSE xor(sub, (CAST(1 AS BIGINT) << p)) END AS sub
      |  FROM ex CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS p)),
      |me AS (SELECT """.stripMargin + keys + """, count(*) AS m_e FROM ex GROUP BY """.stripMargin + keys + """),
      |mp AS (SELECT """.stripMargin + keys + """, count(*) AS m_p FROM pr GROUP BY """.stripMargin + keys + """),
      |mass AS (
      |  SELECT """.stripMargin + keys + """, m_e * m_p AS cand
      |  FROM me JOIN mp USING (""".stripMargin + keys + """)),
      |budget AS (SELECT """.stripMargin + BudgetPerDoc + """ * count(*) AS b FROM documents),
      |budgeted AS (
      |  SELECT *, sum(cand) OVER (ORDER BY cand, """.stripMargin + keys + """
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM mass),
      |keep AS (SELECT """.stripMargin + keys + """ FROM budgeted
      |         WHERE cum <= (SELECT b FROM budget)),
      |skip AS (
      |  SELECT coalesce(sum(CASE WHEN cum > (SELECT b FROM budget)
      |                            THEN cand END), 0) AS skipped_candidates
      |  FROM budgeted),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ex a
      |  JOIN pr b ON """.stripMargin + aKeys + """ AND a.doc_id < b.doc_id
      |  JOIN keep k ON """.stripMargin + kKeys + """)
      |SELECT CAST(c.doc_a AS BIGINT) AS doc_a,
      |       CAST(c.doc_b AS BIGINT) AS doc_b,
      |       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming,
      |       CAST(s.skipped_candidates AS BIGINT) AS skipped_candidates
      |FROM cand c
      |JOIN sig a ON a.doc_id = c.doc_a
      |JOIN sig b ON b.doc_id = c.doc_b
      |CROSS JOIN skip s
      |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 15
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** D3 — SHARDED Hamming index (mitigation (a) of the fixed-p
    * collision floor, measured in PLANS.md): the same 128-bit
    * multi-probe SimHash pipeline with `lang` joined into the banding
    * key, so band collisions — and therefore the N²·p candidate
    * term — only occur WITHIN a shard: Σ N_shard² ≪ N² when the
    * shard key distributes the corpus. This is how a Hamming index
    * deploys at corpus scale (shard by language/source/length-bucket
    * and keep N-per-shard ≤ ~10⁶). The trade is explicit and the
    * synthetic corpus makes it visible: near-dups here cross `lang`
    * freely (6 of 24 sf0.01 pairs are same-lang), so the shard key
    * must align with where duplication actually lives — true in real
    * corpora (near-dups of a page share its language), false for
    * synthetic uniform text; the oracle verifies the within-shard
    * semantics exactly either way. */
  val d06ShardedSimHash: GraftQuery = q(
    "d06_sharded_simhash",
    "D3 lang-sharded SimHash Hamming index (bounded per-shard collision floor)",
    Some(simhashOracle(sharded = true))
  ) { (s, dir) => simhashPairs(s, dir, sharded = true) }

  /** Shared SimHash pair pipeline — d02 (global index) and d06
    * (lang-sharded index) differ only in whether `lang` joins the
    * banding key and bounds the verify. */
  private def simhashPairs(s: SparkSession, dir: String,
      sharded: Boolean): DataFrame = {
    import s.implicits._
    // SimHash signature in typed Scala (same rationale as d01) as TWO
    // packed longs per doc; banding and Hamming distance are then pure
    // codegen'd integer expressions — band b's key is the b-th 16-bit
    // slice, the distance is bit_count(lo⊕lo') + bit_count(hi⊕hi').
    // No array columns, no interpreted higher-order functions anywhere.
    val docs = Tables(s, dir, "documents")
    // persist the sketching stage: the budget machinery makes the
    // typed simhash lineage feed FOUR consumers (m_e and m_p bucket
    // counts + both candidate-join sides), and unlike d01's banded
    // self-join these are four DIFFERENT exchanges, so nothing is
    // ReusedExchange-shared — uncached, the dominant sketch cost would
    // run 4×. The cache is N primitive rows (two longs + lang); it
    // materializes on first execution, is shared by every consumer of
    // the returned (lazy) frame, and is RETAINED for the session (the
    // in-memory part is LRU-evictable but disk-spilled blocks are not)
    // — the Verify/Bench harnesses clearCache() between queries, and a
    // long-lived service embedding this operator should do the same.
    // (Par.widen history: rejected in r16 under the bypass-merge
    // shuffle writer — 1.45 s → 1.66 s d02 — where every extra
    // exchange paid M·R file opens; RE-MEASURED in r17 under the
    // single-file writer and now a win, d02 1.04 → 0.91, d06 1.14 →
    // 0.88 min-of-3: the 1-split scan serialized the sketch pass, the
    // probe fan-out and the mass aggregation on one core)
    val signed = graft.functions.Par.widen(
        docs.select($"doc_id", $"lang", $"text")).as[(Long, String, String)]
      .map { case (id, lang, text) =>
        val (lo, hi) = graft.functions.HashSketch.simhash128(
          graft.functions.HashSketch.shingle3(text))
        (id, lang, lo, hi)
      }
      .toDF("doc_id", "lang", "lo", "hi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = signed
      .select($"doc_id", $"lang", $"lo", $"hi",
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("sub", expr(
        "CASE WHEN band < 4 THEN (lo >> (band * 16)) & 65535 " +
          "ELSE (hi >> ((band - 4) * 16)) & 65535 END"))
    // multi-probe side: the exact key plus its 16 single-bit flips
    // (p = 16 ⇒ unflipped). XOR is symmetric, so for any pair with a
    // ≤1-bit band it suffices that the HIGHER-id doc probes — the
    // doc_a < doc_b filter below keeps exactly that orientation.
    val probes = exact
      .select($"doc_id", $"lang", $"lo", $"hi", $"band",
        explode(sequence(lit(0), lit(16))).as("p"), $"sub")
      .withColumn("sub", expr("CASE WHEN p = 16 THEN sub ELSE sub ^ (1 << p) END"))
      .drop("p")
    val keys = (if (sharded) Seq("lang") else Nil) ++ Seq("band", "sub")
    val keyCols = keys.map(col)
    // ---- candidate BUDGET (t07's count-first hygiene rule, applied
    // to band buckets): a fixed-p Hamming index has a structural
    // N²·p random-collision term that no banding parameter removes
    // (measured: 116× time at the 100× replica, round 4). Count each
    // bucket's candidate mass (exact-side rows × probe-side rows)
    // FIRST, then admit buckets in ascending-mass order until the
    // global budget (BudgetPerDoc × N) is spent; the rest are skipped
    // and their mass is DISCLOSED in the `skipped_candidates` output
    // column. Cheapest-first maximizes admitted buckets (true
    // near-dup pairs live in small buckets — a near-dup's band key is
    // shared by its twin, not by the random crowd), is fully
    // deterministic ((mass, keys) is a total order), and bounds the
    // verify-stage join to O(N) rows at ANY corpus size. The bucket
    // frame itself is bounded by the KEY SPACE (8 bands × 2¹⁶ subs
    // × shards), not the corpus — the global cumulative window and
    // the broadcast of kept keys hold at any N.
    // Probe-side mass is DERIVED, never re-aggregated: a doc probes
    // key s iff its exact key equals s (p = 16) or differs from s in
    // exactly the flipped bit, and XOR flips are involutions — so
    // m_p(s) = m_e(s) + Σ_j m_e(s ^ 2^j), a 17-way explode of the
    // KEY-SPACE-bounded m_e frame (≤ 8·N aggregated rows, kilobyte
    // scale) instead of a hash aggregation of the docs×136 probe
    // fan-out. Same numbers bit-for-bit (the oracle still replays the
    // direct probe-count formulation); measured ~0.5 s off d06's
    // admission at sf0.1, and at corpus scale it removes the second
    // full fan-out pass entirely.
    val mE = exact.groupBy(keyCols: _*).agg(count(lit(1)).as("m_e"))
    val nonSub = keys.filterNot(_ == "sub").map(col)
    // pin the explode's width: the m_e frame is ~0.5 MB, so AQE
    // byte-coalesces its exchange to a handful of tasks — but the
    // 17-way flip explode + re-aggregation it feeds is CPU-dense
    // (millions of rows from kilobytes; profiled r17 at 6-8 tasks,
    // the query's slowest stage). An explicit repartition(n) is
    // AQE-exempt, so the derivation runs at the session's width; at
    // cluster scale the frame is still key-space-bounded kilobytes
    // and one extra exchange of it is noise (guide §2.5: spread
    // CPU-dense stages, not just bytes).
    val mP = mE
      .repartition(s.sparkContext.defaultParallelism)
      .select((nonSub :+ $"sub" :+ $"m_e"): _*)
      .withColumn("p", explode(sequence(lit(0), lit(16))))
      .withColumn("sub", expr("CASE WHEN p = 16 THEN sub ELSE sub ^ (1 << p) END"))
      .drop("p")
      .groupBy(keyCols: _*).agg(sum($"m_e").as("m_p"))
    val mass = mE.join(mP, keys)
      .withColumn("cand", $"m_e" * $"m_p")
    val budget = BudgetPerDoc * docs.count()
    val adm = graft.operators.CandidateBudget.admit(mass, keys, budget)
    val skipped = adm.skippedMass
    // the candidate join is corpus × probe-fan-out sized on BOTH
    // sides — it must never be planned as a STATIC broadcast. The
    // admission cache gives `keep` precise tiny statistics, and the
    // planner's semi-join output estimate inherits them, which at the
    // 100× replica made it auto-broadcast the 100M-row semi side and
    // OOM the build (estimate ≠ actual, the classic stats-propagation
    // trap). The shuffle_hash hint pins the STATIC plan away from
    // that broadcast: the BUILD side is the budget-pruned exact frame
    // (admitted mass ≤ the budget by construction, so its
    // per-partition hash map is bounded where a raw corpus frame's
    // would not be), and skipping the sort-merge fallback trades that
    // bounded memory for the two corpus-sized sorts a merge join
    // would pay on every probe — measured cheaper at the 100×
    // replica. AQE still re-plans from ACTUAL shuffled sizes at
    // runtime — the safe direction. When the budget covered EVERY bucket the semi-join
    // is an identity — admit() knows (allAdmitted) and the prune is
    // skipped outright, not broadcast for nothing.
    val prunedExact =
      if (adm.allAdmitted) exact
      else exact.join(broadcast(adm.keep), keys, "left_semi")
    val cands = prunedExact.as("a").hint("shuffle_hash")
      .join(probes.as("b"), keys)
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.lo".as("lo_a"), $"a.hi".as("hi_a"),
        $"b.lo".as("lo_b"), $"b.hi".as("hi_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .select($"doc_a", $"doc_b",
        (bit_count($"lo_a".bitwiseXOR($"lo_b"))
          + bit_count($"hi_a".bitwiseXOR($"hi_b"))).cast("long").as("hamming"))
      .where($"hamming" <= 15)
      .crossJoin(broadcast(skipped))
      .orderBy($"doc_a", $"doc_b")
  }

  /** D3 — 128-bit SimHash near-dup pairs with 8-band (16-bit)
    * MULTI-PROBE Hamming blocking (Lv et al., multi-probe LSH,
    * VLDB'07): signature bit (b,j) = majority vote over shingles of
    * bit j of the band-b mod-P hash (HashSketch.simhash128). The index
    * side carries each doc's 8 exact 16-bit band keys; the probe side
    * additionally probes each key's 16 single-bit flips. By
    * pigeonhole, a pair at Hamming ≤ 15 has a band with ≤ 1 differing
    * bit (8 bands × ≥2 diffs each would be ≥ 16), and that band's
    * flipped-or-exact probe meets the exact key — so candidate recall
    * is GUARANTEED for the ≤15 verify cutoff.
    *
    * Scale: 16-bit bands collide for random pairs with p ≈ 1/65536,
    * ×(8 bands × 17 probes) ⇒ ~1/482 per random pair — 15× fewer
    * candidates than 8-bit banding (8/256 = 1/32), the difference
    * between a workable candidate set and a quadratic blowup at
    * corpus scale. The probe fan-out is linear (144 primitive rows per
    * doc), which is the cheap term; measured on the corpus, true
    * near-dup pairs (J ≥ 0.9) sit at Hamming 4–15 and random pairs at
    * ≈ 64 (min observed 37), so ≤15 separates cleanly.
    *
    * The mod-P hash family is BIGINT-expressible, so the oracle
    * recomputes the full signatures in DuckDB and checks ALL-PAIRS
    * Hamming ≤ 15 — an independent (unbanded) formulation that also
    * re-proves the pigeonhole recall claim on real data. */
  val d02SimHash: GraftQuery = q(
    "d02_simhash_dedup",
    "D3 SimHash 128-bit + multi-probe 16-bit Hamming blocking",
    Some(simhashOracle(sharded = false))
  ) { (s, dir) => simhashPairs(s, dir, sharded = false) }

  /** D3 — embedding-cosine near-dup: each vector's nearest neighbor
    * within its IVF CELL, where the cell key is the (nearest,
    * second-nearest) pivot pair — the sub-bucketing refinement of the
    * v04 coarse quantizer. B pivots give B·(B−1) cells, so the
    * within-cell pair join costs Σ|cell|² ≈ N²/(B·(B−1)) instead of
    * N²/B — the knob that keeps "semantic dedup" sub-quadratic at
    * 100 TB. The knob is TURNED automatically: B = max(16,
    * ⌈√(N/8)⌉), so cells stay ~8 vectors and pair cost stays ~8·N
    * as the corpus grows (measured: the fixed-B=16 variant took 69 s
    * at 100× sf0.1; adaptive B restores linear scaling). B is a
    * deterministic integer function of the exact row count, computed
    * identically in the oracle, so both engines pick the same pivots
    * (at the oracle/spec SFs, N ≤ 2048 ⇒ B = 16, unchanged).
    * Near-identical vectors perturb pivot similarities
    * negligibly, so true near-dups share BOTH nearest pivots with high
    * probability — the candidates-only/exact-verify LSH argument.
    * Vectors alone in their cell report no candidate (correct for a
    * dedup report). Every stage is deterministic (fixed pivots,
    * rounded similarities, id tie-breaks), so the DuckDB oracle
    * replicates the whole pipeline including both cell levels; the
    * spec additionally bounds every reported sim by the true global
    * best. */
  val d03EmbeddingNearDup: GraftQuery = q(
    "d03_embedding_near_dup",
    "D3 embedding-cosine near-dup via IVF buckets",
    Some(s"""WITH e AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |         CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |${VectorQueries.trainedPivotCtes(VectorQueries.IvfTrainIters)},
      |scored AS (
      |  SELECT e.vec_id, e.v, p.pivot_id,
      |         round(coalesce(
      |           list_aggregate(list_transform(list_zip(e.v, p.pv), x -> x[1] * x[2]), 'sum')
      |           / NULLIF(sqrt(list_aggregate(list_transform(e.v, x -> x * x), 'sum'))
      |              * sqrt(list_aggregate(list_transform(p.pv, x -> x * x), 'sum')), 0), 0), 6) AS psim
      |  FROM e CROSS JOIN p),
      |ranked AS (
      |  SELECT vec_id, v, pivot_id,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY psim DESC, pivot_id) AS rn
      |  FROM scored),
      |assigned AS (
      |  SELECT r1.vec_id, r1.v,
      |         r1.pivot_id AS cell1, r2.pivot_id AS cell2
      |  FROM ranked r1 JOIN ranked r2
      |    ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2),
      |pairs AS (
      |  SELECT a.vec_id, b.vec_id AS other_id,
      |         round(coalesce(
      |           list_aggregate(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
      |           / NULLIF(sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))
      |              * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum')), 0), 0), 6) AS sim
      |  FROM assigned a JOIN assigned b USING (cell1, cell2)
      |  WHERE a.vec_id <> b.vec_id),
      |r AS (
      |  SELECT vec_id, other_id, sim,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY sim DESC, other_id) AS rn
      |  FROM pairs)
      |SELECT vec_id, other_id AS nearest_in_cell, sim
      |FROM r WHERE rn = 1
      |ORDER BY vec_id""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    import graft.functions.VectorOps
    // the two-level cell assignment is READ from the persisted
    // IVF-flat artifact (one N×B assignment pass per corpus lifetime;
    // before round 6 every self-join side recomputed it — see
    // IndexStore.ivfFlat); adaptive B = min(cap, max(16,
    // ceil(sqrt(N/8)))) keeps cells ~8 vectors so the within-cell
    // pair join stays ~8·N, and v04/v09/v11/d03/d10 share the
    // artifact chain (pivots → flat assignment)
    val assigned = graft.operators.IndexStore
      .ivfFlat(s, dir, VectorQueries.IvfTrainIters)
      .select($"vec_id", $"cell1", $"cell2", $"v")
    // within-cell pairs: relational equi-join on BOTH cell levels,
    // typed cosine re-rank
    val pairs = assigned.as("a").join(assigned.as("b"), Seq("cell1", "cell2"))
      .where($"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id".as("other_id"), $"a.v", $"b.v".as("ov"))
      .as[(Long, Long, Array[Double], Array[Double])]
      .map { case (id, oid, v, ov) => (id, oid, VectorOps.cosine6(v, ov)) }
      .toDF("vec_id", "other_id", "sim")
    val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"other_id")
    pairs.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"vec_id", $"other_id".as("nearest_in_cell"), $"sim")
      .orderBy($"vec_id")
  }

  /** Bucket-banded token-set Jaccard ≥ `threshold` edge set — the
    * shared near-dup PAIR definition behind d04 (cluster resolution)
    * and c06 (leakage-safe split), t05's shape: candidates only
    * within a text-prefix bucket, never all-pairs. */
  def jaccardEdges(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    // Par.widen on the RAW (doc_id, text) projection, tokenizing AFTER
    // the exchange: the round-robin shuffle then moves the flat text
    // bytes (not boxed token arrays) and the array_distinct(split())
    // work lands in the widened map stages (guide §2.3 — shuffle the
    // raw text, never the boxed token array; the t15/t19 placement)
    val d = graft.functions.Par.widen(
        Tables(s, dir, "documents").select($"doc_id", $"text"))
      .select($"doc_id",
        substring($"text", 1, 20).as("bucket"),
        array_distinct(split(trim($"text"), "\\s+")).as("toks"))
    val a = d.select($"doc_id".as("doc_a"), $"bucket", $"toks".as("ta"))
    val b = d.select($"doc_id".as("doc_b"), $"bucket", $"toks".as("tb"))
    a.join(b, Seq("bucket"))
      .where($"doc_a" < $"doc_b")
      .where(size(array_intersect($"ta", $"tb")).cast("double")
        / size(array_union($"ta", $"tb")) >= threshold)
      .select($"doc_a", $"doc_b")
  }

  /** D3 — near-dup pair → CLUSTER resolution: pairs chain (a~b, b~c ⇒
    * one cluster {a,b,c}), so canonical-document selection needs
    * connected components, not pairs. Edges are the banded token-set
    * Jaccard ≥ 0.5 pairs (t05's shape); components come from
    * [[graft.operators.ConnectedComponents]] (iterative min-label
    * propagation, O(E) primitive shuffle per round, O(diameter)
    * rounds). Output: one row per cluster — keeper = min doc_id,
    * member count. The oracle recomputes true components with a
    * recursive transitive-closure CTE, so the iterative algorithm is
    * verified against an independent exact formulation. */
  val d04DedupClusters: GraftQuery = q(
    "d04_dedup_clusters",
    "D3 pair→cluster resolution via iterative connected components",
    Some("""WITH RECURSIVE d AS (
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
      |  SELECT u AS id, min(r) AS component FROM reach GROUP BY u)
      |SELECT component AS keeper, count(*) AS docs
      |FROM labels
      |GROUP BY component
      |ORDER BY keeper""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    graft.operators.ConnectedComponents
      .components(jaccardEdges(s, dir), "doc_a", "doc_b")
      .groupBy($"component".as("keeper"))
      .agg(count(lit(1)).as("docs"))
      .orderBy($"keeper")
  }

  /** D3 — INCREMENTAL dedup: the daily-ingest shape — a small
    * incoming batch is checked against the standing corpus with an
    * ASYMMETRIC banded join (incoming ⋈ corpus index), never a
    * corpus self-join. At 100 TB the corpus side is a persisted,
    * bucket-partitioned fingerprint index and the join shuffles only
    * the incoming batch's bands; here the deterministic 20% split
    * (doc_id % 5 = 0) stands in for the day's batch. Output: each
    * incoming doc's best corpus match at Jaccard ≥ 0.6 (max J, lowest
    * corpus id tie-break). */
  val d05IncrementalDedup: GraftQuery = q(
    "d05_incremental_dedup",
    "D3 incremental new-batch-vs-corpus dedup (asymmetric banded join)",
    Some("""WITH d AS (
      |  SELECT doc_id, substr(text, 1, 20) AS bucket,
      |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |  FROM documents),
      |inc AS (SELECT * FROM d WHERE doc_id % 5 = 0),
      |corp AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
      |m AS (
      |  SELECT CAST(inc.doc_id AS BIGINT) AS incoming_id,
      |         CAST(corp.doc_id AS BIGINT) AS corpus_id,
      |         round(CAST(len(list_intersect(inc.toks, corp.toks)) AS DOUBLE)
      |               / len(list_distinct(list_concat(inc.toks, corp.toks))), 4) AS j
      |  FROM inc JOIN corp ON inc.bucket = corp.bucket),
      |r AS (
      |  SELECT incoming_id, corpus_id, j,
      |         row_number() OVER (PARTITION BY incoming_id
      |                            ORDER BY j DESC, corpus_id) AS rn
      |  FROM m WHERE j >= 0.6)
      |SELECT incoming_id, corpus_id AS dup_of, j AS jaccard
      |FROM r WHERE rn = 1
      |ORDER BY incoming_id""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    // (r16: Par.widen here measured 0.33 s → 0.38 s min-of-5 and was
    // rejected — the bucket join-back dominates, not tokenization)
    val d = Tables(s, dir, "documents")
      .select($"doc_id",
        substring($"text", 1, 20).as("bucket"),
        array_distinct(split(trim($"text"), "\\s+")).as("toks"))
    val incoming = d.where($"doc_id" % 5 === 0)
      .select($"doc_id".as("incoming_id"), $"bucket", $"toks".as("ti"))
    val corpus = d.where($"doc_id" % 5 =!= 0)
      .select($"doc_id".as("corpus_id"), $"bucket", $"toks".as("tc"))
    val matches = incoming.join(corpus, Seq("bucket"))
      .select($"incoming_id", $"corpus_id",
        round(size(array_intersect($"ti", $"tc")).cast("double")
          / size(array_union($"ti", $"tc")), 4).as("j"))
      .where($"j" >= 0.6)
    val w = Window.partitionBy($"incoming_id").orderBy($"j".desc, $"corpus_id")
    matches.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"incoming_id", $"corpus_id".as("dup_of"), $"j".as("jaccard"))
      .orderBy($"incoming_id")
  }

  /** d07 — dedup APPLICATION: d04 finds the near-dup clusters, this
    * picks which document survives each one. Keeper policy = highest
    * type-token ratio (the t02 quality signal), doc_id tie-break; the
    * output is the per-cluster DROP LIST (dropped → keeper), i.e. the
    * rows a curation pipeline deletes. Composition: jaccardEdges →
    * ConnectedComponents → broadcast-joined quality → per-cluster
    * rank-1 window. Cluster sizes are tiny (near-dup groups), so the
    * quota window never sees corpus-scale partitions; the single
    * corpus-wide shuffle is the label join. Quality is one int/int
    * double division — engine-exact; the oracle replays the recursive
    * transitive closure and the same rank. */
  val d07KeeperSelect: GraftQuery = q(
    "d07_keeper_select",
    "D3 dedup application: per-cluster best-quality keeper + drop list",
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
      |qd AS (
      |  SELECT doc_id,
      |         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
      |           / len(regexp_split_to_array(trim(text), '\s+')) AS quality
      |  FROM documents),
      |member AS (
      |  SELECT l.component AS cluster, CAST(q.doc_id AS BIGINT) AS doc_id, q.quality,
      |         row_number() OVER (PARTITION BY l.component
      |                            ORDER BY q.quality DESC, q.doc_id) AS rn
      |  FROM labels l JOIN qd q ON l.id = q.doc_id),
      |keep AS (SELECT cluster, doc_id AS keeper FROM member WHERE rn = 1)
      |SELECT m.cluster, m.doc_id AS dropped, k.keeper,
      |       round(m.quality, 6) AS dropped_q
      |FROM member m JOIN keep k USING (cluster)
      |WHERE m.rn > 1
      |ORDER BY cluster, dropped""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    keeperDrops(s, dir)
      .select($"cluster", $"dropped", $"keeper",
        round($"quality", 6).as("dropped_q"))
      .orderBy($"cluster", $"dropped")
  }

  /** The d07 drop decisions as a reusable frame —
    * (cluster, dropped, keeper, quality) — shared by the d07 query and
    * c10's funnel. At production scale this is the table a pipeline
    * materializes once per corpus snapshot, not something recomputed
    * per consumer; `precomputedComp` lets a caller that already ran
    * the (eager, iterative) components pass its (doc_id, cluster)
    * frame instead of running the loop a second time — exactly what
    * c10 does. */
  def keeperDrops(
      s: SparkSession,
      dir: String,
      precomputedComp: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val comp = precomputedComp.getOrElse(
      graft.operators.ConnectedComponents
        .components(jaccardEdges(s, dir), "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("component", "cluster"))
    val qd = Tables(s, dir, "documents")
      .select($"doc_id",
        graft.functions.TextStats.ttr($"text").as("quality"))
    // keeper and rank come out of ONE window pass: first(doc_id) over
    // the same (quality desc, doc_id) order IS the rank-1 doc, so the
    // old keep-side self-join (which re-evaluated the whole
    // comp ⋈ quality ⋈ window lineage a second time and shuffled it
    // again by cluster) collapses into a second expression in the
    // same WindowExec.
    val w = Window.partitionBy($"cluster").orderBy($"quality".desc, $"doc_id")
    comp.join(qd, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("keeper", first($"doc_id").over(w))
      .where($"rn" > 1)
      .select($"cluster", $"doc_id".as("dropped"), $"quality", $"keeper")
  }

  /** The deterministic CDC scenario d08 and d09 share: the corpus as
    * the version-1 base, plus a delta exercising the full op algebra —
    * every 7th doc recrawled (version 2, uppercased text), every 13th
    * id spawning a NEW doc above the id range, every 11th doc
    * tombstoned at version 3, every 22nd reinserted at version 4 above
    * its own tombstone. Returns (base, delta); delta carries the `op`
    * column [[graft.operators.SnapshotMerge.applyCdc]] resolves. */
  private def cdcScenario(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"source")
    val base = docs.withColumn("version", lit(1))
    val delta = docs.where($"doc_id" % 7 === 0)
      .withColumn("text", upper($"text"))
      .withColumn("version", lit(2))
      .withColumn("op", lit("upsert"))
      .unionByName(docs.where($"doc_id" % 13 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000000L)
        .withColumn("source", lit("recrawl"))
        .withColumn("version", lit(1))
        .withColumn("op", lit("upsert")))
      .unionByName(docs.where($"doc_id" % 11 === 0)
        .withColumn("version", lit(3))
        .withColumn("op", lit("delete")))
      .unionByName(docs.where($"doc_id" % 22 === 0)
        .withColumn("source", lit("reinsert"))
        .withColumn("version", lit(4))
        .withColumn("op", lit("upsert")))
    (base, delta)
  }

  /** The (lang, source) rollup both CDC queries report: live docs, the
    * version sum (proves which version won per key), and the
    * recrawl-marker count (text = upper(text)). DuckDB replays the
    * FULL union + ROW_NUMBER + tombstone-filter recompute — for d08
    * that mirrors the Spark window; for d09 it is the ground truth the
    * incremental path must reproduce bit-for-bit. */
  private val CdcMergedCtes: String = """base AS (
    |  SELECT doc_id, text, lang, source, 1 AS version, 0 AS origin,
    |         'upsert' AS op
    |  FROM documents),
    |delta AS (
    |  SELECT doc_id, upper(text) AS text, lang, source, 2 AS version,
    |         1 AS origin, 'upsert' AS op
    |  FROM documents WHERE doc_id % 7 = 0
    |  UNION ALL
    |  SELECT doc_id + 1000000000, text, lang, 'recrawl' AS source,
    |         1 AS version, 1 AS origin, 'upsert' AS op
    |  FROM documents WHERE doc_id % 13 = 0
    |  UNION ALL
    |  SELECT doc_id, text, lang, source, 3 AS version, 1 AS origin,
    |         'delete' AS op
    |  FROM documents WHERE doc_id % 11 = 0
    |  UNION ALL
    |  SELECT doc_id, text, lang, 'reinsert' AS source, 4 AS version,
    |         1 AS origin, 'upsert' AS op
    |  FROM documents WHERE doc_id % 22 = 0),
    |merged AS (
    |  SELECT *, row_number() OVER (PARTITION BY doc_id
    |                               ORDER BY version DESC, origin DESC) AS rn
    |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta))""".stripMargin

  private val CdcRollupOracle: String = s"""WITH $CdcMergedCtes
    |SELECT lang, source, count(*) AS docs,
    |       CAST(sum(version) AS BIGINT) AS version_sum,
    |       CAST(sum(CASE WHEN text = upper(text) THEN 1 ELSE 0 END) AS BIGINT) AS upper_docs
    |FROM merged WHERE rn = 1 AND op <> 'delete'
    |GROUP BY lang, source
    |ORDER BY lang, source""".stripMargin

  /** d08 — latest-crawl-wins CDC merge WITH tombstones
    * ([[graft.operators.SnapshotMerge.applyCdc]]): the corpus
    * (version 1) merged with a deterministic CDC delta — every 7th doc
    * recrawled as version 2 with uppercased text, every 13th doc id
    * spawning a NEW doc above the id range, every 11th doc TOMBSTONED
    * at version 3 (outranking its recrawl), and every 22nd doc
    * REINSERTED at version 4 above its own tombstone — then summarized
    * per (lang, source). The recrawl marker (text = upper(text)), the
    * version sum, and the delete/reinsert counts prove the window kept
    * exactly the right row per key across the full op algebra
    * (upsert < delete < re-upsert); union + one per-key window (≤5-row
    * partitions) is the whole cost. Oracle replays the identical union
    * + ROW_NUMBER + tombstone filter in DuckDB (no hash tie-break
    * needed: every key's versions are distinct per side by
    * construction). */
  val d08SnapshotUpsert: GraftQuery = q(
    "d08_snapshot_upsert",
    "CDC merge with tombstones: base + upsert/delete/reinsert delta -> one row per live key",
    Some(CdcRollupOracle)
  ) { (s, dir) =>
    import s.implicits._
    val (base, delta) = cdcScenario(s, dir)
    graft.operators.SnapshotMerge.applyCdc(base, delta, "doc_id", "version")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("docs"),
        sum($"version").as("version_sum"),
        sum(when($"text" === upper($"text"), 1).otherwise(0)).as("upper_docs"))
      .orderBy($"lang", $"source")
  }

  /** d09 — incremental view maintenance
    * ([[graft.operators.IncrementalRollup.maintain]]): the SAME CDC
    * scenario and the SAME (lang, source) rollup as d08, produced by
    * the retract/add path instead of re-aggregating the corpus — the
    * materialized-view discipline the reference's rebuild-everything
    * `TransformTaxiTrips.py:23-28` daily job is missing. The stored
    * rollup enters as pre-aggregated group rows; the delta's touched
    * keys broadcast into a left-semi that retracts exactly the rows the
    * CDC replaces (sign −1) and the post-CDC winners re-enter at +1, so
    * the maintenance shuffle is O(groups + touched), never O(corpus).
    * The oracle is deliberately the FULL recompute: "incremental ≡ full
    * recompute" is the view-maintenance correctness contract, and the
    * hash gate checks it bit-for-bit. (The in-query build of the base
    * rollup stands in for reading the stored artifact; the
    * IncrementalRollupSpec and BENCH_SCALE measure the amortized
    * maintain-only path.) */
  val d09IncrementalRollup: GraftQuery = q(
    "d09_incremental_rollup",
    "D17 incremental rollup maintenance: retract/add under the CDC delta == full recompute",
    Some(CdcRollupOracle)
  ) { (s, dir) =>
    import s.implicits._
    val (base, delta) = cdcScenario(s, dir)
    val oldRollup = base.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("docs"),
        sum($"version").as("version_sum"),
        sum(when($"text" === upper($"text"), 1).otherwise(0)).as("upper_docs"))
    graft.operators.IncrementalRollup.maintain(
      oldRollup, base, delta, key = "doc_id", version = "version",
      groupCols = Seq("lang", "source"),
      contribs = Seq(
        "docs" -> lit(1L),
        "version_sum" -> col("version").cast("long"),
        "upper_docs" -> when(col("text") === upper(col("text")), 1L).otherwise(0L)),
      liveCount = "docs")
      .orderBy($"lang", $"source")
  }

  /** d11 — countDistinct VIEW MAINTENANCE under CDC deletes
    * ([[graft.operators.IncrementalRollup.maintainDistinct]], closing
    * r6's ask #4): d09 maintains ADDITIVE rollups; the reference's own
    * `taxis` measure (`TransformTaxiTrips.py:106-113`, the A4/A6
    * countDistinct quirk) is NOT additive — a delete must stop
    * counting a value only when its LAST carrier row dies, which plain
    * retract/add cannot know. The standard fix is one level of
    * auxiliary state: a per-(group, value) live-row count table,
    * maintained by the SAME d09 retract/add machinery at finer grain
    * (same broadcast-semi base scan, same O(aux + touched) shuffle),
    * with delete-to-zero EVICTION falling out of the liveCount filter;
    * the visible rollup — distinct sources and live docs per lang —
    * is then one O(aux) count of surviving cells. Same CDC scenario as
    * d08/d09 (the delta recrawls, spawns, tombstones, and reinserts —
    * the reinserted 'reinsert' source VALUES appear, and doc deletes
    * shrink counts without evicting still-carried values). The oracle
    * is the full recompute with a real count(DISTINCT) over the
    * post-CDC snapshot — "incremental ≡ full recompute", the d09
    * contract, extended to the non-additive aggregate. */
  val d11DistinctIvm: GraftQuery = q(
    "d11_distinct_ivm",
    "D21 countDistinct IVM: per-(group,value) aux counts + delete-to-zero eviction == full recompute",
    Some(s"""WITH $CdcMergedCtes
      |SELECT lang, count(DISTINCT source) AS distinct_source,
      |       count(*) AS live_rows
      |FROM merged WHERE rn = 1 AND op <> 'delete'
      |GROUP BY lang
      |ORDER BY lang""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    val (base, delta) = cdcScenario(s, dir)
    // the stored aux stands in for reading the persisted artifact,
    // exactly as d09's in-query base rollup does
    val oldAux = graft.operators.IncrementalRollup
      .buildDistinctAux(base, Seq("lang"), "source")
    val aux = graft.operators.IncrementalRollup.maintainDistinct(
      oldAux, base, delta, key = "doc_id", version = "version",
      groupCols = Seq("lang"), valueCol = "source")
    graft.operators.IncrementalRollup
      .distinctView(aux, Seq("lang"), "source")
      .orderBy($"lang")
  }

  /** d10 — SemDeDup-style semantic dedup POLICY (Abbas et al. 2023,
    * arXiv:2303.09540 — public): d03 answers "which vectors are
    * near-dups"; this answers "which copy do we KEEP". The paper's
    * rule: cluster the corpus, and within each cluster drop
    * τ-similar vectors, keeping the member LEAST similar to the
    * cluster centroid (retaining the informative outliers, not the
    * archetype). Realized over the SAME deployed artifacts as
    * d03/v04: two-level IVF cell = the cluster, persisted
    * sample-trained pivots = the centroids, so the policy layer adds
    * ZERO training or assignment scans. A vector is removed iff some
    * τ-similar cellmate has strictly lower (centroid-sim, vec_id) —
    * a pure pairwise EXISTS over the d03-shaped within-cell pair
    * join, no iterative resolution (the lexicographic order makes
    * the greedy rule deterministic and engine-replayable; the global
    * minimum of each cell is never removed = every cell keeps ≥ 1).
    * τ = 0.25 exercises the policy on the isotropic synthetic
    * embeddings (within-cell sims top out at ~0.45 here); real
    * embedding corpora run τ ≈ 0.95+ — a caller knob, not a
    * structural constant. Scale = d03's argument verbatim: adaptive
    * B keeps cells ~8 vectors and the pair join ~8·N; output is one
    * row per multi-member cell (counts + keeper evidence). */
  val d10SemanticDedup: GraftQuery = q(
    "d10_semantic_dedup",
    "D3 SemDeDup policy: τ-similar cellmates drop, keeper = least-centroid-like",
    Some(s"""WITH e AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |         CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |${VectorQueries.trainedPivotCtes(VectorQueries.IvfTrainIters)},
      |scored AS (
      |  SELECT e.vec_id, e.v, p.pivot_id,
      |         ${VectorQueries.duckCos6("e.v", "p.pv")} AS psim
      |  FROM e CROSS JOIN p),
      |ranked AS (
      |  SELECT vec_id, v, pivot_id, psim,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY psim DESC, pivot_id) AS rn
      |  FROM scored),
      |assigned AS (
      |  SELECT r1.vec_id, r1.v,
      |         r1.pivot_id AS cell1, r2.pivot_id AS cell2,
      |         r1.psim AS simc
      |  FROM ranked r1 JOIN ranked r2
      |    ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2),
      |removed AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM assigned a JOIN assigned b USING (cell1, cell2)
      |  WHERE a.vec_id <> b.vec_id
      |    AND ${VectorQueries.duckCos6("a.v", "b.v")} >= 0.25
      |    AND (b.simc < a.simc
      |         OR (b.simc = a.simc AND b.vec_id < a.vec_id))),
      |cells AS (
      |  SELECT a.cell1, a.cell2, a.vec_id, a.simc,
      |         CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END AS rm,
      |         row_number() OVER (PARTITION BY a.cell1, a.cell2
      |                            ORDER BY a.simc, a.vec_id) AS krn
      |  FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id)
      |SELECT cell1, cell2,
      |       count(*) AS n_vecs,
      |       CAST(sum(rm) AS BIGINT) AS n_removed,
      |       max(CASE WHEN krn = 1 THEN vec_id END) AS keeper_id,
      |       max(CASE WHEN krn = 1 THEN simc END) AS keeper_simc
      |FROM cells
      |GROUP BY cell1, cell2
      |HAVING count(*) >= 2
      |ORDER BY cell1, cell2""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    import graft.functions.VectorOps
    // cells, centroid-sims, and vectors all come from the persisted
    // IVF-flat artifact — the policy's three references to `assigned`
    // are three columnar reads, never three N×B assignment passes
    // (72.2 s → 5.3 s warm at the 1000× replica; IndexStore.ivfFlat)
    val assigned = graft.operators.IndexStore
      .ivfFlat(s, dir, VectorQueries.IvfTrainIters)
    // τ-similar within-cell pairs where the OTHER member wins the
    // keeper order — the d03 equi-join shape + the SemDeDup rule
    val removed = assigned.as("a").join(assigned.as("b"), Seq("cell1", "cell2"))
      .where($"a.vec_id" =!= $"b.vec_id")
      .where($"b.simc" < $"a.simc" ||
        ($"b.simc" === $"a.simc" && $"b.vec_id" < $"a.vec_id"))
      .select($"a.vec_id", $"a.v", $"b.v".as("ov"))
      .as[(Long, Array[Double], Array[Double])]
      .flatMap { case (id, v, ov) =>
        if (VectorOps.cosine6(v, ov) >= 0.25) Iterator.single(id)
        else Iterator.empty
      }.toDF("vec_id").distinct()
    val flagged = assigned.drop("v")
      .join(removed.withColumn("rm", lit(1L)), Seq("vec_id"), "left")
      .na.fill(0L, Seq("rm"))
    val w = Window.partitionBy($"cell1", $"cell2")
      .orderBy($"simc", $"vec_id")
    flagged.withColumn("krn", row_number().over(w))
      .groupBy($"cell1", $"cell2")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"rm").as("n_removed"),
        max(when($"krn" === 1, $"vec_id")).as("keeper_id"),
        max(when($"krn" === 1, $"simc")).as("keeper_simc"))
      .where($"n_vecs" >= 2)
      .orderBy($"cell1", $"cell2")
  }

  /** D3 — EXACT set-similarity self-join via UNIVERSE-PARTITION
    * signatures (the partition-based family of Deng/Li/Feng's
    * PassJoin line, set form): unlike d01/d02, whose banded candidate
    * generation has a real (disclosed) miss probability, this join's
    * output is provably identical to the all-pairs join at τ = 0.9,
    * with exact Jaccard verification and no sampling anywhere.
    *
    * Theorem (partition signatures): hash the token universe into m
    * buckets. A qualifying pair has |A△B| ≤ ⌊(1−τ)·|A∪B|⌋ ≤ m−1
    * (m is derived from the corpus's max set size, below), so at
    * least one bucket is CLEAN — no differing token — and a clean
    * bucket means A and B hold the IDENTICAL token subset there.
    * Candidates are therefore pairs agreeing on (bucket, md5(sorted
    * subset)) — a plain equi-join. A clean bucket can be empty on
    * both sides; docs for which an all-empty-agreement miss is even
    * possible (e_d ≥ m − Dcap_d, i.e. pathologically tiny/collided
    * sets) additionally emit their EMPTY buckets as keys — for
    * realistic corpora that leg is provably empty, and here it is
    * (spec-pinned exactness either way).
    *
    * Engineering note, measured: the classic PREFIX filter (round-7
    * first cut) degenerates on closed-vocabulary corpora — with a
    * 31-word vocab every token's df grows linearly with corpus size,
    * so "rarest-token" postings grow linearly and candidate pairs
    * quadratically: 9.1k candidates at sf0.1 but 26.7M at the 100×
    * replica (423 s). Partition signatures demand an identical
    * multi-token SUBSET per bucket, which stays selective even with
    * exploding df: 2.4M candidates (≈4.8 per doc — linear) at the
    * same replica. On open-vocabulary corpora both are linear; the
    * partition method is the one whose worst case survives.
    *
    * Plan shape at 100 TB: signature build is a typed map (JIT md5,
    * ~m short rows per doc, token strings die inside the projection);
    * the candidate join is hash-partitioned on (bucket, signature)
    * with group sizes bounded by true-duplicate cluster width (max 47
    * at the 100× replica); verification joins full shingle arrays for
    * surviving pairs only. m = ⌊19·szmax/90⌋ + 9 (pigeonhole +1,
    * empty-slack +8) — integer-exact on both engines; the 1-row szmax
    * aggregate is the only driver-side collect. */
  val d12PrefixSetSim: GraftQuery = q(
    "d12_prefix_setsim_join",
    "D3 exact set-similarity self-join (universe-partition signatures, zero misses)",
    Some("""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 3
      |              THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
      |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |              ELSE [list_aggregate(toks, 'string_agg', ' ')] END AS sh
      |  FROM t),
      |mm AS (SELECT (max(len(sh)) * 19) // 90 + 9 AS m FROM d),
      |tb AS (
      |  SELECT doc_id, len(sh) AS sz,
      |         CAST(CAST('0x' || substr(md5(unnest(sh) || ':part'), 1, 15) AS BIGINT)
      |              % (SELECT m FROM mm) AS INT) AS b,
      |         unnest(sh) AS tok
      |  FROM d),
      |sig AS (
      |  SELECT doc_id, sz, b,
      |         md5(string_agg(tok, chr(1) ORDER BY tok)) AS sig
      |  FROM tb GROUP BY 1, 2, 3),
      |occ AS (SELECT doc_id, sz, count(*) AS c FROM sig GROUP BY 1, 2),
      |flagged AS (
      |  SELECT doc_id, sz FROM occ
      |  WHERE (SELECT m FROM mm) - c >= (SELECT m FROM mm) - (sz * 19) // 90),
      |empties AS (
      |  SELECT f.doc_id, f.sz, CAST(r.b AS INT) AS b, md5('') AS sig
      |  FROM flagged f
      |  CROSS JOIN (SELECT unnest(range((SELECT m FROM mm))) AS b) r
      |  WHERE NOT EXISTS (SELECT 1 FROM sig s
      |                    WHERE s.doc_id = f.doc_id AND s.b = r.b)),
      |allsig AS (SELECT * FROM sig UNION ALL SELECT * FROM empties),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM allsig a JOIN allsig b2
      |    ON a.b = b2.b AND a.sig = b2.sig AND a.doc_id < b2.doc_id
      |  WHERE b2.sz*10 >= a.sz*9 AND a.sz*10 >= b2.sz*9),
      |p AS (
      |  SELECT CAST(c.doc_a AS BIGINT) AS doc_a,
      |         CAST(c.doc_b AS BIGINT) AS doc_b,
      |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |         / len(list_distinct(list_concat(sa.sh, sb.sh))) AS j
      |  FROM cand c
      |  JOIN d sa ON sa.doc_id = c.doc_a
      |  JOIN d sb ON sb.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, round(j, 4) AS jaccard
      |FROM p WHERE j >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    import graft.functions.HashSketch
    // shingling + signature build run as JIT-compiled typed Scala (a
    // Catalyst HOF formulation measured 7 s PER REFERENCE at sf0.1);
    // only (doc_id, sz, bucket, 32-char sig) rows reach a shuffle
    // Par.widen: the 1-split scan serialized all four shingling
    // passes of this query (szmax, signatures, both verify sides)
    // (persist of this 4-consumer frame measured a wash in r17 —
    // 0.68 vs 0.675 s min-of-5: columnar caching of boxed shingle
    // arrays costs what the recompute saves — and a doc-count array
    // cache is exactly the memory pin the 100-TB design avoids)
    val d = graft.functions.Par.widen(Tables(s, dir, "documents")
        .select($"doc_id", $"text")).as[(Long, String)]
      .map { case (id, t) =>
        (id, HashSketch.shingle3(t).toSeq) }
      .toDF("doc_id", "toks")
      .withColumn("sz", size($"toks").cast("long"))
    // m from the corpus max set size — ONE bounded driver collect,
    // same arithmetic the oracle's mm CTE runs
    val szmax = d.agg(max($"sz")).head().getLong(0)
    val m = ((szmax * 19) / 90 + 9).toInt
    val emptySig = HashSketch.md5Hex("")
    val sigs = d.select($"doc_id", $"toks").as[(Long, Seq[String])]
      .flatMap { case (id, toks) =>
        val sz = toks.length.toLong
        val byB = toks.groupBy(tok => (HashSketch.hash60Jvm(tok, "part") % m).toInt)
        val base = byB.iterator.map { case (b, ts) =>
          (id, sz, b, HashSketch.md5Hex(ts.sorted.mkString("\u0001"))) }
        // the all-empty-agreement guard leg (provably empty for any
        // doc whose set spreads beyond its symmetric-difference cap)
        val dcap = (sz * 19) / 90
        if (m - byB.size >= m - dcap)
          base ++ (0 until m).iterator.filterNot(byB.keySet)
            .map(b => (id, sz, b, emptySig))
        else base
      }.toDF("doc_id", "sz", "b", "sig")
    val cand = sigs.select($"b", $"sig", $"doc_id".as("doc_a"), $"sz".as("sz_a"))
      .join(sigs.select($"b", $"sig", $"doc_id".as("doc_b"), $"sz".as("sz_b")),
        Seq("b", "sig"))
      .where($"doc_a" < $"doc_b" &&
        $"sz_b" * 10 >= $"sz_a" * 9 && $"sz_a" * 10 >= $"sz_b" * 9)
      .select($"doc_a", $"doc_b").distinct()
    cand
      .join(d.select($"doc_id".as("doc_a"), $"toks".as("toks_a")), "doc_a")
      .join(d.select($"doc_id".as("doc_b"), $"toks".as("toks_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        (size(array_intersect($"toks_a", $"toks_b")).cast("double") /
          size(array_union($"toks_a", $"toks_b"))).as("j"))
      .where($"j" >= 0.9)
      .select($"doc_a", $"doc_b", round($"j", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Duplicated-substring span parameters (d13): gram width (tokens),
    * minimum reported span (tokens), and the per-gram document-
    * frequency cap that drops boilerplate grams from pairing. */
  private val SpanGram = 8
  private val SpanMin = 20
  private val SpanMaxDf = 32

  /** D3 — EXACT duplicated-SUBSTRING spans across documents (the
    * published "deduplicating training data" recipe: near-dup
    * detection tells you two docs are similar; span detection tells
    * you WHICH token ranges are copied, so a pipeline can surgically
    * remove the duplicated text instead of dropping whole documents).
    * t07's winnowing SAMPLES fingerprints (shared-fp evidence, no
    * positions); this reports every maximal duplicated run with exact
    * positions and lengths.
    *
    * Algorithm (the suffix-array-free k-gram form): token 8-grams with
    * positions → 60-bit md5 gram key (exact up to md5 collision —
    * the standard Rabin-fingerprint contract; ~10⁻¹¹ at sf0.1) →
    * inverted-index self-join per gram (df-capped at 32 docs: grams in
    * more docs are boilerplate, t17's territory, and would explode the
    * posting pair mass quadratically) → matches on the same DIAGONAL
    * (pos_a − pos_b) merge into maximal runs via the classic
    * pos − row_number island trick → spans ≥ 20 tokens reported.
    *
    * Scale: the shuffle carries (doc, pos, 60-bit key) triples; pair
    * mass per gram is ≤ C(32,2); the island window partitions by
    * (pair, diag) — bounded by the shorter document. At 100 TB this is
    * exactly the published MinHash-then-verify decomposition with the
    * span stage replacing verify. */
  val d13SubstringSpans: GraftQuery = q(
    "d13_substring_spans",
    "D3 exact cross-doc duplicated token spans with positions (k-gram diagonals)",
    Some(raw"""WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(range(1, len(toks) - ${SpanGram - 2})) AS p, toks
      |  FROM tk WHERE len(toks) >= $SpanGram),
      |g AS (
      |  SELECT doc_id, p,
      |         ${graft.functions.DetHash.hash60Sql(
                  s"array_to_string(toks[p:p+${SpanGram - 1}], ' ')", "span")} AS gh
      |  FROM pos),
      |df AS (SELECT gh, count(DISTINCT doc_id) AS d FROM g GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
      |  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
      |  JOIN df ON df.gh = a.gh
      |  WHERE df.d <= $SpanMaxDf),
      |runs AS (
      |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
      |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
      |                                 ORDER BY pa) AS island
      |  FROM pairs),
      |spans AS (
      |  SELECT doc_a, doc_b, diag, island,
      |         min(pa) AS start_a, count(*) + ${SpanGram - 1} AS span_toks
      |  FROM runs GROUP BY 1, 2, 3, 4)
      |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
      |       CAST(start_a AS BIGINT) AS start_a,
      |       CAST(start_a - diag AS BIGINT) AS start_b,
      |       CAST(span_toks AS BIGINT) AS span_toks
      |FROM spans WHERE span_toks >= $SpanMin
      |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    // gram expansion is JIT-compiled typed Scala (the d12 lesson); the
    // gram STRING dies inside this projection — only (doc, pos, 60-bit
    // key) ever reaches a shuffle
    val grams = graft.functions.Par.widen(Tables(s, dir, "documents")
        .select($"doc_id", $"text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = t.trim.split("\\s+")
        if (toks.length < SpanGram) Iterator.empty
        else (0 to toks.length - SpanGram).iterator.map { i =>
          (id, (i + 1).toLong, toks.slice(i, i + SpanGram).mkString(" ")) }
      }.toDF("doc_id", "p", "gram")
      .select($"doc_id", $"p",
        graft.functions.DetHash.hash60($"gram", "span").as("gh"))
    // the df ≤ 32 boilerplate cap without a second pass: distinct doc
    // count per gram = sum of first-occurrence flags (rows sorted by
    // doc within the gram partition), computed by two stacked windows
    // in the ONE exchange the gram mass must cross for the self-join
    // anyway. The previous countDistinct-aggregate + join-back ran
    // the tokenize/gram flatMap lineage twice and shuffled the gram
    // mass twice more; here the self-join's both sides reuse the same
    // windowed exchange (ReusedExchange — the flatMap executes once).
    val wDoc = Window.partitionBy($"gh").orderBy($"doc_id")
    val kept = grams
      .withColumn("nd", when(lag($"doc_id", 1).over(wDoc).isNull ||
        lag($"doc_id", 1).over(wDoc) =!= $"doc_id", 1L).otherwise(0L))
      .withColumn("d", sum($"nd").over(Window.partitionBy($"gh")))
      .where($"d" <= SpanMaxDf)
    val pairs = kept.select($"gh", $"doc_id".as("doc_a"), $"p".as("pa"))
      .join(kept.select($"gh", $"doc_id".as("doc_b"), $"p".as("pb")), "gh")
      .where($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"pa", $"pb")
    val w = Window.partitionBy($"doc_a", $"doc_b", $"diag").orderBy($"pa")
    pairs
      .withColumn("diag", $"pa" - $"pb")
      .withColumn("island", $"pa" - row_number().over(w))
      .groupBy($"doc_a", $"doc_b", $"diag", $"island")
      .agg(min($"pa").as("start_a"),
        (count(lit(1)) + (SpanGram - 1)).as("span_toks"))
      .where($"span_toks" >= SpanMin)
      .select($"doc_a", $"doc_b", $"start_a",
        ($"start_a" - $"diag").as("start_b"), $"span_toks")
      .orderBy($"doc_a", $"doc_b", $"start_a", $"start_b")
  }

  /** d14 — SCD TYPE-2 history build + row-level time travel
    * ([[graft.operators.SnapshotMerge.scd2Intervals]]): the same CDC
    * scenario as d08/d09/d11, kept as the FULL interval history
    * instead of only the winning snapshot — every (key, version) state
    * becomes a [valid_from, valid_to) row with tombstone-aware
    * liveness, the classic warehouse dimension-history primitive. The
    * registered query reads the dimension AS OF every version 1..4
    * (valid_from ≤ v < valid_to, alive) and reports the d08-style
    * per-state audit — so the oracle proves each historical state is
    * reconstructed exactly, including the delete-then-reinsert key
    * whose interval chain closes and reopens. Row-level complement of
    * q31's file-level snapshots: q31 answers "the TABLE as of ingest
    * state s", d14 answers "each KEY's attribute state as of version
    * v" from one history table.
    *
    * Plan: union + two (key)-partitioned windows (per-version dedup +
    * lead) — version chains are bounded (≤5 here), so partitions never
    * skew; the as-of expansion is a 4-row broadcast nested-loop
    * (bounded side, the v01 pattern) feeding one small aggregate. */
  val d14Scd2History: GraftQuery = q(
    "d14_scd2_history",
    "D17 SCD2 interval history: every version an interval row, as-of states exact",
    Some(s"""WITH $CdcMergedCtes,
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
      |pv AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id, version
      |                               ORDER BY origin DESC) AS vrn
      |  FROM u),
      |iv AS (
      |  SELECT doc_id, lang, source, version, op,
      |         lead(version) OVER (PARTITION BY doc_id
      |                             ORDER BY version) AS valid_to
      |  FROM pv WHERE vrn = 1),
      |vs AS (SELECT unnest([1, 2, 3, 4]) AS as_of),
      |live AS (
      |  SELECT v.as_of, i.version, i.source
      |  FROM iv i JOIN vs v ON i.version <= v.as_of
      |                     AND (i.valid_to IS NULL OR i.valid_to > v.as_of)
      |  WHERE i.op <> 'delete')
      |SELECT as_of, count(*) AS live_docs,
      |       CAST(sum(version) AS BIGINT) AS version_sum,
      |       CAST(sum(CASE WHEN source = 'recrawl' THEN 1 ELSE 0 END) AS BIGINT) AS recrawl_docs
      |FROM live GROUP BY 1
      |ORDER BY as_of""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    val (base, delta) = cdcScenario(s, dir)
    val iv = graft.operators.SnapshotMerge
      .scd2Intervals(base, delta, "doc_id", "version")
    val versions = (1 to 4).toDF("as_of")
    iv.join(broadcast(versions),
        $"version" <= $"as_of" && ($"valid_to".isNull || $"valid_to" > $"as_of"))
      .where($"alive")
      .groupBy($"as_of")
      .agg(count(lit(1)).as("live_docs"),
        sum($"version").cast("long").as("version_sum"),
        sum(when($"source" === "recrawl", 1L).otherwise(0L)).as("recrawl_docs"))
      .orderBy($"as_of")
  }

  /** d15 — CDC DELETE maintenance of the HISTOGRAM rollup
    * ([[graft.operators.HistogramRollup.applyDeletes]]): the D21
    * retract discipline applied at SKETCH grain. A GDPR-style delete
    * batch (every user ≡ 0 mod 41) maintains the daily bin tables as
    * NEGATIVE counts — O(deleted) work, the base rollup untouched —
    * and the maintained percentile read folds the retractions in.
    * The algebra is the point: SUM-merge sketches are invertible
    * under deletes; [[graft.operators.SketchRollup]]'s max-merge HLL
    * provably is not (a register max carries no memory of who set
    * it), which is why its delete story is rebuild-under-fingerprint.
    * The oracle full-recomputes the q36 percentile pipeline over the
    * post-delete table, so the hash gate checks "maintained ≡
    * recomputed" exactly; the delta table is overwrite-mode, making
    * warm replays bit-identical. */
  val d15HistogramCdc: GraftQuery = q(
    "d15_histogram_cdc",
    "CDC delete maintenance of the mergeable histogram: retract bins, never rebuild",
    Some("""WITH w AS (
      |  SELECT event_type, value FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      |    AND ts <  TIMESTAMP '2024-01-18 00:00:00'
      |    AND NOT (user_id % 41 = 0)),
      |b AS (
      |  SELECT event_type,
      |         greatest(CAST(0 AS BIGINT),
      |                  least(CAST(floor(value / 5.0) AS BIGINT), 100)) AS bin,
      |         count(*) AS cnt
      |  FROM w GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, bin, cnt,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      |  FROM b),
      |est AS (
      |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |         min_by(CAST(CASE WHEN bin = 100 THEN 5000000
      |             ELSE 50000 * bin
      |             + (50000 * ((50*n + 99) // 100 - (cum - cnt))) // cnt
      |             END AS BIGINT), bin)
      |           FILTER (cum >= (50*n + 99) // 100) AS p50_e4,
      |         min_by(CAST(CASE WHEN bin = 100 THEN 5000000
      |             ELSE 50000 * bin
      |             + (50000 * ((95*n + 99) // 100 - (cum - cnt))) // cnt
      |             END AS BIGINT), bin)
      |           FILTER (cum >= (95*n + 99) // 100) AS p95_e4,
      |         min_by(CAST(CASE WHEN bin = 100 THEN 5000000
      |             ELSE 50000 * bin
      |             + (50000 * ((99*n + 99) // 100 - (cum - cnt))) // cnt
      |             END AS BIGINT), bin)
      |           FILTER (cum >= (99*n + 99) // 100) AS p99_e4
      |  FROM c GROUP BY event_type)
      |SELECT event_type, p50_e4, p95_e4, p99_e4, n
      |FROM est ORDER BY event_type""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    val HR = graft.operators.HistogramRollup
    val ev = Tables(s, dir, "events")
    // the delete batch: O(deleted) rows, retracted into the delta
    // table (overwrite-mode → replay-idempotent)
    HR.applyDeletes(s, dir, ev.where($"user_id" % 41 === 0))
    HR.percentiles(
        HR.mergedBinsWithDeltas(s, dir,
          "2024-01-08 00:00:00", "2024-01-18 00:00:00"),
        Seq(50, 95, 99))
      .where($"n" > 0)
      .select($"event_type", $"p50_e4", $"p95_e4", $"p99_e4", $"n")
      .orderBy($"event_type")
  }

  /** The SCD2 chain CTEs shared by the d16 oracle: the d08/d14
    * fixture resolved per (key, version) and chained with lead(). */
  private val CdcChainCtes: String = """base AS (
    |  SELECT doc_id, text, lang, source, 1 AS version, 0 AS origin,
    |         'upsert' AS op
    |  FROM documents),
    |delta AS (
    |  SELECT doc_id, upper(text) AS text, lang, source, 2 AS version,
    |         1 AS origin, 'upsert' AS op
    |  FROM documents WHERE doc_id % 7 = 0
    |  UNION ALL
    |  SELECT doc_id + 1000000000, text, lang, 'recrawl' AS source,
    |         1 AS version, 1 AS origin, 'upsert' AS op
    |  FROM documents WHERE doc_id % 13 = 0
    |  UNION ALL
    |  SELECT doc_id, text, lang, source, 3 AS version, 1 AS origin,
    |         'delete' AS op
    |  FROM documents WHERE doc_id % 11 = 0
    |  UNION ALL
    |  SELECT doc_id, text, lang, 'reinsert' AS source, 4 AS version,
    |         1 AS origin, 'upsert' AS op
    |  FROM documents WHERE doc_id % 22 = 0),
    |perv AS (
    |  SELECT doc_id, text, lang, source, version, op FROM (
    |    SELECT *, row_number() OVER (PARTITION BY doc_id, version
    |                                 ORDER BY origin DESC) AS vrn
    |    FROM (SELECT * FROM base UNION ALL SELECT * FROM delta))
    |  WHERE vrn = 1),
    |chain AS (
    |  SELECT *, lead(version) OVER (PARTITION BY doc_id
    |                                ORDER BY version) AS valid_to
    |  FROM perv)""".stripMargin


  /** d16 — CHANGE DATA FEED
    * ([[graft.operators.SnapshotMerge.changeFeed]]): the consumer
    * side of CDC — `table_changes(from, to)` over the d14 SCD2
    * history, emitting insert / delete / update_preimage /
    * update_postimage rows for exactly the keys whose live state
    * changed between two versions (Delta CDF's public shape; the
    * preimage/postimage pair is the retract/add feed every
    * incremental consumer, D21 included, ingests). Read over the
    * three consecutive version intervals of the shared fixture, so
    * every change type appears genuinely: v1→v2 recrawl updates,
    * v2→v3 tombstone deletes, v3→v4 reinserts arriving as INSERTS
    * (absent-then-present is an insert to a downstream consumer,
    * whatever the table's internal history says). Unchanged keys
    * emit nothing — feed cost scales with |changes|, not |table|.
    * The oracle replays the SCD2 chain and both state frames per
    * interval with EXISTS/joins. */
  val d16ChangeFeed: GraftQuery = q(
    "d16_change_data_feed",
    "change data feed: insert/delete/update pre+post rows between snapshot versions",
    Some(s"""WITH $CdcChainCtes,
      |pairs AS (SELECT * FROM (VALUES (1, 2), (2, 3), (3, 4)) AS t(fv, tv)),
      |sa AS (
      |  SELECT p.fv, i.* FROM pairs p JOIN chain i
      |    ON i.version <= p.fv AND (i.valid_to IS NULL OR i.valid_to > p.fv)
      |       AND i.op <> 'delete'),
      |sb AS (
      |  SELECT p.fv, i.* FROM pairs p JOIN chain i
      |    ON i.version <= p.tv AND (i.valid_to IS NULL OR i.valid_to > p.tv)
      |       AND i.op <> 'delete'),
      |upd AS (
      |  SELECT a.fv, a.doc_id, a.version AS av, b.version AS bv,
      |         a.lang AS alang, a.source AS asource, a.text AS atext,
      |         b.lang AS blang, b.source AS bsource, b.text AS btext
      |  FROM sa a JOIN sb b ON a.doc_id = b.doc_id AND a.fv = b.fv
      |  WHERE a.version <> b.version)
      |SELECT CAST(b.fv AS INT) AS from_v, 'insert' AS change_type,
      |       b.doc_id, CAST(b.version AS INT) AS version, b.lang, b.source,
      |       CASE WHEN b.text = upper(b.text) THEN 1 ELSE 0 END AS upper_flag
      |FROM sb b WHERE NOT EXISTS (
      |  SELECT 1 FROM sa a WHERE a.doc_id = b.doc_id AND a.fv = b.fv)
      |UNION ALL
      |SELECT CAST(a.fv AS INT), 'delete', a.doc_id, CAST(a.version AS INT),
      |       a.lang, a.source,
      |       CASE WHEN a.text = upper(a.text) THEN 1 ELSE 0 END
      |FROM sa a WHERE NOT EXISTS (
      |  SELECT 1 FROM sb b WHERE b.doc_id = a.doc_id AND b.fv = a.fv)
      |UNION ALL
      |SELECT CAST(fv AS INT), 'update_preimage', doc_id, CAST(av AS INT),
      |       alang, asource,
      |       CASE WHEN atext = upper(atext) THEN 1 ELSE 0 END
      |FROM upd
      |UNION ALL
      |SELECT CAST(fv AS INT), 'update_postimage', doc_id, CAST(bv AS INT),
      |       blang, bsource,
      |       CASE WHEN btext = upper(btext) THEN 1 ELSE 0 END
      |FROM upd
      |ORDER BY from_v, change_type, doc_id""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    val (base, delta) = cdcScenario(s, dir)
    // localCheckpoint truncates the lineage BEFORE the 3-interval ×
    // 2-side fan-out below: each changeFeed full-outer join otherwise
    // embeds the whole union+2-window SCD2 tree TWICE, so the plan
    // carried 30 scans of documents.parquet and the optimizer pass —
    // not execution — dominated the query (guide §3.3: very large
    // plans; materialize the intermediate). The interval table is
    // key-count-bounded (one row per (key, version)), so the
    // checkpoint is kilobytes at any corpus size.
    val iv = graft.operators.SnapshotMerge
      .scd2Intervals(base, delta, "doc_id", "version")
      .localCheckpoint()
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).map { case (f, t) =>
      graft.operators.SnapshotMerge
        .changeFeed(iv, "doc_id", "version", f, t)
        .select(lit(f).cast("int").as("from_v"),
          $"_change_type".as("change_type"), $"doc_id",
          $"version".cast("int").as("version"), $"lang", $"source",
          when($"text" === upper($"text"), 1).otherwise(0).as("upper_flag"))
    }.reduce(_ unionAll _)
      .orderBy($"from_v", $"change_type", $"doc_id")
  }

  /** d17 — MERGE INTO ([[graft.operators.SnapshotMerge.mergeInto]]):
    * the multi-clause reconciliation (SQL:2003 / Delta / Iceberg
    * MERGE) that replaces the reference's daily full-history rebuild
    * (`TransformTaxiTrips.py` re-aggregates everything every day)
    * with O(source) work. Base = events before Jan 15; source = the
    * Jan 10–20 slice with values re-priced (+10): matched 'error'
    * rows DELETE, other matched rows UPDATE value/props from the
    * source, unmatched source rows INSERT. ONE full-outer key join
    * (spec-pinned — never a join per clause), duplicate source keys
    * refused loudly (the MERGE cardinality rule, spec-pinned). The
    * oracle replays all three clauses from raw events; the gate
    * aggregates the merged table per event_type with an id checksum,
    * so a lost delete, a double insert, or an unapplied update
    * breaks the hash. */
  val d17MergeInto: GraftQuery = q(
    "d17_merge_into",
    "MERGE INTO: one-join multi-clause upsert (update + delete + insert), oracle-replayed",
    Some("""WITH base AS (
      |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
      |src AS (
      |  SELECT event_id, ts, user_id, event_type, value + 10 AS value, props
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |    AND ts <  TIMESTAMP '2024-01-20 00:00:00'),
      |kept_base AS (
      |  SELECT b.* FROM base b LEFT JOIN src s ON b.event_id = s.event_id
      |  WHERE s.event_id IS NULL),
      |updated AS (
      |  SELECT b.event_id, b.ts, b.user_id, b.event_type, s.value, s.props
      |  FROM base b JOIN src s ON b.event_id = s.event_id
      |  WHERE NOT (s.event_type = 'error')),
      |inserted AS (
      |  SELECT s.* FROM src s LEFT JOIN base b ON s.event_id = b.event_id
      |  WHERE b.event_id IS NULL),
      |merged AS (
      |  SELECT * FROM kept_base
      |  UNION ALL SELECT * FROM updated
      |  UNION ALL SELECT * FROM inserted)
      |SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS v_fp,
      |       CAST(sum(event_id % 9973) AS BIGINT) AS id_chk
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    val M = graft.operators.MinMaxManifest
    val ev = Tables(s, dir, "events")
    val base = ev.where($"ts" < lit(M.utc("2024-01-15 00:00:00")))
    val source = ev
      .where($"ts" >= lit(M.utc("2024-01-10 00:00:00")) &&
        $"ts" < lit(M.utc("2024-01-20 00:00:00")))
      .withColumn("value", $"value" + 10)
    val merged = graft.operators.SnapshotMerge.mergeInto(
      base, source, "event_id",
      deleteWhen = Some(col("__s_event_type") === "error"),
      updates = Map("value" -> col("__s_value"), "props" -> col("__s_props")))
    merged.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value").cast("long")).as("v_fp"),
        sum($"event_id" % 9973).as("id_chk"))
      .orderBy($"event_type")
  }

  /** d18 — EDIT-DISTANCE SIMILARITY JOIN
    * ([[graft.operators.EditDistanceJoin]]): record linkage over a
    * short key field — all customer-name pairs within Levenshtein
    * distance 1, found via FastSS deletion-neighborhood blocking
    * (provably lossless at threshold 1 — see the operator scaladoc)
    * and exact-verified with Spark's thresholded levenshtein. The
    * family the set-shaped dedup signatures (d01/d02, t05) cannot
    * express: a single-character typo perturbs every overlapping
    * gram but is edit distance 1. The oracle replays the identical
    * deletion neighborhood CTE-for-CTE in DuckDB (both engines ship
    * `levenshtein`), so the gate pins blocking AND verify; the spec
    * additionally pins losslessness against the all-pairs brute
    * force and the plan against cartesian shapes. */
  val d18EditDistanceJoin: GraftQuery = q(
    "d18_edit_distance_join",
    "edit-distance join: FastSS deletion-neighborhood blocking + thresholded levenshtein verify",
    Some("""WITH c AS (SELECT c_custkey AS k, c_name AS nm FROM customer),
      |del AS (
      |  SELECT k, nm, unnest(generate_series(1, length(nm))) AS i FROM c),
      |v AS (
      |  SELECT k, nm, nm AS v FROM c
      |  UNION ALL
      |  SELECT k, nm, substr(nm, 1, i - 1) || substr(nm, i + 1) AS v FROM del),
      |cand AS (
      |  SELECT DISTINCT a.k AS a_key, b.k AS b_key, a.nm AS anm, b.nm AS bnm
      |  FROM v a JOIN v b ON a.v = b.v AND a.k < b.k)
      |SELECT a_key, b_key, CAST(levenshtein(anm, bnm) AS BIGINT) AS dist
      |FROM cand WHERE levenshtein(anm, bnm) <= 1
      |ORDER BY a_key, b_key""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    graft.operators.EditDistanceJoin
      .pairs(Tables(s, dir, "customer"), "c_custkey", "c_name")
      .select($"a_key", $"b_key", $"dist")
      .orderBy($"a_key", $"b_key")
  }

  /** d19 — BUDGETED EDIT-DISTANCE JOIN AT THRESHOLD 2 (the r10
    * verdict's growth-path ask, both halves at once): the d18 family
    * with the RECURSIVE depth-2 deletion neighborhood (SymSpell's
    * public composition — depth-2 variants are single deletions of
    * the single deletions), catching the two-typo pairs threshold 1
    * provably cannot, UNDER the d01 candidate budget — deliberately
    * run over the customer names, whose zero-padded shared-prefix
    * shape is exactly the boilerplate-heavy corpus where depth-2
    * buckets go quadratic (Σ C(n,2) over variants like
    * "Customer#0000000" shared by hundreds of keys). Bucket mass is
    * counted first, buckets admit cheapest-first within 64·N, the
    * hot tail is skipped with its mass DISCLOSED — so this query is
    * also the correctness gate's live exerciser of
    * [[graft.operators.CandidateBudget]]'s BINDING (slow) path,
    * which the generously-budgeted d01/d02/d06 never reach at gate
    * SFs. Losslessness of the unbudgeted operator is spec-pinned
    * against all-pairs at threshold 2 (EditDistanceJoinSpec); the
    * budget trades the hot boilerplate crowd, not the rare-variant
    * buckets where true typo pairs live (cheapest-first). Output is
    * the per-distance pair census with a key checksum — the same
    * information as the raw pair list at gate-friendly size at any
    * SF. The oracle replays neighborhood, budget, and census
    * CTE-for-CTE in DuckDB. */
  val d19EditDistance2: GraftQuery = q(
    "d19_edit_distance2",
    "edit-distance join at threshold 2: recursive (SymSpell) neighborhood under the d01 budget, per-distance census",
    Some("""WITH c AS (SELECT c_custkey AS k, c_name AS nm FROM customer),
      |del1 AS (
      |  SELECT DISTINCT k, nm, substr(nm, 1, i - 1) || substr(nm, i + 1) AS v
      |  FROM (SELECT k, nm, unnest(generate_series(1, length(nm))) AS i FROM c)),
      |del2 AS (
      |  SELECT DISTINCT k, nm, substr(v, 1, i - 1) || substr(v, i + 1) AS v
      |  FROM (SELECT k, nm, v, unnest(generate_series(1, length(v))) AS i FROM del1)),
      |vs AS (
      |  SELECT DISTINCT k, nm, v FROM (
      |    SELECT k, nm, nm AS v FROM c
      |    UNION ALL SELECT k, nm, v FROM del1
      |    UNION ALL SELECT k, nm, v FROM del2)),
      |mass AS (
      |  SELECT v, (n * (n - 1)) // 2 AS cand
      |  FROM (SELECT v, count(*) AS n FROM vs GROUP BY 1)
      |  WHERE (n * (n - 1)) // 2 > 0),
      |budget AS (SELECT 64 * count(*) AS b FROM customer),
      |budgeted AS (
      |  SELECT v, cand, sum(cand) OVER (ORDER BY cand, v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM mass),
      |skip AS (
      |  SELECT coalesce(sum(CASE WHEN cum > (SELECT b FROM budget)
      |                           THEN cand END), 0) AS skipped_candidates
      |  FROM budgeted),
      |dropped AS (SELECT v FROM budgeted WHERE cum > (SELECT b FROM budget)),
      |kept AS (SELECT vs.k, vs.nm, vs.v FROM vs
      |         LEFT JOIN dropped d ON vs.v = d.v WHERE d.v IS NULL),
      |cand AS (
      |  SELECT DISTINCT a.k AS a_key, b.k AS b_key, a.nm AS anm, b.nm AS bnm
      |  FROM kept a JOIN kept b ON a.v = b.v AND a.k < b.k),
      |p AS (
      |  SELECT a_key, b_key, CAST(levenshtein(anm, bnm) AS BIGINT) AS dist
      |  FROM cand WHERE levenshtein(anm, bnm) <= 2)
      |SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(a_key * 31 + b_key) AS BIGINT) % 1000000007 AS chk,
      |       CAST(sk.skipped_candidates AS BIGINT) AS skipped_candidates
      |FROM p CROSS JOIN skip sk
      |GROUP BY dist, sk.skipped_candidates ORDER BY dist""".stripMargin)
  ) { (s, dir) =>
    import s.implicits._
    val cust = Tables(s, dir, "customer")
    val budget = 64L * cust.count()
    graft.operators.EditDistanceJoin
      .pairsBudgeted(cust, "c_custkey", "c_name", maxDist = 2, budget)
      .groupBy($"dist", $"skipped_candidates")
      .agg(count(lit(1)).as("n_pairs"),
        (sum($"a_key" * 31 + $"b_key") % 1000000007L).as("chk"))
      .select($"dist", $"n_pairs", $"chk", $"skipped_candidates")
      .orderBy($"dist")
  }

  val all: Seq[GraftQuery] = Seq(
    d01MinHashLsh, d02SimHash, d03EmbeddingNearDup, d04DedupClusters,
    d05IncrementalDedup, d06ShardedSimHash, d07KeeperSelect,
    d08SnapshotUpsert, d09IncrementalRollup, d10SemanticDedup,
    d11DistinctIvm, d12PrefixSetSim, d13SubstringSpans, d14Scd2History,
    d15HistogramCdc, d16ChangeFeed, d17MergeInto, d18EditDistanceJoin,
    d19EditDistance2)
}
