package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) data layout — the lakehouse `OPTIMIZE
  * ZORDER BY (x, y)` primitive. A single-column sort gives file-level
  * min/max pruning on ONE dimension; interleaving the bits of two
  * quantized dimensions gives a curve where nearby z-values are nearby
  * in BOTH dimensions, so box predicates (x BETWEEN … AND y BETWEEN …)
  * prune files on both columns at once. At 100 TB this is a
  * write-side operator: you pay one range-partitioned rewrite and
  * every subsequent selective scan reads a fraction of the files.
  *
  * Everything here is integer arithmetic (quantize = shift-scale
  * integer division; interleave = 32 shift/mask terms), so the z-value
  * is a whole-stage-codegen expression on the Spark side and the
  * IDENTICAL generated fragment evaluates in DuckDB — the q28 oracle
  * replays quantization, interleaving, and bucketing bit for bit.
  */
object ZOrder {

  /** Interleave the low 16 bits of two quantized BIGINT expressions
    * (x in even positions, y in odd) — one generated fragment shared
    * verbatim by the Spark expression and the DuckDB oracle, so the
    * bit layout can never desync between engines. */
  def interleaveSql(qx: String, qy: String): String =
    (0 until 16).map(i =>
      s"(((($qx) >> $i) & 1) << ${2 * i}) + (((($qy) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")

  /** 16-bit quantizer: (x − min) · 65536 integer-divided by the value
    * range. `divOp` is the one dialect difference ("div" in Spark SQL,
    * "//" in DuckDB); every intermediate fits a BIGINT for any long
    * min/max span the testdata keys use. */
  def quantizeSql(x: String, mn: String, mx: String, divOp: String): String =
    s"(((($x) - ($mn)) * 65536) $divOp (($mx) - ($mn) + 1))"

  /** The z-value as a Spark Column given the two columns' global
    * min/max (one bounded scalar agg at the call site). */
  def zValue(x: String, mnx: Long, mxx: Long,
      y: String, mny: Long, mxy: Long): Column =
    expr(interleaveSql(
      quantizeSql(x, mnx.toString, mxx.toString, "div"),
      quantizeSql(y, mny.toString, mxy.toString, "div")))
}
