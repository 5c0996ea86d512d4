package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession(GraftSession.envCores(4))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump (same trimmed,
    // fail-loud contract as Bench) — oracle_sql.json still carries
    // every oracle, so the compare tool works on the subset unchanged.
    // Unknown or empty selections fail loudly: a typo that silently
    // dumped nothing would let compare.py print a smaller all-green
    // total that looks like a pass while verifying nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        require(names.nonEmpty, "SPARK_GRAFT_ONLY selected no queries")
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // A query whose dump throws must NOT silently shrink the compare
    // total (compare.py iterates output dirs, so a missing dir would
    // just lower N/N while still printing all-green): record every
    // failure in _failures.json, which compare.py folds in as
    // ok=false rows, keeping the denominator honest.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> String.valueOf(e.getMessage).take(300)
      }
      // drop any multi-consumer stage the query persist()ed: spilled
      // MEMORY_AND_DISK blocks are not LRU-evicted, so an 80-query
      // session would otherwise accumulate caches until spark.stop()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val fjson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), fjson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} of ${selected.size} dumps FAILED: " +
          failures.keys.mkString(", "))
    }
  }
}
