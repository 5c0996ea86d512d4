package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: Bench, Verify, the tools and the
  * test suites all measure and check the engine under these settings,
  * so a plan pinned in a spec is the plan the bench times. The core
  * count is the only parameter. */
object GraftSession {
  /** The settings, without the master. Each one has a single value in
    * use; `SPARK_GRAFT_EXTRA_CONF` on [[Bench]] covers experiments. */
  private def settings(cores: Int): Seq[(String, String)] = Seq(
    // one post-shuffle partition per core (local-mode measurements;
    // cluster deployments size this by bytes per guide §2.2)
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet carries TIMESTAMP(NANOS); see Tables
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // AQE coalescing targets BYTES (minPartitionSize, default 1m),
    // which under-parallelizes CPU-dense stages whose inputs are
    // kilobytes of compressed columns (sketch verifies, windowed
    // rank floors): a sub-1-MB stage coalesces to ONE task on any
    // core count. 64k keeps such stages near the core count while
    // staying irrelevant at cluster scale, where post-shuffle
    // partitions dwarf it (parallelismFirst still bounds the task
    // count by defaultParallelism). Production deployments with
    // byte-bound stages should keep Spark's 1m.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // guide §2.2: size post-shuffle partitions by BYTES (advisory),
    // not by core count — parallelismFirst=true (Spark's default)
    // keeps every byte-small exchange at defaultParallelism tasks;
    // parallelismFirst=false made the whole bench run SLOWER at 32
    // cores than at 8 (measured r17). Explicitly-pinned exchanges
    // (Par.widen's repartition(n)) are untouched by AQE, so
    // CPU-dense map passes stay wide.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    // single-file (Unsafe) shuffle writer for EVERY exchange — the
    // writer any real cluster already uses (the bypass-merge writer
    // only fires when reducers ≤ 200). Bypass opens R files + R
    // serializer streams per MAP task, so a local-mode R=cores
    // session pays M·R file opens per shuffle; measured r17 it made
    // the whole bench SLOWER at 32 cores than at 8 (d18 1.60 s →
    // 0.86 s, t15 0.88 → 0.50, q08 0.88 → 0.51 from this one
    // setting). Scale-independent: at cluster R the default already
    // lands on the same writer.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0")
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning was
    // measured BOTH ways in r17 and stays at Spark's default (off):
    // it let AQE re-plan q57's cached itemset build (1.13 s →
    // 0.55 s) but byte-coalesced the interior distincts of d19's
    // variant cache and serialized its CPU-dense depth-2 explode
    // (1.81 s → 2.79 s, reproduced) — the same failure mode as the
    // parallelismFirst=false experiment. q57 got its win from a
    // Par.widen instead.

  /** A `local[cores]` builder carrying [[settings]]; callers that add
    * configs (Bench's experiment overrides) finish it themselves. */
  def builder(cores: Int): SparkSession.Builder =
    settings(cores).foldLeft(
      SparkSession.builder().master(s"local[$cores]").appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The session, logging at WARN. */
  def apply(cores: Int): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}
