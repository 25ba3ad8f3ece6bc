package graft

import org.apache.spark.sql.SparkSession

/** One place to build a scale-tuned SparkSession. The same knobs govern a
  * local[N] test run and a 1000-executor cluster — only `master` and the
  * absolute sizes change:
  *
  *  - AQE on (default in Spark 4) with skew-join splitting: runtime
  *    re-planning replaces hand-tuned shuffle partition counts at 100 TB,
  *    and skewed keys (hot program ids, viral documents) split instead of
  *    stalling a straggler task.
  *  - `shuffle.partitions` seeds AQE's coalescing; locally = cores, on a
  *    cluster ~2-3x total cores.
  *  - `files.maxPartitionBytes` 128m keeps scan partitions executor-sized
  *    regardless of how many TB the table holds.
  *  - zstd parquet compression: ~30% smaller files than snappy at
  *    comparable scan speed — at 100 TB that is tens of TB of storage and
  *    shuffle-read network off the bill.
  *  - UTC session timezone: timestamp semantics identical across engines
  *    (the DuckDB oracle compares raw values).
  *
  * Every entry point builds its session here — the CLI, Verify, Bench, the
  * tools and the test suite — so all of them run the configuration the
  * benchmarks measure.
  */
object GraftSession {

  def build(cores: Int, appName: String = "graft", master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE re-plan (and so coalesce) the plan that MATERIALIZES a
      // persisted DataFrame. Off (the default), every CacheScope persist
      // is built with the raw `shuffle.partitions = cores` partitioning:
      // at local[32] a k-row intermediate becomes 32 cache blocks and
      // every consumer stage pays 32 near-empty tasks — measured on
      // e13's recall harness as 68 tasks/materialization vs 6 with this
      // on, and it is why the heaviest eval queries ran SLOWER at 32
      // cores than at 8 (r20 scaling ratios 0.36-0.54). On a cluster the
      // same setting sizes cached partitions by bytes (AQE advisory)
      // instead of by core count — scale-adaptive in both directions.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The deployment's settings: cores from SPARK_GRAFT_CPUS (default: the
    * target local[32]) and the master from SPARK_MASTER (default
    * `local[cores]`; set it to run on a cluster).
    */
  def fromEnv(appName: String = "graft"): SparkSession =
    build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, appName, sys.env.get("SPARK_MASTER"))
}
