package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for the driver's local[32] harness but with settings chosen to
  * survive a real multi-executor cluster at ~100 TB:
  *   - AQE on (runtime coalescing, skew-join splitting, plan re-opt)
  *   - modest static shuffle partitions for local runs; AQE raises the
  *     effective parallelism from `advisoryPartitionSizeInBytes` at scale
  *   - auto broadcast threshold left at default (10 MB) — dims (TLD list,
  *     GeoIP ranges, region/nation) broadcast automatically; we also hint
  *     explicitly at call sites.
  */
object GraftSession {
  /** The one parallelism knob: local[cpus] AND the static shuffle
    * partition count. Defaults to 32 — the driver's harness config.
    * Every main (Verify, Bench, the tools) must come through here: r16
    * shipped a bench artifact silently measured at a drifted local[4]
    * because Bench carried its own builder with its own default. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String = "graft"): SparkSession.Builder = {
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // testdata events.ts is parquet TIMESTAMP(NANOS): read as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "127.0.0.1")
  }

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    WorkDir.reapOnce()
    spark
  }
}
