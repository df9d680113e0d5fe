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
  *   - a codegen cache of [[CodegenCacheEntries]] classes instead of
  *     Spark's 100. Spark keys a compiled class on its source AND the
  *     thread's context class loader, and in local mode the driver
  *     thread and the executor's task threads use different loaders, so
  *     every generated class is cached twice. A collect that
  *     [[graft.plans.DriverCollectExec]] runs on the driver thread
  *     reuses the class compiled under the driver's loader, so such a
  *     read's stage has one entry, not two. One 2k-line daily delta
  *     (Cleaner, Migrator, the three sinks, the index appends) uses
  *     about 45 shapes, so about 90 entries: with 100 the cache evicted
  *     its own working set, and each steady-state delta recompiled
  *     83-96 classes. At 200 to 2000 entries that fell to 6-10 per delta
  *     (4 cores, 2 GB heap). The setting is static, so it is set here,
  *     before the first compile in the JVM.
  */
object GraftSession {
  /** Size of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). */
  val CodegenCacheEntries: Int = 1000

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
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toLong)
      // testdata events.ts is parquet TIMESTAMP(NANOS): read as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "127.0.0.1")
  }

  def getOrCreate(appName: String = "graft"): SparkSession =
    start(builder(appName))

  /** The session `b` builds (or the running one) at log level WARN,
    * with stale staging dirs reaped and its own removed when the JVM
    * exits ([[WorkDir]]). */
  private[graft] def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    WorkDir.reapOnce()
    WorkDir.removeAtExit(spark)
    spark
  }

  /** Runs `body` with each `key -> value` set on the session conf and
    * restores every key in `finally`, even when a set or the body
    * throws: a key that had a session value gets it back, a key that
    * had none is unset again. The engine's one scoped conf override
    * ([[graft.query.QueryOps.withoutAqe]], the streaming replays'
    * [[graft.streaming.Replay.scope]]).
    *
    * CONCURRENCY CONTRACT: this toggles the SESSION-GLOBAL conf
    * non-atomically — queries wrapped in it must not run
    * concurrently on the same SparkSession with other queries
    * (the toggle would leak into a bystander's planning, and the
    * restore can clobber a nested scope's saved value). Both harnesses
    * honor this today: Bench and Verify run the registered queries
    * strictly sequentially on one session, and no query body spawns
    * driver threads that plan queries. A future multi-threaded
    * submitter must either give each query its own `spark.newSession()`
    * (per-session conf, shared state) or drop
    * these scopes; asserting the invariant here is deliberate — a
    * cloned session per query would re-pay session init on every one
    * of the ~200 bench rows to defend against a caller that does not
    * exist. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)
                 (body: => T): T = {
    // getOption would report a registered key's DEFAULT as a value;
    // only an explicitly set key is restored by value
    val set = spark.conf.getAll
    val saved = settings.map { case (k, _) => k -> set.get(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
