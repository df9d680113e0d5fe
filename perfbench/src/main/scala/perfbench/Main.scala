package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options; run.py passes the launch time and work dir. The
  * input `scale` is set only by the self-tests. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, launchMs: Long, scale: Double = 1.0)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }
}

/** Runs one workload: set-up (repeated, median reported), warm ops,
  * then ops in a closed loop for the requested seconds. A traced run
  * alternates untraced and traced stretches of `tracePeriod` ops, so the
  * tracing overhead is measured in the same process on the same mix of
  * op kinds. */
object Runner {
  /** Workload-reported count of rows its traced reads returned. */
  val RowsReturned = "query.serve.rows_returned"
  /** Ops stop starting after this many seconds from launch. */
  val Deadline = 140.0

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Map[String, Double], detail: Map[String, Any],
                          messages: Seq[String])

  def run(spark: SparkSession, o: Opts, sessionS: Double, readyS: Double): Result = {
    val w = Workloads(o.workload, o.scale)
    val outcome = new Outcome
    val tracer = new Tracer(spark, s"${o.workload}-${o.seed}-${o.launchMs}")
    val ctx = new Ctx(spark, o.seed, o.work, tracer, outcome)
    val setups = (0 until w.setupReps).map { rep =>
      val t = System.nanoTime(); w.setup(ctx, rep); (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    w.warm(ctx)
    val warmS = (System.nanoTime() - tw) / 1e9

    // kind, ms, items, traced
    val samples = mutable.ArrayBuffer.empty[(String, Double, Double, Boolean)]
    var tracedGcMs = 0L
    if (o.trace) tracer.enable()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def sinceLaunch = (System.currentTimeMillis() - o.launchMs) / 1000.0
    val period = w.tracePeriod
    var i = 0
    var last = 0.0
    // Start another op only if it would end near the window's end. A
    // traced run alternates untraced and traced periods, so both halves
    // see the same warm-up drift and the same op kinds, and it ends only
    // after a whole traced period.
    while ((i == 0 || elapsed + last / 2 < o.seconds || (o.trace && i % (2 * period) != 0)) &&
        sinceLaunch < Deadline) {
      val kind = w.kindOf(i)
      val idx = i
      tracer.active = o.trace && (i / period) % 2 == 1
      outcome.op {
        val gc0 = gcMs
        val s = System.nanoTime()
        val (items, check) = tracer.span("bench.op")(w.op(ctx, idx))
        val ms = (System.nanoTime() - s) / 1e6
        if (tracer.active) tracedGcMs += gcMs - gc0
        samples += ((kind, ms, items, tracer.active))
        last = ms / 1000
        check()
      }
      tracer.active = false
      i += 1
    }
    if (o.trace) w.afterTrace(ctx)
    val report = if (o.trace) Some(tracer.report()) else None
    val layer: Map[String, Double] =
      report.map(perLayer(w, _, samples.toSeq, tracedGcMs, sessionS)).getOrElse(Map.empty)

    val timed = samples.toSeq
    val ms = timed.map(_._2)
    val setupS = readyS + Stats.median(setups)
    val metrics =
      if (o.trace) layer
      else Map(
        "setup_s" -> setupS,
        "op_p50_ms" -> Stats.quantile(ms, 0.5),
        "items_per_s" -> timed.map(_._3).sum / (ms.sum / 1000.0),
        "stored_bytes_per_input_byte" -> w.storedRatio(ctx))
    val byKind = samples.filter(_._4 == o.trace).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      val v = xs.map(_._2).toSeq
      k -> Map("n" -> v.length, "p50_ms" -> Stats.quantile(v, 0.5), "p95_ms" -> Stats.quantile(v, 0.95))
    }.toMap
    val detail = w.detail ++ Map(
      "ops" -> ms.length, "op_ms" -> ms.take(40).map(x => math.rint(x * 10) / 10),
      "latency_by_kind" -> byKind,
      "run_id" -> tracer.runId, "setup_s_reps" -> setups, "warm_s" -> warmS, "jvm_to_session_s" -> readyS, "session_start_s" -> sessionS)
    val spans = report.map(r => Map("spans" -> r.spanRows)).getOrElse(Map.empty)
    Result(outcome.failed == 0, outcome.attempted, outcome.failed, metrics, detail ++ spans,
      outcome.messages.toSeq)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Per-layer values over the traced ops, per op. */
  private def perLayer(w: Workload, r: Report, samples: Seq[(String, Double, Double, Boolean)],
                       gc: Long, sessionS: Double): Map[String, Double] = {
    val traced = samples.filter(_._4)
    val untraced = samples.filterNot(_._4)
    val n = math.max(traced.length, 1).toDouble
    val wl = w.layerValues(traced.length)
    val out = mutable.Map.empty[String, Double] ++ Metrics.perLayer.map(_.name -> 0.0)
    def self(p: String) = r.selfOf(p) / n
    out("session.start_s") = sessionS
    out("etl.cleaner.ms") = self("etl.cleaner")
    out("etl.migrator.parse_ms") = self("etl.migrator.parse")
    out("etl.migrator.enrich_ms") = self("etl.migrator.enrich")
    out("etl.migrator.exec_cpu_ms") = r.countsOf("etl.migrator").cpuMs / n
    for (t <- Pipeline.Tables) out(s"sources.sink.$t.ms") = self(s"sources.sink.$t")
    val sink = r.countsOf("sources.sink")
    out("sources.sink.shuffle_write_bytes") = sink.shuffleWrite / n
    out("sources.sink.spill_bytes") = sink.spill / n
    val q = r.countsOf("query.serve")
    val reads = traced.count(_._1 != "op")
    if (reads > 0) {
      out("query.serve.plan_ms") = q.planMs / reads
      out("query.serve.jobs_per_read") = q.jobs.toDouble / reads
      out("query.serve.tasks_per_read") = q.tasks.toDouble / reads
      out("query.serve.bytes_read_per_read") = q.bytesRead.toDouble / reads
      out("query.serve.rows_scanned_per_row_returned") =
        q.recordsRead / math.max(wl.getOrElse(RowsReturned, 1.0), 1.0)
      def lat(kinds: Set[String], qq: Double) = {
        val v = traced.filter(s => kinds(s._1)).map(_._2)
        if (v.isEmpty) 0.0 else Stats.quantile(v, qq)
      }
      out("query.serve.point_p50_ms") = lat(Set("point", "apex"), 0.5)
      out("query.serve.point_p95_ms") = lat(Set("point", "apex"), 0.95)
      out("query.serve.page_p50_ms") = lat(Set("pplimit", "page", "page2"), 0.5)
      out("query.serve.page_p95_ms") = lat(Set("pplimit", "page", "page2"), 0.95)
      out("query.serve.scan_p50_ms") = lat(Set("topk"), 0.5)
    }
    out("etl.acquire.dedup_ms") = self("etl.acquire.dedup")
    out("etl.acquire.shuffle_bytes") = r.countsOf("etl.acquire").shuffleWrite / n
    out("operators.index.append_ms") = self("operators.index.append")
    out("operators.index.load_ms") = self("operators.index.load")
    out("operators.index.jobs_per_delta") = r.countsOf("operators.index").jobs / n
    out("operators.text.signals_ms") = self("operators.text")
    out("operators.dedup.ms") = self("operators.dedup")
    out("operators.sampling.split_ms") = self("operators.sampling")
    val t = r.total
    out("spark.plan_ms") = t.planMs / n
    out("spark.jobs") = t.jobs / n
    out("spark.sched_delay_ms") = t.schedMs / n
    out("spark.exec_cpu_ms") = t.cpuMs / n
    out("spark.exec_run_ms") = t.runMs / n
    out("spark.shuffle_bytes") = t.shuffleWrite / n
    out("spark.spill_bytes") = t.spill / n
    out("spark.collect_bytes") = t.resultBytes / n
    out("jvm.gc_ms") = gc / n
    out("bench.glue_ms") = self("bench")
    val wall = traced.map(_._2).sum
    val layers = r.selfMs.filter { case (k, _) => !k.startsWith("bench") }.values.sum
    out("trace.coverage_frac") = if (wall > 0) layers / wall else 0.0
    out("trace.overhead_frac") =
      if (untraced.isEmpty || traced.isEmpty) 0.0
      else Stats.median(traced.map(_._2)) / Stats.median(untraced.map(_._2)) - 1.0
    out ++= wl.filter { case (k, _) => k != RowsReturned }
    out.toMap
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.getOrCreate("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val readyS = (System.currentTimeMillis() - o.launchMs) / 1000.0
    val code = try {
      w(o, spark, sessionS, readyS)
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${o.workload} failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def w(o: Opts, spark: SparkSession, sessionS: Double, readyS: Double): Unit = {
    val r = Runner.run(spark, o, sessionS, readyS)
    r.messages.foreach(m => System.err.println(s"perfbench: check failed: $m"))
    val sc = spark.sparkContext
    val storageBytes = sc.getExecutorMemoryStatus.values.map(_._1).sum
    val ram = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize
      case _ => 0L
    }
    val config = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cpus" -> graft.GraftSession.cpus.toInt,
      "heap_bytes" -> Runtime.getRuntime.maxMemory, "storage_memory_bytes" -> storageBytes,
      "ram_bytes" -> ram, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"))
    println(Json.obj(Seq("config" -> config, "detail" -> r.detail)))
    println(Metrics.resultLine(r.correct, r.attempted, r.failed, o.trace, r.metrics))
  }
}
