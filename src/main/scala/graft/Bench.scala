package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line with the total and per-query
  * seconds. The harness captures only the LAST ~2000 chars of output
  * (rounds 1-4 lost the line to its own length), so the inline
  * `queries` map is budgeted: slowest queries first, rounded to ms,
  * truncated to keep the whole line inside the capture window. The
  * complete full-precision map is written to `bench_full.json`.
  *
  * Contention-proofing (round 7, INVERTED round 11): a single-shot
  * timing is poisoned by one noisy co-tenant window — round 6's driver
  * bench recorded 14x the quiet-box time on queries with zero source
  * diff, and rounds 9-10 committed contended SLOW-TAIL entries
  * (kcore 5.69 s recorded vs 1.69 s probed) because the old rule gave
  * queries ≥ 5 s the FEWEST runs exactly when noise hurts most. Now
  * every query gets three runs, and a query still slow after three
  * (min > 2 s) with a contention-shaped spread (max/min > 1.5) gets a
  * FOURTH — slow entries get the most observations. The reported
  * figure is the min (best-observed = least-contended of a
  * deterministic computation). The artifact is self-describing: it
  * carries /proc/loadavg before/after, a per-query 1-min loadavg
  * sample in bench_full.json, JVM GC-time, and a LOUD top-level
  * "warning" field whenever the 1-min loadavg at start exceeds 1.5 or
  * wall time exceeds 2x summed query time — either means the number
  * is box noise, not the engine.
  */
object Bench {
  /** The forcing action for every timing in this repo: write to the
    * noop sink, which consumes every output row of every column.
    *
    * NOT `count()` (rounds 1-13's action, fixed r14): under a
    * `count()` Catalyst is free to — and does — rewrite the plan down
    * to the minimum that preserves cardinality. Two concrete holes
    * this round caught: a left join whose right side is an aggregate
    * on the join key is ELIMINATED outright (unique keys + no
    * referenced columns ⇒ cardinality unchanged — q_scrub_spans
    * "measured" 0.48 s at 100x data while the real forced run costs
    * 16.6 s: the entire gram-window shuffle was optimized away), and
    * every projection expression is pruned (a regex-heavy select
    * times as a bare scan). The noop sink keeps the measurement an
    * end-to-end evaluation of the query's declared OUTPUT while still
    * writing nothing. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  /** This JVM's cumulative CPU seconds (all threads — in local mode
    * that includes every Spark executor thread), for separating the
    * bench's OWN load from co-tenant load in the contention check. */
  private def processCpuSec: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }
  /** Cumulative (steal, total) jiffies from /proc/stat — HOST-level
    * CPU steal is invisible to guest loadavg and to process-CPU
    * accounting, yet makes every timing uniformly slower; recording
    * the window's steal fraction makes that failure mode
    * self-identifying too. */
  private def stealJiffies: (Long, Long) =
    try {
      val parts = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().split("\\s+").drop(1).map(_.toLong)
      (if (parts.length > 7) parts(7) else 0L, parts.sum)
    } catch { case _: Throwable => (0L, 0L) }
  private def loadAvg: String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8)
      s.split("\\s+").take(3).mkString(" ")
    } catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ONE session builder for the whole repo (r16 verdict #7): Bench
    // carried its own with a drifted local[4] default, so r16's
    // "canonical" quiet sweep silently measured a different engine
    // config than the driver's local[32] and r15's canonical — the
    // artifact's cpus field must now always match GraftSession's
    val cpus = GraftSession.cpus
    val spark = GraftSession.getOrCreate("graft-bench")
    // Streaming-row stability pins (r16 verdict #6): the q_stream_*
    // certification replays drifted up to 62% ACROSS QUIET SWEEPS
    // (r17 three-sweep probe, zero plan change — EXPLAINS identical);
    // the moving part is per-micro-batch state-store/offset-log I/O
    // on the disk-backed java.io.tmpdir plus background state
    // maintenance landing mid-measurement. Pin the harness, not the
    // operator: checkpoints go to tmpfs (every replay query carries a
    // UUID queryName, so a shared base can never resume stale
    // offsets), and maintenance is deferred past any sweep. The
    // replays never exercise recovery, so certification semantics are
    // untouched; the explicit-checkpoint file-source replays
    // (StreamingIngest) keep their own dirs and are unaffected.
    // appId-suffixed (r17 ADVICE): a fixed shared path let two
    // concurrent bench processes delete each other's live checkpoints
    // mid-sweep; the per-process dir is wiped on entry AND on exit so
    // per-query UUID checkpoint dirs don't accumulate in tmpfs
    val ckptBase =
      if (new java.io.File("/dev/shm").isDirectory)
        Some(s"/dev/shm/graft_bench_ckpt_${WorkDir.tag(spark)}")
      else None
    def wipeCkpt(): Unit = ckptBase.foreach(WorkDir.wipe(spark, _))
    ckptBase.foreach { dir =>
      // crashed/killed sweeps leak their appId-suffixed tmpfs dirs
      // forever (r18 ADVICE — the old fixed path was self-cleaning on
      // the next entry wipe): reap stale siblings on entry so
      // RAM-backed garbage can't accumulate
      WorkDir.reap(new java.io.File("/dev/shm"))
      wipeCkpt()
      spark.conf.set("spark.sql.streaming.checkpointLocation", dir)
    }
    spark.conf.set(
      "spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    // The residual jitter after the checkpoint pin (still 18-27% on
    // the micro-batch-heavy rows) is WAKE-UP LATENCY: the micro-batch
    // thread sleeps pollingDelay (default 10 ms) whenever it finds no
    // new data, so every addData/processAllAvailable boundary in a
    // replay pays 0-10 ms of scheduler phase — ~50 batches x 10 ms
    // matches the observed 0.5 s swing on q_stream_hourly exactly.
    // 1 ms bounds the phase noise without changing execution.
    spark.conf.set("spark.sql.streaming.pollingDelay", "1ms")
    // warmup: JVM/codegen/parquet-footer caches, so per-query numbers
    // reflect steady-state cost rather than first-job startup
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    // Box-speed yardstick (r18): a fixed in-memory CPU-bound job timed
    // min-of-3 at sweep start and once at sweep end. The one noise
    // mode the contention checks CANNOT see is a uniform whole-box
    // slow phase below the load/steal thresholds (the r18 179.6 s vs
    // 158.0 s sweep pair at identical code: every family +10-30%,
    // flat run vectors, gc normal, no flag) — a data-independent
    // calibration number makes that phase SELF-IDENTIFYING in the
    // artifact: two sweeps whose totals differ by ~the calib ratio
    // are the same engine on a different box-hour.
    def calibOnce(n: Long = 200000000L): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: xxhash64 fills the long range, so an ANSI
      // sum over 200M of them overflows; xor is overflow-free and the
      // same per-row CPU shape
      spark.range(0, n, 1, 32)
        .selectExpr("bit_xor(xxhash64(id)) as h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-3 at BOTH ends: a single-shot end sample on a sweep-aged
    // heap reads high (measured 0.26 vs a 0.15 min on the same box)
    def calib(): Double = (1 to 3).map(_ => calibOnce()).min
    // Memory-BANDWIDTH yardstick (r19, from the slow-mode adjudication):
    // the r18 driver mode reproduces under a DRAM-streaming co-tenant —
    // which the CPU calib barely sees (a register-bound hash loop reads
    // ~2× slower while data-streaming rows run 3-11× slower) and
    // loadavg sees not at all (4 memcpy processes saturate a socket's
    // bandwidth at load +4). A single-thread pass over a pinned 256 MB
    // array measures the one resource that mode actually steals; GB/s.
    val bwArr = new Array[Long](32 * 1024 * 1024)
    java.util.Arrays.fill(bwArr, 0x9e3779b97f4a7c15L)
    def bwOnce(): Double = {
      val t0 = System.nanoTime()
      var i = 0; var acc = 0L
      while (i < bwArr.length) { acc ^= bwArr(i); i += 1 }
      if (acc == 42L) print("") // keep the pass un-eliminable
      // numerator = the array's true size (32Mi longs = 0.268435456
      // GB, not 0.256 — r19 ADVICE: the field is labeled absolute
      // GB/s and gets compared across rounds, so the ~4.6%
      // understatement was a standing bias even though intra-sweep
      // ratios cancelled it)
      (bwArr.length * 8L / 1e9) / ((System.nanoTime() - t0) / 1e9)
    }
    bwOnce() // JIT warm
    // Per-JOB scheduler-latency yardstick (r20, from the four-row
    // drift adjudication): iterative rows (kcore 44 jobs/run, hits
    // 42, components_inc 73) scale with the box's per-job scheduling
    // latency — a third axis ORTHOGONAL to the CPU calib (register
    // loop) and the bandwidth pass, measured at 36–46 ms/job on this
    // box while both other yardsticks read quiet and /proc/stat shows
    // 100% idle at rest. ms per empty 1-partition job, min-of-2 of
    // 20-job averages; a sweep whose job_ms is far off another's is
    // the same engine on a different scheduler-hour, and the
    // multi-job rows will differ by ~(jobs × Δjob_ms).
    def jobMsOnce(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 20) { spark.range(1, 2, 1, 1).count(); i += 1 }
      (System.nanoTime() - t0) / 1e6 / 20.0
    }
    jobMsOnce() // path warm
    // the 100M per-query variant has its own codegen (different range
    // literal): pay it once here so the first query's calib1 sample
    // reads box speed, not compile time
    calibOnce(100000000L)
    val bwStart = (1 to 3).map(_ => bwOnce()).max
    val jobMsStart = math.min(jobMsOnce(), jobMsOnce())
    val calibStart = calib()
    val loadBefore = loadAvg
    val gcBefore = gcMillis
    val cpuBefore = processCpuSec
    val stealBefore = stealJiffies
    val wall0 = System.nanoTime()
    // A run that THROWS must never become the reported minimum (a
    // fast failure would otherwise look like a good number): failed
    // runs time as +Infinity, so min() only ever picks a successful
    // run, and a query whose every run failed is reported as an error
    // (value -1), excluded from the total.
    //
    // Per-RUN adjudication fields (r18 verdict #1 — the driver's
    // official sweep carried six rows flat-elevated 2.5–11× over the
    // same-code quiet canonical, QUIET by every sweep-level check, and
    // nothing in the artifact could say whether the cause was a plan
    // flip, a GC mode, or a box phase):
    //  - `gc`: this JVM's GC seconds during the run — a row whose slow
    //    runs carry multi-second gc deltas is a heap/collector mode;
    //  - `plan`: hash of the CANONICALIZED physical plan (exprIds
    //    normalized, so reruns of an identical plan hash identically) —
    //    a row whose fingerprint differs between sweeps flipped plans;
    //  - `calib1` (per query, below): one box-speed sample as the
    //    query finished — a slow row next to a quiet calib1 is
    //    query-selective, not a box phase.
    def planFingerprint(df: org.apache.spark.sql.DataFrame): String =
      try {
        val s = df.queryExecution.executedPlan.canonicalized.toString
          // typed operators (mapPartitions, Aggregator udafs) print
          // closure OBJECT identities (…$$Lambda$123/0x7f…@1a2b) that
          // differ per run at identical plan shape — the first
          // instrumented sweep showed 17/196 rows "unstable" from
          // this alone. Strip them so the hash tracks plan SHAPE.
          .replaceAll("\\$\\$Lambda[^\\s,()\\[\\]]*", "LAMBDA")
          .replaceAll("@[0-9a-fA-F]{4,}", "@")
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .take(4).map(b => f"$b%02x").mkString
      } catch { case _: Throwable => "plan_err" }
    case class RunObs(sec: Double, gcSec: Double, plan: String)
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): RunObs = {
      val g0 = gcMillis
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        force(df)
        val sec = (System.nanoTime() - t0) / 1e9
        // fingerprint computed OUTSIDE the timed window (planning the
        // returned frame is cheap; the run itself was already forced)
        RunObs(sec, (gcMillis - g0) / 1e3, planFingerprint(df))
      } catch { case _: Throwable =>
        RunObs(Double.PositiveInfinity, (gcMillis - g0) / 1e3, "err")
      }
    }
    // three runs each; a query still slow after three (min > 2 s)
    // whose spread looks contention-shaped (max/min > 1.5) gets a
    // fourth — the SLOW tail gets the MOST observations (r10 verdict:
    // the old fewest-runs-when-slowest rule committed contended tails
    // twice). min = least-contended observation of a deterministic
    // computation. ALL runs are kept: min is the headline
    // (steady-state), but the max/spread carries the pay-once costs
    // (codegen compile, staging, index build) and quantifies
    // contention per query — bench_full.json records the whole spread
    // plus the 1-min loadavg sampled as each query started.
    // Local-iteration filter (mirrors Verify's VERIFY_ONLY): when
    // BENCH_ONLY=q_a,q_b is set, bench_full.json is NOT overwritten —
    // a subset total must never masquerade as the fleet number.
    val only = sys.env.get("BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def load1: Double =
      loadAvg.split("\\s+").headOption.flatMap(_.toDoubleOption)
        .getOrElse(-1.0)
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def measure(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Seq[RunObs], Double, Double, Double) = {
      val l = load1
      val three = Seq(timeOnce(fn), timeOnce(fn), timeOnce(fn))
      val ok3 = three.map(_.sec).filter(_.isFinite)
      val runs =
        if (name.startsWith("q_stream_"))
          // streaming replays keep warming past run 3 (state-store
          // and micro-batch paths JIT late): the r17 pinned-sweep
          // probes show run sequences still FALLING at the third
          // sample (q_stream_join 6.02 -> 5.16 -> 4.82), so a
          // 3-run min is a biased draw from a descending curve and
          // was the last source of >10% row drift between quiet
          // sweeps after the checkpoint/pollingDelay pins. Two
          // more runs land on the flat part.
          three ++ Seq(timeOnce(fn), timeOnce(fn))
        else if (ok3.nonEmpty && ok3.min > 2.0 &&
            ok3.max / ok3.min > 1.5) three :+ timeOnce(fn)
        else three
      // one small box-speed sample per query (100M rows, ~0.07 s
      // quiet — half the sweep-level 200M yardstick so the ~190
      // samples cost ~15 s/sweep): a row elevated next to a QUIET
      // calib1 cannot be blamed on a box phase. bw1 is the
      // bandwidth twin (~0.03 s quiet) for the co-tenant mode the
      // CPU sample cannot see.
      val c1 = calibOnce(100000000L)
      val b1 = bwOnce()
      // heartbeat (r19 ADVICE): the stale-sibling reap above keys
      // off the mtimes of the base dir and its direct children, which
      // only move on create/delete one level down — a long-lived
      // sweep that goes 3 h without a new per-query checkpoint child
      // would look stale to a CONCURRENT bench's entry reap and lose
      // live checkpoints mid-run. Touching our own base dir once per
      // query keeps a live sweep's mtime always < 3 h old.
      ckptBase.foreach(d =>
        new java.io.File(d).setLastModified(System.currentTimeMillis()))
      (runs, l, c1, b1)
    }
    val firstPass: Seq[(String, (Seq[RunObs], Double, Double, Double))] =
      queryList.map { case (name, fn) => name -> measure(name, fn) }
    // end-of-main-pass yardsticks (min/max-of-3): inputs to the
    // suspect rule and the bwRef, measured before any requeue work
    val calibEnd = calib()
    val bwEnd = (1 to 3).map(_ => bwOnce()).max
    val jobMsEnd = math.min(jobMsOnce(), jobMsOnce())

    // ---- The enforceable per-query box check (r18 verdict #1) + the
    // in-sweep REQUEUE (r19 verdict #6). The driver sweep's failure
    // mode was a MID-sweep co-tenant burst — row-selective 2.5–11×
    // elevation with every END-of-sweep check quiet. calib1/bw1
    // sample box speed as each query finishes; a burst spanning ≥ 2
    // consecutive queries shows as ADJACENT degraded samples.
    // Isolated spikes are excluded (residual executor work from a
    // heavy row elevates its own leaving sample — the min(entering,
    // leaving) effective sample kills those), and streaming-harness
    // rows are excluded (their samples overlap state-store teardown).
    // NEW (r19 verdict #6): instead of shipping a flagged artifact
    // (BENCH_r19 did — the driver runs ONE sweep), flagged rows are
    // re-measured after a cool-down, bounded at two passes; rows
    // whose dedicated requeue window reads quiet are cleared with
    // honest (merged-min) numbers, rows still degraded stay in
    // box_suspect_rows. ----
    val streamingHarness = Set("q_screen_ingest",
      "q_screen_ingest_bloom", "q_media_screen_stream")
    def isExcluded(n: String): Boolean =
      n.startsWith("q_stream_") || streamingHarness(n)
    // effective CPU sample per row = min(entering, leaving): the
    // leaving sample of a heavy multi-job row reads its own teardown
    // (measured 0.19–0.36 on every quiet sweep for the daily
    // pipelines and dbscan), but the entering sample (= the previous
    // row's leaving sample) is quiet then; a REAL box window spanning
    // the row elevates both. Computed over the full ordered sequence
    // BEFORE the exclusions so adjacency of samples is physical.
    def effSamples(rs: Seq[(String, (Seq[RunObs], Double, Double, Double))],
                   firstEntering: Double)
        : Seq[(String, Double, Double)] = {
      val raw = rs.map { case (n, (_, _, c1, b1)) => (n, c1, b1) }
      raw.indices.map { i =>
        val entering = if (i == 0) firstEntering else raw(i - 1)._2
        (raw(i)._1, math.min(entering, raw(i)._2), raw(i)._3)
      }
    }
    val nsFirst = effSamples(firstPass, calibStart)
      .filter { case (n, _, _) => !isExcluded(n) }
    // bandwidth reference: the BEST the box showed this sweep — max
    // of the start/end yardsticks and the per-row median. A minority
    // burst leaves the median quiet; a burst at one end leaves the
    // other end quiet; only whole-sweep contamination defeats it, and
    // that's what the external_load/steal warning already catches.
    val bwRef = {
      val s = nsFirst.map(_._3).sorted
      val med = if (s.isEmpty) 0.0 else s(s.size / 2)
      math.max(math.max(bwStart, bwEnd), med)
    }
    // CPU threshold scaled to the sweep's own yardstick (r19 ADVICE:
    // the old absolute 0.25 s marks every row bad on hardware whose
    // QUIET 100M sample exceeds it) — 3× the QUIETEST 100M-equivalent
    // evidence the sweep produced (either end's calibration, halved
    // from the 200M job, or the best per-row sample), floored at the
    // 0.25 s this box's rule was calibrated to so fast-box behavior
    // is unchanged. Min, NOT median: an injection fire showed a
    // median-keyed threshold scales UP under whole-sweep
    // contamination and masks every row — if ANY moment of the sweep
    // was quiet, the threshold anchors there; if NO moment was quiet,
    // per-row flags are the wrong tool and the sweep-level
    // external_load/steal CONTENDED warning carries the verdict.
    val c1Thresh = {
      val best = (Seq(calibStart / 2.0, calibEnd / 2.0) ++
        nsFirst.map(_._2)).min
      math.max(0.25, 3.0 * best)
    }
    def badSample(c1: Double, b1: Double): Boolean =
      c1 > c1Thresh || (bwRef > 0 && b1 < 0.5 * bwRef)
    // a row is box-suspect when IT and an adjacent row both show a
    // degraded box — two consecutive samples rule out the isolated
    // post-heavy-row spikes measured on quiet sweeps
    def computeSuspects(
        rs: Seq[(String, (Seq[RunObs], Double, Double, Double))],
        firstEntering: Double): Seq[String] = {
      val ns = effSamples(rs, firstEntering)
        .filter { case (n, _, _) => !isExcluded(n) }
      def bad(x: (String, Double, Double)): Boolean = badSample(x._2, x._3)
      ns.indices.filter { i =>
        bad(ns(i)) &&
          ((i > 0 && bad(ns(i - 1))) ||
            (i < ns.size - 1 && bad(ns(i + 1))))
      }.map(ns(_)._1)
    }
    var results = firstPass
    var suspects = computeSuspects(firstPass, calibStart)
    val requeuedAll = scala.collection.mutable.LinkedHashSet.empty[String]
    var sleepSec = 0.0
    var requeuePass = 0
    val fnByName = queryList.toMap
    while (suspects.nonEmpty && requeuePass < 2) {
      requeuePass += 1
      // cool-down: the reproduced co-tenant bursts are transient;
      // 20 s is long enough for loadavg-invisible bandwidth hogs to
      // finish a phase, short enough to keep a clean driver sweep's
      // cost at zero (no suspects → no sleep)
      Thread.sleep(20000)
      sleepSec += 20.0
      requeuedAll ++= suspects
      // dedicated requeue window: entering sample measured fresh, then
      // each row's leaving c1 becomes the next row's entering — the
      // same min(entering, leaving) physics as the main pass
      var entering = calibOnce(100000000L)
      val stillBad = scala.collection.mutable.ArrayBuffer.empty[String]
      val reMeasured = suspects.map { n =>
        val m = measure(n, fnByName(n))
        val eff = math.min(entering, m._3)
        entering = m._3
        if (badSample(eff, m._4)) stillBad += n
        n -> m
      }.toMap
      // merge: ALL runs kept (both vectors land in the artifact; min
      // picks the least-contended observation across passes); the
      // per-row samples become the requeue window's — they are the
      // ones the final verdict rests on
      results = results.map {
        case (n, (runs, _, _, _)) if reMeasured.contains(n) =>
          val (nr, nl, nc1, nb1) = reMeasured(n)
          n -> ((runs ++ nr, nl, nc1, nb1))
        case kept => kept
      }
      suspects = stillBad.toSeq
    }
    val suspectRows = suspects
    val best = results.map { case (name, (runs, _, _, _)) =>
      val ok = runs.map(_.sec).filter(_.isFinite)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val errors = best.collect { case (name, v) if v < 0 => name }
    val total = best.map(_._2).filter(_ >= 0).sum
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val gcSec = (gcMillis - gcBefore) / 1e3
    val loadAfter = loadAvg
    val errField =
      if (errors.isEmpty) ""
      else errors.map(e => s""""$e"""").mkString(""","errors":[""", ",", "]")
    // a contended run must say so IN the artifact, not wait for a
    // judge probe (r9 ER 9.9 vs 2.5 s, r10 kcore 5.69 vs 1.69 s were
    // both committed silently). Raw loadavg cannot discriminate — the
    // QUIET committed r10 run STARTED at 3.93 (its own prior builds,
    // decaying) and the bench's own local[$cpus] work sustains ~2-4 —
    // so the check subtracts the bench's measured footprint: the JVM's
    // process-CPU rate over the window. external_load =
    // loadavg_after − self_cpu_rate > 1.0 means co-tenants held more
    // than a full cpu (the contended sweep: 3.31 − ~1.9 ≈ 1.4; the
    // quiet run: 1.91 − ~1.9 ≈ 0). The secondary trigger — wall time
    // well beyond the sum of every measured run — catches the box
    // stalling BETWEEN runs. Both raw numbers always land in the
    // artifact so a reader can re-judge the thresholds.
    val loadAfterNum = loadAfter.split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    val selfCpuRate =
      if (cpuBefore >= 0 && wallSec > 0)
        (processCpuSec - cpuBefore) / wallSec
      else -1.0
    val externalLoad =
      if (selfCpuRate >= 0 && loadAfterNum >= 0) loadAfterNum - selfCpuRate
      else -1.0
    val allRunsSec =
      results.flatMap(_._2._1.map(_.sec)).filter(_.isFinite).sum
    val stealAfter = stealJiffies
    val stealPct =
      if (stealAfter._2 > stealBefore._2)
        100.0 * (stealAfter._1 - stealBefore._1) /
          (stealAfter._2 - stealBefore._2)
      else 0.0
    // deliberate requeue cool-downs are wall time with no measured
    // runs — subtract them so a sweep that requeued and CLEARED does
    // not false-trip the stall check
    val warnField =
      if (externalLoad > 1.0 || stealPct > 2.0 ||
          (allRunsSec > 0 && wallSec - sleepSec > 1.5 * allRunsSec))
        f""","warning":"CONTENDED RUN (external load $externalLoad%.2f cpus beyond the bench's own $selfCpuRate%.2f, host steal $stealPct%.1f%%, wall $wallSec%.0fs vs $allRunsSec%.0fs in measured runs): timings are upper bounds, re-measure on a quiet box""""
      else ""
    // sweep-level JIT counters: the one row-selective mode per-run gc
    // and plan fields cannot see is generated-code falling out of the
    // compiled tier (code cache pressure) — a sweep whose codecache_mb
    // sits near the JVM's reserve or whose jit_sec is far off the
    // canonical's is running DIFFERENT machine code at identical plans
    val jitSec =
      Option(java.lang.management.ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime / 1e3).getOrElse(-1.0)
    val codeCacheMb = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("CodeHeap") ||
          p.getName.contains("Code Cache"))
        .map(_.getUsage.getUsed).sum / 1e6
    }
    val suspectField = suspectRows
      .map(n => s""""$n"""").mkString(""""box_suspect_rows":[""", ",", "],") +
      requeuedAll.toSeq
        .map(n => s""""$n"""").mkString(""""requeued_rows":[""", ",", "],")
    val health = f"""$suspectField"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","self_cpu_rate":$selfCpuRate%.2f,"external_load":$externalLoad%.2f,"steal_pct":$stealPct%.2f,"gc_sec":$gcSec%.1f,"jit_sec":$jitSec%.1f,"codecache_mb":$codeCacheMb%.1f,"wall_sec":$wallSec%.1f,"cpus":$cpus,"calib_sec":[$calibStart%.3f,$calibEnd%.3f],"membw_gbps":[$bwStart%.1f,$bwEnd%.1f],"job_ms":[$jobMsStart%.1f,$jobMsEnd%.1f],"runs_per_query":"min-of-3 (4 if >2s and spread>1.5; 5 for q_stream_*)"$warnField$errField"""
    // Compact health for the PRINTED line (r20 verdict #3: the driver
    // has NEVER parsed the bench line — parsed:null in all 20 rounds —
    // because the full health string embeds the UNBOUNDED
    // box_suspect_rows/requeued_rows name lists; r20's requeue lists
    // pushed the line past the driver's tail-capture window, cutting
    // off the line's head where "value" lives). The printed line
    // carries scalar counts instead of the lists; the full lists, the
    // loadavg strings and the JIT counters stay in bench_full.json.
    val healthMini = f""""box_suspect_n":${suspectRows.size},"requeued_n":${requeuedAll.size},"self_cpu_rate":$selfCpuRate%.2f,"external_load":$externalLoad%.2f,"steal_pct":$stealPct%.2f,"gc_sec":$gcSec%.1f,"wall_sec":$wallSec%.1f,"cpus":$cpus,"calib_sec":[$calibStart%.3f,$calibEnd%.3f],"membw_gbps":[$bwStart%.1f,$bwEnd%.1f],"job_ms":[$jobMsStart%.1f,$jobMsEnd%.1f]$warnField$errField"""
    val fullJson = results.map { case (k, (runs, l, c1, b1)) =>
      val ok = runs.map(_.sec).filter(_.isFinite)
      val runsJson = runs.map(r =>
          if (r.sec.isFinite) f"${r.sec}%.4f" else "-1")
        .mkString("[", ",", "]")
      val gcJson = runs.map(r => f"${r.gcSec}%.3f").mkString("[", ",", "]")
      val plans = runs.map(_.plan)
      // ALWAYS an array (r19 ADVICE): the old string-when-identical /
      // array-when-flipped union type broke naive readers exactly on
      // the interesting (plan-flip) rows; `plan_flipped` carries the
      // common-case answer without parsing the array
      val planJson = plans.map(p => s""""$p"""").mkString("[", ",", "]")
      val planFlipped = plans.distinct.size > 1
      val mm =
        if (ok.isEmpty) """"min":-1,"max":-1"""
        else f""""min":${ok.min}%.4f,"max":${ok.max}%.4f"""
      f""""$k":{$mm,"runs":$runsJson,"gc":$gcJson,"plan":$planJson,"plan_flipped":$planFlipped,"calib1":$c1%.3f,"bw1":$b1%.1f,"load1":$l%.2f}"""
    }.mkString(s"""{"metric":"total","value":$total,"unit":"sec",$health,"queries":{""",
        ",", s"""},"sf":"$sfDir"}""")
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else
      // targeted probes (BENCH_ONLY) still need their per-run gc/plan/
      // calib fields on disk for adjudication — never as
      // bench_full.json (a subset must not masquerade as the fleet
      // artifact), only where explicitly asked
      sys.env.get("BENCH_FULL_OUT").foreach(p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // inline map: slowest first, ms precision, hard char budget.
    // Budget shrunk 1400 -> 450 (r20 verdict #3): the whole printed
    // line must land inside a ~2000-char tail capture WITH room for
    // the health scalars and a possible CONTENDED warning; ~16 slowest
    // entries + omitted_sec keep the headline reconstructible, and
    // bench_full.json carries every per-query number at full precision.
    val parts = best.sortBy(-_._2)
      .map { case (k, v) => f""""$k":$v%.3f""" }
    val budget = 450
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = 0
    var full = false
    // prefix truncation, not a greedy filter: stop at the FIRST entry
    // that does not fit, so the kept set is exactly "the slowest N"
    for (p <- parts if !full) {
      if (len + p.length + 1 <= budget) { kept += p; len += p.length + 1 }
      else full = true
    }
    // the omitted (fastest) queries' united total makes the headline
    // reconstructible from the tail alone: total = shown + omitted_sec
    val omitted = parts.size - kept.size
    val omittedSec = best.sortBy(-_._2).drop(kept.size)
      .map(_._2).filter(_ >= 0).sum
    val extra =
      if (omitted > 0)
        f""","omitted_fast_queries":$omitted,"omitted_sec":$omittedSec%.3f,"full":"bench_full.json""""
      else ""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},$healthMini,"queries":${kept.mkString("{", ",", "}")},"sf":"$sfDir"$extra}""")
    wipeCkpt()
    spark.stop()
  }
}
