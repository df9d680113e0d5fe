package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BloomIndex, BloomJoin, CmsIndex, HistIndex, SketchOps}
import graft.sources.Tables

/** The persisted-index family COMPOSED (r17 verdict #3/#4): the
  * reference's daily cron — acquire → dedup-against-history → enrich →
  * profile (reference `daily_certstream_download.sh`,
  * `daily_all_upload.sh`) — re-expressed at the 100 TB shape, where
  * "history" is never a join side or a rescan but the KB/MB blobs the
  * three incremental indexes bank per day:
  *
  *  - [[graft.operators.BloomIndex]] — "seen before?" (the 25-day
  *    `comm -23` new-key gate),
  *  - [[graft.operators.SketchOps]] HLL — "how many distinct?" (the
  *    day's segment profile),
  *  - [[graft.operators.CmsIndex]] — "how frequent?" (the day's
  *    heavy-hitter profile).
  *
  * [[dailyIncPipeline]] runs the whole daily loop batch-side in ONE
  * gated query; [[screenIngestBloom]] runs the membership leg through
  * a REAL checkpointed file stream ([[graft.streaming.ScreenStream]]),
  * restart included. Both follow the `_inc` certification idiom
  * (q_seen_before_inc / q_segment_distinct_inc / q_heavy_hitters_inc):
  * exact legs are hash-gated as real columns the DuckDB oracle
  * replays closed-form; probabilistic legs are gated as derived
  * booleans (subset / envelope / bit-identity) the oracle pins TRUE. */
object PipelineQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.loadEventsTs(s, dir)

  /** (user_id, event_type, day) with the NULL exclusions every index
    * shares — the seenBeforeInc projection plus event_type. */
  private def keyedDays(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .filter(col("user_id").isNotNull && col("ets").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        datediff(to_date(col("ets")), lit("1970-01-01")).cast("long")
          .as("day"))

  /** Bloom capacity derived from the data — the single-sourced rule
    * ([[BloomIndex.derivedCapacity]], r18 verdict #3: the inline twin
    * here and in EventQueries.seenBeforeInc was the drift class the
    * IndexStore refactor exists to kill). */
  private def derivedCapacity(keys: DataFrame): Long =
    BloomIndex.derivedCapacity(keys, col("user_id"))

  /** One-scan discipline (r20 optimization round, guide §5/§8): every
    * pipeline row reads its event projection 5–20 times — calendar
    * split, per-index saves/appends, screen sides, exact legs,
    * fresh-twin rebuilds. A LAZY local checkpoint turns that into ONE
    * parquet scan + executor-local block re-reads; the row's first
    * action (typically the calendar-bounds collect or the base-index
    * save) materializes it, so no extra job is paid. At 100 TB this is
    * the difference between one full-table scan and twenty; locally it
    * removes the per-re-read scan cost from every downstream job. The
    * repo-standard fault-tolerance caveat applies (see
    * [[QueryOps.FunnelScan]]): executor loss cannot recompute local
    * checkpoint blocks — the daily batch simply re-runs, which is
    * exactly what the banking tags' replay idempotence certifies. */
  private def oneScan(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)

  /** Why the heavyweight query bodies below are wrapped in
    * [[QueryOps.withoutAqe]] (r20 optimization round): the eager
    * segment of a pipeline row — index saves/appends/loads and
    * bounded collects — is dozens of tiny actions whose every blob op
    * is scan → partial agg → 1-row write, a shape AQE cannot improve
    * at ANY scale (no skew possible, nothing to coalesce, the output
    * is one row), while each AQE query stage costs a full driver job
    * round-trip. The returned frame executes lazily AFTER the scope
    * restores the session conf, so the force-time joins keep AQE.
    * Measured boundary (r20 closing sweep): the four HistIndex rows
    * (value_profile/quantiles × inc/seg) ran 15-30% SLOWER inside the
    * scope — their per-seg histogram aggs/loads are the one lifecycle
    * shape where AQE's tiny-shuffle coalescing nets out positive — so
    * they keep AQE; the Bloom/HLL/CMS/quantile-sketch rows keep the
    * scope (measured -0.1 to -1.2 s each at the same box-hour). */

  /** THE FLAGSHIP COMPOSITION — one simulated daily run against
    * yesterday's persisted state, all three indexes, one gated result:
    *
    * history = the first two day-terciles (banked as base + delta
    * `h1`, the multi-day index shape); "today" = the last tercile.
    * Steps, in the cron's order:
    *
    *  1. ACQUIRE/DEDUP: today's distinct (event_type, user) pairs are
    *     screened against the LOADED history Bloom blob — new-user
    *     gating without a history join (the `comm -23` analog).
    *  2. BANK: today appends to all three indexes as `delta_today` —
    *     TWICE, because the daily cron's replay story (tag overwrite)
    *     is part of what this query certifies.
    *  3. PROFILE from blobs: per event type seen today — distinct
    *     users from the loaded HLL index, frequency estimate from the
    *     loaded CMS index, both now INCLUDING today.
    *
    * Gate per event type: `events_today` and `new_users` are EXACT
    * hash-gated columns (the oracle replays the calendar split and the
    * anti-join closed-form); `screen_subset_ok` (every Bloom-new user
    * is exactly-new — no false negatives), `screen_fpr_ok` (users the
    * screen missed to false positives sit inside the 3σ binomial
    * envelope of the stored fpp), `hll_inc_eq_fresh` (loaded base+
    * deltas estimate ≡ fresh single-pass estimate, bit-identical),
    * `hll_envelope_ok` (3σ composite envelope vs exact distinct),
    * `cms_bound_ok` (estimate brackets the exact count within eps·N),
    * and `cms_blob_identical` (merged blobs byte-equal to a fresh
    * full-stream sketch) pin every probabilistic leg. */
  def dailyIncPipeline(s: SparkSession, dir: String): DataFrame =
    QueryOps.withoutAqe(s) {
    val src = oneScan(keyedDays(s, dir))
    // deterministic calendar split (the seenBeforeInc arithmetic,
    // replayed closed-form by the oracle); 1-row bounded collect
    val b = src.agg(min("day"), max("day")).collect()(0)
    val (minD, maxD) = (b.getLong(0), b.getLong(1))
    val histEnd = minD + 2L * (maxD - minD + 1L) / 3L
    val histMid = minD + (histEnd - minD) / 2L
    val hist = src.filter(col("day") < histEnd)
    val today = src.filter(col("day") >= histEnd)

    val base = graft.WorkDir.fresh(s, "dailyinc")
    val bloomPath = s"$base/bloom"
    val hllPath = s"$base/hll"
    val cmsPath = s"$base/cms"
    val fpp = 0.01
    val capacity = derivedCapacity(src)

    // ---- yesterday's state: two history batches per index ----
    val h0 = hist.filter(col("day") < histMid)
    val h1 = hist.filter(col("day") >= histMid)
    BloomIndex.saveBloomIndex(h0, col("user_id"), bloomPath,
      expectedItems = capacity, fpp = fpp)
    BloomIndex.appendBloomIndex(s, bloomPath, h1, col("user_id"), "h1")
    SketchOps.saveSketchIndex(h0, col("event_type"), col("user_id"),
      hllPath)
    SketchOps.appendSketchIndex(s, hllPath, h1, col("event_type"),
      col("user_id"), "h1")
    CmsIndex.saveCmsIndex(h0, col("event_type"), cmsPath)
    CmsIndex.appendCmsIndex(s, cmsPath, h1, col("event_type"), "h1")

    // ---- 1. the new-user screen runs BEFORE today is banked:
    // loadMergedFilter collects the blob eagerly, so the later appends
    // cannot leak into it ----
    val (histBlob, _) = BloomIndex.loadMergedFilter(s, bloomPath)
    val todayPairs = today.select("event_type", "user_id").distinct()
    val histUsers = hist.select("user_id").distinct()
      .withColumn("__h", lit(1))
    val screened = todayPairs
      .withColumn("bloom_new",
        !BloomJoin.mightContain(histBlob, col("user_id")))
      .join(histUsers, Seq("user_id"), "left")
      .withColumn("exact_new", col("__h").isNull)
    val screenStats = screened.groupBy("event_type").agg(
      // Bloom-new but exactly-seen would be a FALSE NEGATIVE: zero,
      // deterministically
      sum(when(col("bloom_new") && !col("exact_new"), 1L).otherwise(0L))
        .as("bad_new"),
      sum(when(col("exact_new"), 1L).otherwise(0L)).as("new_users"),
      // exactly-new users the screen dropped = false positives
      sum(when(col("exact_new") && !col("bloom_new"), 1L).otherwise(0L))
        .as("missed"))

    // ---- 2. bank today — twice: tag overwrite IS the replay story ----
    BloomIndex.appendBloomIndex(s, bloomPath, today, col("user_id"),
      "today")
    BloomIndex.appendBloomIndex(s, bloomPath, today, col("user_id"),
      "today")
    SketchOps.appendSketchIndex(s, hllPath, today, col("event_type"),
      col("user_id"), "today")
    SketchOps.appendSketchIndex(s, hllPath, today, col("event_type"),
      col("user_id"), "today")
    CmsIndex.appendCmsIndex(s, cmsPath, today, col("event_type"), "today")
    CmsIndex.appendCmsIndex(s, cmsPath, today, col("event_type"), "today")

    // ---- 3. profile from blobs (now history + today) ----
    val hllLoaded = SketchOps.loadSketchIndex(s, hllPath)
      .select(col("seg").as("event_type"),
        SketchOps.estimate(col("sk")).as("n_inc"))
    val hllFresh = SketchOps
      .segmentSketches(src, col("event_type"), col("user_id"))
      .select(col("seg").as("event_type"),
        SketchOps.estimate(col("sk")).as("n_fresh"))
    val (cmsBlob, cmsN) = CmsIndex.loadMergedSketch(s, cmsPath)
    val cmsFreshPath = s"$base/cms_fresh"
    CmsIndex.saveCmsIndex(src, col("event_type"), cmsFreshPath)
    val (cmsFresh, cmsFreshN) = CmsIndex.loadMergedSketch(s, cmsFreshPath)
    val cmsEq = java.util.Arrays.equals(cmsBlob, cmsFresh) &&
      cmsN == cmsFreshN
    val cmsBound = CmsIndex.epsBound(CmsIndex.DefaultEps, cmsN)
    val cmsEst = CmsIndex
      .estimateTerms(CmsIndex.loadCandidates(s, cmsPath), cmsBlob)
      .select(col("term").as("event_type"), col("est"))

    val todayStats = today.groupBy("event_type")
      .agg(count(lit(1)).as("events_today"))
    val exact = src.groupBy("event_type").agg(
      countDistinct(col("user_id")).as("n_exact"),
      count(lit(1)).as("cnt_exact"))
    val tol = SketchOps.compositeEnvelope3Sigma(12)

    todayStats
      .join(screenStats, Seq("event_type"))
      .join(hllLoaded, Seq("event_type"))
      .join(hllFresh, Seq("event_type"))
      .join(exact, Seq("event_type"))
      .join(cmsEst, Seq("event_type"), "left")
      .select(col("event_type"), col("events_today"), col("new_users"),
        (col("bad_new") === 0L).as("screen_subset_ok"),
        (col("missed") <= ceil(lit(fpp) * col("new_users") +
          lit(3.0) * sqrt(lit(fpp) * col("new_users"))) + lit(3L))
          .as("screen_fpr_ok"),
        (col("n_inc") === col("n_fresh")).as("hll_inc_eq_fresh"),
        (abs(col("n_inc") - col("n_exact")) <=
          greatest(lit(2.0), lit(tol) * col("n_exact")))
          .as("hll_envelope_ok"),
        coalesce(col("est") >= col("cnt_exact") &&
          col("est") <= col("cnt_exact") + lit(cmsBound), lit(false))
          .as("cms_bound_ok"),
        lit(cmsEq).as("cms_blob_identical"))
      .orderBy("event_type")
  }

  val dailyIncPipelineSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    datediff('day', DATE '1970-01-01',
      |             CAST(date_trunc('day', ts) AS DATE)) AS day
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL),
      |b AS (SELECT min(day) AS mn, max(day) AS mx FROM e),
      |s AS (SELECT mn + 2 * (mx - mn + 1) // 3 AS hist_end FROM b),
      |today AS (SELECT * FROM e, s WHERE day >= hist_end),
      |hist_users AS (SELECT DISTINCT user_id FROM e, s
      |               WHERE day < hist_end),
      |tp AS (SELECT DISTINCT event_type, user_id FROM today),
      |nu AS (SELECT t.event_type,
      |    CAST(count(*) FILTER (WHERE h.user_id IS NULL) AS BIGINT)
      |      AS new_users
      |  FROM tp t LEFT JOIN hist_users h USING (user_id) GROUP BY 1),
      |et AS (SELECT event_type, CAST(count(*) AS BIGINT) AS events_today
      |  FROM today GROUP BY 1)
      |SELECT et.event_type, et.events_today, nu.new_users,
      |  true AS screen_subset_ok, true AS screen_fpr_ok,
      |  true AS hll_inc_eq_fresh, true AS hll_envelope_ok,
      |  true AS cms_bound_ok, true AS cms_blob_identical
      |FROM et JOIN nu USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** The membership leg of the daily loop through a REAL checkpointed
    * file-source stream ([[graft.streaming.ScreenStream]]): history
    * (first two day-terciles) is banked as Bloom blobs; "today"'s rows
    * replay in two files with a stream RESTART between them — each
    * micro-batch screens against the blobs (base + every delta banked
    * so far, the prior batch's included) and banks itself, so
    * cross-batch dedup flows through the INDEX, not streaming state.
    *
    * Gate, per distinct today-user: `exact_new` is the EXACT
    * hash-gated column (user unseen in history — oracle replays the
    * anti-join); `no_false_new` (an emitted user is always exactly-new
    * AND not emitted by an earlier batch — Bloom has no false
    * negatives, and the delta banked by batch k screens batch k+1),
    * `emitted_once_ok` (no user emitted twice across the restart
    * boundary), and `fpr_ok` (new users the screen missed to false
    * positives stay inside the 3σ binomial envelope) pin the
    * probabilistic side. ScreenStreamSpec certifies the same module
    * equal to the batch anti-join EXACTLY on a collision-free
    * fixture, replay and crash-shaped replay included. */
  def screenIngestBloom(s: SparkSession, dir: String): DataFrame =
    QueryOps.withoutAqe(s) {
    import graft.streaming.Replay.stageFile
    val src = oneScan(keyedDays(s, dir).select("user_id", "day"))
    val b = src.agg(min("day"), max("day")).collect()(0)
    val (minD, maxD) = (b.getLong(0), b.getLong(1))
    val histEnd = minD + 2L * (maxD - minD + 1L) / 3L
    val histMid = minD + (histEnd - minD) / 2L
    // today splits at its own midpoint: file 1 | restart | file 2
    val todayMid = histEnd + (maxD - histEnd + 1L) / 2L

    val base = graft.WorkDir.fresh(s, "bloomscreen")
    val indexPath = s"$base/idx"
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val fpp = 0.01
    val capacity = derivedCapacity(src)
    BloomIndex.saveBloomIndex(src.filter(col("day") < histMid),
      col("user_id"), indexPath, expectedItems = capacity, fpp = fpp)
    BloomIndex.appendBloomIndex(s, indexPath,
      src.filter(col("day") >= histMid && col("day") < histEnd),
      col("user_id"), "h1")

    def screen(): Unit =
      graft.streaming.ScreenStream.screenNewKeys(
        s.readStream.schema("user_id LONG, day LONG").parquet(in),
        "user_id", indexPath, ckpt, out)
        .awaitTermination()
    val today = src.filter(col("day") >= histEnd)
    stageFile(today.filter(col("day") < todayMid), in, "f1.parquet")
    screen()
    stageFile(today.filter(col("day") >= todayMid), in, "f2.parquet")
    screen() // restart: checkpoint resumes, only the new file runs

    // emissions across all batches, with per-user emission counts
    val emitted = s.read.parquet(s"$out/new")
      .groupBy("user_id").agg(count(lit(1)).as("n_emit"))
    val histUsers = src.filter(col("day") < histEnd)
      .select("user_id").distinct().withColumn("__h", lit(1))
    val joined = today.select("user_id").distinct()
      .join(histUsers, Seq("user_id"), "left")
      .join(emitted, Seq("user_id"), "left")
      .select(col("user_id"), col("__h").isNull.as("exact_new"),
        coalesce(col("n_emit"), lit(0L)).as("n_emit"))
    val stats = joined.agg(
      sum(when(col("exact_new"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("exact_new") && col("n_emit") === 0L, 1L)
        .otherwise(0L)).as("missed"),
      max(col("n_emit")).as("max_emit"))
    joined.crossJoin(broadcast(stats))
      .select(col("user_id"), col("exact_new"),
        (col("n_emit") === 0L || (col("exact_new") && col("n_emit") === 1L))
          .as("no_false_new"),
        (col("max_emit") <= 1L).as("emitted_once_ok"),
        (col("missed") <= ceil(lit(fpp) * col("n_new") +
          lit(3.0) * sqrt(lit(fpp) * col("n_new"))) + lit(3L))
          .as("fpr_ok"))
      .orderBy("user_id")
  }

  val screenIngestBloomSql: String =
    """WITH e AS (SELECT user_id,
      |    datediff('day', DATE '1970-01-01',
      |             CAST(date_trunc('day', ts) AS DATE)) AS day
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL),
      |b AS (SELECT min(day) AS mn, max(day) AS mx FROM e),
      |s AS (SELECT mn + 2 * (mx - mn + 1) // 3 AS hist_end FROM b),
      |today AS (SELECT DISTINCT user_id FROM e, s WHERE day >= hist_end),
      |hist AS (SELECT DISTINCT user_id FROM e, s WHERE day < hist_end)
      |SELECT t.user_id, (h.user_id IS NULL) AS exact_new,
      |  true AS no_false_new, true AS emitted_once_ok, true AS fpr_ok
      |FROM today t LEFT JOIN hist h USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** The EXACT tier of the persisted-index family under the FULL hash
    * gate ([[graft.operators.HistIndex]] — fixed-bin value-distribution
    * profiles): the event stream splits deterministically in three
    * (event_id mod 3), the base third is saved, the second appends
    * TWICE under one delta tag (bin-count merge is ADDITION — the
    * overwrite carries the replay burden, the CMS caveat), the third
    * plays "today" and also appends twice, and the LOADED profile —
    * (bin, cnt, cum) — must equal the closed-form full-history
    * histogram ROW FOR ROW. No envelope, no bit-identity argument:
    * counter addition over a pinned bin spec is exact, so this is the
    * one index whose entire output the DuckDB oracle replays
    * bit-for-bit. Spec (lo=0, width=50, nBins=16) covers the
    * testdata value range at every shipped SF with the overflow bin
    * (not a drop) catching any excursion. */
  def valueProfileInc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HistIndex
    val src = oneScan(ev(s, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("value")))
    val path = s"${graft.WorkDir.fresh(s, "histidx")}/idx"
    val third = pmod(col("event_id"), lit(3L))
    HistIndex.saveHistIndex(src.filter(third === 0), col("value"), path,
      lo = 0.0, width = 50.0, nBins = 16)
    HistIndex.appendHistIndex(s, path, src.filter(third === 1),
      col("value"), "d1")
    HistIndex.appendHistIndex(s, path, src.filter(third === 1),
      col("value"), "d1")
    HistIndex.appendHistIndex(s, path, src.filter(third === 2),
      col("value"), "today")
    HistIndex.appendHistIndex(s, path, src.filter(third === 2),
      col("value"), "today")
    HistIndex.loadHistogram(s, path)
      // bin-spec-bounded frame (≤ nBins + 2 rows), whitelisted in
      // WindowAuditSpec
      .withColumn("cum", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.orderBy("bin")))
      .orderBy("bin")
  }

  val valueProfileIncSql: String =
    """WITH e AS (SELECT CASE WHEN value < 0 THEN CAST(-1 AS BIGINT)
      |      WHEN value >= 800 THEN CAST(16 AS BIGINT)
      |      ELSE CAST(floor(value / 50.0) AS BIGINT) END AS bin
      |    FROM events WHERE value IS NOT NULL),
      |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt
      |      FROM e GROUP BY 1)
      |SELECT bin, cnt,
      |  CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
      |FROM h ORDER BY bin""".stripMargin

  /** Quantiles FROM the persisted histogram index — still exact in
    * the only sense a binned structure can be (the true q-quantile
    * provably lies in [lo_edge, hi_edge), the bin containing rank
    * ceil(q·n)), and still fully closed-form for the oracle. The
    * index is built base + replayed delta + compacted-path-equivalent
    * appends exactly like q_value_profile_inc; the read is
    * [[graft.operators.HistIndex.quantileBins]] — (nBins + 2) × |qs|
    * rows of work, never an event scan, the 100 TB shape of "what is
    * the p95 of yesterday's values". */
  def valueQuantilesInc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HistIndex
    val src = oneScan(ev(s, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("value")))
    val path = s"${graft.WorkDir.fresh(s, "histq")}/idx"
    val third = pmod(col("event_id"), lit(3L))
    HistIndex.saveHistIndex(src.filter(third === 0), col("value"), path,
      lo = 0.0, width = 50.0, nBins = 16)
    HistIndex.appendHistIndex(s, path, src.filter(third === 1),
      col("value"), "d1")
    HistIndex.appendHistIndex(s, path, src.filter(third === 1),
      col("value"), "d1")
    HistIndex.appendHistIndex(s, path, src.filter(third === 2),
      col("value"), "today")
    HistIndex.quantileBins(s, path, Seq(0.25, 0.5, 0.9, 0.95))
      .orderBy("q")
  }

  val valueQuantilesIncSql: String =
    """WITH e AS (SELECT CASE WHEN value < 0 THEN CAST(-1 AS BIGINT)
      |      WHEN value >= 800 THEN CAST(16 AS BIGINT)
      |      ELSE CAST(floor(value / 50.0) AS BIGINT) END AS bin
      |    FROM events WHERE value IS NOT NULL),
      |h AS (SELECT bin, count(*) AS cnt FROM e GROUP BY 1),
      |c AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM h),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.95]) AS DOUBLE)
      |       AS q),
      |sel AS (SELECT q, min(bin) AS bin FROM qs, c, n
      |        WHERE cum >= ceil(q * n) GROUP BY q)
      |SELECT s.q, s.bin,
      |  CASE WHEN s.bin = -1 THEN CAST('-infinity' AS DOUBLE)
      |       ELSE CAST(s.bin * 50.0 AS DOUBLE) END AS lo_edge,
      |  CASE WHEN s.bin = 16 THEN CAST('infinity' AS DOUBLE)
      |       ELSE CAST((s.bin + 1) * 50.0 AS DOUBLE) END AS hi_edge,
      |  CAST(ceil(s.q * n.n) AS BIGINT) AS rank, n.n
      |FROM sel s, n ORDER BY q""".stripMargin

  /** The per-SEGMENT face of the exact histogram index
    * ([[graft.operators.HistIndex.loadHistogramSeg]] — r18 verdict #7:
    * the HLL index's `seg` shape applied to the exact family): one
    * value profile per event type, built base + replayed delta +
    * today exactly like q_value_profile_inc, and the ENTIRE output —
    * (event_type, bin, cnt, per-segment cum) — replayed row-for-row
    * by the oracle. The 100 TB read: per-segment p95s from
    * segments × (nBins + 2) rows of blob work, never an event scan. */
  def valueProfileSeg(s: SparkSession, dir: String): DataFrame = {
    val src = oneScan(ev(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"), col("value")))
    val path = s"${graft.WorkDir.fresh(s, "histseg")}/idx"
    val third = pmod(col("event_id"), lit(3L))
    HistIndex.saveHistIndexSeg(src.filter(third === 0),
      col("event_type"), col("value"), path,
      lo = 0.0, width = 50.0, nBins = 16)
    HistIndex.appendHistIndexSeg(s, path, src.filter(third === 1),
      col("event_type"), col("value"), "d1")
    HistIndex.appendHistIndexSeg(s, path, src.filter(third === 1),
      col("event_type"), col("value"), "d1")
    HistIndex.appendHistIndexSeg(s, path, src.filter(third === 2),
      col("event_type"), col("value"), "today")
    HistIndex.appendHistIndexSeg(s, path, src.filter(third === 2),
      col("event_type"), col("value"), "today")
    HistIndex.loadHistogramSeg(s, path)
      .withColumnRenamed("seg", "event_type")
      // segment-keyed window: ≤ nBins + 2 rows PER PARTITION by the
      // bin-spec bound, partition count = segment count
      .withColumn("cum", sum("cnt").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("bin")))
      .orderBy("event_type", "bin")
  }

  val valueProfileSegSql: String =
    """WITH e AS (SELECT event_type,
      |      CASE WHEN value < 0 THEN CAST(-1 AS BIGINT)
      |      WHEN value >= 800 THEN CAST(16 AS BIGINT)
      |      ELSE CAST(floor(value / 50.0) AS BIGINT) END AS bin
      |    FROM events WHERE value IS NOT NULL
      |      AND event_type IS NOT NULL),
      |h AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
      |      FROM e GROUP BY 1, 2)
      |SELECT event_type, bin, cnt,
      |  CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
      |       AS BIGINT) AS cum
      |FROM h ORDER BY event_type, bin""".stripMargin

  /** Per-segment quantiles FROM the per-segment histogram index —
    * the read that completes the seg face's profile story: "the p95
    * of yesterday's values PER event type" answered from segments ×
    * (nBins + 2) × |qs| rows of blob work, never an event scan. Same
    * build as q_value_profile_seg (base + replayed delta + today);
    * same closed-form oracle as q_value_quantiles_inc, partitioned:
    * per (event_type, q), the bin containing rank ceil(q·n_seg), with
    * ±infinity edges on the underflow/overflow bins. */
  def valueQuantilesSeg(s: SparkSession, dir: String): DataFrame = {
    val src = oneScan(ev(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"), col("value")))
    val path = s"${graft.WorkDir.fresh(s, "histqseg")}/idx"
    val third = pmod(col("event_id"), lit(3L))
    HistIndex.saveHistIndexSeg(src.filter(third === 0),
      col("event_type"), col("value"), path,
      lo = 0.0, width = 50.0, nBins = 16)
    HistIndex.appendHistIndexSeg(s, path, src.filter(third === 1),
      col("event_type"), col("value"), "d1")
    HistIndex.appendHistIndexSeg(s, path, src.filter(third === 1),
      col("event_type"), col("value"), "d1")
    HistIndex.appendHistIndexSeg(s, path, src.filter(third === 2),
      col("event_type"), col("value"), "today")
    HistIndex.quantileBinsSeg(s, path, Seq(0.25, 0.5, 0.9, 0.95))
      .withColumnRenamed("seg", "event_type")
      .orderBy("event_type", "q")
  }

  val valueQuantilesSegSql: String =
    """WITH e AS (SELECT event_type,
      |      CASE WHEN value < 0 THEN CAST(-1 AS BIGINT)
      |      WHEN value >= 800 THEN CAST(16 AS BIGINT)
      |      ELSE CAST(floor(value / 50.0) AS BIGINT) END AS bin
      |    FROM events WHERE value IS NOT NULL
      |      AND event_type IS NOT NULL),
      |h AS (SELECT event_type, bin, count(*) AS cnt FROM e
      |      GROUP BY 1, 2),
      |c AS (SELECT event_type, bin,
      |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
      |          AS cum FROM h),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e
      |      GROUP BY 1),
      |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.95]) AS DOUBLE)
      |       AS q),
      |sel AS (SELECT c.event_type, q, min(bin) AS bin
      |        FROM qs, c JOIN n USING (event_type)
      |        WHERE cum >= ceil(q * n) GROUP BY 1, 2)
      |SELECT s.event_type, s.q, s.bin,
      |  CASE WHEN s.bin = -1 THEN CAST('-infinity' AS DOUBLE)
      |       ELSE CAST(s.bin * 50.0 AS DOUBLE) END AS lo_edge,
      |  CASE WHEN s.bin = 16 THEN CAST('infinity' AS DOUBLE)
      |       ELSE CAST((s.bin + 1) * 50.0 AS DOUBLE) END AS hi_edge,
      |  CAST(ceil(s.q * n.n) AS BIGINT) AS rank, n.n
      |FROM sel s JOIN n USING (event_type)
      |ORDER BY event_type, q""".stripMargin

  /** The BANKING face gated (r18 verdict "what's missing" #3 — every
    * sibling face has a CORRECTNESS row; this one was spec-only):
    * ALL FIVE indexes maintained through a REAL checkpointed file
    * stream ([[graft.streaming.ProfileStream]]) with a RESTART between
    * the two files, from EMPTY day-zero bases (the quantile member
    * joined in r20 — its `quant_bound_ok` gate checks the streamed
    * sketch's accounted rank bound against exact ranks plus exact n).
    * The exact leg is the
    * [[graft.operators.HistIndex]] member: the streamed value profile
    * — (bin, cnt, cum) — must equal the closed-form full-history
    * histogram row-for-row, which the oracle replays bit-for-bit.
    * The probabilistic legs ride as oracle-pinned booleans at each
    * family's strongest gate: `bloom_blob_identical` (streamed
    * OR-merge byte-equal to a fresh single-pass filter),
    * `hll_inc_eq_fresh` (per-segment composite estimates equal a
    * direct sketch of the full input), `cms_blob_identical` (streamed
    * counter addition byte-equal to a fresh full-stream sketch).
    * ProfileStreamSpec additionally certifies the at-least-once
    * replay (re-banking a batch under its own tag is a no-op). */
  def streamProfileInc(s: SparkSession, dir: String): DataFrame =
    QueryOps.withoutAqe(s) {
    import graft.streaming.Replay.stageFile
    val src = oneScan(ev(s, dir)
      .filter(col("user_id").isNotNull && col("ets").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("value"),
        datediff(to_date(col("ets")), lit("1970-01-01")).cast("long")
          .as("day")))
    val b = src.agg(min("day"), max("day")).collect()(0)
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0) + 1L) / 2L

    val base = graft.WorkDir.fresh(s, "profstream")
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val bloomPath = s"$base/bloom"; val hllPath = s"$base/hll"
    val cmsPath = s"$base/cms"; val histPath = s"$base/hist"
    val quantPath = s"$base/quant"
    val fpp = 0.01
    val capacity = derivedCapacity(src)
    // day-zero init: EMPTY bases pin the geometry every streamed
    // delta banks at (part of the ProfileStream contract)
    val empty = src.limit(0)
    BloomIndex.saveBloomIndex(empty, col("user_id"), bloomPath,
      expectedItems = capacity, fpp = fpp)
    SketchOps.saveSketchIndex(empty, col("event_type"), col("user_id"),
      hllPath)
    CmsIndex.saveCmsIndex(empty, col("event_type"), cmsPath)
    HistIndex.saveHistIndex(empty, col("value"), histPath,
      lo = 0.0, width = 50.0, nBins = 16)
    graft.operators.QuantileIndex.saveQuantileIndex(empty, col("value"),
      quantPath)

    def bank(): Unit =
      graft.streaming.ProfileStream.bankStream(
        s.readStream
          .schema("user_id LONG, event_type STRING, value DOUBLE, day LONG")
          .parquet(in),
        "user_id", "event_type", "value",
        bloomPath, hllPath, cmsPath, histPath, ckpt, Some(quantPath))
        .awaitTermination()
    stageFile(src.filter(col("day") < mid), in, "f1.parquet")
    bank()
    stageFile(src.filter(col("day") >= mid), in, "f2.parquet")
    bank() // restart: checkpoint resumes, only the new file banks

    // Bloom: byte-identity vs a fresh one-pass filter of the full input
    val (bInc, _) = BloomIndex.loadMergedFilter(s, bloomPath)
    BloomIndex.saveBloomIndex(src, col("user_id"), s"$base/bloom_fresh",
      expectedItems = capacity, fpp = fpp)
    val (bFresh, _) = BloomIndex.loadMergedFilter(s, s"$base/bloom_fresh")
    val bloomEq = java.util.Arrays.equals(bInc, bFresh)
    // HLL: per-segment composite estimates equal a direct sketch
    val hllInc = SketchOps.loadSketchIndex(s, hllPath)
      .select(col("seg"), SketchOps.estimate(col("sk")).as("e_inc"))
    val hllFresh = SketchOps
      .segmentSketches(src, col("event_type"), col("user_id"))
      .select(col("seg"), SketchOps.estimate(col("sk")).as("e_fresh"))
    val hllEq = hllInc.join(hllFresh, Seq("seg"), "full")
      .agg(sum(when(coalesce(col("e_inc") === col("e_fresh"),
        lit(false)), 0L).otherwise(1L)).as("bad"))
      .collect()(0).getLong(0) == 0L
    // CMS: byte-identity vs a fresh full-stream sketch
    val (cInc, cIncN) = CmsIndex.loadMergedSketch(s, cmsPath)
    CmsIndex.saveCmsIndex(src, col("event_type"), s"$base/cms_fresh")
    val (cFresh, cFreshN) = CmsIndex.loadMergedSketch(s, s"$base/cms_fresh")
    val cmsEq = java.util.Arrays.equals(cInc, cFresh) && cIncN == cFreshN
    // Quantile (r20 — the seventh family through the same stream):
    // the streamed sketch's accounted rank bound must hold against
    // exact ranks of the full input (tie-safe interval gate), and its
    // n must equal the exact non-null count — one scan certifies both
    val quantOk = {
      import graft.operators.QuantileIndex
      val qsk = QuantileIndex.loadMergedSketch(s, quantPath)
      val vals = src.filter(col("value").isNotNull)
      val qs2 = Seq(0.5, 0.95)
      val est = qs2.map(q =>
        (math.ceil(q * qsk.n).toLong,
          qsk.valueAtRank(math.ceil(q * qsk.n).toLong)))
      val aggs = est.flatMap { case (_, v) => Seq(
        sum(when(col("value") < lit(v), 1L).otherwise(0L)),
        sum(when(col("value") <= lit(v), 1L).otherwise(0L)))
      } :+ count(lit(1))
      val r = vals.agg(aggs.head, aggs.tail: _*).collect()(0)
      val boundOk = est.zipWithIndex.forall { case ((target, _), i) =>
        r.getLong(2 * i) - qsk.rankBound <= target &&
          target <= r.getLong(2 * i + 1) + qsk.rankBound
      }
      boundOk && qsk.n == r.getLong(2 * est.size)
    }

    HistIndex.loadHistogram(s, histPath)
      // bin-spec-bounded frame (≤ nBins + 2 rows), whitelisted shape
      .withColumn("cum", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.orderBy("bin")))
      .select(col("bin"), col("cnt"), col("cum"),
        lit(bloomEq).as("bloom_blob_identical"),
        lit(hllEq).as("hll_inc_eq_fresh"),
        lit(cmsEq).as("cms_blob_identical"),
        lit(quantOk).as("quant_bound_ok"))
      .orderBy("bin")
  }

  val streamProfileIncSql: String =
    """WITH e AS (SELECT CASE WHEN value < 0 THEN CAST(-1 AS BIGINT)
      |      WHEN value >= 800 THEN CAST(16 AS BIGINT)
      |      ELSE CAST(floor(value / 50.0) AS BIGINT) END AS bin
      |    FROM events WHERE value IS NOT NULL
      |      AND user_id IS NOT NULL AND ts IS NOT NULL
      |      AND event_type IS NOT NULL),
      |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt
      |      FROM e GROUP BY 1)
      |SELECT bin, cnt,
      |  CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
      |  true AS bloom_blob_identical, true AS hll_inc_eq_fresh,
      |  true AS cms_blob_identical, true AS quant_bound_ok
      |FROM h ORDER BY bin""".stripMargin

  /** The approximate-quantile index member under the certification
    * gate ([[graft.operators.QuantileIndex]] — r19 verdict #4: the
    * completion of the index family for value profiles where NO bin
    * spec can be pinned a priori; [[graft.operators.HistIndex]]
    * coarsens out-of-range values into under/overflow bins silently,
    * this sketch needs no range at all). Build mirrors
    * q_value_quantiles_inc: base third, delta third appended TWICE
    * under one tag (replay overwrite — insertion is not idempotent),
    * today's third appended once; then the read path is certified
    * three ways per quantile:
    *
    *  - `q`, `rank` (= ceil(q·n)) and `n` are EXACT hash-gated
    *    columns the oracle replays closed-form;
    *  - `rank_in_bound`: the TRUE rank of the estimated quantile
    *    value (one conditional-aggregate scan, the only event-sized
    *    certification leg) sits within the sketch's OWN accounted
    *    worst-case bound — deterministic arithmetic, not a
    *    probability, so the oracle pins TRUE;
    *  - `compact_identical`: a copy-on-write compaction answers
    *    bit-for-bit equal (estimate AND bound), the family's
    *    lifecycle gate. */
  def valueQuantilesApprox(s: SparkSession, dir: String): DataFrame =
    QueryOps.withoutAqe(s) {
    import graft.operators.QuantileIndex
    val src = oneScan(ev(s, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("value")))
    val base = graft.WorkDir.fresh(s, "qsketch")
    val path = s"$base/idx"; val cPath = s"$base/idx_compact"
    val third = pmod(col("event_id"), lit(3L))
    QuantileIndex.saveQuantileIndex(src.filter(third === 0),
      col("value"), path)
    QuantileIndex.appendQuantileIndex(s, path, src.filter(third === 1),
      col("value"), "d1")
    QuantileIndex.appendQuantileIndex(s, path, src.filter(third === 1),
      col("value"), "d1")
    QuantileIndex.appendQuantileIndex(s, path, src.filter(third === 2),
      col("value"), "today")
    val qs = Seq(0.25, 0.5, 0.9, 0.95)
    // blob-sized reads; the frames are |qs| = 4 rows
    val est = QuantileIndex.quantiles(s, path, qs).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    QuantileIndex.compactQuantileIndex(s, path, cPath)
    val estC = QuantileIndex.quantiles(s, cPath, qs).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(4)))
      .sortBy(_._1)
    // ONE scan certifies all four estimates — tie-safe interval gate:
    // count(< v) − bound ≤ target ≤ count(≤ v) + bound (the rank of a
    // VALUE is an interval when values repeat)
    val rankAggs = est.flatMap { case (q, v, _, _, _) => Seq(
      sum(when(col("value") < lit(v), 1L).otherwise(0L)).as(s"lo_$q"),
      sum(when(col("value") <= lit(v), 1L).otherwise(0L)).as(s"hi_$q"))
    }
    val trueRanks = src.agg(rankAggs.head, rankAggs.tail: _*).collect()(0)
    import s.implicits._
    est.zipWithIndex.map { case ((q, v, rank, n, bound), i) =>
      val rLo = trueRanks.getLong(2 * i)
      val rHi = trueRanks.getLong(2 * i + 1)
      val (_, vC, boundC) = estC(i)
      (q, rank, n,
        rLo - bound <= rank && rank <= rHi + bound,
        java.lang.Double.compare(v, vC) == 0 && bound == boundC)
    }.toSeq
      .toDF("q", "rank", "n", "rank_in_bound", "compact_identical")
      .orderBy("q")
  }

  val valueQuantilesApproxSql: String =
    """WITH e AS (SELECT value FROM events WHERE value IS NOT NULL),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.95]) AS DOUBLE)
      |       AS q)
      |SELECT q, CAST(ceil(q * n.n) AS BIGINT) AS rank, n.n,
      |  true AS rank_in_bound, true AS compact_identical
      |FROM qs, n ORDER BY q""".stripMargin

  /** PRODUCTION-shaped daily pipeline (r18 verdict #3 — a bench-only
    * twin of [[dailyIncPipeline]]): screen → SINGLE bank → profile
    * from blobs, with none of the certification harness (no double
    * appends, no fresh-sketch twins, no exact countDistinct legs, no
    * history anti-join). This is the plan a deployment actually runs
    * daily, so it is the row the 10× sweep should grade: history
    * stays KB/MB blobs, today is scanned once for the screen + once
    * per banked index, and the profile reads blob-count-sized state.
    *
    * ORACLE-GATED since r20 (r19 verdict #1 — this was the gate
    * table's only `err: no_oracle` cell): the deterministic projection
    * (`event_type`, `events_today`, `new_users`) is hash-gated — the
    * oracle replays the calendar split and the anti-join closed-form —
    * and every probabilistic leg rides as a derived boolean the oracle
    * pins TRUE, the q_daily_inc_pipeline idiom. What stays
    * production-only vs the certification twin: ONE bank per index (no
    * replay double-appends), NO fresh-sketch identity twins, NO blob
    * byte-equality legs — the exact columns the gate adds (history
    * distinct users, per-type exact counts) are linear scans that keep
    * the row's 10× scaling shape. */
  def dailyPipelineProd(s: SparkSession, dir: String): DataFrame =
    QueryOps.withoutAqe(s) {
    val src = oneScan(keyedDays(s, dir))
    val b = src.agg(min("day"), max("day")).collect()(0)
    val (minD, maxD) = (b.getLong(0), b.getLong(1))
    val histEnd = minD + 2L * (maxD - minD + 1L) / 3L
    val histMid = minD + (histEnd - minD) / 2L
    val hist = src.filter(col("day") < histEnd)
    val today = src.filter(col("day") >= histEnd)

    val base = graft.WorkDir.fresh(s, "dailyprod")
    val bloomPath = s"$base/bloom"; val hllPath = s"$base/hll"
    val cmsPath = s"$base/cms"
    val capacity = derivedCapacity(src)

    // yesterday's state (exists on disk in production; building it
    // here is the same per-batch banking work, kept for self-
    // containment)
    val h0 = hist.filter(col("day") < histMid)
    val h1 = hist.filter(col("day") >= histMid)
    BloomIndex.saveBloomIndex(h0, col("user_id"), bloomPath,
      expectedItems = capacity, fpp = 0.01)
    BloomIndex.appendBloomIndex(s, bloomPath, h1, col("user_id"), "h1")
    SketchOps.saveSketchIndex(h0, col("event_type"), col("user_id"),
      hllPath)
    SketchOps.appendSketchIndex(s, hllPath, h1, col("event_type"),
      col("user_id"), "h1")
    CmsIndex.saveCmsIndex(h0, col("event_type"), cmsPath)
    CmsIndex.appendCmsIndex(s, cmsPath, h1, col("event_type"), "h1")

    // 1. screen against the pre-bank blob — NO history join in the
    // production path; the exact side below exists only to certify it
    val fpp = 0.01
    val (histBlob, _) = BloomIndex.loadMergedFilter(s, bloomPath)
    val todayPairs = today.select("event_type", "user_id").distinct()
    val histUsers = hist.select("user_id").distinct()
      .withColumn("__h", lit(1))
    val screened = todayPairs
      .withColumn("bloom_new",
        !BloomJoin.mightContain(histBlob, col("user_id")))
      .join(histUsers, Seq("user_id"), "left")
      .withColumn("exact_new", col("__h").isNull)
    val screenStats = screened.groupBy("event_type").agg(
      sum(when(col("bloom_new") && !col("exact_new"), 1L).otherwise(0L))
        .as("bad_new"),
      sum(when(col("exact_new"), 1L).otherwise(0L)).as("new_users"),
      sum(when(col("exact_new") && !col("bloom_new"), 1L).otherwise(0L))
        .as("missed"))
    // 2. bank today ONCE (the certification twin banks twice to prove
    // replay; production replays only on failure)
    BloomIndex.appendBloomIndex(s, bloomPath, today, col("user_id"),
      "today")
    SketchOps.appendSketchIndex(s, hllPath, today, col("event_type"),
      col("user_id"), "today")
    CmsIndex.appendCmsIndex(s, cmsPath, today, col("event_type"), "today")
    // 3. profile from blobs (history + today); the exact legs
    // (countDistinct / count per type) certify the blob reads without
    // any fresh-sketch rebuild
    val hllLoaded = SketchOps.loadSketchIndex(s, hllPath)
      .select(col("seg").as("event_type"),
        SketchOps.estimate(col("sk")).as("n_users_est"))
    val (cmsBlob, cmsN) = CmsIndex.loadMergedSketch(s, cmsPath)
    val cmsBound = CmsIndex.epsBound(CmsIndex.DefaultEps, cmsN)
    val cmsEst = CmsIndex
      .estimateTerms(CmsIndex.loadCandidates(s, cmsPath), cmsBlob)
      .select(col("term").as("event_type"), col("est").as("freq_est"))
    val exact = src.groupBy("event_type").agg(
      countDistinct(col("user_id")).as("n_exact"),
      count(lit(1)).as("cnt_exact"))
    val tol = SketchOps.compositeEnvelope3Sigma(12)
    today.groupBy("event_type").agg(count(lit(1)).as("events_today"))
      .join(screenStats, Seq("event_type"))
      .join(hllLoaded, Seq("event_type"))
      .join(exact, Seq("event_type"))
      .join(cmsEst, Seq("event_type"), "left")
      .select(col("event_type"), col("events_today"), col("new_users"),
        (col("bad_new") === 0L).as("screen_subset_ok"),
        (col("missed") <= ceil(lit(fpp) * col("new_users") +
          lit(3.0) * sqrt(lit(fpp) * col("new_users"))) + lit(3L))
          .as("screen_fpr_ok"),
        (abs(col("n_users_est") - col("n_exact")) <=
          greatest(lit(2.0), lit(tol) * col("n_exact")))
          .as("hll_envelope_ok"),
        coalesce(col("freq_est") >= col("cnt_exact") &&
          col("freq_est") <= col("cnt_exact") + lit(cmsBound), lit(false))
          .as("cms_bound_ok"))
      .orderBy("event_type")
  }

  val dailyPipelineProdSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    datediff('day', DATE '1970-01-01',
      |             CAST(date_trunc('day', ts) AS DATE)) AS day
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL),
      |b AS (SELECT min(day) AS mn, max(day) AS mx FROM e),
      |s AS (SELECT mn + 2 * (mx - mn + 1) // 3 AS hist_end FROM b),
      |today AS (SELECT * FROM e, s WHERE day >= hist_end),
      |hist_users AS (SELECT DISTINCT user_id FROM e, s
      |               WHERE day < hist_end),
      |tp AS (SELECT DISTINCT event_type, user_id FROM today),
      |nu AS (SELECT t.event_type,
      |    CAST(count(*) FILTER (WHERE h.user_id IS NULL) AS BIGINT)
      |      AS new_users
      |  FROM tp t LEFT JOIN hist_users h USING (user_id) GROUP BY 1),
      |et AS (SELECT event_type, CAST(count(*) AS BIGINT) AS events_today
      |  FROM today GROUP BY 1)
      |SELECT et.event_type, et.events_today, nu.new_users,
      |  true AS screen_subset_ok, true AS screen_fpr_ok,
      |  true AS hll_envelope_ok, true AS cms_bound_ok
      |FROM et JOIN nu USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** Rows-only members (no closed DuckDB form) — empty since r20:
    * q_daily_pipeline_prod graduated to the oracle gate. */
  val rowsOnly: Map[String, (SparkSession, String) => DataFrame] = Map.empty

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_daily_inc_pipeline" -> (dailyIncPipeline _, dailyIncPipelineSql),
    "q_daily_pipeline_prod" -> (dailyPipelineProd _, dailyPipelineProdSql),
    "q_screen_ingest_bloom" -> (screenIngestBloom _, screenIngestBloomSql),
    "q_value_profile_inc" -> (valueProfileInc _, valueProfileIncSql),
    "q_value_profile_seg" -> (valueProfileSeg _, valueProfileSegSql),
    "q_stream_profile_inc" -> (streamProfileInc _, streamProfileIncSql),
    "q_value_quantiles_inc" -> (valueQuantilesInc _, valueQuantilesIncSql),
    "q_value_quantiles_seg" -> (valueQuantilesSeg _, valueQuantilesSegSql),
    "q_value_quantiles_approx" ->
      (valueQuantilesApprox _, valueQuantilesApproxSql))
}
