package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession

/** ~sf1 scale sweep: materializes a synthetic 10x replica of the sf0.1
  * tables and times the headline FULL-SCAN queries at both scales —
  * the sweep that catches AQE plan flips and broadcast-threshold
  * cliffs the sf0.1 numbers cannot see.
  *
  * {{{ sbt "runMain graft.tools.ScaleBench [sfDir] [K] [outDir]" }}}
  *
  * Replication preserves per-replica semantics so workloads scale
  * LINEARLY by construction (any superlinear wall-clock growth is an
  * operator/plan problem, not a data artifact):
  *  - fact keys are offset per replica (joins stay 1:1 with their
  *    replicated dimension rows; no cross-replica fan-out);
  *  - document tokens carry a replica prefix (the DedupBench recipe:
  *    replica vocabularies are disjoint, cross-replica Jaccard = 0);
  *  - embeddings get a deterministic per-replica SIGN PATTERN per
  *    dimension (cosine is scale-invariant, so scaling would be a
  *    no-op; sign flips keep within-replica geometry exactly and make
  *    cross-replica cosines near-orthogonal);
  *  - dimension tables (region/nation/supplier/part) stay as-is —
  *    at 100 TB the dims stay broadcast-sized while facts grow.
  *
  * Headline queries are the ones that scan a full fact table;
  * bounded-corpus verification queries (vec_id < 200 etc.) would not
  * scale with the input and are excluded. Only a measurement harness:
  * correctness is gated by the driver's sf0.01 oracle run.
  */
object ScaleBench {

  /** Full-table-scan queries worth scaling (name -> SparkEntry key). */
  val headline: Seq[String] = Seq(
    "q_agg_pricing", "q_topk_customers", "q_join_orders_customer",
    "q_join_outer", "q_window_pplimit", "q_window_lag",
    "q_asof_latest_order", "q_sessionize", "q_events_hourly",
    "q_session_window", "q_retention", "q_funnel",
    // r13 (r11 verdict item 7): the two remaining event-stream gates,
    // placed with their family. Sub-second-base caveat (PERF.md round
    // 13): q_funnel_windowed's RATIO is sweep-context-sensitive
    // (2.1x focused min-of-4, 2.3-4.0x in-sweep across r13 passes —
    // the sweep warms the base's cache and ages the heap under the
    // 10x run, same plan both ways); the stable evidence is the
    // absolute 10x wall (1.5-2.2 s) and the 100x entity leg
    // (per-unit 0.04, Scale100); each row's load1 is in the artifact
    "q_funnel_windowed", "q_sequence_match",
    // r13: rolling 7-day distinct via bitmap OR-merge — one event
    // scan; replica user offsets grow the id space 10x, so the
    // per-(day, bucket) blob frame (the only thing the window
    // fan-out touches) grows 10x while days stay fixed
    "q_rolling_distinct",
    "q_bm25", "q_span_dedup", "q_text_quality", "q_top_terms",
    // r14: the overlapping-window substring scrub (disjoint replica
    // vocabularies -> flagged set exactly 10x; the gram window is the
    // measured term) and the native winnow fingerprints (pure
    // scan-level projection since graft_winnow — linear by shape)
    "q_scrub_spans", "q_winnow",
    "q_normalize", "q_heavy_hitters", "q_dedup_exact", "q_lm_quality",
    // warehouse family (round 8) — the members whose WORK scales
    // linearly with the input. Excluded for fixture (not plan)
    // reasons: q_fuzzy_join (replicated customers duplicate names, so
    // the true match set itself grows quadratically across replicas);
    // q_pagerank / q_graph_components / q_graph_triangles (the
    // %1000-node modulus means replicas DENSIFY the fixed node set —
    // triangle counts grow ~cubically in density by graph math, not
    // by plan defect; see PERF.md round-8 warehouse notes).
    "q_skyline", "q_zorder_keys", "q_zorder3_keys", "q_scd2_history",
    "q_cdc_apply",
    // corpus statistics (round 8): disjoint replica vocabularies keep
    // unigram/bigram group counts linear; per-language window mass is
    // per-replica-linear too
    "q_collocations", "q_nucleus_topp",
    // round 9: full-events-scan MAD screen (two per-type percentiles +
    // broadcast stats). Excluded for fixture reasons: q_ewma_decay
    // (fixed user<50 slice — replica key offsets leave the slice at
    // base size); q_graph_bfs (the %1000-node modulus densifies the
    // fixed node set, same as the pagerank/components exclusion)
    "q_mad_outliers",
    // round 9 (cont.): full-scan additions. q_winsorize scans
    // lineitem; q_entropy_quality / q_vocab_encode / q_bpe_merges scan
    // documents (disjoint replica vocabularies keep counts per-replica
    // linear; the vocab/BPE tables grow x k but stay
    // vocabulary-sized); q_diverse_kcenter is k passes over the
    // replicated embeddings. Excluded for fixture reasons:
    // q_graph_label_prop / q_graph_hits / q_graph_kcore (%1000-node
    // densification, as above); q_stream_sessionize (bounded
    // user<100 replay slice)
    "q_winsorize", "q_entropy_quality", "q_vocab_encode",
    "q_bpe_merges", "q_diverse_kcenter",
    // round 9 (cont. 2): q_tpch_* are full fact joins against
    // replicated dims' offset keys (1:1 per replica); q_rank_transform
    // is the two-pass global selection over lineitem (the %997 sample
    // lands on different rows per replica — emission volume scales,
    // work stays two passes); q_event_transitions windows over
    // offset user ids (more small groups, same per-group size);
    // q_histogram_equidepth / q_dq_checks / q_drift_psi / q_pca_power
    // are full-scan + bounded-side-table shapes. Excluded for fixture
    // reasons: q_entity_resolution (replicated customer names repeat
    // across replicas, so the TRUE match set grows quadratically —
    // the q_fuzzy_join exclusion); q_stream_join* / q_stream_hourly /
    // q_stream_sessionize (bounded replay slices)
    "q_tpch_q3", "q_tpch_q5", "q_rank_transform",
    "q_event_transitions", "q_histogram_equidepth", "q_dq_checks",
    "q_drift_psi", "q_pca_power",
    // round 10: full-events-scan rolling drift (one pass to a
    // (period, bucket) frame). Excluded for fixture reasons:
    // q_containment (doc_id < 60 verification slice);
    // q_pagerank_personalized (%1000-node densification, as uniform);
    // q_stream_cdc (bounded replay slice)
    "q_drift_rolling_psi",
    // round 18 (r17 verdict #6): the hashed-n-gram classifier — train
    // is one explode+groupBy to a dim-bounded table, scoring is ONE
    // codegen'd expression, so near-linear is the expectation (the
    // _sub variant adds the char-gram fan-out, ~4x features/doc); and
    // the persisted-index certifications — the blob-vs-rescan curve
    // lives in PERF.md "Round-17 (cont. 3)", these rows make the
    // whole save/append/load/certify cycle regression-gated (each
    // runs its exact comparison legs too, so the row is certification
    // cost, not just index cost). q_screen_ingest_bloom stays out: its
    // file-stream replay harness (stage + checkpoint + restart) is
    // fixture, not plan.
    "q_quality_classifier", "q_quality_classifier_sub",
    "q_segment_distinct_inc", "q_seen_before_inc", "q_heavy_hitters_inc",
    "q_daily_inc_pipeline",
    // round 19 (r18 verdict #3): the PRODUCTION-shaped daily pipeline
    // (screen → single bank → blob profile, no certification twins) —
    // the blob-path prediction is a ~flat ratio dominated by the
    // linear per-day banking scans, vs the certification row's
    // exact-leg-dominated 1.63; and the per-segment exact histogram
    // face (one event scan into segments × bins rows)
    "q_daily_pipeline_prod", "q_value_profile_seg")

  /** Documents-only replica at factor k — the media/dedup families
    * derive everything from `documents`, so their high tiers (100x)
    * need none of the fact tables. Same disjoint-vocabulary recipe as
    * the full build. */
  def buildScaledDocs(spark: SparkSession, sfDir: String, k: Int,
                      outDir: String): Unit = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until k).map(i => base
        .withColumn("doc_id", col("doc_id") + i * 10000000L)
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " ", -1),
            t => concat(lit(s"r${i}_"), t)))))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
  }

  def buildScaled(spark: SparkSession, sfDir: String, k: Int,
                  outDir: String): Unit = {
    def read(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")

    // the linear-scaling-by-construction invariant depends on replica
    // key ranges NOT colliding — fail loudly if a base table ever
    // outgrows its offset stride instead of silently merging replicas
    def requireStride(t: String, key: String, stride: Long): Unit = {
      // max() over an empty table is null — surface that as a clear
      // message, not an NPE (an empty base table cannot collide)
      val mx = Option(read(t).agg(max(col(key))).collect()(0)
        .getAs[Number](0)).map(_.longValue()).getOrElse(-1L)
      require(mx < stride,
        s"$t.$key max $mx >= replica stride $stride — raise the stride")
    }
    requireStride("customer", "c_custkey", 100000000L)
    requireStride("orders", "o_orderkey", 1000000000L)
    requireStride("orders", "o_custkey", 100000000L)
    requireStride("lineitem", "l_orderkey", 1000000000L)
    requireStride("events", "event_id", 1000000000L)
    requireStride("events", "user_id", 100000000L)
    requireStride("documents", "doc_id", 10000000L)
    requireStride("embeddings", "vec_id", 10000000L)

    // dims: unchanged (broadcast-sized at every scale)
    Seq("region", "nation", "supplier", "part")
      .foreach(t => write(read(t), t, 1))

    def replicated(t: String)(f: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until k).map(i => f(read(t), i)).reduce(_ unionAll _)

    write(replicated("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + i * 100000000L)
    }, "customer", 8)
    write(replicated("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + i * 1000000000L)
        .withColumn("o_custkey", col("o_custkey") + i * 100000000L)
    }, "orders", 16)
    write(replicated("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * 1000000000L)
    }, "lineitem", 32)
    write(replicated("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + i * 1000000000L)
        .withColumn("user_id", col("user_id") + i * 100000000L)
    }, "events", 32)
    write(replicated("documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + i * 10000000L)
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " ", -1),
            t => concat(lit(s"r${i}_"), t))))
    }, "documents", 32)
    write(replicated("embeddings") { (df, i) =>
      val signs = typedlit((1 to 64).map(d =>
        if (graft.plans.VectorOps.planeComponent(7000 + i, d) > 0) 1.0f
        else -1.0f))
      df.withColumn("vec_id", col("vec_id") + i * 10000000L)
        .withColumn("embedding",
          zip_with(col("embedding"), signs, (x, s) => x * s))
    }, "embeddings", 32)
  }

  // Embedding near-dup is excluded from `headline` deliberately — two
  // measured reasons (PERF.md round 6 for the full numbers):
  //  1. its oracle config (3 planes = 8 buckets/table, right for the
  //     bounded 2k-vector gate corpus) has bucket size n/8, so pairs
  //     grow quadratically at fixed params: 364x wall at 10x data —
  //     planes must scale ~log2(n);
  //  2. at threshold 0.45 in 64 dims the TRUE pair set itself grows
  //     superlinearly (0.45 is ~3.6 sigma of generic cross-correlations,
  //     so a 10x corpus densifies: 18.6k verified pairs vs 1.4k
  //     linear) — a property of near-orthogonal thresholds, not of the
  //     plan. Here we measure the PRODUCTION regime instead: a real
  //     near-dup threshold (0.9) with corpus-sparse buckets (12
  //     planes, Hamming<=1 probing) must scale ~linearly.
  def dedupEmb(spark: SparkSession, dir: String): (Long, Double) = {
    val s = System.nanoTime()
    val n = graft.operators.Dedup.embeddingNearDups(
      spark.read.parquet(s"$dir/embeddings.parquet"),
      "vec_id", "embedding", threshold = 0.9,
      numPlanes = 12, tables = 8, probes = 1).count()
    (n, (System.nanoTime() - s) / 1e9)
  }

  // Media (binary-column) family over the FULL documents table — the
  // driver queries bound their ids to stay verify-sized, so the curve
  // is measured here instead: (a) container build + byte-level header
  // parse (codegen'd expression path), (b) real PNG encode + ImageIO
  // pixel decode (mapPartitions path). Both are per-row CPU with no
  // shuffle; anything superlinear is a plan problem.
  def mediaScale(spark: SparkSession, dir: String)
      : (Long, Double, Long, Double) = {
    import spark.implicits._
    import graft.operators.{ImageCodec, Multimodal}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val w = (col("doc_id") % 640 + 1).cast("int")
    val h = (col("doc_id") % 480 + 1).cast("int")
    val rate = (col("doc_id") % 8 * 4000 + 8000).cast("int")
    val ch = (col("doc_id") % 2 + 1).cast("int")
    val mts = ((col("doc_id") % 4 + 1) * lit(600)).cast("int")
    val dur = (mts * (col("doc_id") % 30 + 1)).cast("int")
    val bytes = when(col("doc_id") % 4 === 0, Multimodal.pngBytes(w, h))
      .when(col("doc_id") % 4 === 1, Multimodal.jpegBytes(w, h))
      .when(col("doc_id") % 4 === 2, Multimodal.wavBytes(rate, ch))
      .otherwise(Multimodal.mp4Bytes(w, h, mts, dur))
    val nMeta = docs.select(Multimodal.mediaMeta(bytes).as("m"))
      .filter(col("m.format").isNotNull).count()
    val tMeta = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val nFeat = docs.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val c = (id * 1234567 % 0xFFFFFF).toInt
          val f = ImageCodec.decodeFeatures(
            ImageCodec.encodePng(16, 16, c, c))
          if (f != null && f.length == 64) 1L else 0L
        }
      }.reduce(_ + _)
    (nMeta, tMeta, nFeat, (System.nanoTime() - t1) / 1e9)
  }

  // --- index-compaction row: a FIXED planted shape (D daily batches of
  // `perDay` rows, day 0 saved as the base index, days 1..D-1 appended
  // as `d<day>`), so the row is comparable across rounds regardless of
  // sfDir/k. PERF.md "Round-17 (cont. 3): the persisted-index contract,
  // measured" has the blob-load vs rescan curve this shape came from.

  /** One synthetic banked day. */
  def plantedDay(spark: SparkSession, perDay: Long, d: Int): DataFrame =
    spark.range(d * perDay, (d + 1) * perDay)
      .select(
        concat(lit("t"), pmod(col("id") * 2654435761L, lit(100000L)))
          .as("term"),
        pmod(col("id") * 40503L, lit(3000000L)).as("uid"),
        // heavy-tailed value stream for the quantile-sketch member —
        // pinning NO range is its whole point, so give it one a
        // HistIndex bin spec could not anticipate
        (pmod(col("id") * 69621L, lit(1000000L)).cast("double") *
          pmod(col("id") * 69621L, lit(1000000L)).cast("double") /
          lit(1e4)).as("v"))

  /** Build base + (days-1) deltas of the CMS, Bloom and quantile
    * families under `base`; returns (cmsPath, bloomPath, quantPath). */
  def buildIndexes(spark: SparkSession, base: String, perDay: Long,
                   days: Int): (String, String, String) = {
    import graft.operators.{BloomIndex, CmsIndex, QuantileIndex}
    val (cmsPath, bloomPath, quantPath) =
      (s"$base/cms", s"$base/bloom", s"$base/quant")
    def day(d: Int) = plantedDay(spark, perDay, d)
    CmsIndex.saveCmsIndex(day(0), col("term"), cmsPath)
    BloomIndex.saveBloomIndex(day(0), col("uid"), bloomPath,
      expectedItems = 3000000L)
    QuantileIndex.saveQuantileIndex(day(0), col("v"), quantPath)
    for (d <- 1 until days) {
      CmsIndex.appendCmsIndex(spark, cmsPath, day(d), col("term"), s"d$d")
      BloomIndex.appendBloomIndex(spark, bloomPath, day(d),
        col("uid"), s"d$d")
      QuantileIndex.appendQuantileIndex(spark, quantPath, day(d),
        col("v"), s"d$d")
    }
    (cmsPath, bloomPath, quantPath)
  }

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Compact-at-D + post-compaction-load seconds for one exact (CMS),
    * one idempotent (Bloom) and the quantile family, against
    * already-built index paths; compacted copies land under
    * `scratch`. */
  def compactionTimings(spark: SparkSession, cmsPath: String,
                        bloomPath: String, quantPath: String,
                        scratch: String): Seq[(String, Double)] = {
    import graft.operators.{BloomIndex, BloomJoin, CmsIndex, QuantileIndex}
    val todayKeys = spark.range(1000000)
      .select(pmod(col("id") * 48271L, lit(3000000L)).as("uid"))
    val (cmsC, bloomC, quantC) = (s"$scratch/cms_compact",
      s"$scratch/bloom_compact", s"$scratch/quant_compact")
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    Seq(
      "compact_cms" -> secs(CmsIndex.compactCmsIndex(spark, cmsPath, cmsC)),
      "load_cms_post" -> secs {
        val (sk, _) = CmsIndex.loadMergedSketch(spark, cmsC)
        noop(CmsIndex.estimateTerms(CmsIndex.loadCandidates(spark, cmsC), sk))
      },
      "compact_bloom" ->
        secs(BloomIndex.compactBloomIndex(spark, bloomPath, bloomC)),
      "load_bloom_post" -> secs {
        val (blob, _) = BloomIndex.loadMergedFilter(spark, bloomC)
        noop(todayKeys.filter(!BloomJoin.mightContain(blob, col("uid"))))
      },
      "compact_quant" ->
        secs(QuantileIndex.compactQuantileIndex(spark, quantPath, quantC)),
      "load_quant_post" -> secs(noop(
        QuantileIndex.quantiles(spark, quantC, Seq(0.5, 0.95, 0.99)))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val outDir = args.drop(2).headOption.getOrElse("/tmp/graft_sf1")
    // Focused-probe knobs (outlier pin-downs without the full sweep):
    //  SCALE_BENCH_ONLY=q_a,q_b  run only those headline queries (the
    //                            name index_compaction_d32 also runs
    //                            that row; naming no headline query
    //                            skips the k× build and the warm-ups)
    //  SCALE_BENCH_RUNS=3        min-of-N per (query, scale)
    //  SCALE_BENCH_SKIP_BUILD=1  reuse an existing outDir build
    //  SCALE_BENCH_MEDIA_K=100   extra documents-only tier for the
    //                            media family's 100x curve row
    val only = sys.env.get("SCALE_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val runsPer = sys.env.get("SCALE_BENCH_RUNS").map(_.toInt).getOrElse(1)
    val skipBuild = sys.env.get("SCALE_BENCH_SKIP_BUILD").contains("1")
    val mediaK = sys.env.get("SCALE_BENCH_MEDIA_K").map(_.toInt).getOrElse(0)
    val spark = GraftSession.getOrCreate("graft-scale-bench")
    spark.sparkContext.setLogLevel("WARN")

    val picked = headline.filter(n => only.forall(_.contains(n)))
    if (picked.nonEmpty) {
      val t0 = System.nanoTime()
      if (!skipBuild) buildScaled(spark, sfDir, k, outDir)
      println(f"[scale-bench] built ${k}x tables under $outDir in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")

      // warmup both scan paths
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      spark.read.parquet(s"$outDir/lineitem.parquet").count()
    }

    // per-row 1-min loadavg at query start (the Bench r11 discipline):
    // sub-second-base RATIOS are sweep-context-sensitive (PERF.md round
    // 13 — the sweep warms the base's cache and ages the heap under the
    // scaled run), so the artifact carries the context a future
    // adjudication needs instead of leaving it to be re-derived
    def load1: Double = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
    } catch { case _: Throwable => -1.0 }
    val qs = graft.SparkEntry.queries
    val rows = picked.map { name =>
      val fn = qs(name)
      val l = load1
      // noop-sink force, not count() (r14): count() lets Catalyst
      // eliminate unique-key left joins and prune output expressions,
      // under-measuring tail-heavy queries — see Bench.force
      def time(dir: String): Double = (1 to runsPer).map { _ =>
        val s = System.nanoTime()
        graft.Bench.force(fn(spark, dir))
        (System.nanoTime() - s) / 1e9
      }.min
      val base = time(sfDir)
      val scaled = time(outDir)
      val ratio = scaled / base
      println(f"[scale-bench] $name%-24s sf0.1=$base%7.2fs " +
        f"${k}x=$scaled%7.2fs ratio=$ratio%5.1f runs=$runsPer load1=$l%.1f")
      (name, base, scaled, ratio, l)
    }
    // Index-compaction regression row (r18 verdict #4): compact-at-D
    // cost + post-compaction load on the planted shape above at D=32
    // daily batches of 500k rows — compaction is blob-count work and
    // must stay seconds-flat like load.
    def compactRow: Seq[(String, Double)] = {
      val cbase = graft.WorkDir.fresh(spark, "scale_compact")
      val (cms, bloom, quant) = buildIndexes(spark, cbase, 500000L, 32)
      val t = compactionTimings(spark, cms, bloom, quant, cbase)
      println(t.map { case (k, v) => f"$k=$v%.2fs" }
        .mkString("[scale-bench] index_compaction_d32: ", " ", ""))
      t
    }
    if (only.isDefined) { // focused probe: stop after the named rows
      if (only.get.contains("index_compaction_d32")) compactRow
      spark.stop()
      return
    }
    val (nb, tb) = dedupEmb(spark, sfDir)
    val (ns, tsc) = dedupEmb(spark, outDir)
    println(f"[scale-bench] dedup_embedding prod-cfg(0.9,12,8,p1): " +
      f"sf0.1 pairs=$nb in $tb%.1f s | ${k}x pairs=$ns in $tsc%.1f s " +
      f"ratio=${tsc / tb}%.1f")
    val (mnb, mtb, fnb, ftb) = mediaScale(spark, sfDir)
    val (mns, mtsc, fns, ftsc) = mediaScale(spark, outDir)
    println(f"[scale-bench] multimodal_meta: sf0.1 rows=$mnb in $mtb%.1f s" +
      f" | ${k}x rows=$mns in $mtsc%.1f s ratio=${mtsc / mtb}%.1f")
    println(f"[scale-bench] multimodal_features: sf0.1 rows=$fnb in " +
      f"$ftb%.1f s | ${k}x rows=$fns in $ftsc%.1f s ratio=${ftsc / ftb}%.1f")
    // 100x tier for the media family (documents-only replica — the
    // fixtures derive everything from doc_id/text, so the fact tables
    // are dead weight at this tier). Measures LINEARITY, not overhead:
    // per-row CPU with zero shuffle must scale ~k on a fixed box.
    val media100 = if (mediaK <= 1) None else {
      val dir100 = s"$outDir-docs$mediaK"
      val tb0 = System.nanoTime()
      if (!(skipBuild && new java.io.File(s"$dir100/documents.parquet")
          .exists()))
        buildScaledDocs(spark, sfDir, mediaK, dir100)
      println(f"[scale-bench] built ${mediaK}x documents under $dir100 " +
        f"in ${(System.nanoTime() - tb0) / 1e9}%.1f s")
      val (mn1, mt1, fn1, ft1) = mediaScale(spark, dir100)
      println(f"[scale-bench] multimodal_meta@${mediaK}x: rows=$mn1 in " +
        f"$mt1%.1f s ratio_vs_base=${mt1 / mtb}%.1f (linear=$mediaK)")
      println(f"[scale-bench] multimodal_features@${mediaK}x: rows=$fn1 " +
        f"in $ft1%.1f s ratio_vs_base=${ft1 / ftb}%.1f (linear=$mediaK)")
      Some((mn1, mt1, fn1, ft1))
    }
    // Perceptual-signature SCREEN at scale: corpus index (every doc)
    // vs a 1/10th batch, banded (crossSignatureNearDups) against
    // multi-index hashing (crossSignatureNearDupsMih), both at the
    // realistic phash distance 8. Signatures are xxhash64-UNIFORM —
    // the worst case for bucket density (real phash corpora cluster
    // into dup groups; uniform spreads candidates maximally across
    // ~7-bit banded blocks) — with 10% of the batch planted one bit
    // from a corpus sig so output is non-trivial at every scale.
    // Expectation from the bucket arithmetic: banded candidates ~
    // 9*|corpus|*|batch|/2^7, MIH ~ 4*137*|corpus|*|batch|/2^16 —
    // ~8x apart; the curve makes the gap (and each path's own
    // linearity in corpus size at fixed batch fraction) measured
    // rather than argued.
    def sigScreen(dir: String): ((Long, Double), (Long, Double)) = {
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.select(col("doc_id").as("id"),
        xxhash64(col("doc_id")).as("sig"))
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000000L)).as("id"),
          when(col("doc_id") % 100 === 0,
            xxhash64(col("doc_id")).bitwiseXOR(
              expr("shiftleft(1L, cast(doc_id/100 % 64 as int))")))
            .otherwise(xxhash64(col("doc_id") + lit(7777777L))).as("sig"))
      def t(f: => Long): (Long, Double) = {
        val s0 = System.nanoTime()
        val n = f
        (n, (System.nanoTime() - s0) / 1e9)
      }
      (t(Dedup.crossSignatureNearDups(corpus, batch, 8).count()),
        t(Dedup.crossSignatureNearDupsMih(corpus, batch, 8).count()))
    }
    val sigTiers =
      (Seq("1x" -> sfDir, s"${k}x" -> outDir) ++
        (if (mediaK > 1) Seq(s"${mediaK}x" -> s"$outDir-docs$mediaK")
         else Nil))
        .map { case (tier, dir) =>
          val ((nb2, tb2), (nm2, tm2)) = sigScreen(dir)
          println(f"[scale-bench] sig_screen@$tier: banded pairs=$nb2 " +
            f"in $tb2%.1f s | mih pairs=$nm2 in $tm2%.1f s " +
            f"(same pair set expected: ${nb2 == nm2})")
          (tier, tb2, tm2)
        }

    val compactTimes = compactRow

    val worst = rows.maxBy(_._4)
    println(f"[scale-bench] SUMMARY k=$k queries=${rows.size} " +
      f"median_ratio=${rows.map(_._4).sorted.apply(rows.size / 2)}%.1f " +
      f"worst=${worst._1}:${worst._4}%.1f")
    val json = (rows.map { case (n, b, s, r, l) =>
      f""""$n":{"base":$b%.3f,"scaled":$s%.3f,"ratio":$r%.2f,"load1":$l%.2f}"""
    } :+ f""""dedup_embedding_prodcfg":{"base":$tb%.3f,"scaled":$tsc%.3f,"ratio":${tsc / tb}%.2f,"base_pairs":$nb,"scaled_pairs":$ns}"""
      :+ f""""multimodal_meta_full":{"base":$mtb%.3f,"scaled":$mtsc%.3f,"ratio":${mtsc / mtb}%.2f,"base_rows":$mnb,"scaled_rows":$mns}"""
      :+ f""""multimodal_features_full":{"base":$ftb%.3f,"scaled":$ftsc%.3f,"ratio":${ftsc / ftb}%.2f,"base_rows":$fnb,"scaled_rows":$fns}"""
      :++ sigTiers.map { case (tier, tb2, tm2) =>
        f""""sig_screen_$tier":{"banded":$tb2%.3f,"mih":$tm2%.3f}""" }
      :+ compactTimes.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString("\"index_compaction_d32\":{", ",", "}")
      :++ media100.toSeq.flatMap { case (mn1, mt1, fn1, ft1) => Seq(
        f""""multimodal_meta_${mediaK}x":{"base":$mtb%.3f,"scaled":$mt1%.3f,"ratio":${mt1 / mtb}%.2f,"rows":$mn1,"linear_k":$mediaK}""",
        f""""multimodal_features_${mediaK}x":{"base":$ftb%.3f,"scaled":$ft1%.3f,"ratio":${ft1 / ftb}%.2f,"rows":$fn1,"linear_k":$mediaK}""") })
      .mkString(s"""{"metric":"scale_curve","k":$k,"queries":{""", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get("scale_bench.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
