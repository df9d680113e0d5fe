package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession

/** 100× scale leg for the round-9 operator families (verdict r10 item
  * 1): every "scale-safe" grade in the r9 audit rested on 10× evidence
  * plus plan reading — this buys the measurement at two decades.
  *
  * {{{ sbt "runMain graft.tools.Scale100 [sfDir] [k] [outDir]" }}}
  * Knobs: SCALE100_RUNS=N (min-of-N, default 2),
  * SCALE100_SKIP_BUILD=1 (reuse an existing outDir build).
  *
  * Fixture discipline — replicas must scale the TRUE workload
  * linearly, so each family gets the replication that preserves its
  * per-replica semantics (the ScaleBench recipe, extended to the two
  * families that r9's 10× sweep had to exclude for fixture reasons):
  *
  *  - lineitem / documents: the standard offset-key / prefixed-token
  *    replicas ([[ScaleBench.buildScaled]] recipe) — feeds the
  *    OrderStats two-pass selection (q_winsorize,
  *    q_histogram_equidepth), GlobalRank (q_rank_transform), and the
  *    BPE broadcast-vocab encode (q_bpe_encode_docs).
  *  - graph: the driver queries derive edges by `node % 1000`, so fact
  *    replicas DENSIFY a fixed 1000-node set (triangle/community math
  *    grows superlinearly by graph theory, not plan defect — the r9
  *    exclusion). Here replicas offset BOTH endpoints by i*1000:
  *    100 disjoint copies of the base graph — node count and edge
  *    count scale exactly ×k, per-replica structure identical, so the
  *    checkpoint-cadence iteration cost is the only variable.
  *  - entity resolution: raw name replicas repeat identical names, so
  *    the TRUE match set grows quadratically across replicas (the r9
  *    exclusion). Here names get a per-replica 4-char repetition-code
  *    prefix c1c1c2c2 — any two distinct codes are Hamming ≥ 2, and
  *    equal-length strings at Levenshtein 1 must be Hamming 1, so NO
  *    cross-replica pair can pass the lev ≤ 1 verify: the true match
  *    set is exactly k × the per-replica set. Blocking-key explosion
  *    (deletion-neighborhood and sorted-neighborhood both) is measured
  *    against a genuinely linear ground truth.
  */
object Scale100 {

  /** Per-replica 4-char repetition code: (c1, c2) ∈ 10×10 symbols,
    * emitted c1c1c2c2 — pairwise Hamming ≥ 2 ⇒ pairwise lev ≥ 2. */
  private def code(i: Int): String = {
    val a = ('a' + i / 10).toChar
    val b = ('a' + i % 10).toChar
    s"$a$a$b$b"
  }

  def build(spark: SparkSession, sfDir: String, k: Int,
            outDir: String): Unit = {
    def read(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(df, i)).reduce(_ unionAll _)

    ScaleBench.buildScaledDocs(spark, sfDir, k, outDir)
    rep(read("lineitem")) { (df, i) =>
        df.withColumn("l_orderkey", col("l_orderkey") + i * 1000000000L)
      }.repartition(64).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")

    // events: offset keys per replica (the ScaleBench recipe) — feeds
    // the sequence-match leg, whose scaling variable is ENTITIES
    // (100x users, per-user sequences identical per replica)
    rep(read("events")) { (df, i) =>
        df.withColumn("event_id", col("event_id") + i * 1000000000L)
          .withColumn("user_id", col("user_id") + i * 100000000L)
      }.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")

    // disjoint graph replicas at the two sparsities the gates use
    def edges(every: Int): DataFrame = read("events")
      .filter(col("event_id") % every === 0)
      .select((col("user_id") % 1000).as("src"),
        ((col("user_id") * 31 + col("event_id") * 17) % 1000).as("dst"))
    for (every <- Seq(3, 11)) {
      rep(edges(every)) { (df, i) =>
          df.select((col("src") + i * 1000L).as("src"),
            (col("dst") + i * 1000L).as("dst"))
        }.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/edges$every.parquet")
    }

    rep(read("customer").filter(col("c_custkey") % 5 === 0)) { (df, i) =>
        df.select((col("c_custkey") + i * 100000000L).as("cid"),
          concat(lit(code(i) + "_"), col("c_name")).as("c_name"))
      }.repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/er_customers.parquet")

    // embeddings: the ScaleBench sign-pattern recipe (cosine is
    // scale-invariant; per-replica sign flips keep within-replica
    // geometry exact and push cross-replica cosines near zero)
    rep(read("embeddings")) { (df, i) =>
        val signs = typedlit((1 to 64).map(dd =>
          if (graft.plans.VectorOps.planeComponent(7000 + i, dd) > 0) 1.0f
          else -1.0f))
        df.withColumn("vec_id", col("vec_id") + i * 10000000L)
          .withColumn("embedding",
            zip_with(col("embedding"), signs, (x, sgn) => x * sgn))
      }.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val outDir = args.drop(2).headOption.getOrElse("/tmp/graft_sf100")
    val runs = sys.env.get("SCALE100_RUNS").map(_.toInt).getOrElse(2)
    val skipBuild = sys.env.get("SCALE100_SKIP_BUILD").contains("1")
    val spark = GraftSession.getOrCreate("graft-scale100")
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    if (!skipBuild) build(spark, sfDir, k, outDir)
    println(f"[scale100] built ${k}x fixtures under $outDir in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.read.parquet(s"$outDir/lineitem.parquet").count() // warm scans

    def time(f: => Long): (Long, Double) = (1 to runs).map { _ =>
      val s0 = System.nanoTime()
      val n = f
      (n, (System.nanoTime() - s0) / 1e9)
    }.minBy(_._2)

    val only = sys.env.get("SCALE100_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def on(name: String): Boolean = only.forall(_.contains(name))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Double, Double)]
    def record(name: String, base: Double, scaled: Double): Unit = {
      val r = scaled / base
      out += ((name, base, scaled, r))
      println(f"[scale100] $name%-26s base=$base%7.2fs ${k}x=$scaled%8.2fs" +
        f" ratio=$r%6.1f per_unit=${r / k}%5.2f (linear=$k)")
    }

    // --- OrderStats / GlobalRank / BPE / event operators via the
    // driver queries. The events-replica legs all scale ENTITIES
    // (100x users from the replica offsets, per-entity event streams
    // unchanged): q_sequence_match's entity shuffle + per-group
    // regex, q_funnel_windowed's one-scan checkpoint + entity-keyed
    // step joins (its 10x RATIO is sweep-context-noisy at a
    // sub-second base — this leg is the clean measurement), and
    // q_rolling_distinct's per-(day, bucket) blob frame (the id
    // space, and with it the frame, grows 100x at fixed days).
    // q_scrub_spans (r14): the replica-prefixed token vocabularies
    // share zero cross-replica grams, so the flagged set — and with
    // it every post-filter stage — is exactly k x the base; the
    // measured variable is the corpus-token gram-window shuffle, the
    // operator's suffix-array-equivalent cost term. ---
    // forcing action: noop-sink write (graft.Bench.force), NOT count()
    // — a count() lets Catalyst eliminate unique-key left joins and
    // prune aggregate/projection expressions, so tail-heavy legs
    // under-measure (r14: q_scrub_spans "cost" 0.48 s at 100x under
    // count() because the whole gram window was optimized away; the
    // forced run costs 16.6 s)
    // q_temperature_resample / q_nucleus_topp (r16): the doc replicas
    // keep lang and n_chars, so each language stratum grows exactly
    // x k with an identical length distribution — the measured
    // variables are the salted two-stage top-k (k_s = sqrt(k*n) per
    // stratum) and the value-class prefix pass (class frame CONSTANT
    // at x k rows; only the nucleus-sized tie-rank leg scales)
    val qs = graft.SparkEntry.queries
    for (q <- Seq("q_winsorize", "q_histogram_equidepth",
        "q_rank_transform", "q_bpe_encode_docs",
        "q_sequence_match", "q_funnel_windowed",
        "q_rolling_distinct", "q_scrub_spans",
        "q_temperature_resample", "q_nucleus_topp") if on(q)) {
      val fn = qs(q)
      record(q, time { graft.Bench.force(fn(spark, sfDir)); 0L }._2,
        time { graft.Bench.force(fn(spark, outDir)); 0L }._2)
    }

    // --- segment overlap scaled by ID SPACE (r12 verdict item 4):
    // fixed 4M event rows over 5 segments; the id universe grows
    // 10^6 -> 10^8, multiplying the (seg, bucket) bitmap frame 100x
    // while the scan term stays constant — and flipping the adaptive
    // wire format from dense (~35k ids/bucket at 10^6) to sparse
    // (~520 ids/bucket at 10^8), certifying the r12 encoding's memory
    // claim at exactly the regime it targets. Wire-size stats feed
    // PERF.md's sparse-vs-dense memory row. ---
    if (on("segment_overlap_idspace")) {
      import graft.operators.BitmapOps
      def segDf(idSpace: Long): DataFrame = spark.range(4000000L)
        .select((col("id") % 5).cast("string").as("seg"),
          pmod(xxhash64(col("id")), lit(idSpace)).as("uid"))
      def overlap(idSpace: Long): Long = BitmapOps
        .segmentOverlap(segDf(idSpace), col("seg"), col("uid")).count()
      // three decades of id space: dense (10^6), sparse (10^8), and
      // near-empty buckets (10^9 — ids thinner than one per bucket,
      // the blob floor where the tag + a few offsets is the whole row)
      for (sp <- Seq(1000000L, 100000000L, 1000000000L)) {
        val r = BitmapOps
          .segmentBitmaps(segDf(sp), col("seg"), col("uid"))
          .agg(count(lit(1)).as("rows"), avg(length(col("bm"))).as("avg"),
            max(length(col("bm"))).as("mx"),
            sum(length(col("bm"))).as("tot"))
          .head()
        println(f"[scale100] segment_overlap wire @ idspace=$sp%9d: " +
          f"${r.getLong(0)}%6d (seg,bucket) rows, avg blob " +
          f"${r.getDouble(1)}%8.1f B, max ${r.getInt(2)}%5d B, total " +
          f"${r.getLong(3) / 1024.0}%9.1f KiB")
      }
      record("segment_overlap_idspace",
        time(overlap(1000000L))._2, time(overlap(100000000L))._2)
    }

    // --- per-segment histogram face scaled by SEGMENT COUNT (r19
    // verdict #7): q_value_profile_seg is flat at 10x EVENTS (1.04 —
    // the scan term dominates); the face's OTHER axis is segments,
    // because the blob frame is segments x (nBins + 2) rows. Fixed 4M
    // events, segments 40 -> 4000: the banking scans are identical,
    // so the timed READ isolates the blob-frame term — the claim
    // "per-segment p95s cost segments x bins blob work" measured at
    // 100x the segment universe. ---
    if (on("hist_seg_100x_segments")) {
      import graft.operators.HistIndex
      def segEvents(nSegs: Int): DataFrame = spark.range(4000000L)
        .select(
          concat(lit("s"), pmod(col("id") * 2654435761L,
            lit(nSegs.toLong))).as("seg"),
          pmod(col("id") * 37L, lit(800L)).cast("double").as("v"),
          pmod(col("id"), lit(3L)).as("third"))
      def buildIdx(nSegs: Int): String = {
        val path = graft.WorkDir.fresh(spark, s"scale100_histseg_$nSegs")
        val df = segEvents(nSegs)
        HistIndex.saveHistIndexSeg(df.filter(col("third") === 0),
          col("seg"), col("v"), path, lo = 0.0, width = 50.0, nBins = 16)
        HistIndex.appendHistIndexSeg(spark, path,
          df.filter(col("third") === 1), col("seg"), col("v"), "d1")
        HistIndex.appendHistIndexSeg(spark, path,
          df.filter(col("third") === 2), col("seg"), col("v"), "today")
        path
      }
      def readSeg(path: String): Long = {
        graft.Bench.force(
          HistIndex.loadHistogramSeg(spark, path)
            .withColumn("cum", sum("cnt").over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("seg").orderBy("bin"))))
        0L
      }
      val p40 = buildIdx(40); val p4000 = buildIdx(4000)
      record("hist_seg_100x_segments",
        time(readSeg(p40))._2, time(readSeg(p4000))._2)
    }

    // --- graph iteration at 100x nodes (disjoint replicas) ---
    def baseEdges(every: Int): DataFrame = spark.read
      .parquet(s"$sfDir/events.parquet")
      .filter(col("event_id") % every === 0)
      .select((col("user_id") % 1000).as("src"),
        ((col("user_id") * 31 + col("event_id") * 17) % 1000).as("dst"))
    def scaledEdges(every: Int): DataFrame =
      spark.read.parquet(s"$outDir/edges$every.parquet")
    // graph legs force the full per-node output (count() would prune
    // the final label/score projections — the iterations' internal
    // checkpoints run either way, but the last round's agg would not)
    if (on("graph_label_prop")) record("graph_label_prop",
      time { graft.Bench.force(
        graft.operators.LabelProp.run(baseEdges(11), 3)); 0L }._2,
      time { graft.Bench.force(
        graft.operators.LabelProp.run(scaledEdges(11), 3)); 0L }._2)
    if (on("graph_hits")) record("graph_hits",
      time { graft.Bench.force(
        graft.operators.Hits.run(baseEdges(3).distinct(), 2)); 0L }._2,
      time { graft.Bench.force(
        graft.operators.Hits.run(scaledEdges(3).distinct(), 2)); 0L }._2)
    if (on("graph_kcore")) record("graph_kcore",
      time { graft.Bench.force(
        graft.operators.KCore.peel(baseEdges(3), 5, 6)); 0L }._2,
      time { graft.Bench.force(
        graft.operators.KCore.peel(scaledEdges(3), 5, 6)); 0L }._2)

    // --- entity resolution at a linearly-scaled true match set ---
    def erDelKey(c: DataFrame): Long = {
      val left = c.select(col("cid").as("id_a"), col("c_name").as("name_a"))
      val right = c.select(col("cid").as("id_b"), col("c_name").as("name_b"))
      val pairs = graft.operators.FuzzyJoin.levJoin(left, "id_a", "name_a",
          right, "id_b", "name_b", k = 1)
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      graft.operators.Dedup.nearDupClusters(pairs).count()
    }
    def erSnb(c: DataFrame): Long = {
      val pairs = graft.operators.SortedNeighborhood
        .pairs(c, "cid", "c_name", w = 5)
        .filter(levenshtein(col("key_a"), col("key_b")) <= 1)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
      graft.operators.Dedup.nearDupClusters(pairs).count()
    }
    val erBase = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey").as("cid"), col("c_name"))
    val erScaled = spark.read.parquet(s"$outDir/er_customers.parquet")
    if (on("entity_resolution")) {
      val (bn, bt) = time(erDelKey(erBase))
      val (sn, st) = time(erDelKey(erScaled))
      println(s"[scale100] er_delkey clusters: base=$bn scaled=$sn " +
        s"(linear check: ${sn == k * bn})")
      record("entity_resolution", bt, st)
    }
    if (on("entity_resolution_snb")) {
      val (bn2, bt2) = time(erSnb(erBase))
      val (sn2, st2) = time(erSnb(erScaled))
      println(s"[scale100] er_snb clusters: base=$bn2 scaled=$sn2")
      record("entity_resolution_snb", bt2, st2)
    }

    // --- round-10 operators: containment, DBSCAN, incremental CC ---
    // containment: disjoint replica vocabularies -> zero cross-replica
    // gram sharing -> candidates linear by construction
    def containment(dir: String): Long =
      graft.operators.Dedup.containmentPairs(
        spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", col("text"), k = 1, minContainMicro = 600000L,
        maxGramDf = 30L).count()
    if (on("containment")) record("containment",
      time(containment(sfDir))._2, time(containment(outDir))._2)
    // DBSCAN in the PRODUCTION LSH regime: threshold 0.9, 8 tables,
    // 1 probe, and PLANES FROM THE PLANNER (LshPlan encodes the r10
    // lesson: planesFor(n, 1) = round(log2 n) → 12 at the 5k base, 19
    // at 500k — per-table buckets stay ~corpus-sparse at both scales;
    // holding 12 planes at 100x multiplies candidates ~100x by bucket
    // math and exhausted this box's spill space, which requireFit now
    // rejects up front)
    def dbscan(dir: String): Long = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val planes = graft.operators.LshPlan.planesFor(emb.count(), 1L)
      graft.operators.LshPlan.requireFit(planes, emb.count())
      graft.operators.DensityCluster.dbscanCosine(
        emb, "vec_id", "embedding", threshold = 0.9, minPts = 2,
        numPlanes = planes, tables = 8, probes = 1).count()
    }
    if (on("dbscan_prodcfg")) record("dbscan_prodcfg",
      time(dbscan(sfDir))._2, time(dbscan(outDir))._2)
    // incremental components: at 100x, fold a 99-edge bridge batch
    // (merging all replicas) into the persisted labelling — the
    // incremental path must cost ~the BATCH, the full recompute the
    // corpus; both measured on the same 100x graph
    if (on("cc_incremental")) {
      import spark.implicits._
      val big = spark.read.parquet(s"$outDir/edges11.parquet")
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("id_a"),
          greatest(col("src"), col("dst")).as("id_b"))
        .distinct()
      val oldLabels = graft.operators.Dedup.nearDupClusters(big)
        .localCheckpoint(true)
      val bridge = (0 until k - 1)
        .map(i => (i * 1000L, (i + 1) * 1000L)).toDF("id_a", "id_b")
      val (_, tFull) = time(graft.operators.Dedup.nearDupClusters(
        big.unionByName(bridge)).count())
      val (_, tInc) = time(graft.operators.Dedup
        .nearDupClustersIncremental(oldLabels, bridge).count())
      out += (("cc_full_recompute_100x", tFull, tFull, 1.0))
      out += (("cc_incremental_100x", tInc, tInc, tInc / tFull))
      println(f"[scale100] cc at ${k}x: full=$tFull%.2fs " +
        f"incremental=$tInc%.2fs speedup=${tFull / tInc}%.1fx")
    }

    // --- round-11 legs: streaming CDC state vs KEY CARDINALITY, and
    // the rolling-PSI (period, bucket) frame vs PERIOD COUNT ---
    // CDC: state is one row per live key, so the scaling variable is
    // keys, not changes. Each key gets 2 changes; odd keys go idle on
    // day 2 (evicted by the 5-day retention at the day-21 flush), even
    // keys refresh on day 20 (live) — the live set is exactly half the
    // keys, checked at both scales, so eviction is measured doing real
    // work at 100x keys rather than certifying an empty path.
    if (on("stream_cdc_keys")) {
      import graft.streaming.CdcStream
      val day = 86400000000L
      def cdcReplay(nKeys: Long): Long = {
        val changes = (0L until nKeys).flatMap { kk =>
          Seq(CdcStream.Chg(kk, day + kk % 997, kk, "I", 1.0),
            CdcStream.Chg(kk, (if (kk % 2 == 0) 20L else 2L) * day +
              kk % 997, nKeys + kk, "U", 2.0))
        }
        CdcStream.replayRetention(spark, changes,
          retentionUs = 5L * day, flushUs = 21L * day).count()
      }
      val baseKeys = 2000L
      val (bn, bt) = time(cdcReplay(baseKeys))
      val (sn, st) = time(cdcReplay(baseKeys * k))
      println(s"[scale100] stream_cdc live keys: base=$bn scaled=$sn " +
        s"(linear check: ${bn == baseKeys / 2 && sn == baseKeys * k / 2})")
      record("stream_cdc_keys", bt, st)
    }
    // rolling PSI: same corpus scan at both scales (the events table),
    // period cardinality 30 -> 3000 — isolates the bounded
    // (period, bucket) frame growth, the piece that scales with
    // calendar span at 100 TB (the corpus-scan term is constant here
    // by construction, so per_unit reflects the frame alone)
    if (on("rolling_psi_periods")) {
      // force, not count: the per-period PSI sum is exactly the
      // expression a count() would prune
      def psi(mod: Int): Long = {
        graft.Bench.force(graft.operators.Drift.rollingPsi(
          graft.sources.Tables.loadEventsTs(spark, sfDir),
          col("value"), col("event_id") % mod,
          baselineDays = 7, bucketWidth = 50.0, nBuckets = 10))
        0L
      }
      record("rolling_psi_periods", time(psi(30))._2, time(psi(3000))._2)
    }

    // --- r18: the hashed-n-gram classifier at 100x documents ---
    // Disjoint replica vocabularies grow the FEATURE universe ~100x,
    // but the hashing trick keeps the model a dense 4096-long table
    // regardless — the fastText property the operator exists for.
    // Scoring is one codegen'd scan expression (subword grams
    // included); train is one explode + map-side-combinable groupBy
    // to <= dim rows. ~linear wall is the claim at two decades.
    if (on("quality_classifier_sub")) {
      def classify(dir: String): Long = {
        import graft.operators.QualityClassifier
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val label = when(col("lang") === "en", 1).otherwise(-1)
        val w = QualityClassifier.train(
          d.filter(col("doc_id") % 2 === 0), col("text"), label,
          charN = 3)
        graft.Bench.force(
          QualityClassifier.score(d, "doc_id", col("text"), w,
            charN = 3))
        0L
      }
      record("quality_classifier_sub",
        time(classify(sfDir))._2, time(classify(outDir))._2)
    }

    val json = out.map { case (n, b, s, r) =>
      f""""$n":{"base":$b%.3f,"scaled":$s%.3f,"ratio":$r%.2f,"per_unit":${r / k}%.3f}"""
    }.mkString(
      s"""{"metric":"scale_curve_100","k":$k,"queries":{""", ",", "}}")
    // the Bench BENCH_ONLY rule: a SCALE100_ONLY subset run must never
    // overwrite the full-sweep artifact with a partial row set
    if (only.isEmpty) {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("scale_bench_100.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[scale100] wrote scale_bench_100.json (${out.size} rows)")
    } else println(s"[scale100] subset run (${out.size} rows) — " +
      "scale_bench_100.json NOT overwritten")
    spark.stop()
  }
}
