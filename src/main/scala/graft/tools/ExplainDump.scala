package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.GraftSession
import graft.query.{CoreQueries, DomainQueries}
import graft.streaming.{CdcStream, EnrichStream, Replay}

/** Writes EXPLAINS.md: formatted physical plans for the headline
  * queries — the concrete evidence behind PERF.md's plan-shape claims.
  *
  * Each query is EXECUTED first (distributed, `toRdd.foreach`, no
  * driver collect) so the dumped plan is the AQE FINAL plan
  * (`isFinalPlan=true`) at the benchmark scale factor — the plan that
  * actually ran, with runtime coalescing/skew splits/broadcast
  * conversions applied — not the initial static plan.
  *
  * {{{ sbt "runMain graft.tools.ExplainDump [sfDir] [outFile]" }}}
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "EXPLAINS.md"
    val spark = GraftSession.getOrCreate("graft-explain")

    val headliners = Seq(
      "q_agg_pricing (partial+final agg, pruned scan)" ->
        CoreQueries.aggPricing(spark, sfDir),
      "q_join_broadcast_dims (broadcast dim chain)" ->
        CoreQueries.joinBroadcastDims(spark, sfDir),
      "q_join_range (broadcast nested loop)" ->
        CoreQueries.rangeJoinQuantityBands(spark, sfDir),
      "q_topk_customers (TakeOrderedAndProject)" ->
        CoreQueries.topkCustomers(spark, sfDir),
      "q_window_keyset_page (scan pushdown)" ->
        CoreQueries.keysetPage(spark, sfDir),
      "q_migrator_rdns (full ETL: TLD broadcast + bucketed geo range join)" ->
        DomainQueries.migratorRdns(spark, sfDir),
      "minhash candidates (shuffle-hash banded self-join, exchange reuse)" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.Dedup.minhashCandidates(
          spark.read.parquet(s"$sfDir/documents.parquet"),
          "doc_id", col("text"), 16, 16, 2)
      },
      "as-of join (composed union + running-last window)" -> {
        import spark.implicits._
        graft.query.QueryOps.asofJoin(
          Seq((1L, "k", new java.sql.Timestamp(5000))).toDF("id", "k", "t"),
          Seq(("k", new java.sql.Timestamp(1000), 1.0)).toDF("k", "rt", "v"),
          Seq("k"), "t", "rt", Seq("v"))
      },
      "span dedup (explode + span-keyed window + per-doc rebuild)" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.Dedup.spanDedup(
          spark.read.parquet(s"$sfDir/documents.parquet"),
          "doc_id", col("text"), w = 10)
      },
      "contamination check (broadcast eval-gram universe)" -> {
        import org.apache.spark.sql.functions.col
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.Dedup.contaminationHits(
          d.filter(col("doc_id") % 100 >= 3), "doc_id", col("text"),
          d.filter(col("doc_id") % 100 < 3), col("text"), k = 5)
      },
      "bloom-prefiltered anti join (definitely-new skips the join)" -> {
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val hist = (200L to 700L).map(i => (i, s"h$i")).toDF("hk", "hp")
        val inc = (1L to 500L).map(i => (i, s"p$i")).toDF("k", "p")
        graft.operators.BloomJoin.antiJoinBloom(inc, "k", hist, "hk",
          1000, 1000)
      },
      "curation pipeline (quality+repetition+decontaminate+split)" ->
        graft.query.TextQueries.curationPipeline(spark, sfDir),
      "q_join_bucketed (co-located SMJ — no exchange below the join)" ->
        CoreQueries.joinBucketed(spark, sfDir),
      "snapshot diff (16-byte fingerprints at scan, one full-outer join)" ->
        graft.query.TextQueries.snapshotDiff(spark, sfDir),
      "q_incremental_agg (algebraic merge of materialized partials)" ->
        CoreQueries.incrementalAgg(spark, sfDir),
      "weighted priority sample (scan-level priority, TakeOrdered top-k)" ->
        graft.query.TextQueries.sampleWeighted(spark, sfDir),
      "token chunking (scan-level generator, no exchange)" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.TextAnalysis.chunkTokens(
          spark.read.parquet(s"$sfDir/documents.parquet"),
          "doc_id", col("text"), 100, 80)
      },
      "bm25 (broadcast stats row, TakeOrdered top-k, no corpus shuffle)" ->
        graft.query.TextQueries.bm25(spark, sfDir),
      "cross-corpus near-dup (band join vs static index, ids-only)" -> {
        import org.apache.spark.sql.functions.col
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.Dedup.crossMinhashNearDups(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "doc_id", col("text"), 0.9, 16, 16, 2)
      },
      "cross-corpus simhash (pigeonhole blocks, sig rows only on the shuffle)" -> {
        import org.apache.spark.sql.functions.col
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.Dedup.crossSimhashNearDups(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", col("text"), maxDist = 8)
      },
      "q_join_salted_auto (derived salt factor, sampled measurement)" ->
        CoreQueries.saltedJoinAuto(spark, sfDir),
      "video frame features (per-row AVI decode in a flatMap, no shuffle " +
        "until the final order)" ->
        graft.query.MediaQueries.multimodalFrames(spark, sfDir),
      "image resize (byte rewrite in mapPartitions, meta updated in-row)" ->
        graft.query.MediaQueries.multimodalResize(spark, sfDir),
      "q_skyline (per-partition sort-sweep pruning, single-row merge input)" ->
        graft.query.WarehouseQueries.skylineCustomers(spark, sfDir),
      "q_fuzzy_join (deletion-key explode, one hash-key equi-join, no " +
        "cross product)" ->
        graft.query.WarehouseQueries.fuzzyJoinNames(spark, sfDir),
      "q_pagerank (three iterative joins, broadcast rank/deg sides)" ->
        graft.query.GraphQueries.pageRankEvents(spark, sfDir),
      "q_collocations (two count shuffles + TakeOrdered, no global sort)" ->
        graft.query.QualityQueries.collocations(spark, sfDir),
      "q_cdc_apply (one row_number window per key partition)" ->
        graft.query.WarehouseQueries.cdcApply(spark, sfDir),
      "q_graph_triangles (oriented wedge join, equi-joins only)" ->
        graft.query.GraphQueries.graphTriangles(spark, sfDir),
      "ivf-pq top-k (codes through the cell join, bounded exact re-rank)" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.Similarity.ivfPqTopK(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") < 200),
          "vec_id", "embedding", k = 5, nlist = 8, nprobe = 4,
          m = 8, ksub = 16, rerank = 64)
      },
      "signature screen, banded (kind-confined block join, sig rows only)" -> {
        import org.apache.spark.sql.functions.{col, lit, xxhash64}
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").as("id"), lit("image").as("kind"),
            xxhash64(col("doc_id")).as("sig"))
        graft.operators.Dedup.crossSignatureNearDups(
          d, d.filter(col("id") % 10 === 0), 8, Seq("kind"))
      },
      "signature screen, MIH (16-bit substring keys, broadcast probe-mask " +
        "expansion on the batch side only)" -> {
        import org.apache.spark.sql.functions.{col, lit, xxhash64}
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").as("id"), lit("image").as("kind"),
            xxhash64(col("doc_id")).as("sig"))
        graft.operators.Dedup.crossSignatureNearDupsMih(
          d, d.filter(col("id") % 10 === 0), 8, Seq("kind"))
      },
      "lm quality buckets (NATIVE graft_bigram_costs: one codegen'd " +
        "scan pass, no explode/join/re-agg; trainer emits <=1444 rows " +
        "per task; tercile cut on the bounded quantized-key frame)" ->
        graft.query.QualityQueries.lmQuality(spark, sfDir),
      "leak-free split (cluster-rep equi-join, scan-level coin labeling)" ->
        graft.query.QualityQueries.splitLeakFree(spark, sfDir),
      "q_winsorize (OrderStats bounds broadcast back over the scan — no " +
        "per-category window)" ->
        graft.query.WarehouseQueries.winsorize(spark, sfDir),
      "q_event_transitions (per-user lead window: millions of small " +
        "groups, then a tiny matrix)" ->
        graft.query.WarehouseQueries.eventTransitions(spark, sfDir),
      "q_vocab_encode (sort-limit capped vocab, broadcast encode join — " +
        "the corpus is never shuffled)" ->
        graft.query.TextQueries.vocabEncode(spark, sfDir),
      "q_entropy_quality (one token-count shuffle, per-doc bounded " +
        "collect + sorted fold)" ->
        graft.query.TextQueries.entropyQuality(spark, sfDir),
      "q_graph_label_prop (per-round: labels join + vote count + " +
        "per-node window pick)" ->
        graft.query.GraphQueries.graphLabelProp(spark, sfDir),
      "q_tpch_q5 (five-way join: all dims broadcast, one orderkey " +
        "shuffle, nation-sized aggregate)" ->
        graft.query.TpchQueries.q5LocalSupplierVolume(spark, sfDir),
      "q_attribution_lasttouch (composed as-of: union + running-last " +
        "window, no custom exec)" ->
        graft.query.DomainQueries.attributionLastTouch(spark, sfDir),
      "q_containment (df-capped inverted gram index, shuffle-hash pair " +
        "join with exchange reuse — never all-pairs)" ->
        graft.query.DedupQueries.containmentPairs(spark, sfDir),
      "q_drift_rolling_psi (one scan to a (period, bucket) frame, " +
        "baseline broadcast back over the bounded frame)" ->
        graft.query.QualityQueries.driftRollingPsi(spark, sfDir),
      "q_pagerank_personalized (seed flag rides the node frame; same " +
        "iterative-join shape as uniform)" ->
        graft.query.GraphQueries.pageRankPersonalized(spark, sfDir),
      "q_entity_resolution_snb_norm (normalized-key GlobalRank blocking " +
        "+ rank-block equi-join, no trailing dedup shuffle)" ->
        graft.query.WarehouseQueries.entityResolutionSnbNorm(spark, sfDir),
      "q_graph_components_inc (new edges rewritten to cluster reps — " +
        "components over the batch-sized rep graph, history " +
        "untouched)" -> {
        import org.apache.spark.sql.functions.{col, least, greatest}
        def pairsAt(every: Int) =
          graft.query.GraphQueries.eventEdges(spark, sfDir, every)
            .filter(col("src") =!= col("dst"))
            .select(least(col("src"), col("dst")).as("id_a"),
              greatest(col("src"), col("dst")).as("id_b"))
            .distinct()
        graft.operators.Dedup.nearDupClustersIncremental(
          graft.operators.Dedup.nearDupClusters(pairsAt(599)),
          pairsAt(601))
      },
      "q_drift_cusum (one agg shuffle to the bounded (key, period) " +
        "frame, per-key baseline window, typed-order FlatMapGroups " +
        "recurrence — the corpus is scanned once)" ->
        graft.query.QualityQueries.driftCusum(spark, sfDir),
      "q_quality_classifier (scoring is ONE codegen'd scan " +
        "expression — graft_quality_score carries the dense dim-" +
        "bounded weight table as a plan reference: no explode, no " +
        "join, no re-aggregation on the score path; train is one " +
        "explode + map-side-combinable groupBy to <= dim rows)" ->
        graft.query.QualityQueries.qualityClassifier(spark, sfDir),
      "q_value_profile_inc (persisted exact histogram read: a union " +
        "of blob-count-sized parquet scans re-summed to <= nBins + 2 " +
        "rows — the profile never rescans events; the cum window is " +
        "bin-spec-bounded)" ->
        graft.query.PipelineQueries.valueProfileInc(spark, sfDir),
      "q_funnel_windowed (per-step type-filtered scans joined to the " +
        "shrinking per-user frame — all shuffles user-keyed, no " +
        "stream-wide window)" ->
        graft.query.EventQueries.funnelWindowed(spark, sfDir),
      "q_profile_columns (one single-column pruned scan + 1-row " +
        "aggregate per column, unioned — no row-wise Expand)" ->
        graft.query.CoreQueries.profileColumns(spark, sfDir),
      "q_fuzzy_jw (SNB rank-block equi-join, codegen'd " +
        "graft_jaro_winkler scoring — candidates O(n·w), never " +
        "all-pairs)" ->
        graft.query.WarehouseQueries.fuzzyJaroWinkler(spark, sfDir),
      "q_interval_join (bucket-expanded equi-join + credit-bucket " +
        "dedup — no distinct exchange, no cross product)" ->
        graft.query.WarehouseQueries.intervalJoinOrders(spark, sfDir),
      "q_dbscan_embeddings eps graph (LSH hyperplane bucket join — " +
        "candidates bucket-confined, planner-sized planes/tables, " +
        "never n^2)" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.Dedup.embeddingNearDups(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") < 500),
          "vec_id", "embedding", threshold = 0.40,
          numPlanes = graft.operators.LshPlan.planesFor(500, 64),
          tables = graft.operators.LshPlan.tablesFor(0.40,
            graft.operators.LshPlan.planesFor(500, 64)))
      },
      "q_dbscan_embeddings assembly (degree count, core-core " +
        "semi-joins into components, min-cluster border pick over the " +
        "checkpointed eps graph)" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.DensityCluster.dbscanCosine(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") < 500),
          "vec_id", "embedding", threshold = 0.40, minPts = 3,
          numPlanes = 3, tables = 48)
      },
      "q_segment_overlap (bitmap OR-merge: duplicates die in the " +
        "map-side partial agg, one blob per (seg, bucket) on the " +
        "shuffle; pair intersection is a bucket-confined popcount " +
        "join — no id-level self-join, no count-distinct Expand)" ->
        graft.query.EventQueries.segmentOverlap(spark, sfDir),
      "q_sequence_match (one shuffle to the entity; collect_list " +
        "partial agg, sort/regex once per ENTITY; the bounded-group " +
        "count guard rides every output column, pruning-proof)" ->
        graft.query.EventQueries.sequenceMatchViews(spark, sfDir),
      "q_rolling_distinct (one event scan to per-(day, bucket) " +
        "bitmaps; the 7-day fan-out explodes the BLOB frame, " +
        "graft_bitmap_or_agg unions map-side, broadcast semi-join " +
        "trims to observed days — no per-window re-scan, no Expand)" ->
        graft.query.EventQueries.rollingDistinctUsers(spark, sfDir),
      "q_scrub_spans (native graft_token_grams stream; keep-first via " +
        "map-side-combined min-struct aggregate + repeated-grams-only " +
        "join-back — AQE-splittable where the r14 gram-keyed window " +
        "was not; islands merge on the flagged subset only; doc-keyed " +
        "report joins back to the second pruned scan for the rebuild)" ->
        graft.query.DedupQueries.scrubSpans(spark, sfDir),
      "q_span_dedup (keep-first IS the per-span min-struct aggregate " +
        "— map-side combined, no window, r15 de-skew)" ->
        graft.query.DedupQueries.spanDedup(spark, sfDir),
      "q_daily_pipeline_prod (production daily loop: Bloom screen is a " +
        "scan-level filter against the collected blob, ONE bank per " +
        "index, profile joins KB-sized blob frames; the exact " +
        "certification legs are the history-distinct join and one " +
        "per-type aggregate — linear scans, no fresh-sketch twins)" ->
        graft.query.PipelineQueries.dailyPipelineProd(spark, sfDir),
      "q_value_profile_seg (per-segment persisted histogram read: one " +
        "multi-path blob scan re-summed per (seg, bin), cum window " +
        "partitioned by segment so every partition is bin-spec-" +
        "bounded — never an event scan)" ->
        graft.query.PipelineQueries.valueProfileSeg(spark, sfDir))

    val body = headliners.map { case (title, df) =>
      // run THIS QueryExecution to completion so AQE finalizes every
      // stage (a count() would build a new, separate QueryExecution
      // and leave this plan un-finalized)
      df.queryExecution.toRdd.foreach(_ => ())
      s"## $title\n\n```\n${df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)}\n```\n"
    }.mkString("\n")

    // STREAMING plans: a streaming source cannot go through toRdd, so
    // the REAL micro-batch physical plan is captured from a live query
    // (StreamingQuery.explain after a processed batch) — the
    // FlatMapGroupsWithStateExec / EventTimeWatermarkExec / state-store
    // shape evidence for the q_stream_cdc* gates.
    def explained(title: String, q: StreamingQuery): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        q.explain()
      }
      s"## $title\n\n```\n${bos.toString("UTF-8")}\n```\n"
    }
    // one driver-fed batch through the gate replay's own harness and
    // conf scope (Replay.memory: 2 partitions, no no-data batches)
    def livePlan[T: Encoder](title: String, name: String, mode: String,
                             row: T)(stream: Dataset[T] => DataFrame)
        : String = {
      val in = Replay.input[T](spark)
      var plan = ""
      Replay.memory(spark, name, partitions = 2, mode)(stream(in.ds)) { q =>
        in.add(Seq(row))
        q.processAllAvailable()
        plan = explained(title, q)
      }
      plan
    }
    /** The ProfileStream banking face live (r19 verdict: the three
      * slowest new rows need audited plans): a real checkpointed
      * file-source stream banks one micro-batch into the four
      * pre-initialized indexes; the captured plan is the executed
      * micro-batch plan feeding the foreachBatch sink (the per-batch
      * APPEND plans inside the sink are the HistIndex/CmsIndex/
      * SketchOps/BloomIndex single-aggregate shapes dumped above for
      * their batch faces). */
    def streamProfilePlan(title: String): String = {
      import org.apache.spark.sql.functions.{col => c, datediff, lit,
        to_date}
      val base = graft.WorkDir.fresh(spark, "explain_profstream")
      val in = s"$base/in"
      val src = graft.sources.Tables.loadEventsTs(spark, sfDir)
        .filter(c("user_id").isNotNull && c("ets").isNotNull &&
          c("event_type").isNotNull)
        .select(c("user_id"), c("event_type"), c("value"),
          datediff(to_date(c("ets")), lit("1970-01-01")).cast("long")
            .as("day"))
        .limit(5000)
      val empty = src.limit(0)
      graft.operators.BloomIndex.saveBloomIndex(empty, c("user_id"),
        s"$base/bloom", expectedItems = 100000L, fpp = 0.01)
      graft.operators.SketchOps.saveSketchIndex(empty, c("event_type"),
        c("user_id"), s"$base/hll")
      graft.operators.CmsIndex.saveCmsIndex(empty, c("event_type"),
        s"$base/cms")
      graft.operators.HistIndex.saveHistIndex(empty, c("value"),
        s"$base/hist", lo = 0.0, width = 50.0, nBins = 16)
      Replay.stageFile(src, in, "f1.parquet")
      val q = graft.streaming.ProfileStream.bankStream(
        spark.readStream
          .schema("user_id LONG, event_type STRING, value DOUBLE, day LONG")
          .parquet(in),
        "user_id", "event_type", "value",
        s"$base/bloom", s"$base/hll", s"$base/cms", s"$base/hist",
        s"$base/ckpt")
      q.awaitTermination()
      explained(title, q)
    }
    import spark.implicits._
    val cdcRow = CdcStream.Chg(1L, 86400000000L, 1L, "I", 1.0)
    val streamBody =
      streamProfilePlan("q_stream_profile_inc (ProfileStream banking " +
        "face: AvailableNow file-source micro-batch into a " +
        "foreachBatch sink that tag-overwrites delta_b<batchId> in " +
        "all four indexes — no streaming state store; cross-batch " +
        "memory lives in the banked blobs)") + "\n" +
      livePlan("q_stream_cdc (mapGroupsWithState LWW upsert — " +
        "one FlatMapGroupsWithState state operator keyed on user_id, " +
        "update mode, state = one row per live key)", "explain_cdc",
        "update", cdcRow)(CdcStream.upsert(_).toDF()) + "\n" +
      livePlan("q_stream_cdc_retention (same state operator " +
        "fed by EventTimeWatermark — the EventTimeTimeout eviction " +
        "path; state bounded by the retention window)", "explain_cdc",
        "update", cdcRow)(
        CdcStream.upsertRetention(_, 5L * 86400000000L).toDF()) + "\n" +
      livePlan("q_stream_enrich (stream-static broadcast " +
        "hash join per micro-batch — no state store, no stream-side " +
        "shuffle; the dim re-plans and re-broadcasts each batch)",
        "explain_enrich", "append",
        EnrichStream.Ev(1L, 1L, 86400000000L, 1.0))(
        EnrichStream.enrich(_, spark.read.parquet(
          s"$sfDir/customer.parquet"), "c_custkey", Seq("c_mktsegment")))

    Files.writeString(Paths.get(out),
      "# EXPLAINS — formatted physical plans for headline queries\n\n" +
        s"Generated by `graft.tools.ExplainDump` on `$sfDir` " +
        "(queries executed first — AQE final plans, isFinalPlan=true " +
        "where adaptive; streaming entries show the executed " +
        "micro-batch plan).\n\n" + body + "\n" + streamBody)
    spark.stop()
  }
}
