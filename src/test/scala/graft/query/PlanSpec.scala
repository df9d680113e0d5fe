package graft.query

import graft.SparkTestBase
import graft.etl.Migrator
import graft.sources.Dims
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions (SURVEY §4): these lock the scale
  * properties — broadcast joins stay broadcast, filters and projections
  * reach the parquet scan, aggregates keep their partial (map-side)
  * phase, top-k compiles to TakeOrderedAndProject, and the hot paths
  * stay inside whole-stage codegen. A regression here is a performance
  * bug at 100 TB even when results stay correct.
  */
class PlanSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dimension chain joins are broadcast, not shuffled") {
    val p = plan(CoreQueries.joinBroadcastDims(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("range join compiles to broadcast nested loop (tiny build side)") {
    val p = plan(CoreQueries.rangeJoinQuantityBands(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("keyset pagination predicate is pushed to the parquet scan") {
    val p = plan(CoreQueries.keysetPage(spark, dir))
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThan(o_orderkey,1000)"), p)
  }

  test("column pruning: projection-only query reads only needed columns") {
    val df = CoreQueries.keysetPage(spark, dir)
    val scanLine = plan(df).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("o_orderkey") &&
      !scanLine.contains("o_orderdate"), scanLine)
  }

  test("aggregation keeps the partial (map-side) phase") {
    val p = plan(CoreQueries.aggPricing(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(CoreQueries.topkCustomers(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("anti join does not broadcast the big probe side semantics") {
    val p = plan(CoreQueries.antiJoinCustomersNoOrders(spark, dir))
    assert(p.contains("LeftAnti"), p)
  }

  test("banded dedup/similarity self-joins plan as shuffle hash join") {
    // SHUFFLE_HASH (not broadcast): both sides become identical
    // exchanges so the signature pipeline is computed once — and a
    // banded corpus cannot be broadcast at scale anyway
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val plans = Seq(
      plan(graft.operators.Dedup.minhashCandidates(
        docs, "doc_id", col("text"), 16, 16, 2)),
      plan(graft.operators.Dedup.simhashNearDups(
        docs, "doc_id", col("text"), 3)),
      plan(graft.operators.Similarity.lshBucketPairs(
        embs, "vec_id", "embedding")))
    plans.foreach { p =>
      assert(p.contains("ShuffledHashJoin"), p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
  }

  test("cluster-query pair generation has no cartesian join anywhere") {
    // q_dedup_clusters feeds nearDupClusters from minhash-LSH
    // candidates (the exact configuration the driver contract uses) —
    // the pair-generation plan must be free of BroadcastNestedLoopJoin
    // (the O(n²) shape VERDICT r2 flagged). The iterative clustering
    // on top only ever joins the pair set, so this is the whole
    // query's join surface.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.minhashNearDups(
      docs.filter(col("doc_id") < 1000), "doc_id", col("text"),
      threshold = 0.9, numHashes = 96, bands = 16, shingleK = 1))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("no ScalaUDF in any cleaner mode's plan") {
    import spark.implicits._
    val lines = Seq("src,example.com,www.example.com,123",
      "1.2.3.4,www.example.com").toDF("value")
    val plans = Seq(
      graft.etl.Cleaner.cleanRdns(lines).valid,
      graft.etl.Cleaner.cleanRdnsV1(lines, graft.sources.Dims.defaultTlds).valid,
      graft.etl.Cleaner.cleanRdnsV1(lines, graft.sources.Dims.defaultTlds).invalid,
      graft.etl.Cleaner.cleanSubs(lines).valid,
      graft.etl.Cleaner.cleanCname(lines).valid).map(plan)
    plans.foreach(p => assert(!p.contains("ScalaUDF"), p.take(2000)))
  }

  test("migrator geo enrichment plans as hash join, not nested loop") {
    import spark.implicits._
    val lines = Seq("www.example.com,A,1.2.3.4").toDF("value")
    val geo = Seq((0L, 4294967295L, "AA", "A", 1, "N"))
      .toDF("start_ip", "end_ip", "country", "city", "asn", "as_name")
    val p = plan(Migrator.run(lines, Dims.defaultTlds, Some(geo), "t").rdnsv4)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("migrator TLD membership join is broadcast; no fact shuffle") {
    import spark.implicits._
    val lines = Seq("www.example.com,A,1.2.3.4").toDF("value")
    val p = plan(Migrator.parse(lines, Dims.defaultTlds))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scan-heavy queries run inside whole-stage codegen") {
    // under AQE the codegen annotations appear on the finalized plan
    val df = CoreQueries.aggPricing(spark, dir)
    df.collect()
    // '*(n)' prefixes mark whole-stage-codegen stages in plan toString;
    // both aggregate phases and the scan must carry one
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) HashAggregate") || p.contains("*(1) ColumnarToRow"), p)
  }

  test("deterministic sampling and mixing are scan-level: no exchange") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pb = plan(Sampling.bernoulli(docs, col("doc_id"), 0.1))
    assert(!pb.contains("Exchange"), pb)
    val pm = plan(Sampling.mixCorpora(docs, col("source"), col("doc_id"),
      Map("src0" -> 0.5)))
    assert(!pm.contains("Exchange"), pm)
  }

  test("token packing shuffles once, on the shard key only") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Sampling.packTokenBudget(docs, col("lang"), col("doc_id"),
      size(split(col("text"), " ", -1)).cast("long"), 512))
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      p.linesIterator.count(_.trim.startsWith(":- Exchange")) +
      p.linesIterator.count(_.trim.startsWith("Exchange")) == 1, p)
    assert(p.contains("hashpartitioning(lang"), p)
  }

  test("hash split is scan-level: no exchange") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Sampling.hashSplit(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    assert(!p.contains("Exchange"), p)
  }

  test("shard shuffle is exactly one exchange, keyed on the shard") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Sampling.shuffleShards(docs, col("doc_id"), 8, "s"))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("contamination check broadcasts the eval grams; no cartesian") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Dedup.contaminationHits(
      docs.filter(col("doc_id") % 100 >= 3), "doc_id", col("text"),
      docs.filter(col("doc_id") % 100 < 3), col("text"), k = 5))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("span dedup has no join blowup, and keep-first is a map-side " +
      "partial aggregate, NOT a window (r15 de-skew)") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Dedup.spanDedup(docs, "doc_id", col("text"), w = 10))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the de-skew: per-span keep-first pre-aggregates before the
    // exchange (partial_min of the (doc, pos) struct); a hot span can
    // no longer single-task the way a Window.partitionBy(span) did
    assert(p.contains("partial_min(struct(doc_id"), p)
    assert(!p.contains("Window"), p)
  }

  test("scrub keep-first is a map-side partial aggregate over the " +
      "native gram stream (r15 de-skew + graft_token_grams)") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Dedup.scrubRepeatedSpans(docs, "doc_id", col("text"),
      k = 5))
    assert(!p.contains("CartesianProduct"), p)
    // firsts pre-aggregate before the exchange (the hot-gram collapse)
    assert(p.contains("partial_min(struct(doc_id"), p)
    // the gram projection is the one-byte-scan native expression, not
    // the concat_ws(slice(split)) HOF chain (the rebuild's final
    // concat_ws over surviving tokens legitimately remains)
    assert(p.contains("graft_token_grams"), p)
    assert(!p.contains("slice(split"), p)
  }

  test("repetition signals are scan-level: no exchange at all") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(TextAnalysis.repetitionSignals(docs, "doc_id", col("text")))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("graft_repetition"), p)
  }

  test("heavy-hitter sketch aggregates partially on executors") {
    import graft.operators.HeavyHitters
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(HeavyHitters.sketchTopK(
      docs.select(explode(split(col("text"), " ", -1)).as("term")),
      col("term"), 50))
    // ObjectHashAggregate partial phase = the sketch's native merge
    // runs map-side; only m-bounded summaries cross the exchange
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("partial"), p)
  }

  test("profile is one aggregation pass over one scan") {
    import graft.operators.Profiling
    val p = plan(Profiling.profile(
      spark.read.parquet(s"$dir/orders.parquet"),
      Seq("o_orderkey", "o_orderstatus")))
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("day-partitioned layout prunes partitions at the scan") {
    val tmp = tempDir("graft-part")
    val events = graft.sources.Tables.load(spark, dir, "events")
      .withColumn("day", to_date(timestamp_micros(
        (col("ts") / 1000L).cast("long"))))
    events.write.partitionBy("day").mode("overwrite")
      .parquet(tmp.toString)
    val one = spark.read.parquet(tmp.toString)
      .filter(col("day") === "2024-01-03")
    val p = plan(one)
    assert(p.contains("PartitionFilters") &&
      p.contains("isnotnull(day"), p)
    // pruning is real: the filtered read touches ~1/30 of the files
    val all = spark.read.parquet(tmp.toString)
    val filesOne = one.select(input_file_name()).distinct().count()
    val filesAll = all.select(input_file_name()).distinct().count()
    assert(filesOne > 0 && filesOne * 5 < filesAll,
      s"expected strong pruning: $filesOne vs $filesAll files")
  }

  test("priority sample reduces via TakeOrderedAndProject, no global sort") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Sampling.prioritySample(docs, col("doc_id"),
      col("n_chars"), 100))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("snapshot diff joins fingerprints, not payloads") {
    import graft.operators.Snapshots
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val d = Snapshots.diff(docs, docs.filter(col("doc_id") % 2 === 0),
      "doc_id", _ => col("text"))
    val p = plan(d)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the md5 projection sits BELOW the join: no join operator line
    // references the text column
    val joinDown = p.linesIterator.dropWhile(!_.contains("Join")).toSeq
    assert(joinDown.nonEmpty && !joinDown.head.contains("text#"), joinDown.head)
  }

  test("temperature resample broadcasts the stratum targets") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Sampling.temperatureResample(docs, col("lang"),
      col("doc_id"), 0.5))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("r16 de-skew shapes are locked: temperature resample plans the " +
      "salted stage-1 bucket window; nucleus cut plans the value-class " +
      "frame (a silent fall-back to the raw stratum window would pass " +
      "parity specs but single-task a hot language at scale)") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pT = plan(Sampling.temperatureResample(docs, col("lang"),
      col("doc_id"), 0.5))
    // the salt column only exists in the two-stage form
    assert(pT.contains("__b#"), pT)
    val pN = plan(Sampling.nucleusCut(docs, col("lang"),
      col("n_chars"), col("doc_id"), 80))
    // the value-class aggregate frame only exists in the
    // decomposition form
    assert(pN.contains("__vm#"), pN)
    assert(pN.contains("HashAggregate"), pN)
  }

  test("token chunking is a scan-level generator: no exchange") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(TextAnalysis.chunkTokens(docs, "doc_id", col("text"),
      100, 80))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p)
  }

  test("bm25 reduces via TakeOrderedAndProject over a broadcast stats row") {
    import graft.operators.Retrieval
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Retrieval.bm25TopK(docs, "doc_id", col("text"),
      Seq("dup", "vector"), k = 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    // the stats side broadcasts; the corpus side never shuffles
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("cross-corpus near-dup join ships band hashes, not shingles") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val d = Dedup.crossMinhashNearDups(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", col("text"), threshold = 0.9,
      numHashes = 16, bands = 16, shingleK = 2)
    val p = plan(d)
    assert(!p.contains("CartesianProduct"), p)
    // no shingle array crosses a candidate-side exchange: every
    // hashpartitioning clause keys on ids/bands, never on sh
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning"))
    exchanges.foreach(l => assert(!l.contains("sh#"), l))
  }

  test("ivf-pq candidate path carries codes, not vectors") {
    import graft.operators.Similarity
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val p = plan(Similarity.ivfPqTopK(embs, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16, rerank = 64))
    assert(!p.contains("CartesianProduct"), p)
    // centroid ranking joins the broadcast centroid frame
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // the ADC shortlist window sorts on adc_ip before any vector
    // rejoins: 'codes' must appear in the plan, proving the encoded
    // path (not the raw-vector path) feeds the candidate ranking
    assert(p.contains("codes"), p)
  }

  test("funnel scans the event stream once: every step slice reads " +
      "the checkpointed 3-column frame, not the parquet again") {
    // r13: the k-scan form re-read the fact table per step — a k-times
    // I/O multiplier at 100 TB. One FileScan in the k-step plan pins
    // the one-scan shape (the checkpoint's LogicalRDD feeds the rest).
    val df = graft.query.EventQueries.funnelWindowed(spark, dir)
    // materialize the lazy checkpoint so the executed plan is final
    df.count()
    val p = plan(df)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"funnel plans $scans parquet scans:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      "step slices should read the checkpointed frame\n" + p)
  }

  test("rolling distinct scans events once: the observed-period set " +
      "and the window fan-out both read the checkpointed blob frame") {
    // without the cut, column pruning drops bm from the period-set
    // subtree's aggregate, the exchanges stop being canonically equal,
    // ReuseExchange misses, and events is scanned twice (r13 review)
    val df = graft.query.EventQueries.rollingDistinctUsers(spark, dir)
    df.count() // materialize the lazy checkpoint -> final plan
    val p = plan(df)
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      "rolling distinct should scan the fact table at most once\n" + p)
    assert(!p.contains("Expand"), "no count-distinct Expand\n" + p)
  }

  test("co-located bucketed join needs no exchange at all") {
    // the 100 TB co-location tool: both sides bucketed on the join key
    // at write time -> the join reads pre-shuffled data
    val tmp = tempDir("graft-bucket")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$tmp'")
    try {
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val customer = spark.read.parquet(s"$dir/customer.parquet")
      orders.write.bucketBy(4, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_bkt.orders_b")
      customer.write.bucketBy(4, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_bkt.customer_b")
      val joined = spark.table("graft_bkt.orders_b")
        .join(spark.table("graft_bkt.customer_b").hint("merge"),
          col("o_custkey") === col("c_custkey"))
      val p = plan(joined)
      assert(!p.contains("Exchange"), p)
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_bkt CASCADE")
    }
  }
}
