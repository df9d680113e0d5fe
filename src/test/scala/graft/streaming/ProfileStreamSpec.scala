package graft.streaming


import graft.SparkTestBase
import graft.operators.{BloomIndex, CmsIndex, HistIndex, QuantileIndex, SketchOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correctness burden for the streamed index-banking face
  * ([[ProfileStream]]): after two files flow through the REAL
  * checkpointed stream — with a restart between them — every index
  * must equal a FRESH single-pass build of the full input at its
  * family's strongest gate:
  *  - Bloom: merged blob BYTE-EQUAL (OR is order/batching-invariant);
  *  - HLL: per-segment composite estimates EQUAL (register-state
  *    union is batching-invariant, the estimator is pure);
  *  - CMS: merged blob BYTE-EQUAL (counter addition commutes);
  *  - Hist: (bin, cnt) rows EXACTLY equal;
  *  - Quantile (r20): exact n and the blob's accounted rank bound
  *    held against exact ranks (its build is distributed, so the
  *    gate is the bound, not byte identity).
  * Plus the at-least-once story: re-banking one batch under its own
  * tag leaves every index unchanged. Day-zero init uses EMPTY
  * bases — also part of the contract. */
class ProfileStreamSpec extends SparkTestBase {

  import spark.implicits._

  // (k LONG, seg STRING, v DOUBLE): keys overlap across the two files
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      (col("id") % 500).as("k"),
      concat(lit("s"), col("id") % 3).as("seg"),
      (col("id") % 1000).cast("double").as("v"))

  private def initIndexes(d: String)
      : (String, String, String, String, String) = {
    val empty = rows(0, 0)
    val (bp, hp, cp, tp, qp) =
      (s"$d/bloom", s"$d/hll", s"$d/cms", s"$d/hist", s"$d/quant")
    BloomIndex.saveBloomIndex(empty, $"k", bp, expectedItems = 50000L)
    SketchOps.saveSketchIndex(empty, $"seg", $"k", hp)
    CmsIndex.saveCmsIndex(empty, $"seg", cp)
    HistIndex.saveHistIndex(empty, $"v", tp,
      lo = 0.0, width = 100.0, nBins = 10)
    QuantileIndex.saveQuantileIndex(empty, $"v", qp, k = 128)
    (bp, hp, cp, tp, qp)
  }

  private def assertAllEqualFresh(d: String, bp: String, hp: String,
                                  cp: String, tp: String, qp: String,
                                  all: DataFrame): Unit = {
    // Bloom: byte-identity vs a fresh one-pass filter
    val (inc, _) = BloomIndex.loadMergedFilter(spark, bp)
    BloomIndex.saveBloomIndex(all, $"k", s"$d/bloom_fresh",
      expectedItems = 50000L)
    val (fr, _) = BloomIndex.loadMergedFilter(spark, s"$d/bloom_fresh")
    assert(java.util.Arrays.equals(inc, fr), "bloom blob must be " +
      "byte-equal to a fresh single-pass filter")
    // HLL: per-segment composite estimates equal a direct sketch
    val est = SketchOps.loadSketchIndex(spark, hp)
      .select($"seg", SketchOps.estimate($"sk").as("e"))
      .as[(String, Long)].collect().toMap
    val fresh = SketchOps.segmentSketches(all, $"seg", $"k")
      .select($"seg", SketchOps.estimate($"sk").as("e"))
      .as[(String, Long)].collect().toMap
    assert(est === fresh, "hll estimates must equal a direct sketch")
    // CMS: byte-identity vs a fresh one-pass sketch
    val (ci, cn) = CmsIndex.loadMergedSketch(spark, cp)
    CmsIndex.saveCmsIndex(all.select($"seg"), $"seg", s"$d/cms_fresh")
    val (cf, cfn) = CmsIndex.loadMergedSketch(spark, s"$d/cms_fresh")
    assert(cn === cfn)
    assert(java.util.Arrays.equals(ci, cf), "cms blob must be " +
      "byte-equal to a fresh single-pass sketch")
    // Hist: exact row equality with the closed-form histogram
    val hist = HistIndex.loadHistogram(spark, tp)
      .as[(Long, Long)].collect().toMap
    val direct = all
      .groupBy(HistIndex.bin($"v", 0.0, 100.0, 10).as("b"))
      .agg(count(lit(1)).as("c")).as[(Long, Long)].collect().toMap
    assert(hist === direct)
    // Quantile: streamed sketch's n is exact and its accounted rank
    // bound holds against exact ranks (tie-safe interval gate)
    val qsk = QuantileIndex.loadMergedSketch(spark, qp)
    val data = all.select($"v").as[Double].collect()
    assert(qsk.n === data.length.toLong)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val target = math.ceil(q * qsk.n).toLong
      val ans = qsk.valueAtRank(target)
      val lo = data.count(_ < ans).toLong
      val hi = data.count(_ <= ans).toLong
      assert(lo - qsk.rankBound <= target && target <= hi + qsk.rankBound,
        s"streamed quantile bound broken at q=$q")
    }
  }

  test("two files through the checkpointed stream with a restart: all " +
      "four indexes equal fresh single-pass builds at their strongest " +
      "gates (empty day-zero bases included)") {
    val d = tempDir("graft-profilestream")
    val (bp, hp, cp, tp, qp) = initIndexes(d)
    def bank(): Unit =
      ProfileStream.bankStream(
        spark.readStream.schema("k LONG, seg STRING, v DOUBLE")
          .parquet(s"$d/in"),
        "k", "seg", "v", bp, hp, cp, tp, s"$d/ckpt", Some(qp))
        .awaitTermination()
    Replay.stageFile(rows(0, 700), s"$d/in", "f1.parquet")
    bank()
    Replay.stageFile(rows(400, 1200), s"$d/in", "f2.parquet")
    bank() // restart: checkpoint resumes, only f2 banks
    assertAllEqualFresh(d, bp, hp, cp, tp, qp, rows(0, 700)
      .unionAll(rows(400, 1200)))
  }

  test("re-banking a batch under its own tag (the at-least-once " +
      "replay) leaves every index unchanged") {
    val d = tempDir("graft-profilestream")
    val (bp, hp, cp, tp, qp) = initIndexes(d)
    val b0 = rows(0, 700)
    ProfileStream.bankBatch(b0, "k", "seg", "v", bp, hp, cp, tp, "b0",
      Some(qp))
    val onceN = QuantileIndex.loadMergedSketch(spark, qp).n
    ProfileStream.bankBatch(b0, "k", "seg", "v", bp, hp, cp, tp, "b0",
      Some(qp))
    // overwrite, not double-count: n unchanged (the rebuilt blob's
    // BYTES may differ — distributed build order — but the replayed
    // delta replaces its own dir; assertAllEqualFresh then re-checks
    // the bound + exact n on the final state)
    assert(QuantileIndex.loadMergedSketch(spark, qp).n === onceN,
      "replayed quantile delta must overwrite, not double-count")
    assertAllEqualFresh(d, bp, hp, cp, tp, qp, b0)
  }
}
