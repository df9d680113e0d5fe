package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Correctness burden for the persisted EXACT histogram index
  * ([[HistIndex]] — the fourth persisted-index face, and the one with
  * no sketch caveat):
  *  1. loaded base+deltas profile EQUALS the closed-form full-history
  *     histogram row for row, across input partitionings; a replayed
  *     delta tag overwrites instead of double-counting (addition is
  *     not idempotent — the CMS caveat, same cure);
  *  2. underflow/overflow values land in bins -1 / nBins, never
  *     dropped; NULLs are excluded (the family contract);
  *  3. appends bin at the STORED spec (a drifted width would produce
  *     silently meaningless sums); empty deltas are no-ops and an
  *     all-empty index loads as an empty profile;
  *  4. the quantile read path returns, for each q, exactly the bin
  *     containing rank ceil(q·n), with correct edges. */
class HistIndexSpec extends SparkTestBase {

  import spark.implicits._

  private def freshPath(name: String): String =
    s"${tempDir(s"graft-histidx-$name")}/idx"

  // values 0.5, 1.5, ... 2999.5 over three round-robin batches, plus
  // planted out-of-range rows: spec (lo=0, width=100, nBins=20) puts
  // 2000..2999.5 in the overflow bin
  lazy val vals = spark.range(3000)
    .select((col("id") % 3).as("batch"),
      (col("id").cast("double") + 0.5).as("v"))

  test("loaded profile EQUALS the closed-form histogram row for row; " +
      "replayed tags overwrite; partitioning does not matter") {
    val path = freshPath("exact")
    HistIndex.saveHistIndex(vals.filter($"batch" === 0), $"v", path,
      lo = 0.0, width = 100.0, nBins = 20)
    HistIndex.appendHistIndex(spark, path,
      vals.filter($"batch" === 1), $"v", "d1")
    HistIndex.appendHistIndex(spark, path,
      vals.filter($"batch" === 1), $"v", "d1") // replay
    HistIndex.appendHistIndex(spark, path,
      vals.filter($"batch" === 2), $"v", "d2")
    val loaded = HistIndex.loadHistogram(spark, path)
      .as[(Long, Long)].collect().toMap
    val direct = vals
      .groupBy(HistIndex.bin($"v", 0.0, 100.0, 20).as("b"))
      .agg(count(lit(1)).as("c")).as[(Long, Long)].collect().toMap
    assert(loaded === direct)
    // 0..1999.5 fill bins 0..19 with 100 each; 2000+ -> overflow
    assert(loaded(0L) === 100L && loaded(19L) === 100L)
    assert(loaded(20L) === 1000L, "values past the last edge must " +
      "land in the overflow bin, not vanish")
    val repart = freshPath("repart")
    HistIndex.saveHistIndex(vals.repartition(17, $"v"), $"v", repart,
      lo = 0.0, width = 100.0, nBins = 20)
    assert(HistIndex.loadHistogram(spark, repart)
      .as[(Long, Long)].collect().toMap === direct)
  }

  test("underflow bin, NULL exclusion, stored-spec appends, empty " +
      "deltas, and the all-empty index") {
    val path = freshPath("edges")
    val withEdges = Seq(Some(-5.0), Some(-0.001), None, Some(0.0),
      Some(99.999), Some(100.0), Some(2000.0)).toDF("v")
    // non-default spec: appends must read it back from the store
    HistIndex.saveHistIndex(withEdges, $"v", path,
      lo = 0.0, width = 100.0, nBins = 20)
    HistIndex.appendHistIndex(spark, path,
      withEdges.filter(lit(false)), $"v", "empty")
    val loaded = HistIndex.loadHistogram(spark, path)
      .as[(Long, Long)].collect().toMap
    assert(loaded === Map(-1L -> 2L, 0L -> 2L, 1L -> 1L, 20L -> 1L),
      s"got $loaded")
    val p2 = freshPath("all_empty")
    HistIndex.saveHistIndex(withEdges.filter(lit(false)), $"v", p2,
      lo = 0.0, width = 100.0, nBins = 20)
    HistIndex.appendHistIndex(spark, p2,
      withEdges.filter(lit(false)), $"v", "e1")
    assert(HistIndex.loadHistogram(spark, p2).count() === 0L)
  }

  test("per-segment face: loaded (seg, bin, cnt) EQUALS the closed-" +
      "form per-segment histogram; replayed tags overwrite; NULL " +
      "segments and values are excluded") {
    val path = freshPath("seg")
    // two segments with different shapes + NULL seg/value rows
    val rows = spark.range(2000).select(
      (col("id") % 3).as("batch"),
      when(col("id") % 10 === 9, lit(null).cast("string"))
        .otherwise(concat(lit("s"), col("id") % 2)).as("seg"),
      when(col("id") % 17 === 16, lit(null).cast("double"))
        .otherwise((col("id") % 1300).cast("double")).as("v"))
    HistIndex.saveHistIndexSeg(rows.filter($"batch" === 0),
      $"seg", $"v", path, lo = 0.0, width = 100.0, nBins = 10)
    HistIndex.appendHistIndexSeg(spark, path,
      rows.filter($"batch" === 1), $"seg", $"v", "d1")
    HistIndex.appendHistIndexSeg(spark, path,
      rows.filter($"batch" === 1), $"seg", $"v", "d1") // replay
    HistIndex.appendHistIndexSeg(spark, path,
      rows.filter($"batch" === 2), $"seg", $"v", "d2")
    val loaded = HistIndex.loadHistogramSeg(spark, path)
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3)
      .toMap
    val direct = rows.where($"seg".isNotNull && $"v".isNotNull)
      .groupBy($"seg", HistIndex.bin($"v", 0.0, 100.0, 10).as("b"))
      .agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3)
      .toMap
    assert(loaded === direct)
    // values 1000..1299 land in the overflow bin of each segment
    assert(loaded.keySet.exists(_._2 == 10L),
      "per-segment overflow bins must be present, not dropped")
    assert(!loaded.keySet.exists(k => k._1 == null))
  }

  test("quantileBinsSeg: each (seg, q) maps to the bin containing " +
      "rank ceil(q*n_seg) against its OWN segment's total") {
    val path = freshPath("quantseg")
    // seg a: 1000 rows uniform over bins 0..9 (100/bin);
    // seg b: 500 rows at stride 4 over bins 0..19 (25/bin)
    val rows = spark.range(1500).select(
      when(col("id") < 1000, lit("a")).otherwise(lit("b")).as("seg"),
      when(col("id") < 1000, col("id").cast("double") + 0.5)
        .otherwise((col("id") - 1000).cast("double") * 4.0 + 0.5)
        .as("v"))
    HistIndex.saveHistIndexSeg(rows, $"seg", $"v", path,
      lo = 0.0, width = 100.0, nBins = 20)
    val q = HistIndex.quantileBinsSeg(spark, path, Seq(0.5, 1.0))
      .select("seg", "q", "bin", "rank", "n")
      .as[(String, Double, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // seg a: rank(0.5)=500 -> bin 4 (cum 100/bin); rank(1.0)=1000 -> 9
    assert(q(("a", 0.5))._3 === 4L && q(("a", 0.5))._5 === 1000L)
    assert(q(("a", 1.0))._3 === 9L)
    // seg b: rank(0.5)=250 -> bin 9 (cum 25/bin); rank(1.0)=500 -> 19
    assert(q(("b", 0.5))._3 === 9L && q(("b", 0.5))._5 === 500L)
    assert(q(("b", 1.0))._3 === 19L)
  }

  test("quantileBins: each q maps to the bin containing rank " +
      "ceil(q*n) with the right edges") {
    val path = freshPath("quant")
    HistIndex.saveHistIndex(vals, $"v", path,
      lo = 0.0, width = 100.0, nBins = 20)
    val q = HistIndex
      .quantileBins(spark, path, Seq(0.25, 0.5, 0.9, 1.0))
      .select("q", "bin", "lo_edge", "hi_edge", "rank", "n")
      .as[(Double, Long, Double, Double, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // n = 3000; rank(0.25) = 750 -> bin 7 (cum 100 per bin);
    // rank(0.5) = 1500 -> bin 14; rank(0.9) = 2700 -> overflow (cum
    // through bin 19 is 2000); rank(1.0) = 3000 -> overflow
    assert(q(0.25)._2 === 7L && q(0.25)._3 === 700.0 &&
      q(0.25)._4 === 800.0)
    assert(q(0.5)._2 === 14L)
    assert(q(0.9)._2 === 20L && q(0.9)._4.isPosInfinity)
    assert(q(1.0)._2 === 20L && q(1.0)._5 === 3000L && q(1.0)._6 === 3000L)
  }
}
