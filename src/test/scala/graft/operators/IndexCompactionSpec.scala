package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Correctness burden for persisted-index COMPACTION (copy-on-write —
  * [[IndexStore]] documents why never in-place): for each of the four
  * families, folding base + deltas into a fresh one-batch index must
  *  1. load IDENTICALLY to the uncompacted index at the family's
  *     strongest gate (byte-equal blob / equal estimates / exact
  *     rows), and
  *  2. keep accepting appends at the stored params — a post-compaction
  *     append must still merge equal to a fresh single-pass build of
  *     the ENTIRE history (pre-compaction batches + the new one). */
class IndexCompactionSpec extends SparkTestBase {

  import spark.implicits._

  private def fresh(name: String): String =
    s"${tempDir(s"graft-compact-$name")}/idx"

  // four round-robin batches over overlapping keys / skewed terms
  lazy val rows = spark.range(8000).select(
    (col("id") % 4).as("batch"),
    (col("id") % 3000).as("k"),
    concat(lit("t"), col("id") % 40).as("term"),
    (col("id") % 900).cast("double").as("v"))

  private def b(i: Int) = rows.filter($"batch" === i)
  private val hist3 = rows.filter($"batch" < 3)

  test("bloom: compacted index loads byte-identical; appends after " +
      "compaction still merge equal to one pass over ALL history") {
    val old = fresh("bloom_old"); val neu = fresh("bloom_new")
    BloomIndex.saveBloomIndex(b(0), $"k", old, expectedItems = 50000L)
    BloomIndex.appendBloomIndex(spark, old, b(1), $"k", "d1")
    BloomIndex.appendBloomIndex(spark, old, b(2), $"k", "d2")
    BloomIndex.compactBloomIndex(spark, old, neu)
    val (ob, on) = BloomIndex.loadMergedFilter(spark, old)
    val (nb, nn) = BloomIndex.loadMergedFilter(spark, neu)
    assert(on === nn)
    assert(java.util.Arrays.equals(ob, nb))
    BloomIndex.appendBloomIndex(spark, neu, b(3), $"k", "d3")
    val full = fresh("bloom_full")
    BloomIndex.saveBloomIndex(rows, $"k", full, expectedItems = 50000L)
    val (fb, fn) = BloomIndex.loadMergedFilter(spark, full)
    val (ab, an) = BloomIndex.loadMergedFilter(spark, neu)
    assert(an === fn)
    assert(java.util.Arrays.equals(ab, fb))
  }

  test("cms: compacted index loads byte-identical with the candidate " +
      "union preserved; post-compaction appends stay exact") {
    val old = fresh("cms_old"); val neu = fresh("cms_new")
    CmsIndex.saveCmsIndex(b(0), $"term", old)
    CmsIndex.appendCmsIndex(spark, old, b(1), $"term", "d1")
    CmsIndex.appendCmsIndex(spark, old, b(2), $"term", "d2")
    CmsIndex.compactCmsIndex(spark, old, neu)
    val (ob, on) = CmsIndex.loadMergedSketch(spark, old)
    val (nb, nn) = CmsIndex.loadMergedSketch(spark, neu)
    assert(on === nn)
    assert(java.util.Arrays.equals(ob, nb))
    assert(CmsIndex.loadCandidates(spark, neu).as[String].collect().toSet
      === CmsIndex.loadCandidates(spark, old).as[String].collect().toSet)
    CmsIndex.appendCmsIndex(spark, neu, b(3), $"term", "d3")
    val full = fresh("cms_full")
    CmsIndex.saveCmsIndex(rows, $"term", full)
    val (fb, _) = CmsIndex.loadMergedSketch(spark, full)
    val (ab, _) = CmsIndex.loadMergedSketch(spark, neu)
    assert(java.util.Arrays.equals(ab, fb))
  }

  test("hll: compacted index estimates identically per segment; " +
      "post-compaction appends equal a direct full-history sketch") {
    val old = fresh("hll_old"); val neu = fresh("hll_new")
    SketchOps.saveSketchIndex(b(0), $"term", $"k", old)
    SketchOps.appendSketchIndex(spark, old, b(1), $"term", $"k", "d1")
    SketchOps.appendSketchIndex(spark, old, b(2), $"term", $"k", "d2")
    SketchOps.compactSketchIndex(spark, old, neu)
    def est(p: String): Map[String, Long] =
      SketchOps.loadSketchIndex(spark, p)
        .select($"seg", SketchOps.estimate($"sk").as("e"))
        .as[(String, Long)].collect().toMap
    assert(est(neu) === est(old))
    SketchOps.appendSketchIndex(spark, neu, b(3), $"term", $"k", "d3")
    val direct = SketchOps.segmentSketches(rows, $"term", $"k")
      .select($"seg", SketchOps.estimate($"sk").as("e"))
      .as[(String, Long)].collect().toMap
    assert(est(neu) === direct)
  }

  test("minhash: compacted decontamination index carries identical " +
      "banded/shingle frames and keeps accepting appends") {
    val docs = spark.range(300).select(col("id").as("doc_id"),
      concat_ws(" ", concat(lit("w"), col("id") % 7),
        concat(lit("x"), col("id") % 11),
        concat(lit("y"), col("id") % 5),
        concat(lit("z"), col("id") % 13)).as("text"))
    def part(lo: Long, hi: Long) =
      docs.filter($"doc_id" >= lo && $"doc_id" < hi)
    val old = fresh("mh_old"); val neu = fresh("mh_new")
    Dedup.saveMinhashIndex(
      Dedup.buildMinhashIndex(part(0, 100), "doc_id", $"text"), old)
    Dedup.appendMinhashIndex(spark, old, part(100, 200), "doc_id",
      $"text", "d1")
    Dedup.compactMinhashIndex(spark, old, neu)
    def banded(p: String): Set[(Long, Int, Long)] =
      Dedup.loadMinhashIndex(spark, p).banded
        .as[(Long, Int, Long)].collect().toSet
    def sh(p: String): Set[(Long, Seq[String])] =
      Dedup.loadMinhashIndex(spark, p).shingleSets
        .as[(Long, Seq[String])].collect().toSet
    assert(banded(neu) === banded(old))
    assert(sh(neu) === sh(old))
    // params intact: a post-compaction append bands identically to a
    // full rebuild over all three batches
    Dedup.appendMinhashIndex(spark, neu, part(200, 300), "doc_id",
      $"text", "d2")
    val full = Dedup.buildMinhashIndex(part(0, 300), "doc_id", $"text")
    assert(banded(neu) ===
      full.banded.as[(Long, Int, Long)].collect().toSet)
  }

  test("ivf/pq: compacted ANN indexes carry identical assignments, " +
      "centroids, and codebooks; appends keep working") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    def part(lo: Long, hi: Long) =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
    val old = fresh("ivf_old"); val neu = fresh("ivf_new")
    // sf0.001 embeddings span vec_id 0..499: three batches inside that
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(part(0, 200), "vec_id", "embedding",
        nlist = 8), old)
    Similarity.appendIvfIndex(spark, old, part(200, 350), "vec_id",
      "embedding", "d1")
    Similarity.compactIvfIndex(spark, old, neu)
    def cells(p: String): Set[(Long, Int)] =
      Similarity.loadIvfIndex(spark, p).assigned.select("id", "cell")
        .as[(Long, Int)].collect().toSet
    assert(cells(neu) === cells(old))
    assert(Similarity.loadIvfIndex(spark, neu).coarse.map(_.toSeq).toSeq
      === Similarity.loadIvfIndex(spark, old).coarse.map(_.toSeq).toSeq)
    // appends after compaction assign against the carried centroids
    Similarity.appendIvfIndex(spark, neu, part(350, 500), "vec_id",
      "embedding", "d2")
    Similarity.appendIvfIndex(spark, old, part(350, 500), "vec_id",
      "embedding", "d2")
    assert(cells(neu) === cells(old))

    val pold = fresh("pq_old"); val pneu = fresh("pq_new")
    Similarity.savePqIndex(
      Similarity.buildPqIndex(part(0, 200), "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 8), pold)
    Similarity.appendPqIndex(spark, pold, part(200, 350), "vec_id",
      "embedding", "d1")
    Similarity.compactPqIndex(spark, pold, pneu)
    def codes(p: String): Set[(Long, Int, Seq[Int])] =
      Similarity.loadPqIndex(spark, p).assigned
        .select("id", "cell", "codes")
        .as[(Long, Int, Seq[Int])].collect().toSet
    assert(codes(pneu) === codes(pold))
    assert(Similarity.loadPqIndex(spark, pneu).codebooks
        .map(_.map(_.toSeq).toSeq).toSeq ===
      Similarity.loadPqIndex(spark, pold).codebooks
        .map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("hist per-segment face: compacted index is row-for-row " +
      "identical; post-compaction appends stay exact") {
    val old = fresh("histseg_old"); val neu = fresh("histseg_new")
    HistIndex.saveHistIndexSeg(b(0), $"term", $"v", old,
      lo = 0.0, width = 100.0, nBins = 8)
    HistIndex.appendHistIndexSeg(spark, old, b(1), $"term", $"v", "d1")
    HistIndex.appendHistIndexSeg(spark, old, b(2), $"term", $"v", "d2")
    HistIndex.compactHistIndexSeg(spark, old, neu)
    def h(p: String): Map[(String, Long), Long] =
      HistIndex.loadHistogramSeg(spark, p).as[(String, Long, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(h(neu) === h(old))
    HistIndex.appendHistIndexSeg(spark, neu, b(3), $"term", $"v", "d3")
    val direct = rows
      .groupBy($"term", HistIndex.bin($"v", 0.0, 100.0, 8).as("b"))
      .agg(count(lit(1)).as("c")).as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(h(neu) === direct)
  }

  test("every family's compactor refuses a same-path call loudly " +
      "(copy-on-write contract, centralized in IndexStore)") {
    val p = fresh("same_path")
    for (compact <- Seq[(String, String) => Unit](
        BloomIndex.compactBloomIndex(spark, _, _),
        CmsIndex.compactCmsIndex(spark, _, _),
        SketchOps.compactSketchIndex(spark, _, _),
        HistIndex.compactHistIndex(spark, _, _),
        HistIndex.compactHistIndexSeg(spark, _, _),
        QuantileIndex.compactQuantileIndex(spark, _, _),
        Dedup.compactMinhashIndex(spark, _, _),
        Similarity.compactIvfIndex(spark, _, _),
        Similarity.compactPqIndex(spark, _, _))) {
      val e = intercept[IllegalArgumentException](compact(p, p))
      assert(e.getMessage.contains("copy-on-write"))
    }
  }

  test("quantile: compacted index loads bit-identical (deterministic " +
      "blob fold); post-compaction appends keep the accounted bound " +
      "over ALL history at the stored k") {
    val old = fresh("qidx_old"); val neu = fresh("qidx_new")
    QuantileIndex.saveQuantileIndex(b(0), $"v", old, k = 128)
    QuantileIndex.appendQuantileIndex(spark, old, b(1), $"v", "d1")
    QuantileIndex.appendQuantileIndex(spark, old, b(2), $"v", "d2")
    QuantileIndex.compactQuantileIndex(spark, old, neu)
    val o = QuantileIndex.loadMergedSketch(spark, old)
    val c = QuantileIndex.loadMergedSketch(spark, neu)
    assert(java.util.Arrays.equals(o.toBytes, c.toBytes))
    assert(QuantileIndex.loadParams(spark, neu) === 128)
    QuantileIndex.appendQuantileIndex(spark, neu, b(3), $"v", "d3")
    val full = QuantileIndex.loadMergedSketch(spark, neu)
    val data = rows.select("v").as[Double].collect()
    assert(full.n === data.length.toLong)
    Seq(0.1, 0.5, 0.95).foreach { q =>
      val target = math.ceil(q * full.n).toLong
      val ans = full.valueAtRank(target)
      val lo = data.count(_ < ans).toLong
      val hi = data.count(_ <= ans).toLong
      assert(lo - full.rankBound <= target && target <= hi + full.rankBound)
    }
  }

  test("hist: compacted index is row-for-row identical; post-" +
      "compaction appends stay exact") {
    val old = fresh("hist_old"); val neu = fresh("hist_new")
    HistIndex.saveHistIndex(b(0), $"v", old,
      lo = 0.0, width = 100.0, nBins = 8)
    HistIndex.appendHistIndex(spark, old, b(1), $"v", "d1")
    HistIndex.appendHistIndex(spark, old, b(2), $"v", "d2")
    HistIndex.compactHistIndex(spark, old, neu)
    def h(p: String): Map[Long, Long] =
      HistIndex.loadHistogram(spark, p).as[(Long, Long)].collect().toMap
    assert(h(neu) === h(old))
    HistIndex.appendHistIndex(spark, neu, b(3), $"v", "d3")
    val direct = rows
      .groupBy(HistIndex.bin($"v", 0.0, 100.0, 8).as("b"))
      .agg(count(lit(1)).as("c")).as[(Long, Long)].collect().toMap
    assert(h(neu) === direct)
  }
}
