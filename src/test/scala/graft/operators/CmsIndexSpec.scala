package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Correctness burden for the persisted CMS heavy-hitters index
  * (the frequency companion of the HLL index — see [[CmsIndex]]):
  *  1. the incremental claim at its STRONGEST: the merged base+delta
  *     blob is BYTE-EQUAL to a fresh single-pass sketch of the full
  *     stream (counter addition is exact — no estimator caveat like
  *     HLL's HIP/composite split), and a replayed delta tag
  *     overwrites instead of double-counting (CMS merge is addition,
  *     NOT idempotent — the overwrite carries the whole replay
  *     burden);
  *  2. the candidate-union superset lemma: every term whose global
  *     count clears N/m surfaces in the union of per-batch
  *     SpaceSaving summaries — including a term that is nobody's
  *     per-batch top-1 but everywhere above the batch line;
  *  3. the CMS bounds: estimates NEVER underestimate (deterministic),
  *     and bracket the exact count within eps*N for the heavy
  *     hitters;
  *  4. params are pinned by the store: appends sketch at the saved
  *     eps/conf/seed (a width/seed mismatch would be unmergeable) and
  *     the published bound uses the stored eps;
  *  5. NULL terms are excluded (the sketch-tier contract). */
class CmsIndexSpec extends SparkTestBase {

  import spark.implicits._

  private def freshPath(name: String): String =
    s"${tempDir(s"graft-cmsidx-$name")}/idx"

  // Skewed stream: two dominant terms, one "spread" term heavy in
  // every batch but top of none, and a long tail. batch = i % 3.
  // Arithmetic for the m=5 lemma test: N = 3000+1500+2100+3000 = 9600,
  // global line N/5 = 1920 — spread (2100) clears it while its
  // per-batch 700 sits below hot1's per-batch 1000 (top of no batch).
  lazy val stream = {
    val rows =
      (1 to 3000).map(i => (i % 3, "hot1")) ++
      (1 to 1500).map(i => (i % 3, "hot2")) ++
      (1 to 2100).map(i => (i % 3, "spread")) ++
      (1 to 3000).map(i => (i % 3, s"t${i % 600}"))
    rows.toDF("batch", "term")
  }

  test("merged base+delta blob is BYTE-EQUAL to a fresh single-pass " +
      "sketch (counter addition is exact), and a replayed delta tag " +
      "overwrites instead of double-counting") {
    val path = freshPath("inc")
    CmsIndex.saveCmsIndex(stream.filter($"batch" === 0), $"term", path)
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" === 1), $"term", "d1")
    // replay: same tag, same batch — must overwrite, not add
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" === 1), $"term", "d1")
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" === 2), $"term", "d2")
    val (skInc, nInc) = CmsIndex.loadMergedSketch(spark, path)
    val fresh = freshPath("fresh")
    CmsIndex.saveCmsIndex(stream, $"term", fresh)
    val (skFresh, nFresh) = CmsIndex.loadMergedSketch(spark, fresh)
    assert(nInc === nFresh)
    assert(java.util.Arrays.equals(skInc, skFresh),
      "base+delta counter merge must be bit-identical to one pass")
    // and partitioning must not matter either (addition commutes)
    val repart = freshPath("repart")
    CmsIndex.saveCmsIndex(stream.repartition(17, $"term"), $"term", repart)
    val (skR, _) = CmsIndex.loadMergedSketch(spark, repart)
    assert(java.util.Arrays.equals(skR, skFresh))
  }

  test("candidate union is a SUPERSET of the global heavy hitters — " +
      "including the spread term that is top of no batch (the " +
      "per-batch N_b/m lemma)") {
    val path = freshPath("cands")
    // small capacity so the candidate sets actually truncate
    CmsIndex.saveCmsIndex(stream.filter($"batch" === 0), $"term", path,
      m = 5)
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" === 1), $"term", "d1")
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" === 2), $"term", "d2")
    val cands = CmsIndex.loadCandidates(spark, path)
      .as[String].collect().toSet
    val exact = stream.groupBy("term").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val hh = exact.collect { case (t, c) if c * 5 > n => t }.toSet
    assert(hh.nonEmpty && hh.contains("spread"),
      s"fixture must make 'spread' a global heavy hitter (counts: $exact)")
    assert(hh.subsetOf(cands),
      s"missing heavy hitters: ${hh -- cands}")
  }

  test("estimates never underestimate, and heavy hitters are " +
      "bracketed within the published eps*N bound") {
    val path = freshPath("bounds")
    CmsIndex.saveCmsIndex(stream.filter($"batch" === 0), $"term", path)
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" =!= 0), $"term", "rest")
    val hh = CmsIndex.heavyHittersFromIndex(spark, path)
      .as[(String, Long, Long, Long)].collect()
    val exact = stream.groupBy("term").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    assert(hh.nonEmpty)
    for ((t, est, nTotal, bound) <- hh) {
      assert(nTotal === n)
      assert(est >= exact(t), s"$t: CMS must never underestimate")
      assert(est <= exact(t) + bound,
        s"$t: est $est vs exact ${exact(t)} + bound $bound")
    }
  }

  test("appends sketch at the STORED params (non-default eps/seed), " +
      "keeping blobs mergeable and the bound derived from stored eps") {
    val path = freshPath("params")
    CmsIndex.saveCmsIndex(stream.filter($"batch" === 0), $"term", path,
      eps = 0.01, conf = 0.95, seed = 7, m = 10)
    // would throw IncompatibleMergeException in loadMergedSketch if
    // the append used the call-site defaults instead of the store
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" =!= 0), $"term", "d1")
    val (sk, nTotal) = CmsIndex.loadMergedSketch(spark, path)
    val fresh = freshPath("params_fresh")
    CmsIndex.saveCmsIndex(stream, $"term", fresh,
      eps = 0.01, conf = 0.95, seed = 7, m = 10)
    val (skF, _) = CmsIndex.loadMergedSketch(spark, fresh)
    assert(java.util.Arrays.equals(sk, skF))
    val bound = CmsIndex.heavyHittersFromIndex(spark, path)
      .select("bound").distinct().as[Long].head()
    assert(bound === CmsIndex.epsBound(0.01, nTotal))
  }

  test("empty batches are skipped on load and an ALL-empty index " +
      "normalizes to (null, 0) — the BloomIndex contract, mirrored " +
      "(r17 verdict #1)") {
    val path = freshPath("empty_delta")
    CmsIndex.saveCmsIndex(stream.filter($"batch" === 0), $"term", path)
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter($"batch" =!= 0), $"term", "d1")
    // an empty daily batch is a ROUTINE event for this index; so is a
    // batch whose every term is NULL (all rows filtered by the
    // NULL-exclusion contract)
    CmsIndex.appendCmsIndex(spark, path,
      stream.filter(lit(false)), $"term", "empty")
    CmsIndex.appendCmsIndex(spark, path,
      stream.limit(5).select(lit(null).cast("string").as("term")),
      $"term", "nulls")
    val (inc, n) = CmsIndex.loadMergedSketch(spark, path)
    val fresh = freshPath("empty_fresh")
    CmsIndex.saveCmsIndex(stream, $"term", fresh)
    val (fr, nF) = CmsIndex.loadMergedSketch(spark, fresh)
    assert(n === nF)
    assert(java.util.Arrays.equals(inc, fr),
      "empty deltas must not perturb the merged blob")

    val p2 = freshPath("all_empty")
    CmsIndex.saveCmsIndex(stream.filter(lit(false)), $"term", p2)
    CmsIndex.appendCmsIndex(spark, p2,
      stream.filter(lit(false)), $"term", "e1")
    val (ep, en) = CmsIndex.loadMergedSketch(spark, p2)
    assert(ep == null && en === 0L,
      "an all-empty index must load as (null, 0)")
    // the full read path over the all-empty index: empty, no NPE
    assert(CmsIndex.heavyHittersFromIndex(spark, p2).count() === 0L)
  }

  test("NULL terms are excluded from sketch, count, and candidates") {
    val withNulls = Seq(Some("a"), Some("a"), None, Some("b"), None)
      .toDF("term")
    val path = freshPath("nulls")
    CmsIndex.saveCmsIndex(withNulls, $"term", path)
    val (sk, n) = CmsIndex.loadMergedSketch(spark, path)
    assert(n === 3L)
    val est = CmsIndex.estimateTerms(
      CmsIndex.loadCandidates(spark, path), sk)
      .as[(String, Long)].collect().toMap
    assert(est === Map("a" -> 2L, "b" -> 1L))
  }
}
