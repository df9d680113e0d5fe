package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Correctness burden for the persisted Bloom membership index
  * ([[BloomIndex]] — the third persisted-index face):
  *  1. the merged base+delta blob is BYTE-EQUAL to a fresh
  *     single-pass filter of the full key history (same-geometry OR:
  *     a key sets the same bits whichever batch carries it), across
  *     input partitionings;
  *  2. OR-merge IDEMPOTENCE, the property CMS lacks: the same batch
  *     banked under TWO different delta tags still merges byte-equal
  *     to the single-pass filter (duplicate keys set no new bits) —
  *     so even the failure mode the tag-overwrite protects against
  *     is harmless here;
  *  3. NO FALSE NEGATIVES: every banked key is flagged by the loaded
  *     filter — the guarantee membership screens live on;
  *  4. false positives on a DISJOINT probe set stay inside the
  *     binomial envelope of the stored fpp;
  *  5. geometry is pinned by the store (appends at saved
  *     expectedItems/numBits — a mismatch would be unmergeable);
  *     empty batches bank NULL blobs that load skips. */
class BloomIndexSpec extends SparkTestBase {

  import spark.implicits._

  private def freshPath(name: String): String =
    s"${tempDir(s"graft-bloomidx-$name")}/idx"

  // 30k keys across three batches with cross-batch overlap
  lazy val keys = spark.range(30000)
    .select((col("id") % 3).as("batch"), (col("id") % 20000).as("k"))

  test("merged base+delta blob is BYTE-EQUAL to a fresh single-pass " +
      "filter, across partitionings; a replayed tag overwrites") {
    val path = freshPath("inc")
    BloomIndex.saveBloomIndex(keys.filter($"batch" === 0), $"k", path,
      expectedItems = 50000L)
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"batch" === 1), $"k", "d1")
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"batch" === 1), $"k", "d1") // replay
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"batch" === 2), $"k", "d2")
    val (inc, nInc) = BloomIndex.loadMergedFilter(spark, path)
    val fresh = freshPath("fresh")
    BloomIndex.saveBloomIndex(keys, $"k", fresh, expectedItems = 50000L)
    val (fr, nFr) = BloomIndex.loadMergedFilter(spark, fresh)
    assert(nInc === nFr)
    assert(java.util.Arrays.equals(inc, fr),
      "OR of per-batch filters must be bit-identical to one pass")
    val repart = freshPath("repart")
    BloomIndex.saveBloomIndex(keys.repartition(17, $"k"), $"k", repart,
      expectedItems = 50000L)
    val (rp, _) = BloomIndex.loadMergedFilter(spark, repart)
    assert(java.util.Arrays.equals(rp, fr))
  }

  test("OR-merge idempotence: the SAME batch under two different " +
      "delta tags still merges byte-equal to the single-pass filter") {
    val path = freshPath("idem")
    BloomIndex.saveBloomIndex(keys.filter($"batch" === 0), $"k", path,
      expectedItems = 50000L)
    val dup = keys.filter($"batch" =!= 0)
    BloomIndex.appendBloomIndex(spark, path, dup, $"k", "d1")
    BloomIndex.appendBloomIndex(spark, path, dup, $"k", "d2_same_data")
    val (inc, _) = BloomIndex.loadMergedFilter(spark, path)
    val fresh = freshPath("idem_fresh")
    BloomIndex.saveBloomIndex(keys, $"k", fresh, expectedItems = 50000L)
    val (fr, _) = BloomIndex.loadMergedFilter(spark, fresh)
    assert(java.util.Arrays.equals(inc, fr),
      "duplicate keys must set no new bits")
  }

  test("no false negatives on every banked key; false positives on a " +
      "disjoint probe set stay inside the fpp envelope") {
    val path = freshPath("fpr")
    BloomIndex.saveBloomIndex(keys.filter($"batch" === 0), $"k", path,
      expectedItems = 50000L, fpp = 0.01)
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"batch" =!= 0), $"k", "rest")
    val (blob, _) = BloomIndex.loadMergedFilter(spark, path)
    val misses = keys.select($"k")
      .filter(!BloomJoin.mightContain(blob, $"k")).count()
    assert(misses === 0L, "a Bloom filter must never miss a banked key")
    // 20k disjoint probes (key space starts where banked keys end)
    val probes = spark.range(20000).select(($"id" + 1000000L).as("k"))
    val fp = probes.filter(BloomJoin.mightContain(blob, $"k")).count()
    val bound = 0.01 * 20000 + 3 * math.sqrt(20000 * 0.01 * 0.99) + 3
    assert(fp <= bound, s"fp=$fp exceeds the 3-sigma fpp envelope $bound")
  }

  test("appends use the STORED geometry (non-default capacity/fpp) " +
      "and empty batches load as skipped NULL blobs") {
    val path = freshPath("geom")
    BloomIndex.saveBloomIndex(keys.filter($"batch" === 0), $"k", path,
      expectedItems = 4096L, fpp = 0.05)
    // mergeInPlace would throw on a geometry mismatch in load
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"batch" =!= 0), $"k", "d1")
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"k" < 0), $"k", "empty") // banks a NULL blob
    val (inc, n) = BloomIndex.loadMergedFilter(spark, path)
    assert(n === 30000L)
    val fresh = freshPath("geom_fresh")
    BloomIndex.saveBloomIndex(keys, $"k", fresh,
      expectedItems = 4096L, fpp = 0.05)
    val (fr, _) = BloomIndex.loadMergedFilter(spark, fresh)
    assert(java.util.Arrays.equals(inc, fr))
    val (ep, en) = {
      val p2 = freshPath("all_empty")
      BloomIndex.saveBloomIndex(keys.filter($"k" < 0), $"k", p2,
        expectedItems = 4096L)
      BloomIndex.loadMergedFilter(spark, p2)
    }
    assert(ep == null && en === 0L)
  }

  test("loadMergedFilter excludeTags skips the named delta — the " +
      "streaming screen's replay-safe pre-batch view") {
    val path = freshPath("exclude")
    BloomIndex.saveBloomIndex(keys.filter($"batch" === 0), $"k", path,
      expectedItems = 50000L)
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"batch" === 1), $"k", "d1")
    val (withD1, nWith) = BloomIndex.loadMergedFilter(spark, path)
    BloomIndex.appendBloomIndex(spark, path,
      keys.filter($"batch" === 2), $"k", "d2")
    // excluding d2 must reproduce the exact pre-d2 blob and count
    val (without, nWithout) =
      BloomIndex.loadMergedFilter(spark, path, excludeTags = Set("d2"))
    assert(nWithout === nWith)
    assert(java.util.Arrays.equals(without, withD1),
      "excluding a delta must restore the pre-append blob exactly")
  }
}
