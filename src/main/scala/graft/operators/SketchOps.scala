package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions

/** Approximate distinct-count tier over MERGEABLE HLL sketches — the
  * scale continuation of [[BitmapOps]]' exact bitmap algebra.
  *
  * Where the tiers meet: the exact bitmap wire tracks DISTINCT-ID
  * COUNT (~2 bytes/id sparse, certified to 10⁹ ids at ~8 MiB/period
  * by the Scale100 id-space leg), so a 10¹²-id period costs ~2 TB of
  * blobs per period — past executor memory for a single rolling
  * window. A DataSketches HLL sketch (Spark 4 ships the
  * `hll_sketch_agg` family natively) is ≤ ~2^lgK bytes FLAT — ~4 KiB
  * at the default lgK = 12. Same composability contract as the bitmap
  * frame: the per-period sketch is built from raw events ONCE, and
  * any re-windowing (rolling windows, day → month rollups, segment
  * unions) unions the BLOBS; duplicates die map-side exactly as in
  * the bitmap aggregate.
  *
  * Determinism contract (corrected in round 15 — the round-14 claim
  * was wrong as implemented): what the union guarantees EXACTLY is
  * the register/coupon STATE — per-register max and coupon-set union
  * are associative, commutative, and idempotent, so the merged state
  * is independent of how raw rows were partitioned into sketches and
  * of the merge-tree shape. Spark's `hll_sketch_estimate` does NOT
  * inherit that invariance: it prefers DataSketches' HIP accumulator,
  * an online estimator whose value depends on the ORDER coupons were
  * streamed into the union — i.e. on the shuffle. This operator
  * therefore estimates via `graft_hll_composite`
  * ([[graft.plans.SketchCode.compositeEstimate]]), a pure function of
  * the merged state, making every emitted estimate exactly
  * partition-invariant (SketchOpsSpec pins equality across input
  * partitionings, across finer pre-sketching, and against a direct
  * single sketch of the same rows — all three are the same register
  * state). The price is HIP's accuracy bonus on never-merged
  * sketches: composite relative standard error is 1.04/√2^lgK
  * (~1.63% at lgK = 12) vs HIP's 0.836/√2^lgK (~1.31%) — a fraction
  * of a σ traded for determinism, and the only honest choice when
  * re-windowing from saved blobs (a union can never keep HIP anyway).
  *
  * Gate note: DuckDB has approx_count_distinct but NOT the
  * DataSketches register layout, so no SQL oracle can replay the
  * estimates. The driver-facing query
  * (`q_rolling_distinct_approx`) therefore emits a DERIVED gateable
  * fact instead of the raw estimate: `within_envelope`, comparing the
  * estimate in-plan against the EXACT twin
  * ([[BitmapOps.rollingDistinct]]) at the 3σ composite envelope; the
  * oracle replays the deterministic period set with `true`. The
  * estimates themselves are certified by SketchOpsSpec. NULL ids are
  * excluded, matching the bitmap contract. */
object SketchOps {

  /** 3σ of the composite estimator at `lgK` — the published
    * DataSketches HLL relative standard error 1.04/√2^lgK, tripled.
    * ~4.9% at the default lgK = 12. */
  def compositeEnvelope3Sigma(lgK: Int): Double =
    3.0 * 1.04 / math.sqrt((1L << lgK).toDouble)

  /** Per-group HLL sketch blobs: (seg, sk BINARY). The one pass over
    * raw events every downstream re-aggregation builds on. */
  def segmentSketches(df: DataFrame, seg: Column, id: Column,
                      lgK: Int = 12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(seg.as("seg"), id.as("__id"))
      .where($"__id".isNotNull)
      .groupBy("seg")
      .agg(hll_sketch_agg($"__id", lit(lgK)).as("sk"))
  }

  /** Deterministic (composite) estimate of a sketch blob column —
    * see the object scaladoc for why `hll_sketch_estimate` is not
    * partition-invariant and this is. */
  def estimate(sk: Column): Column =
    GraftExtensions.nativeFn("graft_hll_composite", sk)

  // ---- Persisted incremental sketch index (r16 verdict #4; the
  // [[Dedup.loadMinhashIndex]] layout for the HLL blob tier) ----
  //
  // The 100 TB contract: a cross-day / cross-corpus distinct-user
  // profile must NOT rescan history — yesterday's blobs are the
  // artifact you keep. `save` writes the one-pass per-segment blobs +
  // params; `append` banks a new batch as an idempotent `delta_<tag>`
  // (a replayed batch OVERWRITES its own delta — and even a
  // double-loaded blob is harmless, because HLL state union is
  // per-register max: associative, commutative, IDEMPOTENT);
  // `load` unions base + every delta and re-merges per segment —
  // blob-count-sized work, never event-history-sized. The composite
  // estimator makes the loaded estimates bit-identical to a fresh
  // single-pass sketch of the same rows (partition-invariance, pinned
  // by SketchOpsSpec and the q_segment_distinct_inc hash gate).

  /** Params (lgK); a compacted base is one merged blob per segment.
    * Per-SEGMENT rows (not a single blob row), so the one family whose
    * batches are not coalesced to a single file. */
  private val store = new IndexStore.Family[Int](
    lgK => Seq("lgK" -> lgK), _("lgK").toInt, loadSketchIndex,
    singleFile = false)

  /** Build and persist the base segment-sketch index: per-segment HLL
    * blobs under `path/base`, lgK under `path/params`. */
  def saveSketchIndex(df: DataFrame, seg: Column, id: Column,
                      path: String, lgK: Int = 12): Unit =
    store.save(path, lgK, segmentSketches(df, seg, id, lgK))

  /** Append a batch WITHOUT rescanning history: sketch it at the
    * STORED lgK (union with a different lgK would silently degrade
    * every register) and write it as `delta_<tag>` — idempotent under
    * replay (overwrite), and HLL-idempotent even if double-read. */
  def appendSketchIndex(spark: SparkSession, path: String,
                        batch: DataFrame, seg: Column, id: Column,
                        tag: String): Unit =
    store.append(spark, path, tag)(segmentSketches(batch, seg, id, _))

  /** Load base + every delta and merge to one blob per segment:
    * (seg, sk). Work is proportional to the number of SAVED BLOBS
    * (segments × batches), never to the events they summarize. */
  def loadSketchIndex(spark: SparkSession, path: String): DataFrame =
    IndexStore.unionBatches(spark, path, "", Seq("seg", "sk"))
      .groupBy("seg")
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))

  /** Fold base + every delta into a fresh ONE-batch index at
    * `newPath` (copy-on-write — see [[IndexStore]]): stored lgK, one
    * merged blob per segment as the new base. Register-state union is
    * lossless, so the compacted index estimates identically. */
  def compactSketchIndex(spark: SparkSession, oldPath: String,
                         newPath: String): Unit =
    store.compact(spark, oldPath, newPath)

  /** Rolling-window APPROXIMATE distinct counts — the
    * [[BitmapOps.rollingDistinct]] shape with per-period HLL blobs in
    * place of per-(period, bucket) bitmaps: the raw events are
    * scanned ONCE into one ≤ ~2^lgK-byte sketch per period, each
    * sketch fans out to the `window` trailing windows it serves, and
    * `hll_union_agg` merges map-side. Output:
    * (period, n_distinct_approx) for every period PRESENT in the
    * input (gap periods not emitted — same contract as the exact
    * twin). `window = 1` degenerates to per-period estimates. */
  def rollingDistinctApprox(df: DataFrame, period: Column, id: Column,
                            window: Int, lgK: Int = 12): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.select(period.cast("long").as("p"), id.as("__id"))
      .where($"p".isNotNull && $"__id".isNotNull)
      .groupBy("p")
      .agg(hll_sketch_agg($"__id", lit(lgK)).as("sk"))
      // one event scan, enforced — two consumers below (present-period
      // set + window fan-out) would otherwise each recompute the
      // aggregate subtree (the rollingDistinct r13 lesson)
      .localCheckpoint(false)
    val present = daily.select($"p".as("period"))
    daily
      .withColumn("period", explode(expr(
        s"sequence(p, p + ${window - 1}L)")))
      .groupBy("period")
      .agg(estimate(hll_union_agg($"sk", lit(false)))
        .as("n_distinct_approx"))
      .join(broadcast(present), Seq("period"), "left_semi")
      .select($"period", $"n_distinct_approx")
  }
}
