package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted incremental EXACT histogram index — the fourth member of
  * the persisted-index family ([[SketchOps]] HLL = distinct counts,
  * [[CmsIndex]] = frequencies, [[BloomIndex]] = membership, this =
  * value DISTRIBUTION), and the only one whose incremental claim
  * needs no sketch argument at all: per batch it banks fixed-bin LONG
  * counts, merge is counter ADDITION over an identical bin spec, so
  * the loaded base+deltas profile EQUALS the full-history profile
  * row-for-row — the DuckDB oracle replays every count bit-for-bit
  * (q_value_profile_inc), no envelope, no bit-identity argument, no
  * confidence parameter.
  *
  * Layout and semantics are the [[IndexStore]] contract: bin spec
  * (lo, width, nBins) pinned under `path/params` (appends bin at the
  * STORED spec — counts over different edges would be silently
  * meaningless), `delta_<tag>` overwrite for replay idempotence (like
  * CMS, addition is not idempotent: the overwrite carries the replay
  * burden), NULL values excluded. Out-of-range values land in
  * underflow/overflow bins (-1 and nBins) rather than being dropped:
  * a profile that silently discards the tail is how drift goes
  * unnoticed.
  *
  * Scale shape: each batch scans its OWN rows once into ≤ nBins + 2
  * rows; the load unions (batches × bins) tiny rows and re-sums.
  * Cross-day value-distribution monitoring (the [[Drift]] family's
  * PSI input, quantile drift, SLA percentiles) reads KB of blobs,
  * never event history. Bin edges are computed in IEEE double
  * arithmetic identical across Spark/DuckDB (`floor((v - lo) /
  * width)`), so the exact gate holds cross-engine. */
object HistIndex {

  /** Bin of `v` under the spec: -1 underflow, nBins overflow, else
    * floor((v - lo) / width). */
  def bin(v: Column, lo: Double, width: Double, nBins: Int): Column =
    when(v < lo, lit(-1L))
      .when(v >= lo + width * nBins, lit(nBins.toLong))
      .otherwise(floor((v - lo) / width).cast("long"))

  // Two faces over one implementation, keyed by a possibly empty
  // segment list: the global profile (bin, cnt) and the per-SEGMENT
  // one (seg, bin, cnt) (r18 verdict #7: the HLL index's `seg` column
  // shape applied to the exact family — per-event-type SLA
  // percentiles, per-source drift inputs — from the same pinned bin
  // spec). A batch banks ≤ segments × (nBins + 2) rows; merge is LONG
  // addition per (seg, bin), so the loaded per-segment profile equals
  // the full-history one ROW FOR ROW. NULL segments are excluded like
  // NULL values (a profile keyed on nothing is noise, not a tail).

  private type Spec = (Double, Double, Int)

  /** Params (lo, width, nBins); a compacted base is the summed
    * profile. Addition is exact, so it is bit-equal row for row. */
  private def store(keys: Seq[String]) = new IndexStore.Family[Spec](
    { case (lo, width, nBins) =>
      Seq("lo" -> lo, "width" -> width, "nBins" -> nBins) },
    p => (p("lo").toDouble, p("width").toDouble, p("nBins").toInt),
    histogram(_, _, keys))

  private val Global = Seq.empty[String]
  private val BySeg = Seq("seg")

  private def binCounts(df: DataFrame, seg: Option[Column], value: Column,
                        p: Spec): DataFrame = {
    val keys = seg.toSeq.map(_ => col("seg"))
    df.select(seg.toSeq.map(_.as("seg")) :+ value.as("__v"): _*)
      .where(keys.map(_.isNotNull).foldLeft(col("__v").isNotNull)(_ && _))
      .groupBy(keys :+ bin(col("__v"), p._1, p._2, p._3).as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  private def save(df: DataFrame, seg: Option[Column], value: Column,
                   path: String, p: Spec): Unit = {
    val (lo, width, nBins) = p
    require(width > 0 && nBins > 0, s"bad bin spec: $lo/$width/$nBins")
    store(seg.fold(Global)(_ => BySeg))
      .save(path, p, binCounts(df, seg, value, p))
  }

  /** Sum base + every delta to the EXACT full-history profile, one row
    * per non-empty (keys..., bin). */
  private def histogram(spark: SparkSession, path: String,
                        keys: Seq[String]): DataFrame =
    IndexStore.unionBatches(spark, path, "", keys ++ Seq("bin", "cnt"))
      .groupBy((keys :+ "bin").map(col): _*)
      .agg(sum("cnt").as("cnt"))

  /** Build and persist the base index: (bin, cnt) rows under
    * `path/base`, the bin spec under `path/params`. */
  def saveHistIndex(df: DataFrame, value: Column, path: String,
                    lo: Double, width: Double, nBins: Int): Unit =
    save(df, None, value, path, (lo, width, nBins))

  /** The per-segment base index: (seg, bin, cnt) rows under
    * `path/base`, the same params as the global face. */
  def saveHistIndexSeg(df: DataFrame, seg: Column, value: Column,
                       path: String, lo: Double, width: Double,
                       nBins: Int): Unit =
    save(df, Some(seg), value, path, (lo, width, nBins))

  /** Stored (lo, width, nBins). */
  def loadParams(spark: SparkSession, path: String)
      : (Double, Double, Int) =
    store(Global).params(spark, path)

  /** Append a batch at the STORED bin spec; `delta_<tag>` overwrite
    * keeps replays idempotent (addition would double-count a
    * duplicated delta — the CMS caveat, same cure). */
  def appendHistIndex(spark: SparkSession, path: String,
                      batch: DataFrame, value: Column,
                      tag: String): Unit =
    store(Global).append(spark, path, tag)(binCounts(batch, None, value, _))

  /** [[appendHistIndex]] for the per-segment face. */
  def appendHistIndexSeg(spark: SparkSession, path: String,
                         batch: DataFrame, seg: Column, value: Column,
                         tag: String): Unit =
    store(BySeg).append(spark, path, tag)(
      binCounts(batch, Some(seg), value, _))

  /** The EXACT full-history profile: (bin, cnt). */
  def loadHistogram(spark: SparkSession, path: String): DataFrame =
    histogram(spark, path, Global)

  /** The EXACT per-segment profile: (seg, bin, cnt). */
  def loadHistogramSeg(spark: SparkSession, path: String): DataFrame =
    histogram(spark, path, BySeg)

  /** Fold base + every delta into a fresh ONE-batch index at
    * `newPath` (copy-on-write — see [[IndexStore]]). */
  def compactHistIndex(spark: SparkSession, oldPath: String,
                       newPath: String): Unit =
    store(Global).compact(spark, oldPath, newPath)

  /** [[compactHistIndex]] for the per-segment face. */
  def compactHistIndexSeg(spark: SparkSession, oldPath: String,
                          newPath: String): Unit =
    store(BySeg).compact(spark, oldPath, newPath)

  /** Quantile read path: for each requested q, the bin containing
    * rank ceil(q·n) — (q, bin, lo_edge, hi_edge, rank, n). Bin-width
    * resolution by construction; EXACT in the sense that the true
    * q-quantile provably lies in [lo_edge, hi_edge). Work is
    * (nBins + 2) × |qs| rows — driver-free and trivially
    * oracle-replayable. Underflow/overflow bins carry -inf/+inf
    * edges. */
  def quantileBins(spark: SparkSession, path: String,
                   qs: Seq[Double]): DataFrame =
    quantiles(spark, path, qs, Global)

  /** Per-SEGMENT quantile read: [[quantileBins]] with every rank
    * computed against its own segment's total — "p95 of yesterday's
    * values PER event type" answered from segments × (nBins + 2) ×
    * |qs| rows of blob work. Output (seg, q, bin, lo_edge, hi_edge,
    * rank, n); segments with zero banked rows are absent (no rank to
    * bound). */
  def quantileBinsSeg(spark: SparkSession, path: String,
                      qs: Seq[Double]): DataFrame =
    quantiles(spark, path, qs, BySeg)

  private def quantiles(spark: SparkSession, path: String, qs: Seq[Double],
                        keys: Seq[String]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]: $qs")
    val (lo, width, nBins) = loadParams(spark, path)
    import spark.implicits._
    // one load, two consumers (cum rows + the totals) — localCheckpoint
    // so the blob union isn't recomputed; ≤ segments × (nBins + 2) rows
    val hist = histogram(spark, path, keys).localCheckpoint()
    val k = keys.map(col)
    // bin-spec-bounded window per segment (≤ nBins + 2 rows by
    // construction), never data-bounded
    val h = hist.withColumn("cum",
      sum("cnt").over(Window.partitionBy(k: _*).orderBy("bin")))
    val totals = broadcast(hist.groupBy(k: _*).agg(sum("cnt").as("n")))
    (if (keys.isEmpty) h.crossJoin(totals) else h.join(totals, keys))
      .crossJoin(broadcast(qs.toDF("q")))
      .where(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(k ++ Seq(col("q"), col("n")): _*)
      .agg(min("bin").as("bin"))
      .select(k ++ Seq(col("q"), col("bin"),
        when(col("bin") === -1L, lit(Double.NegativeInfinity))
          .otherwise(lit(lo) + col("bin") * lit(width)).as("lo_edge"),
        when(col("bin") === nBins.toLong, lit(Double.PositiveInfinity))
          .otherwise(lit(lo) + (col("bin") + 1L) * lit(width))
          .as("hi_edge"),
        ceil(col("q") * col("n")).as("rank"), col("n")): _*)
  }
}
