package graft.operators

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Persisted incremental COUNT-MIN heavy-hitters index — the frequency
  * companion of [[SketchOps]]' persisted HLL distinct-count index:
  * cross-day term-frequency profiles union yesterday's blobs instead
  * of rescanning event history. (Count-min sketch: Cormode &
  * Muthukrishnan 2005; candidate sets: Metwally et al.'s Space-Saving
  * summary via [[HeavyHitters]].)
  *
  * Two structures per saved batch, both bounded:
  *  - a count-min sketch of the term stream (Spark's own
  *    `count_min_sketch` aggregate / `o.a.s.util.sketch.CountMinSketch`
  *    wire format), depth x width LONG counters — merging is exact
  *    counter ADDITION, so unlike HLL there is no estimator subtlety:
  *    the merged base+delta sketch is BIT-IDENTICAL to a fresh
  *    single-pass sketch of the concatenated stream (same depth /
  *    width / seed; addition commutes). CmsIndexSpec pins blob
  *    byte-equality, the strongest possible incremental claim.
  *  - the batch's SpaceSaving top-m summary ([[HeavyHitters]]) as the
  *    CANDIDATE set. The union of per-batch candidates is a proven
  *    superset of the global heavy hitters: a term with global count
  *    > N/m must have batch count > N_b/m in at least one batch
  *    (otherwise summing the per-batch bounds gives count <= N/m),
  *    and SpaceSaving guarantees every such term surfaces in that
  *    batch's summary. Candidates stay m-bounded per batch, so the
  *    index never stores the unbounded term universe.
  *
  * Query-time work is blob-count + candidate-count sized, never
  * history-sized: merge the (batches)-many sketch blobs, union the
  * (m x batches)-many candidates, estimate each candidate against the
  * merged sketch (overestimate-only, error <= eps*N at the sketch's
  * published confidence).
  *
  * Append semantics match the HLL index: a replayed batch OVERWRITES
  * its own `delta_<tag>` — and because CMS merge is ADDITION (not
  * idempotent, unlike HLL's per-register max), the overwrite is the
  * only thing standing between a replayed batch and double-counting;
  * the spec pins replay idempotence explicitly. Appends sketch at the
  * STORED params (a depth/width/seed mismatch would make the blobs
  * unmergeable — `mergeInPlace` throws rather than degrade).
  */
object CmsIndex {

  /** Default relative error: estimate <= true + eps * N. */
  val DefaultEps = 0.001
  /** Default per-query confidence of the eps bound. */
  val DefaultConfidence = 0.99
  /** Fixed hash seed — blobs are only mergeable at one seed. */
  val DefaultSeed = 42
  /** Default per-batch SpaceSaving candidate capacity. */
  val DefaultCapacity = 50

  /** The eps bound in absolute counts for a stream of `n` items. */
  def epsBound(eps: Double, n: Long): Long = math.ceil(eps * n).toLong

  /** Exact counter-addition merge of CMS blobs
    * ([[IndexStore.BlobMerge]]); `mergeInPlace` throws on any
    * depth/width/seed mismatch. */
  private val blobMerge = new IndexStore.BlobMerge[CountMinSketch](
    b => CountMinSketch.readFrom(new ByteArrayInputStream(b)),
    (acc, s) => acc.mergeInPlace(s), _.toByteArray)

  /** Params (eps, conf, seed, m); a compacted base is the merged
    * sketch plus the FULL candidate union (keeping every historical
    * candidate preserves the superset lemma: future batches add their
    * own SpaceSaving summaries on top). */
  private val store = new IndexStore.Family[(Double, Double, Int, Int)](
    { case (eps, conf, seed, m) =>
      Seq("eps" -> eps, "conf" -> conf, "seed" -> seed, "m" -> m) },
    p => (p("eps").toDouble, p("conf").toDouble, p("seed").toInt,
      p("m").toInt),
    (spark, path) => {
      import spark.implicits._
      val (blob, n) = loadMergedSketch(spark, path)
      // candidate union is m × batches bounded; sorted for a
      // deterministic on-disk array order
      val cands = loadCandidates(spark, path).collect()
        .map(_.getString(0)).sorted.toSeq
      Seq((Option(blob), n, cands)).toDF("sk", "n", "cands")
    })

  /** ONE (sk BINARY, n LONG, cands ARRAY<STRING>) row: the batch's
    * CMS blob, item count, and SpaceSaving candidate terms — BOTH
    * structures from a SINGLE aggregation over a SINGLE scan of the
    * batch (r21, guide §2.4/§6: the old two-subdir layout ran two
    * separate scan+agg+write jobs per banked batch, i.e. every CMS
    * save/append read its batch twice; at 100 TB that is two full
    * daily-batch scans where one suffices, and locally it was two
    * driver job round-trips per blob op). The count-min aggregate and
    * the SpaceSaving UDAF are both object-hash aggregates, so they
    * share one ObjectHashAggregateExec pass. NULL terms are excluded
    * (the [[SketchOps]] contract). */
  private def batchRow(df: DataFrame, term: Column,
                       p: (Double, Double, Int, Int)): DataFrame = {
    val (eps, conf, seed, m) = p
    val ss = udaf(new HeavyHitters.SpaceSaving(m))
    df.select(term.as("__t")).where(col("__t").isNotNull)
      .agg(
        count_min_sketch(col("__t"), lit(eps), lit(conf), lit(seed))
          .as("sk"),
        count(lit(1)).as("n"),
        ss(col("__t")).as("__c"))
      .select(col("sk"), col("n"),
        transform(col("__c"), e => e.getField("term")).as("cands"))
  }

  /** Build and persist the base index: blob + candidates under
    * `path/base`, (eps, conf, seed, m) under `path/params`. */
  def saveCmsIndex(df: DataFrame, term: Column, path: String,
                   eps: Double = DefaultEps,
                   conf: Double = DefaultConfidence,
                   seed: Int = DefaultSeed,
                   m: Int = DefaultCapacity): Unit = {
    val p = (eps, conf, seed, m)
    store.save(path, p, batchRow(df, term, p))
  }

  /** Stored (eps, conf, seed, m). */
  def loadParams(spark: SparkSession, path: String)
      : (Double, Double, Int, Int) = store.params(spark, path)

  /** Append a batch WITHOUT rescanning history, at the STORED params;
    * `delta_<tag>` overwrite makes a replayed batch idempotent (and
    * here the overwrite carries the whole burden — CMS merge is
    * addition, a double-read delta WOULD double-count; see scaladoc). */
  def appendCmsIndex(spark: SparkSession, path: String, batch: DataFrame,
                     term: Column, tag: String): Unit =
    store.append(spark, path, tag)(batchRow(batch, term, _))

  /** Merge base + every delta to ONE sketch: (blob bytes, total n),
    * via [[IndexStore.loadMergedBlob]]. Work is blob-count-sized (one
    * ~depth x width x 8 B blob per saved batch). Empty batches are
    * skipped, and an ALL-empty index normalizes to `(null, 0)` — the
    * same contract as [[BloomIndex.loadMergedFilter]]. */
  def loadMergedSketch(spark: SparkSession, path: String)
      : (Array[Byte], Long) =
    IndexStore.loadMergedBlob(spark, path, blobMerge)

  /** Union of every batch's SpaceSaving candidates — the proven
    * heavy-hitter superset (see object scaladoc for the lemma).
    * Reads the same one-row-per-batch files as the sketch merge. */
  def loadCandidates(spark: SparkSession, path: String): DataFrame =
    IndexStore.unionBatches(spark, path, "", Seq("cands"))
      .select(explode(col("cands")).as("term"))
      .distinct()

  /** Estimate each candidate term against a merged blob: (term, est).
    * The blob is broadcast and deserialized ONCE per partition — never
    * per row — and the result is MATERIALIZED (candidates are
    * m × batches bounded by construction) so the broadcast can be
    * destroyed before returning instead of leaking per call. A `null`
    * blob (all-empty index) estimates every candidate at 0. */
  def estimateTerms(cands: DataFrame, skBytes: Array[Byte]): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    if (skBytes == null)
      return cands.select(col("term"), lit(0L).as("est"))
    val bc = spark.sparkContext.broadcast(skBytes)
    val out = cands.select(col("term")).as[String].mapPartitions { it =>
      val sk = CountMinSketch.readFrom(new ByteArrayInputStream(bc.value))
      it.map(t => (t, sk.estimateCount(t)))
    }.toDF("term", "est")
      .localCheckpoint() // eager by default: bounded-size result
    bc.destroy()
    out
  }

  /** Fold base + every delta into a fresh ONE-batch index at
    * `newPath` (copy-on-write — see [[IndexStore]]): stored params,
    * the merged sketch and the candidate union as the new base. */
  def compactCmsIndex(spark: SparkSession, oldPath: String,
                      newPath: String): Unit =
    store.compact(spark, oldPath, newPath)

  /** The full index read path: candidates with their merged-sketch
    * estimates and the index's published absolute error bound —
    * (term, est, n_total, bound). Every true heavy hitter above
    * N/m is present with exact_cnt <= est <= exact_cnt + bound at
    * the stored confidence. */
  def heavyHittersFromIndex(spark: SparkSession, path: String)
      : DataFrame = {
    val (eps, _, _, _) = loadParams(spark, path)
    val (sk, n) = loadMergedSketch(spark, path)
    estimateTerms(loadCandidates(spark, path), sk)
      .withColumn("n_total", lit(n))
      .withColumn("bound", lit(epsBound(eps, n)))
  }
}
