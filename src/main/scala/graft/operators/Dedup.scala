package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All are shuffle-based
  * bucket joins — no driver-side loops, no n² at corpus scale; the
  * quadratic step only ever runs within a candidate bucket.
  *
  * Scale shape (100 TB): shingle/signature derivation is a scan
  * projection; the only shuffles are the groupBy on bucket keys and the
  * candidate-pair verification join, both on keys whose cardinality the
  * band/row parameters control.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical key. */
  def exact(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("dedup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  private def native(fn: String, args: Column*): Column =
    GraftExtensions.nativeFn(fn, args: _*)

  /** Reference HOF form of [[shingles]] — kept as the spec cross-check
    * for the native expression. */
  private[graft] def shinglesHof(text: Column, k: Int = 3): Column = {
    val toks = TextAnalysis.tokenize(text)
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(1), size(toks) - (k - 1)), i =>
          concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*)))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** Word k-shingles (distinct) of a text column — one native pass
    * ([[graft.plans.ShinglesExpr]]); the HOF form paid an interpreted
    * concat lambda per shingle. */
  def shingles(text: Column, k: Int = 3): Column =
    native("graft_shingles", TextAnalysis.tokenize(text), lit(k))

  /** Reference HOF form of [[minhashSignature]] — kept as the spec
    * cross-check for the native expression. The inner xxhash64
    * collapses the string once; the per-family hash runs over the
    * resulting long. */
  private[graft] def minhashSignatureHof(shingleCol: Column,
                                             numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleCol, s => xxhash64(lit(i), xxhash64(s))))
    }: _*)

  /** MinHash signature: for each of `numHashes` seeded families, the
    * min of xxhash64(family, xxhash64(shingle)) over the shingle set —
    * all families in one native pass over the array
    * ([[graft.plans.MinHashSigExpr]]), hashing each string ONCE; the
    * HOF form re-walked (and re-hashed) the shingle strings once per
    * family, interpreted. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    native("graft_minhash", shingleCol, lit(numHashes))

  /** MinHash-LSH candidate pairs: band the signature, bucket-join on
    * (band index, band hash), emit distinct (a, b) id pairs with a < b.
    *
    * bands * rowsPerBand must equal numHashes. */
  /** (id, sig) signatures — one projection, no shuffle. */
  def minhashSignatures(df: DataFrame, idCol: String, text: Column,
                        numHashes: Int, shingleK: Int): DataFrame =
    df.select(col(idCol).as("id"), shingles(text, shingleK).as("__sh"))
      .select(col("id"), minhashSignature(col("__sh"), numHashes).as("sig"))

  def minhashCandidates(df: DataFrame, idCol: String, text: Column,
                        numHashes: Int = 16, bands: Int = 4,
                        shingleK: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = bandedFrame(df, idCol, text, numHashes, bands, shingleK)
    // est_jaccard = fraction of agreeing bands, computed from the
    // band-collision COUNT per pair — the join ships only (id, band,
    // hash) rows, never the signatures, and the estimate falls out of
    // the same groupBy that dedups the pairs. For r=1 this equals the
    // signature-agreement fraction; for r>1 it is a (valid, stricter)
    // underestimate.
    // SHUFFLE_HASH instead of the auto-chosen broadcast: both sides of
    // the self-join become IDENTICAL shuffle exchanges, so Catalyst
    // computes the banding pipeline ONCE (ReusedExchange) — and at
    // corpus scale broadcasting a banded corpus is impossible anyway
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg((count(lit(1)).cast("double") / bands).as("est_jaccard"))
  }

  /** Reference column form of [[jaccard]] — kept as the spec
    * cross-check for the native expression. */
  private[graft] def jaccardHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(a) + size(b) - inter
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni)
  }

  /** Exact Jaccard similarity of two shingle-SET columns:
    * |A∩B| / (|A|+|B|-|A∩B|) in one native pass per pair
    * ([[graft.plans.JaccardExpr]]) — runs per CANDIDATE PAIR in the
    * dedup verify join, where building intersection arrays dominated. */
  def jaccard(a: Column, b: Column): Column =
    native("graft_jaccard", a, b)

  /** MinHash-LSH near-dup pairs verified by true Jaccard >= threshold. */
  /** MinHash-LSH near-dup pairs verified by true Jaccard >= threshold.
    * Candidates whose signature-estimated Jaccard is far below the
    * threshold are pruned before the exact (array-intersect) check —
    * at corpus scale the estimate prunes the bulk of band collisions
    * for the cost of one zip over the signatures. */
  def minhashNearDups(df: DataFrame, idCol: String, text: Column,
                      threshold: Double, numHashes: Int = 16,
                      bands: Int = 4, shingleK: Int = 3): DataFrame = {
    val rows = numHashes / bands
    val withShingles = df.select(col(idCol).as("id"),
      shingles(text, shingleK).as("sh"))
    // prune on the band-agreement fraction only under r=1 banding,
    // where it estimates J directly: at least 2 agreeing components
    // (1 is just the band collision itself) and within 2x of the
    // target. For r>1 the banding is already selective — candidates
    // are few — and the agreement fraction concentrates around J^rows
    // with variance 1/bands, far too noisy to prune on without
    // measurable recall loss (a J-scale bar would sit ABOVE a true
    // near-dup's expected agreement and silently drop it).
    val candidates = minhashCandidates(df, idCol, text, numHashes, bands,
      shingleK)
    val pruned =
      if (rows == 1)
        candidates.filter(col("est_jaccard") >=
          math.max(threshold / 2, 2.0 / numHashes))
      else candidates
    pruned
      .join(withShingles.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), "id_a")
      .join(withShingles.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus MinHash-LSH near-dup pairs — decontamination by
    * NEAR-duplicate (train x eval), where exact-gram contamination
    * checks miss lightly edited copies. Both corpora band
    * independently with the same seeded signature family; candidates
    * come from band-hash agreement ACROSS the sides (no self-join);
    * the r=1 est-Jaccard prune and the exact shingle-set verify are
    * the same ladder as [[minhashNearDups]].
    *
    * Scale: the cross join ships (id, band, hash) rows only; shingle
    * sets join back per surviving candidate. When the eval side is
    * dim-table sized (the usual decontamination shape) its banded
    * frame broadcasts and the train corpus never shuffles. */
  def crossMinhashNearDups(left: DataFrame, right: DataFrame,
                           idCol: String, text: Column,
                           threshold: Double, numHashes: Int = 16,
                           bands: Int = 16, shingleK: Int = 2): DataFrame =
    nearDupsAgainstIndex(left, idCol, text,
      buildMinhashIndex(right, idCol, text, numHashes, bands, shingleK),
      threshold)

  /** Prebuilt banded-MinHash index of a static reference corpus: the
    * signature/banding scan is paid ONCE (persist or write the two
    * frames), then every incremental screen — ad-hoc eval sets, each
    * streaming micro-batch — joins against it. At 100 TB the index is
    * the thing you keep; rebuilding signatures per screen would rescan
    * the corpus every time. */
  final case class MinhashIndex(banded: DataFrame, shingleSets: DataFrame,
                                numHashes: Int, bands: Int, shingleK: Int) {
    /** Cache both frames (the streaming gate hits them every batch). */
    def persisted(): MinhashIndex =
      copy(banded = banded.persist(), shingleSets = shingleSets.persist())
    def unpersist(): Unit = {
      banded.unpersist(); shingleSets.unpersist(); ()
    }
  }

  private def bandedFrame(df: DataFrame, idCol: String, text: Column,
                          numHashes: Int, bands: Int,
                          shingleK: Int): DataFrame = {
    val rows = numHashes / bands
    minhashSignatures(df, idCol, text, numHashes, shingleK)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .toDF("id", "band", "band_hash")
  }

  /** Write a [[MinhashIndex]] under `path` (overwrites): `banded/`
    * partitioned by band (screens prune to colliding bands) +
    * `shingleSets/` + a one-row `params/` frame. The signature/banding
    * scan of the reference corpus is paid once at write; every later
    * screen — eval sets, streaming micro-batches, the next corpus
    * rev — reads these frames instead of rescanning the corpus. */
  def saveMinhashIndex(index: MinhashIndex, path: String): Unit = {
    val spark = index.banded.sparkSession
    import spark.implicits._
    index.banded.write.mode("overwrite").partitionBy("band")
      .parquet(s"$path/banded")
    index.shingleSets.write.mode("overwrite").parquet(s"$path/shingleSets")
    Seq((index.numHashes, index.bands, index.shingleK))
      .toDF("numHashes", "bands", "shingleK").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Append a batch to a prebuilt [[MinhashIndex]] WITHOUT rescanning
    * the corpus: the batch bands with the SAME seeded signature
    * family and parameters (deterministic — appended rows are
    * bit-identical to what a full rebuild would produce for them),
    * and both frames union. The incremental contract of
    * [[graft.operators.Similarity.appendToIvfIndex]] for the text
    * decontamination index. */
  def appendToMinhashIndex(index: MinhashIndex, batch: DataFrame,
                           idCol: String, text: Column): MinhashIndex =
    index.copy(
      banded = index.banded.unionByName(bandedFrame(batch, idCol, text,
        index.numHashes, index.bands, index.shingleK)),
      shingleSets = index.shingleSets.unionByName(
        batch.select(col(idCol).as("id"),
          shingles(text, index.shingleK).as("sh"))))

  /** PERSISTED incremental append: band `batch` with the parameters
    * stored under `path` and write (banded, shingleSets) as an
    * idempotent `delta_<tag>/` — a replayed batch rewrites its own
    * delta instead of duplicating rows. [[loadMinhashIndex]] sees
    * base + every delta. */
  def appendMinhashIndex(spark: SparkSession, path: String,
                         batch: DataFrame, idCol: String, text: Column,
                         tag: String): Unit = {
    val dir = IndexStore.deltaDir(path, tag)
    val p = spark.read.parquet(s"$path/params").collect()(0)
    val (nh, nb, sk) = (p.getInt(0), p.getInt(1), p.getInt(2))
    bandedFrame(batch, idCol, text, nh, nb, sk)
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$dir/banded")
    batch.select(col(idCol).as("id"), shingles(text, sk).as("sh"))
      .write.mode("overwrite").parquet(s"$dir/shingleSets")
  }

  def loadMinhashIndex(spark: SparkSession, path: String): MinhashIndex = {
    val p = spark.read.parquet(s"$path/params").collect()(0)
    val deltas = IndexStore.deltaDirs(spark, path)
    MinhashIndex(
      (s"$path/banded" +: deltas.map(d => s"$d/banded"))
        .map(q => spark.read.parquet(q).select("id", "band", "band_hash"))
        .reduce(_ unionByName _),
      (s"$path/shingleSets" +: deltas.map(d => s"$d/shingleSets"))
        .map(q => spark.read.parquet(q).select("id", "sh"))
        .reduce(_ unionByName _),
      p.getInt(0), p.getInt(1), p.getInt(2))
  }

  /** Fold base + every delta into a fresh delta-free index at
    * `newPath` — COPY-ON-WRITE like the sketch-index family
    * ([[IndexStore]] documents why in-place compaction is an
    * unclosable crash window; the caller's path swap is the atomic
    * boundary). Signatures are deterministic under the stored params,
    * so the compacted index screens identically
    * (IndexCompactionSpec). */
  def compactMinhashIndex(spark: SparkSession, oldPath: String,
                          newPath: String): Unit = {
    IndexStore.requireCopyOnWrite(oldPath, newPath)
    saveMinhashIndex(loadMinhashIndex(spark, oldPath), newPath)
  }

  def buildMinhashIndex(corpus: DataFrame, idCol: String, text: Column,
                        numHashes: Int = 16, bands: Int = 16,
                        shingleK: Int = 2): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    MinhashIndex(
      bandedFrame(corpus, idCol, text, numHashes, bands, shingleK),
      corpus.select(col(idCol).as("id"), shingles(text, shingleK).as("sh")),
      numHashes, bands, shingleK)
  }

  /** Near-dup pairs between `incoming` (id_a) and an indexed corpus
    * (id_b): band-hash candidates, r=1 est-Jaccard prune, exact
    * shingle-set verify — the [[minhashNearDups]] ladder with the
    * corpus side precomputed. */
  def nearDupsAgainstIndex(incoming: DataFrame, idCol: String,
                           text: Column, index: MinhashIndex,
                           threshold: Double): DataFrame = {
    val rows = index.numHashes / index.bands
    val candidates = bandedFrame(incoming, idCol, text, index.numHashes,
        index.bands, index.shingleK).as("a")
      .join(index.banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg((count(lit(1)).cast("double") / index.bands).as("est_jaccard"))
    val pruned =
      if (rows == 1)
        candidates.filter(col("est_jaccard") >=
          math.max(threshold / 2, 2.0 / index.numHashes))
      else candidates
    pruned
      .join(incoming.select(col(idCol).as("id_a"),
        shingles(text, index.shingleK).as("sh_a")), "id_a")
      .join(index.shingleSets.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Reference form of [[simhashSignatures]]: explode + 64 bit-vote sum
    * aggregates — kept as the spec cross-check for the native
    * expression (one tokenize pass, one shuffle with map-side partial
    * aggregation). */
  private[graft] def simhashSignaturesExploded(
      df: DataFrame, idCol: String, text: Column): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokenize(text)).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1) * 2 - 1).as(s"v$i"))
    val sig = (0 until 64).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a + b)
    exploded.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), sig.as("sig"))
  }

  /** (id, sig) simhash signatures as a single native projection
    * ([[graft.plans.SimHashExpr]]) — no explode, NO SHUFFLE: at corpus
    * scale the exploded form shuffled one row per token.
    *
    * `hashFamily` selects the per-token hash: "xxhash64" (default —
    * fastest) or "md5" ([[graft.plans.SimHashMd5Expr]] — recomputable
    * by any engine with md5, the oracle-shared family). */
  def simhashSignatures(df: DataFrame, idCol: String, text: Column,
                        hashFamily: String = "xxhash64"): DataFrame =
    df.select(col(idCol).as("id"),
      simhash(text, hashFamily).as("sig"))

  /** Single-column simhash of a text column (native one-pass). */
  def simhash(text: Column, hashFamily: String = "xxhash64"): Column =
    hashFamily match {
      case "xxhash64" => native("graft_simhash", TextAnalysis.tokenize(text))
      case "md5" => native("graft_simhash_md5", TextAnalysis.tokenize(text))
      case other => throw new IllegalArgumentException(
        s"unknown simhash hash family: $other")
    }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, found via
    * (maxDist+1)-block banding then exact bit_count verification. The
    * 64 bits split into maxDist+1 near-equal blocks, so by pigeonhole
    * any pair within maxDist differing bits shares at least one
    * identical block — full recall at the requested distance. Larger
    * maxDist means narrower blocks and more candidate collisions; keep
    * maxDist small (<= ~10) at corpus scale. */
  def simhashNearDups(df: DataFrame, idCol: String, text: Column,
                      maxDist: Int = 3,
                      hashFamily: String = "xxhash64"): DataFrame =
    signatureNearDups(simhashSignatures(df, idCol, text, hashFamily),
      maxDist)

  /** Near-dup pairs over ARBITRARY 64-bit signatures (id, sig) within
    * `maxDist` Hamming distance — the signature-agnostic core behind
    * [[simhashNearDups]] (text) and [[Multimodal.imageNearDups]]
    * (perceptual hashes): (maxDist+1)-block pigeonhole banding, then
    * exact bit_count verification. Full recall at the requested
    * distance (a pair within maxDist differing bits must agree on at
    * least one block), so the output is a deterministic function of
    * the signatures — oracle-replayable, no probability talk. */
  def signatureNearDups(sigs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 32,
      s"maxDist must be in [0, 32), got $maxDist")
    val blocks = simhashBlocks(sigs, maxDist + 1)
    // shuffle-hash self-join: identical exchanges -> signature pipeline
    // computed once; broadcast would rebuild it per side (and cannot
    // hold a banded corpus at scale)
    blocks.as("a").hint("shuffle_hash")
      .join(blocks.as("b").hint("shuffle_hash"),
        col("a.block") === col("b.block") &&
        col("a.block_val") === col("b.block_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** (id, sig, [extra...], block, block_val) — the (maxDist+1)-block
    * pigeonhole banding of 64-bit signatures shared by the self-join
    * and cross-corpus paths. `extra` columns ride along for callers
    * that must confine matches within a partition key (e.g. media
    * modality). */
  private def simhashBlocks(sigs: DataFrame, nb: Int,
                            extra: Seq[String] = Nil): DataFrame = {
    val bounds = (0 to nb).map(b => b * 64 / nb)
    sigs.select(col("id") +: col("sig") +: extra.map(col) :+ posexplode(
      array((0 until nb).map { b =>
        val width = bounds(b + 1) - bounds(b)
        // -1L >>> (64 - width): correct for width == 64 too, where
        // (1L << 64) - 1 would be 0 (Java shifts are mod 64) and every
        // block_val would collapse to 0 — an all-pairs cross join
        shiftrightunsigned(col("sig"), bounds(b))
          .bitwiseAND(-1L >>> (64 - width))
      }: _*)): _*)
      .toDF("id" +: "sig" +: extra :+ "block" :+ "block_val": _*)
  }

  /** Cross-corpus near-dup pairs over ARBITRARY 64-bit signatures:
    * (left id as `id_a`, right id as `id_b`, [extraKeys...], hamming)
    * within `maxDist` Hamming distance — the signature-agnostic face
    * of [[crossSimhashNearDups]], and the INCREMENTAL-corpus primitive
    * behind [[Multimodal.screenMedia]]: a new batch joins a persisted
    * (id, sig) index instead of re-running the n² self-join over the
    * whole corpus. Same (maxDist+1)-block pigeonhole banding, so
    * recall at the distance is certain and the output is a
    * deterministic function of the two signature sets.
    *
    * `extraKeys` columns (present on BOTH inputs) join alongside
    * (block, block_val) and pass through to the output — e.g. media
    * `kind`, so an image never pairs with an audio clip that happens
    * to collide in signature space.
    *
    * Scale: each side shuffles (id, sig, extra, block, block_val)
    * rows only — maxDist+1 rows per item, never payloads; the batch
    * side is typically tiny next to the corpus index and the banded
    * key spreads both sides. */
  def crossSignatureNearDups(leftSigs: DataFrame, rightSigs: DataFrame,
                             maxDist: Int,
                             extraKeys: Seq[String] = Nil): DataFrame = {
    require(maxDist >= 0 && maxDist < 32,
      s"maxDist must be in [0, 32), got $maxDist")
    val nb = maxDist + 1
    val la = simhashBlocks(leftSigs, nb, extraKeys)
    val rb = simhashBlocks(rightSigs, nb, extraKeys)
    val cond = ("block" +: "block_val" +: extraKeys)
      .map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    la.as("a").hint("shuffle_hash")
      .join(rb.as("b").hint("shuffle_hash"), cond)
      .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +:
        extraKeys.map(k => col(s"a.$k")) :+
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"): _*)
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Cross-corpus SimHash decontamination: (left id, right id) pairs
    * within `maxDist` Hamming distance, via the same pigeonhole
    * banding as [[simhashNearDups]] but joining TWO corpora (training
    * side as `id_a`, eval/benchmark side as `id_b` — no `<` ordering,
    * the sides are distinct by construction). Full recall at the
    * requested distance for the same pigeonhole reason. With
    * hashFamily "md5" the signatures are oracle-recomputable, so the
    * raw cross pair list is hash-gateable end-to-end.
    *
    * Scale: each side shuffles (id, sig, block, block_val) rows only —
    * 9 rows per document at maxDist=8, no text or shingle sets move;
    * the eval side is typically tiny next to the training corpus and
    * the join key (block, block_val) spreads both sides. */
  /** Multi-index-hashing (MIH) cross-corpus screen — the candidate-
    * count scale path when `maxDist` is large relative to the
    * (maxDist+1)-block widths of [[crossSignatureNearDups]]. Splits
    * signatures into `m` substrings of 64/m bits; by the generalized
    * pigeonhole, a pair within `maxDist` total differing bits has SOME
    * substring differing by at most floor(maxDist/m) bits (otherwise
    * the total would be >= m*(floor+1) > maxDist) — so the BATCH side
    * expands each substring into all values within that sub-radius
    * (XOR with every mask of <= floor(maxDist/m) set bits) and joins
    * the index's substrings EXACTLY. Recall is certain, like banding;
    * the win is bucket width: at maxDist=8, banding keys on ~7-bit
    * blocks (128 values) while MIH m=4 keys on 16-bit substrings
    * (65 536 values) at 137 probes/substring — ~8x fewer uniform-sig
    * candidate collisions, and the expansion cost lands on the small
    * batch, never the corpus index. After Norouzi, Punjani & Fleet,
    * "Fast Search in Hamming Space with Multi-Index Hashing"
    * (CVPR 2012) — rearranged from per-query probing into one
    * shuffle-hash join.
    *
    * Scale: index shuffles m rows/item, batch m * P rows/item
    * (P = masks within the sub-radius; 137 at maxDist 8, m=4 — P is
    * require-bounded). Self-dedup stays on [[signatureNearDups]];
    * this is the screen/incremental face. */
  def crossSignatureNearDupsMih(leftSigs: DataFrame, rightSigs: DataFrame,
                                maxDist: Int,
                                extraKeys: Seq[String] = Nil,
                                m: Int = 4): DataFrame = {
    require(m == 4 || m == 8 || m == 16, s"m must be 4, 8, or 16, got $m")
    require(maxDist >= 0 && maxDist < 64,
      s"maxDist must be in [0, 64), got $maxDist")
    val w = 64 / m
    val rSub = maxDist / m
    val masks = (0L until (1L << w))
      .filter(v => java.lang.Long.bitCount(v) <= rSub)
    require(masks.size <= 5000,
      s"probe expansion ${masks.size} masks; lower maxDist or raise m")
    def subs(df: DataFrame) =
      df.select(col("id") +: col("sig") +: extraKeys.map(col) :+ posexplode(
        array((0 until m).map(b =>
          shiftrightunsigned(col("sig"), b * w)
            .bitwiseAND((1L << w) - 1)): _*)): _*)
        .toDF("id" +: "sig" +: extraKeys :+ "sub" :+ "sub_val": _*)
    // probe expansion as a BROADCAST cross join with the tiny mask dim
    // (not a P-wide array literal per row — keeps codegen small and the
    // expansion a streamed nested-loop over P in-memory longs)
    val spark = rightSigs.sparkSession
    import spark.implicits._
    val maskDim = broadcast(masks.toDF("mih_mask"))
    val probes = subs(rightSigs).crossJoin(maskDim)
      .withColumn("probe_val", col("sub_val").bitwiseXOR(col("mih_mask")))
    val cond = (("sub_val", "probe_val") +: ("sub", "sub") +:
      extraKeys.map(k => (k, k)))
      .map { case (a, b) => col(s"a.$a") === col(s"b.$b") }.reduce(_ && _)
    subs(leftSigs).as("a").hint("shuffle_hash")
      .join(probes.as("b").hint("shuffle_hash"), cond)
      .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +:
        extraKeys.map(k => col(s"a.$k")) :+
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"): _*)
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Self-join face of [[crossSignatureNearDupsMih]]: near-dup pairs
    * (id_a < id_b) within one signature set through the MIH candidate
    * path. Prefer over [[signatureNearDups]] when maxDist is large
    * relative to the banded block width (~maxDist >= 8 for 64-bit
    * signatures); the probe expansion then applies to the whole
    * corpus (m * P rows/item), which buys the sparser 16-bit buckets
    * — the right trade exactly when banded buckets go dense. */
  def signatureNearDupsMih(sigs: DataFrame, maxDist: Int,
                           m: Int = 4): DataFrame =
    crossSignatureNearDupsMih(sigs, sigs, maxDist, Nil, m)
      .filter(col("id_a") < col("id_b"))

  def crossSimhashNearDups(left: DataFrame, right: DataFrame,
                           idCol: String, text: Column, maxDist: Int = 3,
                           hashFamily: String = "xxhash64"): DataFrame =
    crossSignatureNearDups(
      simhashSignatures(left, idCol, text, hashFamily),
      simhashSignatures(right, idCol, text, hashFamily), maxDist)

  /** Embedding-cosine near-dup: pairs above `threshold` found via LSH
    * hyperplane buckets (the scale path — no global n²), plus the
    * keep/drop decision: the smaller id of each near-dup pair is kept,
    * any id that appears as the larger side of some pair is dropped.
    * Returns (id_a, id_b, cos) pairs; [[embeddingDropIds]] derives the
    * drop set. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, numPlanes: Int = 4,
                        tables: Int = 6, dims: Int = 64,
                        probes: Int = 0): DataFrame =
    Similarity.lshBucketPairs(df, idCol, vecCol, numPlanes, tables, dims,
        probes)
      .filter(col("cos") >= threshold)
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos"))

  /** Ids to remove so that no kept pair exceeds the threshold
    * (greedy keep-smallest-id policy). */
  def embeddingDropIds(nearDups: DataFrame): DataFrame =
    nearDups.select(col("id_b").as("drop_id")).distinct()

  /** Connected components over near-dup pairs -> (id, cluster) with
    * cluster = smallest id in the component: the canonical corpus-dedup
    * step after pairwise candidate generation (keep one doc per
    * cluster — [[clusterDropIds]] derives the removal set).
    *
    * Iterative min-label propagation on DataFrames, tuned so each
    * driver-synchronized round is ONE shuffle:
    *  - a hop unions the node's own label into the neighbor-label
    *    stream before the min aggregate — no keep-own-label left join;
    *  - labels only ever decrease, so the rounds' label SUMS strictly
    *    decrease until the fixpoint — convergence detection is an
    *    equality check between consecutive sums (exact DECIMAL(38,0),
    *    overflow-free), not a change-flag join;
    *  - edges persist pre-partitioned; each round re-reads the cached
    *    edges and ships only the (small) label frame, which AQE
    *    broadcasts when it fits;
    *  - incoming pairs are checkpointed once so the candidate pipeline
    *    does not re-execute per union branch, and labels are
    *    checkpointed per round so plans stay flat at scale.
    * The label-seeding aggregate is itself the first hop. Plain
    * propagation needs O(component diameter) rounds — near-dup graphs
    * are dense and shallow, so the first `jumpAfter` rounds stay
    * hop-only (measured: fused two-hop rounds and unconditional
    * pointer jumping paid more per round than the rounds they saved on
    * real corpora). ADAPTIVE POINTER JUMPING guards the adversarial
    * tail: if the graph has not converged after `jumpAfter` hops — a
    * deep component, e.g. a chain of pairwise near-dups — every later
    * round shortcuts labels through the label forest
    * (cluster := cluster(cluster), one extra label-frame shuffle), so
    * total rounds are O(jumpAfter + log diameter) instead of
    * O(diameter); a 10k-node path graph converges in ~20 rounds
    * (DedupSpec pins it) where hop-only propagation would need 10k and
    * die at maxIter. Deterministic (min only); bounded by maxIter. */
  def nearDupClusters(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 50,
                      jumpAfter: Int = 5): DataFrame = {
    Iterate() { it =>
      // pairs are distinct with idA < idB (candidate-generation contract),
      // so the mirrored union is duplicate-free without a distinct shuffle
      val p0 = Iterate.cut(pairs.select(col(idA).as("src"), col(idB).as("dst")))
      val edges = it.hold(p0
        .union(p0.select(col("dst"), col("src")))
        .repartition(col("dst")))
      def labelSum(df: DataFrame): Any = {
        val r = df.agg(sum(col("cluster").cast("decimal(38,0)"))).collect()(0)
        if (r.isNullAt(0)) null else r.getDecimal(0)
      }
      // one hop = one shuffle: neighbor labels (join on the cached,
      // pre-partitioned edges; the small label frame broadcasts) unioned
      // with the node's own label, then min per node — the self term
      // makes a keep-own-label left join unnecessary
      def hop(cur: DataFrame): DataFrame =
        edges.join(cur.withColumnRenamed("id", "dst")
            .withColumnRenamed("cluster", "__c"), "dst")
          .select(col("src"), col("__c"))
          .union(cur.select(col("id").as("src"), col("cluster").as("__c")))
          .groupBy(col("src").as("id"))
          .agg(min("__c").as("cluster"))
      // pointer jump: cluster := cluster(cluster). Labels are node ids
      // and cluster(id) <= id (the seed sets it, hop/jump preserve it),
      // so the looked-up label only ever lowers; a label pointing at a
      // component min (no further row improves it) coalesces to itself.
      def jump(cur: DataFrame): DataFrame = {
        val lbl = cur.select(col("id").as("__jid"), col("cluster").as("__jc"))
        cur.join(lbl, cur("cluster") === lbl("__jid"), "left")
          .select(cur("id"),
            coalesce(col("__jc"), cur("cluster")).as("cluster"))
      }
      // seed = min over self+neighbors of the identity labeling — hop 1
      // folded into the node-derivation aggregate. LAZY checkpoint: the
      // convergence-sum action right below is what materializes (and
      // truncates) each round's labels, so the former eager checkpoint
      // was a second whole action per round for nothing (r20 job-count
      // audit: the components family paid ~2 scheduler round-trips per
      // round; fused it is one).
      var labels = Iterate.cut(edges.groupBy("src").agg(min("dst").as("__m"))
        .select(col("src").as("id"),
          least(col("src"), col("__m")).as("cluster")), eager = false)
      var prevSum = labelSum(labels)
      var iter = 1
      var converged = false
      while (iter < maxIter && !converged) {
        val hopped = hop(labels)
        val next = Iterate.cut(
          if (iter >= jumpAfter) jump(hopped) else hopped, eager = false)
        val s = labelSum(next)
        converged = s == prevSum
        prevSum = s
        labels = next
        iter += 1
      }
      require(converged,
        s"label propagation did not converge in $maxIter rounds")
      labels
    }
  }

  /** Ids to drop so each near-dup cluster keeps exactly its smallest
    * id. */
  def clusterDropIds(clusters: DataFrame): DataFrame =
    clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as("drop_id"))

  /** INCREMENTAL clustering maintenance: fold a batch of new pairs
    * into an existing `(id, cluster)` labelling WITHOUT re-running
    * components over the historical edge set — the daily-ingest shape
    * (yesterday's 100 TB clustering is persisted; today's batch adds
    * edges). New edges can only MERGE existing clusters (and attach
    * new ids), so it suffices to run components over the new pairs
    * REWRITTEN to cluster representatives: the rep graph has one node
    * per TOUCHED cluster, not per historical row — work scales with
    * the batch, never the corpus.
    *
    * Exactness (spec'd equal to a full recompute over the union):
    * labels are component minima, a rep IS its cluster's minimum
    * member, so the merged component's rep-level minimum equals the
    * member-level minimum; untouched clusters keep their labels
    * byte-for-byte.
    *
    * @param oldLabels (id, cluster) from a prior [[nearDupClusters]]
    *                  run (or this method — it composes)
    * @param newPairs  (idA < idB) new candidate pairs; endpoints
    *                  absent from `oldLabels` are new singleton nodes
    * @return (id, cluster) over old ids ∪ new-pair endpoints */
  def nearDupClustersIncremental(oldLabels: DataFrame,
                                 newPairs: DataFrame,
                                 idA: String = "id_a",
                                 idB: String = "id_b"): DataFrame = {
    val old = oldLabels.select(col("id"), col("cluster"))
      .localCheckpoint(true) // read by both rewrite joins + the remap
    def rep(side: String) =
      old.select(col("id").as(side), col("cluster").as(s"__r$side"))
    // rewrite endpoints to reps (absent endpoint = its own rep), keep
    // only edges that actually connect two DIFFERENT reps
    val repEdges = newPairs.select(col(idA).as("a"), col(idB).as("b"))
      .join(rep("a"), Seq("a"), "left")
      .join(rep("b"), Seq("b"), "left")
      .select(coalesce(col("__ra"), col("a")).as("ra"),
        coalesce(col("__rb"), col("b")).as("rb"))
      .filter(col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("id_a"),
        greatest(col("ra"), col("rb")).as("id_b"))
      .distinct()
    // components over the rep graph only — batch-sized, not corpus-
    // sized; relabel maps each touched rep to its merged minimum
    val relabel = nearDupClusters(repEdges)
      .select(col("id").as("__rep"), col("cluster").as("__new"))
    val oldRemapped = old
      .join(relabel, old("cluster") === col("__rep"), "left")
      .select(old("id"),
        coalesce(col("__new"), old("cluster")).as("cluster"))
    // new-pair endpoints unknown to the old labelling
    val newIds = newPairs.select(col(idA).as("id"))
      .union(newPairs.select(col(idB).as("id"))).distinct()
      .join(old.select("id"), Seq("id"), "left_anti")
    val newLabeled = newIds
      .join(relabel, newIds("id") === col("__rep"), "left")
      .select(newIds("id"), coalesce(col("__new"), newIds("id"))
        .as("cluster"))
    oldRemapped.unionByName(newLabeled)
  }

  /** Per-doc contamination hits against a benchmark/eval corpus: the
    * number of distinct word k-shingles a training document shares
    * with ANY benchmark document — the standard pre-training
    * decontamination test (an eval set must not leak into training
    * data through verbatim n-gram overlap).
    *
    * Scale shape: eval sets are small, so their distinct-gram set
    * broadcasts; the corpus side is one explode projection, the
    * broadcast hash join drops non-hits at the scan, and the only
    * shuffle is the per-doc count (map-side combined). Docs with no
    * hits are absent from the result ([[decontaminate]] anti-joins). */
  def contaminationHits(df: DataFrame, idCol: String, text: Column,
                        bench: DataFrame, benchText: Column,
                        k: Int = 5): DataFrame = {
    val benchGrams = bench.select(explode(shingles(benchText, k)).as("gram"))
      .distinct()
    df.select(col(idCol).as("id"), explode(shingles(text, k)).as("gram"))
      .join(broadcast(benchGrams), "gram")
      // shingles() emits distinct grams per doc, so this count is the
      // number of DISTINCT contaminated grams without a second distinct
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** The corpus minus every document sharing at least one k-shingle
    * with the benchmark set (keeps the original schema). */
  def decontaminate(df: DataFrame, idCol: String, text: Column,
                    bench: DataFrame, benchText: Column,
                    k: Int = 5): DataFrame =
    df.join(contaminationHits(df, idCol, text, bench, benchText, k)
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Non-overlapping token spans of width `w` (trailing partial span
    * kept) — the unit of C4-style span-level corpus dedup. The HOF
    * reference form, kept for the native-parity spec;
    * [[spanDedup]] uses the byte-scan native
    * `graft_token_grams(text, w, stride = w, keepPartial = 1)`. */
  private[graft] def tokenSpans(toks: Column, w: Int): Column =
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        // ceil(n / w) spans without float math: (n + w - 1) / w
        sequence(lit(0), (size(toks) + (w - 1)).divide(w).cast("int") - 1),
        i => concat_ws(" ", slice(toks, i * w + 1, lit(w)))))

  /** Native form of [[tokenSpans]] straight from the text column —
    * one byte scan, zero-copy span views (see
    * [[graft.plans.VectorOps.tokenGrams]]). */
  private[graft] def tokenSpansNative(text: Column, w: Int): Column =
    graft.plans.GraftExtensions.nativeFn("graft_token_grams",
      text, lit(w), lit(w), lit(1))

  /** C4-style span-level dedup ACROSS the corpus: split every document
    * into non-overlapping `w`-token spans, keep only the FIRST
    * occurrence of each span text (smallest (doc, position) — the
    * deterministic keep-first rule), and rebuild each document from
    * its surviving spans. Returns
    * (doc_id, n_spans, n_kept, clean_text) for every input document
    * (fully-deduplicated docs come back with n_kept = 0 and '').
    *
    * Scale shape: span derivation is a projection + explode; the
    * keep-first rule is one `groupBy(span).agg(min(struct(doc, pos)))`
    * — the kept rows ARE the per-span minima, so keep-first is a pure
    * map-side-combined aggregate (r15; a hot span — boilerplate
    * repeated across the corpus — collapses to one row per map task
    * BEFORE the shuffle, where the previous `row_number` window form
    * funneled every occurrence into one un-splittable partition, the
    * scrub's VERDICT r14 #5 pathology). The rebuild is one per-doc
    * aggregation. No driver-side data. The window form survives
    * behind `keepFirstViaWindow` on the `private[graft]` impl — for
    * the parity spec ONLY; it is deliberately NOT public API, because
    * a caller flipping it at scale re-opens the r14 #5 un-splittable
    * hot-span partition. */
  def spanDedup(df: DataFrame, idCol: String, text: Column,
                w: Int = 10): DataFrame =
    spanDedupImpl(df, idCol, text, w, keepFirstViaWindow = false)

  private[graft] def spanDedupImpl(
      df: DataFrame, idCol: String, text: Column,
      w: Int, keepFirstViaWindow: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc_id"),
      tokenSpansNative(text, w).as("__spans"))
    val exploded = base.select(col("doc_id"),
      posexplode(col("__spans")).as(Seq("pos", "span")))
    val kept =
      if (keepFirstViaWindow)
        exploded
          .withColumn("__rn", row_number().over(
            Window.partitionBy("span").orderBy("doc_id", "pos")))
          .filter(col("__rn") === 1)
          .drop("__rn")
      else
        // struct comparison is lexicographic by field, matching the
        // window's orderBy("doc_id", "pos") exactly
        exploded.groupBy("span")
          .agg(min(struct(col("doc_id"), col("pos"))).as("__f"))
          .select(col("__f.doc_id").as("doc_id"),
            col("__f.pos").as("pos"), col("span"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("span")))),
        s => s.getField("span"))).as("clean_text"))
    base.select(col("doc_id"), size(col("__spans")).cast("long").as("n_spans"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Substring-level corpus scrub over OVERLAPPING k-token windows —
    * the exact-repeated-span recipe of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), re-expressed as a
    * shuffle plan instead of a suffix array. [[spanDedup]]'s
    * NON-overlapping spans miss any repeat that straddles a span
    * boundary (the published criticism of the C4 recipe); here every
    * token position opens a k-gram window, so ANY repeated run of
    * ≥ k tokens — within one document or across documents — is caught
    * regardless of alignment.
    *
    * Semantics: a k-gram occurrence is FLAGGED when it is not the
    * globally-first occurrence of that gram (keep-first by
    * (doc_id, position), the same deterministic rule as spanDedup;
    * within-doc repeats flag their later copies too). Flagged windows
    * cover token interval [pos, pos+k−1]; per document, overlapping or
    * CONTIGUOUS flagged intervals coalesce into maximal redaction
    * spans. Returns one row per input document:
    * (doc_id, n_tokens, dup_spans, dup_tokens, clean_text) — the
    * merged-span count, tokens they cover, and the document rebuilt
    * from uncovered tokens ('' when fully covered; docs shorter than
    * k tokens pass through untouched).
    *
    * Scale shape: the gram stream is one projection + posexplode
    * (≈ one row per corpus token — the same order a suffix array
    * costs); keep-first is a gram-keyed
    * `groupBy(min(struct(doc_id, pos)))` — map-side partial, so a
    * pathological hot gram (a boilerplate license header repeated 10⁹
    * times across a crawl, exactly the input the scrub exists for)
    * collapses to one row per map task BEFORE the shuffle — joined
    * back to the gram stream with a strict-inequality flag. The
    * join-back is gram-keyed too, but sort-merge joins are
    * AQE-skew-SPLITTABLE where a `row_number` window partition is not
    * (round 14 shipped the window form; its hot gram would have
    * single-tasked — VERDICT r14 #5). The legacy window form stays
    * behind `keepFirstViaWindow` for the parity spec only (the planted
    * hot-gram timings of both forms are in PERF.md "Round-15: scrub
    * keep-first de-skewed"). Everything
    * AFTER the flag filter rides the (small) flagged subset: the
    * island merge is a per-doc window over flagged rows only, and the
    * rebuild joins the bounded interval list back to the doc frame
    * (per-doc cost O(tokens × merged-spans) in the rebuild lambda).
    * The source is scanned TWICE by design — once for the gram stream,
    * once (2 columns, pruned) for the rebuild side; sharing one scan
    * would mean materializing the TOKENIZED corpus (larger than the
    * compressed parquet it came from), the opposite trade from
    * funnel's 3-column slice. The interval frame joining back is
    * doc-count-sized: Catalyst broadcasts it at small scale and
    * falls back to a co-partitioned join when stats say otherwise.
    * `hashGrams = true` swaps the shuffled gram TEXT (k × avg-token
    * bytes per row) for an 8-byte xxhash64 — at 100 TB the shuffle
    * shrinks ~6× for k = 5; collisions (~n²/2⁶⁴) can only over-flag a
    * window, never corrupt surviving text, which is the right failure
    * direction for a scrub. The gated query runs the text form so the
    * DuckDB oracle replays bit-for-bit; DedupSpec pins hash ≡ text on
    * a collision-free corpus. */
  def scrubRepeatedSpans(df: DataFrame, idCol: String, text: Column,
                         k: Int = 5, hashGrams: Boolean = false)
      : DataFrame =
    scrubRepeatedSpansImpl(df, idCol, text, k, hashGrams,
      keepFirstViaWindow = false)

  /** Flag-bearing impl of [[scrubRepeatedSpans]]; `private[graft]` on
    * purpose — the legacy window keep-first exists for the parity spec
    * only, and must not be reachable from user code (flipping it at
    * scale re-opens r14 #5). */
  private[graft] def scrubRepeatedSpansImpl(
      df: DataFrame, idCol: String, text: Column,
      k: Int, hashGrams: Boolean, keepFirstViaWindow: Boolean)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val base = df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokenize(text).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
    // one overlapping k-gram per token position 0 .. n-k, built by the
    // native one-byte-scan expression (graft_token_grams): each gram
    // is a zero-copy byte-range view of the text, positionally
    // identical to the concat_ws(slice(tokens)) HOF chain it replaced
    // (parity-spec'd in VectorHashExpressionsSpec) — this projection
    // runs TWICE since the r15 keep-first de-skew (agg + probe side),
    // so its cost is the de-skew premium
    val gramAt = (g: Column) => if (hashGrams) xxhash64(g) else g
    val grams = df.select(col(idCol).as("doc_id"),
        posexplode(graft.plans.GraftExtensions.nativeFn(
          "graft_token_grams", text, lit(k))).as(Seq("__p", "__g0")))
      .select(col("doc_id"), col("__p"), gramAt(col("__g0")).as("__g"))
    // keep-first: every non-first occurrence of a gram is a flagged
    // window over tokens [p, p+k-1]. (doc_id, __p) is unique within a
    // gram group, so "strictly greater than the group minimum" is
    // exactly "row_number > 1 ordered by (doc_id, __p)" — struct
    // comparison is lexicographic by field, matching the orderBy.
    val nonFirst =
      if (keepFirstViaWindow)
        grams
          .withColumn("__rn", row_number().over(
            Window.partitionBy("__g").orderBy("doc_id", "__p")))
          .filter(col("__rn") > 1)
      else {
        // only REPEATED grams can flag anything, so the join's build
        // side is the repeated-gram set (multiplicity >= 2), not the
        // full distinct-gram frame — unique grams (most of a natural
        // corpus) never ride the join, and on a boilerplate-dominated
        // input the build side collapses to the handful of hot grams
        // (AQE then broadcasts it). Inner-join semantics are exact:
        // every non-first occurrence has gram multiplicity >= 2.
        val firsts = grams.groupBy("__g")
          .agg(min(struct(col("doc_id"), col("__p"))).as("__first"),
            count(lit(1)).as("__cnt"))
          .filter(col("__cnt") > 1)
          .drop("__cnt")
        grams.join(firsts, Seq("__g"))
          .filter(struct(col("doc_id"), col("__p")) =!= col("__first"))
      }
    val flagged = nonFirst
      .select(col("doc_id"), col("__p").cast("long").as("__s"),
        (col("__p") + (k - 1)).cast("long").as("__e"))
    // coalesce overlapping/contiguous windows into maximal spans
    // (gaps-and-islands per doc over the FLAGGED subset only)
    val wd = Window.partitionBy("doc_id").orderBy("__s")
    val prevMax = max(col("__e"))
      .over(wd.rowsBetween(Window.unboundedPreceding, -1))
    val islands = flagged
      .withColumn("__new",
        when(prevMax.isNull || col("__s") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "__isl")
      .agg(min(col("__s")).as("ms"), max(col("__e")).as("me"))
    val report = islands.groupBy("doc_id").agg(
      count(lit(1)).as("dup_spans"),
      sum(col("me") - col("ms") + 1).as("dup_tokens"),
      collect_list(struct(col("ms"), col("me"))).as("__iv"))
    val iv = coalesce(col("__iv"),
      array().cast("array<struct<ms:bigint,me:bigint>>"))
    base.join(report, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__n").as("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        concat_ws(" ", filter(col("__toks"), (_, i) =>
          !exists(iv, v =>
            i.cast("long") >= v.getField("ms") &&
              i.cast("long") <= v.getField("me")))).as("clean_text"))
  }

  /** Pairwise n-gram Jaccard over a (bounded) candidate set — the
    * brute-force verifier used by specs and small corpora.
    *
    * `minJaccard > 0` enables the classic LENGTH-FILTER prune inside
    * the join: jaccard <= min(|A|,|B|) / max(|A|,|B|), so pairs whose
    * set sizes differ by more than the target ratio are skipped before
    * any set intersection — lossless for the requested threshold (the
    * exact filter still applies). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, text: Column,
                        k: Int = 3, minJaccard: Double = 0.0): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(text, k).as("sh"))
      .withColumn("__sz", size(col("sh")))
    val sizeOk =
      if (minJaccard > 0)
        least(col("a.__sz"), col("b.__sz")).cast("double") >=
          greatest(col("a.__sz"), col("b.__sz")) * minJaccard
      else lit(true)
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id") && sizeOk)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** ASYMMETRIC containment screen — "document A is mostly inside
    * document B" (|grams(A) ∩ grams(B)| / |grams(A)|), the
    * quote/excerpt/superset-page relation that symmetric Jaccard
    * misses by construction (a 50-word quote inside a 5000-word page
    * has Jaccard ≈ 0.01 but containment ≈ 1.0) — the RefinedWeb-style
    * inclusion dedup signal.
    *
    * Scale shape — an inverted gram index, never all-pairs: explode
    * to (id, gram), CAP each gram's document frequency at `maxGramDf`
    * (grams above the cap are dropped from BOTH the intersection and
    * the denominators — a defined part of the screen, like winnowing's
    * density bound, and what bounds per-gram candidate fan-out at
    * maxGramDf² — corpus-wide stop-grams would otherwise pair
    * everything with everything), self-join on the gram key.
    *
    * RECALL LOSS OF THE CAP, stated so no caller rediscovers it at
    * scale (the no-silent-caps rule the skew-capped fuzzy join also
    * follows): a pair whose overlap is carried ONLY by grams with
    * df > maxGramDf is NOT emitted at any threshold — by design, since
    * such overlap is corpus-common boilerplate, not inclusion signal
    * (DedupSpec pins a concrete dropped-by-cap pair). For pairs that
    * DO surface, capped grams are excluded from numerator and
    * denominator alike, so a reported containment is exact over the
    * sub-maxGramDf vocabulary rather than an underestimate over the
    * full one. Raising `maxGramDf` trades candidate fan-out
    * (maxGramDf² pairs per gram) for cap recall, monotonically.
    * (shuffle-hash on identical exchanges → the index pipeline
    * computes once), and count shared grams per pair in the same
    * aggregation that dedups. Containments are EXACT integer micros
    * (`shared·10^6 div |capped grams|`) — hash-certifiable, no float
    * slop.
    *
    * @return (id_a, id_b, shared, contain_a_micro, contain_b_micro)
    *         for pairs (id_a < id_b) where either direction reaches
    *         `minContainMicro`; documents whose capped gram set is
    *         empty cannot appear */
  def containmentPairs(df: DataFrame, idCol: String, text: Column,
                       k: Int, minContainMicro: Long,
                       maxGramDf: Long): DataFrame = {
    require(minContainMicro >= 0 && minContainMicro <= 1000000L,
      "minContainMicro is a micro-fraction in [0, 1e6]")
    require(maxGramDf >= 1, "maxGramDf must be >= 1")
    val grams = df.select(col(idCol).as("id"),
      explode(shingles(text, k)).as("gram"))
    val keptGrams = grams.groupBy("gram")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxGramDf)
      .select("gram")
    // both joins key on gram: the groupBy above already shuffled on
    // it, so the semi-join and the pair join reuse that partitioning
    val kept = grams.join(keptGrams, Seq("gram"), "left_semi")
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("__sz"))
    kept.as("a").hint("shuffle_hash")
      .join(kept.as("b").hint("shuffle_hash"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("id_a"), col("__sz").as("__sa")),
        "id_a")
      .join(sizes.select(col("id").as("id_b"), col("__sz").as("__sb")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("shared"),
        expr("shared * 1000000L div __sa").as("contain_a_micro"),
        expr("shared * 1000000L div __sb").as("contain_b_micro"))
      .filter(greatest(col("contain_a_micro"),
        col("contain_b_micro")) >= minContainMicro)
  }
}
