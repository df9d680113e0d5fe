package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForcePairs]] / [[bruteForceTopK]]: exact cosine, O(n²)
  *    cross join — the correctness baseline, bounded corpora only.
  *  - [[lshBucketTopK]]: random-hyperplane LSH — sign-bit signature
  *    buckets the vectors, the quadratic step runs within buckets only.
  *    This is the 100 TB path: signature derivation is a scan
  *    projection; one shuffle on the bucket key.
  *
  * All arithmetic is promoted to double before accumulation
  * (float32 -> float64 is exact) and folds left-to-right, so results
  * are bit-deterministic. The dot product and signature loops run as
  * native codegen'd expressions ([[graft.plans.DotProductExpr]] /
  * [[graft.plans.LshSigExpr]]) — Spark's higher-order functions are
  * interpreted per lambda application, which dominated per-pair scoring
  * before the native forms (bit-equality locked by
  * VectorHashExpressionsSpec).
  */
object Similarity {

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  private def native(fn: String, args: Column*): Column =
    GraftExtensions.nativeFn(fn, args: _*)

  /** Reference HOF form of [[dot]] — kept as the spec cross-check for
    * the native expression. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column = native("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** All pairs (idA < idB) with cosine similarity. */
  def bruteForcePairs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id_a"), col(vecCol).as("va")).crossJoin(
        df.select(col(idCol).as("id_b"), col(vecCol).as("vb")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb")).as("cos"))

  /** Global top-k most-similar pairs (ties broken on ids). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame =
    bruteForcePairs(df, idCol, vecCol)
      .orderBy(desc("cos"), asc("id_a"), asc("id_b"))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component in [-1, 1) for
    * (plane, dim): delegates to the single source of truth in
    * [[graft.plans.VectorOps.planeComponent]] (the native signature
    * expression builds its plane matrix from the same function). */
  private[operators] def planeComponent(plane: Int, d: Int): Double =
    graft.plans.VectorOps.planeComponent(plane, d)

  /** Reference HOF form of the signature — kept as the spec
    * cross-check for the native expression. */
  private[graft] def lshSignatureHof(v: Column, numPlanes: Int,
                                         dims: Int,
                                         planeOffset: Int = 0): Column = {
    val bits = (0 until numPlanes).map { p =>
      val planeRow = typedlit(
        (1 to dims).map(d => planeComponent(planeOffset + p, d)))
      val proj = aggregate(
        zip_with(v, planeRow, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Sign-bit LSH signature over a float/double array column of exactly
    * `dims` elements; `planeOffset` selects an independent plane family
    * (multi-table). The plane matrix is built once at plan time and the
    * projection loop is a single codegen'd native call per row. */
  def lshSignatureFromDoubles(v: Column, numPlanes: Int, dims: Int,
                              planeOffset: Int = 0): Column =
    native("graft_lsh_sig", v, lit(planeOffset), lit(numPlanes), lit(dims))

  /** Sign-bit LSH signature with `numPlanes` hyperplanes. */
  def lshSignature(vecCol: Column, numPlanes: Int, dims: Int = 64): Column =
    lshSignatureFromDoubles(vecCol, numPlanes, dims)

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest
    * cells and ranks candidates by exact cosine. The 100 TB shape:
    * training samples the corpus (driver-side [[KMeansLite]], nlist
    * centroids only — the FAISS recipe), assignment is a scan
    * projection against broadcast centroids, and the candidate join
    * shuffles on the cell id.
    *
    * Deterministic: fixed seed, fixed init, deterministic input order
    * from the id sort. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 2,
              trainSampleLimit: Int = 10000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    ivfSearchIndex(base,
      buildIvfIndex(df, idCol, vecCol, nlist, trainSampleLimit),
      k, nprobe, excludeSelf = true)
  }

  /** Prebuilt IVF index: coarse cell assignment for the whole corpus
    * (persist `assigned` to pay the assignment scan once across query
    * batches) plus the driver-side centroids. */
  final case class IvfIndex(assigned: DataFrame,
                            coarse: Array[Array[Double]], nlist: Int) {
    def persisted(): IvfIndex = copy(assigned = assigned.persist())
    def unpersist(): Unit = { assigned.unpersist(); () }
  }

  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16,
                    trainSampleLimit: Int = 10000): IvfIndex = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val centroids = KMeansLite.fit(trainSample(base, trainSampleLimit),
      nlist)
    // c2 = |c|^2 precomputed: argmin ||v-c||^2 == argmin(|c|^2 - 2 v.c)
    // — one native dot per (vector, centroid), |v|^2 constant per row;
    // rank 1 of the broadcast product is the cell ASSIGNMENT
    val assigned = rankCells(base,
        centroidFrame(corpus.sparkSession, centroids))
      .filter(col("probe_rank") === 1)
      .select("id", "v", "cell")
    IvfIndex(assigned, centroids, nlist)
  }

  /** Search a prebuilt [[IvfIndex]]: `queries` must carry (id, v)
    * columns; each query probes its `nprobe` nearest cells and ranks
    * the cells' members by exact cosine. */
  def ivfSearchIndex(queries: DataFrame, index: IvfIndex, k: Int,
                     nprobe: Int = 2,
                     excludeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = rankCells(queries,
        centroidFrame(index.assigned.sparkSession, index.coarse))
      .filter(col("probe_rank") <= nprobe)
      .select(col("id").as("query_id"), col("v").as("qv"), col("cell"))

    val joined = probes.join(index.assigned, Seq("cell"))
    val pairs = (if (excludeSelf)
        joined.filter(col("query_id") =!= col("id")) else joined)
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("cos"))
      // a neighbor can appear via multiple probed cells only if
      // assignment were ambiguous — cells are disjoint, so no dedup
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ ANN: the IVF coarse quantizer restricts each query to its
    * `nprobe` nearest cells, product-quantization codes rank the cell
    * candidates by asymmetric-distance (ADC) inner product, and only
    * the per-query top `rerank` survivors are re-ranked by exact
    * cosine.
    *
    * This is the memory-scale path past [[ivfTopK]]: after encoding,
    * the corpus candidate side carries `(id, cell, m codes)` — m small
    * ints per vector instead of 4*dims bytes — so the cell join
    * shuffles codes, not vectors, and full vectors are joined back
    * only for the bounded exact re-rank. Training (coarse centroids +
    * m sub-codebooks of `ksub` centroids) is driver-side on a bounded
    * sample (the FAISS recipe); encoding and ADC scoring are scan
    * projections of native dot products against plan-time literal
    * codebooks (m*ksub*dims/m doubles — KBs).
    *
    * Deterministic: seeded k-means, first-match argmin on exact
    * double equality (the min IS an element), id tie-breaks on both
    * rank windows. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, rerank: Int = 32,
                dims: Int = 64, trainSampleLimit: Int = 10000): DataFrame =
    ivfPqSearch(df, df, idCol, vecCol, k, nlist, nprobe, m, ksub,
      rerank, dims, trainSampleLimit, excludeSelf = true)

  /** Prebuilt IVF-PQ index: coarse assignment + PQ codes for the
    * whole corpus (pay the encode scan once — persist `assigned`, or
    * write it: it is (id, cell, m small ints) per vector, ~30x
    * smaller than the embeddings) plus the driver-side codebooks.
    * `vectors` is only consulted for the bounded exact re-rank. */
  final case class PqIndex(assigned: DataFrame, vectors: DataFrame,
                           coarse: Array[Array[Double]],
                           codebooks: Array[Array[Array[Double]]],
                           nlist: Int, m: Int, dsub: Int) {
    def persisted(): PqIndex =
      copy(assigned = assigned.persist(), vectors = vectors.persist())
    def unpersist(): Unit = {
      assigned.unpersist(); vectors.unpersist(); ()
    }
  }

  // ---- index persistence ----
  //
  // The 100 TB contract: the index is the artifact you KEEP. Building
  // signatures/codes rescans the corpus; a persisted index is (id,
  // cell, codes)-shaped parquet — ~30x smaller than the embeddings for
  // PQ — plus KB-scale driver-side centroids/codebooks, so every later
  // query batch pays a read of the small frames, never the corpus
  // scan. Loaded indexes search bit-identically to freshly built ones
  // (SimilaritySpec round-trip + the q_sim_ivf_loaded oracle).

  /** Serialize driver-side centroids as one row per (cell, centroid). */
  private def writeCentroids(spark: SparkSession,
                             coarse: Array[Array[Double]],
                             path: String): Unit = {
    import spark.implicits._
    coarse.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private def readCentroids(spark: SparkSession,
                            path: String): Array[Array[Double]] =
    spark.read.parquet(path).orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Assign a batch to FIXED centroids — the incremental step shared
    * by [[appendToIvfIndex]] and [[appendIvfIndex]]: the same rank-1
    * coarse assignment as [[buildIvfIndex]], no retraining. */
  private def assignToCentroids(batch: DataFrame, idCol: String,
                                vecCol: String,
                                coarse: Array[Array[Double]]): DataFrame =
    rankCells(batch.select(col(idCol).as("id"), col(vecCol).as("v")),
        centroidFrame(batch.sparkSession, coarse))
      .filter(col("probe_rank") === 1)
      .select("id", "v", "cell")

  /** Append a batch to a prebuilt [[IvfIndex]] WITHOUT retraining:
    * batch vectors take the rank-1 cell of the index's FIXED
    * centroids and union into `assigned` — corpus growth costs one
    * assignment scan of the batch, never a corpus re-scan or
    * re-train. Search over the appended index is exactly
    * [[ivfSearchIndex]] over (same centroids, old ∪ new assignments).
    * Centroid drift is caller policy: rebuild when the corpus
    * distribution moves; the centroids are the pay-once artifact. */
  def appendToIvfIndex(index: IvfIndex, batch: DataFrame, idCol: String,
                       vecCol: String): IvfIndex =
    index.copy(assigned = index.assigned.unionByName(
      assignToCentroids(batch, idCol, vecCol, index.coarse)))

  /** Write an [[IvfIndex]] under `path` (overwrites): `assigned/`
    * parquet partitioned by cell — the cell join prunes to the probed
    * cells' files — plus `centroids/`. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assigned")
    writeCentroids(index.assigned.sparkSession, index.coarse,
      s"$path/centroids")
  }

  /** PERSISTED incremental append: assign `batch` to the centroids
    * stored under `path` and write the assignments as an idempotent
    * `delta_<tag>/` sibling of `assigned/` (same cell-partitioned
    * layout; overwrite per tag, so a replayed batch rewrites its own
    * delta instead of duplicating rows — the exactly-once protocol of
    * [[graft.streaming.StreamingIngest.screenMediaIngest]]'s index
    * admissions). [[loadIvfIndex]] sees base + every delta. */
  def appendIvfIndex(spark: SparkSession, path: String, batch: DataFrame,
                     idCol: String, vecCol: String, tag: String): Unit = {
    val dir = IndexStore.deltaDir(path, tag)
    val coarse = readCentroids(spark, s"$path/centroids")
    assignToCentroids(batch, idCol, vecCol, coarse)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
  }

  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val coarse = readCentroids(spark, s"$path/centroids")
    // normalize column order (partitionBy moves `cell` last on disk)
    IvfIndex((s"$path/assigned" +: IndexStore.deltaDirs(spark, path))
      .map(p => spark.read.parquet(p).select("id", "v", "cell"))
      .reduce(_ unionByName _), coarse, coarse.length)
  }

  /** Write a [[PqIndex]] under `path` (overwrites): `assigned/`
    * (id, cell, codes — the compact searchable core) partitioned by
    * cell, `vectors/` (only consulted for the bounded exact re-rank),
    * `centroids/`, and `codebooks/` as (subspace, code, centroid)
    * rows. m/dsub/nlist are recovered from the shapes. */
  def savePqIndex(index: PqIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assigned")
    index.vectors.write.mode("overwrite").parquet(s"$path/vectors")
    writeCentroids(spark, index.coarse, s"$path/centroids")
    index.codebooks.zipWithIndex.toSeq.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cen, c) => (j, c, cen.toSeq) }
    }.toDF("subspace", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** PERSISTED incremental PQ append: encode `batch` against the
    * frozen artifacts stored under `path` and write (assigned,
    * vectors) as an idempotent `delta_<tag>/` — the
    * [[appendIvfIndex]] protocol; a replayed batch rewrites its own
    * delta. [[loadPqIndex]] sees base + every delta. */
  def appendPqIndex(spark: SparkSession, path: String, batch: DataFrame,
                    idCol: String, vecCol: String, tag: String): Unit = {
    val dir = IndexStore.deltaDir(path, tag)
    val ix = loadPqIndex(spark, path) // artifacts only; frames stay lazy
    val base = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
    encodePq(base, ix.coarse, ix.codebooks, ix.m, ix.dsub)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned")
    base.write.mode("overwrite").parquet(s"$dir/vectors")
  }

  def loadPqIndex(spark: SparkSession, path: String): PqIndex = {
    val coarse = readCentroids(spark, s"$path/centroids")
    val codebooks = spark.read.parquet(s"$path/codebooks")
      .orderBy("subspace", "code").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toArray).toArray
    val deltas = IndexStore.deltaDirs(spark, path)
    PqIndex(
      (s"$path/assigned" +: deltas.map(d => s"$d/assigned"))
        .map(p => spark.read.parquet(p).select("id", "cell", "codes"))
        .reduce(_ unionByName _),
      (s"$path/vectors" +: deltas.map(d => s"$d/vectors"))
        .map(p => spark.read.parquet(p).select("id", "v"))
        .reduce(_ unionByName _),
      coarse, codebooks, coarse.length, codebooks.length,
      codebooks.head.head.length)
  }

  /** Fold base + every delta into fresh delta-free indexes at
    * `newPath` — COPY-ON-WRITE like the sketch-index family (see
    * [[graft.operators.IndexStore]]: in-place compaction is an
    * unclosable crash window; the caller's path swap is the atomic
    * boundary). Centroid assignment is deterministic, so the
    * compacted index searches identically (IndexCompactionSpec). */
  def compactIvfIndex(spark: SparkSession, oldPath: String,
                      newPath: String): Unit = {
    IndexStore.requireCopyOnWrite(oldPath, newPath)
    saveIvfIndex(loadIvfIndex(spark, oldPath), newPath)
  }

  /** PQ twin of [[compactIvfIndex]] — codebooks/centroids carry over,
    * assigned/vectors fold. */
  def compactPqIndex(spark: SparkSession, oldPath: String,
                     newPath: String): Unit = {
    IndexStore.requireCopyOnWrite(oldPath, newPath)
    savePqIndex(loadPqIndex(spark, oldPath), newPath)
  }

  private def centroidFrame(spark: SparkSession,
                            coarse: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    coarse.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) }
      .toDF("cell", "centroid", "c2")
  }

  // rank coarse cells per vector: probe_rank 1 = assignment
  private def rankCells(side: DataFrame, centDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    side.crossJoin(broadcast(centDf))
      .withColumn("rank_dist",
        col("c2") - lit(2.0) * dot(col("v"), col("centroid")))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy("id").orderBy(asc("rank_dist"), asc("cell"))))
  }

  private def subv(v: Column, dsub: Int, j: Int): Column =
    slice(v, j * dsub + 1, dsub)

  /** Driver-side bounded training sample of an (id, v) frame — the
    * single collect in the index builders (the FAISS recipe: train on
    * a dim-table-sized sample, assign distributed). */
  private def trainSample(base: DataFrame,
                          limit: Int): Array[Array[Double]] =
    base.orderBy("id").limit(limit).select("v").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                   dims: Int = 64,
                   trainSampleLimit: Int = 10000): PqIndex = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val dsub = dims / m
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))

    val sample: Array[Array[Double]] = trainSample(base, trainSampleLimit)
    require(sample.nonEmpty, "PQ training requires a non-empty corpus")
    // fail fast on a dims/vector-length mismatch: subv slices past the
    // array end return short arrays and ADC scores silently degrade
    require(sample.head.length == dims,
      s"dims=$dims but corpus vectors have length ${sample.head.length}")
    val coarse = KMeansLite.fit(sample, nlist)
    // per-subspace codebooks over raw subvectors (IP-ADC form: the
    // score reconstructs <q, x~> subspace by subspace)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      KMeansLite.fit(sample.map(_.slice(j * dsub, (j + 1) * dsub)), ksub,
        seed = 42L + j)
    }

    PqIndex(encodePq(base, coarse, codebooks, m, dsub), base,
      coarse, codebooks, nlist, m, dsub)
  }

  /** Encode (id, v) rows against FROZEN coarse centroids + codebooks:
    * (id, cell, codes) — the shared assignment/encode step of
    * [[buildPqIndex]] and the PQ appends. Vectors do NOT pass this
    * point. code_j = argmin_c ||v_j - c||^2 = argmin_c (|c|^2 -
    * 2<v_j, c>). */
  private def encodePq(base: DataFrame, coarse: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]],
                       m: Int, dsub: Int): DataFrame = {
    def codeFor(j: Int): Column = {
      // codebooks may hold < ksub centroids on tiny training samples
      val dists = array(codebooks(j).map { cen =>
        lit(cen.map(x => x * x).sum) -
          lit(2.0) * dot(subv(col("v"), dsub, j), typedlit(cen.toSeq))
      }.toIndexedSeq: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    rankCells(base, centroidFrame(base.sparkSession, coarse))
      .filter(col("probe_rank") === 1)
      .withColumn("codes", array((0 until m).map(codeFor): _*))
      .select("id", "cell", "codes")
  }

  /** Append a batch to a prebuilt [[PqIndex]] WITHOUT retraining:
    * batch vectors are assigned and PQ-encoded against the FROZEN
    * coarse centroids and codebooks — the [[appendToIvfIndex]]
    * contract extended to codes. Quantization drift (codebooks
    * trained before the batch existed) is caller policy, as for
    * centroids: rebuild when the corpus distribution moves. */
  def appendToPqIndex(index: PqIndex, batch: DataFrame, idCol: String,
                      vecCol: String): PqIndex = {
    val base = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
    index.copy(
      assigned = index.assigned.unionByName(
        encodePq(base, index.coarse, index.codebooks, index.m, index.dsub)),
      vectors = index.vectors.unionByName(base))
  }

  /** Search a prebuilt [[PqIndex]]: `queries` must carry (id, v)
    * columns; each query probes its `nprobe`
    * nearest cells, ranks the cells' CODES by ADC inner product, and
    * exact-cosine re-ranks the top `rerank`. Per-query cost is
    * corpus/nlist * nprobe code lookups plus `rerank` re-ranks —
    * linear in the corpus, independent of query-set size, and the
    * corpus encode is already paid. */
  def pqSearchIndex(queries: DataFrame, index: PqIndex, k: Int,
                    nprobe: Int = 4, rerank: Int = 32,
                    excludeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = index.vectors.sparkSession
    val probes = rankCells(queries, centroidFrame(spark, index.coarse))
      .filter(col("probe_rank") <= nprobe)
      .select(col("id").as("query_id"), col("v").as("qv"), col("cell"))

    // ADC: look the sub-centroid up in the literal codebook by code
    val adcIp = (0 until index.m).map { j =>
      dot(subv(col("qv"), index.dsub, j),
        element_at(typedlit(index.codebooks(j).map(_.toSeq).toSeq),
          element_at(col("codes"), j + 1) + 1))
    }.reduce(_ + _)
    val joined = probes.join(index.assigned, Seq("cell"))
    val short = (if (excludeSelf)
        joined.filter(col("query_id") =!= col("id")) else joined)
      .withColumn("adc_ip", adcIp)
      .withColumn("adc_rank", row_number().over(Window
        .partitionBy("query_id").orderBy(desc("adc_ip"), asc("id"))))
      .filter(col("adc_rank") <= rerank)
      .select(col("query_id"), col("qv"), col("id").as("neighbor_id"))

    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    short
      .join(index.vectors.select(col("id").as("neighbor_id"),
        col("v").as("nv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Queries-vs-corpus IVF-PQ — build-and-search in one call; see
    * [[buildPqIndex]]/[[pqSearchIndex]] for the pay-once form. */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int,
                  nlist: Int = 16, nprobe: Int = 4,
                  m: Int = 8, ksub: Int = 16, rerank: Int = 32,
                  dims: Int = 64, trainSampleLimit: Int = 10000,
                  excludeSelf: Boolean = false): DataFrame =
    pqSearchIndex(
      queries.select(col(idCol).as("id"), col(vecCol).as("v")),
      buildPqIndex(corpus, idCol, vecCol, nlist, m, ksub, dims,
        trainSampleLimit),
      k, nprobe, rerank, excludeSelf)

  /** Same-bucket pairs with exact cosine — the shared candidate
    * generator for LSH top-k and cosine near-dup dedup.
    *
    * Multi-table (OR-amplified) LSH: `tables` independent signatures of
    * `numPlanes` sign bits each; a pair is a candidate if ANY table
    * agrees (recall 1-(1-p^numPlanes)^tables for per-plane agreement
    * p = 1 - angle/pi). One posexplode + one shuffle on
    * (table, signature); cosine computed once per distinct pair.
    *
    * `probes = 1` enables MULTI-PROBE: one side of the self-join also
    * emits every single-bit flip of each table signature, so a pair is
    * a candidate when a table's signatures agree within Hamming
    * distance 1 — per-table hit probability rises from p^k to
    * p^k + k*p^(k-1)*(1-p), which for threshold-adjacent corpora (the
    * q_dedup_embedding pathology: marginal pairs with per-plane
    * agreement ~0.5-0.7) buys the recall of ~3-4 extra tables for a
    * (k+1)-row probe-side fan-out of ONE table — fewer tables means
    * fewer band rows shuffled and fewer background collisions at the
    * same recall floor. The flip set is generated at the scan (no
    * extra shuffle); the probe side alone fans out, the build side
    * stays one row per (id, table). */
  def lshBucketPairs(df: DataFrame, idCol: String, vecCol: String,
                     numPlanes: Int = 4, tables: Int = 6,
                     dims: Int = 64, probes: Int = 0): DataFrame = {
    // the native signature expression widens float elements inline —
    // no materialized double-cast copy of the vector is needed
    val sigs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"), array((0 until tables).map { t =>
        lshSignatureFromDoubles(col("v"), numPlanes, dims, t * numPlanes)
      }: _*).as("__sigs"))
    val banded = sigs.select(col("id"),
      posexplode(col("__sigs"))).toDF("id", "table", "sig")
    // candidate pairs carry only ids through the dedup shuffle; vectors
    // join back afterwards (broadcast/AQE-chosen) — never shuffle
    // vectors per band collision. Norms are precomputed per vector so
    // the per-pair cost is one dot product plus a scalar divide.
    val vecs = sigs.select(col("id"), col("v"))
      .withColumn("n", norm(col("v")))
    // multi-probe: the a-side emits sig plus its single-bit flips;
    // every ordered pair (a < b) is still checked once per table
    val probeSide =
      if (probes <= 0) banded
      else banded.select(col("id"), col("table"),
        explode(array((col("sig") +: (0 until numPlanes).map(p =>
          col("sig").bitwiseXOR(lit(1L << p)))): _*)).as("sig"))
    // shuffle-hash self-join: identical exchanges -> signature pipeline
    // computed once (ReusedExchange); right plan shape at corpus scale
    probeSide.as("a").hint("shuffle_hash")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.table") === col("b.table") && col("a.sig") === col("b.sig") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_lo"), col("b.id").as("id_hi"))
      .distinct()
      .join(vecs.withColumnRenamed("id", "id_lo")
        .withColumnRenamed("v", "va").withColumnRenamed("n", "na"), "id_lo")
      .join(vecs.withColumnRenamed("id", "id_hi")
        .withColumnRenamed("v", "vb").withColumnRenamed("n", "nb"), "id_hi")
      .select(col("id_lo"), col("id_hi"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      // emit both directions so per-query top-k sees every neighbor
      .select(explode(array(
          struct(col("id_lo").as("query_id"), col("id_hi").as("neighbor_id"),
            col("cos")),
          struct(col("id_hi").as("query_id"), col("id_lo").as("neighbor_id"),
            col("cos")))).as("p"))
      .select(col("p.query_id"), col("p.neighbor_id"), col("p.cos"))
  }

  def lshBucketTopK(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, numPlanes: Int = 4, tables: Int = 6,
                    dims: Int = 64, probes: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    lshBucketPairs(df, idCol, vecCol, numPlanes, tables, dims, probes)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
