package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density-based clustering over an embedding corpus — DBSCAN (Ester
  * et al. 1996) with the eps-neighborhood defined by cosine ≥
  * `threshold`, made DETERMINISTIC so a distributed run is
  * hash-certifiable: textbook DBSCAN's border assignment depends on
  * visit order (a border point within eps of two clusters joins
  * whichever was expanded first); here a border point joins the
  * SMALLEST cluster id among its core neighbors, a pure function of
  * the graph. Semantics, certified by the oracle:
  *  - core: |N_eps(p)| ≥ minPts, neighborhood counting p itself;
  *  - clusters: connected components of the core–core eps graph
  *    (labels = component minimum — [[Dedup.nearDupClusters]]); a
  *    core with no core neighbor is its own singleton cluster;
  *  - border: non-core with ≥ 1 core neighbor → min core cluster;
  *  - noise: everything else (cluster = −1).
  *
  * Scale shape: the eps graph comes from the LSH hyperplane bucket
  * join ([[Dedup.embeddingNearDups]] — candidates are bucket-confined,
  * never n²; callers pick (planes, tables, probes) so recall is
  * certain at their threshold, exactly the q_dedup_embedding
  * discipline). Everything after is degree counting, two semi-joins,
  * and the adaptive pointer-jumping components — no step denser than
  * the eps graph itself.
  */
object DensityCluster {

  /** [[dbscanCosine]] with the LSH geometry SIZED BY [[LshPlan]] from
    * the observed corpus size instead of caller-fixed constants — the
    * safe-by-construction entry (r10 verdict item 2: fixed planes at a
    * grown corpus is the measured spill-exhaustion mode). One count
    * job sizes `planes = planesFor(n, targetBucket)` and
    * `tables = tablesFor(threshold, planes, maxMissProb)`; at the
    * q_dbscan_embeddings gate's slice (n = 500, threshold 0.40,
    * targetBucket 64, 1e-6) this computes exactly the (3, 48) the gate
    * previously hard-coded, so the oracle is byte-identical. */
  def dbscanCosineAuto(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, minPts: Int, dims: Int = 64,
                       probes: Int = 0, targetBucket: Long = 64L,
                       maxMissProb: Double = 1e-6): DataFrame = {
    val n = df.select(idCol).count()
    val planes = LshPlan.planesFor(n, targetBucket)
    LshPlan.requireFit(planes, n, maxExpectedBucket = 4L * targetBucket)
    dbscanCosine(df, idCol, vecCol, threshold, minPts,
      numPlanes = planes,
      tables = LshPlan.tablesFor(threshold, planes, maxMissProb),
      dims = dims, probes = probes)
  }

  /** @return (id, role 'core'|'border'|'noise', cluster; −1 for noise)
    * @note callers fixing `numPlanes` at scale must size it against
    *       the corpus ([[LshPlan.planesFor]]/[[LshPlan.requireFit]], or
    *       use [[dbscanCosineAuto]]) — occupancy grows with n while a
    *       fixed plane count stands still. */
  def dbscanCosine(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, minPts: Int,
                   numPlanes: Int, tables: Int,
                   dims: Int = 64, probes: Int = 0): DataFrame = {
    require(minPts >= 1, "minPts must be >= 1")
    val pairs = Dedup.embeddingNearDups(df, idCol, vecCol, threshold,
        numPlanes, tables, dims = dims, probes = probes)
      .select("id_a", "id_b")
      .localCheckpoint(true) // consumed by degree, core edges, borders
    val und = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
    val deg = und.groupBy("id").agg(count(lit(1)).as("__n"))
    val roles = df.select(col(idCol).cast("long").as("id")).distinct()
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("__n"), lit(0L)) + 1L >= minPts).as("is_core"))
      .localCheckpoint(true)
    val coreIds = roles.filter(col("is_core")).select("id")
    val coreEdges = pairs
      .join(coreIds.withColumnRenamed("id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(coreIds.withColumnRenamed("id", "id_b"), Seq("id_b"),
        "left_semi")
    val comp = Dedup.nearDupClusters(coreEdges.select("id_a", "id_b"))
    // singleton cores (no core neighbor) cluster as themselves
    val coreClusters = coreIds
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val borderClusters = und
      .join(roles.filter(!col("is_core")), Seq("id"), "left_semi")
      .join(coreClusters.select(col("id").as("nb"),
        col("cluster")), "nb")
      .groupBy("id").agg(min("cluster").as("cluster"))
    roles
      .join(coreClusters.withColumnRenamed("cluster", "__cc"),
        Seq("id"), "left")
      .join(borderClusters.withColumnRenamed("cluster", "__bc"),
        Seq("id"), "left")
      .select(col("id"),
        when(col("is_core"), lit("core"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__cc"), col("__bc"), lit(-1L)).as("cluster"))
  }
}
