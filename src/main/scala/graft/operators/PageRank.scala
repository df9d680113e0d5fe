package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch PageRank over an edge DataFrame — the iterative-join workload
  * shape (each iteration: one equi-join edges⋈ranks + one aggregation
  * by destination), in ''scaled integer arithmetic'' so the result is
  * bit-reproducible under any partitioning: floating-point PageRank
  * sums contributions in shuffle order, integer sums are
  * order-independent, which is what lets the DuckDB oracle certify a
  * distributed run value-for-value.
  *
  * Semantics (documented, certified by the oracle):
  *  - ranks start at `scale` per node; after each iteration
  *    `rank = (15 * scale) / 100 + (85 * Σ contrib) / 100` with
  *    integer division at each step (damping 0.85);
  *  - a node's contribution per out-edge is `rank div out_degree`
  *    (integer division — the dust below `out_degree` is dropped);
  *  - dangling nodes contribute nothing (their mass leaks, the
  *    standard simplification);
  *  - multi-edges must be pre-collapsed by the caller if unwanted.
  *
  * Scale: ranks and degrees are partitioned on the node key; each
  * iteration shuffles only (node, contrib) pairs with map-side
  * partial sums. The edge/degree/node frames are persisted once for
  * the whole run, and ranks are eagerly `localCheckpoint`ed every
  * `checkpointInterval` iterations (and at the end), truncating
  * lineage so the physical plan stays bounded at ANY iteration count
  * — without it, 20 iterations nest 20 joins into one plan tree and
  * planning cost (and task re-computation on failure) grows with the
  * iteration number, the classic iterative-Spark failure mode.
  * Checkpointing cannot change a single bit of the result: the
  * integer recurrence is a pure function of the checkpointed values.
  *
  * Overflow headroom is ENFORCED, not just documented: every
  * iteration's summed contribution `s` passes through an inline
  * codegen'd `assert_true(s <= Long.Max/85)` folded into the rank
  * expression (a no-op NULL when fine), so the `85 * s` multiply
  * fails loudly on the ACTUAL value instead of wrapping silently
  * under non-ANSI mode (ADVICE r8) — and it costs zero extra jobs,
  * unlike an up-front node-count bound. At the default scale the
  * headroom runs out around ~10^5 nodes of concentrated mass; pass a
  * smaller `scale` for bigger graphs (10^6 still gives 6 exact
  * decimal digits and admits ~9×10^10 nodes).
  */
object PageRank {

  /** @param edges (src: long, dst: long) edge list
    * @param iters fixed iteration count (PageRank certification runs
    *              unroll the same count in SQL)
    * @param scale integer fixed-point unit for rank 1.0
    * @param checkpointInterval eager-localCheckpoint cadence in
    *              iterations (lineage truncation; ≥ 1) */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
          checkpointInterval: Int = 5): DataFrame =
    core(edges, None, iters, scale, checkpointInterval)

  /** PERSONALIZED PageRank: the teleport mass lands only on
    * `sources` (a (node: long) frame) instead of uniformly — the
    * "relevance to this seed set" ranking (seed-expansion, related-
    * item graphs). Identical integer recurrence, except
    * `base_v = (15·scale)/100 · [v ∈ S]` and ranks start at
    * `scale · [v ∈ S]` — a pure function of (graph, S, iters), so the
    * unrolled-CTE oracle certifies it exactly like the uniform form.
    * Sources not present in the graph are ignored (they have no
    * edges to carry mass anyway). */
  def runPersonalized(edges: DataFrame, sources: DataFrame, iters: Int,
                      scale: Long = 1000000000000L,
                      checkpointInterval: Int = 5): DataFrame =
    core(edges, Some(sources), iters, scale, checkpointInterval)

  private def core(edges: DataFrame, sourcesOpt: Option[DataFrame],
                   iters: Int, scale: Long,
                   checkpointInterval: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(scale >= 1L, "scale must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // teleport membership rides the node frame as a boolean column
    // (broadcastable source set; uniform PageRank is the always-true
    // degenerate case, which folds back to the original constants)
    val nodes = sourcesOpt match {
      case None => nodes0.withColumn("__src", lit(true))
      case Some(srcDf) => nodes0
        .join(broadcast(srcDf.select(col("node").cast("long"))
            .distinct().withColumn("__m", lit(1))),
          Seq("node"), "left")
        .withColumn("__src", col("__m").isNotNull).drop("__m")
    }
    def initRank = when(col("__src"), lit(scale)).otherwise(lit(0L))
    val base = lit(15L * scale / 100L)
    // Inline headroom check on the actual sum (see object doc): NULL
    // (-> +0) when safe, loud error before the multiply can wrap.
    // Folded into the rank arithmetic so column pruning cannot drop it.
    val sLim = Long.MaxValue / 85L
    val sGuard = coalesce(
      assert_true(coalesce(col("s"), lit(0L)) <= lit(sLim),
        lit(s"pagerank overflow headroom: a node's summed contribution " +
          s"exceeded Long.Max/85 = $sLim at scale=$scale; lower `scale`"))
        .cast("long"),
      lit(0L))

    Iterate(checkpointInterval) { it =>
      // The persistence machinery (caches + checkpoint cadence) pays for
      // itself when the loop is long enough to take a checkpoint; below
      // the interval the lazy plan is ≤ interval joins deep — already
      // bounded — and the eager materializations are pure overhead
      // (measured 6× on the 3-iteration certification run, BENCH r9).
      val doPersist = iters >= checkpointInterval
      val eP = if (doPersist) it.hold(e) else e
      val nodesP = if (doPersist) it.hold(nodes) else nodes
      val deg = {
        val d = eP.groupBy("src").agg(count(lit(1)).as("out_deg"))
        if (doPersist) it.hold(d) else d
      }

      var ranks = nodesP.select(col("node"), initRank.as("rank"))
      for (i <- 1 to iters) {
        val contrib = eP
          .join(deg, "src")
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"),
            expr("rank div out_deg").as("contrib"))
          .groupBy("node")
          .agg(sum("contrib").as("s"))
        ranks = nodesP
          .join(contrib, Seq("node"), "left")
          .select(col("node"),
            // guard is the LEFT operand: addition evaluates left-to-
            // right, so the assert fires (clear message) before the
            // multiply can wrap (non-ANSI) or throw raw (ANSI)
            (when(col("__src"), base).otherwise(lit(0L)) + sGuard +
              expr("(85 * coalesce(s, 0L)) div 100"))
              .as("rank"))
        if (doPersist) ranks = it.cadence(i, last = i == iters)(ranks)
      }
      ranks.select("node", "rank")
    }
  }
}
