package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
  * list, in ''scaled integer arithmetic'': the textbook algorithm
  * normalizes by an L2 norm each iteration, which is
  * floating-point and therefore summation-order-dependent under a
  * shuffle; here each vector is rescaled so its MAXIMUM entry equals
  * `scale`, using integer division — order-independent, so a
  * distributed run is bit-reproducible and an unrolled SQL oracle can
  * certify it value-for-value (the same fixed-point discipline as
  * [[PageRank]]).
  *
  * Semantics per iteration, certified by the oracle:
  *  - `auth_raw(v) = Σ_{(u,v) ∈ E} hub(u)`, then
  *    `auth(v) = auth_raw(v) * scale div max(auth_raw)`;
  *  - `hub_raw(u) = Σ_{(u,v) ∈ E} auth(v)` (with the JUST-updated
  *    authorities — the standard Gauss-Seidel ordering), then
  *    `hub(u) = hub_raw(u) * scale div max(hub_raw)`;
  *  - hubs start at `scale`; nodes with no in-edges have authority 0,
  *    nodes with no out-edges have hub 0.
  *
  * Overflow headroom: values are ≤ `scale` after each rescale, so the
  * largest intermediate is `max_degree * scale * scale`; the default
  * `scale = 10^6` admits max-degree ~9×10^6 before a Long could wrap,
  * and the rescale step guards the actual product with an inline
  * codegen'd `assert_true` so exhaustion fails loudly (the
  * [[PageRank]] lesson, ADVICE r8).
  *
  * Scale shape: each half-iteration is one equi-join (edges ⋈ scores,
  * shuffled on the node key) + one sum aggregation with map-side
  * partials; the max is a single scalar aggregate (one tiny job per
  * half-iteration — the fixed price of normalized iteration). Edges
  * and the node set are persisted once; scores are eagerly
  * `localCheckpoint`ed on cadence so the plan stays bounded at any
  * iteration count.
  */
object Hits {

  /** @param edges (src: long, dst: long) directed edge list;
    *              multi-edges must be pre-collapsed if unwanted
    * @param iters fixed iteration count (≥ 1)
    * @param scale integer fixed-point unit for score 1.0
    * @param checkpointInterval eager-localCheckpoint cadence (≥ 1)
    * @return (node, hub, auth) — one row per node */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000L,
          checkpointInterval: Int = 5): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(scale >= 1L, "scale must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()

    Iterate(checkpointInterval) { it =>
      // edges/nodes are re-read by every half-iteration's checkpointed
      // job — persist unconditionally (unlike the rank-frame cadence,
      // this pays for itself from iteration 1)
      val doPersist = iters >= checkpointInterval
      val eP = it.hold(e)
      val nodesP = it.hold(nodes)
      // with >= 1 edge both raw frames are non-empty every iteration, so
      // the per-row guards below can actually fire; an empty graph would
      // otherwise degenerate to a silent empty result
      require(!eP.isEmpty,
        "hits: the graph has no edges — scores are all zero and the " +
          "max-rescale is undefined")

      val rawLim = Long.MaxValue / scale
      def rescaled(raw0: DataFrame, out: String): DataFrame = {
        // eager checkpoint: the raw frame is consumed by both the max
        // aggregate and the rescale join — without the cut the final
        // plan re-executes the entire iteration prefix per consumer
        // (the quadratic-re-evaluation trap of normalized iteration).
        // It must stay a CHECKPOINT, not a lazy persist (r20 probe): a
        // persist dedupes execution but leaves the logical plan intact,
        // and with two references per half-iteration the RENDERED plan
        // (SQL-listener execution-start events render it per action)
        // doubles per half-iteration — iters=5 OOM'd the test JVM in
        // explainString. localCheckpoint truncates the plan to a
        // LogicalRDD leaf immediately.
        val raw = Iterate.cut(raw0)
        // the max travels as a broadcast 1-row frame INSIDE the lazy
        // plan — a driver-side first() here would cost one extra job
        // per half-iteration; the zero/edgeless guard and the overflow
        // headroom check ride the same expression as inline
        // assert_trues (the PageRank discipline), zero extra jobs
        val maxF = raw.agg(max(col("raw")).as("__m"))
        val mGuard = coalesce(
          assert_true(col("__m").isNotNull && col("__m") > 0L,
            lit("hits: the graph has no edges feeding this side — " +
              "scores are all zero and the max-rescale is undefined"))
            .cast("long"),
          lit(0L))
        val guard = coalesce(
          assert_true(coalesce(col("raw"), lit(0L)) <= lit(rawLim),
            lit(s"hits overflow headroom: a summed score exceeded " +
              s"Long.Max/scale at scale=$scale; lower `scale`"))
            .cast("long"),
          lit(0L))
        nodesP.join(raw, Seq("node"), "left")
          .crossJoin(broadcast(maxF))
          .select(col("node"),
            // guards first (left-to-right), then exact integer rescale
            (mGuard + guard +
              expr(s"(coalesce(raw, 0L) * $scale) div __m")).as(out))
      }

      var hub = nodesP.withColumn("hub", lit(scale))
      var auth: DataFrame = null
      for (i <- 1 to iters) {
        val aRaw = eP
          .join(hub.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum("hub").as("raw"))
        auth = rescaled(aRaw, "auth")
        val hRaw = eP
          .join(auth.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum("auth").as("raw"))
        hub = rescaled(hRaw, "hub")
        if (doPersist) hub = it.cadence(i, last = i == iters)(hub)
      }
      Iterate.cut(hub.join(auth, Seq("node"), "left")
        .select(col("node"), col("hub"),
          coalesce(col("auth"), lit(0L)).as("auth")))
    }
  }
}
