package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) over an
  * undirected edge list — the classic near-linear community heuristic
  * (Raghavan et al. 2007), made ''deterministic'' so a distributed run
  * is hash-certifiable: the usual LPA breaks frequency ties randomly,
  * which destroys reproducibility across partitionings; here ties
  * break on the SMALLEST label, and all nodes update simultaneously
  * from the previous round's labels (Jacobi-style), so the result is a
  * pure function of (graph, rounds) that an unrolled SQL oracle can
  * replay value-for-value.
  *
  * Semantics per round, certified by the oracle:
  *  - `label'(v)` = the most frequent label among `v`'s neighbors'
  *    CURRENT labels; ties on frequency break toward the smallest
  *    label value;
  *  - an isolated node (no neighbors) keeps its current label;
  *  - labels start as the node id.
  *
  * A fixed round count (not convergence detection) keeps the oracle
  * expressible as unrolled CTEs; synchronous LPA can two-cycle on
  * bipartite structures, which a fixed even/odd round count surfaces
  * deterministically rather than hiding.
  *
  * Scale shape: each round is one equi-join (labels ⋈ edges, shuffled
  * on the node key) + one count aggregation with map-side partial sums
  * + one per-node argmax — `max(struct(c, -label))`, a map-side-
  * combined aggregate, NOT a window (r15 skew audit: the previous
  * `row_number over partitionBy(node)` put all of a node's distinct
  * neighbor labels in one un-splittable window partition, so a
  * celebrity node with 10⁸-degree single-tasked; the struct-max
  * collapses per map task first — the scrub/spanDedup de-skew
  * pattern). No per-node state on the driver, no
  * collect. The undirected expansion and node set are persisted once
  * for the run; labels are eagerly `localCheckpoint`ed every
  * `checkpointInterval` rounds so the physical plan stays bounded at
  * any depth (same lineage discipline as [[PageRank.run]]/[[Bfs]]).
  */
object LabelProp {

  /** @param edges  (src: long, dst: long) edge list, read as
    *               undirected (both orientations are expanded here;
    *               self-loops are dropped — a self-vote is a no-op in
    *               max-frequency terms but would skew tie-breaks)
    * @param rounds fixed number of synchronous rounds (≥ 0)
    * @param checkpointInterval eager-localCheckpoint cadence (≥ 1) */
  def run(edges: DataFrame, rounds: Int,
          checkpointInterval: Int = 5): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val und = e.union(e.select(col("dst"), col("src")))
      .toDF("s", "t").distinct()
    val nodes = und.select(col("s").as("node")).distinct()

    Iterate(checkpointInterval) { it =>
      val undP = it.hold(und)
      val nodesP = it.hold(nodes)

      // each round references the previous labelling TWICE (the vote
      // join and the isolated-node carryover) — a lazy persist per round
      // keeps the final single-action plan from forking the whole
      // prefix at every level (2^rounds re-execution); the eager
      // checkpoint cadence additionally truncates lineage on deep runs
      var labels = nodesP.withColumn("label", col("node"))
      for (i <- 1 to rounds) {
        val votes = undP
          .join(labels.withColumnRenamed("node", "s"), "s")
          .groupBy(col("t").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
        // deterministic argmax (highest count, then SMALLEST label) as
        // min(struct(-c, label)): struct comparison is lexicographic,
        // and c >= 1 is a count so its negation is a safe order
        // reversal (labels themselves are never negated — they are
        // arbitrary ids). Map-side partial min ⇒ a celebrity node's
        // label votes collapse before the shuffle (no window partition).
        val winner = votes
          .groupBy("node")
          .agg(min(struct((-col("c")).as("nc"), col("label"))).as("__w"))
          .select(col("node"), col("__w.label").as("new_label"))
        labels = it.cadence(i)(it.hold(labels
          .join(winner, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("new_label"), col("label")).as("label"))))
      }
      Iterate.cut(labels)
    }
  }
}
