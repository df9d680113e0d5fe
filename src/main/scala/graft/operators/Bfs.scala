package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances over a directed edge list — the
  * iterative-frontier workload shape (each round: one equi-join
  * frontier⋈edges + one anti-join against the settled set), in exact
  * integer hops so a distributed run is hash-certifiable against a
  * recursive-CTE oracle.
  *
  * Semantics: `dist(node)` = minimum number of directed edges from any
  * source to `node`, capped at `maxHops`; unreachable nodes are ABSENT
  * from the result (no sentinel rows — at graph scale materializing
  * the unreached complement is the expensive nonsense).
  *
  * Scale shape: the frontier and settled set are partitioned on the
  * node key; each round shuffles only the frontier's out-neighborhood
  * (distinct-by-node before the anti-join, so a hub expanded from many
  * frontier nodes contributes ONE candidate row). The settled set
  * grows by union each round — exactly the lineage-accretion pattern
  * PageRank iteration hits — so it is eagerly `localCheckpoint`ed
  * every `checkpointInterval` rounds and at exit, keeping the physical
  * plan bounded at ANY depth. The per-round `count()` on the frontier
  * is the termination test (one node-set-bounded action per round,
  * the standard price of data-dependent iteration).
  */
object Bfs {

  /** @param edges   (src: long, dst: long) directed edge list
    * @param sources (node: long) source set (dist 0)
    * @param maxHops inclusive hop cap (≥ 0)
    * @param checkpointInterval eager-localCheckpoint cadence, ≥ 1 */
  def hops(edges: DataFrame, sources: DataFrame, maxHops: Int,
           checkpointInterval: Int = 5): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    Iterate(checkpointInterval) { it =>
      val e = it.hold(
        edges.select(col("src").cast("long"), col("dst").cast("long")))
      var settled = Iterate.cut(
        sources.select(col("node").cast("long")).distinct()
          .withColumn("dist", lit(0L)))
      var frontier = settled
      var h = 1
      var done = maxHops == 0
      while (!done) {
        // each wave is consumed >= 2x (union + next round's expansion +
        // the emptiness test), so materialize it eagerly; it's the
        // frontier, not the graph
        val next = Iterate.cut(frontier
          .join(e, frontier("node") === e("src"))
          .select(col("dst").as("node")).distinct()
          .join(settled, Seq("node"), "left_anti")
          .withColumn("dist", lit(h.toLong)))
        // the settled union chain (checkpointed waves) still accretes
        // one node per round — collapse it on cadence
        settled = it.cadence(h)(settled.union(next))
        frontier = next
        done = h == maxHops || frontier.isEmpty
        h += 1
      }
      Iterate.cut(settled)
    }
  }
}
