package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-depth single/multi-source shortest paths over an
  * integer-weighted directed edge list — distributed Bellman-Ford:
  * each round relaxes every edge out of the current distance frame
  * and min-combines, so after round `h` the frame holds
  * `dist_h(v) = min cost over walks of <= h edges from any source`.
  * Integer weights make every distance exact, so a bounded-depth run
  * is hash-certifiable against an unrolled walk-enumeration oracle
  * (the [[Bfs]] certification pattern, with weights).
  *
  * Semantics: `maxHops` bounds WALK LENGTH, not cost — the
  * fixed-depth DP every engine agrees on. Unreachable-within-depth
  * nodes are absent (no sentinel rows; materializing the unreached
  * complement is the expensive nonsense at graph scale). Negative
  * weights are rejected: with them a bounded-depth frame is not a
  * meaningful "shortest so far", and production Bellman-Ford would
  * additionally need the negative-cycle sweep.
  *
  * Scale shape: the distance frame is node-set-bounded (one row per
  * reached node) and is the ONLY thing that shuffles each round —
  * one equi-join against the cached edge frame plus one min-groupBy
  * on node. Each round's frame is eagerly `localCheckpoint`ed: the
  * frame is consumed by the next round's join AND union, and lineage
  * would otherwise double per round ([[PageRank]]/[[Bfs]] lesson).
  * A production variant would also keep a changed-node frontier to
  * relax only out-edges of nodes whose distance improved
  * (delta-stepping direction); at the certified depth the full-frame
  * relax is the simpler plan with identical output.
  */
object Sssp {

  /** @param edges   (src: long, dst: long, w: long >= 0) directed edges
    * @param sources (node: long) source set (dist 0)
    * @param maxHops inclusive walk-length cap (>= 0) */
  def bounded(edges: DataFrame, sources: DataFrame, maxHops: Int)
      : DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    Iterate() { it =>
      val e = it.hold(edges.select(col("src").cast("long"),
        col("dst").cast("long"), col("w").cast("long")))
      // fail loudly on a negative weight before any round trusts the
      // frame (one edge-bounded job, same cost class as the rounds)
      require(e.filter(col("w") < 0).isEmpty,
        "Sssp requires non-negative edge weights")
      var dist = Iterate.cut(sources.select(col("node").cast("long"))
        .distinct().withColumn("dist", lit(0L)))
      for (_ <- 1 to maxHops)
        dist = Iterate.cut(dist.join(e, dist("node") === e("src"))
          .select(e("dst").as("node"), (col("dist") + e("w")).as("dist"))
          .union(dist)
          .groupBy("node").agg(min("dist").as("dist")))
      dist
    }
  }
}
