package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling over an undirected edge list — the
  * standard dense-subgraph screen (Seidman 1983): repeatedly delete
  * every node whose degree in the SURVIVING subgraph is below `k`.
  * The exact k-core is the fixpoint of that rule; this operator runs a
  * ''fixed'' number of synchronous peel rounds (all sub-`k` nodes
  * removed simultaneously each round) so the computation is a pure
  * function of (graph, k, rounds) that an unrolled SQL oracle can
  * replay — convergence detection would make the round count
  * data-dependent and the oracle inexpressible. Callers wanting the
  * true fixpoint pass `rounds` ≥ the graph's degeneracy peel depth
  * (each round removes at least one node until the fixpoint, so
  * `rounds = |V|` always suffices; in practice a handful of rounds
  * settles real graphs — the q_graph_kcore fixture converges in < 6).
  *
  * Scale shape: each round is two semi-joins (edges against the
  * surviving node set, shuffled on the endpoint keys) + one degree
  * aggregation with map-side partials — no driver-side state, and the
  * edge list shrinks monotonically. The surviving-set lineage accretes
  * one join layer per round, so it is eagerly `localCheckpoint`ed on
  * cadence (the [[PageRank]]/[[Bfs]] discipline), keeping the plan
  * bounded at any depth.
  */
object KCore {

  /** @param edges  (src: long, dst: long), read as undirected;
    *               self-loops dropped (a self-loop inflating its own
    *               degree is never wanted in core analysis)
    * @param k      minimum surviving degree (≥ 1)
    * @param rounds fixed synchronous peel rounds (≥ 0)
    * @param checkpointInterval eager-localCheckpoint cadence (≥ 1)
    * @return (node, core_deg) — nodes alive after `rounds` peels, with
    *         their degree inside the surviving subgraph */
  def peel(edges: DataFrame, k: Int, rounds: Int,
           checkpointInterval: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val und = e.union(e.select(col("dst"), col("src")))
      .toDF("s", "t").distinct()

    Iterate(checkpointInterval) { it =>
      val undP = it.hold(und)

      def degrees(alive: DataFrame): DataFrame =
        undP.join(alive.withColumnRenamed("node", "s"), Seq("s"), "left_semi")
          .join(alive.withColumnRenamed("node", "t"), Seq("t"), "left_semi")
          .groupBy(col("s").as("node"))
          .agg(count(lit(1)).as("core_deg"))

      // each round references the previous survivor set TWICE (both
      // semi-joins) — without a lazy persist per round the final plan
      // forks the whole prefix at every level and early rounds
      // re-execute 2^rounds times. persist() is lazy (no job per round;
      // the scheduler materializes each frame once inside the single
      // final action); the eager checkpoint cadence additionally
      // truncates lineage on deep runs.
      var alive = undP.select(col("s").as("node")).distinct()
      for (i <- 1 to rounds) {
        alive = it.cadence(i)(it.hold(degrees(alive)
          .filter(col("core_deg") >= k)
          .select("node")))
      }
      Iterate.cut(degrees(alive))
    }
  }
}
