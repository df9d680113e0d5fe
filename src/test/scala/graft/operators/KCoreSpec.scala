package graft.operators

import graft.SparkTestBase

class KCoreSpec extends SparkTestBase {
  import spark.implicits._

  /** Single-threaded synchronous peel reference: each round removes
    * all nodes whose degree in the surviving subgraph is < k; output
    * is survivors with their degree after `rounds` rounds. */
  private def reference(edges: Seq[(Long, Long)], k: Int, rounds: Int)
      : Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    var alive = und.map(_._1).toSet
    def degrees(a: Set[Long]): Map[Long, Long] =
      und.filter(e => a(e._1) && a(e._2))
        .groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    for (_ <- 1 to rounds)
      alive = degrees(alive).filter(_._2 >= k).keySet
    degrees(alive)
  }

  private def run(es: Seq[(Long, Long)], k: Int, rounds: Int,
                  interval: Int = 3): Map[Long, Long] =
    KCore.peel(es.toDF("src", "dst"), k, rounds,
        checkpointInterval = interval)
      .as[(Long, Long)].collect().toMap

  test("a clique survives 3-core peeling; its pendant tail does not") {
    val clique = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val tail = Seq((3L, 10L), (10L, 11L))
    val got = run(clique ++ tail, 3, 4)
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("peeling cascades: removing the fringe re-exposes inner nodes") {
    // chain 0-1-2-3-4: 2-core peels it entirely, one end-pair per round
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(run(chain, 2, 0).values.toSeq.sorted == Seq(1L, 1L, 2L, 2L, 2L))
    assert(run(chain, 2, 1) == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(run(chain, 2, 2).isEmpty)
  }

  test("matches the reference on random graphs at several (k, rounds)") {
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 3; k <- Seq(2, 3); rounds <- Seq(1, 3, 6)) {
      val es = Seq.fill(70)(
        (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
      assert(run(es, k, rounds) == reference(es, k, rounds),
        s"trial=$trial k=$k rounds=$rounds")
    }
  }

  test("checkpoint cadence is result-invariant") {
    val rnd = new scala.util.Random(5)
    val es = Seq.fill(70)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
    val expected = reference(es, 2, 6)
    for (interval <- Seq(1, 2, 3))
      assert(run(es, 2, 6, interval) == expected, s"interval=$interval")
  }
}
