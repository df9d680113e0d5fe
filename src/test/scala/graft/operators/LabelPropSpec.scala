package graft.operators

import graft.SparkTestBase

class LabelPropSpec extends SparkTestBase {
  import spark.implicits._

  /** Single-threaded synchronous LPA reference: most-frequent neighbor
    * label, ties to the smallest label, isolated nodes keep theirs. */
  private def reference(edges: Seq[(Long, Long)], rounds: Int)
      : Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val nodes = und.map(_._1).distinct
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = nodes.map { n =>
        val votes = adj(n).map(lab).groupBy(identity)
          .map { case (l, ls) => (l, ls.size) }
        // max count, then smallest label
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lab
  }

  private def run(es: Seq[(Long, Long)], rounds: Int,
                  interval: Int = 5): Map[Long, Long] =
    LabelProp.run(es.toDF("src", "dst"), rounds,
        checkpointInterval = interval)
      .as[(Long, Long)].collect().toMap

  test("two cliques joined by a bridge converge to two communities") {
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)
    val es = cliqueA ++ cliqueB :+ ((3L, 10L))
    val got = run(es, 4)
    assert(got == reference(es, 4))
    // each clique interior settles on the clique's smallest id
    assert(Seq(0L, 1L, 2L).forall(got(_) == 0L))
    assert(Seq(11L, 12L, 13L).forall(got(_) == 10L))
  }

  test("round 0 is the identity labelling; self-loops are dropped") {
    val es = Seq((1L, 2L), (3L, 3L), (2L, 4L))
    assert(run(es, 0) == Map(1L -> 1L, 2L -> 2L, 4L -> 4L))
  }

  test("ties break toward the smallest label (star center, round 1)") {
    // center 5 sees labels {1, 2, 3} once each -> picks 1
    val es = Seq((5L, 1L), (5L, 2L), (5L, 3L))
    assert(run(es, 1)(5L) == 1L)
  }

  test("matches the reference on random graphs at several depths") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3; rounds <- Seq(1, 2, 3, 6)) {
      val es = Seq.fill(50)(
        (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      assert(run(es, rounds) == reference(es, rounds),
        s"trial=$trial rounds=$rounds")
    }
  }

  test("checkpoint cadence is result-invariant") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(50)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    val expected = reference(es, 6)
    for (interval <- Seq(1, 2, 5))
      assert(run(es, 6, interval) == expected, s"interval=$interval")
  }
}
