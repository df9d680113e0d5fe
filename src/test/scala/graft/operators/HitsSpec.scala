package graft.operators

import graft.SparkTestBase

class HitsSpec extends SparkTestBase {
  import spark.implicits._

  /** Single-threaded integer HITS reference mirroring the operator's
    * documented recurrence (max-entry rescale, Gauss-Seidel order,
    * multi-edges NOT collapsed — the operator leaves that to the
    * caller). */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
                        scale: Long): Map[Long, (Long, Long)] = {
    val e = edges
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val aRaw = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map(t => hub(t._1)).sum
      }
      val aMax = aRaw.values.max
      auth = nodes.map(n => n -> aRaw.getOrElse(n, 0L) * scale / aMax).toMap
      val hRaw = e.groupBy(_._1).map { case (u, es) =>
        u -> es.map(t => auth(t._2)).sum
      }
      val hMax = hRaw.values.max
      hub = nodes.map(n => n -> hRaw.getOrElse(n, 0L) * scale / hMax).toMap
    }
    nodes.map(n => n -> (hub(n), auth.getOrElse(n, 0L))).toMap
  }

  private def run(es: Seq[(Long, Long)], iters: Int, interval: Int = 5)
      : Map[Long, (Long, Long)] =
    Hits.run(es.toDF("src", "dst"), iters, checkpointInterval = interval)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap

  test("a pure hub and a pure authority separate in one iteration") {
    // 0 points at everything (hub); 9 is pointed at by everything (auth)
    val es = Seq((0L, 9L), (0L, 8L), (1L, 9L), (2L, 9L))
    val got = run(es, 1)
    assert(got == reference(es, 1, 1000000L))
    val (h0, _) = got(0L)
    val (_, a9) = got(9L)
    assert(h0 == 1000000L, "the broadest out-fan holds the max hub score")
    assert(a9 == 1000000L, "the broadest in-fan holds the max authority")
    assert(got(9L)._1 == 0L, "no out-edges -> hub 0")
    assert(got(0L)._2 == 0L, "no in-edges -> auth 0")
  }

  test("matches the reference on random graphs at several depths") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3; iters <- Seq(1, 2, 5)) {
      val es = Seq.fill(60)(
        (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      assert(run(es, iters) == reference(es, iters, 1000000L),
        s"trial=$trial iters=$iters")
    }
  }

  test("checkpoint cadence is result-invariant") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(60)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
    val expected = reference(es, 5, 1000000L)
    for (interval <- Seq(1, 2, 5))
      assert(run(es, 5, interval) == expected, s"interval=$interval")
  }

  test("an edgeless side is rejected with a clear message") {
    val ex = intercept[IllegalArgumentException] {
      run(Seq.empty, 1)
    }
    assert(ex.getMessage.contains("no edges"))
  }
}
