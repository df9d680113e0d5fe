package graft.operators

import java.io.File
import scala.io.Source
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.SparkTestBase

/** [[Iterate]] owns the lineage policy of the ten iterative operators:
  * every frame they persist is released when they return or throw, and
  * no loop site persists or checkpoints on its own. */
class IterateSpec extends SparkTestBase {
  import spark.implicits._

  private def edges = Seq[(Long, Long)](
    (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 6)).toDF("src", "dst")
  private def weighted(w: Long) =
    Seq[(Long, Long, Long)]((0, 1, 2), (1, 2, w), (2, 0, 1))
      .toDF("src", "dst", "w")
  private def sources = Seq(0L).toDF("node")
  private def vectors = Seq[(Long, Seq[Float])](
    (1, Seq(1f, 0f, 0f)), (2, Seq(0.9f, 0.1f, 0f)), (3, Seq(0f, 1f, 0f)),
    (4, Seq(0f, 0.2f, 1f)), (5, Seq(0.5f, 0.5f, 0.1f)))
    .toDF("vec_id", "embedding")

  /** Each operator on a tiny input, at intervals that take the cadence
    * cut, the persist rule and the final cut. */
  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "Bfs" -> (() => Bfs.hops(edges, sources, maxHops = 4,
      checkpointInterval = 2)),
    "Hits" -> (() => Hits.run(edges, iters = 3, checkpointInterval = 2)),
    "KCore" -> (() => KCore.peel(edges, k = 2, rounds = 3,
      checkpointInterval = 2)),
    "LabelProp" -> (() => LabelProp.run(edges, rounds = 3,
      checkpointInterval = 2)),
    "Sssp" -> (() => Sssp.bounded(weighted(1), sources, maxHops = 3)),
    "PageRank" -> (() => PageRank.run(edges, iters = 3,
      checkpointInterval = 2)),
    "PowerIteration" -> (() => PowerIteration.dominantDirection(
      vectors, "embedding", dims = 3, iters = 3)),
    "KCenter" -> (() => KCenter.greedy(vectors, "vec_id", "embedding", 3)),
    "BpeTrain" -> (() => BpeTrain.train(
      Seq(("abab", 3L), ("abc", 2L)).toDF("word", "cnt"), merges = 2)._2),
    "Dedup.nearDupClusters" -> (() => Dedup.nearDupClusters(
      Seq[(Long, Long)]((1, 2), (2, 3), (5, 6)).toDF("id_a", "id_b"),
      jumpAfter = 1)))

  private def cacheIsEmpty = spark.sharedState.cacheManager.isEmpty

  for ((name, run) <- operators)
    test(s"$name leaves no cached frame after it returns") {
      spark.catalog.clearCache()
      assert(run().collect().nonEmpty)
      assert(cacheIsEmpty, s"$name left a cached frame")
    }

  for ((name, run, message) <- Seq[(String, () => DataFrame, String)](
      ("Sssp with a negative weight",
        () => Sssp.bounded(weighted(-1), sources, maxHops = 3),
        "non-negative"),
      ("Hits on an edgeless graph",
        () => Hits.run(Seq.empty[(Long, Long)].toDF("src", "dst"), 2),
        "no edges")))
    test(s"$name fails without leaving a cached frame") {
      spark.catalog.clearCache()
      val ex = intercept[IllegalArgumentException](run())
      assert(ex.getMessage.contains(message))
      assert(cacheIsEmpty, s"$name left a cached frame")
    }

  test("a zero checkpoint interval is rejected before any work") {
    val ex = intercept[IllegalArgumentException] {
      Iterate(checkpointInterval = 0)(_ => fail("body ran"))
    }
    assert(ex.getMessage.contains("checkpointInterval must be >= 1"))
  }

  test("unpersist on a local checkpoint releases nothing (why no loop " +
      "calls it)") {
    val sc = spark.sparkContext
    for (eager <- Seq(true, false)) {
      val ck = spark.range(10).toDF("x").localCheckpoint(eager)
      assert(ck.count() == 10L)
      val id = ck.queryExecution.logical.collectFirst {
        case r: LogicalRDD => r.rdd.id
      }.get
      assert(sc.getPersistentRDDs.contains(id), s"eager=$eager")
      ck.unpersist()
      assert(sc.getPersistentRDDs.contains(id), s"eager=$eager")
    }
  }

  test("no loop site persists or checkpoints outside Iterate") {
    // the method's own text, comments stripped: from its `def` to the
    // first closing brace at member indentation
    def code(file: String, method: Option[String]): String = {
      val f = new File(s"src/main/scala/graft/operators/$file")
      assert(f.isFile, s"run from the repo root: ${f.getAbsolutePath}")
      val src = Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      val stripped = text.replaceAll("""(?s)/\*.*?\*/""", "")
        .replaceAll("//[^\n]*", "")
      method.fold(stripped) { m =>
        val from = stripped.indexOf(s"def $m(")
        assert(from >= 0, s"$file has no def $m")
        stripped.substring(from, stripped.indexOf("\n  }\n", from))
      }
    }
    val sites = Seq("Bfs", "Hits", "KCore", "LabelProp", "Sssp",
      "PageRank", "PowerIteration", "KCenter", "BpeTrain")
      .map(o => (s"$o.scala", None)) :+
      (("Dedup.scala", Some("nearDupClusters")))
    val call = """\.\s*(localCheckpoint|persist|unpersist)\s*\(""".r
    val offenders = sites.flatMap { case (file, method) =>
      call.findAllIn(code(file, method)).map(c => s"$file: $c")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
