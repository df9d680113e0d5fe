package graft.streaming


import graft.SparkTestBase
import graft.operators.BloomIndex

/** Correctness burden for the streaming Bloom membership screen
  * ([[ScreenStream]] — the streaming face of [[BloomIndex]]):
  *  1. through a REAL checkpointed file stream with a restart between
  *     files, the emitted set equals the exact batch anti-join —
  *     EXACTLY, on a fixture whose capacity makes false positives
  *     impossible in practice (deterministic: the filter hash family
  *     is seeded) — and cross-batch dedup flows through the banked
  *     deltas: a key new in file 1 is screened out of file 2;
  *  2. replay idempotence, both shapes foreachBatch's at-least-once
  *     contract allows: a full re-run of a committed batch rewrites
  *     identical output and an identical merged blob, and the
  *     crash-shape where the batch's DELTA landed but its output was
  *     lost still regenerates the correct output — because the screen
  *     excludes the batch's own tag (without that, the replayed
  *     screen would see its own keys and emit nothing). */
class ScreenStreamSpec extends SparkTestBase {

  import spark.implicits._

  test("file-stream screen with restart: emitted keys equal the exact " +
      "anti-join per batch, and a key banked by batch 1 is screened " +
      "out of batch 2 (dedup state crosses the restart via the index)") {
    val base = tempDir("graft-screenstream-e2e")
    val idx = s"$base/idx"
    // history: keys 1..100; capacity 50k for ~300 keys -> fp-free
    BloomIndex.saveBloomIndex(spark.range(1, 101).toDF("k"), $"k", idx,
      expectedItems = 50000L)
    def screen(): Unit =
      ScreenStream.screenNewKeys(
        spark.readStream.schema("k LONG").parquet(s"$base/in"),
        "k", idx, s"$base/ckpt", s"$base/out")
        .awaitTermination()
    // file 1 overlaps history: new = 101..150
    Replay.stageFile(spark.range(50, 151).toDF("k"), s"$base/in", "a.parquet")
    screen()
    val emittedA = spark.read.parquet(s"$base/out/new")
      .select("k").as[Long].collect().toSet
    assert(emittedA === (101L to 150L).toSet)
    // file 2 overlaps file 1: new = 151..200 ONLY — 100..150 were
    // banked by batch 0's delta, across the restart boundary
    Replay.stageFile(spark.range(100, 201).toDF("k"), s"$base/in", "b.parquet")
    screen()
    val all = spark.read.parquet(s"$base/out/new")
      .select($"k", $"batch".cast("string")).as[(Long, String)]
      .collect()
    assert(all.map(_._1).toSet === (101L to 200L).toSet)
    assert(all.groupBy(_._1).values.forall(_.length == 1),
      "no key may be emitted twice")
    assert(all.filter(_._2 == "b1").map(_._1).toSet ===
      (151L to 200L).toSet)
  }

  test("replay idempotence: a re-run batch rewrites identical output " +
      "and blob; the crash-shape with the delta landed but the output " +
      "lost still regenerates it (own-tag exclusion)") {
    val base = tempDir("graft-screenstream-replay")
    val idx = s"$base/idx"; val out = s"$base/out"
    BloomIndex.saveBloomIndex(spark.range(1, 101).toDF("k"), $"k", idx,
      expectedItems = 50000L)
    val batch = spark.range(90, 121).toDF("k")
    ScreenStream.screenBatch(batch, "k", idx, out, "b0")
    def emitted(): Set[Long] =
      spark.read.parquet(s"$out/new/batch=b0").as[Long].collect().toSet
    val first = emitted()
    assert(first === (101L to 120L).toSet)
    val (blob1, n1) = BloomIndex.loadMergedFilter(spark, idx)
    // full replay (checkpoint commit lost): output and blob identical
    ScreenStream.screenBatch(batch, "k", idx, out, "b0")
    assert(emitted() === first)
    val (blob2, n2) = BloomIndex.loadMergedFilter(spark, idx)
    assert(n1 === n2)
    assert(java.util.Arrays.equals(blob1, blob2))
    // crash shape: delta_b0 exists, output gone — the screen must see
    // the PRE-batch index (exclude its own tag) or it would emit {}
    val outPath = new org.apache.hadoop.fs.Path(s"$out/new/batch=b0")
    outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(outPath, true)
    ScreenStream.screenBatch(batch, "k", idx, out, "b0")
    assert(emitted() === first,
      "replay after a mid-batch crash must regenerate the same output")
  }
}
