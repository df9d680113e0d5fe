package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Correctness burden for the approximate-quantile index
  * ([[QuantileIndex]] — the seventh persisted-index family): the
  * sketch's ACCOUNTED worst-case rank bound must hold as hard
  * arithmetic (not in expectation) on adversarial value orders,
  * through merges of arbitrary shape, through the distributed build,
  * and across the save / `delta_<tag>` replay / load / copy-on-write
  * compact lifecycle. */
class QuantileIndexSpec extends SparkTestBase {

  import spark.implicits._
  import QuantileIndex._

  private def fresh(name: String): String =
    s"${tempDir(s"graft-qidx-$name")}/idx"

  /** Deterministic pseudo-random doubles (no Math.random in tests —
    * a failing seed must replay). */
  private def prand(n: Int, seed: Long): Array[Double] =
    Array.tabulate(n) { i =>
      val x = (i + seed) * 0x9e3779b97f4a7c15L
      ((x >>> 11) % 100000L).toDouble / 7.0
    }

  private def trueRank(data: Array[Double], v: Double): Long =
    data.count(_ <= v).toLong

  /** The hard bound, checked at every stored value and a probe grid. */
  private def assertBound(sk: QSketch, data: Array[Double]): Unit = {
    val sorted = data.sorted
    val probes = (0 until 50).map(i => sorted((i * (data.length - 1)) / 49))
    probes.foreach { v =>
      val err = math.abs(sk.estRank(v) - trueRank(data, v))
      assert(err <= sk.errBound,
        s"estRank err $err > accounted bound ${sk.errBound} at v=$v")
    }
    Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99).foreach { q =>
      val target = math.ceil(q * sk.n).toLong
      val ans = sk.valueAtRank(target)
      // tie-safe two-sided guarantee: with duplicate values the rank
      // of the returned VALUE is an interval [count(< v)+1, count(≤ v)],
      // and the sketch promises the target lands within rankBound of
      // that interval (a constant stream answers its only value with
      // interval [1, n] — correct at every q)
      val lo = data.count(_ < ans).toLong
      val hi = data.count(_ <= ans).toLong
      assert(lo - sk.rankBound <= target && target <= hi + sk.rankBound,
        s"target $target outside [$lo - ${sk.rankBound}, $hi + ${sk.rankBound}] at q=$q")
    }
  }

  test("rank bound holds on ascending, descending, constant and " +
      "pseudo-random streams (k=64, n=20k)") {
    val streams = Seq(
      Array.tabulate(20000)(_.toDouble),
      Array.tabulate(20000)(i => (20000 - i).toDouble),
      Array.fill(20000)(7.5),
      prand(20000, seed = 11L))
    streams.foreach { data =>
      val sk = new QSketch(64)
      data.foreach(sk.insert)
      assert(sk.n === data.length.toLong)
      // the bound must also be USEFUL: ~n·log2(n/k)/k, not ~n
      assert(sk.errBound < data.length / 2)
      assertBound(sk, data)
    }
  }

  test("merge: bound still holds after unbalanced and pairwise merge " +
      "topologies; n and errBound add") {
    val parts = (0 until 7).map(i => prand(3000 + 700 * i, seed = i.toLong))
    val all = parts.flatten.toArray
    // left-deep fold
    val leftDeep = new QSketch(64)
    parts.foreach { p =>
      val s = new QSketch(64); p.foreach(s.insert); leftDeep.merge(s)
    }
    assert(leftDeep.n === all.length.toLong)
    assertBound(leftDeep, all)
    // pairwise tree
    var layer = parts.map { p =>
      val s = new QSketch(64); p.foreach(s.insert); s
    }.toList
    while (layer.size > 1) {
      layer = layer.grouped(2).map {
        case a :: b :: Nil => a.merge(b); a
        case a :: Nil => a
        case _ => fail("unreachable")
      }.toList
    }
    assert(layer.head.n === all.length.toLong)
    assertBound(layer.head, all)
  }

  test("mismatched k is unmergeable — loud, never a silent degrade") {
    val a = new QSketch(64); val b = new QSketch(128)
    prand(100, 1L).foreach(a.insert)
    prand(100, 2L).foreach(b.insert)
    assertThrows[IllegalArgumentException](a.merge(b))
  }

  test("serialization round-trips: identical estimates, bound, n") {
    val sk = new QSketch(64)
    prand(25000, 5L).foreach(sk.insert)
    val back = fromBytes(sk.toBytes)
    assert(back.n === sk.n)
    assert(back.errBound === sk.errBound)
    assert(back.rankBound === sk.rankBound)
    Seq(100L, 5000L, 20000L).foreach(t =>
      assert(java.lang.Double.compare(
        back.valueAtRank(t), sk.valueAtRank(t)) === 0))
    assert(java.util.Arrays.equals(back.toBytes, sk.toBytes))
  }

  // ---- lifecycle over DataFrames ----

  lazy val rows = spark.range(12000).select(
    (col("id") % 4).as("batch"),
    ((col("id") * 37) % 5000).cast("double").as("v"))
  private def b(i: Int) = rows.filter($"batch" === i)
  private def values(df: org.apache.spark.sql.DataFrame): Array[Double] =
    df.select("v").as[Double].collect()

  test("distributed build + load: accounted bound holds vs exact " +
      "ranks of the full input") {
    val path = fresh("build")
    QuantileIndex.saveQuantileIndex(b(0), $"v", path, k = 128)
    QuantileIndex.appendQuantileIndex(spark, path, b(1), $"v", "d1")
    QuantileIndex.appendQuantileIndex(spark, path, b(2), $"v", "d2")
    val sk = QuantileIndex.loadMergedSketch(spark, path)
    val data = values(rows.filter($"batch" < 3))
    assert(sk.n === data.length.toLong)
    assertBound(sk, data)
    // the stored k is pinned — appends sketched at it
    assert(QuantileIndex.loadParams(spark, path) === 128)
  }

  test("replay idempotence: re-banking a delta under its own tag " +
      "overwrites — n, estimates and bound all unchanged") {
    val path = fresh("replay")
    QuantileIndex.saveQuantileIndex(b(0), $"v", path, k = 128)
    QuantileIndex.appendQuantileIndex(spark, path, b(1), $"v", "d1")
    val once = QuantileIndex.loadMergedSketch(spark, path)
    QuantileIndex.appendQuantileIndex(spark, path, b(1), $"v", "d1")
    val twice = QuantileIndex.loadMergedSketch(spark, path)
    assert(twice.n === once.n)
    assert(twice.errBound === once.errBound)
    assert(java.util.Arrays.equals(twice.toBytes, once.toBytes))
  }

  test("two loads of the same on-disk state answer bit-identically " +
      "(deterministic blob fold order)") {
    val path = fresh("det")
    QuantileIndex.saveQuantileIndex(b(0), $"v", path, k = 128)
    QuantileIndex.appendQuantileIndex(spark, path, b(1), $"v", "d1")
    QuantileIndex.appendQuantileIndex(spark, path, b(2), $"v", "d2")
    val a = QuantileIndex.loadMergedSketch(spark, path)
    val c = QuantileIndex.loadMergedSketch(spark, path)
    assert(java.util.Arrays.equals(a.toBytes, c.toBytes))
  }

  test("quantiles(): q/rank/n closed-form, bound from the blob") {
    val path = fresh("q")
    QuantileIndex.saveQuantileIndex(b(0), $"v", path, k = 128)
    val out = QuantileIndex.quantiles(spark, path, Seq(0.5, 0.9))
      .orderBy("q").collect()
    val n = b(0).count()
    assert(out.map(_.getDouble(0)).toSeq === Seq(0.5, 0.9))
    assert(out.map(_.getLong(2)).toSeq ===
      Seq(math.ceil(0.5 * n).toLong, math.ceil(0.9 * n).toLong))
    assert(out.forall(_.getLong(3) === n))
    assert(out.forall(_.getLong(4) > 0L))
  }
}
