package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.{GenForAll, SparkTestBase}
import graft.plans.ZOrderOps
import graft.sources.Tables

class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  /** Naive bit-by-bit reference interleave. */
  private def naive(x: Long, y: Long): Long = {
    var z = 0L
    for (i <- 0 until ZOrderOps.Bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("spread-mask interleave = naive bit loop, incl. masked inputs") {
    val gen = for {
      x <- Gen.oneOf(Gen.choose(0L, ZOrderOps.Mask),
        Gen.choose(Long.MinValue, Long.MaxValue))
      y <- Gen.oneOf(Gen.choose(0L, ZOrderOps.Mask),
        Gen.choose(Long.MinValue, Long.MaxValue))
    } yield (x, y)
    GenForAll.forAll(gen, n = 500) { case (x, y) =>
      val z = ZOrderOps.interleave(x, y)
      assert(z == naive(x, y))
      assert(z >= 0 && z < (1L << (2 * ZOrderOps.Bits)))
    }
  }

  test("3-D interleave = naive bit loop; 63-bit codes stay positive") {
    def naive3(x: Long, y: Long, z: Long): Long = {
      var r = 0L
      for (i <- 0 until ZOrderOps.Bits) {
        r |= ((x >> i) & 1L) << (3 * i)
        r |= ((y >> i) & 1L) << (3 * i + 1)
        r |= ((z >> i) & 1L) << (3 * i + 2)
      }
      r
    }
    val gen = Gen.listOfN(3, Gen.choose(Long.MinValue, Long.MaxValue))
    GenForAll.forAll(gen, n = 500) { case List(x, y, z) =>
      val g = ZOrderOps.interleave3(x, y, z)
      assert(g == naive3(x, y, z))
      assert(g >= 0)
    }
    // expression path (codegen) agrees with the scala reference
    val rows = (0 until 200).map(i =>
      (i.toLong * 7919 % 99991, i.toLong * 104729 % 31337,
        i.toLong - 100)) // includes negatives → masked
    val got = rows.toDF("x", "y", "zc")
      .select(col("x"), col("y"), col("zc"),
        ZOrder.zkey3(col("x"), col("y"), col("zc")).as("m"))
      .as[(Long, Long, Long, Long)].collect()
    got.foreach { case (x, y, z, m) =>
      assert(m == ZOrderOps.interleave3(x, y, z), s"($x, $y, $z)")
    }
  }

  test("native expression matches the scala reference through codegen") {
    val rows = (0 until 1000).map(i =>
      (i.toLong * 2654435761L % (1L << 30), i.toLong * 40503L % 77777))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zkey(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == ZOrderOps.interleave(x, y), s"($x, $y)")
    }
  }

  test("z layout skips files on the non-leading dimension") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
      .select("event_id", "user_id")
    val (loE, hiE) = {
      val r = ev.agg(min("event_id"), max("event_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    // box on event_id only — the dimension the linear layout does
    // NOT sort by: an eighth of the domain
    val width = (hiE - loE + 1) / 8
    val (a, b) = (loE + 3 * width, loE + 4 * width - 1)

    val tmp = tempDir("graft-zorder")
    val linDir = s"$tmp/linear"
    val zDir = s"$tmp/zorder"
    ev.repartitionByRange(16, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(linDir)
    ZOrder.cluster(ev, col("user_id"), col("event_id"), 16)
      .write.mode("overwrite").parquet(zDir)

    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("event_id").between(a, b))
        .select(input_file_name()).distinct().count()

    val lin = filesTouched(linDir)
    val zed = filesTouched(zDir)
    // identical rows either way — the layout only moves them
    assert(spark.read.parquet(zDir)
      .filter(col("event_id").between(a, b)).count() ==
      spark.read.parquet(linDir)
        .filter(col("event_id").between(a, b)).count())
    assert(zed * 2 <= lin,
      s"expected z layout to halve files touched: z=$zed linear=$lin")
  }
}
