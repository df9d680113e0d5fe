package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Bucketed tables must make the fact-fact join exchange-free and
  * keep the result identical to the plain shuffled join. */
class BucketingSpec extends SparkTestBase {

  import spark.implicits._

  test("co-located join plans with no shuffle below the sort-merge join") {
    val left = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
    val right = (1 to 200).map(i => (i.toLong % 97, s"n$i")).toDF("ck", "name")
    val base = tempDir("graft_bucketing_spec")
    Bucketing.writeBucketed(left, "bspec_left", s"$base/left", 8, "k", Seq("k"))
    Bucketing.writeBucketed(right, "bspec_right", s"$base/right", 8, "ck", Seq("ck"))

    val joined = Bucketing.coLocatedJoin(spark, "bspec_left", "k",
      "bspec_right", "ck")
    val expected = left.join(right, $"k" === $"ck")
      .select("k", "v", "name").collect().toSet
    val got = joined.select("k", "v", "name").collect().toSet
    assert(got == expected)

    // after execution the AQE wrapper holds the FINAL plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scans must report the bucketed layout:\n$plan")
  }

  test("q_join_bucketed is rerunnable in one session without leaking tables") {
    import graft.query.CoreQueries
    val dir = "/root/testdata/sf0.001"
    val r1 = CoreQueries.joinBucketed(spark, dir).collect()
    val afterFirst = spark.catalog.listTables().count()
    val r2 = CoreQueries.joinBucketed(spark, dir).collect()
    assert(r1.toSeq == r2.toSeq)
    // deterministic names: the second call replaced, not accumulated
    // (other suites sharing this session may have run the query too,
    // so assert zero GROWTH rather than an absolute count)
    assert(spark.catalog.listTables().count() == afterFirst)
  }

  test("each bucket is a single file, so the per-bucket sort survives") {
    val df = (1 to 500).map(i => (i.toLong, s"p$i")).toDF("k", "p")
    val base = tempDir("graft_bucketing_onefile")
    Bucketing.writeBucketed(df, "bspec_onefile", s"$base/t", 4, "k", Seq("k"))
    val files = new java.io.File(s"$base/t").listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length == 4,
      s"expected one file per bucket, got ${files.map(_.getName).toSeq}")
  }
}
