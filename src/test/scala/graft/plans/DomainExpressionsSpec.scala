package graft.plans

import graft.SparkTestBase
import graft.functions.DomainFunctions
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import graft.GenForAll.forAll

class DomainExpressionsSpec extends SparkTestBase {

  val corpus: Seq[String] = Seq(
    "example.com", "_dmarc.example.com", "a-b.c-d.net", "x", "a.",
    "123.4a6", "", "123.456", "-a.com", "a-.com", "a..com", "a.com-",
    "a b.com", "a!b.com", ("a" * 64) + ".com", ("a" * 63) + ".com",
    "ünïcode.com", "www.example.com.", "*.x.com")

  test("UTF8String validator matches the pure Scala semantics") {
    corpus.foreach { s =>
      assert(DomainExpressions.isValidDomainUtf8(UTF8String.fromString(s)) ==
        DomainFunctions.isValidDomain(s), s"mismatch for '$s'")
    }
    assert(!DomainExpressions.isValidDomainUtf8(null))
    // length edges 253/254/255
    val l63 = "a" * 63
    val d253 = s"$l63.$l63.$l63.${"a" * 61}"
    for (d <- Seq(d253, d253 + ".", d253 + "a", d253 + "a."))
      assert(DomainExpressions.isValidDomainUtf8(UTF8String.fromString(d)) ==
        DomainFunctions.isValidDomain(d), s"mismatch at length ${d.length}")
  }

  test("property: random ascii strings agree between forms") {
    val g = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.oneOf('.', '-', '_'),
      1 -> Gen.oneOf(' ', '!', '*', '@'))).map(_.mkString)
    forAll(g, 500) { s =>
      assert(DomainExpressions.isValidDomainUtf8(UTF8String.fromString(s)) ==
        DomainFunctions.isValidDomain(s), s"mismatch for '$s'")
    }
  }

  test("native expression evaluates through SQL after install") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val got = corpus.toDF("d")
      .selectExpr("is_valid_domain_native(d) AS v")
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == corpus.map(DomainFunctions.isValidDomain))
  }

  test("optimizer rule rewrites the registered UDF to the native expr") {
    GraftExtensions.install(spark)
    DomainFunctions.register(spark, Set("com"))
    import spark.implicits._
    val dir = tempDir("graft-rule")
    Seq("a.com", "-bad-").toDF("d").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .selectExpr("d", "is_valid_domain(d) AS v")
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("is_valid_domain_native"), p)
    assert(df.collect().map(r => (r.getString(0), r.getBoolean(1))).toMap ==
      Map("a.com" -> true, "-bad-" -> false))
  }

  test("rewrite preserves UDF semantics on NULL input, incl. negation") {
    GraftExtensions.install(spark)
    DomainFunctions.register(spark, Set("com"))
    val dir = tempDir("graft-null")
    import spark.implicits._
    Seq(Some("a.com"), None, Some("-bad-")).toDF("d")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .selectExpr("d", "is_valid_domain(d) AS v",
        "NOT is_valid_domain(d) AS nv")
    assert(df.queryExecution.optimizedPlan.toString
      .contains("is_valid_domain_native"))
    val got = df.collect()
      .map(r => (Option(r.getString(0)), r.getBoolean(1), r.getBoolean(2)))
      .toSet
    // the UDF returns false (never NULL) for NULL domains; the rewrite
    // must not turn that into NULL
    assert(got == Set(
      (Some("a.com"), true, false),
      (None, false, true),
      (Some("-bad-"), false, true)))
  }

  test("validOrRepairedCol matches the pure repair semantics") {
    import spark.implicits._
    val inputs = Seq("good.com", "*.wild.example.com", "\\\"quoted.com",
      "*.123.456", "ab", "-bad-", "*.x", "plain", "*.")
    val got = graft.etl.Cleaner.validOrRepairedCol(inputs.toDF("d"))(col("d"))
    val rows = inputs.toDF("d").select(got.as("r"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(rows == inputs.map(DomainFunctions.validOrRepaired))
  }

  test("cleaner hot path plans the native expression, not a UDF filter") {
    import spark.implicits._
    // a file-backed source — a local Seq relation would be folded into a
    // LocalTableScan at plan time and hide the expression
    val dir = tempDir("graft-expr")
    Seq("t.com,a.com,s.a.com").toDF("value")
      .write.mode("overwrite").parquet(dir)
    val res = graft.etl.Cleaner.cleanCname(spark.read.parquet(dir))
    val p = res.valid.queryExecution.executedPlan.toString
    assert(p.contains("is_valid_domain_native"), p)
    assert(!p.contains("UDF"), p)
  }
}
