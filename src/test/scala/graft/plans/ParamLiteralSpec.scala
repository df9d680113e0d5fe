package graft.plans

import graft.{GraftSession, SparkTestBase}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._

/** [[BindLiteralKeys]] binds the primitive literal keys of filter
  * comparisons by reference ([[ParamLiteral]]). A point read with a new
  * key must reuse the compiled class of the last one, and nothing else
  * may change: answers, scan pushdown and plan text. "Rule off" is the
  * same executed plan with every [[ParamLiteral]] put back to the
  * `Literal` it replaced. */
class ParamLiteralSpec extends SparkTestBase {

  /** 64 rows over every bound type, with NULL rows, NaN, -0.0 and 0.0. */
  private lazy val path: String = {
    val dir = tempDir("param_literal") + "/t"
    spark.range(0, 64).select(
      when(col("id") % 9 === 0, lit(null)).otherwise(col("id").cast("int"))
        .as("i"),
      (col("id") * 1000003L).as("l"),
      when(col("id") % 5 === 0, lit(Double.NaN))
        .when(col("id") % 5 === 1, lit(-0.0))
        .when(col("id") % 5 === 2, lit(0.0))
        .when(col("id") % 11 === 0, lit(null))
        .otherwise(col("id") / 3.0).as("d"),
      when(col("id") % 4 === 0, lit(Float.NaN))
        .when(col("id") % 4 === 1, lit(-0.0f))
        .otherwise((col("id") / 2.0).cast("float")).as("f"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(date_add(lit("2024-01-01").cast("date"),
          col("id").cast("int"))).as("dt"),
      timestamp_seconds(col("id") * 3600L).as("ts"),
      col("id").cast("short").as("s"),
      col("id").cast("byte").as("b"))
      .write.parquet(dir)
    dir
  }

  private def table: DataFrame = spark.read.parquet(path)

  private val predicates: Seq[(String, Column)] = Seq(
    "int =" -> (col("i") === 7),
    "int >, NULL rows" -> (col("i") > 20),
    "int <=>" -> (col("i") <=> 9),
    "long =" -> (col("l") === 17000051L),
    "long <=" -> (col("l") <= 30000090L),
    "short, byte" -> (col("s") >= 60.toShort || col("b") < 3.toByte),
    "double = NaN" -> (col("d") === Double.NaN),
    "double <=> NaN" -> (col("d") <=> Double.NaN),
    "double = -0.0" -> (col("d") === -0.0),
    "double > -0.0" -> (col("d") > -0.0),
    "double < NaN" -> (col("d") < Double.NaN),
    "float = NaN" -> (col("f") === Float.NaN),
    "float >= -0.0" -> (col("f") >= -0.0f),
    "date =" -> (col("dt") === lit("2024-01-10").cast("date")),
    "date <" -> (col("dt") < lit("2024-02-01").cast("date")),
    "timestamp >=" -> (col("ts") >= lit("1970-01-02 00:00:00")
      .cast("timestamp")),
    "timestamp <=>" -> (col("ts") <=> lit("1970-01-01 05:00:00")
      .cast("timestamp")),
    "nested and/or" -> ((col("i") > 3 && col("l") < 40000120L) ||
      col("d") === Double.NaN))

  /** Each predicate as a plain filter, and under an aggregate so that
    * AQE has an exchange to plan. */
  private def shapes(p: Column): Seq[DataFrame] = Seq(
    table.filter(p),
    table.filter(p).groupBy((col("l") % 3).as("k"))
      .agg(count(lit(1)).as("n"), sum("i").as("si")))

  private def rows(rs: Array[org.apache.spark.sql.Row]): Seq[String] =
    rs.map(_.toString).toSeq.sorted

  private def isBound(plan: SparkPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral])))

  private def unbound(plan: SparkPlan): SparkPlan =
    plan.transformAllExpressions { case p: ParamLiteral => p.lit }

  private def withConf[T](kv: (String, String)*)(body: => T): T =
    GraftSession.withConf(spark, kv: _*)(body)

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second point read with a different key compiles no class") {
    def read(k: Long): Unit =
      assert(table.filter(col("l") === k).collect().length == 1)
    read(5000015L) // compiles the stage once per class loader
    assert(compiles(read(7000021L)) == 0)
    assert(compiles(read(11000033L)) == 0)
  }

  for (aqe <- Seq("true", "false"); wscg <- Seq("true", "false"))
    test(s"answers match with the rule on and off (aqe=$aqe, " +
        s"wholeStage=$wscg)") {
      for ((name, p) <- predicates; (shape, n) <- shapes(p).zipWithIndex) {
        val on = withConf("spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.codegen.wholeStage" -> wscg)(rows(shape.collect()))
        val off = withConf("spark.sql.adaptive.enabled" -> "false",
          "spark.sql.codegen.wholeStage" -> wscg) {
          val plan = shapes(p)(n).queryExecution.executedPlan
          assert(isBound(plan), s"$name: rule did not fire")
          rows(unbound(plan).executeCollectPublic())
        }
        assert(on == off, s"$name, shape $n")
      }
    }

  test("the scan still pushes the key predicate down to Parquet") {
    val plan = table.filter(col("l") === 17000051L).queryExecution
      .executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metadata("PushedFilters").contains("EqualTo(l,17000051)"),
      scan.metadata("PushedFilters"))
    assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])))
    assert(plan.collectFirst { case f: FilterExec => f }.exists(f =>
      f.condition.exists(_.isInstanceOf[ParamLiteral])))
  }

  test("explain text is byte-identical with the rule on and off") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      for ((name, p) <- predicates; shape <- shapes(p)) {
        val plan = shape.queryExecution.executedPlan
        assert(isBound(plan), name)
        // a copied exchange gets a fresh plan id; nothing else may differ
        def text(pl: SparkPlan, verbose: Boolean) =
          pl.treeString(verbose).replaceAll("plan_id=\\d+", "plan_id=")
        for (verbose <- Seq(false, true))
          assert(text(plan, verbose) == text(unbound(plan), verbose), name)
      }
    }
  }

  test("a GraftSession sizes the codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.sessionState.conf.codegenCacheMaxEntries ==
      GraftSession.CodegenCacheEntries)
  }
}

