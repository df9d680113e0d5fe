package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.{GraftSession, SparkTestBase}
import graft.query.QueryOps
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** [[CollectOnDriver]] runs a small exchange-free read's collect on the
  * driver thread. Such a read must start no job and return the rows, in
  * the same order, that the job path returns; every other read must
  * start the jobs it started without the rule, and a failing read must
  * fail as it does without the rule. "Without the rule" is the same
  * plan with [[DriverCollectExec]] taken out, or, where only the local
  * path is in question, `spark.sql.autoBroadcastJoinThreshold=-1`. */
class DriverCollectSpec extends SparkTestBase {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** 400 rows; `s` and `v` are NULL on every third and second row. */
  private def rows: DataFrame = spark.range(0, 400).select(
    col("id").as("k"), (col("id") % 7).cast("int").as("g"),
    when(col("id") % 3 === 0, lit(null)).otherwise(concat(lit("s"), col("id")))
      .as("s"),
    when(col("id") % 2 === 0, lit(null)).otherwise(col("id") / 4.0).as("v"))

  private lazy val onePath: String = {
    val p = tempDir("driver_collect") + "/one"
    rows.coalesce(1).write.parquet(p)
    p
  }

  private lazy val twoPath: String = {
    val p = tempDir("driver_collect") + "/two"
    rows.repartition(2, col("k")).write.parquet(p)
    p
  }

  /** Every value NULL but the key and one row in ten. */
  private lazy val nullPath: String = {
    val p = tempDir("driver_collect") + "/nulls"
    spark.range(0, 200).select(col("id").as("k") +: Seq("a", "b", "c").map(c =>
        when(col("id") % 10 === 0, concat(lit(c), col("id"))).as(c)): _*)
      .coalesce(1).write.parquet(p)
    p
  }

  // read once: Parquet schema inference runs a job of its own
  private lazy val one: DataFrame = spark.read.parquet(onePath)
  private lazy val two: DataFrame = spark.read.parquet(twoPath)
  private lazy val nulls: DataFrame = spark.read.parquet(nullPath)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Seq(one, two, nulls) // written and read before any count starts
    ()
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T =
    GraftSession.withConf(spark, kv: _*)(body)

  /** `body`'s result with the jobs and tasks it started and the events
    * of `pick` it posted. */
  private def counted[T](pick: PartialFunction[SparkListenerEvent, Unit]
                           = PartialFunction.empty)(body: => T)
      : (T, Int, Int) = {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        tasks.incrementAndGet(); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        pick.applyOrElse(e, (_: SparkListenerEvent) => ())
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get, tasks.get)
    } finally sc.removeSparkListener(l)
  }

  private def localRun[T](body: => T): T = {
    val before = DriverCollectExec.localRuns
    val (out, jobs, tasks) = counted()(body)
    assert(jobs == 0 && tasks == 0, s"$jobs jobs, $tasks tasks")
    assert(DriverCollectExec.localRuns == before + 1)
    out
  }

  /** The plan as it runs without the rule. */
  private def stripped(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan.transformUp {
      case d: DriverCollectExec => d.child
    }

  test("point, keyset page, limit, head and empty reads run no job and " +
      "match the job path row for row") {
    val reads: Seq[(String, () => Seq[Row])] = Seq(
      "point" -> (() =>
        one.filter(col("k") === 17L).select("k", "s", "v").collect().toSeq),
      "point miss" -> (() =>
        one.filter(col("k") === 4000L).select("k", "s").collect().toSeq),
      "keyset page" -> (() => QueryOps.keysetPage(one.select("k", "s"), "k",
        Some(100L), 10).collect().toSeq),
      "keyset page past the end" -> (() => QueryOps.keysetPage(
        one.select("k", "s"), "k", Some(395L), 10).collect().toSeq),
      "limit" -> (() => one.filter(col("g") === 3).limit(5).collect().toSeq),
      "limit and offset" -> (() =>
        one.filter(col("g") === 3).limit(8).offset(3).collect().toSeq),
      "head" -> (() => one.filter(col("v").isNull).head(4).toSeq),
      "take" -> (() => one.take(3).toSeq),
      "whole table" -> (() => one.collect().toSeq),
      "null-heavy rows" -> (() => nulls.collect().toSeq),
      "null-heavy filter" -> (() =>
        nulls.filter(col("a").isNull && col("k") > 150L).collect().toSeq))
    for ((name, read) <- reads) {
      val on = withClue(name)(localRun(read()))
      val (off, jobs, _) = withConf(Threshold -> "-1")(counted()(read()))
      assert(jobs > 0, name)
      assert(on == off, name)
    }
    assert(localRun(QueryOps.keysetPage(one.select("k"), "k", Some(100L), 3)
      .collect().toSeq.map(_.getLong(0))) == Seq(101L, 102L, 103L))
  }

  test("two-file and large inputs, threshold -1, aggregates, windows, " +
      "joins and scalar subqueries keep their jobs") {
    one.createOrReplaceTempView("driver_collect_one")
    val reads: Seq[(String, Seq[(String, String)], () => DataFrame)] = Seq(
      ("two-file input", Nil, () => two.filter(col("k") === 17L)),
      ("input above the threshold", Seq(Threshold -> "100"),
        () => one.filter(col("k") === 17L)),
      ("threshold -1", Seq(Threshold -> "-1"),
        () => one.filter(col("k") === 17L)),
      ("aggregate", Nil, () => one.groupBy("g").agg(count(lit(1)).as("n"))),
      ("window", Nil, () => one.withColumn("r",
        row_number().over(Window.partitionBy("g").orderBy("k")))),
      ("join", Nil,
        () => one.join(one.select(col("k"), col("s").as("s2")), "k")),
      // the subquery's own plan would qualify: it must still run as a job
      ("scalar subquery", Nil, () => spark.sql("SELECT k, s FROM " +
        "driver_collect_one WHERE k = (SELECT k FROM driver_collect_one " +
        "WHERE k = 5)")))
    assert(two.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.partitions.length
    }.contains(2))
    for ((name, conf, read) <- reads) withConf(conf: _*) {
      val before = DriverCollectExec.localRuns
      val (off, offJobs, _) = counted()(stripped(read()).executeCollectPublic())
      val (on, onJobs, _) = counted()(read().collect())
      assert(DriverCollectExec.localRuns == before, name)
      assert(onJobs > 0 && onJobs == offJobs, s"$name: $onJobs vs $offJobs")
      assert(on.map(_.toString).sorted.toSeq == off.map(_.toString).sorted.toSeq,
        name)
    }
  }

  test("a read that throws raises the job path's exception class and " +
      "message") {
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "assert_true" -> (() => one.filter(col("k") === 17L)
        .select(assert_true(col("k") < 0L, lit("k must be negative")))),
      "ANSI cast" -> (() =>
        one.filter(col("k") === 17L).select(col("s").cast("int").as("i"))))
    for ((name, read) <- reads) withConf(SQLConf.ANSI_ENABLED.key -> "true") {
      assert(read().queryExecution.executedPlan.isInstanceOf[DriverCollectExec],
        name)
      val on = intercept[Throwable](read().collect())
      val off = withConf(Threshold -> "-1")(intercept[Throwable](read().collect()))
      assert(on.getClass == off.getClass, name)
      assert(on.getMessage == off.getMessage, name)
    }
  }

  test("a UDF in a local run reads the session's conf, not Spark's " +
      "defaults") {
    val zone = udf((_: Long) => SQLConf.get.sessionLocalTimeZone)
    withConf(SQLConf.SESSION_LOCAL_TIMEZONE.key -> "America/New_York") {
      val got = localRun(one.filter(col("k") === 3L).select(zone(col("k")))
        .collect().toSeq.map(_.getString(0)))
      assert(got == Seq("America/New_York"))
    }
  }

  test("a local run posts its SQL metrics as driver updates") {
    val updates = new ConcurrentLinkedQueue[SparkListenerDriverAccumUpdates]
    val df = one.filter(col("g") === 2).select("k")
    val (got, jobs, tasks) = counted {
      case u: SparkListenerDriverAccumUpdates => updates.add(u); ()
    }(df.collect())
    assert(jobs == 0 && tasks == 0)
    val metric = df.queryExecution.executedPlan.collectFirst {
      case f: FilterExec => f.metrics("numOutputRows")
    }.get
    assert(got.length == 57)
    assert(updates.asScala.exists(
      _.accumUpdates.contains(metric.id -> got.length.toLong)))
  }
}
