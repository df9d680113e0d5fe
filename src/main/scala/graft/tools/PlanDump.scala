package graft.tools

import java.nio.file.{Files, Paths}
import graft.GraftSession

/** Dumps formatted physical plans for named registered queries to
  * individual files — the optimization rounds' before/after plan
  * evidence (`plans/rNN/<query>_{before,after}.txt`). Each query is
  * EXECUTED (noop-forced, the bench's own action) and the dump is the
  * EXECUTED plan captured by a QueryExecutionListener from the forcing
  * write itself (r20 ADVICE: the old form explained the returned
  * DataFrame, a separate never-executed QueryExecution, so every dump
  * showed `isFinalPlan=false`; this one shows the AQE-final plan with
  * runtime join/coalesce decisions), plus the executed run's job count
  * from a SparkListener — the measurement the round optimizes — and the
  * number of collects inside the query that ran on the driver instead
  * of as a job ([[graft.plans.DriverCollectExec]]), which explains a
  * job count that fell. If no execution is captured (defensive), the
  * static plan is dumped and the header says so.
  *
  * {{{ sbt "runMain graft.tools.PlanDump q_a,q_b <outDir> <suffix> [sfDir]" }}}
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val outDir = args(1)
    val suffix = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.getOrCreate("graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val jobCounter = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCounter.incrementAndGet(); ()
        }
      })
    // capture every completed QueryExecution; the LAST one before the
    // force returns is the noop write that consumed the query's output
    val qeCount = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          lastQe = qe; qeCount.incrementAndGet(); ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // the listener fires on the async listener bus: wait until the
    // capture count stays stable for a few polls before reading it
    def settleQe(): Unit = {
      var last = -1L
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        val c = qeCount.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
        Thread.sleep(50)
        waited += 1
      }
    }
    Files.createDirectories(Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    for (q <- names) {
      val j0 = jobCounter.get()
      val l0 = graft.plans.DriverCollectExec.localRuns
      lastQe = null
      val t0 = System.nanoTime()
      val df = qs(q)(spark, sfDir)
      graft.Bench.force(df)
      val sec = (System.nanoTime() - t0) / 1e9
      val jobs = jobCounter.get() - j0
      val local = graft.plans.DriverCollectExec.localRuns - l0
      settleQe()
      val executed = lastQe
      val (src, plan) =
        if (executed != null)
          ("executed (QueryExecutionListener, AQE-final)",
            executed.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        else
          ("STATIC fallback (no execution captured)",
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
      val body =
        f"# $q ($suffix) — $src; run at $sfDir%s, $sec%.2f s (this run), $jobs jobs, $local driver collects\n\n$plan"
      Files.write(Paths.get(outDir, s"${q}_$suffix.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(f"[plan-dump] $q%-28s $sec%6.2f s $jobs%3d jobs $local%3d driver collects -> $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
