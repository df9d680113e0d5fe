package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch-ms for attribution of
  * listener events and nanoTime for durations. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Long, startNs: Long,
                      var endMs: Long = 0L, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side counts of the jobs, stages and tasks run inside one span. */
final class Counts {
  var jobs = 0L; var tasks = 0L
  var runMs = 0.0; var cpuMs = 0.0; var schedMs = 0.0
  var shuffleWrite = 0L; var spill = 0L; var resultBytes = 0L
  var bytesRead = 0L; var recordsRead = 0L
  var planMs = 0.0
  def +=(o: Counts): Unit = addScaled(o, 1)
  def -=(o: Counts): Unit = addScaled(o, -1)
  private def addScaled(o: Counts, k: Int): Unit = {
    jobs += k * o.jobs; tasks += k * o.tasks; runMs += k * o.runMs; cpuMs += k * o.cpuMs
    schedMs += k * o.schedMs; shuffleWrite += k * o.shuffleWrite; spill += k * o.spill
    resultBytes += k * o.resultBytes; bytesRead += k * o.bytesRead
    recordsRead += k * o.recordsRead; planMs += k * o.planMs
  }
}

/** Spans around layer calls. Inactive, [[span]] just runs its body, so
  * untraced ops pay nothing. Active, the span id travels to Spark as a
  * local property, so every job, stage and task is charged to the
  * innermost open span. Spans stay in memory until [[report]]. */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._
  @volatile private var enabled = false
  /** Whether spans are recorded now; needs [[enable]] first. */
  @volatile var active = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new SpanListener

  def isOn: Boolean = enabled && active

  /** Starts tracing: registers the one listener pair. */
  def enable(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    enabled = true
  }

  def span[T](name: String)(body: => T): T =
    if (!isOn) body
    else {
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.length, name, parent, runId,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time and Spark counts per layer name, over spans closed so far.
    * A stage that writes shuffle output inside a sink span runs the
    * Migrator's projection and enrichment ahead of the sink's exchange,
    * so its wall time is moved from the sink to `etl.migrator.enrich`. */
  def report(): Report = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val all = spans.toSeq
    // planning phases are charged to the innermost span open at their start
    for ((startMs, ms) <- listener.planPhases.asScala.toSeq) {
      val inner = all.filter(s => s.startMs <= startMs && startMs <= s.endMs)
        .sortBy(s => -s.startNs).headOption
      inner.foreach(s => listener.countsOf(s.id).planMs += ms)
    }
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val counts = mutable.Map.empty[String, Counts]
    def countsFor(layer: String) = counts.getOrElseUpdate(layer, new Counts)
    for (s <- all) {
      val childMs = all.filter(_.parent == s.id).map(_.ms).sum
      val mapStages = listener.mapStagesOf(s.id)
      val moved = if (s.name.startsWith("sources.sink.")) mapStages.map(_._1).sum else 0.0
      self(s.name) += s.ms - childMs - moved
      val c = listener.countsOf(s.id)
      if (moved > 0) {
        self(EnrichLayer) += moved
        val mc = new Counts
        mapStages.foreach(m => mc += m._2)
        countsFor(EnrichLayer) += mc
        c -= mc
      }
      countsFor(s.name) += c
    }
    Report(all, self.toMap, counts.toMap)
  }
}

final case class Report(spans: Seq[Span],
                        selfMs: Map[String, Double], counts: Map[String, Counts]) {
  private def matching(prefix: String): Seq[String] =
    (selfMs.keySet ++ counts.keySet).toSeq.filter(n => n == prefix || n.startsWith(prefix + "."))
  /** Self ms of every layer named `prefix` or below it. */
  def selfOf(prefix: String): Double = matching(prefix).map(n => selfMs.getOrElse(n, 0.0)).sum
  def countsOf(prefix: String): Counts = {
    val c = new Counts
    matching(prefix).foreach(n => counts.get(n).foreach(c += _))
    c
  }
  def total: Counts = { val c = new Counts; counts.values.foreach(c += _); c }

  /** The spans as [id, name, parent, start ms from the first span, ms]. */
  def spanRows: Seq[Seq[Any]] = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map(s => Seq(s.id, s.name, s.parent, math.rint((s.startNs - t0) / 1e4) / 100,
      math.rint(s.ms * 100) / 100))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val EnrichLayer = "etl.migrator.enrich"
}

/** The benchmark's one SparkListener plus QueryExecutionListener. */
final class SpanListener extends SparkListener with QueryExecutionListener {
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageCounts = new ConcurrentHashMap[Int, Counts]()
  private val mapStages = new ConcurrentHashMap[Int, mutable.ArrayBuffer[(Double, Counts)]]()
  /** (phase start epoch-ms, phase ms) of every planning phase seen. */
  val planPhases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

  def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)
  def mapStagesOf(span: Int): Seq[(Double, Counts)] =
    Option(mapStages.get(span)).map(_.toSeq).getOrElse(Nil)

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => countsOf(s).synchronized { countsOf(s).jobs += 1 })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || !stageSpan.containsKey(e.stageId)) return
    val sc = stageCounts.computeIfAbsent(e.stageId, _ => new Counts)
    sc.synchronized {
      sc.tasks += 1
      sc.runMs += m.executorRunTime
      sc.cpuMs += m.executorCpuTime / 1e6
      sc.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      sc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      sc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      sc.resultBytes += m.resultSize
      sc.bytesRead += m.inputMetrics.bytesRead
      sc.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (!stageSpan.containsKey(info.stageId)) { stageCounts.remove(info.stageId); return }
    val span: Int = stageSpan.get(info.stageId)
    val sc = Option(stageCounts.remove(info.stageId)).getOrElse(new Counts)
    val c = countsOf(span)
    c.synchronized { c += sc }
    if (sc.shuffleWrite > 0) { // a map stage: it feeds an exchange
      val wall = (for (s <- info.submissionTime; f <- info.completionTime) yield (f - s).toDouble)
        .getOrElse(0.0)
      mapStages.computeIfAbsent(span, _ => mutable.ArrayBuffer.empty)
        .synchronized { mapStages.get(span) += (wall -> sc) }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.values.foreach(p =>
      planPhases.add(p.startTimeMs -> (p.endTimeMs - p.startTimeMs).toDouble))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
