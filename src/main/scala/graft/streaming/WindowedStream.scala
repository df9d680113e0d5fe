package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked event-time windowed aggregation — THE canonical
  * Structured Streaming operator (readStream → withWatermark →
  * window() groupBy → append sink), certified equal to the batch
  * GROUP BY under replay: in append mode a window row is emitted
  * exactly once, when the watermark passes the window end, so a
  * replay in event-time order must land on precisely the batch
  * hourly counts — which is what the q_stream_hourly gate pins.
  *
  * Scale shape: state is one row per OPEN window per group key,
  * evicted the moment the watermark closes it; the stream never holds
  * history. The replay harness (driver-fed [[Replay.input]], weekly
  * batches, far-future sentinel flush) is the documented
  * verification boundary ([[Replay]]).
  */
object WindowedStream {

  final case class Ev(us: Long, event_id: Long)

  /** Hourly event counts, append mode. */
  def hourlyCounts(events: org.apache.spark.sql.Dataset[Ev],
                   watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("hour_us"), col("n"))

  /** Replay a bounded event set through the real stream, one
    * event-time week per micro-batch, sentinel-flushed; returns the
    * append-mode emissions (sentinel window excluded). */
  def replayHourly(spark: SparkSession, events: Seq[Ev]): DataFrame = {
    import spark.implicits._
    require(events.nonEmpty, "replayHourly needs at least one event")
    val in = Replay.input[Ev](spark)
    val maxUs = events.map(_.us).max
    val flushUs = maxUs + 4L * 86400000000L
    val emitted = Replay.memory(spark, "hourly", partitions = 4)(
        hourlyCounts(in.ds)) { q =>
      events.groupBy(_.us / (7L * 86400000000L)).toSeq.sortBy(_._1)
        .foreach { case (_, batch) =>
          in.add(batch)
          q.processAllAvailable()
        }
      // two sentinel batches: advance the watermark past every real
      // window, then evaluate a data batch under it (deterministic
      // emission inside processAllAvailable)
      in.add(Seq(Ev(flushUs, -1L)))
      q.processAllAvailable()
      in.add(Seq(Ev(flushUs + 86400000000L, -2L)))
      q.processAllAvailable()
    }
    // a real window STARTS at or before the last real event; the
    // sentinel windows start hours later (flushUs is not hour-aligned,
    // so `< flushUs` would leak the truncated sentinel window start)
    emitted.filter(col("hour_us") <= maxUs)
  }
}
