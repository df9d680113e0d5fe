package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization as EXPLICIT keyed state
  * (`flatMapGroupsWithState` + event-time timeout) — the custom-state
  * form of the session-window aggregate, for when per-session logic
  * outgrows what `session_window` expresses (emit-on-close records,
  * per-session invariants, session-scoped counters).
  *
  * Semantics, certified against the batch gaps-and-islands oracle
  * (q_stream_sessionize): events for a user whose successive
  * event-time gaps are ≤ `gapUs` belong to one session; a closed
  * session emits exactly one (user, start, end, count) row. A session
  * closes when a later event arrives beyond the gap, or when the
  * WATERMARK passes `end + gap` (event-time timeout) — so results are
  * identical to the batch computation whenever each user's events
  * arrive in event-time order across micro-batches (within a batch,
  * order is irrelevant: the handler sorts).
  *
  * Scale shape: state is one OPEN SESSION per active user —
  * hash-partitioned across executors, bounded by the active-user set,
  * never by history (closed sessions leave state immediately; the
  * timeout evicts idle users at watermark pace). This is the state
  * design that survives a 100 TB event stream: the watermark, not the
  * stream length, bounds memory.
  */
object SessionStream {

  final case class SessEvent(user_id: Long, us: Long, event_id: Long)
  final case class OpenSession(start_us: Long, end_us: Long,
                               n_events: Long)
  final case class SessionOut(user_id: Long, start_us: Long,
                              end_us: Long, n_events: Long)

  /** The state handler, factored out for direct unit testing. Returns
    * (closed sessions to emit, the still-open session). */
  private[streaming] def advance(open: Option[OpenSession],
                                 sorted: Seq[SessEvent], gapUs: Long)
      : (Seq[SessionOut], Option[OpenSession]) = {
    var cur = open
    val out = Seq.newBuilder[SessionOut]
    for (e <- sorted) {
      cur match {
        case Some(o) if e.us - o.end_us <= gapUs =>
          cur = Some(o.copy(end_us = math.max(o.end_us, e.us),
            n_events = o.n_events + 1))
        case Some(o) =>
          out += SessionOut(e.user_id, o.start_us, o.end_us, o.n_events)
          cur = Some(OpenSession(e.us, e.us, 1L))
        case None =>
          cur = Some(OpenSession(e.us, e.us, 1L))
      }
    }
    (out.result(), cur)
  }

  /** @param events streaming Dataset of (user_id, us, event_id); `us`
    *               is event-time epoch micros
    * @param gapUs  session gap in micros
    * @param watermarkDelay lateness bound for the event-time watermark */
  def sessionize(events: Dataset[SessEvent], gapUs: Long,
                 watermarkDelay: String = "0 seconds")
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    require(gapUs > 0, "gapUs must be > 0")
    events
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", watermarkDelay)
      // typed view on the SAME plan — a .map would break the
      // event-time watermark lineage the timeout needs
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: no in-order event can extend
            // this session any more — close it
            val o = state.get
            state.remove()
            Iterator.single(SessionOut(user, o.start_us, o.end_us,
              o.n_events))
          } else {
            val sorted = rows.map(t => SessEvent(t._1, t._2, t._3))
              .toSeq.sortBy(e => (e.us, e.event_id))
            val (closed, open) = advance(state.getOption, sorted, gapUs)
            open.foreach { o =>
              state.update(o)
              // ms ceiling: micros truncate toward earlier, which
              // could fire the timeout a hair before end + gap
              state.setTimeoutTimestamp((o.end_us + gapUs) / 1000L + 1L)
            }
            closed.iterator
          }
      }
  }

  /** Replay harness for the correctness gate: feeds a bounded,
    * verification-sized event set through the REAL stream one
    * event-time WEEK per micro-batch (cross-batch event-time order is
    * what makes streaming == batch exact; the batch width only sets
    * the micro-batch count — within a batch the handler sorts, so any
    * window that preserves cross-batch ordering certifies the same
    * semantics, and weekly cuts the state-commit overhead ~7x vs
    * daily), then one far-future sentinel event (user −1, beyond
    * every timeout) whose watermark advance flushes all remaining
    * open sessions. Collecting through the driver is the documented
    * replay-harness boundary ([[Replay]]), not a production path. */
  def replayWeekly(spark: SparkSession, events: Seq[SessEvent],
                  gapUs: Long): DataFrame = {
    import spark.implicits._
    val in = Replay.input[SessEvent](spark)
    Replay.memory(spark, "sess", partitions = 4)(
        sessionize(in.ds, gapUs).toDF()) { q =>
      val dayUs = 86400000000L
      events.groupBy(_.us / (7L * dayUs)).toSeq.sortBy(_._1)
        .foreach { case (_, dayRows) =>
          in.add(dayRows)
          q.processAllAvailable()
        }
      // TWO sentinel batches: the first advances the watermark past
      // every real timeout; the second is a DATA batch evaluated
      // under that watermark, so the timeouts fire inside
      // processAllAvailable deterministically (a no-data micro-batch
      // would fire them too, but on the trigger thread's schedule)
      val flushUs = events.map(_.us).max + gapUs + 2L * dayUs
      in.add(Seq(SessEvent(-1L, flushUs, 0L)))
      q.processAllAvailable()
      in.add(Seq(SessEvent(-1L, flushUs + 2L * dayUs, 1L)))
      q.processAllAvailable()
    }.filter(col("user_id") >= 0)
  }
}
