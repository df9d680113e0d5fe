package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** STREAMING last-writer-wins upsert — the T4/CDC MERGE primitive
  * ([[graft.query.WarehouseQueries.cdcApply]]) as keyed streaming
  * state: a change stream (I/U/D ops with event-time + sequence
  * tiebreak) folds into one state row per key via
  * `mapGroupsWithState`, each micro-batch emitting the touched keys'
  * NEW state (update semantics). This is the missing face of the
  * streaming matrix: sessionize certifies flatMapGroups + event-time
  * timeout, the windowed/hourly gate certifies watermark aggregation,
  * stream-stream certifies two-sided join state — this certifies
  * mapGroups (exactly-one-state-per-key) upsert semantics across
  * micro-batch boundaries, pinned to the BATCH LWW oracle.
  *
  * Semantics, certified by q_stream_cdc: per key, the change with the
  * greatest (us, event_id) wins regardless of op; a winning D is a
  * tombstone (the key leaves the final table). Changes arriving in
  * any order WITHIN a batch fold identically (the handler is a pure
  * running maximum); cross-batch, state carries so a later batch's
  * change supersedes an earlier batch's state iff its (us, event_id)
  * is greater — byte-identical to the batch window over the union.
  *
  * Scale shape: state is ONE row per live key — the upsert table
  * itself, hash-partitioned across executors, bounded by key
  * cardinality, never by change-stream length. For unbounded key
  * universes, [[upsertRetention]] bounds state by a retention window:
  * a key whose newest change falls `retentionUs` behind the watermark
  * is EVICTED via event-time timeout (certified by
  * q_stream_cdc_retention against the batch LWW oracle restricted to
  * the retention window, and by the state-shrink spec). [[upsert]]
  * (NoTimeout) remains the full-history variant for bounded key sets.
  */
object CdcStream {

  final case class Chg(user_id: Long, us: Long, event_id: Long,
                       op: String, value: Double)
  final case class KeyState(op: String, us: Long, event_id: Long,
                            value: Double)
  final case class Upsert(user_id: Long, last_op: String, last_us: Long,
                          last_event: Long, last_value: Double)

  /** Reserved `last_op` marker emitted when a key's state is evicted
    * by the retention timeout — distinct from the I/U/D op alphabet so
    * the final-state reduction can drop evicted keys. */
  val EvictedOp = "evicted"

  /** LWW fold, factored out for direct unit testing: a pure running
    * maximum over (us, event_id) against the carried state — the
    * result is identical for ANY iteration order (each change is kept
    * only when strictly greater than everything seen), so the batch
    * needs no sort (review r10 finding). */
  private[streaming] def fold(cur: Option[KeyState],
                              batch: Seq[Chg]): KeyState = {
    var st = cur.orNull
    for (c <- batch) {
      if (st == null || c.us > st.us ||
          (c.us == st.us && c.event_id > st.event_id))
        st = KeyState(c.op, c.us, c.event_id, c.value)
    }
    st
  }

  def upsert(changes: Dataset[Chg]): Dataset[Upsert] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.user_id)
      .mapGroupsWithState[KeyState, Upsert](GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val st = fold(state.getOption, rows.toSeq)
          state.update(st)
          Upsert(key, st.op, st.us, st.event_id, st.value)
      }
  }

  /** RETENTION-WINDOWED upsert: identical LWW fold, but each key's
    * state carries an event-time timeout at `newest change +
    * retentionUs`; when the watermark passes it the key is evicted
    * (state removed, one `EvictedOp` marker row emitted so downstream
    * reductions can observe the eviction). State is therefore bounded
    * by the RECENTLY-ACTIVE key set — the watermark, not the key
    * universe, bounds memory, exactly the [[SessionStream]] design.
    *
    * Documented late-data behavior (spec-certified, not assumed):
    * Spark's stateful-operator late-record filter drops input rows at
    * or behind the current watermark BEFORE they reach the handler, so
    * a change arriving after its key was evicted — necessarily more
    * than `retentionUs` behind the watermark — is DROPPED, never
    * resurrected (the retention spec drives exactly this case and
    * asserts the key stays absent from state and emissions). Under
    * event-time-ordered arrival (the certified replay) nothing is
    * late, which is what makes the batch oracle exact; deployments
    * needing late tolerance widen `watermarkDelay`, which delays
    * eviction by the same bound.
    *
    * '''Marker contract (raw-stream consumers).''' The returned stream
    * interleaves TWO faces in one sink: live upserts (`last_op` ∈ the
    * input op alphabet, carrying the key's new LWW state) and
    * eviction markers (`last_op == `[[EvictedOp]], exactly one per
    * eviction, carrying the key's LAST-COMMITTED state at removal —
    * the row a downstream tombstone/archival step needs). `"evicted"`
    * is reserved: inputs must not use it as an op. A consumer of the
    * raw stream MUST split on the marker ([[upsertsOnly]] /
    * [[evictionsOnly]], or the equivalent filter) before treating rows
    * as table state — [[replayRetention]]'s final-state reduction does
    * exactly this. The faces are disjoint and exhaustive by
    * construction (the handler emits a marker if-and-only-if the
    * timeout fired; the face-split spec pins it). */
  def upsertRetention(changes: Dataset[Chg], retentionUs: Long,
                      watermarkDelay: String = "0 seconds")
      : Dataset[Upsert] = {
    import changes.sparkSession.implicits._
    require(retentionUs > 0, "retentionUs must be > 0")
    changes
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", watermarkDelay)
      // typed view on the SAME plan — a .map would break the
      // event-time watermark lineage the timeout needs
      .as[(Long, Long, Long, String, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KeyState, Upsert](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(
              Upsert(key, EvictedOp, st.us, st.event_id, st.value))
          } else {
            val st = fold(state.getOption,
              rows.map { t =>
                require(t._4 != EvictedOp,
                  s"op '$EvictedOp' is reserved for eviction markers " +
                    "(marker contract) — rename the input op")
                Chg(t._1, t._2, t._3, t._4, t._5)
              }.toSeq)
            state.update(st)
            // ms ceiling: micros truncate toward earlier, which would
            // fire the timeout a hair before us + retention (the
            // SessionStream rounding rule). The late-record filter
            // guarantees surviving input is ahead of the watermark, so
            // the computed timestamp is always in the future; the
            // clamp is pure defense for nonzero watermarkDelay edges
            // (Spark rejects a timestamp behind the watermark).
            state.setTimeoutTimestamp(math.max(
              (st.us + retentionUs) / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.single(Upsert(key, st.op, st.us, st.event_id, st.value))
          }
      }
  }

  /** Upsert face of a raw [[upsertRetention]] stream: marker rows
    * removed, every remaining row is a key's new LWW state. Works on
    * the streaming Dataset (a stateless filter) and on collected
    * batches alike. */
  def upsertsOnly(out: Dataset[Upsert]): Dataset[Upsert] =
    out.filter(_.last_op != EvictedOp)

  /** Eviction face of a raw [[upsertRetention]] stream: exactly one
    * marker row per EVICTION EVENT (`last_op == `[[EvictedOp]]),
    * carrying the key's last-committed state at removal. NOT unique
    * per key: a key re-activated by on-time changes after an eviction
    * re-enters state and can be evicted again, yielding one marker per
    * eviction over the stream's lifetime — downstream tombstone logic
    * must dedup by (key, last_us, last_event) if it needs key
    * uniqueness (the face-split spec drives exactly this re-eviction
    * case). */
  def evictionsOnly(out: Dataset[Upsert]): Dataset[Upsert] =
    out.filter(_.last_op == EvictedOp)

  /** Replay a bounded change set through the real stateful stream in
    * event-time batches (span/`batches` slots — cross-batch event-time
    * order is what the gate certifies; within a batch the fold is
    * order-indifferent),
    * then reduce the per-batch emissions to the FINAL state per key:
    * a key's successive emissions carry its cumulative (us, event_id)
    * maximum, so the final state is the emission with the greatest
    * (last_us, last_event). No sentinels: mapGroupsWithState has no
    * watermark-driven emissions to flush. Update output mode (each
    * batch re-emits changed keys); no-data micro-batches off — the
    * flat-overhead lesson, PERF.md round 10. */
  def replay(spark: SparkSession, changes: Seq[Chg],
             batches: Int = 4): DataFrame =
    replayWith(spark, changes, batches, sentinelFlushUs = None,
      upsert(_))

  /** Retention replay: same event-time-ordered batching, through
    * [[upsertRetention]], with TWO trailing sentinel batches (key −1
    * at `flushUs`, then past it) — the first advances the watermark to
    * `flushUs`, the second is a DATA batch evaluated under that
    * watermark so every due timeout fires inside processAllAvailable
    * deterministically (the SessionStream two-sentinel rule). The
    * final table therefore contains exactly the keys whose LWW winner
    * satisfies `winner.us + retentionUs >= flushUs` — the batch-
    * expressible retention window the oracle pins. Eviction marker
    * rows outrank the state row they evict in the reduction (same
    * (us, event_id), marker wins the tie) and are then dropped. */
  def replayRetention(spark: SparkSession, changes: Seq[Chg],
                      retentionUs: Long, flushUs: Long,
                      batches: Int = 4): DataFrame = {
    require(changes.nonEmpty, "replay needs at least one change")
    require(flushUs > changes.map(_.us).max,
      "flushUs must lie beyond every change so the sentinel only " +
        "advances the watermark")
    replayWith(spark, changes, batches, sentinelFlushUs = Some(flushUs),
      upsertRetention(_, retentionUs))
  }

  private def replayWith(spark: SparkSession, changes: Seq[Chg],
                         batches: Int, sentinelFlushUs: Option[Long],
                         stream: Dataset[Chg] => Dataset[Upsert])
      : DataFrame = {
    import spark.implicits._
    require(changes.nonEmpty, "replay needs at least one change")
    require(batches >= 3,
      "replay needs >= 3 micro-batches to certify cross-batch state carry")
    val in = Replay.input[Chg](spark)
    val minUs = changes.map(_.us).min
    val maxUs = changes.map(_.us).max
    val batchUs = math.max(1L, (maxUs - minUs) / batches + 1L)
    val emitted = Replay.memory(spark, "cdc", partitions = 2, "update")(
        stream(in.ds).toDF()) { q =>
      changes.groupBy(c => (c.us - minUs) / batchUs).toSeq.sortBy(_._1)
        .foreach { case (_, slot) =>
          in.add(slot)
          q.processAllAvailable()
        }
      sentinelFlushUs.foreach { flushUs =>
        // sentinel 1 advances the watermark to flushUs; sentinel 2 is
        // the data batch under that watermark that fires the timeouts
        in.add(Seq(Chg(-1L, flushUs, 0L, "U", 0.0)))
        q.processAllAvailable()
        in.add(Seq(Chg(-1L, flushUs + 1000000L, 1L, "U", 0.0)))
        q.processAllAvailable()
      }
    }
    // an eviction marker carries its victim's (us, event_id) — the
    // boolean tie-break ranks it above the state row it evicts; a key
    // RE-ACTIVATED by an on-time change after eviction emits with a
    // strictly greater us and outranks the marker
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(desc("last_us"), desc("last_event"),
        (col("last_op") === EvictedOp).desc)
    val reduced = emitted
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    if (sentinelFlushUs.isEmpty) reduced
    else reduced.filter(col("user_id") >= 0 && col("last_op") =!= EvictedOp)
  }
}
