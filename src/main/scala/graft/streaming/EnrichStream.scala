package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** STREAM-STATIC broadcast enrichment — the stateless face of the
  * streaming matrix the other gates don't certify: sessionize/CDC
  * certify keyed state, hourly certifies watermark aggregation,
  * stream-stream certifies two-sided join state; this certifies the
  * everyday "enrich the event stream with a dimension table" join,
  * where the static side broadcasts and NO state store exists at all.
  *
  * Semantics, certified by q_stream_enrich: each micro-batch's rows
  * left-join the dimension exactly as a batch join would — the final
  * appended table over any batching of the stream is byte-identical to
  * the batch join of the union (stateless ⇒ batching-invariant, the
  * easiest exactly-once story: sink idempotence alone carries it).
  *
  * Scale shape: the dimension broadcasts once per micro-batch plan
  * (Spark re-plans the static side each batch, so a slowly-refreshed
  * dim picks up replacements); the stream side never shuffles — no
  * watermark, no state, memory bounded by the batch. At 100 TB of
  * stream this is the join that MUST stay broadcast: a shuffled
  * stream-static join would re-partition every micro-batch. */
object EnrichStream {

  final case class Ev(event_id: Long, user_id: Long, us: Long,
                      value: Double)

  /** Broadcast left-enrichment of a (possibly streaming) event frame:
    * `dim`'s `dimKey` renames onto `user_id`; `cols` are carried. */
  def enrich(events: Dataset[Ev], dim: DataFrame, dimKey: String,
             cols: Seq[String]): DataFrame =
    events.toDF().join(
      broadcast(dim.select(col(dimKey).as("user_id") +:
        cols.map(col): _*)),
      Seq("user_id"), "left")

  /** Replay a bounded event set through the real stream in event-time
    * batches (append mode — stateless join, nothing to flush), then
    * return the appended table. */
  def replay(spark: SparkSession, events: Seq[Ev], dim: DataFrame,
             dimKey: String, cols: Seq[String],
             batches: Int = 4): DataFrame = {
    import spark.implicits._
    require(events.nonEmpty, "replay needs at least one event")
    require(batches >= 3,
      "replay needs >= 3 micro-batches to certify batching invariance")
    val in = Replay.input[Ev](spark)
    val minUs = events.map(_.us).min
    val maxUs = events.map(_.us).max
    val batchUs = math.max(1L, (maxUs - minUs) / batches + 1L)
    Replay.memory(spark, "enrich", partitions = 2)(
        enrich(in.ds, dim, dimKey, cols)) { q =>
      events.groupBy(e => (e.us - minUs) / batchUs).toSeq.sortBy(_._1)
        .foreach { case (_, slot) =>
          in.add(slot)
          q.processAllAvailable()
        }
    }
  }
}
