package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The lineage policy of every iterative operator — [[Bfs]], [[Hits]],
  * [[KCore]], [[LabelProp]], [[Sssp]], [[PageRank]], [[PowerIteration]],
  * [[KCenter]], [[BpeTrain]] and [[Dedup.nearDupClusters]] — in one
  * scope:
  *
  *  - [[hold]] persists (`MEMORY_AND_DISK`) a frame that several rounds
  *    read. Every held frame is unpersisted when the scope exits, also
  *    when the body throws (a failing input `require` leaks no cache
  *    entry). The body returns a materialized output (a [[Iterate.cut]],
  *    a table built from collected rows, or a lazy frame over cuts
  *    only), so the release never forces a recompute.
  *  - [[Iterate.cut]] is the one lineage cut: a local checkpoint, eager
  *    unless the caller's own next action materializes it. Local
  *    checkpoints live on executors and do not survive executor loss;
  *    the choice of cut for that case is this one line.
  *  - [[cadence]] cuts every `checkpointInterval` rounds (and at the
  *    last round when the caller says so); the scope checks the
  *    interval once.
  *
  * Checkpoints are never released here, because no release works: on
  * Spark 4.1, `Dataset.unpersist()` on a `localCheckpoint`ed frame
  * frees nothing. Probed with `sc.getPersistentRDDs.size`, which stays
  * at 1 across the call for both eager and lazy checkpoints (IterateSpec
  * pins it). The blocks are freed by Spark's ContextCleaner once the
  * checkpointed RDD is garbage-collected.
  */
final class Iterate private (checkpointInterval: Int) {
  private val held = ArrayBuffer.empty[DataFrame]

  /** `df` persisted until the scope exits. */
  def hold(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    p
  }

  /** `df` cut when `round` is a multiple of the interval or `last`. */
  def cadence(round: Int, last: Boolean = false)(df: DataFrame): DataFrame =
    if (last || round % checkpointInterval == 0) Iterate.cut(df) else df
}

object Iterate {

  /** Runs `body` in a scope whose held frames are released on exit. */
  def apply[T](checkpointInterval: Int = 1)(body: Iterate => T): T = {
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    val scope = new Iterate(checkpointInterval)
    try body(scope) finally scope.held.foreach(_.unpersist())
  }

  /** `df` with its lineage cut to a local checkpoint. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)
}
