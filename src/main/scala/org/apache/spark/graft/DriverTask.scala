package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{Partition, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.util.Utils

/** Runs one partition of an RDD as a task on the calling driver thread,
  * with the set-up and tear-down an executor gives a task: a
  * `TaskContext` (so readers register their close as completion
  * listeners), a task memory manager and block-lock bookkeeping.
  * Lives in Spark's package because those types are package-private.
  *
  * The task's local properties are a clone of the calling thread's. A
  * SQL execution puts the session's SQL conf there, and `SQLConf.get`
  * inside a task reads it from the task's properties; with empty ones
  * every conf read in the run (the session time zone, ANSI mode) would
  * see Spark's defaults. */
object DriverTask {

  /** Task-attempt ids of driver-run tasks. Negative, so they never meet
    * a scheduler's ids (counted up from 0), and counted up from
    * `Long.MinValue`, far from the block manager's reserved
    * non-task writer id (-1024). */
  private val nextId = new AtomicLong(Long.MinValue)

  /** `f` applied to the rows of `split`, computed on this thread.
    * Completion listeners run before this returns or throws. */
  def run[T, U](rdd: RDD[T], split: Partition)(f: Iterator[T] => U): U = {
    val env = SparkEnv.get
    val id = nextId.getAndIncrement()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(-1, 0, split.index, id, 0, 1, memory,
      Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    env.blockManager.registerTask(id)
    TaskContext.setTaskContext(ctx)
    InputFileBlockHolder.initialize()
    try {
      val out =
        try f(rdd.iterator(split, ctx))
        catch {
          case e: Throwable =>
            try ctx.markTaskFailed(e)
            catch { case t: Throwable => e.addSuppressed(t) }
            try ctx.markTaskCompleted(Some(e))
            catch { case t: Throwable => e.addSuppressed(t) }
            throw e
        }
      ctx.markTaskCompleted(None)
      out
    } finally {
      TaskContext.unset()
      InputFileBlockHolder.unset()
      memory.cleanUpAllAllocatedMemory()
      env.blockManager.releaseAllLocksForTask(id)
    }
  }
}
