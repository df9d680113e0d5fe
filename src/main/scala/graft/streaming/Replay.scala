package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._
import graft.GraftSession

/** The one replay harness behind the streaming certification gates:
  * bounded inputs go through REAL Structured Streaming queries, either
  * driver-fed ([[input]] + [[memory]]) or file-fed ([[stageFile]] into
  * a checkpointed file source), under one conf scope ([[scope]]).
  * Collecting a memory sink through the driver is the documented
  * verification boundary — these are certification paths, not bulk
  * paths. */
object Replay {

  /** A driver-fed streaming source: each [[add]] queues one
    * micro-batch's rows for the next `processAllAvailable`. */
  final class Input[T] private[Replay] (mem: MemoryStream[T]) {
    def ds: Dataset[T] = mem.toDS()
    def add(rows: Seq[T]): Unit = { mem.addData(rows); () }
  }

  def input[T: Encoder](spark: SparkSession): Input[T] = {
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    new Input(MemoryStream[T])
  }

  /** The bounded-replay session overrides, restored on exit.
    *
    *  - State-store partitions are captured from `shuffle.partitions`
    *    at stream start, and every micro-batch pays an open/commit per
    *    state partition; a verification-bounded replay keeps the count
    *    small (2 or 4, per gate) where a production stream would keep
    *    the session default.
    *  - No-data micro-batches are off. Per-micro-batch cost is a flat
    *    ~0.5 s of addBatch/planning/commit overhead (PERF.md round 10),
    *    and a watermarked query runs a no-data batch after each data
    *    batch only to advance the watermark. Every replay either emits
    *    in its data batches or ends with two sentinel batches (the
    *    first advances the watermark, the second is a data batch
    *    evaluated under it), so those batches only double the count. */
  def scope[T](spark: SparkSession, partitions: Int)(body: => T): T =
    GraftSession.withConf(spark,
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)

  /** Starts `stream` into a memory sink named `graft_<name>_<uuid>`
    * inside [[scope]], hands the running query to `feed` (which adds
    * the batches and calls `processAllAvailable`), stops it, and
    * returns the sink's rows as a driver-local frame. The sink's view
    * is always dropped: the rows already live on the driver, so the
    * returned frame needs no checkpoint and no table outlives the
    * call. */
  def memory(spark: SparkSession, name: String, partitions: Int,
             outputMode: String = "append")(stream: => DataFrame)
            (feed: StreamingQuery => Unit): DataFrame = {
    val view =
      s"graft_${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      scope(spark, partitions) {
        val q = stream.writeStream.format("memory").queryName(view)
          .outputMode(outputMode).start()
        try feed(q) finally q.stop()
      }
      val sink = spark.table(view)
      spark.createDataFrame(sink.collect().toSeq.asJava, sink.schema)
    } finally { spark.catalog.dropTempView(view); () }
  }

  /** Writes `df` as ONE parquet file and moves it into the stream's
    * input dir as `inDir/name` (creating `inDir`), so a file source
    * sees it appear whole. The part file is staged next to `inDir` in
    * `stage_<name>` and moved with a Hadoop FileSystem rename, so the
    * dirs may live on any supported scheme. The rename signals failure
    * by its RETURN VALUE; ignoring it would silently drop the file and
    * replay with missing input, so `false` throws. */
  def stageFile(df: DataFrame, inDir: String, name: String): Unit = {
    val in = new Path(inDir)
    val fs = in.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new Path(in.getParent, s"stage_$name")
    fs.mkdirs(in)
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new Path(in, name)
    require(fs.rename(part, dst), s"rename failed: $part -> $dst")
  }
}
