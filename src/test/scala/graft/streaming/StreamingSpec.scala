package graft.streaming

import graft.SparkTestBase
import graft.sources.Dims
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  test("T1: AvailableNow file ingest is exactly-once across restarts") {
    val in = tempDir("graft-stream-in")
    val ckpt = tempDir("graft-ckpt")
    val out = tempDir("graft-stream-out")

    Files.writeString(java.nio.file.Paths.get(s"$in/day1.csv"),
      "www.example.com,A,1.2.3.4\nalias.b.de,CNAME,real.b.de\n")
    val q1 = StreamingIngest.ingestAvailableNow(spark, in, ckpt, out,
      Dims.defaultTlds, None, "stream-test")
    q1.awaitTermination()
    assert(spark.read.parquet(s"$out/rdnsv4").count() == 1)
    assert(spark.read.parquet(s"$out/cnames").count() == 1)

    // restart with one NEW file: only the new file is processed
    Files.writeString(java.nio.file.Paths.get(s"$in/day2.csv"),
      "mail.example.com,A,5.6.7.8\n")
    val q2 = StreamingIngest.ingestAvailableNow(spark, in, ckpt, out,
      Dims.defaultTlds, None, "stream-test")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/rdnsv4").count() == 2)
    assert(spark.read.parquet(s"$out/cnames").count() == 1)

    // crash-replay: delete the last epoch's commit marker (offsets are
    // written BEFORE the batch runs, commits AFTER — a crash mid-write
    // leaves exactly this state). Restart replays the batch with the
    // same batchId; the batch=<id> overwrite keeps counts unchanged.
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles()
      .filter(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(last.delete())
    // the local ChecksumFileSystem shadows each file with .<name>.crc;
    // a real crash loses both, so drop it too or the replayed commit's
    // rename collides with the stale crc
    new java.io.File(commits, s".${last.getName}.crc").delete()
    val q3 = StreamingIngest.ingestAvailableNow(spark, in, ckpt, out,
      Dims.defaultTlds, None, "stream-test")
    q3.awaitTermination()
    assert(spark.read.parquet(s"$out/rdnsv4").count() == 2,
      "replayed batch must overwrite, not append")
    assert(spark.read.parquet(s"$out/cnames").count() == 1)
  }

  test("streaming decontamination gate splits batches against the static index") {
    import graft.operators.Dedup
    val base = tempDir("graft-screen")
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"

    // static reference corpus: distinct word-id docs
    val corpus = (0 until 10).map { i =>
      (i.toLong, (0 until 30).map(j => s"c${i * 100 + j}").mkString(" "))
    }.toDF("doc_id", "text")
    val index = Dedup.buildMinhashIndex(corpus, "doc_id", col("text"),
      numHashes = 16, bands = 16, shingleK = 3).persisted()

    // incoming batch 1: one near-copy of corpus doc 3 + one clean doc
    Replay.stageFile(Seq(
      (100L, (0 until 30).map(j => s"c${300 + j}").mkString(" ")
        .replace("c301", "cXXX")),
      (101L, (0 until 30).map(j => s"n$j").mkString(" ")))
      .toDF("doc_id", "text"), in, "f1.parquet")
    val stream1 = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(in)
    StreamingIngest.screenIngest(stream1, index, threshold = 0.5,
      "doc_id", "text", ckpt, out).awaitTermination()
    assert(spark.read.parquet(s"$out/flagged").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(100L))
    assert(spark.read.parquet(s"$out/clean").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(101L))

    // restart with one new file: exactly-once — batch 1 not rescreened
    Replay.stageFile(Seq((102L, corpus.filter(col("doc_id") === 7)
        .collect()(0).getString(1))) // exact copy of corpus doc 7
      .toDF("doc_id", "text"), in, "f2.parquet")
    val stream2 = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(in)
    StreamingIngest.screenIngest(stream2, index, threshold = 0.5,
      "doc_id", "text", ckpt, out).awaitTermination()
    assert(spark.read.parquet(s"$out/flagged").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(100L, 102L))
    assert(spark.read.parquet(s"$out/clean").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(101L))
    index.unpersist()
  }

  test("T2: watermarked dropDuplicates suppresses re-observations") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val deduped = StreamingIngest.dedupWindow(
      mem.toDF().toDF("domain", "obs_ts"))
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()

    def ts(d: Int) = Timestamp.valueOf(f"2024-06-$d%02d 00:00:00")
    mem.addData(("a.com", ts(1)), ("b.com", ts(1)))
    q.processAllAvailable()
    mem.addData(("a.com", ts(2)), ("c.com", ts(2)))  // a.com repeat
    q.processAllAvailable()
    val rows = spark.sql("SELECT domain FROM dedup_out")
      .collect().map(_.getString(0)).sorted.toSeq
    q.stop()
    assert(rows == Seq("a.com", "b.com", "c.com"))
  }

  test("T2 file-fed replay: per-day files + restarts emit first observation only") {
    import spark.implicits._
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-06-$d%02d $h%02d:00:00")
    val obs = Seq(
      ("a.com", ts(1, 3)), ("b.com", ts(1, 9)),
      ("a.com", ts(2, 1)),                     // repeat across a RESTART
      ("c.com", ts(3, 5)), ("b.com", ts(3, 6)),
      ("c.com", ts(3, 7)))                     // same-day repeat
      .toDF("domain", "obs_ts")
    val base = tempDir("graft-replay-files")
    val out = StreamingIngest.replayDailyDedupFiles(spark, obs, base)
      .collect().map(r => (r.getString(0), r.getTimestamp(1))).sorted.toSeq
    // day-2 a.com is suppressed only if the day-1 dedup state survived
    // the checkpointed restart between the daily runs
    assert(out == Seq(("a.com", ts(1, 3)), ("b.com", ts(1, 9)),
      ("c.com", ts(3, 5))))
  }

  test("T4: mapGroupsWithState tracks first/last seen per domain") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.DomainObs]
    val q = StreamingIngest.trackDomainState(mem.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()

    def ts(d: Int) = Timestamp.valueOf(f"2024-06-$d%02d 00:00:00")
    mem.addData(StreamingIngest.DomainObs("a.com", ts(1)))
    q.processAllAvailable()
    mem.addData(StreamingIngest.DomainObs("a.com", ts(5)),
      StreamingIngest.DomainObs("b.com", ts(5)))
    q.processAllAvailable()
    val byDomain = spark.sql(
        "SELECT domain, max(observations) obs FROM state_out GROUP BY domain")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val aRows = spark.sql(
        """SELECT firstSeen, lastSeen FROM state_out
          |WHERE domain='a.com' AND observations=2""".stripMargin).collect()
    q.stop()
    assert(byDomain == Map("a.com" -> 2L, "b.com" -> 1L))
    assert(aRows.length == 1)
    assert(aRows(0).getTimestamp(0) == ts(1))  // firstSeen survives update
    assert(aRows(0).getTimestamp(1) == ts(5))
  }

  test("T4: late out-of-order batch lowers firstSeen, never regresses lastSeen") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.DomainObs]
    val q = StreamingIngest.trackDomainState(mem.toDS())
      .writeStream.format("memory").queryName("state_ooo")
      .outputMode("update").start()
    def ts(d: Int) = Timestamp.valueOf(f"2024-06-$d%02d 00:00:00")
    mem.addData(StreamingIngest.DomainObs("a.com", ts(10)))
    q.processAllAvailable()
    // a LATE batch arrives with an earlier observation
    mem.addData(StreamingIngest.DomainObs("a.com", ts(3)))
    q.processAllAvailable()
    val r = spark.sql(
        """SELECT firstSeen, lastSeen FROM state_ooo
          |WHERE domain='a.com' AND observations=2""".stripMargin).collect()
    q.stop()
    assert(r.length == 1)
    assert(r(0).getTimestamp(0) == ts(3), "firstSeen must take the late min")
    assert(r(0).getTimestamp(1) == ts(10), "lastSeen must not move backwards")
  }

  test("session windows group events separated by gaps (free per §2.9)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val sessions = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("events"))
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-06-01 10:$m%02d:00")
    // two bursts 30 min apart -> two sessions; advance watermark to close
    mem.addData((1L, ts(0)), (1L, ts(5)), (1L, ts(40)), (1L, ts(42)))
    q.processAllAvailable()
    mem.addData((2L, Timestamp.valueOf("2024-06-01 13:00:00")))
    q.processAllAvailable()
    val rows = spark.sql(
        "SELECT user_id, events FROM sessions_out WHERE user_id = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    q.stop()
    assert(rows == Seq((1L, 2L), (1L, 2L)))  // two sessions of two events
  }

  test("compaction keeps last-write-wins per key") {
    val out = tempDir("graft-compact")
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      ("com", "", "a", "", "", "", "", "s1", "A",
        t("2024-06-01 00:00:00"), t("2024-06-01 00:00:00")),
      ("com", "", "a", "", "", "", "", "s2", "A",
        t("2024-06-02 00:00:00"), t("2024-06-02 00:00:00")),
      ("com", "", "b", "", "", "", "", "s1", "A",
        t("2024-06-01 00:00:00"), t("2024-06-01 00:00:00")))
      .toDF("p1", "p2", "p3", "p4", "p5", "p6", "p7", "source",
        "sourceRecordType", "lastSeen", "updatedAt")
    StreamingIngest.compactSubdomains(df, s"$out/subdomains")
    val rows = spark.read.parquet(s"$out/subdomains")
      .select("p3", "source").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq(("a", "s2"), ("b", "s1")))  // newer s2 wins for key a
  }
}
