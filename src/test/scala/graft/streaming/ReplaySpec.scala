package graft.streaming

import graft.{GraftSession, SparkTestBase}

/** The replay harness: the conf scope restores what it set, and every
  * memory replay drops its sink. The replays' answers are pinned by the
  * per-operator specs; the file stager runs in every file-fed spec. */
class ReplaySpec extends SparkTestBase {

  import spark.implicits._

  test("withConf restores a set key and unsets a previously unset key " +
      "after a body that throws") {
    // a new session: its conf holds only what the builder set, so the
    // check does not depend on which suites ran before it
    val s = spark.newSession()
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    assert(s.conf.getAll.get(setKey).contains("4"))
    assert(!s.conf.getAll.contains(unsetKey))
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(s, setKey -> "7", unsetKey -> "false") {
        assert(s.conf.get(setKey) == "7")
        assert(s.conf.get(unsetKey) == "false")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(s.conf.get(setKey) == "4")
    assert(!s.conf.getAll.contains(unsetKey))
  }

  private def graftViews(): Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet

  /** Runs `replay`, reads its answer, and checks no new `graft_*` view
    * outlives the call. */
  private def dropsItsSink(replay: => org.apache.spark.sql.DataFrame): Unit = {
    val before = graftViews()
    val n = replay.count()
    assert(n > 0)
    val leaked = graftViews() -- before
    assert(leaked.isEmpty, s"leaked memory sinks: $leaked")
  }

  private val day = 86400000000L

  test("StreamJoin.replay drops its memory sink") {
    dropsItsSink(StreamJoin.replay(spark,
      Seq(StreamJoin.Ev(1L, day, 1L), StreamJoin.Ev(1L, 3L * day, 2L)),
      Seq(StreamJoin.Ev(1L, day + 10L, 3L)), windowUs = 1000L))
  }

  test("SessionStream.replayWeekly drops its memory sink") {
    dropsItsSink(SessionStream.replayWeekly(spark,
      Seq(SessionStream.SessEvent(1L, day, 1L),
        SessionStream.SessEvent(1L, 20L * day, 2L)), gapUs = day))
  }

  test("WindowedStream.replayHourly drops its memory sink") {
    dropsItsSink(WindowedStream.replayHourly(spark,
      Seq(WindowedStream.Ev(day, 1L), WindowedStream.Ev(9L * day, 2L))))
  }

  test("CdcStream.replay drops its memory sink") {
    dropsItsSink(CdcStream.replay(spark,
      Seq(CdcStream.Chg(1L, day, 1L, "I", 1.0),
        CdcStream.Chg(1L, 5L * day, 2L, "U", 2.0)), batches = 3))
  }

  test("EnrichStream.replay drops its memory sink") {
    dropsItsSink(EnrichStream.replay(spark,
      Seq(EnrichStream.Ev(1L, 1L, day, 1.0),
        EnrichStream.Ev(2L, 2L, 5L * day, 2.0)),
      Seq((1L, "a")).toDF("k", "seg"), "k", Seq("seg"), batches = 3))
  }
}
