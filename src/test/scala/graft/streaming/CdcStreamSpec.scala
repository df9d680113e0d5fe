package graft.streaming

import graft.{GraftSession, SparkTestBase}
import graft.streaming.CdcStream.{Chg, KeyState}

class CdcStreamSpec extends SparkTestBase {

  test("fold: greatest (us, event_id) wins regardless of op or arrival order") {
    val batch = Seq(
      Chg(1, 300, 1, "U", 3.0),
      Chg(1, 100, 9, "I", 1.0), // out of order within the batch
      Chg(1, 300, 0, "D", 0.0)) // same us, lower event_id -> loses
    val st = CdcStream.fold(None, batch)
    assert(st == KeyState("U", 300, 1, 3.0))
    // carried state supersedes only on a strictly greater key
    assert(CdcStream.fold(Some(st), Seq(Chg(1, 200, 99, "D", 0.0))) == st)
    assert(CdcStream.fold(Some(st), Seq(Chg(1, 300, 2, "D", 0.0))) ==
      KeyState("D", 300, 2, 0.0))
  }

  test("retention: event-time timeout evicts idle keys (state read back " +
      "per batch SHRINKS), late changes are dropped, on-time changes " +
      "re-activate evicted keys") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val day = 86400000000L
    def d(n: Long) = n * day
    GraftSession.withConf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val ckpt = tempDir("graft_cdc_ret")
      val mem = MemoryStream[Chg]
      val name = "graft_cdc_retention_spec"
      val q = CdcStream.upsertRetention(mem.toDS(), retentionUs = 3L * day)
        .toDF()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
      try {
        Seq(
          Seq(Chg(1, d(1), 1, "I", 1.0), Chg(2, d(1) + 1000000L, 2, "I", 2.0),
            Chg(3, d(1) + 2000000L, 3, "I", 3.0)), // b0: 3 keys live
          Seq(Chg(3, d(10), 4, "U", 3.5)),         // b1: refresh 3; wm→d10
          Seq(Chg(99, d(11), 5, "U", 0.0)),        // b2: under wm d10 → evict 1,2
          Seq(Chg(5, d(2), 6, "U", 9.0)),          // b3: LATE → dropped, no state
          Seq(Chg(99, d(14), 7, "U", 0.0),
            Chg(1, d(14) + 1000000L, 8, "U", 10.0)), // b4: on-time re-activation
          Seq(Chg(99, d(15), 9, "U", 0.0))         // b5: under wm d14 → evict 3
        ).foreach { b => mem.addData(b); q.processAllAvailable() }
        q.stop()
        // the ACTUAL committed state per micro-batch, read back through
        // the state data source — not a progress metric (those proved
        // unreliable for this operator); eviction must SHRINK the store
        def stateKeys(b: Int): Seq[Long] = spark.read.format("statestore")
          .option("path", ckpt).option("batchId", b).load()
          .select("key.*").collect().map(_.getLong(0)).toSeq.sorted
        assert(stateKeys(0) == Seq(1L, 2L, 3L))
        assert(stateKeys(1) == Seq(1L, 2L, 3L))
        assert(stateKeys(2) == Seq(3L, 99L)) // idle keys 1,2 evicted
        assert(stateKeys(3) == Seq(3L, 99L)) // late key 5 never entered state
        assert(stateKeys(4) == Seq(1L, 3L, 99L)) // on-time change re-activates 1
        assert(stateKeys(5) == Seq(1L, 99L)) // key 3 evicted once past d13
        val em = spark.table(name)
          .as[(Long, String, Long, Long, Double)].collect().toSeq
        // eviction markers carry the evicted state (LWW winner at eviction)
        assert(em.contains((1L, CdcStream.EvictedOp, d(1), 1L, 1.0)))
        assert(em.contains((2L, CdcStream.EvictedOp, d(1) + 1000000L, 2L, 2.0)))
        assert(em.contains((3L, CdcStream.EvictedOp, d(10), 4L, 3.5)))
        // the late change produced NO emission at all
        assert(!em.exists(_._1 == 5L))
        // re-activation emitted fresh state that outranks key 1's marker
        assert(em.contains((1L, "U", d(14) + 1000000L, 8L, 10.0)))
      } finally {
        if (q.isActive) q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  test("face split: raw retention emissions = upserts ⊎ evictions " +
      "(disjoint, exhaustive); eviction face = one marker per eviction " +
      "EVENT (re-eviction yields two); reserved op rejected loudly") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val day = 86400000000L
    def d(n: Long) = n * day
    GraftSession.withConf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val mem = MemoryStream[Chg]
      val name = "graft_cdc_face_split_spec"
      val q = CdcStream.upsertRetention(mem.toDS(), retentionUs = 3L * day)
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        Seq(
          Seq(Chg(1, d(1), 1, "I", 1.0), Chg(2, d(1) + 1L, 2, "I", 2.0)),
          Seq(Chg(99, d(10), 3, "U", 0.0)), // wm -> d10 after this batch
          Seq(Chg(99, d(11), 4, "U", 0.0)), // under wm d10: evict 1, 2
          Seq(Chg(1, d(14), 5, "U", 9.0)),  // re-activates key 1
          Seq(Chg(99, d(20), 6, "U", 0.0)), // wm -> d20 after this batch
          Seq(Chg(99, d(21), 7, "U", 0.0))  // under wm d20: evict 1 AGAIN
        ).foreach { b => mem.addData(b); q.processAllAvailable() }
        q.stop()
        val all = spark.table(name).as[CdcStream.Upsert].collect().toSeq
        val ups = CdcStream.upsertsOnly(spark.table(name)
          .as[CdcStream.Upsert]).collect().toSeq
        val evs = CdcStream.evictionsOnly(spark.table(name)
          .as[CdcStream.Upsert]).collect().toSeq
        // disjoint and exhaustive: the two faces partition the raw stream
        assert((ups ++ evs).sortBy(u => (u.user_id, u.last_us, u.last_op))
          == all.sortBy(u => (u.user_id, u.last_us, u.last_op)))
        assert(ups.forall(_.last_op != CdcStream.EvictedOp))
        assert(evs.forall(_.last_op == CdcStream.EvictedOp))
        // upsert face: exactly the live-state emissions, input ops only
        assert(ups.map(_.last_op).toSet == Set("I", "U"))
        assert(ups.size == 7) // 2 inserts + re-activation + 4 key-99 beats
        // eviction face: one marker per eviction EVENT, carrying the
        // last-committed state at removal — key 1 evicted TWICE
        assert(evs.sortBy(u => (u.user_id, u.last_us)) == Seq(
          CdcStream.Upsert(1, CdcStream.EvictedOp, d(1), 1, 1.0),
          CdcStream.Upsert(1, CdcStream.EvictedOp, d(14), 5, 9.0),
          CdcStream.Upsert(2, CdcStream.EvictedOp, d(1) + 1L, 2, 2.0)))
      } finally {
        if (q.isActive) q.stop()
        spark.catalog.dropTempView(name)
      }
    }
    // the reserved marker op is rejected loudly at the handler
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val ex = intercept[Exception] {
      CdcStream.replayRetention(spark,
        Seq(Chg(5, d(1), 1, "evicted", 0.0), Chg(6, d(2), 2, "I", 1.0)),
        retentionUs = 3L * day, flushUs = d(9)).collect()
    }
    assert(messages(ex).exists(_.contains("reserved")), messages(ex))
  }

  test("replayRetention: final table equals the batch LWW window " +
      "restricted to the retention horizon") {
    val spark2 = spark
    import spark2.implicits._
    val day = 86400000000L
    val changes = Seq(
      Chg(1, 1L * day, 1, "I", 1.0),  // idle since day 1 → evicted
      Chg(2, 1L * day, 2, "I", 2.0),
      Chg(2, 20L * day, 3, "U", 2.5), // refreshed day 20 → live
      Chg(3, 19L * day, 4, "D", 0.0), // live but tombstoned → absent
      Chg(4, 21L * day, 5, "U", 4.0)) // live
    val out = CdcStream.replayRetention(spark, changes,
        retentionUs = 5L * day, flushUs = 22L * day, batches = 3)
      .filter(org.apache.spark.sql.functions.col("last_op") =!= "D")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._5))).toMap
    assert(out == Map(
      2L -> (("U", 20L * day, 2.5)),
      4L -> (("U", 21L * day, 4.0))))
  }

  test("replay: cross-batch state carry equals the batch LWW window") {
    val spark2 = spark
    import spark2.implicits._
    val changes = Seq(
      // key 1: I then U in a later batch, then a D that LOSES on ts
      Chg(1, 1000000L, 1, "I", 1.0),
      Chg(1, 5000000000L, 2, "U", 2.0),
      Chg(1, 3000000000L, 3, "D", 0.0),
      // key 2: tombstoned last -> leaves the table
      Chg(2, 1000000L, 4, "I", 4.0),
      Chg(2, 6000000000L, 5, "D", 0.0),
      // key 3: same-us tie broken by event_id
      Chg(3, 2000000000L, 6, "U", 6.0),
      Chg(3, 2000000000L, 7, "U", 7.0))
    val out = CdcStream.replay(spark, changes, batches = 3)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._5))).toMap
    assert(out(1L) == (("U", 5000000000L, 2.0)))
    assert(out(2L) == (("D", 6000000000L, 0.0))) // tombstone surfaces...
    assert(out(3L) == (("U", 2000000000L, 7.0)))
    // ...and the table projection drops it
    val alive = CdcStream.replay(spark, changes, batches = 3)
      .filter(org.apache.spark.sql.functions.col("last_op") =!= "D")
      .select("user_id").as[Long].collect().toSet
    assert(alive == Set(1L, 3L))
  }
}
