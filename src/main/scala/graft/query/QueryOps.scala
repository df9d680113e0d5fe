package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's declared query surface as reusable operators
  * (SURVEY §2.5-2.6): CQL per-partition limits and page-state
  * pagination, generalized.
  */
object QueryOps {

  /** Runs `body` with adaptive query execution DISABLED, restoring the
    * previous setting on exit (r20 optimization round). AQE compiles
    * every exchange — shuffle or broadcast — into its own query stage,
    * and each stage is a full driver job round-trip (re-optimize,
    * submit, await): measured 36–46 ms/job on a quiet box, and the
    * iterative graph rows pay 26–73 jobs per run almost entirely on
    * provably tiny frames (mod-1000 node ids ⇒ ≤ 1000 rows at ANY
    * input scale). For those computations AQE's runtime re-planning
    * (coalescing, skew splits, join re-selection) has nothing to
    * re-plan, so the whole per-stage materialization protocol is pure
    * scheduling overhead — the same driver-latency tax on a 1000-node
    * cluster as on local[32]. Scope: use ONLY around eager
    * multi-action segments whose per-action plan shape AQE cannot
    * improve — blob builds, 1-row writes (the index-lifecycle rows).
    * A lazily returned tail frame executes AFTER the conf is restored
    * and deliberately keeps AQE. Measured boundary (r20): wrapping
    * LAZY ITERATIVE bodies (components hops, PageRank unrolls)
    * REGRESSED 3-4x — their per-round tiny frames have no stats
    * without AQE, so the planner falls back to sort-merge joins where
    * AQE's runtime size observation broadcast them; those scopes were
    * reverted. The win is real only where the scoped actions contain
    * no size-sensitive join choices.
    *
    * The scope is a [[graft.GraftSession.withConf]] scope and carries
    * its concurrency contract: single-threaded use of the session. */
  def withoutAqe[T](s: org.apache.spark.sql.SparkSession)(body: => T): T =
    // Auto-broadcast stays ON inside the scope: a BroadcastExchange
    // build is itself a driver job round-trip, but the A/B probe
    // (r20) showed builds beat the alternative — suppressing them
    // (autoBroadcastJoinThreshold=-1) cut q_graph_kcore to 7 jobs yet
    // tripled its floor (5.9 s → 15.1 s): the in-job SMJ stages pay
    // 32-task sorts per round that cost more than the build
    // round-trips they replace.
    graft.GraftSession.withConf(s, "spark.sql.adaptive.enabled" -> "false")(body)

  /** How [[funnel]] materializes the step-filtered event slice it
    * re-reads once per step (ADVICE r13: the one-scan win must not
    * silently cost fault tolerance when the slice is fact-table-sized).
    *
    *  - [[FunnelScan.LocalCheckpoint]] (default): lazy
    *    `localCheckpoint` — fastest re-read (executor-local blocks,
    *    lineage CUT). NOT fault tolerant: losing an executor loses
    *    blocks the job cannot recompute. Right when the funnel steps
    *    select a small fraction of the fact table — the common case.
    *  - [[FunnelScan.DiskPersist]]: `persist(DISK_ONLY)` — same
    *    executor-local disk footprint, lineage KEPT, so an executor
    *    loss recomputes the missing slice instead of failing the job.
    *    Right when `steps` covers most event types at cluster scale
    *    (the slice ≈ the fact table): at 100 TB an executor loss over
    *    a multi-hour funnel is an expectation, not an edge case.
    *  - [[FunnelScan.Rescan]]: no materialization — each step re-scans
    *    the source (k scans, the pre-r13 shape). The opt-out when the
    *    slice exceeds what executor disks should hold; the parquet
    *    scan's pushed `isin(steps)` filter is then the only reuse.
    *
    * Rule of thumb: slice ≤ ~10% of the fact table → default; slice
    * comparable to the fact table → `DiskPersist`; slice larger than
    * aggregate executor disk → `Rescan`.
    *
    * Measured crossover (PERF.md "Round-15 (cont.): FunnelScan mode
    * certification", forced min-of-2, local[32]): on the 10×/100×
    * entity-scaled event fixtures the funnel leg runs LocalCheckpoint
    * 2.23 s / 2.76 s, DiskPersist 2.71 s / 2.66 s, Rescan 1.89 s /
    * 2.22 s. Reading the numbers:
    * with the source parquet page-cached (any local fixture), Rescan's
    * k−1 re-reads are nearly free and both persist modes pay a net
    * materialization premium — so the persist modes are INSURANCE
    * priced at ~0.3–0.8 s per 100× leg, not a local win. The
    * insurance pays off exactly when a re-read is not cache-priced:
    * a 100 TB fact table on an object store makes Rescan k−1 extra
    * full remote scans, which dwarfs one slice write. Between the two
    * persist modes, DiskPersist's fixed write cost makes it the
    * slower choice on small slices (2.71 vs 2.23 at 10×) and reaches
    * parity by 100× (2.66 vs 2.76); choose it over LocalCheckpoint
    * when the slice itself is fact-table-sized (disk-only blocks, no
    * executor-memory pressure, lineage kept for fault recovery) —
    * LocalCheckpoint blocks are memory-first and their lineage is
    * severed, so a lost executor kills the query instead of
    * recomputing.
    *
    * Cached-block LIFETIME (ADVICE r14): the returned funnel frame is
    * lazy, so `funnel` cannot unpersist its own slice — the blocks
    * must outlive the call. `DiskPersist` blocks (and
    * `LocalCheckpoint` blocks alike) are released in two ways:
    * explicitly, by the caller holding the input DataFrame calling
    * `spark.sharedState.cacheManager`-level cleanup or
    * `df.unpersist()` on the slice they own; or automatically, by
    * Spark's ContextCleaner once the result frame (and with it the
    * slice plan) becomes unreachable and is GC'd — i.e. dropping the
    * reference after materializing releases the disk asynchronously.
    * A long-lived handle to an un-materialized DiskPersist funnel
    * therefore pins executor disk for exactly as long as the caller
    * keeps it; that is the contract, not a leak. */
  sealed trait FunnelScan
  object FunnelScan {
    case object LocalCheckpoint extends FunnelScan
    case object DiskPersist extends FunnelScan
    case object Rescan extends FunnelScan
  }

  /** W1: CQL `PER PARTITION LIMIT n` — first n clustering-ordered rows
    * per partition key. One shuffle on the partition key; no global
    * sort, no driver materialization. */
  def perPartitionLimit(df: DataFrame, n: Int,
                        partitionKeys: Seq[String],
                        clusteringOrder: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionKeys.map(col): _*)
      .orderBy(clusteringOrder: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** W2: keyset (page-state) pagination — strictly-after-key predicate
    * plus limit, never OFFSET. `after` is None for the first page; the
    * caller threads the last row's key as the next page state. The key
    * predicate reaches the scan (row-group pruning), so each page costs
    * O(page), not O(offset) — the Cassandra forward-only contract. */
  def keysetPage(df: DataFrame, keyCol: String, after: Option[Any],
                 pageSize: Int): DataFrame = {
    val base = after match {
      case Some(k) => df.filter(col(keyCol) > lit(k))
      case None    => df
    }
    base.orderBy(col(keyCol)).limit(pageSize)
  }

  /** Batch sessionization: a session breaks when the gap between
    * consecutive events of the same key exceeds `gap` (same numeric
    * unit as `orderCol` — pass epoch nanos and a nano gap, etc.).
    * Session ids number each key's sessions from 1 in time order.
    *
    * Shape: lag to flag session starts, running sum to number them —
    * two windows over the SAME (key, order) frame, ONE shuffle.
    * Deterministic under timestamp ties: tied events see gap 0, so
    * they land in the same session whatever their relative order. */
  def sessionize(df: DataFrame, key: Column, orderCol: Column,
                 gap: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCol)
    val prev = lag(orderCol, 1).over(w)
    df.withColumn("__new",
        when(orderCol - prev > gap || prev.isNull, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .drop("__new")
  }

  /** Strict-sequence funnel: per entity, step i's timestamp is the
    * EARLIEST event of type `steps(i)` strictly after step i-1's
    * timestamp (first-touch chaining, the standard product-analytics
    * funnel), and — when `maxGap` is set — within `maxGap` of it (the
    * conversion-window form: a purchase nine months after the click
    * does not convert the funnel). Returns one row per entity that
    * reached step 1: (entity, t1..tk, depth), missing steps null.
    *
    * Shape: k-1 dependent mins, each a join + aggregate keyed on the
    * entity — every shuffle is entity-keyed and k is the (small)
    * funnel length, so the plan is k co-partitioned passes, no
    * windows over the whole event stream; the carried frame is one
    * row per funnel-entered entity, shrinking with depth. The event
    * stream is SCANNED ONCE (r13): the step-type filter + 3-column
    * projection materialize on the first pass (per `scan` —
    * [[FunnelScan]] picks the local-checkpoint / disk-persist /
    * rescan trade, ADVICE r13), and every later step slice reads
    * those blocks — the k-scan form re-read the fact table per step,
    * a k× I/O multiplier that at 100 TB dwarfs the joins (and that
    * the 10× sweep surfaced as a cold-cache tail when the sweep
    * evicted the parquet between scans). */
  def funnel(df: DataFrame, entity: Column, orderCol: Column,
             etype: Column, steps: Seq[String],
             maxGap: Option[Long] = None,
             scan: FunnelScan = FunnelScan.LocalCheckpoint): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxGap.forall(_ > 0), "maxGap must be > 0 when set")
    val slice = df.select(entity.as("entity"), orderCol.as("__ts"),
      etype.as("__e"))
      .filter(col("__e").isin(steps: _*))
    val events = scan match {
      case FunnelScan.LocalCheckpoint => slice.localCheckpoint(false)
      case FunnelScan.DiskPersist =>
        slice.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      case FunnelScan.Rescan => slice
    }
    val first = events.filter(col("__e") === steps.head)
      .groupBy("entity").agg(min(col("__ts")).as("t1"))
    val full = steps.zipWithIndex.tail.foldLeft(first) {
      case (acc, (s, i)) =>
        val inWindow = maxGap
          .map(g => col("__ts") <= col(s"t$i") + g)
          .getOrElse(lit(true))
        val next = events.filter(col("__e") === s)
          .join(acc.select(col("entity"), col(s"t$i")), Seq("entity"))
          .filter(col("__ts") > col(s"t$i") && inWindow)
          .groupBy("entity").agg(min(col("__ts")).as(s"t${i + 1}"))
        acc.join(next, Seq("entity"), "left")
    }
    val depth = steps.indices
      .map(i => when(col(s"t${i + 1}").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    full.withColumn("depth", depth)
  }

  /** The funnel REPORT: (step, step_name, n_entities reaching that
    * step) — non-increasing in step by the prefix-chaining above. The
    * entity frame is bounded (one row per funnel-entered entity), so
    * the explode-to-steps projection adds k small rows per entity
    * before one k·steps-row aggregate. */
  def funnelSummary(df: DataFrame, entity: Column, orderCol: Column,
                    etype: Column, steps: Seq[String],
                    maxGap: Option[Long] = None,
                    scan: FunnelScan = FunnelScan.LocalCheckpoint)
      : DataFrame = {
    val rt = funnel(df, entity, orderCol, etype, steps, maxGap, scan)
    val stepStructs = steps.zipWithIndex.map { case (s, i) =>
      struct(lit(i + 1).as("step"), lit(s).as("step_name"),
        (col("depth") >= i + 1).cast("long").as("__r"))
    }
    rt.select(explode(array(stepStructs: _*)).as("s"))
      .groupBy(col("s.step").as("step"), col("s.step_name").as("step_name"))
      .agg(sum("s.__r").as("n_users"))
      .orderBy("step")
  }

  /** A1/O3: group-count top-k with deterministic tie-break. */
  def topK(df: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt") +: groupCols.map(c => asc(c)): _*)
      .limit(k)

  /** As-of join (inclusive): for each left row, the right row with the
    * greatest `rightTime` <= `leftTime` within the same key group —
    * composed from union + a running `last(ignoreNulls)` window, no
    * custom physical operator needed (builder-prompt preference (a)).
    *
    * This IS the engine's as-of operator. A custom sort-merge
    * LogicalPlan/Strategy/Exec rung-(c) implementation existed through
    * round 2 on a union-schema-blow-up hypothesis; measured head to
    * head at sf0.1 it was 3-4x SLOWER than this form on every payload
    * shape tried (narrow, 8 wide right values, 12 wide left columns —
    * its per-row interpreted projections outweighed the union padding;
    * see PERF.md), so it was deleted. Evidence over operator ladders.
    *
    * Contract: key columns share names across sides; `right` must be
    * unique per (keys, rightTime) — pre-aggregate ties away (the specs
    * and q_asof_latest_order do). NULL right values where no right row
    * precedes the left row. NULL keys/times group and order smallest
    * (documented divergence from DuckDB native ASOF; AsofJoinSpec).
    *
    * Scale: one shuffle on the key columns; state per partition is the
    * running last values — no n x m join blowup for dense right sides,
    * which is exactly where a range-join formulation degrades. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               rightValues: Seq[String]): DataFrame = {
    val leftPayload = left.columns.filterNot(c => keys.contains(c)).toSeq
    // all right values travel in ONE struct filled by a single
    // last(ignoreNulls) — so every output value comes from the same
    // (latest) right row, and a legitimate NULL inside that row is
    // preserved rather than resurrecting an older row's value
    // (DuckDB ASOF JOIN semantics)
    val rvType = org.apache.spark.sql.types.StructType(
      rightValues.map(c => right.schema(c)))
    val l = left
      .withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__is_l", lit(1))
      .withColumn("__rv", lit(null).cast(rvType))
    val r0 = right
      .withColumn("__t", col(rightTime).cast("timestamp"))
      .withColumn("__is_l", lit(0))
      .withColumn("__rv", struct(rightValues.map(col): _*))
    val rAligned = leftPayload.foldLeft(r0) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val cols = keys ++ Seq("__t", "__is_l", "__rv") ++ leftPayload
    val unioned = l.select(cols.map(col): _*)
      .unionByName(rAligned.select(cols.map(col): _*))
    // right rows sort before left rows at equal time -> inclusive (>=)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__is_l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__is_l") === 1)
    rightValues.foldLeft(filled) { (df, c) =>
      df.withColumn(c, col("__rv").getField(c))
    }.drop("__t", "__is_l", "__rv")
  }

  /** Time-series resample + forward fill: snap each event to a
    * fixed-`stepUs` grid bucket, generate every key's full bucket range
    * from its first to last event (sequence+explode — executor-side,
    * no driver grid), count events per bucket (0 for gaps), and carry
    * the last observed value forward across gaps. The in-bucket
    * representative value is the event with the greatest
    * (timeUs, tie) — deterministic under timestamp ties.
    *
    * Output: (key, bucket_us, cnt, filled_value). Buckets before a
    * key's first value-bearing event keep filled_value NULL (nothing
    * to carry). Scale: one shuffle on the key for bounds + one
    * window sort per key; grid rows scale with key time-span, never
    * materialized on the driver. */
  def resampleFfill(df: DataFrame, key: Column, timeUs: Column,
                    tie: Column, value: Column, stepUs: Long): DataFrame = {
    val ev = df.select(key.as("key"), timeUs.as("__us"), tie.as("__tie"),
        value.as("__v"))
      .withColumn("bucket_us", col("__us") - pmod(col("__us"), lit(stepUs)))
    val perBucket = ev
      .withColumn("__rn", row_number().over(
        Window.partitionBy("key", "bucket_us")
          .orderBy(desc("__us"), desc("__tie"))))
      .groupBy("key", "bucket_us")
      .agg(count(lit(1)).as("cnt"),
        max(when(col("__rn") === 1, col("__v"))).as("__bv"))
    val grid = ev.groupBy("key")
      .agg(min("bucket_us").as("__lo"), max("bucket_us").as("__hi"))
      .select(col("key"),
        explode(sequence(col("__lo"), col("__hi"), lit(stepUs)))
          .as("bucket_us"))
    grid.join(perBucket, Seq("key", "bucket_us"), "left")
      .withColumn("filled_value",
        last(col("__bv"), ignoreNulls = true).over(
          Window.partitionBy("key").orderBy("bucket_us")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("key"), col("bucket_us"),
        coalesce(col("cnt"), lit(0L)).as("cnt"), col("filled_value"))
  }

  /** Time-series resample + LINEAR interpolation, integer-exact: snap
    * each event to a fixed-`stepUs` grid bucket, generate every key's
    * bucket range between its first and last event, and fill gap
    * buckets by interpolating between the surrounding observed bucket
    * values IN SCALED INTEGERS:
    *
    *   filled = prev·S ± (|next − prev|·S·gapIdx) div spanIdx
    *
    * where S = 10^6, gapIdx/spanIdx are BUCKET-INDEX distances
    * (bucket deltas div stepUs — µs deltas would overflow the scaled
    * product on long gaps), the division is integer, and the sign is
    * branched explicitly so truncating (Spark `div`) and flooring
    * engines agree: the quotient is always non-negative, where the
    * two semantics coincide. That makes every interpolated value an
    * exact integer both engines reproduce bit-for-bit — the
    * float-free analog of the usual `lerp`.
    *
    * `intValue` must be an integer-typed observation (the caller
    * picks the discretization — that choice is part of the
    * definition, as in [[graft.operators.Drift]]). The in-bucket
    * representative is the event with the greatest (timeUs, tie).
    * Grid endpoints are observed buckets, so every grid row has both
    * neighbors — no edge NULLs by construction.
    *
    * Output: (key, bucket_us, cnt, interp_scaled). Scale shape: one
    * shuffle on the key for bounds + per-key window sorts; grid rows
    * scale with key time-span, never the driver. */
  def resampleInterp(df: DataFrame, key: Column, timeUs: Column,
                     tie: Column, intValue: Column, stepUs: Long,
                     scale: Long = 1000000L): DataFrame = {
    val ev = df.select(key.as("key"), timeUs.as("__us"), tie.as("__tie"),
        intValue.cast("long").as("__v"))
      .withColumn("bucket_us", col("__us") - pmod(col("__us"), lit(stepUs)))
    val perBucket = ev
      .withColumn("__rn", row_number().over(
        Window.partitionBy("key", "bucket_us")
          .orderBy(desc("__us"), desc("__tie"))))
      .groupBy("key", "bucket_us")
      .agg(count(lit(1)).as("cnt"),
        max(when(col("__rn") === 1, col("__v"))).as("__bv"))
    val grid = ev.groupBy("key")
      .agg(min("bucket_us").as("__lo"), max("bucket_us").as("__hi"))
      .select(col("key"),
        explode(sequence(col("__lo"), col("__hi"), lit(stepUs)))
          .as("bucket_us"))
    val wPrev = Window.partitionBy("key").orderBy("bucket_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("key").orderBy("bucket_us")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(perBucket, Seq("key", "bucket_us"), "left")
      .withColumn("__pv", last(col("__bv"), ignoreNulls = true).over(wPrev))
      .withColumn("__pb", last(when(col("__bv").isNotNull, col("bucket_us")),
        ignoreNulls = true).over(wPrev))
      .withColumn("__nv", first(col("__bv"), ignoreNulls = true).over(wNext))
      .withColumn("__nb", first(when(col("__bv").isNotNull, col("bucket_us")),
        ignoreNulls = true).over(wNext))
      .withColumn("interp_scaled", {
        // inline overflow headroom on the ACTUAL lerp operands (the
        // PageRank/Hits discipline): |Δv|·scale·gapIdx AND the bare
        // __bv·scale / __pv·scale terms would wrap a Long silently
        // under non-ANSI mode. The limit is EXACT integer arithmetic
        // end to end — Scala-side Long.MaxValue/scale, then integer
        // `div` by the gap (Column `/` is double division, whose
        // rounding slop could admit a wrapping operand; ADVICE r9).
        // |nv − pv| is itself wrap-safe given the per-operand bounds
        // whenever scale ≥ 2 (|pv|,|nv| ≤ Long.Max/scale ⇒ the
        // difference fits); scale = 1 makes the scaled terms no-ops
        // anyway.
        val scaleLim = Long.MaxValue / scale
        val guard = coalesce(
          assert_true(
            abs(coalesce(col("__bv"), lit(0L))) <= lit(scaleLim) &&
              abs(coalesce(col("__pv"), lit(0L))) <= lit(scaleLim) &&
              abs(coalesce(col("__nv"), lit(0L))) <= lit(scaleLim) &&
              (col("__bv").isNotNull ||
                abs(col("__nv") - col("__pv")) <=
                  expr(s"${scaleLim}L div " +
                    s"greatest((bucket_us - __pb) div ${stepUs}L, 1L)")),
            lit("resampleInterp overflow headroom: an observed value " +
              s"or |next - prev| * gap exceeds Long.Max/scale at " +
              s"scale=$scale; lower `scale` or pre-scale the metric"))
            .cast("long"),
          lit(0L))
        guard + when(col("__bv").isNotNull, col("__bv") * scale)
          .otherwise(col("__pv") * scale +
            when(col("__nv") >= col("__pv"), lit(1L)).otherwise(lit(-1L)) *
              expr(s"""(abs(__nv - __pv) * ${scale}L *
                       ((bucket_us - __pb) div ${stepUs}L))
                      div ((__nb - __pb) div ${stepUs}L)"""))
      })
      .select(col("key"), col("bucket_us"),
        coalesce(col("cnt"), lit(0L)).as("cnt"), col("interp_scaled"))
  }

  /** Per-key integer-scaled EWMA scan (exponentially-decayed counter):
    * ordered by `(timeUs, tie)` within each key,
    * `s_0 = v_0 * scale` and
    * `s_i = (alphaNum * v_i * scale + (alphaDen - alphaNum) * s_{i-1})
    * div alphaDen` — integer division at every step, so the
    * recurrence is NON-associative and must be evaluated as a true
    * left-to-right scan (no window-function shortcut exists), which
    * is exactly why it is hash-certifiable: both engines replay the
    * identical integer sequence. Emits one row per input row with the
    * running decayed value.
    *
    * Scale: one shuffle on the key; each group is scanned in a single
    * task in time order ([[org.apache.spark.sql.KeyValueGroupedDataset
    * .flatMapGroups]] over a sorted buffer). Groups are
    * entity-per-key sized (a user's events), not data-sized — the
    * standard sessionize/scan contract; a key whose history exceeds
    * task memory needs time-windowed keys upstream.
    *
    * Values must be NON-NEGATIVE (decayed counters): truncating and
    * flooring division agree on non-negatives, so Spark's `/` and the
    * oracle's `//` replay identical sequences; a negative value fails
    * loudly. Overflow headroom is enforced: v * scale * alphaDen must
    * fit a Long with slack (the scan's intermediate is bounded by
    * max(v)·scale since EWMA is a convex combination). */
  def ewmaScan(df: DataFrame, key: Column, timeUs: Column, tie: Column,
               value: Column, alphaNum: Long, alphaDen: Long,
               scale: Long = 1000000L): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "need 0 <= alphaNum <= alphaDen")
    require(scale >= 1, "scale must be >= 1")
    val prepared = df.select(key.cast("long").as("key"),
      timeUs.cast("long").as("us"), tie.cast("long").as("tie"),
      value.cast("long").as("v"))
    import prepared.sparkSession.implicits._
    val maxAbs = Long.MaxValue / math.max(1L, alphaDen) / scale / 2
    prepared.as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val rows = it.toArray.sortBy(r => (r._2, r._3))
        var s = 0L
        var first = true
        rows.iterator.map { case (_, us, tie, v) =>
          require(v >= 0, s"ewmaScan values must be non-negative, got $v " +
            "(floor vs truncate division diverge below zero)")
          require(v <= maxAbs,
            s"ewma overflow headroom: $v * $scale * $alphaDen exceeds Long")
          s = if (first) { first = false; v * scale }
          else (alphaNum * v * scale + (alphaDen - alphaNum) * s) / alphaDen
          (k, us, tie, v, s)
        }
      }
      .toDF("key", "us", "tie", "v", "ewma")
  }

  /** Sequence-pattern matching over per-entity event streams — the
    * ClickHouse `sequenceMatch`/`sequenceCount` shape (a
    * MATCH_RECOGNIZE-lite): encode each entity's time-ordered events
    * as a character string (one char per event class) and count
    * NON-OVERLAPPING regex matches over it. Strictly more expressive
    * than [[funnel]]'s step chaining — negations ("view then purchase
    * with NO error between") and repetitions fall out of the regex.
    *
    * Scale shape: one shuffle to the entity; `collect_list` is a
    * partial aggregate (per-entity sequences assemble map-side), the
    * sort/stringify/regex run once per ENTITY, not per event. The
    * per-entity sequence must fit in an executor row — the same
    * bounded-group contract as sessionize and the Markov transition
    * matrix — and that contract is a LOUD guard, not a memory shield:
    * an inline `assert_true` reads the per-entity event COUNT (folded
    * into the same aggregate, no second pass) and fails with a message
    * naming the pre-split-by-day remedy when any entity exceeds
    * `maxSeqLen`. The guard rides EVERY output column — `entity`
    * included, via a non-foldable `when` passthrough (ADVICE r13: the
    * numeric-column trick left an entity-only projection prunable) —
    * so no column-level projection can prune it away (ADVICE r12: a
    * guard attached to one column silently vanished under column
    * pruning). Residual hole, by construction: a ROWS-ONLY consumer
    * (`result.count()`) needs only the group keys, so column pruning
    * legally drops every aggregate expression including the guard's
    * count — a caller counting matches must read a column (any
    * column) for the contract to be enforced. It fires at the
    * aggregate's OUTPUT —
    * after `collect_list` has assembled the group — so an entity
    * pathologically beyond executor memory still needs an upstream
    * pre-split; what the guard buys is an actionable contract failure
    * on every over-limit entity the buffer survives, instead of a
    * silent wrong-scale plan.
    *
    * Determinism: `orderCols` must be a total order per entity (pass
    * a unique tiebreak column); the match count of a fixed string is
    * then engine-independent for the regex subset shared by Java and
    * RE2 (character classes, `*`/`+`/`?`, alternation — no
    * backreferences, which RE2 lacks). */
  def sequenceMatch(df: DataFrame, entity: Column, orderCols: Seq[Column],
                    eventChar: Column, pattern: String,
                    maxSeqLen: Long = 1000000L): DataFrame = {
    require(orderCols.nonEmpty, "sequenceMatch needs an event order")
    require(maxSeqLen >= 1, "maxSeqLen must be >= 1")
    val rows = df.select(entity.as("entity"),
      struct(orderCols :+ eventChar.as("__c"): _*).as("__s"))
    // bounded-group contract: the guard reads the per-entity event
    // COUNT (a second agg expression in the same pass — count, not
    // string length, so a multi-char eventChar can't understate it)
    // and is added (as 0) to EVERY output column, so no projection
    // can prune it out of the plan
    val lenGuard = coalesce(
      assert_true(col("__n") <= maxSeqLen,
        concat(lit("sequenceMatch bounded-group contract: entity "),
          col("entity").cast("string"),
          lit(s" has more than $maxSeqLen events; pre-split the entity " +
            "key (e.g. by day) or raise maxSeqLen"))).cast("long"),
      lit(0L))
    rows.groupBy("entity")
      .agg(count(lit(1)).as("__n"),
        array_join(
          transform(array_sort(collect_list(col("__s"))),
            x => x.getField("__c")), "").as("seq"))
      .select(
        // the guard rides entity too: lenGuard >= 0 is runtime-true
        // (the guard evaluates to 0 or throws) but NON-FOLDABLE, so
        // SimplifyConditionals cannot drop the branch and an
        // entity-only projection still evaluates the assert. The
        // coalesce keeps the output schema's nullability identical to
        // the input's (a bare `when` would force entity nullable —
        // ADVICE r14): value-identical even for a genuine null entity
        // group, and the assert still evaluates first either way.
        coalesce(when(lenGuard >= 0, col("entity")), col("entity"))
          .as("entity"),
        (lenGuard + length(col("seq")).cast("long")).as("seq_len"),
        (lenGuard + regexp_count(col("seq"), lit(pattern)).cast("long"))
          .as("n_matches"))
  }

  /** A4: running counters — the reference's processedEntries /
    * lookedUpEntries log counters as observable metrics attached to the
    * plan (collected by a QueryExecutionListener or streaming progress,
    * no second pass over the data). */
  def withIngestMetrics(df: DataFrame, name: String = "graft_metrics",
                        enriched: Column = lit(true)): DataFrame =
    df.observe(name,
      count(lit(1)).as("processed_entries"),
      count(when(enriched, 1)).as("looked_up_entries"))
}
