package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Acquire
import graft.operators.{BloomIndex, BloomJoin, CmsIndex, Dedup, Sampling, SketchOps, TextAnalysis}
import graft.query.QueryOps

/** A benchmark workload. The runner calls [[setup]] `setupReps` times
  * (each leaves a complete state), [[warm]] once, then [[op]] in a closed
  * loop; only [[op]] is timed, and the check it returns runs untimed. */
trait Workload {
  def setupReps: Int = 3
  def setup(ctx: Ctx, rep: Int): Unit
  def warm(ctx: Ctx): Unit
  /** Runs ops `is` untimed and checked. */
  protected def warmOps(ctx: Ctx, is: Seq[Int]): Unit =
    is.foreach(i => ctx.outcome.op { val (_, check) = op(ctx, i); check() })
  def op(ctx: Ctx, i: Int): (Double, () => Unit)
  /** Kind of op `i` for latency grouping. */
  def kindOf(i: Int): String = "op"
  /** Ops per traced or untraced stretch of a traced run: the length of
    * the cycle of op kinds, so both halves run the same mix. */
  def tracePeriod: Int = 1
  def storedRatio(ctx: Ctx): Double
  /** Workload-measured per-layer values over the traced ops. */
  def layerValues(tracedOps: Int): Map[String, Double] = Map.empty
  /** Untimed measurements taken once after the traced ops. */
  def afterTrace(ctx: Ctx): Unit = ()
  def detail: Map[String, Any] = Map.empty
}

object Workloads {
  val names = Seq("serve_reads", "daily_delta", "curate")
  def apply(name: String, scale: Double): Workload = name match {
    case "serve_reads" => new ServeReads(scale)
    case "daily_delta" => new DailyDelta(scale)
    case "curate"      => new Curate(scale)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }
  def lines(n: Int, scale: Double): Int = math.max(200, (n * scale).toInt)
}

/** A closed-loop client reading the key-ordered tables: point and apex
  * lookups, per-partition limits, keyset page walks and top-k. */
final class ServeReads(scale: Double) extends Workload {
  import ReadMix._
  private val n = Workloads.lines(6000, scale)
  private var gen: DnsGen = _
  private var day: Day = _
  private var nRdns = 0
  private var rdnsv4: DataFrame = _
  private var subdomains: DataFrame = _
  private var goodIps: Array[Long] = _
  private var apexRows: Array[Int] = _
  private var hot: Array[Long] = _
  private var ppExpect: Map[String, Seq[Seq[String]]] = _
  private var topExpect: Seq[Seq[Any]] = _
  private var rowsReturned = 0L
  private var tablesDir: String = _

  // each set-up runs the pipeline: two, not three, to fit the time budget
  override def setupReps: Int = 2

  def setup(ctx: Ctx, rep: Int): Unit = {
    gen = new DnsGen(ctx.seed)
    day = gen.day(0, n)
    nRdns = day.rdns.length
    val in = Pipeline.writeDay(ctx, "in", day)
    tablesDir = ctx.path("tables")
    Pipeline.run(ctx, in, tablesDir, Pipeline.geo(ctx, gen))
    rdnsv4 = ctx.spark.read.parquet(ctx.path("tables/rdnsv4"))
    subdomains = ctx.spark.read.parquet(ctx.path("tables/subdomains"))
    val good = (0L until nRdns).filter(id => Kind.rowKind(gen.kindOf(id)))
    goodIps = good.map(gen.ipOf).toArray.sorted
    apexRows = new Array[Int](DnsGen.Apexes)
    good.foreach(id => apexRows(gen.apexOf(id)) += 1)
    hot = Array.tabulate(20)(j => gen.ipOf(good(Mix.below(ctx.seed, j, 51, good.length))))
    ppExpect = good.map(gen.slotsOf).groupBy(_(0)).map { case (tld, rows) =>
      tld -> rows.groupBy(_.take(3).toSeq).values.toSeq.flatMap(g =>
        g.map(_.toSeq).sortWith((a, b) => Ordering.Implicits.seqOrdering[Seq, String]
          .lt(a.drop(3), b.drop(3))).take(PerPartitionN))
    }
    topExpect = apexRows.indices.filter(apexRows(_) > 0)
      .map(k => (gen.apexName(k), apexRows(k)))
      .sortBy { case (name, c) => (-c, name) }.take(TopK)
      .map { case (name, c) => Seq(name, c.toLong) }
  }

  override def kindOf(i: Int): String = Block(i % BlockSize)
  override def tracePeriod: Int = BlockSize

  private def pick(i: Int, salt: Long, m: Int): Int = Mix.below(gen.seed, i, salt, m)
  private def goodId(i: Int, salt: Long): Long = {
    var id = pick(i, salt, nRdns).toLong
    while (!Kind.rowKind(gen.kindOf(id))) id = (id + 1) % nRdns
    id
  }
  // a walk's second page must still lie inside the table
  private def pageStart(i: Int): Int = pick(i, 53, math.max(1, goodIps.length - 2 * PageSize))

  /** Blocks of reads the timed loop never repeats. Read latency in a
    * fresh JVM still falls for tens of seconds; two blocks take it past
    * the steepest part. */
  def warm(ctx: Ctx): Unit =
    warmOps(ctx, (0 until WarmBlocks * BlockSize).map(WarmBlock * BlockSize + _))

  def op(ctx: Ctx, i: Int): (Double, () => Unit) = {
    val kind = kindOf(i)
    val (got, want) = ctx.span(s"query.serve.$kind") { kind match {
      case "point" => point(i)
      case "apex"  => apex(i)
      case "pplimit" =>
        val tld = gen.apexName(gen.apexOf(goodId(i, 54))).split('.').last
        val rows = QueryOps.perPartitionLimit(subdomains.filter(col("p1") === tld),
            PerPartitionN, Seq("p1", "p2", "p3"), Seq("p4", "p5", "p6", "p7").map(col))
          .select((1 to 7).map(k => col(s"p$k")): _*).collect().toSeq
        (rows.map(_.toSeq), ppExpect.getOrElse(tld, Nil))
      case "page" | "page2" =>
        val start = if (kind == "page") pageStart(i) else pageStart(i - 1) + PageSize
        val after = if (start > 0) goodIps(start - 1) else 0L
        val rows = QueryOps.keysetPage(rdnsv4.select("ip_int"), "ip_int", Some(after), PageSize)
          .collect().toSeq
        (rows.map(_.toSeq), goodIps.slice(start, start + PageSize).toSeq.map(Seq(_)))
      case "topk" =>
        val rows = QueryOps.topK(subdomains.select(apexCol.as("apex")), Seq("apex"), TopK)
          .collect().toSeq
        (rows.map(_.toSeq), topExpect)
    }}
    (1.0, () => {
      if (kind == "page" || kind == "page2" || kind == "topk")
        ctx.outcome.checkAll(if (got.map(_.mkString("|")) == want.map(_.mkString("|"))) Nil
          else Check.rows(s"$kind read $i (ordered)", got, want))
      else ctx.outcome.checkAll(Check.rows(s"$kind read $i", got, want))
      if (ctx.tracer.isOn) rowsReturned += got.length
    })
  }

  /** Apex of a subdomains row from its slots. */
  private val apexCol = when(col("p3") === "", concat_ws(".", col("p4"), col("p2"), col("p1")))
    .otherwise(concat_ws(".", col("p3"), col("p1")))

  private def point(i: Int): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val u = Mix.unit(gen.seed, i, 55)
    val ip =
      if (u < HotShare) hot(i % hot.length)
      else if (u < HotShare + MissShare / 2) 3355443200L + pick(i, 56, 1 << 24) // 200.0.0.0/8
      else if (u < HotShare + MissShare) {
        var id = pick(i, 57, nRdns).toLong
        while (Kind.rowKind(gen.kindOf(id))) id = (id + 1) % nRdns
        gen.ipOf(id)
      } else gen.ipOf(goodId(i, 58))
    val rows = rdnsv4.filter(col("ip8") === IpFunctionsLite.toIp(ip & 0xFF000000L) &&
        col("ip_int") === ip)
      .select(Seq("ipAddress", "p1", "p2", "p3", "p4", "p5", "p6", "p7", "asn").map(col): _*)
      .collect().toSeq.map(_.toSeq)
    val id = gen.lineOfIp(ip)
    val want =
      if (ip < DnsGen.IpBase + DnsGen.IpMask + 1 && id < nRdns && Kind.rowKind(gen.kindOf(id)))
        Seq((IpFunctionsLite.toIp(ip) +: gen.slotsOf(id).toSeq) :+ gen.geoAsn(ip))
      else Nil
    (rows, want)
  }

  private def apex(i: Int): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val miss = Mix.unit(gen.seed, i, 59) < MissShare / 2
    val k = if (miss) DnsGen.Apexes + pick(i, 60, 1000) else gen.apexOf(goodId(i, 61))
    val (t, s) = gen.suffixOf(k)
    val f = if (s.isEmpty) col("p1") === t && col("p2") === "" && col("p3") === gen.apexLabel(k)
      else col("p1") === t && col("p2") === s && col("p3") === "" && col("p4") === gen.apexLabel(k)
    val got = subdomains.filter(f).agg(count(lit(1))).collect()(0).getLong(0)
    (Seq(Seq(got)), Seq(Seq(if (miss) 0L else apexRows(k).toLong)))
  }

  def storedRatio(ctx: Ctx): Double =
    Pipeline.storedBytes(ctx.path("tables")).toDouble / day.expect.inputBytes

  override def layerValues(ops: Int): Map[String, Double] = Map(
    "sources.sink.files" -> Pipeline.sinkFiles(tablesDir),
    "sources.sink.bytes" -> Pipeline.sinkBytes(tablesDir),
    Runner.RowsReturned -> rowsReturned.toDouble)

  override def detail: Map[String, Any] = Map(
    "table_lines" -> n, "rdnsv4_rows" -> goodIps.length,
    "table_bytes" -> Pipeline.sinkBytes(tablesDir),
    "table_files" -> Pipeline.sinkFiles(tablesDir))
}

object ReadMix {
  /** Per block of 20 reads: 8 point, 4 apex, 3 per-partition limit, two
    * 2-page keyset walks and 1 top-k, interleaved in a fixed order so a
    * run's mix of kinds does not depend on the seed; keys do. */
  val Block: IndexedSeq[String] = IndexedSeq("point", "apex", "point", "pplimit", "point",
    "page", "page2", "apex", "point", "pplimit", "point", "topk", "apex", "point",
    "page", "page2", "point", "pplimit", "apex", "point")
  val BlockSize: Int = Block.length
  val WarmBlock = 1 << 20
  val WarmBlocks = 2
  val HotShare = 0.3   // point reads on 20 hot keys
  val MissShare = 0.2  // point reads on absent keys
  val PerPartitionN = 3
  val PageSize = 100
  val TopK = 10
}

/** Small daily deltas against a history built in set-up: cleaner and
  * Migrator, exact dedup against history, sink writes, Bloom/HLL/CMS
  * appends, a Bloom screen of the next day and heavy hitters. Deltas
  * cycle through `deltas` tags; a reused tag overwrites its own delta,
  * so the index state stays bounded and each delta does the same work. */
final class DailyDelta(scale: Double) extends Workload {
  private val historyLines = Workloads.lines(4000, scale)
  private val deltaLines = Workloads.lines(2000, scale)
  private val deltas = 4
  private val seenShare = 0.3
  private val ProbeControls = 2000
  private var gen: DnsGen = _
  private var geo: DataFrame = _
  private var days: IndexedSeq[Day] = _
  private var newRows: IndexedSeq[Long] = _
  private var histApex: Array[Int] = _
  private var histParsed = 0L
  private var histDomains: DataFrame = _
  private val banked = mutable.Set.empty[Int]
  private var stats = Map.empty[String, Double].withDefaultValue(0.0)
  private def bloom(ctx: Ctx) = ctx.path("index/bloom")
  private def hll(ctx: Ctx) = ctx.path("index/hll")
  private def cms(ctx: Ctx) = ctx.path("index/cms")
  /** The Bloom probe takes BIGINT keys, so domains are banked and
    * probed by their xxhash64, as Spark's own runtime filters do. */
  private def bloomKey = xxhash64(col("domain"))
  private def deltaFirst(d: Int): Long = (1L << 32) + d.toLong * deltaLines

  // each set-up runs the pipeline: two, not three, to fit the time budget
  override def setupReps: Int = 2

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    gen = new DnsGen(ctx.seed)
    geo = Pipeline.geo(ctx, gen)
    val hist = gen.day(0, historyLines)
    histApex = hist.apexParsed
    histParsed = hist.expect.parsedRows
    Pipeline.run(ctx, Pipeline.writeDay(ctx, "hist_in", hist), ctx.path("hist"), geo,
      sinks = false)
    val staged = spark.read.parquet(ctx.path("hist/staged"))
    staged.select("domain").distinct().write.mode("overwrite").parquet(ctx.path("hist_domains"))
    histDomains = spark.read.parquet(ctx.path("hist_domains"))
    Ctx.delete(new java.io.File(ctx.path("index")))
    val capacity = 2L * (historyLines + deltas * deltaLines)
    BloomIndex.saveBloomIndex(staged, bloomKey, bloom(ctx), capacity)
    SketchOps.saveSketchIndex(staged, col("p1"), col("domain"), hll(ctx))
    CmsIndex.saveCmsIndex(staged, col("apex"), cms(ctx))
    banked.clear()
    // re-seen domains come from history lines whose domain was parsed
    val histNRdns = hist.rdns.length
    def seenDomain(id: Long): Long = {
      var j = Mix.below(ctx.seed, id, 41, histNRdns).toLong
      while (!Kind.parsedKind(gen.kindOf(j))) j = (j + 1) % histNRdns
      j
    }
    def domainFor(id: Long): Long =
      if (Mix.unit(ctx.seed, id, 40) < seenShare) seenDomain(id) else id
    days = (0 until deltas).map(d => gen.day(deltaFirst(d), deltaLines, domainFor))
    newRows = (0 until deltas).map { d =>
      val nR = days(d).rdns.length
      (0 until nR).count { j =>
        val id = deltaFirst(d) + j
        Kind.parsedKind(gen.kindOf(id)) && domainFor(id) == id
      }.toLong + days(d).expect.cnameRows
    }
    for (d <- 0 until deltas) {
      Pipeline.writeDay(ctx, s"delta_in/$d", days(d))
      // the next day's screen probe: each parsed domain and whether history holds it
      val nR = days(d).rdns.length
      // plus never-seen control domains, so a false-positive share is
      // measured on every delta
      val probe = (0 until nR).map(j => deltaFirst(d) + j)
        .filter(id => Kind.parsedKind(gen.kindOf(id)))
        .map(id => (gen.domainOf(domainFor(id)), domainFor(id) != id, false)) ++
        (0 until ProbeControls).map(j => (gen.domainOf((1L << 36) + d * 100000L + j), false, true))
      import spark.implicits._
      probe.toDF("domain", "hist", "control").write.mode("overwrite").parquet(ctx.path(s"probe/$d"))
    }
  }

  /** One delta: in a fresh JVM the first takes about 1.5 times as long as
    * the second, and later ones run up to 15% faster than the second. */
  def warm(ctx: Ctx): Unit = warmOps(ctx, 0 until 1)

  def op(ctx: Ctx, i: Int): (Double, () => Unit) = {
    val spark = ctx.spark
    val d = i % deltas
    val next = (d + 1) % deltas
    val tag = s"d$d"
    val out = ctx.path(s"delta_out/$d")
    Pipeline.run(ctx, ctx.path(s"delta_in/$d"), out, geo)
    val staged = spark.read.parquet(s"$out/staged")
    val fresh = ctx.span("etl.acquire.dedup") {
      Acquire.dedupAgainstHistory(staged.select("domain"), histDomains).count()
    }
    ctx.span("operators.index.append") {
      BloomIndex.appendBloomIndex(spark, bloom(ctx), staged, bloomKey, tag)
      SketchOps.appendSketchIndex(spark, hll(ctx), staged, col("p1"), col("domain"), tag)
      CmsIndex.appendCmsIndex(spark, cms(ctx), staged, col("apex"), tag)
    }
    banked += d
    val nextBanked = banked.contains(next)
    val (screen, hh) = ctx.span("operators.index.load") {
      val (blob, _) = BloomIndex.loadMergedFilter(spark, bloom(ctx))
      val member = col("hist") || (!col("control") && lit(nextBanked))
      val flag = BloomJoin.mightContain(blob, bloomKey)
      val screen = spark.read.parquet(ctx.path(s"probe/$next")).agg(
        sum(when(member && !flag, 1L).otherwise(0L)),
        sum(when(!member && flag, 1L).otherwise(0L)),
        sum(when(!member, 1L).otherwise(0L))).collect()(0)
      (screen, CmsIndex.heavyHittersFromIndex(spark, cms(ctx)).collect().toSeq)
    }
    val bankedNow = banked.toSet
    (deltaLines.toDouble, () => {
      Pipeline.check(ctx, out, days(d).expect)
      ctx.outcome.checkAll(Check.equal(s"delta $i new rows", fresh, newRows(d)))
      val fn = Option(screen.get(0)).fold(0L)(_.asInstanceOf[Long])
      val fp = Option(screen.get(1)).fold(0L)(_.asInstanceOf[Long])
      val neg = Option(screen.get(2)).fold(0L)(_.asInstanceOf[Long])
      ctx.outcome.checkAll(Check.equal(s"delta $i screen false negatives", fn, 0L))
      val fpFrac = if (neg == 0) 0.0 else fp.toDouble / neg
      ctx.outcome.check(fpFrac <= 0.05, f"delta $i screen false-positive share $fpFrac%.3f")
      ctx.outcome.checkAll(Check.heavyHitters(hh, exactApex(bankedNow), gen.apexName,
        histParsed + bankedNow.toSeq.map(days(_).expect.parsedRows).sum))
      if (ctx.tracer.isOn) {
        stats = Map(
          "etl.cleaner.quarantine_frac" -> (stats("etl.cleaner.quarantine_frac") + days(d).expect.quarantine.toDouble / deltaLines),
          "etl.acquire.new_frac" -> (stats("etl.acquire.new_frac") + fresh.toDouble / days(d).expect.parsedRows),
          "operators.index.bloom_fp_frac" -> (stats("operators.index.bloom_fp_frac") + fpFrac),
          "sources.sink.files" -> (stats("sources.sink.files") + Pipeline.sinkFiles(out)),
          "sources.sink.bytes" -> (stats("sources.sink.bytes") + Pipeline.sinkBytes(out)),
          "operators.index.bytes_written" -> (stats("operators.index.bytes_written") +
            Seq(bloom(ctx), hll(ctx), cms(ctx)).map(p => Ctx.bytes(s"$p/delta_$tag")).sum))
          .withDefaultValue(0.0)
      }
    })
  }

  /** Exact apex counts over the history and the banked deltas. */
  private def exactApex(bankedNow: Set[Int]): Array[Long] = {
    val e = histApex.map(_.toLong)
    for (d <- bankedNow; k <- e.indices) e(k) += days(d).apexParsed(k)
    e
  }

  /** Over the deltas that ran. */
  def storedRatio(ctx: Ctx): Double =
    banked.toSeq.map(d => Pipeline.storedBytes(ctx.path(s"delta_out/$d")).toDouble /
      days(d).expect.inputBytes).sum / banked.size

  override def layerValues(ops: Int): Map[String, Double] =
    stats.map { case (k, v) => k -> v / math.max(ops, 1) }

  override def detail: Map[String, Any] = Map(
    "history_lines" -> historyLines, "delta_lines" -> deltaLines, "deltas" -> deltas,
    "seen_share" -> seenShare)
}

/** Training-data curation of a seeded corpus: quality and repetition
  * signals, MinHash near-dups, the contamination anti-join and a hash
  * split into train/val/test. */
final class Curate(scale: Double) extends Workload {
  private val docs = Workloads.lines(2000, scale)
  private val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
  private val repCut = 0.15   // top-bigram share that marks boilerplate
  private val threshold = 0.7 // near-dup Jaccard
  private var corpus: Corpus = _
  private var firstSplit: Map[String, Long] = Map.empty
  private var found = 0L
  private var candidates = 0L

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = new CorpusGen(ctx.seed, docs).corpus()
    corpus.texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(4).write.mode("overwrite").parquet(ctx.path("corpus"))
    corpus.evalTexts.toSeq.toDF("text").write.mode("overwrite").parquet(ctx.path("eval"))
  }

  /** In a fresh JVM the first pass takes about three times as long as a
    * settled one and the next two up to 60% and 20% longer; from the
    * fourth on, the passes of one run stay within about 10% of each
    * other. */
  def warm(ctx: Ctx): Unit = warmOps(ctx, 0 until 3)

  def op(ctx: Ctx, i: Int): (Double, () => Unit) = {
    val spark = ctx.spark
    import spark.implicits._
    val docsDf = spark.read.parquet(ctx.path("corpus"))
    val flagged = ctx.span("operators.text.signals") {
      TextAnalysis.repetitionSignals(docsDf, "id", col("text"))
        .join(docsDf.select(col("id").as("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality")), "doc_id")
        .write.mode("overwrite").parquet(ctx.path("signals"))
      spark.read.parquet(ctx.path("signals")).filter(col("top_frac") >= repCut)
        .select("doc_id").as[Long].collect().toSet
    }
    val pairs = ctx.span("operators.dedup.minhash") {
      Dedup.minhashNearDups(docsDf, "id", col("text"), threshold, numHashes = 32, bands = 8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val drop = (flagged ++ pairs.map(_._2)).toSeq.toDF("id")
    ctx.span("operators.dedup.decontaminate") {
      Dedup.decontaminate(docsDf.join(drop, Seq("id"), "left_anti"), "id", col("text"),
        spark.read.parquet(ctx.path("eval")), col("text"))
        .write.mode("overwrite").parquet(ctx.path("kept"))
    }
    val split = ctx.span("operators.sampling.split") {
      Sampling.hashSplit(spark.read.parquet(ctx.path("kept")), col("id"), splits)
        .write.mode("overwrite").parquet(ctx.path("curated"))
      spark.read.parquet(ctx.path("curated")).groupBy("split").count()
        .as[(String, Long)].collect().toMap
    }
    (docs.toDouble, () => {
      val o = ctx.outcome
      o.checkAll(Check.equal(s"pass $i boilerplate docs", flagged, corpus.repetitive))
      o.checkAll(Check.nearDups(pairs, corpus.nearDupPairs, minRecall = 0.95))
      val kept = docs - (flagged ++ pairs.map(_._2) ++ corpus.contaminated).size
      o.checkAll(Check.equal(s"pass $i curated docs", split.values.sum, kept.toLong))
      for ((name, rate) <- splits) {
        val c = split.getOrElse(name, 0L)
        val sd = math.sqrt(kept * rate * (1 - rate))
        o.check(math.abs(c - kept * rate) <= 5 * sd + 1, s"pass $i split $name: $c of $kept")
      }
      if (firstSplit.isEmpty) firstSplit = split
      else o.checkAll(Check.equal(s"pass $i split is stable", split, firstSplit))
      if (ctx.tracer.isOn) found += pairs.size
    })
  }

  def storedRatio(ctx: Ctx): Double =
    (Ctx.bytes(ctx.path("signals")) + Ctx.bytes(ctx.path("curated"))).toDouble / corpus.bytes

  override def layerValues(ops: Int): Map[String, Double] = Map(
    "operators.dedup.candidate_pairs" -> candidates.toDouble,
    "operators.dedup.confirmed_frac" ->
      (if (candidates == 0) 0.0 else found.toDouble / math.max(ops, 1) / candidates))

  /** Candidate pairs are counted once, outside the timed ops. */
  override def afterTrace(ctx: Ctx): Unit =
    candidates = Dedup.minhashCandidates(ctx.spark.read.parquet(ctx.path("corpus")), "id",
      col("text"), numHashes = 32, bands = 8).count()

  override def detail: Map[String, Any] = Map(
    "docs" -> docs, "corpus_bytes" -> corpus.bytes,
    "planted_pairs" -> corpus.nearDupPairs.size, "boilerplate" -> corpus.repetitive.size,
    "contaminated" -> corpus.contaminated.size)
}
