package perfbench

/** The metric registry: the names and units every run prints. It must
  * equal the `end_to_end` and `per_layer` lists of BENCHMARK.json, which
  * the self-tests check. */
object Metrics {
  final case class Def(name: String, unit: String)

  /** Printed by untraced runs of every workload. The "op" is the
    * workload's unit of work: one bulk load, one read, one daily delta
    * or one curation pass. */
  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("op_p50_ms", "ms"),
    Def("items_per_s", "1/s"),
    Def("stored_bytes_per_input_byte", "ratio"))

  /** Printed by traced runs of every workload; a layer a workload does
    * not touch reads 0. Times and counts are per op. */
  val perLayer: Seq[Def] = Seq(
    Def("session.start_s", "s"),
    Def("etl.cleaner.ms", "ms"),
    Def("etl.cleaner.quarantine_frac", "ratio"),
    Def("etl.migrator.parse_ms", "ms"),
    Def("etl.migrator.enrich_ms", "ms"),
    Def("etl.migrator.exec_cpu_ms", "ms"),
    Def("sources.sink.rdnsv4.ms", "ms"),
    Def("sources.sink.subdomains.ms", "ms"),
    Def("sources.sink.cnames.ms", "ms"),
    Def("sources.sink.shuffle_write_bytes", "bytes"),
    Def("sources.sink.spill_bytes", "bytes"),
    Def("sources.sink.files", "count"),
    Def("sources.sink.bytes", "bytes"),
    Def("query.serve.plan_ms", "ms"),
    Def("query.serve.jobs_per_read", "count"),
    Def("query.serve.tasks_per_read", "count"),
    Def("query.serve.rows_scanned_per_row_returned", "ratio"),
    Def("query.serve.bytes_read_per_read", "bytes"),
    Def("query.serve.point_p50_ms", "ms"),
    Def("query.serve.point_p95_ms", "ms"),
    Def("query.serve.page_p50_ms", "ms"),
    Def("query.serve.page_p95_ms", "ms"),
    Def("query.serve.scan_p50_ms", "ms"),
    Def("etl.acquire.dedup_ms", "ms"),
    Def("etl.acquire.shuffle_bytes", "bytes"),
    Def("etl.acquire.new_frac", "ratio"),
    Def("operators.index.append_ms", "ms"),
    Def("operators.index.load_ms", "ms"),
    Def("operators.index.jobs_per_delta", "count"),
    Def("operators.index.bytes_written", "bytes"),
    Def("operators.index.bloom_fp_frac", "ratio"),
    Def("operators.text.signals_ms", "ms"),
    Def("operators.dedup.ms", "ms"),
    Def("operators.dedup.candidate_pairs", "count"),
    Def("operators.dedup.confirmed_frac", "ratio"),
    Def("operators.sampling.split_ms", "ms"),
    Def("spark.plan_ms", "ms"),
    Def("spark.jobs", "count"),
    Def("spark.sched_delay_ms", "ms"),
    Def("spark.exec_cpu_ms", "ms"),
    Def("spark.exec_run_ms", "ms"),
    Def("spark.shuffle_bytes", "bytes"),
    Def("spark.spill_bytes", "bytes"),
    Def("spark.collect_bytes", "bytes"),
    Def("jvm.gc_ms", "ms"),
    Def("bench.glue_ms", "ms"),
    Def("trace.coverage_frac", "ratio"),
    Def("trace.overhead_frac", "ratio"))

  /** The final result line, refusing any metric set that is not exactly
    * the registry's for the mode. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 traced: Boolean, values: Map[String, Double]): String = {
    val defs = if (traced) perLayer else endToEnd
    val missing = defs.map(_.name).filterNot(values.contains)
    val extra = values.keySet -- defs.map(_.name)
    require(missing.isEmpty && extra.isEmpty,
      s"metric set differs from the registry: missing $missing, extra $extra")
    val ms = defs.map { d =>
      val v = values(d.name)
      require(!v.isNaN && !v.isInfinite, s"${d.name} is not a number: $v")
      s"${Json.str(d.name)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(d.unit)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Just enough JSON writing for the result and detail lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def value(v: Any): String = v match {
    case null         => "null"
    case s: String    => str(s)
    case b: Boolean   => b.toString
    case i: Int       => i.toString
    case l: Long      => l.toString
    case d: Double    => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_]    => s.map(value).mkString("[", ", ", "]")
    case o            => str(o.toString)
  }
}
