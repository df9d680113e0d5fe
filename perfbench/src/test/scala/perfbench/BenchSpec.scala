package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark: deterministic inputs, a checker that
  * catches wrong answers, and a metric registry that matches
  * BENCHMARK.json. Run with `sbt test` from this directory. */
class BenchSpec extends AnyFunSuite {

  test("the DNS generator is deterministic per seed") {
    val a = new DnsGen(7).day(0, 3000)
    val b = new DnsGen(7).day(0, 3000)
    val c = new DnsGen(8).day(0, 3000)
    assert(a.rdns.sameElements(b.rdns) && a.cname.sameElements(b.cname))
    assert(a.expect == b.expect && a.apexParsed.sameElements(b.apexParsed))
    assert(!a.rdns.sameElements(c.rdns))
    assert(new DnsGen(7).geoCsv == new DnsGen(7).geoCsv)
  }

  test("the corpus generator is deterministic per seed and plants its truth") {
    val a = new CorpusGen(3, 800).corpus()
    val b = new CorpusGen(3, 800).corpus()
    assert(a.texts.sameElements(b.texts) && a.nearDupPairs == b.nearDupPairs &&
      a.repetitive == b.repetitive && a.contaminated == b.contaminated)
    assert(!a.texts.sameElements(new CorpusGen(4, 800).corpus().texts))
    assert(a.nearDupPairs.nonEmpty && a.repetitive.nonEmpty && a.contaminated.nonEmpty)
  }

  test("every generated line has the kind and IP its bookkeeping claims") {
    val g = new DnsGen(11)
    for (id <- Seq(0L, 1L, 17L, 999L, 123456L, (1L << 32) + 5)) {
      assert(g.lineOfIp(g.ipOf(id)) == (id & DnsGen.IpMask))
      assert(g.slotsOf(id).length == 7)
    }
    val day = g.day(0, 5000)
    val kinds = (0L until day.rdns.length).map(g.kindOf)
    assert(day.expect.aRows == kinds.count(Kind.rowKind))
    assert(day.expect.quarantineEl == kinds.count(_ == Kind.Arity))
    assert(Kind.values.forall(k => kinds.contains(k)), "every line kind occurs")
  }

  private def actualOf(e: EtlExpect) = EtlActual(
    e.quarantine, e.quarantineEl, e.quarantineLen, e.aRows, e.ipSum, e.geoHits,
    e.asnSum, e.slotLen, e.aRows, e.slotLen, e.multiRows, e.cnameRows,
    e.targetLen, e.cnameDomLen)

  test("the checker accepts right answers and rejects planted wrong ones") {
    val e = new DnsGen(5).day(0, 2000).expect
    assert(Check.etl(actualOf(e), e).isEmpty)
    assert(Check.etl(actualOf(e).copy(aRows = e.aRows - 1), e).nonEmpty)
    assert(Check.etl(actualOf(e).copy(quarantine = e.quarantine + 1), e).nonEmpty)
    assert(Check.etl(actualOf(e).copy(asnSum = e.asnSum + 1000), e).nonEmpty)

    val want = Seq(Seq("1.2.3.4", "com", "", "a1n"), Seq("1.2.3.5", "uk", "co", ""))
    assert(Check.rows("read", want.reverse, want).isEmpty)
    assert(Check.rows("read", Seq(want.head), want).nonEmpty)
    assert(Check.rows("read", Seq(want.head, Seq("1.2.3.5", "uk", "co", "x")), want).nonEmpty)

    val planted = Set(1L -> 2L, 1L -> 3L, 2L -> 3L)
    assert(Check.nearDups(planted, planted, 0.95).isEmpty)
    assert(Check.nearDups(planted + (4L -> 5L), planted, 0.95).nonEmpty)
    assert(Check.nearDups(planted - (1L -> 2L), planted, 0.95).nonEmpty)

    val exact = Array(10L, 40L, 3L)
    val name = (k: Int) => s"a${k}n.com"
    def hh(est: Long) = Seq(Row("a1n.com", est, 53L, 2L))
    assert(Check.heavyHitters(hh(41), exact, name, 53).isEmpty)
    assert(Check.heavyHitters(hh(39), exact, name, 53).nonEmpty)
    assert(Check.heavyHitters(hh(43), exact, name, 53).nonEmpty)
    assert(Check.heavyHitters(hh(41), exact, name, 54).nonEmpty)
    assert(Check.heavyHitters(Seq(Row("a0n.com", 10L, 53L, 2L)), exact, name, 53).nonEmpty)
  }

  test("a wrong answer fails its op") {
    val o = new Outcome
    o.op(o.check(ok = true, "fine"))
    o.op(o.check(ok = false, "wrong"))
    o.op(throw new IllegalStateException("boom"))
    assert(o.attempted == 3 && o.failed == 2)
  }

  test("the metric registry matches BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String) = spec.get(key).elements().asScala
      .map(m => Metrics.Def(m.get("name").asText, m.get("unit").asText)).toSeq
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workloads.names)
  }

  test("the result line carries exactly the registry's metrics") {
    val full = Metrics.endToEnd.map(_.name -> 1.5).toMap
    val line = Metrics.resultLine(correct = true, 3, 0, traced = false, full)
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.get("metrics").fieldNames().asScala.toSeq == Metrics.endToEnd.map(_.name))
    assert(parsed.get("attempted").asLong == 3)
    intercept[IllegalArgumentException](
      Metrics.resultLine(correct = true, 3, 0, traced = false, full - "setup_s"))
    intercept[IllegalArgumentException](
      Metrics.resultLine(correct = true, 3, 0, traced = false, full + ("extra" -> 1.0)))
    intercept[IllegalArgumentException](Metrics.resultLine(correct = true, 3, 0,
      traced = true, full))
  }
}

/** Every workload, tiny, through the real engine: correct at HEAD, and
  * both modes print the registry's metric sets. */
class WorkloadSpec extends AnyFunSuite {
  test("every workload runs correctly at small scale, traced and untraced") {
    val spark = graft.GraftSession.getOrCreate("perfbench-test")
    val work = Files.createTempDirectory("perfbench-test")
    try {
      for (w <- Workloads.names; trace <- Seq(false, true)) {
        val o = Opts(w, 5, 0.2, trace, work.resolve(s"$w-$trace").toString,
          System.currentTimeMillis(), scale = 0.05)
        val r = Runner.run(spark, o, 1.0, 1.0)
        assert(r.correct, s"$w trace=$trace: ${r.messages.mkString("; ")}")
        assert(r.attempted >= 2)
        val defs = if (trace) Metrics.perLayer else Metrics.endToEnd
        assert(r.metrics.keySet == defs.map(_.name).toSet)
        Metrics.resultLine(r.correct, r.attempted, r.failed, trace, r.metrics)
      }
    } finally {
      spark.stop()
      Ctx.delete(work.toFile)
    }
  }
}
