package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Cleaner, Migrator}
import graft.sources.{Dims, OrderedSink}

/** What a workload needs: the session, its tracer and outcome, and a
  * private work directory that the launcher deletes after the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
                val tracer: Tracer, val outcome: Outcome) {
  Files.createDirectories(Paths.get(work))
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def path(rel: String): String = new File(work, rel).getPath

  /** `lines` as four text files (one per task) under a fresh directory. */
  def writeLines(rel: String, lines: Array[String]): String = {
    val parts = 4
    val dir = path(rel)
    Ctx.delete(new File(dir))
    Files.createDirectories(Paths.get(dir))
    val per = math.max(1, (lines.length + parts - 1) / parts)
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val sb = new java.lang.StringBuilder()
      chunk.foreach(l => sb.append(l).append('\n'))
      Files.write(Paths.get(dir, f"part-$i%05d.txt"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }
}

object Ctx {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }
  /** Data files (no checksums or markers) under a directory. */
  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
  }
  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum
}

/** The paper's ETL pipeline as a user runs it: cleaner quarantine split,
  * Migrator (staged parse, then projections with the geo range join
  * inside the sink jobs), and the three key-ordered sinks. */
object Pipeline {
  val Tables = Seq("rdnsv4", "subdomains", "cnames")

  /** Writes one day's input and returns its directory. */
  def writeDay(ctx: Ctx, rel: String, day: Day): String = {
    ctx.writeLines(s"$rel/rdns", day.rdns)
    ctx.writeLines(s"$rel/cname", day.cname)
    ctx.path(rel)
  }

  def geo(ctx: Ctx, gen: DnsGen): DataFrame = {
    val p = ctx.path("geo.csv")
    Files.write(Paths.get(p), gen.geoCsv.getBytes(StandardCharsets.UTF_8))
    Dims.loadGeo(ctx.spark, p)
  }

  /** Runs the pipeline from `in` (rdns/ and cname/) into `out`; without
    * `sinks` it stops after the staged parse. */
  def run(ctx: Ctx, in: String, out: String, geo: DataFrame,
          sinks: Boolean = true): Unit = {
    val spark = ctx.spark
    ctx.span("etl.cleaner") {
      val r = Cleaner.cleanRdns(spark.read.text(s"$in/rdns"))
      val c = Cleaner.cleanCname(spark.read.text(s"$in/cname"))
      r.valid.select(concat_ws(",", col("domain"), lit("A"), col("ip")).as("value"))
        .unionByName(c.valid.select(
          concat_ws(",", col("domain"), lit("CNAME"), col("target")).as("value")))
        .write.mode("overwrite").text(s"$out/clean")
      r.invalid.unionByName(c.invalid).write.mode("overwrite").text(s"$out/quarantine")
    }
    val outs = ctx.span("etl.migrator.parse") {
      Migrator.runStaged(spark.read.text(s"$out/clean"), Dims.defaultTlds, Some(geo),
        "perfbench", s"$out/staged")
    }
    if (!sinks) return
    ctx.span("sources.sink.rdnsv4") { OrderedSink.writeRdnsv4(outs.rdnsv4, s"$out/rdnsv4") }
    ctx.span("sources.sink.subdomains") {
      OrderedSink.writeSubdomains(outs.subdomains, s"$out/subdomains")
    }
    ctx.span("sources.sink.cnames") { OrderedSink.writeCnames(outs.cnames, s"$out/cnames") }
  }

  /** Bytes the user keeps: the three tables plus the quarantine. */
  def storedBytes(out: String): Long =
    (Tables :+ "quarantine").map(t => Ctx.bytes(s"$out/$t")).sum
  def sinkFiles(out: String): Int =
    Tables.map(t => Ctx.dataFiles(s"$out/$t").count(_.getName.endsWith(".parquet"))).sum
  def sinkBytes(out: String): Long = Tables.map(t => Ctx.bytes(s"$out/$t")).sum

  def check(ctx: Ctx, out: String, e: EtlExpect): Unit =
    ctx.outcome.checkAll(Check.etl(Check.readEtl(ctx.spark, out), e))
}
