package graft.tools

import graft.GraftSession
import graft.etl.Migrator
import graft.sources.{Dims, OrderedSink}
import org.apache.spark.sql.functions._

/** End-to-end ETL throughput harness: synthesize N massdns CSV lines
  * as text files, run the full Migrator pipeline (parse, validate +
  * repair, domain parts, IP blocks, geo enrich) into the three
  * key-ordered clustered sinks, report wall seconds — the number
  * recorded in PERF.md.
  *
  * {{{ sbt "runMain graft.tools.EtlBench [lines] [stagingDir|-] [cleaner]" }}}
  *
  * With the third argument `cleaner`, additionally times the Cleaner
  * -rdns validation pass over the same lines (the reference's
  * 500-goroutine stdin filter as a Spark job).
  */
object EtlBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 10000000L
    val spark = GraftSession.getOrCreate("graft-etl-bench")
    val tmp = graft.WorkDir.fresh(spark, "etl_bench")
    val inDir = s"$tmp/in"
    val outDir = s"$tmp/out"

    val c = col("id")
    val suffix = when(c % 3 === 0, ".co.uk")
      .when(c % 3 === 1, ".example.com").otherwise(".de")
    val domain = concat(lit("www.s"), c, suffix)
    val ip = concat_ws(".",
      (c * 7 % 224 + 1).cast("string"), (c * 13 % 256).cast("string"),
      (c * 17 % 256).cast("string"), (c * 23 % 256).cast("string"))
    val target = concat(lit("tgt"), c, lit(".cdn.net"))
    spark.range(n).select(
        when(c % 10 === 0, concat_ws(",", domain, lit("CNAME"), target))
          .otherwise(concat_ws(",", domain, lit("A"), ip)).as("value"))
      .write.text(inDir)

    val geo = {
      import spark.implicits._
      Seq((16777216L, 1694498815L, "AA", "Alpha", 100, "NetA"),
        (1694498816L, 3355443199L, "BB", "Beta", 200, "NetB"))
        .toDF("start_ip", "end_ip", "country", "city", "asn", "as_name")
    }

    val t0 = System.nanoTime()
    val lines = spark.read.text(inDir)
    val out = args.drop(1).headOption.filter(_ != "-") match {
      case Some(staging) =>
        Migrator.runStaged(lines, Dims.defaultTlds, Some(geo), "etl-bench",
          staging)
      case None =>
        Migrator.run(lines, Dims.defaultTlds, Some(geo), "etl-bench",
          cacheParsed = true)
    }
    OrderedSink.writeRdnsv4(out.rdnsv4, s"$outDir/rdnsv4")
    OrderedSink.writeSubdomains(out.subdomains, s"$outDir/subdomains")
    OrderedSink.writeCnames(out.cnames, s"$outDir/cnames")
    val secs = (System.nanoTime() - t0) / 1e9

    val rows = Seq("rdnsv4", "subdomains", "cnames")
      .map(t => spark.read.parquet(s"$outDir/$t").count()).sum
    println(f"[etl-bench] lines=$n rows=$rows wall=$secs%.1f s " +
      f"(${n / secs / 1000}%.0f k lines/s)")

    if (args.contains("cleaner")) {
      // -rdns mode expects 2-field `ip,domain` lines; plant ~10%
      // invalid rows so both output channels do real work
      val cleanerIn = s"$tmp/cleaner_in"
      spark.range(n).select(
          when(c % 10 === 0, concat_ws(",", ip, lit("-bad-domain-")))
            .otherwise(concat_ws(",", ip, domain)).as("value"))
        .write.text(cleanerIn)
      val t1 = System.nanoTime()
      val res = graft.etl.Cleaner.cleanRdns(spark.read.text(cleanerIn))
      res.valid.write.mode("overwrite").parquet(s"$outDir/clean_valid")
      res.invalid.write.mode("overwrite").parquet(s"$outDir/clean_invalid")
      val cs = (System.nanoTime() - t1) / 1e9
      val v = spark.read.parquet(s"$outDir/clean_valid").count()
      println(f"[etl-bench] cleaner lines=$n valid=$v wall=$cs%.1f s " +
        f"(${n / cs / 1000}%.0f k lines/s)")

      // rdnsv1 mode (4-field, EA apex re-derivation via the broadcast
      // join — the path that used to carry the last cleaner UDF)
      val v1In = s"$tmp/cleaner_v1_in"
      spark.range(n).select(
          when(c % 10 === 0,
            concat_ws(",", lit("src"), lit("wrong.example"), domain, c))
            .otherwise(concat_ws(",",
              lit("src"), graft.functions.DomainFunctions.apexNaive(domain),
              domain, c)).as("value"))
        .write.text(v1In)
      val t2 = System.nanoTime()
      val r1 = graft.etl.Cleaner.cleanRdnsV1(spark.read.text(v1In),
        Dims.defaultTlds)
      r1.valid.write.mode("overwrite").parquet(s"$outDir/clean_v1_valid")
      r1.invalid.write.mode("overwrite").parquet(s"$outDir/clean_v1_invalid")
      val c1s = (System.nanoTime() - t2) / 1e9
      val v1 = spark.read.parquet(s"$outDir/clean_v1_valid").count()
      println(f"[etl-bench] cleaner_v1 lines=$n valid=$v1 wall=$c1s%.1f s " +
        f"(${n / c1s / 1000}%.0f k lines/s)")
    }
    spark.stop()
  }
}
