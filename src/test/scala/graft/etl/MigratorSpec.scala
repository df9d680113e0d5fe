package graft.etl

import graft.SparkTestBase
import graft.sources.Dims
import org.apache.spark.sql.functions._

/** Golden end-to-end pipeline test (SURVEY §5.2) over the FIXTURES.md
  * §1.1 massdns corpus: CNAME branch, repair-keep divergence, invalid-IP
  * drop, GeoIP hit/miss, single-label drop, block derivation. */
class MigratorSpec extends SparkTestBase {

  import spark.implicits._

  val tlds: Set[String] = Dims.defaultTlds

  lazy val geo = Seq(
    // covers 93.184.216.34 = 1572395042
    (1572395000L, 1572395100L, "US", "Los Angeles", 15133, "EdgeCast"),
    // covers 203.0.113.7 = 3405803783
    (3405803776L, 3405803903L, "AU", "Sydney", 64501, "TestNet")
  ).toDF("start_ip", "end_ip", "country", "city", "asn", "as_name")

  lazy val lines = Seq(
    "www.example.com.,A,93.184.216.34",
    "mail.foo.co.in,A,203.0.113.7",
    "alias.bar.de,CNAME,real.host.bar.de",
    "GoOgLe.cOm,A,142.250.80.46",
    "*.wild.example.io,A,198.51.100.9",
    "bad_domain_,A,10.0.0.1",      // valid per Go but single label -> drop
    "short,A,not-an-ip",           // single label -> drop
    "x.com,A,999.1.2.3",           // invalid IP -> drop
    "a.com,CNAME,",                // trailing field dropped by split -> arity<3
    "!!bad!!,A,1.2.3.4"            // invalid, unrepairable -> drop
  ).toDF("value")

  lazy val out = Migrator.run(lines, tlds, Some(geo), "unit-test")

  test("rdnsv4 rows: blocks, parts, geo hit and miss") {
    val rows = out.rdnsv4
      .select("ip8", "ip16", "ip24", "ipAddress", "p1", "p2", "p3", "p4",
        "p5", "country", "city", "asn", "as_name", "sourceRecordType")
      .collect().map(_.toSeq).sortBy(_(3).toString)

    assert(rows.length == 4)
    // 142.250.80.46 (google.com) — geo miss -> ""/0
    assert(rows(0) == Seq("142.0.0.0", "142.250.0.0", "142.250.80.0",
      "142.250.80.46", "com", "", "google", "", "", "", "", 0, "", "A"))
    // 198.51.100.9 (repaired wild.example.io)
    assert(rows(1) == Seq("198.0.0.0", "198.51.0.0", "198.51.100.0",
      "198.51.100.9", "io", "", "example", "wild", "", "", "", 0, "", "A"))
    // 203.0.113.7 (mail.foo.co.in, l2-TLD layout) — geo hit AU
    assert(rows(2) == Seq("203.0.0.0", "203.0.0.0", "203.0.113.0",
      "203.0.113.7", "in", "co", "", "foo", "mail", "AU", "Sydney",
      64501, "TestNet", "A"))
    // 93.184.216.34 (www.example.com.) — geo hit US
    assert(rows(3) == Seq("93.0.0.0", "93.184.0.0", "93.184.216.0",
      "93.184.216.34", "com", "", "example", "www", "", "US",
      "Los Angeles", 15133, "EdgeCast", "A"))
  }

  test("subdomains rows mirror the A branch") {
    val rows = out.subdomains.select("p1", "p2", "p3", "p4", "p5")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("."))
    assert(rows.length == 4)
    assert(rows.contains(Seq("com", "", "example", "www", "")))
    assert(rows.contains(Seq("com", "", "google", "", "")))
    assert(rows.contains(Seq("in", "co", "", "foo", "mail")))
    assert(rows.contains(Seq("io", "", "example", "wild", "")))
  }

  test("cnames row preserves the apexDomain=target quirk") {
    val rows = out.cnames.select("target", "apexDomain", "domain")
      .collect().map(_.toSeq)
    assert(rows.toSeq == Seq(
      Seq("real.host.bar.de", "real.host.bar.de", "alias.bar.de")))
  }

  test("firstSeen is null, lastSeen/updatedAt populated") {
    val r = out.rdnsv4.select("firstSeen", "lastSeen", "updatedAt").head()
    assert(r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
  }

  test("subdomain-list path tags NOT_RESOLVED") {
    val subs = Migrator.runSubdomainList(
      Seq("shop.books.example.co.uk", "localhost", "*.strip.me.de")
        .toDF("value"), tlds, "subd")
    val rows = subs.select("p1", "p2", "p3", "p4", "p5", "p6",
        "sourceRecordType")
      .collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("."))
    assert(rows.length == 2)
    assert(rows.contains(
      Seq("uk", "co", "", "example", "books", "shop", "NOT_RESOLVED")))
    // 'me' is itself in the TLD set -> l2-TLD slot layout
    assert(rows.contains(
      Seq("de", "me", "", "strip", "", "", "NOT_RESOLVED")))
  }

  test("runStaged (parquet staging table) matches the cached run") {
    val staging = tempDir("graft-staging") + "/parsed"
    val staged = Migrator.runStaged(lines, tlds, Some(geo), "unit-test",
      staging)
    def key(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val rdnsCols = Seq("ip8", "ipAddress", "p1", "p4", "country", "asn")
    assert(key(staged.rdnsv4, rdnsCols) == key(out.rdnsv4, rdnsCols))
    assert(key(staged.cnames, Seq("target", "domain")) ==
      key(out.cnames, Seq("target", "domain")))
    assert(staged.subdomains.count() == out.subdomains.count())
    // the staging table itself is a readable parquet of the intermediate
    assert(spark.read.parquet(staging).count() > 0)
  }
}
