package graft.sources

import graft.SparkTestBase
import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

/** Source-format coverage (SURVEY §2.1): gz text (S6), quoted CSV (S7),
  * TLD file (S4), geo CSV dim (S5), and the typed Aggregator surface
  * (§2.10). */
class SourcesSpec extends SparkTestBase {

  test("S6: gzipped text reads natively (no external gunzip step)") {
    val dir = tempDir("graft-gz")
    val gz = new GZIPOutputStream(
      new FileOutputStream(s"$dir/domains.txt.gz"))
    gz.write("a.example.com\nb.example.de\n".getBytes)
    gz.close()
    val got = spark.read.text(s"$dir/domains.txt.gz")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("a.example.com", "b.example.de"))
  }

  test("S7: quoted CSV parses embedded commas (encoding/csv semantics)") {
    val dir = tempDir("graft-csv")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "\"a,with,commas\",plain\nsecond,\"x\"\"y\"\n")
    val rows = spark.read
      .option("quote", "\"").option("escape", "\"")
      .csv(s"$dir/in.csv")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("a,with,commas", "plain"), ("second", "x\"y")))
  }

  test("S4: TLD file loads trimmed, lowercased, comment-free") {
    val dir = tempDir("graft-tld")
    Files.writeString(java.nio.file.Paths.get(s"$dir/tld.txt"),
      "# IANA list\nCOM\nnet\n  org  \n\nco\n")
    val tlds = Dims.loadTlds(spark, s"$dir/tld.txt")
    assert(tlds == Set("com", "net", "org", "co"))
  }

  test("S5: geo dim loads with the range schema and passes disjointness") {
    val dir = tempDir("graft-geo")
    Files.writeString(java.nio.file.Paths.get(s"$dir/geo.csv"),
      "start_ip,end_ip,country,city,asn,as_name\n" +
        "100,200,US,LA,1,NetA\n300,400,DE,Berlin,2,NetB\n")
    val geo = Dims.loadGeo(spark, s"$dir/geo.csv")
    assert(geo.count() == 2)
    Dims.assertDisjoint(geo)  // must not throw
    val bad = geo.union(geo.limit(1))
    intercept[IllegalArgumentException] { Dims.assertDisjoint(bad) }
  }

  test("typed Aggregator surface (SURVEY 2.10): custom UDAF capability") {
    import org.apache.spark.sql.expressions.Aggregator
    import org.apache.spark.sql.{Encoder, Encoders}
    // weighted mean as Aggregator[IN, BUF, OUT]
    val wmean = new Aggregator[(Double, Double), (Double, Double), Double] {
      def zero = (0.0, 0.0)
      def reduce(b: (Double, Double), a: (Double, Double)) =
        (b._1 + a._1 * a._2, b._2 + a._2)
      def merge(x: (Double, Double), y: (Double, Double)) =
        (x._1 + y._1, x._2 + y._2)
      def finish(b: (Double, Double)) = if (b._2 == 0) 0.0 else b._1 / b._2
      def bufferEncoder: Encoder[(Double, Double)] =
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
    import spark.implicits._
    val ds = Seq((10.0, 1.0), (20.0, 3.0)).toDS()
    val got = ds.select(wmean.toColumn).collect()(0)
    assert(math.abs(got - 17.5) < 1e-12)
  }
}
