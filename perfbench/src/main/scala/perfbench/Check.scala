package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Pass/fail bookkeeping of a run: an op fails when any of its checks
  * does, and a wrong answer counts exactly like an exception. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  private var opFailed = false
  val messages = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { opFailed = true; if (messages.length < 20) messages += what }
  def checkAll(mismatches: Seq[String]): Unit = mismatches.foreach(m => check(ok = false, m))

  /** Runs one op and its checks; an exception fails the op. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val r = try Some(body) catch {
      case e: Exception =>
        e.printStackTrace()
        check(ok = false, s"op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    if (opFailed) failed += 1
    r
  }
}

/** The observed aggregates of one ETL output directory, in the same
  * shape as [[EtlExpect]]. */
final case class EtlActual(
    quarantine: Long, quarantineEl: Long, quarantineLen: Long,
    aRows: Long, ipSum: Long, geoHits: Long, asnSum: Long, slotLen: Long,
    subRows: Long, subSlotLen: Long, multiRows: Long,
    cnameRows: Long, targetLen: Long, cnameDomLen: Long)

/** Comparisons of engine output against the generator's bookkeeping.
  * Each returns the list of mismatches, empty when the output is right. */
object Check {
  private val Slots = (1 to 7).map(i => s"p$i")
  private def slotLenCol = Slots.map(c => length(col(c))).reduce(_ + _)

  def readEtl(spark: SparkSession, out: String): EtlActual = {
    def one(df: DataFrame): Row = df.collect()(0)
    val r = one(spark.read.parquet(s"$out/rdnsv4").agg(count(lit(1)),
      coalesce(sum("ip_int"), lit(0L)),
      coalesce(sum(when(col("country") =!= "", 1L).otherwise(0L)), lit(0L)),
      coalesce(sum("asn"), lit(0L)), coalesce(sum(slotLenCol), lit(0L))))
    val s = one(spark.read.parquet(s"$out/subdomains").agg(count(lit(1)),
      coalesce(sum(slotLenCol), lit(0L)),
      coalesce(sum(when(col("p2") =!= "", 1L).otherwise(0L)), lit(0L))))
    val c = one(spark.read.parquet(s"$out/cnames").agg(count(lit(1)),
      coalesce(sum(length(col("target"))), lit(0L)),
      coalesce(sum(length(col("domain"))), lit(0L))))
    val q = one(spark.read.text(s"$out/quarantine").agg(count(lit(1)),
      coalesce(sum(when(col("value").startsWith("EL,"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(length(col("value"))), lit(0L))))
    def l(row: Row, i: Int): Long = row.getAs[Number](i).longValue
    EtlActual(l(q, 0), l(q, 1), l(q, 2),
      l(r, 0), l(r, 1), l(r, 2), l(r, 3), l(r, 4),
      l(s, 0), l(s, 1), l(s, 2), l(c, 0), l(c, 1), l(c, 2))
  }

  def etl(a: EtlActual, e: EtlExpect): Seq[String] = Seq(
    ("quarantine rows", a.quarantine, e.quarantine),
    ("quarantine EL rows", a.quarantineEl, e.quarantineEl),
    ("quarantine chars", a.quarantineLen, e.quarantineLen),
    ("rdnsv4 rows", a.aRows, e.aRows),
    ("rdnsv4 ip_int sum", a.ipSum, e.ipSum),
    ("rdnsv4 geo hits", a.geoHits, e.geoHits),
    ("rdnsv4 asn sum", a.asnSum, e.asnSum),
    ("rdnsv4 slot chars", a.slotLen, e.slotLen),
    ("subdomains rows", a.subRows, e.aRows),
    ("subdomains slot chars", a.subSlotLen, e.slotLen),
    ("subdomains multi-suffix rows", a.multiRows, e.multiRows),
    ("cnames rows", a.cnameRows, e.cnameRows),
    ("cnames target chars", a.targetLen, e.targetLen),
    ("cnames domain chars", a.cnameDomLen, e.cnameDomLen))
    .collect { case (what, got, want) if got != want => s"$what: got $got, want $want" }

  /** Rows are compared as sorted lists of their string renderings. */
  def rows(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Seq[String] = {
    val g = got.map(_.mkString("|")).sorted
    val w = want.map(_.mkString("|")).sorted
    if (g == w) Nil
    else Seq(s"$what: got ${g.length} rows ${g.take(3).mkString(";")}, " +
      s"want ${w.length} rows ${w.take(3).mkString(";")}")
  }

  /** Near-dup pairs: every reported pair must be planted, and at least
    * `minRecall` of the planted pairs must be found. */
  def nearDups(found: Set[(Long, Long)], planted: Set[(Long, Long)],
               minRecall: Double): Seq[String] = {
    val spurious = found -- planted
    val recall = if (planted.isEmpty) 1.0 else (found & planted).size.toDouble / planted.size
    (if (spurious.nonEmpty) Seq(s"near-dups: ${spurious.size} unplanted pairs, e.g. ${spurious.head}") else Nil) ++
      (if (recall < minRecall) Seq(f"near-dups: recall $recall%.3f < $minRecall") else Nil)
  }

  /** Count-min heavy hitters: the published bound must bracket every
    * exact count, the banked total must match, and the true top term must
    * be reported. Rows are (term, est, n_total, bound). */
  def heavyHitters(rows: Seq[Row], exact: Array[Long], name: Int => String,
                   total: Long): Seq[String] = {
    val byName = exact.indices.map(k => name(k) -> exact(k)).toMap
    val top = name(exact.indices.maxBy(k => (exact(k), -k)))
    val bad = rows.flatMap { r =>
      val term = r.getString(0)
      val est = r.getAs[Number](1).longValue
      val bound = r.getAs[Number](3).longValue
      val x = byName.getOrElse(term, 0L)
      if (est < x || est > x + bound) Seq(s"heavy hitter $term: est $est outside [$x, ${x + bound}]")
      else Nil
    }
    bad ++
      rows.headOption.toSeq.flatMap(r => equal("heavy-hitter total", r.getAs[Number](2).longValue, total)) ++
      (if (rows.exists(_.getString(0) == top)) Nil else Seq(s"heavy hitters miss the top term $top"))
  }

  def equal(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")
}
