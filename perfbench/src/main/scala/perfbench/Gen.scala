package perfbench

/** Stateless seeded mixing: every generated attribute is a pure function
  * of (seed, id, salt), so any line can be regenerated, and its expected
  * output derived, without storing it. */
object Mix {
  def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, id: Long, salt: Long): Long =
    splitmix(seed ^ splitmix(id * 0x632BE59BD9B4E019L + salt))
  /** Uniform in [0, 1). */
  def unit(seed: Long, id: Long, salt: Long): Double =
    (apply(seed, id, salt) >>> 11) / 9007199254740992.0
  def below(seed: Long, id: Long, salt: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(apply(seed, id, salt), n.toLong).toInt
}

/** One rdns line kind; the first four yield table rows. */
object Kind extends Enumeration {
  val Clean, Dot, Star, Quote, BadIp, Arity, BadDomain = Value
  def rowKind(k: Value): Boolean = k.id <= Quote.id
  def parsedKind(k: Value): Boolean = k.id <= BadIp.id
}

/** Expected aggregates of one day's ETL outputs, summed from the
  * generator's bookkeeping while the lines are made. */
final case class EtlExpect(
    var lines: Long = 0, var inputBytes: Long = 0,
    var quarantine: Long = 0, var quarantineEl: Long = 0,
    var quarantineLen: Long = 0,
    var aRows: Long = 0, var ipSum: Long = 0, var geoHits: Long = 0,
    var asnSum: Long = 0, var slotLen: Long = 0, var multiRows: Long = 0,
    var cnameRows: Long = 0, var targetLen: Long = 0, var cnameDomLen: Long = 0,
    var parsedRows: Long = 0)

/** One generated day: the cleaner's two inputs plus the bookkeeping. */
final case class Day(rdns: Array[String], cname: Array[String],
                     expect: EtlExpect, apexParsed: Array[Int])

/** Seeded massdns/rdns generator. Line `id` of the rdns input carries
  * the unique IPv4 [[ipOf]]`(id)` and a domain whose labels, and hence
  * whose p1..p7 slots, are fixed by construction. */
final class DnsGen(val seed: Long) {
  import DnsGen._

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Apexes)(k => 1.0 / math.pow(k + 1, ZipfS))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  // apex rank -> apex index, so popularity is not ordered by name
  private val rankToApex: Array[Int] = {
    val a = Array.range(0, Apexes)
    for (i <- a.indices.reverse) {
      val j = Mix.below(seed, i, 11, i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def apexOf(domainId: Long): Int = {
    val u = Mix.unit(seed, domainId, 1)
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    rankToApex(math.min(i, Apexes - 1))
  }
  def apexLabel(k: Int): String = s"a${k}n"
  def isMulti(k: Int): Boolean = Mix.unit(seed, k, 4) < MultiSuffixShare
  /** (tld, sld or "") of apex k. */
  def suffixOf(k: Int): (String, String) =
    if (isMulti(k)) MultiSuffixes(Mix.below(seed, k, 5, MultiSuffixes.length))
    else (SingleSuffixes(Mix.below(seed, k, 5, SingleSuffixes.length)), "")
  def apexName(k: Int): String = {
    val (t, s) = suffixOf(k)
    if (s.isEmpty) s"${apexLabel(k)}.$t" else s"${apexLabel(k)}.$s.$t"
  }

  /** Sub-labels of a domain, leftmost (unique) first. */
  def subLabels(domainId: Long): Array[String] = {
    val depth = 1 + Mix.below(seed, domainId, 6, MaxDepth)
    Array.tabulate(depth) { i =>
      if (i == 0) "h" + java.lang.Long.toString(domainId, 36)
      else Words(Mix.below(seed, domainId, 100 + i, Words.length))
    }
  }
  def domainOf(domainId: Long): String =
    (subLabels(domainId) :+ apexName(apexOf(domainId))).mkString(".")

  /** The seven p-slots the Migrator must derive for the domain. */
  def slotsOf(domainId: Long): Array[String] = {
    val k = apexOf(domainId)
    val (t, s) = suffixOf(k)
    val near = subLabels(domainId).reverse
    val head = if (s.isEmpty) Array(t, "", apexLabel(k)) else Array(t, s, "", apexLabel(k))
    (head ++ near).take(7).padTo(7, "")
  }

  def ipOf(lineId: Long): Long =
    IpBase + ((lineId * IpMul + (seed & IpMask)) & IpMask)
  /** Inverse of [[ipOf]]: the line id an IP came from, if in range. */
  def lineOfIp(ip: Long): Long =
    ((ip - IpBase - (seed & IpMask)) * IpMulInv) & IpMask
  def kindOf(lineId: Long): Kind.Value = {
    val u = Mix.unit(seed, lineId, 3)
    KindCuts.indexWhere(u < _) match {
      case -1 => Kind.Clean
      case i  => Kind(i + 1)
    }
  }

  // ---- geo dim: many disjoint ranges over the generated IP space ----
  lazy val geo: Array[(Long, Long, Long, String)] = {
    val pts = Array.tabulate(2 * GeoRanges)(i =>
      IpBase + (Mix.apply(seed, i, 7) & IpMask)).distinct.sorted
    pts.grouped(2).filter(_.length == 2).zipWithIndex.map { case (a, i) =>
      (a(0), a(1), 1000L + i, Countries(i % Countries.length))
    }.toArray
  }
  private lazy val geoStarts = geo.map(_._1)
  /** asn of the range holding `ip`, or 0 for a miss. */
  def geoAsn(ip: Long): Long = {
    var i = java.util.Arrays.binarySearch(geoStarts, ip)
    if (i < 0) i = -i - 2
    if (i >= 0 && ip <= geo(i)._2) geo(i)._3 else 0L
  }
  def geoCsv: String = ("start_ip,end_ip,country,city,asn,as_name" +:
    geo.map { case (s, e, asn, c) => s"$s,$e,$c,city$asn,$asn,AS$asn" })
    .mkString("\n") + "\n"

  /** The rdns line for `lineId`, showing `domainId`. */
  def rdnsLine(lineId: Long, domainId: Long): String = {
    val ip = IpFunctionsLite.toIp(ipOf(lineId))
    val dom = domainOf(domainId)
    kindOf(lineId) match {
      case Kind.Clean => s"$ip,$dom"
      case Kind.Dot   => s"$ip,$dom."
      case Kind.Star  => s"$ip,*.$dom"
      case Kind.Quote => s"$ip,\\\"$dom"
      case Kind.BadIp => BadIps(Mix.below(seed, lineId, 8, BadIps.length))(ipOf(lineId)) + s",$dom"
      case Kind.Arity => if (lineId % 2 == 0) ip else s"$ip,$dom,extra"
      case Kind.BadDomain =>
        val d = dom.replaceFirst("\\.", "!.")
        if (lineId % 2 == 0) s"$ip,$d" else s"$ip,*.$d"
    }
  }

  def cnameGood(cid: Long): Boolean = Mix.unit(seed, cid, 9) >= CnameBadShare
  def targetOf(cid: Long): String =
    s"t${java.lang.Long.toString(cid, 36)}.cdn${Mix.below(seed, cid, 10, 50)}.net"
  /** cleanCname input `target,apex,domain`. */
  def cnameLine(cid: Long): String = {
    val dom = domainOf(cid)
    val shown = if (cnameGood(cid)) dom else dom.replaceFirst("\\.", "!.")
    s"${targetOf(cid)},${apexName(apexOf(cid))},$shown"
  }

  /** A day of `n` lines; rdns line ids start at `firstLine`, CNAME ids at
    * `CnameBase + firstLine`. `domainFor` maps a line id to the domain id
    * it shows (identity for bulk days; history ids for re-seen domains). */
  def day(firstLine: Long, n: Int,
          domainFor: Long => Long = identity): Day = {
    val nCname = math.round(n * CnameShare).toInt
    val e = EtlExpect()
    val apexParsed = new Array[Int](Apexes)
    val rdns = Array.tabulate(n - nCname) { j =>
      val id = firstLine + j
      val did = domainFor(id)
      val line = rdnsLine(id, did)
      val k = kindOf(id)
      if (k == Kind.Arity || k == Kind.BadDomain) {
        e.quarantine += 1; e.quarantineLen += line.length + 3
        if (k == Kind.Arity) e.quarantineEl += 1
      }
      if (Kind.parsedKind(k)) { e.parsedRows += 1; apexParsed(apexOf(did)) += 1 }
      if (Kind.rowKind(k)) {
        val ip = ipOf(id)
        val slots = slotsOf(did)
        e.aRows += 1; e.ipSum += ip
        val asn = geoAsn(ip)
        if (asn != 0) { e.geoHits += 1; e.asnSum += asn }
        e.slotLen += slots.map(_.length).sum
        if (slots(1).nonEmpty) e.multiRows += 1
      }
      e.inputBytes += line.length + 1
      line
    }
    val cname = Array.tabulate(nCname) { j =>
      val cid = CnameBase + firstLine + j
      val line = cnameLine(cid)
      if (cnameGood(cid)) {
        e.cnameRows += 1; e.parsedRows += 1; apexParsed(apexOf(cid)) += 1
        e.targetLen += targetOf(cid).length; e.cnameDomLen += domainOf(cid).length
      } else {
        e.quarantine += 1; e.quarantineLen += line.length + 3
      }
      e.inputBytes += line.length + 1
      line
    }
    e.lines = n
    Day(rdns, cname, e, apexParsed)
  }
}

object DnsGen {
  // The shape of the generated traffic. Each is an assumption, not a
  // measured share: perfbench/README.md gives the reason for each.
  val Apexes = 3000
  val ZipfS = 1.05              // apex popularity skew
  val MultiSuffixShare = 0.2    // apexes under co.uk-style suffixes
  val CnameShare = 0.15         // CNAME lines among all lines
  val TrailingDotShare = 0.05   // repairable trailing `.`
  val StarShare = 0.03          // repairable `*.` prefix
  val QuoteShare = 0.02         // repairable `\"` prefix
  val BadIpShare = 0.03         // valid domain, unparseable IPv4
  val ArityShare = 0.03         // wrong field count (EL)
  val BadDomainShare = 0.06     // invalid, unrepairable domain (ED)
  val CnameBadShare = 0.05
  val MaxDepth = 6              // sub-labels below the apex, 1..MaxDepth
  val GeoRanges = 4000
  private val KindCuts = Seq(TrailingDotShare, StarShare, QuoteShare, BadIpShare,
    ArityShare, BadDomainShare).scanLeft(0.0)(_ + _).tail

  val IpBase = 16777216L          // 1.0.0.0
  val IpMask = 0x7FFFFFFFL        // 2^31 addresses: 1.0.0.0 .. 128.255.255.255
  val IpMul = 0x5DEECE66DL | 1L   // odd, hence a bijection mod 2^31
  val IpMulInv: Long = {          // Newton iteration for the inverse mod 2^31
    var x = IpMul
    for (_ <- 0 until 5) x = (x * (2 - IpMul * x)) & IpMask
    x
  }
  val CnameBase: Long = 1L << 40
  val SingleSuffixes = Array("com", "net", "org", "de", "io", "info", "dev", "app", "xyz", "shop")
  val MultiSuffixes = Array(("uk", "co"), ("au", "com"), ("in", "co"), ("br", "com"))
  val Words = Array("www", "mail", "api", "cdn", "m", "img", "static", "vpn",
    "edge", "ns1", "ns2", "smtp", "portal", "blog", "git", "auth")
  val Countries = Array("US", "DE", "FR", "JP", "BR", "IN", "GB", "NL")
  val BadIps: Array[Long => String] = Array(
    ip => s"256.${(ip >> 16) & 255}.${(ip >> 8) & 255}.${ip & 255}",
    ip => s"${(ip >> 24) & 255}.${(ip >> 16) & 255}.${ip & 255}",
    ip => s"0${IpFunctionsLite.toIp(ip)}")
}

/** Dotted-quad rendering, kept local so expected values never come from
  * the engine under test. */
object IpFunctionsLite {
  def toIp(v: Long): String =
    s"${(v >> 24) & 0xFF}.${(v >> 16) & 0xFF}.${(v >> 8) & 0xFF}.${v & 0xFF}"
}

/** A generated corpus with its planted ground truth. */
final case class Corpus(
    texts: Array[String], evalTexts: Array[String],
    nearDupPairs: Set[(Long, Long)], repetitive: Set[Long],
    contaminated: Set[Long]) {
  def bytes: Long = texts.iterator.map(_.length.toLong + 1).sum
}

final class CorpusGen(val seed: Long, docs: Int) {
  import CorpusGen._
  private def word(k: Int): String = "w" + Integer.toString(k, 36)
  private def randomTokens(id: Long, salt: Long): Array[String] =
    Array.tabulate(Tokens)(i => word(Mix.below(seed, id * 131 + i, salt, Vocab)))

  def corpus(): Corpus = {
    val evalTexts = Array.tabulate(EvalPassages)(e =>
      Array.tabulate(PassageLen)(i =>
        word(Mix.below(seed, e * 1000L + i, 21, Vocab))).mkString(" "))
    val texts = new Array[String](docs)
    val pairs = Set.newBuilder[(Long, Long)]
    val rep = Set.newBuilder[Long]
    val contam = Set.newBuilder[Long]
    var i = 0
    while (i < docs) {
      val u = Mix.unit(seed, i, 22)
      if (u < ClusterStart && i + 1 < docs) {
        val size = math.min(2 + Mix.below(seed, i, 23, ClusterMax - 1), docs - i)
        val base = randomTokens(i, 24)
        for (m <- 0 until size) {
          val t = base.clone()
          if (m > 0) t(Mix.below(seed, i + m, 25, Tokens)) = "v" + m + word(Mix.below(seed, i + m, 26, Vocab))
          texts(i + m) = t.mkString(" ")
          for (a <- 0 until m) pairs += ((i + a).toLong -> (i + m).toLong)
        }
        i += size
      } else {
        val t = if (u < ClusterStart + RepetitiveShare) {
          rep += i.toLong
          val phrase = Array.tabulate(4)(j => "r" + word(Mix.below(seed, i * 4L + j, 27, Vocab)))
          Array.tabulate(Tokens)(j => phrase(j % 4))
        } else {
          val t = randomTokens(i, 24)
          if (u < ClusterStart + RepetitiveShare + ContamShare) {
            contam += i.toLong
            val ev = evalTexts(Mix.below(seed, i, 28, EvalPassages)).split(" ")
            val from = Mix.below(seed, i, 29, PassageLen - PlantLen + 1)
            val at = Mix.below(seed, i, 30, Tokens - PlantLen + 1)
            System.arraycopy(ev, from, t, at, PlantLen)
          }
          t
        }
        texts(i) = t.mkString(" ")
        i += 1
      }
    }
    Corpus(texts, evalTexts, pairs.result(), rep.result(), contam.result())
  }
}

object CorpusGen {
  // Corpus shape, assumptions like DnsGen's (see perfbench/README.md).
  val Tokens = 80
  val Vocab = 5000
  val ClusterStart = 0.04       // a near-dup cluster starts at this share of docs
  val ClusterMax = 4            // docs per cluster, 2..ClusterMax
  val RepetitiveShare = 0.03    // boilerplate docs
  val ContamShare = 0.01        // docs holding an eval passage
  val EvalPassages = 40
  val PassageLen = 30
  val PlantLen = 12             // eval tokens planted in a contaminated doc
}

/** Small ordered-statistics helpers. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
