package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Synthetic-fixture tests for the clean-room mmdb reader: the fixture
  * encoder below writes the MaxMind DB 2.0 layout byte by byte (search
  * tree, 16-byte separator, data section with pointers, metadata map),
  * so the spec exercises the real binary format, not a mock. */
class MmdbSpec extends SparkTestBase {

  // ---- minimal mmdb ENCODER (spec-faithful, test-only) ----

  private object Enc {
    def str(s: String): Array[Byte] = {
      val b = s.getBytes("UTF-8")
      require(b.length < 29 + 256)
      if (b.length < 29) ((2 << 5) | b.length).toByte +: b
      else Array(((2 << 5) | 29).toByte, (b.length - 29).toByte) ++ b
    }
    private def beMinimal(v: Long): Array[Byte] = {
      if (v == 0) return Array.empty
      val full = java.nio.ByteBuffer.allocate(8).putLong(v).array()
      full.dropWhile(_ == 0)
    }
    def uint16(v: Long): Array[Byte] = {
      val b = beMinimal(v); require(b.length <= 2)
      ((5 << 5) | b.length).toByte +: b
    }
    def uint32(v: Long): Array[Byte] = {
      val b = beMinimal(v); require(b.length <= 4)
      ((6 << 5) | b.length).toByte +: b
    }
    def uint64(v: Long): Array[Byte] = {
      val b = beMinimal(v)
      Array(((0 << 5) | b.length).toByte, (9 - 7).toByte) ++ b
    }
    def map(entries: (String, Array[Byte])*): Array[Byte] = {
      require(entries.length < 29)
      ((7 << 5) | entries.length).toByte +:
        entries.flatMap { case (k, v) => str(k) ++ v }.toArray
    }
    /** Pointer (size-0 form, offsets < 2048) into the data section. */
    def pointer(off: Int): Array[Byte] = {
      require(off < 2048)
      Array(((1 << 5) | ((off >> 8) & 0x7)).toByte, (off & 0xFF).toByte)
    }
  }

  /** Binary trie over (prefix, len) -> data-offset leaves, serialized
    * at the requested record size. */
  private class TrieBuilder {
    sealed trait Child
    case object Empty extends Child
    case class Inner(n: Node) extends Child
    case class Leaf(dataOff: Int) extends Child
    class Node { var left: Child = Empty; var right: Child = Empty }
    val root = new Node

    /** `prefix` is the network's top `len` bits as an integer. */
    def insert(prefix: Long, len: Int, dataOff: Int): Unit = {
      var n = root
      for (d <- 0 until len - 1) {
        // Scala/Java Long shifts are mod 64 — the >64-bit prefix
        // positions of a v6-mapped network are literal zeros
        val sh = len - 1 - d
        val bit = if (sh >= 64) 0L else (prefix >> sh) & 1
        def step(c: Child): Node = c match {
          case Inner(x) => x
          case Empty => val x = new Node; x
          case Leaf(_) => sys.error("overlapping networks")
        }
        if (bit == 0) { val x = step(n.left); n.left = Inner(x); n = x }
        else { val x = step(n.right); n.right = Inner(x); n = x }
      }
      val bit = prefix & 1
      if (bit == 0) n.left = Leaf(dataOff) else n.right = Leaf(dataOff)
    }

    def serialize(recordSize: Int): (Array[Byte], Int) = {
      val nodes = mutable.ArrayBuffer[Node]()
      def collect(n: Node): Unit = {
        nodes += n
        Seq(n.left, n.right).foreach {
          case Inner(x) => collect(x); case _ => ()
        }
      }
      collect(root)
      val index = nodes.zipWithIndex.toMap
      val count = nodes.length
      def rec(c: Child): Int = c match {
        case Empty => count
        case Inner(x) => index(x)
        case Leaf(off) => count + 16 + off
      }
      val out = mutable.ArrayBuffer[Byte]()
      nodes.foreach { n =>
        val l = rec(n.left); val r = rec(n.right)
        recordSize match {
          case 24 =>
            out ++= Array((l >> 16).toByte, (l >> 8).toByte, l.toByte,
              (r >> 16).toByte, (r >> 8).toByte, r.toByte)
          case 28 =>
            out ++= Array((l >> 16).toByte, (l >> 8).toByte, l.toByte,
              ((((l >> 24) & 0xF) << 4) | ((r >> 24) & 0xF)).toByte,
              (r >> 16).toByte, (r >> 8).toByte, r.toByte)
          case 32 =>
            out ++= Array((l >> 24).toByte, (l >> 16).toByte,
              (l >> 8).toByte, l.toByte, (r >> 24).toByte,
              (r >> 16).toByte, (r >> 8).toByte, r.toByte)
        }
      }
      (out.toArray, count)
    }
  }

  /** Assemble a full mmdb image: tree ++ 16-zero separator ++ data ++
    * metadata marker ++ metadata map. */
  private def buildMmdb(recordSize: Int, ipVersion: Int, dbType: String,
                        data: Array[Byte],
                        networks: Seq[(Long, Int, Int)]): Array[Byte] = {
    val trie = new TrieBuilder
    networks.foreach { case (prefix, len, off) =>
      // ip_version 6 stores IPv4 under 96 leading zero bits, which a
      // len-bit prefix integer already has
      val l = if (ipVersion == 6) len + 96 else len
      trie.insert(prefix, l, off)
    }
    val (tree, _) = trie.serialize(recordSize)
    val nodeCount = tree.length / (recordSize * 2 / 8)
    val marker = Array(0xAB.toByte, 0xCD.toByte, 0xEF.toByte) ++
      "MaxMind.com".getBytes("US-ASCII")
    val meta = Enc.map(
      "node_count" -> Enc.uint32(nodeCount),
      "record_size" -> Enc.uint16(recordSize),
      "ip_version" -> Enc.uint16(ipVersion),
      "database_type" -> Enc.str(dbType),
      "build_epoch" -> Enc.uint64(1700000000L))
    tree ++ Array.fill[Byte](16)(0) ++ data ++ marker ++ meta
  }

  // City-style data section: two records, the second reached via a
  // POINTER from a third leaf (exercises the pointer type).
  private def cityFixture(recordSize: Int, ipVersion: Int): Array[Byte] = {
    val us = Enc.map(
      "country" -> Enc.map("iso_code" -> Enc.str("US")),
      "city" -> Enc.map("names" -> Enc.map("en" -> Enc.str("Austin"))))
    val de = Enc.map(
      "country" -> Enc.map("iso_code" -> Enc.str("DE")),
      "city" -> Enc.map("names" -> Enc.map("en" -> Enc.str("Berlin"))))
    val ptrToDe = Enc.pointer(us.length)
    val data = us ++ de ++ ptrToDe
    def ip(a: Int, b: Int, c: Int, d: Int): Long =
      (a.toLong << 24) | (b << 16) | (c << 8) | d
    buildMmdb(recordSize, ipVersion, "GeoLite2-City", data, Seq(
      (ip(10, 0, 0, 0) >> 24, 8, 0),                    // 10.0.0.0/8 -> US
      (ip(192, 168, 0, 0) >> 16, 16, us.length),        // /16 -> DE
      (ip(192, 169, 0, 0) >> 16, 16, us.length + de.length))) // ptr -> DE
  }

  private def writeTemp(name: String, bytes: Array[Byte]): String = {
    val p = Paths.get(tempDir("mmdb")).resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  for (rs <- Seq(24, 28, 32)) {
    test(s"reader decodes record_size=$rs city fixture") {
      val path = writeTemp(s"city$rs.mmdb", cityFixture(rs, 4))
      val db = Mmdb.read(path)
      assert(db.metadata.recordSize == rs)
      assert(db.metadata.ipVersion == 4)
      assert(db.metadata.databaseType == "GeoLite2-City")
      val ranges = db.ipv4Ranges()
      assert(ranges.map(r => (r.start, r.end)) == Vector(
        (0x0A000000L, 0x0AFFFFFFL),
        (0xC0A80000L, 0xC0A8FFFFL),
        (0xC0A90000L, 0xC0A9FFFFL)))
      assert(Mmdb.geoFields(ranges(0).data) == ("US", "Austin", "", ""))
      assert(Mmdb.geoFields(ranges(1).data) == ("DE", "Berlin", "", ""))
      // the pointer leaf decodes to the same record
      assert(Mmdb.geoFields(ranges(2).data) == ("DE", "Berlin", "", ""))
    }
  }

  test("ip_version=6 database: IPv4 ranges live under 96 zero bits") {
    val path = writeTemp("city6.mmdb", cityFixture(24, 6))
    val db = Mmdb.read(path)
    assert(db.metadata.ipVersion == 6)
    val ranges = db.ipv4Ranges()
    assert(ranges.map(r => (r.start, r.end)) == Vector(
      (0x0A000000L, 0x0AFFFFFFL),
      (0xC0A80000L, 0xC0A8FFFFL),
      (0xC0A90000L, 0xC0A9FFFFL)))
  }

  test("ASN database fields map to (asn, as_name)") {
    val rec = Enc.map(
      "autonomous_system_number" -> Enc.uint32(15169),
      "autonomous_system_organization" -> Enc.str("Google LLC"))
    val img = buildMmdb(24, 4, "GeoLite2-ASN", rec,
      Seq((0x08080800L >> 8, 24, 0))) // 8.8.8.0/24
    val db = Mmdb.read(writeTemp("asn.mmdb", img))
    val ranges = db.ipv4Ranges()
    assert(ranges.map(r => (r.start, r.end)) ==
      Vector((0x08080800L, 0x080808FFL)))
    assert(Mmdb.geoFields(ranges(0).data) ==
      ("", "", "15169", "Google LLC"))
  }

  test("exportCsv merges adjacent equal ranges and feeds Dims.loadGeo") {
    val mmdb = writeTemp("city.mmdb", cityFixture(28, 4))
    val csv = mmdb.replace(".mmdb", ".csv")
    val n = Mmdb.exportCsv(mmdb, csv)
    assert(n == 2, "the two adjacent DE /16s must merge into one row")
    val geo = Dims.loadGeo(spark, csv)
    Dims.assertDisjoint(geo)
    val rows = geo.orderBy("start_ip").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 0x0A000000L &&
      rows(0).getLong(1) == 0x0AFFFFFFL &&
      rows(0).getString(2) == "US" && rows(0).getString(3) == "Austin")
    assert(rows(1).getLong(0) == 0xC0A80000L &&
      rows(1).getLong(1) == 0xC0A9FFFFL &&
      rows(1).getString(2) == "DE" && rows(1).getString(3) == "Berlin")
    // end-to-end: the exported dim enriches facts through the same
    // bucketed range join the migrator uses
    import spark.implicits._
    val facts = Seq(0x0A0A0A0AL, 0xC0A90101L, 0x7F000001L).toDF("ip")
    val joined = graft.operators.RangeJoin.bucketed(
        facts, geo, col("ip"), "start_ip", "end_ip")
      .select(col("ip"), col("country")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("-"))
      .toMap
    assert(joined == Map(0x0A0A0A0AL -> "US", 0xC0A90101L -> "DE",
      0x7F000001L -> "-"))
  }
}
