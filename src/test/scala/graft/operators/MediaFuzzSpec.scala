package graft.operators

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.GenForAll.forAll
import graft.plans.MediaOps

/** Adversarial-robustness lock on every media parser: random byte
  * arrays, random truncations, and random byte mutations of VALID
  * containers must produce null-or-a-value, NEVER an exception — the
  * "corrupt media is data, not an error" contract these parsers claim.
  * 500+ cases per parser per shape (the fixture-based specs cover the
  * well-formed side; this spec covers the other 2^n - 6 inputs).
  *
  * Direct function calls (no Spark) — the Catalyst expressions are
  * thin null-safe wrappers over these same entry points, bit-locked
  * elsewhere (MultimodalSpec / VideoCodecSpec). */
class MediaFuzzSpec extends AnyFunSuite {

  private def hexBytes(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  // ---- valid container corpus (one per format family) ----

  private val matrixHex = "00010000" + "00000000" * 3 + "00010000" +
    "00000000" * 3 + "40000000"

  private lazy val validMp4: Array[Byte] = hexBytes(
    "00000010 66747970 69736F6D 00000000" +
      "00000130 6D6F6F76" +
      "0000006C 6D766864 00000000 00000000 00000000 000003E8 00000190" +
      "00010000 0100" + "00" * 10 + matrixHex + "00" * 24 + "00000002" +
      "000000BC 7472616B" +
      "0000005C 746B6864 00000007 00000000 00000000 00000001 00000000" +
      "00000190" + "00" * 8 + "0000 0000 0000 0000" + matrixHex +
      "01400000 00F00000" +
      "00000058 6D646961" +
      "00000020 6D646864 00000000 00000000 00000000 000003E8 00000190" +
      "0000 0000" +
      "00000030 6D696E66 00000028 7374626C" +
      "00000020 73747473 00000000 00000002" +
      "00000002 00000064 00000001 000000C8")

  private lazy val validWav: Array[Byte] = {
    def le16(v: Int) = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
    hexBytes(
      "52494646 34000000 57415645 666D7420 10000000 0100 0100" +
        " 44AC0000 88580100 0200 1000 64617461 10000000" +
        Seq(100, -100, 3000, -3000, 0, 50, 50, -50).map(le16).mkString)
  }

  private lazy val corpus: Seq[(String, Array[Byte])] = Seq(
    "png" -> ImageCodec.encodePng(24, 16, 0x336699, 0x996633),
    "jpeg" -> ImageCodec.encodeJpeg(24, 16, 0x336699, 0x996633),
    "gif" -> ImageCodec.encodeGif(24, 16, 0x336699, 0x996633),
    "wav" -> validWav,
    "mp4" -> validMp4,
    "avi_dib" -> VideoCodec.encodeAvi(16, 12,
      Seq((0x112233, 0x445566), (0x778899, 0xAABBCC)), 1, 25),
    "avi_mjpg" -> VideoCodec.encodeAvi(16, 16,
      Seq((0x808080, 0x808080)), 1, 10, mjpg = true))

  /** Every parser in one pass; the property is ONLY "no throw". */
  private def allParsers(b: Array[Byte]): Unit = {
    MediaOps.parseHeader(b)
    MediaOps.mp4SampleTimesMs(b)
    ImageCodec.decodeFeatures(b)
    AudioCodec.decodePcm(b)
    val avi = VideoCodec.parseAvi(b)
    if (avi != null) {
      (-1 to avi.frames.length).foreach(VideoCodec.decodeFrame(avi, _))
      VideoCodec.frameFeatures(b)
    }
  }

  test("sanity: the valid corpus parses as itself (fuzz base is honest)") {
    assert(MediaOps.parseHeader(corpus.find(_._1 == "png").get._2) != null)
    assert(MediaOps.parseHeader(validWav) != null)
    assert(MediaOps.parseHeader(validMp4) != null)
    assert(MediaOps.mp4SampleTimesMs(validMp4).toSeq == Seq(0, 100, 200))
    assert(AudioCodec.decodePcm(validWav) != null)
    assert(ImageCodec.decodeFeatures(corpus.find(_._1 == "gif").get._2) != null)
    assert(VideoCodec.parseAvi(corpus.find(_._1 == "avi_dib").get._2) != null)
    assert(VideoCodec.parseAvi(corpus.find(_._1 == "avi_mjpg").get._2) != null)
  }

  test("an image header claiming 40000 x 40000 pixels decodes to null " +
      "without allocating its raster") {
    // an 8-bit grayscale PNG whose one IDAT holds two pixels: a reader
    // sizes its 1.6 GB raster from the header before inflating any data
    def chunk(kind: String, data: Array[Byte]): Array[Byte] = {
      val body = kind.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32
      crc.update(body)
      java.nio.ByteBuffer.allocate(4).putInt(data.length).array ++ body ++
        java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array
    }
    val png = hexBytes("89504E470D0A1A0A") ++
      chunk("IHDR", hexBytes("00009C40 00009C40 08 00 00 00 00")) ++
      chunk("IDAT", hexBytes("789C 6360 0000 0002 0001")) ++
      chunk("IEND", Array.emptyByteArray)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val allocated = threads.getCurrentThreadAllocatedBytes
    assert(ImageCodec.decodeImage(png) == null)
    assert(ImageCodec.decodeFeatures(png) == null)
    assert(threads.getCurrentThreadAllocatedBytes - allocated < (64L << 20))
  }

  test("fuzz: random byte arrays never throw in any parser (600 cases)") {
    val gen = for {
      n <- Gen.chooseNum(0, 300)
      bs <- Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield bs.toArray
    forAll(gen, n = 600)(allParsers)
  }

  test("fuzz: random byte arrays behind valid magic never throw (700 cases)") {
    // random tails behind each format's signature reach the deep
    // parser paths that pure-random bytes bounce off at the magic check
    val magics = Seq(
      hexBytes("89504E470D0A1A0A"), hexBytes("FFD8"),
      "GIF89a".getBytes, "RIFF".getBytes,
      hexBytes("00000010 66747970"), "RIFF1234AVI ".getBytes)
    val gen = for {
      m <- Gen.oneOf(magics)
      n <- Gen.chooseNum(0, 200)
      bs <- Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield m ++ bs.toArray
    forAll(gen, n = 700)(allParsers)
  }

  test("fuzz: truncations of every valid container never throw (7x100 cases)") {
    corpus.foreach { case (name, full) =>
      val gen = Gen.chooseNum(0, full.length - 1).map(full.take)
      forAll(gen, n = 100) { b =>
        try allParsers(b)
        catch { case e: Throwable =>
          throw new AssertionError(s"$name truncation len=${b.length}", e)
        }
      }
    }
  }

  test("fuzz: byte mutations of every valid container never throw (7x120 cases)") {
    corpus.foreach { case (name, full) =>
      val gen = for {
        k <- Gen.chooseNum(1, 6) // 1..6 independent byte flips
        sites <- Gen.listOfN(k,
          Gen.zip(Gen.chooseNum(0, full.length - 1),
            Gen.chooseNum(-128, 127).map(_.toByte)))
      } yield {
        val m = full.clone()
        sites.foreach { case (i, v) => m(i) = v }
        m
      }
      forAll(gen, n = 120) { b =>
        try allParsers(b)
        catch { case e: Throwable =>
          throw new AssertionError(s"$name mutation", e)
        }
      }
    }
  }

  test("fuzz: size-field lies (length words rewritten) never throw (500 cases)") {
    // chunk/box size words are the classic parser kill: rewrite any
    // aligned 4-byte word with extreme values on every valid container
    val extremes = Seq(0, 1, 7, 0x7FFFFFFF, -1, -8, 0x40000000)
    val gen = for {
      (_, full) <- Gen.oneOf(corpus)
      off <- Gen.chooseNum(0, math.max(0, full.length - 4))
      v <- Gen.oneOf(extremes)
      le <- Gen.oneOf(true, false)
    } yield {
      val m = full.clone()
      if (le) {
        m(off) = v.toByte; m(off + 1) = (v >> 8).toByte
        m(off + 2) = (v >> 16).toByte; m(off + 3) = (v >> 24).toByte
      } else {
        m(off) = (v >> 24).toByte; m(off + 1) = (v >> 16).toByte
        m(off + 2) = (v >> 8).toByte; m(off + 3) = v.toByte
      }
      m
    }
    forAll(gen, n = 500)(allParsers)
  }
}
