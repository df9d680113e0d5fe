package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import Multimodal._

class MultimodalSpec extends SparkTestBase {

  import spark.implicits._

  lazy val media = Seq(
    MediaRecord(1L, "image", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10),
      MediaMeta(Some(4000), Some(3000), None, None)),
    MediaRecord(2L, "audio", Array[Byte](9, 9, 9),
      MediaMeta(None, None, Some(44100), Some(90000))),
    MediaRecord(3L, "video", Array.tabulate(100)(_.toByte),
      MediaMeta(Some(1920), Some(1080), Some(48000), Some(60000)))
  ).toDS()

  test("feature extraction: undecodable payloads get null features") {
    val f1 = extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.length == 3)
    assert(f1.forall(_.feature == null)) // none of these bytes is an image
    assert(f1.map(_.n_bytes).toSeq == Seq(10L, 3L, 100L))
  }

  private def lum(rgb: Int): Int =
    299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
      114 * (rgb & 0xFF)

  test("real PNG decode: solid image -> uniform exact luminance grid") {
    val c = 0x336699
    val rows = Seq(MediaRecord(1L, "image",
      ImageCodec.encodePng(32, 16, c, c), MediaMeta(None, None, None, None)))
    val f = extractFeatures(rows.toDS()).collect().head.feature
    assert(f.length == 64)
    assert(f.forall(_ == lum(c).toFloat)) // lossless round-trip, bit-exact
  }

  test("real PNG decode: split image -> top/bottom cell rows differ") {
    val (cTop, cBot) = (0xFF0000, 0x0000FF)
    val rows = Seq(MediaRecord(1L, "image",
      ImageCodec.encodePng(40, 24, cTop, cBot),
      MediaMeta(None, None, None, None)))
    val f = extractFeatures(rows.toDS()).collect().head.feature
    assert(f.take(32).forall(_ == lum(cTop).toFloat))
    assert(f.drop(32).forall(_ == lum(cBot).toFloat))
  }

  test("real GIF decode: <=2 colors palettize losslessly") {
    val (cTop, cBot) = (0x112233, 0xAABBCC)
    val f = ImageCodec.decodeFeatures(ImageCodec.encodeGif(16, 16, cTop, cBot))
    assert(f.take(32).forall(_ == lum(cTop).toFloat))
    assert(f.drop(32).forall(_ == lum(cBot).toFloat))
  }

  test("real JPEG decode: lossy but close on a solid image") {
    val c = 0x808080 // solid grey: only DC coefficients survive
    val f = ImageCodec.decodeFeatures(ImageCodec.encodeJpeg(32, 32, c, c))
    assert(f.length == 64)
    // tolerance in the x1000 lum scale: +-4 per 0-255 channel
    assert(f.forall(v => math.abs(v - lum(c)) <= 4000),
      s"jpeg cells ${f.take(4).toSeq} vs expected ${lum(c)}")
  }

  test("feature extraction is partition-safe on real images") {
    val rows = (1L to 20L).map { id =>
      val c = (id * 1234567 % 0xFFFFFF).toInt
      MediaRecord(id, "image", ImageCodec.encodePng(24, 16, c, c),
        MediaMeta(None, None, None, None))
    }
    val f1 = extractFeatures(rows.toDS()).collect().sortBy(_.media_id)
    val f2 = extractFeatures(rows.toDS().repartition(5)).collect()
      .sortBy(_.media_id)
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq)
  }

  test("frame sampling decodes REAL AVI containers, only video rows") {
    // a video row with non-video payload yields no frames (not fakes)
    assert(sampleFrames(media, 4).collect().isEmpty)
    // real AVI: 6 DIB frames at 10 fps, sample 4 -> picks j*6/4 = 0,1,3,4
    val colors = (0 until 6).map(i => (0x101010 * i, 0x0F0F0F * i))
    val avi = VideoCodec.encodeAvi(16, 16, colors, scale = 1, rate = 10)
    val rows = Seq(
      MediaRecord(7L, "video", avi, MediaMeta(Some(16), Some(16), None, None)),
      MediaRecord(8L, "image", avi, MediaMeta(None, None, None, None))
    ).toDS()
    val frames = sampleFrames(rows, 4).collect().sortBy(_.frame_index)
    assert(frames.forall(_.media_id == 7L)) // image rows never explode
    assert(frames.map(_.frame_index).toSeq == Seq(0, 1, 3, 4))
    assert(frames.map(_.ts_ms).toSeq == Seq(0, 100, 300, 400))
    // raw DIB payloads: stride 48 (16*3), 16 rows
    assert(frames.forall(_.frame_bytes.length == 48 * 16))
    // asking for more frames than exist returns all of them once
    assert(sampleFrames(rows, 100).collect().length == 6)
  }

  test("resize transform scales metadata preserving aspect") {
    val resized = resizeMeta(media.toDF(), 1000)
      .select("media_id", "meta.width", "meta.height")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]))).sortBy(_._1)
    assert(resized(0) == ((1L, Some(1000), Some(750))))
    assert(resized(1) == ((2L, None, None)))          // audio untouched
    assert(resized(2) == ((3L, Some(1000), Some(562)))) // 1920x1080 scaled
  }

  test("aHash: strict-above-mean bits, exact integer comparison") {
    // solid image: every cell equals the mean -> strictness gives 0
    assert(ImageCodec.aHash(ImageCodec.decodeFeatures(
      ImageCodec.encodePng(16, 16, 0x808080, 0x808080))) == 0L)
    // bright top / dark bottom: top 32 cells above mean -> low 32 bits
    assert(ImageCodec.aHash(ImageCodec.decodeFeatures(
      ImageCodec.encodePng(16, 16, 0xFFFFFF, 0x000000))) == 0xFFFFFFFFL)
    // four bands, one bright: its 16 cells are the only above-mean bits
    val oneBright = ImageCodec.encodePngBands(32, 32,
      Seq(0x000000, 0xFFFFFF, 0x000000, 0x000000))
    assert(ImageCodec.aHash(ImageCodec.decodeFeatures(oneBright)) ==
      0xFFFF0000L)
    // aHash is resize-invariant on exact-ratio fixtures (scale-free grid)
    assert(ImageCodec.aHash(ImageCodec.decodeFeatures(
      ImageCodec.resizeBytes(ImageCodec.encodePng(64, 64, 0xFFFFFF, 0x000000),
        16))) == 0xFFFFFFFFL)
  }

  test("imageNearDups: banded Hamming join equals exact threshold pairs") {
    val rows = (0L until 24L).map { id =>
      // band pattern cycles through 4 shapes; equal shapes -> hamming 0,
      // adjacent shapes differ in exactly one band bit -> hamming 16
      val bright = (id % 4).toInt
      val bands = (0 until 4).map(j => if (j == bright) 0xFFFFFF else 0)
      MediaRecord(id, "image", ImageCodec.encodePngBands(32, 32, bands),
        MediaMeta(Some(32), Some(32), None, None))
    } :+ MediaRecord(99L, "image", Array[Byte](1, 2, 3), // undecodable: dropped
      MediaMeta(None, None, None, None))
    val got = imageNearDups(rows.toDS(), maxDist = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // exact reference: brute-force over the 4 one-hot hashes
    def hash(id: Long) = 0xFFFFL << (16 * (id % 4).toInt)
    val want = (for {
      a <- 0L until 24L; b <- a + 1 until 24L
      d = java.lang.Long.bitCount(hash(a) ^ hash(b))
      if d <= 16
    } yield (a, b, d)).toSet
    assert(got == want)
    assert(want.exists(_._3 == 0) && !want.exists(_._3 == 16)) // one-hot pairs differ by 32
  }

  test("videoHashes: frame-sum signature, band bits, dropped non-video") {
    def avi(bright: Int) = VideoCodec.encodeAviBands(32, 32,
      // 3 frames, band `bright` bright in every frame
      Seq.fill(3)((0 until 4).map(j => if (j == bright) 0xFFFFFF else 0)),
      scale = 1, rate = 10)
    val rows = Seq(
      MediaRecord(1L, "video", avi(0), MediaMeta(None, None, None, None)),
      MediaRecord(2L, "video", avi(0), MediaMeta(None, None, None, None)),
      MediaRecord(3L, "video", avi(2), MediaMeta(None, None, None, None)),
      MediaRecord(4L, "image", avi(0), MediaMeta(None, None, None, None)),
      MediaRecord(5L, "video", Array[Byte](1, 2), MediaMeta(None, None, None, None))
    ).toDS()
    val sigs = videoHashes(rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.keySet == Set(1L, 2L, 3L)) // image + undecodable dropped
    assert(sigs(1L) == 0xFFFFL && sigs(1L) == sigs(2L))
    assert(sigs(3L) == 0xFFFFL << 32)
    val pairs = videoNearDups(rows, maxDist = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0))) // 1-3 differ by 32 bits
  }

  test("audioHashes: 64-segment envelope signature matches hand-compute") {
    val wavs = spark.range(1, 20).toDF("media_id")
      .withColumn("bytes", wavBytesWithData(lit(8000), col("media_id")))
      .select("media_id", "bytes").collect()
      .map(r => MediaRecord(r.getLong(0), "audio",
        r.getAs[Array[Byte]](1), MediaMeta(None, None, None, None)))
    val sigs = audioHashes(wavs.toSeq.toDS()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L until 20L).foreach { id =>
      val a = (0 until 64).map(j =>
        math.abs(((id * 37 + j * 101) % 4096) - 2048))
      val t = a.sum
      val want = (0 until 64).foldLeft(0L)((h, j) =>
        if (64L * a(j) > t) h | (1L << j) else h)
      assert(sigs(id) == want, s"id $id")
    }
    // undecodable audio rows are dropped, non-audio rows ignored
    val junk = Seq(
      MediaRecord(50L, "audio", Array[Byte](9), MediaMeta(None, None, None, None)),
      MediaRecord(51L, "image", wavs.head.bytes, MediaMeta(None, None, None, None)))
    assert(audioHashes(junk.toDS()).count() == 0)
  }

  test("crossSignatureNearDups: extraKeys confine matches within kind") {
    val idx = Seq((1L, "image", 42L), (2L, "audio", 42L))
      .toDF("id", "kind", "sig")
    val batch = Seq((10L, "audio", 42L), (11L, "image", 40L))
      .toDF("id", "kind", "sig")
    val pairs = Dedup.crossSignatureNearDups(idx, batch, maxDist = 2,
        extraKeys = Seq("kind"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3))).sorted
    // image sig 42 never pairs with audio sig 42; image 42 vs 40 is
    // 1 differing bit (0b101010 vs 0b101000)
    assert(pairs.toSeq == Seq((1L, 11L, "image", 1), (2L, 10L, "audio", 0)))
    // without extraKeys the cross-modal collision WOULD pair — the
    // confinement is doing real work above
    val unconfined = Dedup.crossSignatureNearDups(
      idx.select("id", "sig"), batch.select("id", "sig"), maxDist = 2)
    assert(unconfined.count() == 4)
  }

  test("screenMedia: batch vs persisted index, per-modality, no corpus re-decode") {
    val png = ImageCodec.encodePng(16, 16, 0xFF0000, 0xFF0000)
    val pngNear = ImageCodec.encodePngBands(16, 16,
      Seq(0xFF0000, 0xFF0000, 0xFF0000, 0x00FF00)) // bottom band differs
    val wav = wavBytesColl(5L)
    val corpus = Seq(
      MediaRecord(1L, "image", png, MediaMeta(Some(16), Some(16), None, None)),
      MediaRecord(2L, "audio", wav, MediaMeta(None, None, None, None)),
      MediaRecord(3L, "image", Array[Byte](1, 2, 3), MediaMeta(None, None, None, None))
    ).toDS()
    val dir = tempDir("sigidx")
    saveSignatureIndex(mediaHashes(corpus), dir)
    // the persisted index is signatures only — 2 decodable rows
    val idx = loadSignatureIndex(spark, dir)
    assert(idx.count() == 2)
    val batch = Seq(
      MediaRecord(10L, "image", pngNear, MediaMeta(Some(16), Some(16), None, None)),
      MediaRecord(11L, "audio", wav, MediaMeta(None, None, None, None)),
      MediaRecord(12L, "image", wav, MediaMeta(None, None, None, None))
    ).toDS()
    val out = screenMedia(batch, idx, maxDist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3))).sorted
    // 1-10: same-ish image (<=16 bits apart); 2-11: identical audio;
    // 12 is a WAV mislabeled "image" -> ImageIO can't decode -> dropped
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 10L, "image"), (2L, 11L, "audio")))
    assert(out.find(_._1 == 2L).get._4 == 0)
  }

  private def wavBytesColl(id: Long): Array[Byte] =
    spark.range(id, id + 1).toDF("media_id")
      .select(wavBytesWithData(lit(8000), col("media_id")))
      .collect()(0).getAs[Array[Byte]](0)

  test("videoTemporalFingerprints: body landmarks survive a leader; sum hash does not") {
    def rgb(r: Int, g: Int, b: Int) = (r << 16) | (g << 8) | b
    // 8 body frames with WRAPPING color formulas (varied band
    // orderings -> varied frame hashes): enough body landmarks that a
    // 2-frame leader's extra landmarks cannot drown the overlap
    val frames = (0 until 8).map(i => (0 until 4).map(j =>
      rgb((185 + 91 * i + 37 * j) % 256, (39 + 129 * i + 119 * j) % 256,
        (159 + 67 * i + 93 * j) % 256)))
    def avi(fs: Seq[Seq[Int]]) =
      VideoCodec.encodeAviBands(32, 32, fs, scale = 1, rate = 25)
    val none = MediaMeta(Some(32), Some(32), None, None)
    // non-uniform title-card leader with luminance DECREASING steeply
    // across bands — the body's band sums increase with j, so the
    // leader reverses which bands sit above the mean and rewrites the
    // sum hash (a uniform or order-preserving leader would leave it
    // invariant: aHash ignores constant shifts)
    val leader = Seq.fill(2)((0 until 4).map(j =>
      rgb(250 - j * 80, 250 - j * 80, 250 - j * 80)))
    val media = Seq(
      MediaRecord(1L, "video", avi(frames), none),
      MediaRecord(2L, "video", avi(leader ++ frames), none),
      MediaRecord(3L, "audio", avi(frames), none) // wrong kind -> dropped
    ).toDS()
    val fps = videoTemporalFingerprints(media).collect().toMap
    assert(fps.keySet == Set(1L, 2L))
    // every original landmark survives the leader
    assert(fps(1L).toSet.subsetOf(fps(2L).toSet))
    val pairs = videoTemporalNearDups(media, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("overlap")))
    assert(pairs.length == 1 && pairs(0)._1 == 1L && pairs(0)._2 == 2L)
    assert(pairs(0)._3 >= 0.5)
    // the whole-video SUM signature is REWRITTEN by a leader that
    // out-slopes the body: body bands rise 8 frames x lum(10j*1000/f),
    // the leader falls 2 x 80j-grayscale — net band order REVERSES,
    // so above-mean bands flip from {2,3} to {0,1}. The temporal
    // landmarks of the same body survive any leader (proven above);
    // this is the gap they close.
    val body2 = (0 until 8).map(_ => (0 until 4).map(j =>
      rgb(10 * j, 10 * j, 10 * j)))
    val media2 = Seq(
      MediaRecord(11L, "video", avi(body2), none),
      MediaRecord(12L, "video", avi(leader ++ body2), none)).toDS()
    val sums2 = videoHashes(media2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sums2(11L) ^ sums2(12L)) > 0)
    val fps2 = videoTemporalFingerprints(media2).collect().toMap
    assert(fps2(11L).toSet.subsetOf(fps2(12L).toSet))
  }

  test("raw DataFrame round-trips through the typed media schema") {
    val df = spark.createDataFrame(media.toDF().rdd, mediaSchema)
    val typed = asRecords(df).collect().sortBy(_.media_id)
    assert(typed.length == 3)
    assert(typed(1).meta.sample_rate == Some(44100))
  }

  // ---- real header parsing (hand-built public-format fixtures) ----

  private def hexBytes(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  private def parse(b: Array[Byte]) = {
    val rows = Seq(Tuple1(b)).toDF("bytes")
      .select(mediaMeta(col("bytes")).as("m")).select("m.*").collect()
    Option(rows.head.getAs[String]("format")).map(f =>
      (f, Option(rows.head.get(1)), Option(rows.head.get(2)),
        Option(rows.head.get(3)), Option(rows.head.get(4)),
        Option(rows.head.get(5))))
  }

  test("PNG IHDR: width/height big-endian, channels from color type") {
    // 800x600, bit depth 8, color type 2 (truecolor -> 3 channels)
    val png = hexBytes(
      "89504E470D0A1A0A 0000000D 49484452 00000320 00000258 08 02 000000 AABBCCDD")
    assert(parse(png) ==
      Some(("png", Some(800), Some(600), None, Some(3), Some(8))))
    // truncated mid-IHDR -> null, not an exception
    assert(parse(png.take(20)).isEmpty)
    // wrong first chunk -> null
    assert(parse(hexBytes(
      "89504E470D0A1A0A 0000000D 58585858 00000320 00000258 08 02 000000 AABBCCDD")).isEmpty)
  }

  test("JPEG: segment scan skips APP0/DQT to the SOF marker") {
    // SOI, APP0 (JFIF, 16 bytes), SOF0 with 1024x768, 3 components
    val jpeg = hexBytes(
      "FFD8 FFE0 0010 4A46494600 0101 00 0048 0048 00 00" +
        " FFC0 0011 08 0300 0400 03 011100 021101 031101 FFD9")
    assert(parse(jpeg) ==
      Some(("jpeg", Some(1024), Some(768), None, Some(3), Some(8))))
    // progressive SOF2 is a frame marker too
    val sof2 = hexBytes("FFD8 FFC2 000B 08 0010 0020 01 011100 FFD9")
    assert(parse(sof2) ==
      Some(("jpeg", Some(32), Some(16), None, Some(1), Some(8))))
    // DHT (C4) is NOT a frame marker; EOI before any SOF -> null
    assert(parse(hexBytes("FFD8 FFC4 0004 0000 FFD9")).isEmpty)
  }

  test("WAV: chunk scan finds fmt after a leading JUNK chunk") {
    val wav = hexBytes(
      "52494646 44000000 57415645" +      // RIFF size WAVE
        " 4A554E4B 04000000 00000000" +   // JUNK chunk (4 bytes)
        " 666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000")
    assert(parse(wav) ==
      Some(("wav", None, None, Some(44100), Some(2), Some(16))))
  }

  test("GIF logical screen descriptor: little-endian u16") {
    assert(parse(hexBytes("474946383961 4001 F000 00 00 00")) ==
      Some(("gif", Some(320), Some(240), None, None, None)))
  }

  test("JPEG: 0xFF fill bytes before a marker are skipped (spec-legal)") {
    // SOI, then padding FFs before SOF0 16x32
    val jpeg = hexBytes("FFD8 FFFFFF C0 000B 08 0010 0020 01 011100 FFD9")
    assert(parse(jpeg) ==
      Some(("jpeg", Some(32), Some(16), None, Some(1), Some(8))))
  }

  private def parseDur(b: Array[Byte]) = {
    val rows = Seq(Tuple1(b)).toDF("bytes")
      .select(mediaMeta(col("bytes")).as("m"))
      .select("m.format", "m.width", "m.height", "m.duration_ms").collect()
    (Option(rows.head.get(0)), Option(rows.head.get(1)),
      Option(rows.head.get(2)), Option(rows.head.get(3)))
  }

  test("MP4: mvhd timescale/duration + tkhd 16.16 dims (v0 boxes)") {
    val mp4 = Seq(Tuple1(1)).toDF("x")
      .select(mp4Bytes(lit(1920), lit(1080), lit(600), lit(9000)))
      .collect().head.getAs[Array[Byte]](0)
    // duration 9000 units at timescale 600 = 15000 ms
    assert(parseDur(mp4) ==
      ((Some("mp4"), Some(1920), Some(1080), Some(15000))))
    // truncated mid-moov -> null, not an exception
    assert(parseDur(mp4.take(40))._1.isEmpty)
    // ftyp alone (no moov) -> null
    assert(parseDur(mp4.take(16))._1.isEmpty)
  }

  test("MP4: 64-bit largesize and v1 mvhd are handled") {
    // hand-built: ftyp, then moov with only a v1 mvhd (120 bytes:
    // 8 hdr + 4 ver + 8 ctime + 8 mtime + 4 timescale + 8 duration +
    // 80 tail)
    val mvhdV1 = "00000078 6D766864 01000000" +
      "0000000000000000 0000000000000000" + // ctime, mtime (u64)
      "000003E8" +                          // timescale 1000
      "0000000000002710" +                  // duration 10000 -> 10000 ms
      "00010000 0100" + "00" * 10 +
      "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 +
      "40000000" + "00" * 24 + "00000002"
    val moov = "00000080 6D6F6F76" + mvhdV1
    val mp4 = hexBytes("00000010 66747970 69736F6D 00000000" + moov)
    val p = parseDur(mp4)
    assert(p._1 == Some("mp4") && p._4 == Some(10000))
    assert(p._2.isEmpty && p._3.isEmpty) // no trak -> no dims
  }

  test("real WAV PCM decode: segment sums, crossings, exact samples") {
    // hand-built mono 16-bit WAV: 8 samples [100,-100,100,-100,0,50,50,-50]
    def le16(v: Int) = {
      val w = v & 0xFFFF
      f"${w & 0xFF}%02X${(w >> 8) & 0xFF}%02X"
    }
    val samples = Seq(100, -100, 100, -100, 0, 50, 50, -50)
    val wav = hexBytes(
      "52494646" + "34000000" + "57415645" +
        "666D7420" + "10000000" + "0100" + "0100" + "44AC0000" +
        "88580100" + "0200" + "1000" +
        "64617461" + "10000000" + samples.map(le16).mkString)
    val f = AudioCodec.decodePcm(wav)
    assert(f != null)
    assert(f.sampleRate == 44100 && f.channels == 1 && f.nSamples == 8)
    assert(f.segAbs.toSeq == Seq(100L, 100L, 100L, 100L, 0L, 50L, 50L, 50L))
    assert(f.absTotal == 550L)
    // crossings: +/-, -/+, +/-, (zero breaks the run), +/- at the end
    assert(f.zeroCrossings == 4L)
    // fmt-only container (no data chunk) and garbage decode to null
    assert(AudioCodec.decodePcm(hexBytes(
      "52494646 1C000000 57415645 666D7420 10000000 0100 0100" +
        " 44AC0000 88580100 0200 1000")) == null)
    assert(AudioCodec.decodePcm(Array[Byte](1, 2, 3, 4)) == null)
  }

  test("wavBytesWithData round-trips through the JDK audio decode") {
    val rows = spark.range(1, 30).toDF("media_id")
      .withColumn("bytes", wavBytesWithData(
        (col("media_id") % 8 * 4000 + 8000).cast("int"), col("media_id")))
      .select("media_id", "bytes").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val f = AudioCodec.decodePcm(r.getAs[Array[Byte]](1))
      assert(f != null && f.nSamples == 64 && f.channels == 1)
      assert(f.sampleRate == (id % 8 * 4000 + 8000).toInt)
      val expected = (0 until 64).map(j => ((id * 37 + j * 101) % 4096) - 2048)
      assert(f.absTotal == expected.map(math.abs).sum)
      assert(f.segAbs(0) == expected.take(8).map(math.abs).sum)
    }
  }

  test("garbage and empty payloads parse to null") {
    assert(parse(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13)).isEmpty)
    assert(parse(Array.emptyByteArray).isEmpty)
  }

  test("fixture builders emit honest containers the parser round-trips") {
    val df = spark.range(1, 50).toDF("id")
      .select(col("id").cast("int").as("id"))
    val w = col("id") * 7 % 2000 + 1
    val h = col("id") * 13 % 1500 + 1
    val png = df.select(col("id"), mediaMeta(pngBytes(w, h)).as("m"))
      .select("id", "m.format", "m.width", "m.height").collect()
    assert(png.forall(r => r.getString(1) == "png" &&
      r.getInt(2) == r.getInt(0) * 7 % 2000 + 1 &&
      r.getInt(3) == r.getInt(0) * 13 % 1500 + 1))
    val jpg = df.select(col("id"), mediaMeta(jpegBytes(w, h)).as("m"))
      .select("id", "m.format", "m.width", "m.height").collect()
    assert(jpg.forall(r => r.getString(1) == "jpeg" &&
      r.getInt(2) == r.getInt(0) * 7 % 2000 + 1 &&
      r.getInt(3) == r.getInt(0) * 13 % 1500 + 1))
    val wav = df.select(col("id"),
        mediaMeta(wavBytes(col("id") * 100 + 8000, lit(2))).as("m"))
      .select("id", "m.format", "m.sample_rate", "m.channels").collect()
    assert(wav.forall(r => r.getString(1) == "wav" &&
      r.getInt(2) == r.getInt(0) * 100 + 8000 && r.getInt(3) == 2))
  }

  test("withParsedMeta overrides caller meta from real headers") {
    val df = Seq((10L, "image")).toDF("media_id", "kind")
      .withColumn("bytes", pngBytes(lit(123), lit(45)))
      .withColumn("meta", struct(lit(1).as("width"), lit(1).as("height"),
        lit(null).cast("int").as("sample_rate"),
        lit(777).as("duration_ms")))
    val out = withParsedMeta(df)
      .select("meta.width", "meta.height", "meta.duration_ms").collect()(0)
    assert(out.getInt(0) == 123 && out.getInt(1) == 45 &&
      out.getInt(2) == 777) // duration preserved, dims from bytes
  }
}
