package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Perceptual/near-dup dedup over the multimodal (binary-column)
  * fixtures — split out of [[MediaQueries]] (round-10 module hygiene):
  * aHash/frame-sum/PCM-envelope signatures under pigeonhole-banded and
  * multi-index-hashing Hamming self-joins, the incremental media
  * screen (static index + streaming gate), spectral landmark audio
  * fingerprints, and temporal frame-pair video fingerprints. Fixture
  * discipline is MediaQueries': real container bytes built in the
  * executors with every varying field a closed-form function of the
  * row id, and a DuckDB oracle that recomputes the expected output
  * from the formulas without touching bytes. */
object MediaDedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Embedding-free IMAGE near-dup under the hash gate: real PNGs
    * (four closed-form horizontal color bands, 32x32 -> each band is
    * exactly 16 grid cells) are decoded and perceptually hashed
    * ([[graft.operators.ImageCodec.aHash]]: bit i = cell i strictly
    * above the grid mean, exact integer comparison), then paired by
    * the pigeonhole-banded Hamming self-join
    * ([[graft.operators.Dedup.signatureNearDups]], maxDist 16 =
    * at most one band-bit differs). Banding gives CERTAIN recall at
    * the distance, so the Spark output equals the exact threshold
    * pair set the DuckDB oracle enumerates from the band-comparison
    * formula (`4*q_j > q_0+..+q_3` sets bits 16j..16j+15) — including
    * every hamming value, bit_count for bit_count. Pixels never
    * shuffle; only (id, sig, block) rows do. */
  def imagePhashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{ImageCodec, Multimodal}
    import graft.operators.Multimodal.{MediaMeta, MediaRecord}
    val media = docs(s, dir).filter(col("doc_id") < 150)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        def rgb(r: Long, g: Long, b: Long): Int =
          (((r % 256) << 16) | ((g % 256) << 8) | (b % 256)).toInt
        val bands = (0 until 4).map(j =>
          rgb(id * 37 + j * 11, id * 59 + j * 13, id * 83 + j * 17))
        MediaRecord(id, "image", ImageCodec.encodePngBands(32, 32, bands),
          MediaMeta(Some(32), Some(32), None, None))
      }
    Multimodal.imageNearDups(media, maxDist = 16)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // Band j luminance q_j = 299*((id*37+j*11)%256) + 587*((id*59+j*13)%256)
  // + 114*((id*83+j*17)%256); aHash bits 16j..16j+15 set iff 4*q_j > sum.
  // Mask constants are the signed-64 values of 0xFFFF << 16j (j=3 wraps
  // negative: -(2^48)). Pigeonhole banding has certain recall, so the
  // engine output IS the exact threshold set.
  val imagePhashDedupSql: String =
    """WITH q AS (SELECT doc_id AS media_id, j,
      |    299*((doc_id*37 + j*11)%256) + 587*((doc_id*59 + j*13)%256)
      |      + 114*((doc_id*83 + j*17)%256) AS ql
      |  FROM documents, range(4) r(j) WHERE doc_id < 150),
      |qs AS (SELECT media_id, j, ql,
      |    SUM(ql) OVER (PARTITION BY media_id) AS s FROM q),
      |h AS (SELECT media_id,
      |    CAST(SUM(CASE WHEN 4*ql > s
      |         THEN CASE j WHEN 0 THEN 65535
      |                     WHEN 1 THEN 4294901760
      |                     WHEN 2 THEN 281470681743360
      |                     ELSE -281474976710656 END
      |         ELSE 0 END) AS BIGINT) AS sig
      |  FROM qs GROUP BY media_id)
      |SELECT a.media_id AS id_a, b.media_id AS id_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |FROM h a JOIN h b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 16
      |ORDER BY id_a, id_b""".stripMargin

  /** VIDEO near-dup under the hash gate — the video face of
    * q_image_phash_dedup: honest AVIs (4-band DIB frames, 32x32,
    * 2-4 frames, every band luminance closed-form in (id, frame,
    * band)) are fully decoded, per-cell luminance SUMS over frames
    * form the whole-video signature ([[graft.operators.Multimodal
    * .videoHashes]] — integer-exact Longs; the strict-above-mean
    * comparison is scale-free), and pairs come from the same
    * certain-recall banded Hamming join. The oracle replays the
    * band-sum comparison (`4*sum_j > total`) per video and
    * enumerates the exact threshold pair set. Frames never shuffle;
    * only (id, sig, block) rows do. */
  def videoPhashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{Multimodal, VideoCodec}
    import graft.operators.Multimodal.{MediaMeta, MediaRecord}
    val media = docs(s, dir).filter(col("doc_id") < 150)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        def rgb(r: Long, g: Long, b: Long): Int =
          (((r % 256) << 16) | ((g % 256) << 8) | (b % 256)).toInt
        val n = (id % 3 + 2).toInt
        val frames = (0 until n).map(i => (0 until 4).map(j =>
          rgb(id * 37 + i * 11 + j * 7, id * 59 + i * 13 + j * 19,
            id * 83 + i * 17 + j * 23)))
        MediaRecord(id, "video",
          VideoCodec.encodeAviBands(32, 32, frames, scale = 1, rate = 25),
          MediaMeta(Some(32), Some(32), None, None))
      }
    Multimodal.videoNearDups(media, maxDist = 16)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // Band (id, frame i, band j) luminance from the color formula; the
  // signature sums over frames per band (16 cells each), bits set iff
  // 4*sum_j > total. Same signed-64 mask constants as the image query.
  val videoPhashDedupSql: String =
    """WITH q AS (SELECT doc_id AS media_id, i, j,
      |    299*((doc_id*37 + i*11 + j*7)%256)
      |      + 587*((doc_id*59 + i*13 + j*19)%256)
      |      + 114*((doc_id*83 + i*17 + j*23)%256) AS ql
      |  FROM documents, range(4) fi(i), range(4) bj(j)
      |  WHERE doc_id < 150 AND i < doc_id % 3 + 2),
      |b AS (SELECT media_id, j, SUM(ql) AS qs FROM q GROUP BY 1, 2),
      |bs AS (SELECT media_id, j, qs,
      |    SUM(qs) OVER (PARTITION BY media_id) AS s FROM b),
      |h AS (SELECT media_id,
      |    CAST(SUM(CASE WHEN 4*qs > s
      |         THEN CASE j WHEN 0 THEN 65535
      |                     WHEN 1 THEN 4294901760
      |                     WHEN 2 THEN 281470681743360
      |                     ELSE -281474976710656 END
      |         ELSE 0 END) AS BIGINT) AS sig
      |  FROM bs GROUP BY media_id)
      |SELECT a.media_id AS id_a, b.media_id AS id_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |FROM h a JOIN h b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 16
      |ORDER BY id_a, id_b""".stripMargin

  /** AUDIO near-dup under the hash gate — completing the modality set
    * (image/video/audio over ONE banded signature join). Honest WAVs
    * (mono 16-bit PCM, 64 closed-form samples) decode through the JDK
    * audio stack to 64 per-segment absolute sums (one sample each
    * here), hashed strict-above-mean ([[graft.operators.ImageCodec
    * .aHashSums]]); pairs from the certain-recall banded Hamming join.
    * The oracle replays every bit (`64*|s_j| > sum|s|`, bit j = 1<<j,
    * bit 63 as the signed min-long literal — DuckDB's `<<` raises on
    * 1<<63) and enumerates the exact threshold pair set. */
  def audioPhashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaMeta, MediaRecord}
    val rate = (col("media_id") % 8 * 4000 + 8000).cast("int")
    val media = docs(s, dir).filter(col("doc_id") < 150)
      .select(col("doc_id").as("media_id"))
      .withColumn("bytes", Multimodal.wavBytesWithData(rate, col("media_id")))
      .select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        MediaRecord(id, "audio", b, MediaMeta(None, None, None, None))
      }
    Multimodal.audioNearDups(media, maxDist = 8)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // Sample mirror: s_j = ((id*37 + j*101) % 4096) - 2048; with 64
  // samples each segment is one sample, so cell j = |s_j| exactly.
  val audioPhashDedupSql: String =
    """WITH s AS (SELECT doc_id AS media_id, j,
      |    ABS(((doc_id*37 + j*101) % 4096) - 2048) AS a
      |  FROM documents, range(64) r(j) WHERE doc_id < 150),
      |ss AS (SELECT media_id, j, a,
      |    SUM(a) OVER (PARTITION BY media_id) AS t FROM s),
      |h AS (SELECT media_id,
      |    CAST(SUM(CASE WHEN 64*a > t
      |         THEN CASE WHEN j = 63
      |              THEN CAST(-9223372036854775808 AS BIGINT)
      |              ELSE CAST(1 AS BIGINT) << j END
      |         ELSE 0 END) AS BIGINT) AS sig
      |  FROM ss GROUP BY media_id)
      |SELECT a.media_id AS id_a, b.media_id AS id_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |FROM h a JOIN h b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 8
      |ORDER BY id_a, id_b""".stripMargin

  /** Shared fixture recipe for the incremental-screen gate: even ids
    * are 4-band 32x32 PNGs (the q_image_phash_dedup color formula),
    * odd ids honest 64-sample WAVs (the q_audio_phash_dedup sample
    * formula) — a genuinely MIXED corpus, so the kind-confined join is
    * exercised for real. */
  private def screenFixtures(s: SparkSession, base: DataFrame)
      : org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.operators.{ImageCodec, Multimodal}
    import graft.operators.Multimodal.{MediaMeta, MediaRecord}
    val rate = (col("doc_id") % 8 * 4000 + 8000).cast("int")
    base.select(col("doc_id"),
        when(col("doc_id") % 2 === 1,
          Multimodal.wavBytesWithData(rate, col("doc_id"))).as("wav"))
      .as[(Long, Array[Byte])]
      .map { case (id, wav) =>
        if (wav != null)
          MediaRecord(id, "audio", wav, MediaMeta(None, None, None, None))
        else {
          def rgb(r: Long, g: Long, b: Long): Int =
            (((r % 256) << 16) | ((g % 256) << 8) | (b % 256)).toInt
          val bands = (0 until 4).map(j =>
            rgb(id * 37 + j * 11, id * 59 + j * 13, id * 83 + j * 17))
          MediaRecord(id, "image", ImageCodec.encodePngBands(32, 32, bands),
            MediaMeta(Some(32), Some(32), None, None))
        }
      }
  }

  // Index staging memo — the signature index is a pay-once-at-write
  // artifact (decode the corpus once, persist 17 bytes/row); a repeat
  // call in the same (application, sfDir) must time the SCREEN join,
  // not re-decode and re-write the corpus. Keyed like the bucketed
  // staging memo (CoreQueries.bucketStaged).
  private val sigStaged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** INCREMENTAL near-dup screening under the hash gate — the
    * 100 TB media-dedup shape: a corpus (ids < 100, mixed real
    * PNGs + WAVs) is decoded ONCE into a persisted (id, kind, sig)
    * signature index ([[graft.operators.Multimodal
    * .saveSignatureIndex]], memoized per application like the
    * bucketed-join staging); an incoming batch (ids 100-199) decodes
    * itself, loads the index, and joins it through the kind-confined
    * certain-recall banded Hamming join ([[graft.operators.Multimodal
    * .screenMedia]]). No corpus re-decode, no self-join — batch
    * growth costs O(batch), not O(corpus). The oracle replays BOTH
    * modalities' signatures closed-form (image band masks + audio
    * per-bit replay) and enumerates the exact cross pair set; parity
    * keeps each pair in exactly one modality. */
  def mediaScreen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val corpus = screenFixtures(s, docs(s, dir).filter(col("doc_id") < 100))
    val batch = screenFixtures(s,
      docs(s, dir).filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val tag = graft.WorkDir.tag(s, dir)
    val idxDir = graft.WorkDir.path("sigidx", tag)
    if (sigStaged.add(tag))
      Multimodal.saveSignatureIndex(Multimodal.mediaHashes(corpus), idxDir)
    Multimodal.screenMedia(batch, Multimodal.loadSignatureIndex(s, idxDir),
        maxDist = 16)
      .select(col("id_a"), col("id_b"), col("kind"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // Both signature families replayed closed-form (image: band masks,
  // audio: per-bit with the min-long literal for bit 63), UNION ALL'd
  // with their kind, then the exact cross enumeration corpus x batch
  // on kind. SUMs cast back to BIGINT before xor (DuckDB SUM(BIGINT)
  // is HUGEINT; 128-bit xor would sign-extend). (id_a, id_b) is unique
  // — parity fixes each pair's modality.
  val mediaScreenSql: String = mediaScreenSqlAt(16)

  // Closed-form (media_id, kind, sig) CTE chain `h` shared by every
  // screen oracle (ids < 200; audio = odd ids, image = even ids).
  // A def, not a val: mediaScreenSql above initializes first.
  private def mediaSigCtes: String =
    """sa AS (SELECT doc_id AS media_id, j,
      |    ABS(((doc_id*37 + j*101) % 4096) - 2048) AS a
      |  FROM documents, range(64) ra(j)
      |  WHERE doc_id < 200 AND doc_id % 2 = 1),
      |ss AS (SELECT media_id, j, a,
      |    SUM(a) OVER (PARTITION BY media_id) AS t FROM sa),
      |ha AS (SELECT media_id, 'audio' AS kind,
      |    CAST(SUM(CASE WHEN 64*a > t
      |         THEN CASE WHEN j = 63
      |              THEN CAST(-9223372036854775808 AS BIGINT)
      |              ELSE CAST(1 AS BIGINT) << j END
      |         ELSE 0 END) AS BIGINT) AS sig
      |  FROM ss GROUP BY media_id),
      |q AS (SELECT doc_id AS media_id, j,
      |    299*((doc_id*37 + j*11)%256) + 587*((doc_id*59 + j*13)%256)
      |      + 114*((doc_id*83 + j*17)%256) AS ql
      |  FROM documents, range(4) rq(j)
      |  WHERE doc_id < 200 AND doc_id % 2 = 0),
      |qs AS (SELECT media_id, j, ql,
      |    SUM(ql) OVER (PARTITION BY media_id) AS s FROM q),
      |hi AS (SELECT media_id, 'image' AS kind,
      |    CAST(SUM(CASE WHEN 4*ql > s
      |         THEN CASE j WHEN 0 THEN 65535
      |                     WHEN 1 THEN 4294901760
      |                     WHEN 2 THEN 281470681743360
      |                     ELSE -281474976710656 END
      |         ELSE 0 END) AS BIGINT) AS sig
      |  FROM qs GROUP BY media_id),
      |h AS (SELECT * FROM ha UNION ALL SELECT * FROM hi)""".stripMargin

  private def mediaScreenSqlAt(dist: Int): String =
    s"""WITH $mediaSigCtes
       |SELECT a.media_id AS id_a, b.media_id AS id_b, a.kind AS kind,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM h a JOIN h b ON a.kind = b.kind
       |WHERE a.media_id < 100 AND b.media_id >= 100
       |  AND bit_count(xor(a.sig, b.sig)) <= $dist
       |ORDER BY id_a, id_b""".stripMargin

  /** The SAME screen through the multi-index-hashing candidate path
    * ([[graft.operators.Multimodal.screenMediaMih]]): 16-bit substring
    * keys + 137-mask batch-side probe expansion instead of ~7-bit
    * banded blocks, at the perceptual-hash distance 8 (the realistic
    * screening threshold — maxDist 16 above stress-tests recall on the
    * 4-band fixtures). Both paths have CERTAIN recall, so this query's
    * oracle is the same closed-form enumeration at distance 8 — the
    * gate certifies path-equivalence end-to-end, not just the pair
    * count. */
  def mediaScreenMih(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val corpus = screenFixtures(s, docs(s, dir).filter(col("doc_id") < 100))
    val batch = screenFixtures(s,
      docs(s, dir).filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val tag = graft.WorkDir.tag(s, dir)
    val idxDir = graft.WorkDir.path("sigidx", tag)
    if (sigStaged.add(tag))
      Multimodal.saveSignatureIndex(Multimodal.mediaHashes(corpus), idxDir)
    Multimodal.screenMediaMih(batch, Multimodal.loadSignatureIndex(s, idxDir),
        maxDist = 8)
      .select(col("id_a"), col("id_b"), col("kind"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  val mediaScreenMihSql: String = mediaScreenSqlAt(8)

  /** The streaming face of the media screen, with a GROWING index
    * ([[graft.streaming.StreamingIngest.screenMediaIngest]]): the
    * base corpus (ids < 100) persists as `batch=base`; two files
    * (ids 100-149, then 150-199 AFTER a checkpointed restart) replay
    * through the REAL file-source stream — each micro-batch screens
    * against base + prior admissions via the kind-confined MIH join
    * and admits its clean signatures as an idempotent `batch=b<id>`
    * partition. The surviving `clean/` set must equal the SEQUENTIAL
    * semantics the oracle recomputes closed-form: f1 vs base, then
    * f2 vs base UNION clean(f1) — so the gate certifies exactly-once
    * progress AND index growth, not just one join. */
  def mediaScreenStream(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Replay.stageFile
    import graft.operators.Multimodal
    val all = screenFixtures(s, docs(s, dir).filter(col("doc_id") < 200))
    val base = graft.WorkDir.fresh(s, "mediastream")
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val idx = s"$base/index"
    Multimodal.saveSignatureIndex(
      Multimodal.mediaHashes(all.filter(col("media_id") < 100)),
      s"$idx/batch=base")
    def screen(): Unit =
      graft.streaming.StreamingIngest.screenMediaIngest(
        s.readStream.schema(Multimodal.mediaSchema).parquet(in),
        idx, maxDist = 8, ckpt, out).awaitTermination()
    stageFile(all.filter(col("media_id") >= 100 && col("media_id") < 150)
      .toDF(), in, "f1.parquet")
    screen()
    stageFile(all.filter(col("media_id") >= 150).toDF(), in, "f2.parquet")
    screen() // restart: only the new file may be (re)processed
    // certify the full ROUTING, not just survivors: every batch item
    // lands in exactly one of clean/ and flagged/
    s.read.parquet(s"$out/clean").withColumn("status", lit("clean"))
      .unionByName(
        s.read.parquet(s"$out/flagged").withColumn("status", lit("flagged")))
      .select(col("id"), col("kind"), col("status"))
      .orderBy("id")
  }

  val mediaScreenStreamSql: String =
    s"""WITH $mediaSigCtes,
       |base AS (SELECT * FROM h WHERE media_id < 100),
       |f1 AS (SELECT * FROM h WHERE media_id >= 100 AND media_id < 150),
       |f2 AS (SELECT * FROM h WHERE media_id >= 150),
       |hit1 AS (SELECT DISTINCT b.media_id FROM base a JOIN f1 b
       |  ON a.kind = b.kind AND bit_count(xor(a.sig, b.sig)) <= 8),
       |clean1 AS (SELECT * FROM f1
       |  WHERE media_id NOT IN (SELECT media_id FROM hit1)),
       |idx2 AS (SELECT * FROM base UNION ALL SELECT * FROM clean1),
       |hit2 AS (SELECT DISTINCT b.media_id FROM idx2 a JOIN f2 b
       |  ON a.kind = b.kind AND bit_count(xor(a.sig, b.sig)) <= 8),
       |clean2 AS (SELECT * FROM f2
       |  WHERE media_id NOT IN (SELECT media_id FROM hit2))
       |SELECT media_id AS id, kind,
       |  CASE WHEN media_id IN (SELECT media_id FROM hit1)
       |       THEN 'flagged' ELSE 'clean' END AS status FROM f1
       |UNION ALL
       |SELECT media_id AS id, kind,
       |  CASE WHEN media_id IN (SELECT media_id FROM hit2)
       |       THEN 'flagged' ELSE 'clean' END AS status FROM f2
       |ORDER BY id""".stripMargin

  /** SHIFT-ROBUST audio dedup under the derived-boolean gate (the
    * recall-gate pattern): each group g < 40 plants an original clip
    * (two bin-aligned sines, bins closed-form in g), a copy shifted
    * by two whole windows of silence, and a spectrally distinct clip.
    * Spectral landmark fingerprints ([[graft.operators.SpectralCodec]],
    * Wang ISMIR 2003) must pair original-with-shifted at overlap 1.0
    * — bin-aligned sines are window-periodic, so the invariance is
    * EXACT, not a margin — while the envelope hash provably fails
    * this shift (SpectralCodecSpec pins both) and the distinct clip
    * stays out at the 0.5 threshold (disjoint bin ranges; shared-bin
    * cross-group hashes cap measured jaccard well under 0.2). The
    * oracle recomputes the group universe and expected booleans
    * closed-form. */
  def audioSpectralDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AudioCodec, Multimodal, SpectralCodec}
    import graft.operators.Multimodal.{MediaMeta, MediaRecord}
    val media = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id")).as[Long]
      .flatMap { g =>
        val none = MediaMeta(None, None, None, None)
        val w = SpectralCodec.WindowSize
        def sine(bins: Seq[Long], silence: Int): Array[Byte] = {
          val n = 8 * w
          val pcm = new Array[Short](silence * w + n)
          var i = 0
          while (i < n) {
            val t = i.toDouble / w
            val v = bins.map(b =>
              8000.0 * StrictMath.sin(2 * StrictMath.PI * b * t)).sum
            pcm(silence * w + i) =
              math.max(-32768L, math.min(32767L, StrictMath.round(v))).toShort
            i += 1
          }
          AudioCodec.encodeWav(8000, pcm)
        }
        // bin RANGES are pairwise disjoint: originals use [5,33]+[45,75],
        // distinct clips [80,102]+[108,124] — no true-bin collisions
        val b1 = g % 29 + 5; val b2 = g % 31 + 45
        val c1 = g % 23 + 80; val c2 = g % 17 + 108
        Seq(
          MediaRecord(g * 10, "audio", sine(Seq(b1, b2), 0), none),
          MediaRecord(g * 10 + 1, "audio", sine(Seq(b1, b2), 2), none),
          MediaRecord(g * 10 + 2, "audio", sine(Seq(c1, c2), 0), none))
      }
    val pairs = Multimodal.audioFingerprintNearDups(media, threshold = 0.5)
      .withColumn("g", (col("id_a") / 10).cast("long"))
    val agg = pairs.groupBy("g").agg(
      max(col("id_a") % 10 === 0 && col("id_b") % 10 === 1 &&
        col("overlap") >= 0.9).as("shifted_match"),
      max(col("id_a") % 10 === 2 || col("id_b") % 10 === 2).as("dirty"))
    docs(s, dir).filter(col("doc_id") < 40).select(col("doc_id").as("g"))
      .join(agg, Seq("g"), "left")
      .select(col("g"),
        coalesce(col("shifted_match"), lit(false)).as("shifted_match"),
        (!coalesce(col("dirty"), lit(false))).as("distinct_clean"))
      .orderBy("g")
  }

  val audioSpectralDedupSql: String =
    """SELECT doc_id AS g, true AS shifted_match, true AS distinct_clean
      |FROM documents WHERE doc_id < 40 ORDER BY g""".stripMargin

  /** SHIFT-ROBUST video near-dup under the FULL hash gate: per group
    * g < 40, an original AVI (4 band-frames, colors closed-form in
    * (g, frame, band)), the same clip behind a two-frame non-uniform
    * "title card" leader, and a spectrally different clip. Frames
    * decode for real ([[graft.operators.VideoCodec]]), per-frame
    * aHashes are closed-form (band comparisons), and the
    * temporal landmark sets ([[graft.operators.Multimodal
    * .videoTemporalFingerprints]]) with their exact pairwise Jaccards
    * are therefore ENUMERABLE: the oracle rebuilds every clip's
    * landmark set from the color formulas and lists the exact pair
    * set at threshold 0.5 — including incidental cross-group pairs
    * (the 4-band fixture hash space is small, so distinct groups DO
    * collide; both sides compute the same deterministic function).
    * Certifies what the whole-video SUM signature cannot: a prepended
    * leader leaves the body's landmarks intact. */
  def videoTemporalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{Multimodal, VideoCodec}
    import graft.operators.Multimodal.{MediaMeta, MediaRecord}
    val media = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id")).as[Long]
      .flatMap { g =>
        val none = MediaMeta(Some(32), Some(32), None, None)
        def rgb(r: Long, gg: Long, b: Long): Int =
          (((r % 256) << 16) | ((gg % 256) << 8) | (b % 256)).toInt
        val orig = (0 until 8).map(i => (0 until 4).map(j =>
          rgb(g * 37 + i * 91 + j * 37, g * 59 + i * 129 + j * 119,
            g * 83 + i * 67 + j * 93)))
        val other = (0 until 8).map(i => (0 until 4).map(j =>
          rgb(g * 41 + i * 113 + j * 53, g * 61 + i * 141 + j * 87,
            g * 89 + i * 79 + j * 101)))
        // a NON-uniform "title card" leader: the body's temporal
        // landmarks survive it untouched (the property this gate
        // certifies); MultimodalSpec separately proves a band-order-
        // reversing leader rewrites the whole-video SUM signature,
        // the gap this operator closes
        val leader = Seq.fill(2)((0 until 4).map(j =>
          rgb(123 + j * 5, 45 + j * 3, 200 + j * 7)))
        def avi(frames: Seq[Seq[Int]]) =
          VideoCodec.encodeAviBands(32, 32, frames, scale = 1, rate = 25)
        Seq(
          MediaRecord(g * 10, "video", avi(orig), none),
          MediaRecord(g * 10 + 1, "video", avi(leader ++ orig), none),
          MediaRecord(g * 10 + 2, "video", avi(other), none))
      }
    Multimodal.videoTemporalNearDups(media, threshold = 0.5, maxDt = 4)
      .orderBy("id_a", "id_b")
  }

  // Frame hash h(g, clip, i) from the band formulas (k=0 original
  // colors, k=1 the distinct clip's, k=2 the g-independent title-card
  // leader); landmarks = DISTINCT (ha, hb, dt<=4) per clip; exact
  // count-based Jaccard over the landmark sets. Same signed-64 band
  // masks as the image oracle.
  val videoTemporalDedupSql: String =
    """WITH src AS (
      |  SELECT doc_id AS g, 0 AS clip, i, i AS s, 0 AS k
      |    FROM documents, range(8) r(i) WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id, 1, i, i - 2, CASE WHEN i < 2 THEN 2 ELSE 0 END
      |    FROM documents, range(10) r(i) WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id, 2, i, i, 1
      |    FROM documents, range(8) r(i) WHERE doc_id < 40),
      |q AS (SELECT g, clip, i, j,
      |    CASE k
      |      WHEN 0 THEN 299*((g*37 + s*91 + j*37)%256)
      |        + 587*((g*59 + s*129 + j*119)%256) + 114*((g*83 + s*67 + j*93)%256)
      |      WHEN 1 THEN 299*((g*41 + s*113 + j*53)%256)
      |        + 587*((g*61 + s*141 + j*87)%256) + 114*((g*89 + s*79 + j*101)%256)
      |      ELSE 299*(123 + j*5) + 587*(45 + j*3) + 114*(200 + j*7)
      |      END AS ql
      |  FROM src, range(4) b(j)),
      |qs AS (SELECT g, clip, i, j, ql,
      |    SUM(ql) OVER (PARTITION BY g, clip, i) AS t FROM q),
      |h AS (SELECT g, clip, i,
      |    CAST(SUM(CASE WHEN 4*ql > t
      |         THEN CASE j WHEN 0 THEN 65535
      |                     WHEN 1 THEN 4294901760
      |                     WHEN 2 THEN 281470681743360
      |                     ELSE -281474976710656 END
      |         ELSE 0 END) AS BIGINT) AS fh
      |  FROM qs GROUP BY 1, 2, 3),
      |lmd AS (SELECT DISTINCT a.g*10 + a.clip AS media_id,
      |    a.fh AS ha, b.fh AS hb, b.i - a.i AS dt
      |  FROM h a JOIN h b ON a.g = b.g AND a.clip = b.clip
      |    AND b.i > a.i AND b.i - a.i <= 4),
      |cnt AS (SELECT media_id, COUNT(*) AS n FROM lmd GROUP BY 1),
      |inter AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
      |    COUNT(*) AS ic
      |  FROM lmd a JOIN lmd b ON a.ha = b.ha AND a.hb = b.hb
      |    AND a.dt = b.dt AND a.media_id < b.media_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(ic AS DOUBLE) / (ca.n + cb.n - ic) AS overlap
      |FROM inter
      |JOIN cnt ca ON ca.media_id = id_a
      |JOIN cnt cb ON cb.media_id = id_b
      |WHERE CAST(ic AS DOUBLE) / (ca.n + cb.n - ic) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  lazy val all: Map[String, ((SparkSession, String) => DataFrame, String)] =
    Map(
      "q_image_phash_dedup" -> (imagePhashDedup _, imagePhashDedupSql),
      "q_video_phash_dedup" -> (videoPhashDedup _, videoPhashDedupSql),
      "q_audio_phash_dedup" -> (audioPhashDedup _, audioPhashDedupSql),
      "q_media_screen" -> (mediaScreen _, mediaScreenSql),
      "q_media_screen_mih" -> (mediaScreenMih _, mediaScreenMihSql),
      "q_media_screen_stream" -> (mediaScreenStream _, mediaScreenStreamSql),
      "q_audio_spectral_dedup" -> (audioSpectralDedup _, audioSpectralDedupSql),
      "q_video_temporal_dedup" -> (videoTemporalDedup _, videoTemporalDedupSql))
}
