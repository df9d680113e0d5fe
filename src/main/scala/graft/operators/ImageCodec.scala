package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Real, pure-JVM image decode for the multimodal operators.
  *
  * `javax.imageio` ships with the JDK and carries PNG/JPEG/GIF/BMP
  * readers with no native dependency — exactly the three formats the
  * byte-level header parser ([[graft.plans.MediaOps]]) recognizes. This
  * replaces the round-6 `StubCodec.decodeFeatures` byte-hash fake with
  * pixel-level feature extraction.
  *
  * Feature definition (fixed so the DuckDB oracle can predict it in
  * closed form on lossless fixtures):
  *
  *  - the image is divided into an 8x8 grid by the pixel->cell map
  *    `cell = (y*8/h, x*8/w)` — every pixel lands in exactly one cell,
  *    and when w and h are multiples of 8 each cell is a uniform
  *    (w/8)x(h/8) block;
  *  - per pixel, integer luminance `lum = 299*r + 587*g + 114*b`
  *    (the Rec.601 weights scaled by 1000 to stay in exact integer
  *    arithmetic — no rounding anywhere on the pixel path);
  *  - the feature vector is the 64 per-cell MEANS of `lum`, row-major.
  *
  * Exactness: lum <= 255_000 < 2^18 and per-cell pixel counts are
  * small, so sums stay far below 2^53 (exact in Double) and uniform-
  * cell means are integers < 2^24 (exact in Float). A lossless codec
  * (PNG, GIF with <=256 colors) therefore round-trips fixtures to
  * BIT-EXACT feature values the oracle recomputes without decoding.
  * JPEG decodes through the same path but is lossy — its values are
  * deterministic for a given JDK, not closed-form; spec-locked with
  * tolerance instead of oracle-hashed.
  *
  * Scale note: decode is per-row CPU work with no shuffle — it lives
  * inside `mapPartitions` and parallelizes linearly with partitions.
  * Undecodable bytes return null (corrupt media is data, not an error,
  * at corpus scale).
  */
object ImageCodec {

  // ImageIO defaults to a DISK-backed stream cache: every read/write
  // creates (and deletes) a temp file — pure overhead for in-memory
  // byte arrays in a per-row mapPartitions hot path, and on an
  // unwritable tmpdir the IOException would surface as a silent null
  // feature. Memory-cache instead; payloads are corpus cells, not
  // multi-GB files.
  ImageIO.setUseCache(false)

  val Grid = 8
  val FeatureDim: Int = Grid * Grid

  /** Largest image [[decodeImage]] decodes: 2^24 pixels (4096 x 4096,
    * a 64 MB int-RGB raster). Readers allocate the raster from the
    * header's claimed size before reading any pixel data, so without a
    * cap a corrupt header claiming tens of thousands of pixels per side
    * throws `OutOfMemoryError`. */
  val MaxPixels: Long = 1L << 24

  /** Decode bytes with the first registered ImageIO reader that accepts
    * them (the reader `ImageIO.read` would pick); null when none does
    * (audio/video/corrupt payloads), when decoding fails, or when the
    * header claims more than [[MaxPixels]] pixels. Never throws. */
  def decodeImage(bytes: Array[Byte]): BufferedImage =
    if (bytes == null || bytes.length == 0) null
    else
      try {
        val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(in)
          if (!readers.hasNext) null
          else {
            val reader = readers.next()
            try {
              reader.setInput(in, true, true)
              val pixels = reader.getWidth(0).toLong * reader.getHeight(0)
              if (pixels <= 0 || pixels > MaxPixels) null
              else reader.read(0, reader.getDefaultReadParam)
            } finally reader.dispose()
          }
        } finally in.close()
      } catch { case _: Exception => null }

  /** 64-dim 8x8 mean-luminance grid; null for undecodable payloads. */
  def decodeFeatures(bytes: Array[Byte]): Array[Float] = {
    val img = decodeImage(bytes)
    if (img == null) null else lumaGrid(img)
  }

  /** The grid features of an in-memory image (decode already done). */
  def lumaGrid(img: BufferedImage): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](FeatureDim)
    val counts = new Array[Long](FeatureDim)
    var y = 0
    while (y < h) {
      val cy = y * Grid / h
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = 299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
          114 * (rgb & 0xFF)
        val c = cy * Grid + x * Grid / w
        sums(c) += lum
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(FeatureDim)(i =>
      if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
  }

  /** 64-bit average hash (aHash) of a luminance grid: bit i is set
    * iff cell i is STRICTLY above the grid mean. Comparison is done
    * in exact integer arithmetic (`64*v_i > sum`) — cell means of
    * uniform-block images are exact integers in Float, so the hash is
    * bit-reproducible by any engine from the closed-form cell values.
    * A solid image (all cells equal) hashes to 0 by the strictness.
    *
    * This is the classic perceptual-hash construction: resistant to
    * re-encoding and exact-scale resize (the grid is scale-free),
    * and 64 bits feed the pigeonhole-banded Hamming self-join
    * ([[Dedup.signatureNearDups]]) for corpus-scale image near-dup
    * with no pairwise pass. */
  def aHash(grid: Array[Float]): Long = {
    val cells = new Array[Long](FeatureDim)
    var i = 0
    while (i < FeatureDim) { cells(i) = grid(i).toLong; i += 1 }
    aHashSums(cells)
  }

  /** The aHash comparison over raw Long cell values — shared with the
    * video signature, whose cells are per-cell luminance SUMS over
    * frames (the comparison `64*v_i > total` is scale-free, so sums
    * and means hash identically while sums stay integer-exact). */
  def aHashSums(cells: Array[Long]): Long = {
    var total = 0L
    var i = 0
    while (i < FeatureDim) { total += cells(i); i += 1 }
    var h = 0L
    i = 0
    while (i < FeatureDim) {
      if (64L * cells(i) > total) h |= 1L << i
      i += 1
    }
    h
  }

  /** Nearest-neighbor resample with the EXPLICIT integer pixel map
    * `src(x*srcW/dstW, y*srcH/dstH)` (floor division) — chosen over
    * `Graphics2D` NN so the sample positions are engine-independent
    * facts an oracle can replay: when dims scale by an exact integer
    * factor, each dst pixel equals one specific src pixel, bit-exact. */
  def resample(img: BufferedImage, dstW: Int, dstH: Int): BufferedImage = {
    val out = new BufferedImage(dstW, dstH, BufferedImage.TYPE_INT_RGB)
    val sw = img.getWidth
    val sh = img.getHeight
    var y = 0
    while (y < dstH) {
      val sy = y * sh / dstH
      var x = 0
      while (x < dstW) {
        out.setRGB(x, y, img.getRGB(x * sw / dstW, sy) & 0xFFFFFF)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Real byte-level resize: decode, cap the longest side at `maxDim`
    * (scale = maxDim/max(w,h), floor dims, min 1), re-encode PNG
    * (lossless). Returns null for undecodable payloads; returns the
    * INPUT bytes unchanged when already within bounds (no pointless
    * re-encode at corpus scale). */
  def resizeBytes(bytes: Array[Byte], maxDim: Int): Array[Byte] = {
    val img = decodeImage(bytes)
    if (img == null) null
    else {
      val m = math.max(img.getWidth, img.getHeight)
      if (m <= maxDim) bytes
      else {
        val dw = math.max(1, img.getWidth * maxDim / m)
        val dh = math.max(1, img.getHeight * maxDim / m)
        val out = new ByteArrayOutputStream()
        ImageIO.write(resample(img, dw, dh), "png", out)
        out.toByteArray
      }
    }
  }

  /** Fixture encoder: a real PNG (JDK writer, color type 2 truecolor)
    * whose top half is `topRgb` and bottom half `bottomRgb` (pass the
    * same value for a solid image). Lossless, so decode is bit-exact. */
  def encodePng(w: Int, h: Int, topRgb: Int, bottomRgb: Int): Array[Byte] =
    encode("png", w, h, topRgb, bottomRgb)

  /** Fixture encoder: real JPEG via the JDK writer (lossy — for spec
    * tolerance tests, not oracle gates). */
  def encodeJpeg(w: Int, h: Int, topRgb: Int, bottomRgb: Int): Array[Byte] =
    encode("jpg", w, h, topRgb, bottomRgb)

  /** Fixture encoder: real GIF via the JDK writer — lossless for
    * images with <=256 distinct colors (ours have <=2). */
  def encodeGif(w: Int, h: Int, topRgb: Int, bottomRgb: Int): Array[Byte] =
    encode("gif", w, h, topRgb, bottomRgb)

  private def encode(fmt: String, w: Int, h: Int,
                     topRgb: Int, bottomRgb: Int): Array[Byte] =
    encodeBands(fmt, w, h, Seq(topRgb, bottomRgb))

  /** Fixture encoder: `colors.length` equal horizontal bands (row y
    * takes band `y*n/h` — exact cells when h is a multiple of 8n/gcd).
    * PNG is lossless, so band structure round-trips bit-exactly. */
  def encodePngBands(w: Int, h: Int, colors: Seq[Int]): Array[Byte] =
    encodeBands("png", w, h, colors)

  private def encodeBands(fmt: String, w: Int, h: Int,
                          colors: Seq[Int]): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val rgb = colors(y * colors.length / h)
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, out)
    out.toByteArray
  }
}
