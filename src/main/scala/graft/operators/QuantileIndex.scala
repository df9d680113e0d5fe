package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Persisted incremental APPROXIMATE-QUANTILE index — the seventh
  * member of the persisted-index family ([[SketchOps]] HLL = distinct
  * counts, [[CmsIndex]] = frequencies, [[BloomIndex]] = membership,
  * [[HistIndex]] = exact fixed-bin distributions, plus the minhash /
  * IVF signature tiers), and the member [[HistIndex]] cannot replace:
  * HistIndex needs a params-pinned (lo, width, nBins) a priori, so
  * values outside the anticipated range coarsen silently into
  * under/overflow bins. This sketch needs NO range assumption — only
  * a size parameter `k` — and answers any quantile of any real-valued
  * stream with a SELF-CERTIFIED worst-case rank bound carried inside
  * the blob.
  *
  * The structure is the classic multi-level compaction sketch (the
  * KLL / Manku–Rajagopalan–Lindsay shape: Karnin, Lang & Liberty,
  * FOCS 2016; Manku et al., SIGMOD 1998): level `i` holds items of
  * weight 2^i, each level at most `k` items; a full level sorts and
  * keeps every other item (alternating offset per level), promoting
  * the survivors one level up. Unlike randomized KLL we compact
  * DETERMINISTICALLY and ACCOUNT the error instead of sampling it:
  * each compaction at level `i` perturbs the rank of any query point
  * by at most 2^i (the collapsed pairs straddle it by at most one
  * weight), so the blob carries `errBound` = Σ 2^i over every
  * compaction it has ever performed — a hard bound, not a
  * probabilistic one, that survives arbitrary merge topologies
  * (merge concatenates levels and re-compacts, adding its own
  * compactions to the bound). The certification gate reads the bound
  * FROM the sketch and checks the true rank against it; no confidence
  * parameter, no distribution assumption.
  *
  * Why not t-digest: t-digest's bound is on QUANTILE error and only
  * heuristic under merges; the compaction sketch's rank bound is
  * exact arithmetic, which is what an oracle-gated engine wants.
  *
  * Layout and semantics are the [[IndexStore]] contract: `k` pinned
  * under `path/params` (blobs are only mergeable at one k — appends
  * sketch at the STORED k), one (sk BINARY, n LONG) row per batch
  * dir, `delta_<tag>` overwrite for replay idempotence (sketch
  * insertion is not idempotent — the CMS caveat, same cure), NULL
  * values excluded. Load merges the batch blobs in a DETERMINISTIC
  * order (sorted by batch dir path), so load-then-query and
  * compact-then-query agree bit-for-bit — the compaction identity
  * gate. Scale shape: a batch blob is ~k·log2(n/k) doubles (KB at
  * any n); load is blob-count-sized; queries never touch events. */
object QuantileIndex {

  /** Default per-level capacity: worst-case rank error ≈
    * n·log2(n/k)/k — at n = 10^9, ~3% of n; the gate uses the blob's
    * own accounted bound, not this estimate. */
  val DefaultK = 512

  /** Growable primitive double buffer — insert is amortized O(1)
    * with zero boxing (an `ArrayBuffer[Double]` boxes every element;
    * a per-insert `:+` copies the whole level — both were O(n·k)
    * build paths). */
  private[operators] final class DBuf extends Serializable {
    var a: Array[Double] = new Array[Double](16)
    var size: Int = 0
    def add(v: Double): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(size) = v; size += 1
    }
    def addSlice(src: Array[Double], len: Int): Unit = {
      var need = a.length
      while (size + len > need) need *= 2
      if (need != a.length) a = java.util.Arrays.copyOf(a, need)
      System.arraycopy(src, 0, a, size, len)
      size += len
    }
    def clear(): Unit = size = 0
  }

  /** The mergeable sketch. `levels(i)` holds UNSORTED doubles of
    * weight 2^i (sorted at compaction/query time); `parities(i)`
    * alternates the kept offset per level; `errBound` is the
    * accounted worst-case rank error. */
  final class QSketch(val k: Int) extends Serializable {
    var levels: Array[DBuf] = Array(new DBuf)
    var parities: Array[Int] = Array(0)
    var n: Long = 0L
    var errBound: Long = 0L

    private def ensureLevel(i: Int): Unit =
      while (levels.length <= i) {
        levels = levels :+ new DBuf
        parities = parities :+ 0
      }

    def insert(v: Double): Unit = {
      levels(0).add(v)
      n += 1
      if (levels(0).size >= k) compactAll()
    }

    /** One ascending sweep restores the capacity invariant
      * everywhere: compacting level i leaves ≤ 1 item behind (a
      * single compaction folds the WHOLE buffer, whatever its size —
      * the ≤ 2^i error bound holds for any even count) and only ever
      * grows level i+1, which the sweep visits next. NOT a
      * stop-at-first-quiet-level cascade: after a merge concatenates
      * per level, an upper level can be over capacity while level 0
      * is not. */
    private def compactAll(): Unit = {
      var i = 0
      while (i < levels.length) {
        if (levels(i).size >= k) compactLevel(i)
        i += 1
      }
    }

    /** Sort level i, keep every other element (offset alternating per
      * compaction), promote survivors to level i+1. An odd element
      * stays behind at level i. Adds 2^i to the accounted bound. */
    private def compactLevel(i: Int): Unit = {
      val buf = levels(i)
      java.util.Arrays.sort(buf.a, 0, buf.size)
      val sz = buf.size
      val even = sz - (sz % 2)
      val offset = parities(i)
      parities(i) = 1 - offset
      ensureLevel(i + 1)
      val up = levels(i + 1)
      var j = 0
      while (j < even / 2) { up.add(buf.a(2 * j + offset)); j += 1 }
      val leftover = if (even == sz) Double.NaN else buf.a(sz - 1)
      buf.clear()
      if (even != sz) buf.add(leftover)
      errBound += 1L << i
    }

    /** Merge `other` in: concatenate per level, re-establish the
      * capacity invariant, add both bounds. Deterministic given the
      * two operands and their order. */
    def merge(other: QSketch): Unit = {
      require(other.k == k, s"unmergeable quantile sketches: k=$k vs ${other.k}")
      ensureLevel(other.levels.length - 1)
      var i = 0
      while (i < other.levels.length) {
        levels(i).addSlice(other.levels(i).a, other.levels(i).size)
        i += 1
      }
      n += other.n
      errBound += other.errBound
      compactAll()
    }

    /** Estimated rank of `x`: weighted count of stored items ≤ x.
      * |estRank(x) − trueRank(x)| ≤ errBound for every x. */
    def estRank(x: Double): Long = {
      var r = 0L
      var i = 0
      while (i < levels.length) {
        val w = 1L << i
        val buf = levels(i)
        var j = 0
        while (j < buf.size) {
          if (buf.a(j) <= x) r += w
          j += 1
        }
        i += 1
      }
      r
    }

    /** Every stored (value, weight) pair, sorted by value. */
    private def sortedItems: Array[(Double, Long)] = {
      val out = Array.newBuilder[(Double, Long)]
      var i = 0
      while (i < levels.length) {
        val w = 1L << i
        var j = 0
        while (j < levels(i).size) { out += ((levels(i).a(j), w)); j += 1 }
        i += 1
      }
      val arr = out.result()
      scala.util.Sorting.stableSort(arr, (p: (Double, Long), q: (Double, Long)) => p._1 < q._1)
      arr
    }

    /** The smallest stored value whose estimated rank reaches
      * `target` (the last stored value if none does). */
    def valueAtRank(target: Long): Double = {
      val all = sortedItems
      var cum = 0L
      var i = 0
      while (i < all.length) {
        cum += all(i)._2
        if (cum >= target) return all(i)._1
        i += 1
      }
      if (all.isEmpty) Double.NaN else all.last._1
    }

    /** Worst-case rank slack for [[valueAtRank]], TIE-SAFE: with
      * duplicates the true rank of the returned VALUE v is the
      * interval [count(x < v) + 1, count(x ≤ v)], and the guarantee
      * is  count(x < v) − rankBound ≤ target ≤ count(x ≤ v) +
      * rankBound  (derivation: estRank tracks count(≤ ·) within
      * errBound at EVERY point, v is the smallest stored value whose
      * estimate reaches the target, so the weighted count of stored
      * items strictly below v is < target and bounds count(x < v)
      * within errBound; the extra top-level weight is headroom for
      * the estimate step between adjacent stored items). */
    def rankBound: Long = errBound + (1L << (levels.length - 1))

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(k); out.writeLong(n); out.writeLong(errBound)
      out.writeInt(levels.length)
      levels.indices.foreach { i =>
        out.writeInt(parities(i))
        out.writeInt(levels(i).size)
        var j = 0
        while (j < levels(i).size) { out.writeDouble(levels(i).a(j)); j += 1 }
      }
      out.flush()
      bos.toByteArray
    }
  }

  def fromBytes(bytes: Array[Byte]): QSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val sk = new QSketch(in.readInt())
    sk.n = in.readLong(); sk.errBound = in.readLong()
    val nl = in.readInt()
    sk.levels = Array.fill(nl)(new DBuf)
    sk.parities = new Array[Int](nl)
    (0 until nl).foreach { i =>
      sk.parities(i) = in.readInt()
      val len = in.readInt()
      (0 until len).foreach(_ => sk.levels(i).add(in.readDouble()))
    }
    sk
  }

  /** Distributed single-pass build: the aggregation buffer is the
    * sketch object (the [[IndexStore.BlobMerge]] protocol — deserialize
    * per partition boundary, not per row). The result blob depends on
    * partition/merge order, so per-blob BYTE identity is NOT part of
    * this family's contract; the accounted `errBound` holds for every
    * order, and that is what the gates check. */
  class QMerge(k: Int) extends Aggregator[Double, QSketch, Array[Byte]] {
    override def zero: QSketch = new QSketch(k)
    override def reduce(b: QSketch, a: Double): QSketch = {
      b.insert(a); b
    }
    override def merge(b1: QSketch, b2: QSketch): QSketch = {
      if (b2.n > 0) b1.merge(b2)
      b1
    }
    override def finish(b: QSketch): Array[Byte] = b.toBytes
    override def bufferEncoder: Encoder[QSketch] =
      Encoders.javaSerialization[QSketch]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** One (sk BINARY, n LONG) row: the batch's sketch blob + count.
    * NULL values are excluded (the family contract). */
  private def sketchRow(df: DataFrame, value: Column, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val merge = udaf(new QMerge(k))
    df.select(value.cast("double").as("__v")).where(col("__v").isNotNull)
      .agg(merge(col("__v")).as("sk"), count(lit(1)).as("n"))
  }

  /** Params (k); a compacted base is the deterministically merged
    * blob, so the compacted index loads BIT-IDENTICALLY to the old one
    * and keeps accepting appends at the stored k. */
  private val store = new IndexStore.Family[Int](
    k => Seq("k" -> k), _("k").toInt,
    (spark, path) => {
      import spark.implicits._
      val merged = loadMergedSketch(spark, path)
      Seq((merged.toBytes, merged.n)).toDF("sk", "n")
    })

  /** Build and persist the base index: blob under `path/base`, `k`
    * under `path/params`. */
  def saveQuantileIndex(df: DataFrame, value: Column, path: String,
                        k: Int = DefaultK): Unit = {
    require(k >= 8, s"quantile sketch k too small: $k")
    store.save(path, k, sketchRow(df, value, k))
  }

  /** Stored k. */
  def loadParams(spark: SparkSession, path: String): Int =
    store.params(spark, path)

  /** Append a batch at the STORED k; `delta_<tag>` overwrite keeps
    * replays idempotent (insertion is not — the CMS caveat). */
  def appendQuantileIndex(spark: SparkSession, path: String,
                          batch: DataFrame, value: Column,
                          tag: String): Unit =
    store.append(spark, path, tag)(sketchRow(batch, value, _))

  /** Merge base + every delta into one sketch, DETERMINISTICALLY:
    * blobs ordered by batch-dir path (one multi-path scan tagged with
    * `input_file_name`, the [[IndexStore.unionBatches]] shape), then
    * folded driver-side in that order — so two loads of the same
    * on-disk state, and a load of the compacted copy, agree
    * bit-for-bit. Work is blob-count-sized (KB per batch). */
  def loadMergedSketch(spark: SparkSession, path: String): QSketch = {
    val dirs = IndexStore.batchDirs(spark, path)
    val rows = spark.read.parquet(dirs: _*)
      .select(input_file_name().as("f"), col("sk"), col("n"))
      .where(col("n") > 0)
      .collect()
      .sortBy(_.getString(0))
    // fold starting FROM the first blob (not into a fresh empty
    // sketch): merging into an empty sketch would reset the per-level
    // compaction parities the blob carries, so a compacted index —
    // whose single base blob preserves them — would load with
    // different bytes than the original fold. Starting from blob #1
    // makes load(compact(path)) ≡ load(path) bit-for-bit.
    var acc: QSketch = null
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("sk")
      if (bytes != null && bytes.nonEmpty) {
        val sk = fromBytes(bytes)
        if (acc == null) acc = sk else acc.merge(sk)
      }
    }
    if (acc == null) new QSketch(loadParams(spark, path)) else acc
  }

  /** Quantile read: per q — the estimated q-quantile value, the
    * target rank ceil(q·n), n, and the blob's own worst-case rank
    * bound. Blob-sized work, never an event scan. */
  def quantiles(spark: SparkSession, path: String,
                qs: Seq[Double]): DataFrame = {
    import spark.implicits._
    val sk = loadMergedSketch(spark, path)
    qs.map { q =>
      val target = math.ceil(q * sk.n).toLong
      (q, sk.valueAtRank(target), target, sk.n,
        if (sk.n == 0) 0L else sk.rankBound)
    }.toDF("q", "est", "rank", "n", "rank_bound")
  }

  /** Fold base + deltas into a fresh ONE-batch index at `newPath`
    * (copy-on-write — [[IndexStore]]). */
  def compactQuantileIndex(spark: SparkSession, oldPath: String,
                           newPath: String): Unit =
    store.compact(spark, oldPath, newPath)
}
