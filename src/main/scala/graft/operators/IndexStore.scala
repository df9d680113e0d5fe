package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, sum, udaf}

/** The one lifecycle of every persisted incremental index. One layout,
  * one contract:
  *
  * {{{
  * path/params.json   one tiny file pinning the index geometry
  * path/base          the first banked batch
  * path/delta_<tag>   one dir per appended batch (OVERWRITTEN on
  *                    replay of the same tag — the idempotence story
  *                    every appender leans on)
  * }}}
  *
  * The sketch families bank through a [[Family]], which owns save,
  * append and copy-on-write compaction:
  *  - [[BloomIndex]]: membership, one OR-mergeable blob per batch;
  *  - [[SketchOps]] (HLL): distinct counts, one blob per segment;
  *  - [[CmsIndex]]: frequencies, one count-min blob plus SpaceSaving
  *    candidates per batch;
  *  - [[HistIndex]]: exact fixed-bin counts, global or per segment;
  *  - [[QuantileIndex]]: one mergeable quantile-sketch blob per batch.
  *
  * Each family supplies only its typed params with their codec, the
  * rows one batch banks, and the fold of base + deltas into one base.
  * Bloom and CMS share one blob merge ([[BlobMerge]], loaded by
  * [[loadMergedBlob]]). The minhash ([[Dedup.appendMinhashIndex]]),
  * IVF and PQ ([[Similarity.appendIvfIndex]]) indexes keep their own
  * multi-frame layouts (a parquet `params/` frame, `banded/`,
  * `assigned/`, ...) but bank under the same `delta_<tag>` dirs through
  * [[deltaDir]], list them with [[deltaDirs]], and compact through
  * [[requireCopyOnWrite]].
  *
  * The contract used to be copied per family, and the copies drifted:
  * the NULL-blob guard on load landed in BloomIndex but not CmsIndex
  * (r17 verdict "what's wrong" #1). Params I/O, tag validation, batch
  * listing, the base+deltas union and the compaction guard now have
  * exactly one implementation.
  *
  * Why compaction is COPY-ON-WRITE (`compact*Index(old, new)`) and
  * never in-place: after a year the 365 `delta_*` dirs deserve folding
  * into one base, but any in-place protocol has an unclosable crash
  * window under plain-filesystem semantics — overwrite-base-then-
  * drop-deltas double-counts CMS/Hist (addition is not idempotent) if
  * it dies in between, and drop-deltas-then-replace-base loses them.
  * Writing a fresh one-batch index at a NEW path leaves the old index
  * untouched until the caller's metadata swap, which is the atomic
  * boundary a real deployment owns anyway. Each family's compactor is
  * spec-pinned to load IDENTICALLY and keep accepting appends at the
  * same params (IndexCompactionSpec).
  *
  * Scale note: everything here is BLOB-count sized. A batch dir holds
  * KB–MB of sketch state regardless of how many events it summarizes;
  * `batchDirs` is one namenode listing; `unionBatches` reads
  * (batches)-many single-row/parquet-small files, never history. */
private[operators] object IndexStore {

  /** What one sketch family supplies to the lifecycle: `encode` and
    * `decode` between its typed params `P` and the stored
    * `params.json` values (in file order), and `fold`, the rows of ONE
    * base equivalent to every batch of the index at a path. Blob-row
    * families bank each batch as ONE file (`singleFile`); HLL's
    * per-segment frame keeps its partitions. */
  final class Family[P](encode: P => Seq[(String, AnyVal)],
                        decode: Map[String, String] => P,
                        fold: (SparkSession, String) => DataFrame,
                        singleFile: Boolean = true) {

    /** The stored params (driver-side file read, zero Spark jobs). */
    def params(spark: SparkSession, path: String): P =
      decode(readParams(spark, path))

    /** Bank `rows` as `path/base`, then pin `p` under `path`. */
    def save(path: String, p: P, rows: DataFrame): Unit = {
      write(rows, s"$path/base")
      writeParams(rows.sparkSession, path, encode(p))
    }

    /** Bank the batch `rows` builds at the STORED params as
      * `delta_<tag>`; the tag is validated before anything is read or
      * written. */
    def append(spark: SparkSession, path: String, tag: String)
              (rows: P => DataFrame): Unit = {
      val dir = deltaDir(path, tag)
      write(rows(params(spark, path)), dir)
    }

    /** Fold base + every delta into a fresh one-batch index at
      * `newPath` with the same params; the old index is untouched. */
    def compact(spark: SparkSession, oldPath: String,
                newPath: String): Unit = {
      requireCopyOnWrite(oldPath, newPath)
      val p = params(spark, oldPath)
      write(fold(spark, oldPath), s"$newPath/base")
      writeParams(spark, newPath, encode(p))
    }

    private def write(df: DataFrame, dir: String): Unit =
      (if (singleFile) df.coalesce(1) else df)
        .write.mode("overwrite").parquet(dir)
  }

  /** Tags become directory names — keep them path-safe, loudly. */
  def requireTag(tag: String): Unit =
    require(tag.matches("[A-Za-z0-9_-]+"), s"unsafe delta tag: $tag")

  /** Every compactor starts here: a same-path call would lazily read
    * from the path it is overwrite-writing — Spark's generic "cannot
    * overwrite a path being read from" (or worse, engine-version-
    * dependent behavior on a multi-dir layout) instead of the
    * documented contract. */
  def requireCopyOnWrite(oldPath: String, newPath: String): Unit =
    require(oldPath != newPath,
      "compaction is copy-on-write: newPath must differ from oldPath")

  /** The delta dir a (validated) tag banks into. */
  def deltaDir(path: String, tag: String): String = {
    requireTag(tag)
    s"$path/delta_$tag"
  }

  /** Persist the geometry params as a tiny `path/params.json` written
    * DIRECTLY by the driver — the params are driver-known values at
    * save time, so the old one-row parquet frame cost a pointless
    * Spark job per save (the coalesce(1) write) and another per
    * append/compact/read (the 1-row collect): two driver round-trips
    * per blob op at ANY scale, which r20's job counting measured as
    * the lifecycle rows' dominant cost (guide §2.4 — remove scheduler
    * round-trips outright). Values are numbers, stored stringified;
    * each family owns its typed parse. Typing them `AnyVal` is what
    * lets [[readParams]] read the file with a regex: no value can
    * contain a quote. Double round-trips exactly (Double.toString is
    * shortest-round-trip by the Java spec). */
  private def writeParams(spark: SparkSession, path: String,
                          kv: Seq[(String, AnyVal)]): Unit = {
    val p = new Path(s"$path/params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = kv.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val out = fs.create(p, true)
    try out.write(json.getBytes(UTF_8))
    finally out.close()
  }

  private def readParams(spark: SparkSession,
                         path: String): Map[String, String] = {
    val p = new Path(s"$path/params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val s = try new String(in.readAllBytes(), UTF_8) finally in.close()
    """"([^"]+)":"([^"]*)"""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Every `delta_*` dir under `path`, sorted by tag. `excludeTags`
    * drops named deltas — the streaming screen uses it to see the
    * exact PRE-batch index state even after its own delta landed
    * (replay safety). */
  def deltaDirs(spark: SparkSession, path: String,
                excludeTags: Set[String] = Set.empty): Seq[String] = {
    val skip = excludeTags.map("delta_" + _)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("delta_") &&
        !skip(st.getPath.getName))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** `base` plus every delta dir, deterministically ordered. */
  def batchDirs(spark: SparkSession, path: String,
                excludeTags: Set[String] = Set.empty): Seq[String] =
    s"$path/base" +: deltaDirs(spark, path, excludeTags)

  /** Union of the named columns across base + every delta (optionally
    * under a per-batch `subdir`, for operators that bank more than one
    * structure per batch) — as ONE multi-path parquet scan, not a
    * per-dir union: PERF.md "Round-18 (cont. 3): the blob-count load
    * contract" measured the union-of-D-relations form paying ~0.14 s
    * of per-relation plan/scan setup per banked batch (52 s to merge
    * 365 KB-sized CMS blobs), which made load time grow with BATCH
    * COUNT even though the data is KB-sized. A single relation over D
    * paths plans once and scans the D files in one stage. Batch dirs
    * are unpartitioned plain parquet (every writer in this family), so
    * multi-path reading is safe; every batch shares the writer's
    * schema and `select` normalizes column order. */
  def unionBatches(spark: SparkSession, path: String, subdir: String,
                   cols: Seq[String],
                   excludeTags: Set[String] = Set.empty): DataFrame = {
    val dirs = batchDirs(spark, path, excludeTags)
      .map(d => if (subdir.isEmpty) d else s"$d/$subdir")
    spark.read.parquet(dirs: _*).select(cols.map(col): _*)
  }

  /** Distributed merge of same-geometry sketch blobs, given the
    * sketch's `read`, `mergeInPlace` (which must throw on a geometry
    * mismatch — loud, never a silent degrade) and `write`. The
    * aggregation BUFFER is the deserialized sketch (r17 ADVICE): the
    * typed-aggregator machinery keeps it in memory across `reduce`
    * calls and serializes only at partition boundaries, so merging k
    * blobs costs k deserializations + ONE final serialization instead
    * of O(k²) blob churn. NULL/empty inputs are skipped (an empty
    * batch banks no state). */
  final class BlobMerge[S](read: Array[Byte] => S,
                           mergeInPlace: (S, S) => Unit,
                           write: S => Array[Byte])
      extends Aggregator[Array[Byte], Option[S], Array[Byte]] {
    override def zero: Option[S] = None
    override def reduce(b: Option[S], a: Array[Byte]): Option[S] =
      if (a == null || a.isEmpty) b else merge(b, Some(read(a)))
    override def merge(b1: Option[S], b2: Option[S]): Option[S] =
      (b1, b2) match {
        case (Some(x), Some(y)) => mergeInPlace(x, y); b1
        case (None, _) => b2
        case _ => b1
      }
    override def finish(b: Option[S]): Array[Byte] =
      b.map(write).getOrElse(Array.emptyByteArray)
    override def bufferEncoder: Encoder[Option[S]] =
      Encoders.javaSerialization[Option[S]]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Merge base + every delta's (sk, n) row to ONE blob: (blob bytes,
    * total n). Blob-count-sized work; the merge runs as a distributed
    * aggregate and only the merged row lands on the driver. NULL blobs
    * (empty batches) are filtered before the merge, and an index with
    * no banked item normalizes to `(null, 0)` whatever blob it holds:
    * Spark's `count_min_sketch` returns a non-null zero-count sketch
    * for an empty batch, and the load must not depend on that. */
  def loadMergedBlob[S](spark: SparkSession, path: String,
                        merge: BlobMerge[S],
                        excludeTags: Set[String] = Set.empty)
      : (Array[Byte], Long) = {
    val r = unionBatches(spark, path, "", Seq("sk", "n"), excludeTags)
      .where(col("sk").isNotNull)
      .agg(udaf(merge, Encoders.BINARY)(col("sk")).as("sk"),
        sum("n").as("n"))
      .collect()(0)
    val blob = r.getAs[Array[Byte]](0)
    val n = if (r.isNullAt(1)) 0L else r.getLong(1)
    (if (blob == null || blob.isEmpty || n == 0L) null else blob, n)
  }
}
