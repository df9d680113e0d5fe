package graft.operators

import java.io.File

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Every persisted-index appender refuses a path-unsafe delta tag
  * through [[IndexStore.requireTag]] and leaves the index directory
  * exactly as it was: tags become directory names, so `../x`, `a/b`
  * and the empty tag must never reach a write. */
class DeltaTagSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val rows = spark.range(200).select(col("id"),
    (col("id") % 50).as("k"),
    concat(lit("t"), col("id") % 7).as("term"),
    (col("id") % 90).cast("double").as("v"),
    concat_ws(" ", concat(lit("w"), col("id") % 7),
      concat(lit("x"), col("id") % 5)).as("text"))

  // 100 deterministic 64-dim float vectors (the IVF/PQ input shape)
  private lazy val emb = spark.range(100).select(col("id").as("vec_id"),
    transform(sequence(lit(1), lit(64)), i => sin(col("id") * i)
      .cast("float")).as("embedding"))

  /** (family, build an index at a path, append `rows` under a tag). */
  private val appenders
      : Seq[(String, String => Unit, (String, String) => Unit)] = Seq(
    ("bloom", BloomIndex.saveBloomIndex(rows, $"k", _, 1000L),
      BloomIndex.appendBloomIndex(spark, _, rows, $"k", _)),
    ("hll", SketchOps.saveSketchIndex(rows, $"term", $"k", _),
      SketchOps.appendSketchIndex(spark, _, rows, $"term", $"k", _)),
    ("cms", CmsIndex.saveCmsIndex(rows, $"term", _),
      CmsIndex.appendCmsIndex(spark, _, rows, $"term", _)),
    ("hist", HistIndex.saveHistIndex(rows, $"v", _, 0.0, 10.0, 9),
      HistIndex.appendHistIndex(spark, _, rows, $"v", _)),
    ("hist_seg",
      HistIndex.saveHistIndexSeg(rows, $"term", $"v", _, 0.0, 10.0, 9),
      HistIndex.appendHistIndexSeg(spark, _, rows, $"term", $"v", _)),
    ("quantile", QuantileIndex.saveQuantileIndex(rows, $"v", _, 16),
      QuantileIndex.appendQuantileIndex(spark, _, rows, $"v", _)),
    ("minhash", p => Dedup.saveMinhashIndex(
        Dedup.buildMinhashIndex(rows, "id", $"text"), p),
      Dedup.appendMinhashIndex(spark, _, rows, "id", $"text", _)),
    ("ivf", p => Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 4), p),
      Similarity.appendIvfIndex(spark, _, emb, "vec_id", "embedding", _)),
    ("pq", p => Similarity.savePqIndex(Similarity.buildPqIndex(emb,
        "vec_id", "embedding", nlist = 4, m = 8, ksub = 8), p),
      Similarity.appendPqIndex(spark, _, emb, "vec_id", "embedding", _)))

  private def tree(f: File): Set[String] =
    Option(f.listFiles()).toSeq.flatten.flatMap(tree).toSet + f.toString

  appenders.foreach { case (family, save, append) =>
    test(s"$family: an unsafe delta tag is refused and writes nothing") {
      val path = s"${tempDir(s"graft-tag-$family")}/idx"
      save(path)
      val before = tree(new File(path))
      for (tag <- Seq("../x", "a/b", "")) {
        val e = intercept[IllegalArgumentException](append(path, tag))
        assert(e.getMessage.contains("unsafe delta tag"), tag)
      }
      assert(tree(new File(path)) === before)
    }
  }
}
