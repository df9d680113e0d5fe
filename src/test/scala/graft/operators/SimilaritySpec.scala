package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {

  import spark.implicits._

  // 3 clusters of vectors around orthogonal axes + noise dims.
  lazy val vecs = {
    val rows = for {
      c <- 0 until 3
      i <- 0 until 10
    } yield {
      val v = Array.tabulate(16) { d =>
        val base = if (d == c * 5) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 5) * 0.1f
      }
      ((c * 10 + i).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("cosine is 1.0 for identical vectors, high within cluster") {
    val self = vecs.as("a").join(vecs.as("b"),
        col("a.vec_id") === col("b.vec_id"))
      .select(Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("brute-force top-k pairs are within-cluster") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 20)
      .collect()
    top.foreach { r =>
      assert(r.getLong(0) / 10 == r.getLong(1) / 10,
        s"cross-cluster pair in top-k: $r")
      assert(r.getAs[Double]("cos") > 0.9)
    }
  }

  test("LSH buckets recover most brute-force neighbors (recall)") {
    val brute = Similarity.bruteForcePairs(vecs, "vec_id", "embedding")
      .filter(col("cos") > 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshBucketTopK(vecs, "vec_id", "embedding",
        k = 9, numPlanes = 4, tables = 6, dims = 16)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val recall = brute.count(lsh.contains).toDouble / math.max(brute.size, 1)
    assert(recall > 0.5, s"LSH recall $recall too low (found ${lsh.size})")
  }

  test("IVF probes recover most brute-force neighbors (recall)") {
    val brute = Similarity.bruteForcePairs(vecs, "vec_id", "embedding")
      .filter(col("cos") > 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        k = 9, nlist = 3, nprobe = 1)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val recall = brute.count(ivf.contains).toDouble / math.max(brute.size, 1)
    assert(recall > 0.8, s"IVF recall $recall too low (found ${ivf.size})")
  }

  test("IVF-PQ ADC shortlist recovers brute-force neighbors (recall)") {
    val brute = Similarity.bruteForcePairs(vecs, "vec_id", "embedding")
      .filter(col("cos") > 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopK(vecs, "vec_id", "embedding",
        k = 9, nlist = 3, nprobe = 1, m = 4, ksub = 4, rerank = 9,
        dims = 16)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val recall = brute.count(pq.contains).toDouble / math.max(brute.size, 1)
    assert(recall > 0.8, s"IVF-PQ recall $recall too low (found ${pq.size})")
  }

  test("IVF-PQ is deterministic across runs and ranks by exact cosine") {
    def run() = Similarity.ivfPqTopK(vecs, "vec_id", "embedding",
        k = 3, nlist = 3, nprobe = 2, m = 4, ksub = 4, rerank = 6,
        dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("cos"), r.getInt(3))).toSeq.sorted
    val a = run()
    assert(a == run())
    // ranks are dense per query and descending in cos
    a.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4) == (1 to sorted.size))
      assert(sorted.map(_._3).reverse == sorted.map(_._3).sorted)
    }
  }

  test("IVF-PQ search mode finds each query's own vector first") {
    val queries = vecs.filter(col("vec_id").isin(0L, 10L, 20L))
    val r = Similarity.ivfPqSearch(queries, vecs, "vec_id", "embedding",
        k = 3, nlist = 3, nprobe = 2, m = 4, ksub = 4, rerank = 9,
        dims = 16)
      .collect().map(x => (x.getLong(0), x.getLong(1),
        x.getAs[Double]("cos"), x.getInt(3)))
    assert(r.map(_._1).toSet == Set(0L, 10L, 20L))
    // rank-1 hit is the query vector itself at cosine ~1, and every
    // returned neighbor is within the query's cluster
    r.filter(_._4 == 1).foreach { case (q, n, c, _) =>
      assert(n == q && math.abs(c - 1.0) < 1e-12, s"($q,$n,$c)")
    }
    r.foreach { case (q, n, _, _) => assert(q / 10 == n / 10, s"($q,$n)") }
  }

  test("embedding near-dup dedup finds cluster twins and drop set") {
    val dups = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.98, numPlanes = 4, tables = 6, dims = 16)
    val pairs = dups.collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) / 10 == r.getLong(1) / 10)  // within-cluster only
      assert(r.getLong(0) < r.getLong(1))
    }
    val dropped = Dedup.embeddingDropIds(dups)
      .collect().map(_.getLong(0)).toSet
    // kept ids: at least one per cluster survives
    (0 until 3).foreach { c =>
      assert((0 until 10).exists(i => !dropped.contains((c * 10 + i).toLong)))
    }
  }

  test("multi-probe candidates are a superset of exact-bucket candidates") {
    def pairs(probes: Int) =
      Similarity.lshBucketPairs(vecs, "vec_id", "embedding",
          numPlanes = 6, tables = 2, dims = 16, probes = probes)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(0)
    val probed = pairs(1)
    assert(exact.subsetOf(probed),
      s"multi-probe lost ${exact.diff(probed).size} exact candidates")
    // Hamming<=1 buckets genuinely widen the net on this fixture
    assert(probed.size > exact.size)
  }

  test("multi-probe with fewer tables reaches exact-bucket recall") {
    val brute = Similarity.bruteForcePairs(vecs, "vec_id", "embedding")
      .filter(col("cos") > 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2 probed tables vs the 6 exact tables of the recall test above
    val lsh = Similarity.lshBucketTopK(vecs, "vec_id", "embedding",
        k = 9, numPlanes = 4, tables = 2, dims = 16, probes = 1)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val recall = brute.count(lsh.contains).toDouble / math.max(brute.size, 1)
    assert(recall > 0.5, s"multi-probe recall $recall too low")
  }

  test("IVF index round-trips through parquet: loaded search == fresh") {
    val base = vecs.select(col("vec_id").as("id"), col("embedding").as("v"))
    val fresh = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      nlist = 3)
    val path = tempDir("graft-ivf-idx")
    Similarity.saveIvfIndex(fresh, path)
    val loaded = Similarity.loadIvfIndex(spark, path)
    assert(loaded.nlist == fresh.nlist)
    assert(loaded.coarse.map(_.toSeq).toSeq == fresh.coarse.map(_.toSeq).toSeq)
    def run(ix: Similarity.IvfIndex) =
      Similarity.ivfSearchIndex(base, ix, k = 4, nprobe = 2,
          excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cos")),
          r.getInt(3))).toSet
    assert(run(loaded) == run(fresh))
  }

  test("IVF append: fixed centroids, correct cells, idempotent deltas") {
    // batch vectors live in cluster 2's region with new ids
    val batch = vecs.filter(col("vec_id") >= 20)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    val fresh = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      nlist = 3)
    // in-memory append: batch cells equal an INDEPENDENT driver-side
    // argmin over the frozen centroids (exact doubles)
    val appended = Similarity.appendToIvfIndex(fresh, batch,
      "vec_id", "embedding")
    val cells = appended.assigned.filter(col("id") >= 120)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batchVecs = batch.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    batchVecs.foreach { case (id, v) =>
      val want = fresh.coarse.zipWithIndex.minBy { case (c, i) =>
        (c.zip(v).map { case (x, y) => (x - y) * (x - y) }.sum, i)
      }._2
      assert(cells(id) == want, s"cell of appended id $id")
    }
    assert(appended.assigned.count() == 40)
    // persisted deltas: save base, append twice under the SAME tag
    // (replay must overwrite, not duplicate), then a second tag
    val path = tempDir("graft-ivf-append")
    Similarity.saveIvfIndex(fresh, path)
    Similarity.appendIvfIndex(spark, path, batch, "vec_id", "embedding",
      tag = "b0")
    Similarity.appendIvfIndex(spark, path, batch, "vec_id", "embedding",
      tag = "b0")
    val batch2 = batch.select((col("vec_id") + 100).as("vec_id"),
      col("embedding"))
    Similarity.appendIvfIndex(spark, path, batch2, "vec_id", "embedding",
      tag = "b1")
    val loaded = Similarity.loadIvfIndex(spark, path)
    assert(loaded.assigned.count() == 50) // 30 base + 10 (b0, once) + 10 (b1)
    // loaded search must equal the in-memory twice-appended search
    val mem = Similarity.appendToIvfIndex(appended, batch2,
      "vec_id", "embedding")
    def run(ix: Similarity.IvfIndex) =
      Similarity.ivfSearchIndex(
          vecs.select(col("vec_id").as("id"), col("embedding").as("v")),
          ix, k = 4, nprobe = 2, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cos")),
          r.getInt(3))).toSet
    assert(run(loaded) == run(mem))
  }

  test("PQ index round-trips through parquet: loaded search == fresh") {
    val base = vecs.select(col("vec_id").as("id"), col("embedding").as("v"))
    val fresh = Similarity.buildPqIndex(vecs, "vec_id", "embedding",
      nlist = 3, m = 4, ksub = 4, dims = 16)
    val path = tempDir("graft-pq-idx")
    Similarity.savePqIndex(fresh, path)
    val loaded = Similarity.loadPqIndex(spark, path)
    assert(loaded.nlist == fresh.nlist && loaded.m == fresh.m &&
      loaded.dsub == fresh.dsub)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      fresh.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    def run(ix: Similarity.PqIndex) =
      Similarity.pqSearchIndex(base, ix, k = 3, nprobe = 2, rerank = 6,
          excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cos")),
          r.getInt(3))).toSet
    assert(run(loaded) == run(fresh))
  }

  test("PQ append: frozen codebooks, idempotent deltas, loaded == in-memory") {
    val batch = vecs.filter(col("vec_id") >= 20)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    val fresh = Similarity.buildPqIndex(vecs, "vec_id", "embedding",
      nlist = 3, m = 4, ksub = 4, dims = 16)
    val path = tempDir("graft-pq-append")
    Similarity.savePqIndex(fresh, path)
    Similarity.appendPqIndex(spark, path, batch, "vec_id", "embedding",
      tag = "b0")
    Similarity.appendPqIndex(spark, path, batch, "vec_id", "embedding",
      tag = "b0") // replay must overwrite, not duplicate
    val loaded = Similarity.loadPqIndex(spark, path)
    assert(loaded.assigned.count() == 40 && loaded.vectors.count() == 40)
    // frozen artifacts: append changed neither centroids nor codebooks
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      fresh.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val mem = Similarity.appendToPqIndex(fresh, batch, "vec_id", "embedding")
    def run(ix: Similarity.PqIndex) =
      Similarity.pqSearchIndex(
          vecs.select(col("vec_id").as("id"), col("embedding").as("v")),
          ix, k = 3, nprobe = 2, rerank = 6, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cos")),
          r.getInt(3))).toSet
    assert(run(loaded) == run(mem))
  }

  test("signatures deterministic across runs") {
    val s1 = vecs.select(Similarity.lshSignature(col("embedding"), 8, dims = 16))
      .collect().map(_.getLong(0)).toSeq
    val s2 = vecs.select(Similarity.lshSignature(col("embedding"), 8, dims = 16))
      .collect().map(_.getLong(0)).toSeq
    assert(s1 == s2)
  }
}
