package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Dedup-family semantics on a corpus with PLANTED near-duplicates —
  * the LSH paths must find the planted pairs and only high-similarity
  * pairs, independent of any oracle. */
class DedupSpec extends SparkTestBase {

  import spark.implicits._

  // 20 distinct base docs + 3 planted near-dups of doc 0/1/2.
  lazy val docs = {
    // word ids unique per doc -> base docs are pairwise disjoint
    val base = (0 until 20).map { i =>
      val words = (0 until 40).map(j => s"w${i * 1000 + j}")
      (i.toLong, words.mkString(" "))
    }
    val nearDups = Seq(
      (100L, base(0)._2.replace("w0", "wX")),       // ~1 word changed
      (101L, base(1)._2 + " extra tail"),            // appended words
      (102L, base(2)._2))                            // exact copy
    (base ++ nearDups).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(docs, "doc_id", col("text"))
      .filter(col("copies") > 1).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("keep_id") == 2L) // doc 2 == doc 102
    assert(r(0).getAs[Long]("copies") == 2L)
  }

  test("minhash LSH finds the planted near-dups with high jaccard") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", col("text"),
        threshold = 0.5, numHashes = 16, bands = 16, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)))
    assert(pairs.contains((1L, 101L)))
    assert(pairs.contains((2L, 102L)))
    // base docs are word-disjoint-ish: no cross-base pair should pass 0.5
    assert(pairs.forall { case (a, b) => b - a == 100 })
  }

  test("cross-corpus minhash near-dups match the brute-force cross join") {
    // "train" = base docs, "eval" = planted near-dups: every planted
    // pair crosses the sides, and no within-side pair can appear
    val train = docs.filter(col("doc_id") < 100)
    val eval_ = docs.filter(col("doc_id") >= 100)
    val got = Dedup.crossMinhashNearDups(train, eval_, "doc_id",
        col("text"), threshold = 0.5, numHashes = 16, bands = 16,
        shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 100L), (1L, 101L), (2L, 102L)))
    // brute-force cross Jaccard agrees (recall check, not just spot)
    val sh = Dedup.shingles(col("text"), 3)
    val brute = train.select(col("doc_id").as("id_a"), sh.as("sh_a"))
      .crossJoin(eval_.select(col("doc_id").as("id_b"), sh.as("sh_b")))
      .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
  }

  test("simhash near-dups rank planted pairs closest") {
    val r = Dedup.simhashNearDups(docs, "doc_id", col("text"), maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r.contains((2L, 102L)))  // identical text -> distance 0
    assert(r.contains((0L, 100L)) || r.contains((1L, 101L)))
  }

  test("simhash banding has full recall: equals brute-force hamming") {
    // blocks are derived from maxDist (pigeonhole), so the banded result
    // must EQUAL the all-pairs answer at the requested distance
    // maxDist=0 exercises the single 64-bit-wide block (full-signature
    // equality), where a (1L << 64) - 1 mask would collapse to 0
    for (maxDist <- Seq(0, 3, 8, 16)) {
      val sigs = Dedup.simhashSignatures(docs, "doc_id", col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        d = java.lang.Long.bitCount(sa ^ sb) if d <= maxDist
      } yield (ia, ib, d)).toSet
      val banded = Dedup.simhashNearDups(docs, "doc_id", col("text"),
          maxDist).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute, s"maxDist=$maxDist")
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "doc_id", col("text"), maxDist = 40)
    }
  }

  test("cross-corpus simhash equals brute-force cross hamming") {
    val train = docs.filter(col("doc_id") < 100)
    val eval_ = docs.filter(col("doc_id") >= 100)
    for (family <- Seq("xxhash64", "md5")) {
      def sigsOf(df: org.apache.spark.sql.DataFrame) =
        Dedup.simhashSignatures(df, "doc_id", col("text"), family)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, sa) <- sigsOf(train); (ib, sb) <- sigsOf(eval_)
        d = java.lang.Long.bitCount(sa ^ sb) if d <= 8
      } yield (ia, ib, d)).toSet
      val banded = Dedup.crossSimhashNearDups(train, eval_, "doc_id",
          col("text"), maxDist = 8, hashFamily = family).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute, s"family=$family")
    }
  }

  test("MIH screen equals banded screen equals brute force at several radii") {
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 120L).map(i => (i, rnd.nextLong()))
    // batch: flip 0..9 deterministic bits of some corpus sig, so pairs
    // straddle every tested radius (plus incidental random collisions)
    val batch = (1L to 60L).map { i =>
      val sig = corpus(((i - 1) % 120).toInt)._2
      val flips = (0 until (i % 10).toInt)
        .map(k => 1L << ((i * 7 + k * 13) % 64))
      (1000L + i, flips.foldLeft(sig)(_ ^ _))
    }
    val cDf = corpus.toDF("id", "sig")
    val bDf = batch.toDF("id", "sig")
    for (d <- Seq(0, 3, 8); m <- Seq(4, 8)) {
      val brute = (for {
        (ia, sa) <- corpus; (ib, sb) <- batch
        h = java.lang.Long.bitCount(sa ^ sb) if h <= d
      } yield (ia, ib, h)).toSet
      val banded = Dedup.crossSignatureNearDups(cDf, bDf, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val mih = Dedup.crossSignatureNearDupsMih(cDf, bDf, d, m = m)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute, s"banded d=$d")
      assert(mih == brute, s"mih d=$d m=$m")
    }
    // self-join face: MIH == banded on one signature set
    val allSigs = (corpus ++ batch).toDF("id", "sig")
    val selfBanded = Dedup.signatureNearDups(allSigs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val selfMih = Dedup.signatureNearDupsMih(allSigs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(selfMih == selfBanded)
  }

  test("exact copy has identical simhash and jaccard 1.0") {
    val sig = docs.filter(col("doc_id").isin(2L, 102L))
      .select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    assert(sig(0) == sig(1))
    val j = Dedup.ngramJaccardPairs(
        docs.filter(col("doc_id").isin(2L, 102L)), "doc_id", col("text"))
      .collect()(0).getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("near-dup clustering: multi-hop components and drop set") {
    // path 1-2-3-4-5-6 (diameter 5 -> several propagation rounds),
    // a separate pair, and a triangle
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))
    val drops = Dedup.clusterDropIds(
        Dedup.nearDupClusters(pairs)).collect()
      .map(_.getLong(0)).toSet
    assert(drops == Set(2L, 3L, 4L, 5L, 6L, 11L, 21L, 22L))
  }

  test("clustering worst case: 10k-node path graph converges via pointer jumping") {
    // maximum-diameter component: hop-only propagation needs ~10k
    // rounds (would die at maxIter); adaptive jumping must close it in
    // O(jumpAfter + log n) — the 25-round budget pins that behavior
    val n = 10000
    val path = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    val labels = Dedup.nearDupClusters(path, maxIter = 25)
      .agg(count(lit(1)), sum("cluster"), max("cluster")).collect()(0)
    assert(labels.getLong(0) == n)       // every node labeled
    assert(labels.getLong(1) == 0L)      // all labels = component min 0
    assert(labels.getLong(2) == 0L)
  }

  test("minhash index round-trips through parquet: loaded screen == fresh") {
    val incoming = Seq(
      (200L, docs.collect().find(_.getLong(0) == 0L).get.getString(1)),
      (201L, "nothing like the corpus at all")).toDF("doc_id", "text")
    val fresh = Dedup.buildMinhashIndex(docs, "doc_id", col("text"),
      numHashes = 16, bands = 16, shingleK = 3)
    val path = tempDir("graft-mh-idx")
    Dedup.saveMinhashIndex(fresh, path)
    val loaded = Dedup.loadMinhashIndex(spark, path)
    assert((loaded.numHashes, loaded.bands, loaded.shingleK) ==
      ((fresh.numHashes, fresh.bands, fresh.shingleK)))
    def run(ix: Dedup.MinhashIndex) =
      Dedup.nearDupsAgainstIndex(incoming, "doc_id", col("text"), ix,
          threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Double]("jaccard"))).toSet
    val l = run(loaded)
    assert(l == run(fresh) && l.exists(_._1 == 200L))
    assert(!l.exists(_._1 == 201L))
  }

  test("minhash index append: delta == full rebuild, idempotent replay") {
    val half = docs.filter(col("doc_id") < 10)
    val rest = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
    val incoming = Seq(
      (200L, docs.collect().find(_.getLong(0) == 12L).get.getString(1)),
      (201L, "nothing like the corpus at all")).toDF("doc_id", "text")
    val base = Dedup.buildMinhashIndex(half, "doc_id", col("text"),
      numHashes = 16, bands = 16, shingleK = 3)
    val path = tempDir("graft-mh-append")
    Dedup.saveMinhashIndex(base, path)
    Dedup.appendMinhashIndex(spark, path, rest, "doc_id", col("text"),
      tag = "b0")
    Dedup.appendMinhashIndex(spark, path, rest, "doc_id", col("text"),
      tag = "b0") // replay overwrites its own delta
    val loaded = Dedup.loadMinhashIndex(spark, path)
    assert(loaded.banded.count() ==
      loaded.banded.select("id", "band").distinct().count())
    def run(ix: Dedup.MinhashIndex) =
      Dedup.nearDupsAgainstIndex(incoming, "doc_id", col("text"), ix,
          threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Double]("jaccard"))).toSet
    val viaDelta = run(loaded)
    // appended banding is bit-identical to a full rebuild's
    val rebuilt = Dedup.buildMinhashIndex(docs.filter(col("doc_id") < 20),
      "doc_id", col("text"), numHashes = 16, bands = 16, shingleK = 3)
    assert(viaDelta == run(rebuilt))
    assert(viaDelta == run(Dedup.appendToMinhashIndex(base, rest,
      "doc_id", col("text"))))
    // the screen actually uses the appended half: doc 200 == doc 12
    assert(viaDelta.exists(p => p._1 == 200L && p._2 == 12L))
  }

  test("minhash signature is deterministic across evaluations") {
    val a = docs.select(Dedup.minhashSignature(
      Dedup.shingles(col("text")), 8)).collect().map(_.getSeq[Long](0))
    val b = docs.select(Dedup.minhashSignature(
      Dedup.shingles(col("text")), 8)).collect().map(_.getSeq[Long](0))
    assert(a.toSeq == b.toSeq)
  }

  test("span dedup keeps first occurrence and rebuilds documents") {
    // doc 1: spans A B; doc 2: repeats doc 1's span A then its own C;
    // doc 3: exact copy of doc 1 -> fully deduplicated
    val a = (1 to 3).map(i => s"a$i").mkString(" ")   // 3-token span A
    val b = (1 to 3).map(i => s"b$i").mkString(" ")
    val c = (1 to 3).map(i => s"c$i").mkString(" ")
    val in = Seq(
      (1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$a $b")
    ).toDF("doc_id", "text")
    val r = Dedup.spanDedup(in, "doc_id", col("text"), w = 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((2L, 2L, s"$a $b")))
    assert(r(2L) == ((2L, 1L, c)))          // span A already seen in doc 1
    assert(r(3L) == ((2L, 0L, "")))         // everything seen before
  }

  test("span dedup within one document drops repeated spans") {
    val a = "x1 x2 x3"
    val in = Seq((7L, s"$a $a $a")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(in, "doc_id", col("text"), w = 3).collect()(0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L)
    assert(r.getString(3) == a)
  }

  test("span dedup keeps trailing partial spans distinct") {
    // 5 tokens at w=3 -> spans of 3 and 2 tokens
    val in = Seq((1L, "p q r s t"), (2L, "s t")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(in, "doc_id", col("text"), w = 3)
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(r(1L) == "p q r s t")
    assert(r(2L) == "")                     // "s t" span seen as doc 1's tail
  }

  test("scrubRepeatedSpans: hand-built cases — boundary-straddling " +
      "repeats spanDedup misses, within-doc runs coalescing to one " +
      "maximal span, short docs untouched") {
    val in = Seq(
      // doc 1 is globally first: nothing flagged
      (1L, "a b c d e f g h"),
      // doc 2 repeats doc 1's tokens c..g (pos 2..6) — a repeat that
      // straddles ANY fixed 5-token span boundary of doc 2
      (2L, "x1 x2 c d e f g y1"),
      // doc 3: three contiguous copies of doc 1's prefix a..e ->
      // windows [0,4],[5,9],[10,14] coalesce to ONE span [0,14]
      (3L, "a b c d e a b c d e a b c d e"),
      // doc 4: shorter than k -> passes through with zero grams
      (4L, "a b c d"),
      // doc 5: empty text
      (5L, "")
    ).toDF("doc_id", "text")
    val r = Dedup.scrubRepeatedSpans(in, "doc_id", col("text"), k = 5)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4))))
      .toMap
    assert(r(1L) == ((8L, 0L, 0L, "a b c d e f g h")))
    assert(r(2L) == ((8L, 1L, 5L, "x1 x2 y1")))
    assert(r(3L) == ((15L, 1L, 15L, "")))
    assert(r(4L) == ((4L, 0L, 0L, "a b c d")))
    assert(r(5L) == ((1L, 0L, 0L, "")))
    // the C4-style non-overlapping form misses doc 2's repeat entirely
    // (c..g never aligns with a 5-token span boundary) — the published
    // gap this operator closes
    val c4 = Dedup.spanDedup(in.filter(col("doc_id").isin(1L, 2L)),
        "doc_id", col("text"), w = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(c4(2L) == 2L, "C4 spans keep doc 2 whole — nothing flagged")
  }

  test("scrubRepeatedSpans matches an exhaustive reference scrub and " +
      "hashGrams ≡ text grams on a collision-free corpus") {
    val rnd = new scala.util.Random(61)
    // small vocabulary forces plenty of genuine 4-gram collisions
    val corpus = (1L to 40L).map { id =>
      id -> (0 until (5 + rnd.nextInt(30)))
        .map(_ => s"t${rnd.nextInt(12)}").mkString(" ")
    }
    val k = 4
    // reference implementation: flag every non-first occurrence,
    // merge contiguous/overlapping windows, rebuild
    val toks = corpus.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val occ = for {
      (id, ts) <- toks
      p <- 0 to ts.length - k
    } yield (ts.slice(p, p + k).mkString(" "), id, p)
    val firstOf = occ.groupBy(_._1).map { case (g, os) =>
      g -> os.map(o => (o._2, o._3)).min
    }
    val expect = toks.map { case (id, ts) =>
      val flags = occ.filter(o => o._2 == id && firstOf(o._1) != (id, o._3))
        .map(o => (o._3.toLong, (o._3 + k - 1).toLong)).sortBy(_._1)
      val merged = flags.foldLeft(List.empty[(Long, Long)]) {
        case (acc @ ((s0, e0) :: rest), (s, e)) =>
          if (s <= e0 + 1) (s0, math.max(e0, e)) :: rest
          else (s, e) :: acc
        case (Nil, iv) => iv :: Nil
      }.reverse
      val covered = merged.map { case (s, e) => e - s + 1 }.sum
      val clean = ts.zipWithIndex.collect {
        case (t, i) if !merged.exists(m => i >= m._1 && i <= m._2) => t
      }.mkString(" ")
      id -> ((ts.length.toLong, merged.length.toLong, covered, clean))
    }.toMap
    val in = corpus.toDF("doc_id", "text")
    def got(hash: Boolean) =
      Dedup.scrubRepeatedSpans(in, "doc_id", col("text"), k, hash)
        .collect().map(x => x.getLong(0) ->
          ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4))))
        .toMap
    val text = got(hash = false)
    assert(text == expect)
    assert(got(hash = true) == expect,
      "xxhash64 gram keys must scrub identically on a collision-free corpus")
  }

  test("spanDedup keep-first forms are identical: per-span min " +
      "aggregate (default, map-side combined) vs the legacy " +
      "row_number window, incl. a planted hot span") {
    val rnd = new scala.util.Random(29)
    val corpus = (1L to 50L).map { id =>
      val body = (0 until (3 + rnd.nextInt(20)))
        .map(_ => s"t${rnd.nextInt(8)}").mkString(" ")
      // plant one 5-token boilerplate span into most docs
      id -> (if (id % 3 != 0) s"b1 b2 b3 b4 b5 $body" else body)
    }.toDF("doc_id", "text")
    for (w <- Seq(4, 5, 10)) {
      def run(viaWindow: Boolean) =
        Dedup.spanDedupImpl(corpus, "doc_id", col("text"), w,
            keepFirstViaWindow = viaWindow)
          .collect().map(x => x.getLong(0) ->
            ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
      assert(run(viaWindow = false) === run(viaWindow = true),
        s"w=$w: min-agg keep-first must equal the window form")
    }
  }

  test("scrubRepeatedSpans keep-first forms are identical: the " +
      "AQE-splittable groupBy(min(struct))+join (default) vs the " +
      "legacy row_number window (r14), incl. a planted hot gram") {
    val rnd = new scala.util.Random(83)
    // random corpus with real collisions, PLUS one boilerplate 6-token
    // header planted in most docs — the skewed-gram input VERDICT r14
    // #5 names (a license header repeated across a crawl)
    val corpus = (1L to 60L).map { id =>
      val body = (0 until (4 + rnd.nextInt(25)))
        .map(_ => s"t${rnd.nextInt(10)}").mkString(" ")
      id -> (if (id % 4 != 0) s"hdr1 hdr2 hdr3 hdr4 hdr5 hdr6 $body"
             else body)
    }.toDF("doc_id", "text")
    for (k <- Seq(3, 5)) {
      def run(viaWindow: Boolean) =
        Dedup.scrubRepeatedSpansImpl(corpus, "doc_id", col("text"), k,
            hashGrams = false, keepFirstViaWindow = viaWindow)
          .collect().map(x => x.getLong(0) ->
            ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4))))
          .toMap
      assert(run(viaWindow = false) === run(viaWindow = true),
        s"k=$k: agg-join keep-first must equal the window form")
    }
  }

  test("contamination hits count distinct shared k-grams; decontaminate drops hit docs") {
    val bench = Seq((100L, "e1 e2 e3 e4 e5 e6")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "e1 e2 e3 e4 e5 e6 x"), // shares 2 distinct 5-grams
      (2L, "w1 w2 w3 w4 w5 w6"),  // clean
      (3L, "e2 e3 e4 e5 e6 y")    // shares 1
    ).toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, "doc_id", col("text"),
        bench, col("text"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L, 3L -> 1L))
    val kept = Dedup.decontaminate(corpus, "doc_id", col("text"),
        bench, col("text"), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("short documents contaminate via whole-text shingle equality") {
    // < k tokens -> the single whole-text shingle; only exact match hits
    val bench = Seq((100L, "tiny doc")).toDF("doc_id", "text")
    val corpus = Seq((1L, "tiny doc"), (2L, "tiny docs"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, "doc_id", col("text"),
        bench, col("text"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L))
  }

  test("containment: quote-in-page pairs surface; Jaccard would miss them") {
    import org.apache.spark.sql.functions.col
    // doc 1: a long "page"; doc 2: a 4-token "quote" fully inside it;
    // doc 3: unrelated; doc 4: shares only the stop-gram "the"
    val page = (1 to 40).map(i => s"w$i").mkString(" ") + " the"
    val docs = Seq(
      (1L, page),
      (2L, "w5 w6 w7 w8"),
      (3L, "x1 x2 x3 the"),
      (4L, "the")).toDF("doc_id", "text")
    // cap df at 2: "the" (df 3) leaves the index entirely
    val got = Dedup.containmentPairs(docs, "doc_id", col("text"),
        k = 1, minContainMicro = 900000L, maxGramDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // quote (4 distinct grams) fully contained: contain_b = 1e6 — the
    // asymmetric signal; the page's denominator is its CAPPED gram
    // count (40 — "the" left the index, per the documented semantics)
    assert(got.toSeq == Seq((1L, 2L, 4L, 4L * 1000000L / 40L, 1000000L)))
    // symmetric Jaccard on the same pair is far below any dedup
    // threshold — the case this operator exists for
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), k = 1)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .collect()(0).getDouble(2)
    assert(j < 0.11)
    // doc 4's only gram is capped away: it pairs with nothing, and no
    // stop-gram-only pair (1,3)/(1,4)/(3,4) appears
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
    // the documented cap recall loss, pinned explicitly: doc 4 ("the")
    // is FULLY contained in doc 3 ("x1 x2 x3 the") — true containment
    // 1.0 — but their only shared gram has df 3 > maxGramDf 2, so the
    // pair is absent even with the threshold at zero (overlap carried
    // ONLY by capped grams is dropped by design)
    val atZero = Dedup.containmentPairs(docs, "doc_id", col("text"),
        k = 1, minContainMicro = 0L, maxGramDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!atZero.contains((3L, 4L)))
    // ...and raising the cap restores it (recall is monotone in the cap)
    val atCap3 = Dedup.containmentPairs(docs, "doc_id", col("text"),
        k = 1, minContainMicro = 900000L, maxGramDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(atCap3.contains((3L, 4L)))
  }

  test("incremental clustering equals a full recompute over the union") {
    import org.apache.spark.sql.functions.col
    def pairsDf(ps: Seq[(Long, Long)]) = ps.toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(31)
    // random graph over 80 nodes, edges split old/new — new edges
    // merge clusters, attach brand-new nodes, and include no-op
    // duplicates inside existing clusters
    val all = (0 until 120).map { _ =>
      val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(100).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val (oldE, newE) = all.splitAt(70)
    val oldLabels = Dedup.nearDupClusters(pairsDf(oldE))
    val inc = labels(Dedup.nearDupClustersIncremental(
      oldLabels, pairsDf(newE)))
    val full = labels(Dedup.nearDupClusters(pairsDf(all)))
    // the full recompute only covers pair endpoints; incremental also
    // carries old ids forward — compare on the full run's domain, and
    // every extra incremental id must keep its old label
    assert(full.keySet.subsetOf(inc.keySet))
    assert(full.forall { case (id, c) => inc(id) == c })
    val oldMap = labels(oldLabels)
    assert((inc.keySet -- full.keySet).forall(id => inc(id) == oldMap(id)))
    // and it composes: a second increment over the already-incremental
    // labels equals the three-way full recompute
    val extra = Seq((0L, 99L), (150L, 151L))
    val inc2 = labels(Dedup.nearDupClustersIncremental(
      Dedup.nearDupClustersIncremental(oldLabels, pairsDf(newE)),
      pairsDf(extra)))
    val full2 = labels(Dedup.nearDupClusters(pairsDf(all ++ extra)))
    assert(full2.forall { case (id, c) => inc2(id) == c })
  }
}
