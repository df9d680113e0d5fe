package graft.plans

import graft.SparkTestBase
import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.GenForAll.forAll

/** The native vector/hash expressions must be BIT-IDENTICAL to the HOF
  * forms they replaced — any drift silently changes LSH bucketing,
  * minhash bands, and oracle-checked cosines. */
class VectorHashExpressionsSpec extends SparkTestBase {

  import spark.implicits._

  private val vecGen: Gen[List[Float]] =
    Gen.listOfN(8, Gen.chooseNum(-100, 100).map(i => i / 7.0f))

  test("graft_dot == aggregate(zip_with) fold, bit for bit") {
    val pairs = (for {
      a <- Gen.listOfN(30, vecGen).sample
      b <- Gen.listOfN(30, vecGen).sample
    } yield a.zip(b)).get
    val df = pairs.toDF("a", "b")
    val rows = df.select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("graft_dot null semantics: length mismatch and null input") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f))),          // length mismatch
      (None: Option[Seq[Float]], Some(Seq(1.0f))),       // null side
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f)))     // fine
    ).toDF("a", "b")
    val got = df.select(Similarity.dot(col("a"), col("b"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got == Seq(None, None, Some(11.0)))
  }

  test("graft_lsh_sig == HOF sign-bit fold on double arrays") {
    val vecs = Gen.listOfN(50, Gen.listOfN(16,
      Gen.chooseNum(-1000, 1000).map(_ / 13.0))).sample.get
    val df = vecs.toDF("v")
    for (offset <- Seq(0, 6)) {
      val rows = df.select(
          Similarity.lshSignatureFromDoubles(col("v"), 6, 16, offset)
            .as("native"),
          Similarity.lshSignatureHof(col("v"), 6, 16, offset).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    }
  }

  test("graft_lsh_sig widens float arrays identically to asDouble") {
    val vecs = Gen.listOfN(40, vecGen).sample.get
    val df = vecs.toDF("v")
    val rows = df.select(
        Similarity.lshSignature(col("v"), 5, 8).as("native"),
        Similarity.lshSignatureHof(
          transform(col("v"), _.cast("double")), 5, 8).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_minhash == per-family array_min(xxhash64(lit(i), s))") {
    val texts = Gen.listOfN(40, Gen.listOfN(12,
      Gen.alphaNumStr.map(_.take(6)))).sample.get.map(_.mkString(" "))
    val df = texts.toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("sh"))
    val rows = df.select(
        Dedup.minhashSignature(col("sh"), 16).as("native"),
        Dedup.minhashSignatureHof(col("sh"), 16).as("hof"))
      .collect()
    rows.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_shingles == array_distinct(transform(...)) incl. order") {
    val texts = Gen.listOfN(60, Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "cc", "dd", ""))))
      .sample.get.map(_.mkString(" ")) ++
      Seq("", " ", "a a a a", "x  y")
    val df = texts.toDF("text")
    for (k <- Seq(1, 2, 3, 5)) {
      val rows = df.select(
          Dedup.shingles(col("text"), k).as("native"),
          Dedup.shinglesHof(col("text"), k).as("hof"))
        .collect()
      rows.zip(texts).foreach { case (r, t) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k text='$t'")
      }
    }
  }

  test("graft_token_grams == the positional concat_ws(slice(split)) " +
      "HOF chain, incl. empty tokens, multi-byte text, and n < k") {
    val texts = Gen.listOfN(60, Gen.chooseNum(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "bb", "日本語", "", "x1"))))
      .sample.get.map(_.mkString(" ")) ++
      Seq("", " ", "  ", "a a a a", "x  y", "日本語 a 日本語")
    val df = texts.toDF("text")
    for (k <- Seq(1, 2, 3, 5)) {
      // the exact chain scrubRepeatedSpans used before r15
      val toks = split(col("text"), " ", -1)
      val n = size(toks).cast("long")
      val hof = when(n >= k, transform(sequence(lit(0L), n - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array().cast("array<string>"))
      val rows = df.select(
          call_function("graft_token_grams", col("text"), lit(k))
            .as("native"),
          hof.as("hof"))
        .collect()
      rows.zip(texts).foreach { case (r, t) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k text='$t'")
      }
    }
  }

  test("graft_token_grams arities: 3-arg (text, k, stride) defaults " +
      "keepPartial to false, and a wrong arity raises a descriptive " +
      "error instead of an IndexOutOfBounds (advice r15)") {
    val df = Seq("a b c d e", "", "x y").toDF("text")
    val rows = df.select(
        call_function("graft_token_grams", col("text"), lit(2), lit(2))
          .as("three"),
        call_function("graft_token_grams", col("text"), lit(2), lit(2),
          lit(0)).as("four"))
      .collect()
    rows.foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1)))
    val e = intercept[Exception] {
      df.select(call_function("graft_token_grams", col("text"),
        lit(2), lit(1), lit(0), lit(9))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("expects 2 (text, k)")), msgs(e))
  }

  test("graft_token_grams(stride = k, keepPartial) == the HOF " +
      "tokenSpans C4 span chain, incl. trailing partials and empties") {
    val texts = Gen.listOfN(60, Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "bb", "日本語", "", "x1"))))
      .sample.get.map(_.mkString(" ")) ++
      Seq("", " ", "  ", "a a a a", "x  y")
    val df = texts.toDF("text")
    for (w <- Seq(1, 2, 3, 10)) {
      val rows = df.select(
          Dedup.tokenSpansNative(col("text"), w).as("native"),
          Dedup.tokenSpans(TextAnalysis.tokenize(col("text")), w)
            .as("hof"))
        .collect()
      rows.zip(texts).foreach { case (r, t) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"w=$w text='$t'")
      }
    }
  }

  test("graft_jaccard == intersect-size column formula, bit for bit") {
    val g = Gen.listOfN(10, Gen.oneOf("a", "b", "c", "dd", "ee", ""))
    val pairs = Gen.listOfN(80, Gen.zip(g, g)).sample.get ++
      Seq((Nil, Nil), (List("x"), Nil), (Nil, List("x")),
        (List("x", "x"), List("x")))
    val df = pairs.toDF("a", "b")
    val rows = df.select(
        Dedup.jaccard(col("a"), col("b")).as("native"),
        Dedup.jaccardHof(col("a"), col("b")).as("hof"))
      .collect()
    rows.zip(pairs).foreach { case (r, p) =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"pair=$p")
    }
  }

  test("graft_split_java == HOF trailing-empty-trim split") {
    import graft.etl.DomainPartsTransform
    val inputs = Seq("a,b,c", "a,,b,,", ",,,", "", "x", ",x", "x,",
      "a.b.c.", "..", "no-sep", "a,b,c,,,,,,,,")
    for (pat <- Seq(",", "\\.")) {
      val df = inputs.toDF("s").select(
        DomainPartsTransform.splitLikeJava(col("s"), pat).as("native"),
        DomainPartsTransform.splitLikeJavaHof(col("s"), pat).as("hof"))
      df.collect().zip(inputs).foreach { case (r, in) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"pattern=$pat input='$in'")
      }
    }
    // and both match real Java String.split for non-empty inputs
    inputs.filter(_.nonEmpty).foreach { in =>
      val got = Seq(in).toDF("s")
        .select(DomainPartsTransform.splitLikeJava(col("s"), ","))
        .collect()(0).getSeq[String](0)
      assert(got == in.split(",").toSeq, s"input='$in'")
    }
  }

  test("graft_simhash == exploded 64-aggregate signatures") {
    val texts = Gen.listOfN(40, Gen.listOfN(20,
      Gen.alphaNumStr.map(_.take(5)))).sample.get
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = texts.toDF("id", "text")
    val native = Dedup.simhashSignatures(df, "id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exploded = Dedup.simhashSignaturesExploded(df, "id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == exploded)
  }

  test("graft_simhash_md5 == independent md5/conv column reconstruction") {
    // the same hex-char arithmetic the DuckDB oracle runs, but through
    // Spark's OWN md5/conv/shift functions — an evaluation path that
    // shares nothing with VectorOps.simhashMd5 beyond the MD5 standard
    val texts = (Gen.listOfN(25, Gen.listOfN(12,
      Gen.oneOf(Gen.alphaNumStr.map(_.take(5)), Gen.const(""),
        Gen.const("日本語")))).sample.get
      :+ List("solo")).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = texts.toDF("id", "text")
    val native = Dedup.simhashSignatures(df, "id", col("text"),
        hashFamily = "md5")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val exploded = df.select(col("id"),
      explode(TextAnalysis.tokenize(col("text"))).as("t"))
      .select(col("id"), md5(col("t").cast("binary")).as("hx"))
    val votes = (0 until 64).map { j =>
      val nib = conv(substring(col("hx"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(shiftright(nib, j % 4).bitwiseAND(1) * 2 - 1).as(s"v$j")
    }
    val sig = (0 until 64).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val ref = exploded.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), sig.as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == ref)
  }

  test("native expressions stay inside whole-stage codegen") {
    val dir = tempDir("graft-vec")
    Seq((1L, Seq(1.0f, 2.0f), "a b c")).toDF("id", "v", "text")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(
      Similarity.dot(col("v"), col("v")),
      Similarity.lshSignature(col("v"), 4, 2),
      Dedup.simhash(col("text")),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 2), 4))
    // force execution so AQE finalizes codegen, then check the plan
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("property: graft_token_count equals the HOF tf on random texts") {
    import graft.operators.Retrieval
    import graft.plans.GraftExtensions
    GraftExtensions.install(spark)
    val word = Gen.oneOf("dup", "a", "", "日本語", "dupx")
    val g = Gen.listOfN(10, word)
    forAll(g, 30) { words =>
      // raw join keeps doubled spaces when empty words appear —
      // exactly the split(" ", -1) edge the byte scan must mirror
      val text = words.mkString(" ")
      val df = Seq(Tuple1(text)).toDF("text")
      Seq("dup", "", "日本語", "missing").foreach { term =>
        val native = df.select(org.apache.spark.sql.functions
          .call_function("graft_token_count", col("text"), lit(term)))
          .collect()(0).getLong(0)
        val hof = df.select(Retrieval.tfHof(col("text"), term))
          .collect()(0).getLong(0)
        assert(native == hof, s"text='$text' term='$term'")
      }
    }
  }

  test("property: random strings hash identically via both simhash forms") {
    val g = Gen.listOfN(8, Gen.oneOf(Gen.alphaNumStr.map(_.take(4)),
      Gen.const(""), Gen.const("日本語")))
    forAll(g, 30) { words =>
      val df = Seq((1L, words.mkString(" "))).toDF("id", "text")
      val n = Dedup.simhashSignatures(df, "id", col("text"))
        .collect()(0).getLong(1)
      val e = Dedup.simhashSignaturesExploded(df, "id", col("text"))
        .collect()(0).getLong(1)
      assert(n == e, s"words=$words")
    }
  }
}
