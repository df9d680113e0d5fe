package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{BpeTrain, Dedup, HeavyHitters, Sampling, Similarity, TextAnalysis}
import graft.sources.Tables

import DedupQueries.{benchSplit, fivegramShinglesSql}

/** Training-data TEXT operators over `documents` (SURVEY §7.4
  * beyond-parity extensions): text analysis, the document dedup
  * family, sampling, curation. Every entry is oracle-checked —
  * DuckDB replays the same computation bit-deterministically (md5
  * signature replay where the pipeline is hash-based). The
  * embedding-vector family lives in [[VectorQueries]], the
  * binary-column media family in [[MediaQueries]] (round-8 split). */
object TextQueries {

  private[query] def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // ---- text analysis (oracle) ----

  def textStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("__toks", TextAnalysis.tokenize(col("text")))
      .select(
        col("doc_id"),
        size(col("__toks")).as("n_tokens"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.upperCount(col("text")).as("n_upper"),
        TextAnalysis.avgTokenLenFromTokens(col("__toks")).as("avg_token_len"))
      .orderBy("doc_id")

  val textStatsSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
      |  length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
      |  CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
      |    ELSE CAST(list_sum(list_transform(string_split(text, ' '),
      |           t -> length(t))) AS DOUBLE) / len(string_split(text, ' '))
      |  END AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  def textQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.stopwordRatio(col("text"), TextAnalysis.enStopwords)
        .as("stopword_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  val textQualitySql: String = {
    val stop = TextAnalysis.enStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
       |           FROM documents),
       |r AS (SELECT doc_id, text,
       |  CAST(len(toks) AS DOUBLE) AS n_tok,
       |  CASE WHEN len(toks) = 0 THEN 0.0
       |    ELSE CAST(len([x FOR x IN toks IF x IN ($stop)]) AS DOUBLE)
       |         / len(toks) END AS stopword_ratio,
       |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |       AS DOUBLE) AS n_punct,
       |  CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars
       |  FROM t)
       |SELECT doc_id, stopword_ratio,
       |  least(n_tok / 50.0, 1.0) * 0.4 +
       |  least(stopword_ratio * 5.0, 1.0) * 0.4 +
       |  greatest(0.0, 1.0 - n_punct / n_chars * 10.0) * 0.2 AS quality
       |FROM r ORDER BY doc_id""".stripMargin
  }

  def tokenTotals(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("total_tokens"))
      .orderBy("lang")

  val tokenTotalsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- deterministic sampling / mixing / packing ----

  /** Coin expression shared with the oracle: first 8 hex chars of
    * md5 of the stringified key — lowercase hex in both engines. */
  private[query] def coinSql(key: String): String =
    s"substr(md5(CAST($key AS VARCHAR)), 1, 8)"

  def sampleBernoulli(s: SparkSession, dir: String): DataFrame =
    Sampling.bernoulli(docs(s, dir), col("doc_id"), 0.1)
      .select("doc_id", "source").orderBy("doc_id")

  val sampleBernoulliSql: String =
    s"""SELECT doc_id, source FROM documents
       |WHERE ${coinSql("doc_id")} <= '${Sampling.hexThreshold(0.1)}'
       |ORDER BY doc_id""".stripMargin

  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedN(docs(s, dir), col("lang"), col("doc_id"), 20)
      .select("doc_id", "lang").orderBy("doc_id")

  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY ${coinSql("doc_id")}, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= 20 ORDER BY doc_id""".stripMargin

  private val mixRates = Seq(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  def corpusMix(s: SparkSession, dir: String): DataFrame =
    Sampling.mixCorpora(docs(s, dir), col("source"), col("doc_id"),
        mixRates.toMap)
      .select("doc_id", "source").orderBy("doc_id")

  val corpusMixSql: String = {
    val whens = mixRates.map { case (src, r) =>
      s"WHEN '$src' THEN '${Sampling.hexThreshold(r)}'"
    }.mkString(" ")
    s"""SELECT doc_id, source FROM documents
       |WHERE ${coinSql("doc_id")} <= CASE source $whens ELSE NULL END
       |ORDER BY doc_id""".stripMargin
  }

  def packChunks(s: SparkSession, dir: String): DataFrame =
    Sampling.packTokenBudget(docs(s, dir), col("lang"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long"), 512)
      .select("doc_id", "lang", "chunk").orderBy("doc_id")

  val packChunksSql: String =
    """SELECT doc_id, lang,
      |  CAST(ceil(SUM(len(string_split(text, ' '))) OVER (
      |    PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    / 512.0) AS BIGINT) - 1 AS chunk
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Top-3 salient terms per document (TF with rarity tie-break — the
    * integer-exact TF-IDF core; see [[TextAnalysis.topTerms]]). */
  def topTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTerms(docs(s, dir), "doc_id", col("text"), 3)
      .select("doc_id", "term", "tf", "df")
      .orderBy("doc_id", "term")

  val topTermsSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |  row_number() OVER (PARTITION BY tf.doc_id
      |    ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rn
      |  FROM tf JOIN dfreq USING (term))
      |SELECT doc_id, term, tf, df FROM r WHERE rn <= 3
      |ORDER BY doc_id, term""".stripMargin

  /** PII scrub under the hash gate. The synthetic corpus contains no
    * PII, so the query MANUFACTURES it deterministically (an email, a
    * phone, an IPv4 derived from doc_id — identical closed-form
    * expressions in both engines), then redacts and counts. Output
    * carries md5 of the redacted text, so the gate certifies the exact
    * post-scrub bytes, not just the counts. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail"),
      col("doc_id") % 10, lit(".com or +1-555-"),
      lpad(col("doc_id").cast("string"), 4, "0"),
      lit(" at 10.0."), col("doc_id") % 256, lit("."),
      (col("doc_id") * 7) % 256)
    docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.redactPii(planted).as("__red"),
        TextAnalysis.piiCounts(planted).as("__c"))
      .select(col("doc_id"),
        md5(col("__red").cast("binary")).as("redacted_md5"),
        col("__c.n_emails"), col("__c.n_phones"), col("__c.n_ips"))
      .orderBy("doc_id")
  }

  val piiRedactSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    s"""WITH p AS (SELECT doc_id,
       |  text || ' contact user' || doc_id || '@mail' || (doc_id % 10)
       |    || '.com or +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
       |    || ' at 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
       |    AS t FROM documents)
       |SELECT doc_id,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g')) AS redacted_md5,
       |  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS n_ips
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Language-ID + fingerprint, oracle-checked end to end: the marker
    * argmax is re-expressed closed-form in SQL, and the fingerprint
    * here is md5 (DuckDB-shared). The engine's rolling xxhash64 chain
    * ([[TextAnalysis.fingerprint]]) has no DuckDB equivalent and stays
    * spec-locked (TextAnalysisSpec). */
  def langFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.langGuess(col("text")).as("lang_guess"),
      md5(col("text").cast("binary")).as("fp_md5"))
      .orderBy("doc_id")

  val langFingerprintSql: String = {
    def hits(lang: String): String = {
      val words = TextAnalysis.langMarkers(lang).map(w => s"'$w'").mkString(", ")
      s"len([x FOR x IN toks IF x IN ($words)]) AS h_$lang"
    }
    // ties resolve to the lexicographically-first language code, same
    // as the Spark reduce (replace only on strictly-greater hits over
    // the sorted marker list: de, en, es, fr)
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
       |           FROM documents),
       |h AS (SELECT doc_id, text,
       |  ${hits("de")}, ${hits("en")}, ${hits("es")}, ${hits("fr")}
       |  FROM t)
       |SELECT doc_id,
       |  CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
       |       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
       |       WHEN h_es >= h_fr THEN 'es'
       |       ELSE 'fr' END AS lang_guess,
       |  md5(text) AS fp_md5
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** 80/10/10 deterministic hash split over doc_id. */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(docs(s, dir), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").orderBy("doc_id")

  val hashSplitSql: String = {
    val t = Seq(0.8, 0.9, 1.0).map(Sampling.hexThreshold)
    s"""SELECT doc_id,
       |  CASE WHEN ${coinSql("doc_id")} <= '${t(0)}' THEN 'train'
       |       WHEN ${coinSql("doc_id")} <= '${t(1)}' THEN 'val'
       |       WHEN ${coinSql("doc_id")} <= '${t(2)}' THEN 'test'
       |  END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Deterministic 8-shard corpus shuffle (seeded). */
  def shuffleShards(s: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShards(docs(s, dir), col("doc_id"), 8, "seed42")
      .select("doc_id", "shard", "pos").orderBy("doc_id")

  val shuffleShardsSql: String =
    """WITH h AS (SELECT doc_id,
      |           md5('seed42' || CAST(doc_id AS VARCHAR)) AS h
      |           FROM documents),
      |a AS (SELECT doc_id,
      |        CAST(('0x' || substr(h,1,6)) AS BIGINT) % 8 AS shard,
      |        substr(h,7,8) AS ord FROM h)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
      |       AS BIGINT) - 1 AS pos
      |FROM a ORDER BY doc_id""".stripMargin

  /** Gopher-style bigram repetition signals per document. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(docs(s, dir), "doc_id", col("text"),
        n = 2)
      .orderBy("doc_id")

  val repetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |        THEN [array_to_string(toks[i : i+1], ' ')
      |              FOR i IN range(1, len(toks))]
      |        ELSE [array_to_string(toks,' ')] END) AS gram FROM t),
      |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1,2),
      |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
      |        count(*) AS n_distinct,
      |        max({'cnt': cnt, 'gram': gram}) AS top FROM c GROUP BY 1)
      |SELECT doc_id, n_grams, n_distinct, top.gram AS top_gram,
      |  top.cnt AS top_count,
      |  CAST(top.cnt AS DOUBLE) / n_grams AS top_frac,
      |  1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_frac
      |FROM a ORDER BY doc_id""".stripMargin

  /** End-to-end curation pipeline — the flagship composition a
    * pretraining corpus actually runs, with every stage an operator
    * proven above: quality gate + repetition gate (scan-level
    * signals), benchmark decontamination (broadcast gram anti-join),
    * deterministic 90/10 hash split, per-(split, lang) token budget.
    * The whole plan shuffles only on corpus-sized keys (doc_id,
    * (doc, gram)) — nothing here degrades at 100 TB. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val (corpus, bench) = benchSplit(docs(s, dir))
    // Three per-doc signals as INDEPENDENT single-pass branches joined
    // once on doc_id — gating between stages would re-derive the
    // filtered lineage for every downstream explode (filters commute,
    // so the final row set is identical either way).
    val scored = corpus.select(col("doc_id"), col("lang"),
      size(TextAnalysis.tokenize(col("text"))).cast("long").as("n_tok"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val reps = TextAnalysis
      .repetitionSignals(corpus, "doc_id", col("text"), n = 2)
      .select(col("doc_id"), col("dup_frac"))
    val contaminated = Dedup.contaminationHits(corpus, "doc_id",
        col("text"), bench, col("text"), k = 5)
      .select(col("id").as("doc_id"))
    val kept = scored.join(reps, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(col("quality") >= 0.55 && col("dup_frac") <= 0.08)
    Sampling.hashSplit(kept, col("doc_id"),
        Seq("train" -> 0.9, "val" -> 0.1))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"))
      .orderBy("split", "lang")
  }

  val curationPipelineSql: String = {
    val stop = TextAnalysis.enStopwords.map(w => s"'$w'").mkString(", ")
    val coin = coinSql("doc_id")
    s"""WITH t AS (SELECT doc_id, lang, text, string_split(text,' ') AS toks
       |           FROM documents WHERE doc_id % 100 >= 3),
       |q AS (SELECT doc_id,
       |  least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4 +
       |  least(CASE WHEN len(toks) = 0 THEN 0.0
       |        ELSE CAST(len([x FOR x IN toks IF x IN ($stop)]) AS DOUBLE)
       |             / len(toks) END * 5.0, 1.0) * 0.4 +
       |  greatest(0.0, 1.0 -
       |    CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |         AS DOUBLE)
       |    / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0) * 0.2
       |  AS quality FROM t),
       |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
       |        THEN [array_to_string(toks[i : i+1], ' ')
       |              FOR i IN range(1, len(toks))]
       |        ELSE [array_to_string(toks,' ')] END) AS gram FROM t),
       |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1,2),
       |a AS (SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)
       |        / CAST(sum(cnt) AS BIGINT) AS dup_frac FROM c GROUP BY 1),
       |d5 AS (SELECT doc_id, string_split(text,' ') AS toks
       |       FROM documents),
       |s5 AS (SELECT doc_id, $fivegramShinglesSql AS sh FROM d5),
       |b AS (SELECT DISTINCT unnest(sh) AS gram FROM s5
       |      WHERE doc_id % 100 < 3),
       |hit AS (SELECT DISTINCT c2.doc_id
       |        FROM (SELECT doc_id, unnest(sh) AS gram FROM s5
       |              WHERE doc_id % 100 >= 3) c2 JOIN b USING (gram)),
       |kept AS (SELECT t.doc_id, t.lang, len(t.toks) AS n_tok FROM t
       |         JOIN q USING (doc_id) JOIN a USING (doc_id)
       |         WHERE q.quality >= 0.55 AND a.dup_frac <= 0.08
       |           AND t.doc_id NOT IN (SELECT doc_id FROM hit)),
       |sp AS (SELECT lang, n_tok,
       |        CASE WHEN $coin <= '${Sampling.hexThreshold(0.9)}'
       |             THEN 'train'
       |             WHEN $coin <= '${Sampling.hexThreshold(1.0)}'
       |             THEN 'val' END AS split
       |       FROM kept)
       |SELECT split, lang, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens
       |FROM sp GROUP BY 1,2 ORDER BY 1,2""".stripMargin
  }

  /** Heavy-hitter GUARANTEE gate (derived-boolean pattern, like the
    * ANN recall gates): for every token whose exact count clears the
    * N/m line, certify it surfaced in the m=50 SpaceSaving sketch
    * with an overestimating count within its recorded error. The row
    * set is exact-count-determined — sketch content below the
    * guarantee line is merge-order-dependent by nature and stays out
    * of the gate; the oracle recomputes the exact side closed-form
    * with both booleans necessarily true. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(
      explode(TextAnalysis.tokenize(col("text"))).as("term"))
    val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
    val total = exact.agg(sum("exact_cnt").as("total"))
    val sketch = HeavyHitters.sketchTopK(toks, col("term"), m = 50)
    exact.crossJoin(broadcast(total))
      .filter(col("exact_cnt") * 50 > col("total"))
      .join(sketch, Seq("term"), "left")
      .select(col("term"), col("exact_cnt"),
        col("cnt").isNotNull.as("found"),
        (col("cnt").isNotNull && col("cnt") >= col("exact_cnt") &&
          col("cnt") - col("err") <= col("exact_cnt")).as("bound_ok"))
      .orderBy("term")
  }

  val heavyHittersSql: String =
    """WITH t AS (SELECT unnest(string_split(text,' ')) AS term
      |           FROM documents),
      |e AS (SELECT term, count(*) AS exact_cnt FROM t GROUP BY 1),
      |n AS (SELECT sum(exact_cnt) AS total FROM e)
      |SELECT term, exact_cnt, true AS found, true AS bound_ok
      |FROM e, n WHERE exact_cnt * 50 > total ORDER BY term""".stripMargin

  /** PERSISTED INCREMENTAL heavy-hitters index under the hash gate
    * (the [[graft.operators.CmsIndex]] tier — frequency companion of
    * q_segment_distinct_inc's HLL index): the token stream splits
    * deterministically in two (doc_id parity), the base half is saved
    * as a CMS blob + SpaceSaving candidate set, the second half
    * appends TWICE under one delta tag (replay must overwrite — CMS
    * merge is ADDITION, so unlike HLL a duplicated delta would
    * double-count), and the LOADED index must certify, for every term
    * whose exact count clears the N/m line: (a) `found` — it surfaced
    * in the candidate union (the per-batch SpaceSaving superset
    * lemma); (b) `bound_ok` — the merged-sketch estimate brackets the
    * exact count from above within eps*N; (c) `blob_identical` — the
    * merged base+delta blob is BYTE-EQUAL to a fresh single-pass
    * sketch of the full history (counter addition is exact), the
    * claim that makes incremental maintenance lossless at 100 TB:
    * cross-day term profiles union yesterday's blobs instead of
    * rescanning history. */
  // one-scan + AQE-free eager body (r20; see PipelineQueries.oneScan):
  // tokenize once, checkpoint, re-read blocks for every index op and
  // the exact leg. r21 (ADVICE): checkpoint the PRE-explode token
  // ARRAYS, not the exploded per-token rows — the array form holds
  // one row per doc (tokens stored once, no per-token row overhead or
  // doc_id duplication), ~2-3x fewer block bytes living across the
  // eager ops and the bench's min-of-N reruns, while each consumer
  // re-derives the exploded stream from blocks with a codegen explode.
  // (The r20 "28s at 8 cores" cell this row carried was adjudicated a
  // co-tenant bandwidth burst — its own bw1/calib1/load1 samples show
  // it — not checkpoint memory pressure; see OPTIMIZATION_r21.md.)
  def heavyHittersInc(s: SparkSession, dir: String): DataFrame =
    QueryOps.withoutAqe(s) {
    import graft.operators.CmsIndex
    val tokArrays = docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenize(col("text")).as("__toks"))
      .localCheckpoint(eager = false)
    val toks = tokArrays.select(col("doc_id"),
      explode(col("__toks")).as("term"))
    val path = graft.WorkDir.fresh(s, "cmsidx")
    val half = pmod(col("doc_id"), lit(2L))
    CmsIndex.saveCmsIndex(toks.filter(half === 0), col("term"), path)
    CmsIndex.appendCmsIndex(s, path, toks.filter(half === 1),
      col("term"), "d1")
    CmsIndex.appendCmsIndex(s, path, toks.filter(half === 1),
      col("term"), "d1")
    val (skInc, nInc) = CmsIndex.loadMergedSketch(s, path)
    // fresh single-pass sketch of the SAME full stream, for the
    // bit-identity leg — byte equality computed once, emitted in-plan
    val freshPath = s"${path}_fresh"
    CmsIndex.saveCmsIndex(toks, col("term"), freshPath)
    val (skFresh, nFresh) = CmsIndex.loadMergedSketch(s, freshPath)
    val blobEq = java.util.Arrays.equals(skInc, skFresh) && nInc == nFresh
    val bound = CmsIndex.epsBound(CmsIndex.DefaultEps, nInc)
    val est = CmsIndex.estimateTerms(CmsIndex.loadCandidates(s, path), skInc)
    val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
    val total = exact.agg(sum("exact_cnt").as("total"))
    exact.crossJoin(broadcast(total))
      .filter(col("exact_cnt") * CmsIndex.DefaultCapacity > col("total"))
      .join(est, Seq("term"), "left")
      .select(col("term"), col("exact_cnt"),
        col("est").isNotNull.as("found"),
        coalesce(col("est") >= col("exact_cnt") &&
          col("est") <= col("exact_cnt") + lit(bound), lit(false))
          .as("bound_ok"),
        lit(blobEq).as("blob_identical"))
      .orderBy("term")
    }

  val heavyHittersIncSql: String =
    """WITH t AS (SELECT unnest(string_split(text,' ')) AS term
      |           FROM documents),
      |e AS (SELECT term, count(*) AS exact_cnt FROM t GROUP BY 1),
      |n AS (SELECT sum(exact_cnt) AS total FROM e)
      |SELECT term, exact_cnt, true AS found, true AS bound_ok,
      |  true AS blob_identical
      |FROM e, n WHERE exact_cnt * 50 > total ORDER BY term""".stripMargin

  /** Normalization gate: md5 of the normalized bytes certifies the
    * exact lowercase+NFC+whitespace-collapsed output against DuckDB's
    * independent utf8proc implementation. A PLANTED suffix of
    * decomposed accents, double spaces, and mixed case exercises the
    * non-trivial paths on every row (the corpus itself is ASCII). */
  def normalize(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit("  Mixed CASE  été Å  "), col("doc_id"))
    docs(s, dir).select(col("doc_id"),
        md5(TextAnalysis.normalizeText(planted).cast("binary"))
          .as("norm_md5"),
        length(TextAnalysis.normalizeText(planted)).as("n_chars"))
      .orderBy("doc_id")
  }

  val normalizeSql: String =
    """WITH p AS (SELECT doc_id,
      |  text || '  Mixed CASE  e' || chr(769) || 'te' || chr(769) ||
      |  ' ' || chr(8491) || '  ' || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents),
      |n AS (SELECT doc_id,
      |  trim(regexp_replace(nfc_normalize(lower(t)), ' +', ' ', 'g'))
      |    AS norm FROM p)
      |SELECT doc_id, md5(norm) AS norm_md5, length(norm) AS n_chars
      |FROM n ORDER BY doc_id""".stripMargin

  /** Oracle-checked queries. */
  /** Snapshot diff ([[graft.operators.Snapshots.diff]]): the "new"
    * snapshot is carved deterministically from documents — doc_id%7=0
    * removed, doc_id%5=0 revised (suffix appended), doc_id%11=0
    * re-added under a shifted key — so both engines compute the same
    * closed-form add/remove/change classification. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val revised = d.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    val added = d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    graft.operators.Snapshots.diff(d, revised.unionByName(added),
        "doc_id", _ => col("text"))
      .orderBy("doc_id")
  }

  val snapshotDiffSql: String =
    """WITH old AS (SELECT doc_id, text FROM documents),
      |nw AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |  WHERE doc_id % 11 = 0),
      |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
      |         END AS status
      |  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
      |SELECT doc_id, status FROM j WHERE status IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** Overlapping token chunking
    * ([[graft.operators.TextAnalysis.chunkTokens]]): 100-token
    * windows every 80 tokens (20-token overlap) over a bounded doc
    * set; the oracle regenerates the windows with generate_series +
    * list slicing. Certifies the generator fan-out, the slice
    * arithmetic, and the shorter tail window. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(
        docs(s, dir).filter(col("doc_id") < 100 && col("text").isNotNull),
        "doc_id", col("text"), size = 100, stride = 80)
      .withColumn("chunk_md5", md5(col("chunk_text").cast("binary")))
      .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
        col("chunk_md5"))
      .orderBy("doc_id", "chunk_ix")

  val chunkOverlapSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents
      |           WHERE doc_id < 100 AND text IS NOT NULL),
      |s AS (SELECT doc_id, toks,
      |        CAST(unnest(generate_series(0,
      |          CAST(greatest(len(toks) - 1, 0) AS BIGINT), 80)) AS BIGINT)
      |          AS st
      |      FROM t)
      |SELECT doc_id, CAST(st // 80 AS BIGINT) AS chunk_ix,
      |  md5(array_to_string(toks[st + 1 : st + 100], ' ')) AS chunk_md5
      |FROM s ORDER BY doc_id, chunk_ix""".stripMargin

  /** BM25 ranked retrieval ([[graft.operators.Retrieval.bm25TopK]]):
    * top-10 documents for the query bag {dup, vector, spark} — one
    * rare and two common terms, so idf separates the planted-dup
    * docs from the background. The oracle recomputes tf/df/dl/avgdl
    * and the Lucene-form idf closed-form; scores round to 6 dp on
    * both sides so cross-engine ln ulps cannot flip the hash. */
  def bm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(docs(s, dir), "doc_id",
      col("text"), Seq("dup", "vector", "spark"), k = 10)

  val bm25Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |f AS (SELECT doc_id, len(toks) AS dl,
      |        len(list_filter(toks, x -> x = 'dup')) AS tf_0,
      |        len(list_filter(toks, x -> x = 'vector')) AS tf_1,
      |        len(list_filter(toks, x -> x = 'spark')) AS tf_2
      |      FROM d),
      |s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl,
      |        sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
      |        sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
      |        sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
      |      FROM f)
      |SELECT doc_id, dl, score FROM (
      |  SELECT doc_id, dl, round(
      |      ln(1 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * (tf_0 * 2.2)
      |        / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |    + ln(1 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * (tf_1 * 2.2)
      |        / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |    + ln(1 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * (tf_2 * 2.2)
      |        / (tf_2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)
      |    AS score
      |  FROM f, s)
      |WHERE score > 0
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** Weighted priority sample
    * ([[graft.operators.Sampling.prioritySample]]): 100 documents
    * drawn without replacement with inclusion tracking n_chars. The
    * oracle recomputes the identical priorities (md5-coin integer,
    * one IEEE division) closed-form. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(docs(s, dir), col("doc_id"), col("n_chars"),
        k = 100)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  val sampleWeightedSql: String =
    """SELECT doc_id, lang, n_chars FROM (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST(concat('0x',
      |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
      |      AS pri
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
      |  ORDER BY pri DESC, doc_id LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  /** Temperature-balanced resampling
    * ([[graft.operators.Sampling.temperatureResample]]) at alpha=0.5
    * over the language strata, ordered by doc_id so the kept set is
    * closed-form (sqrt is correctly rounded in both engines). */
  def temperatureResample(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureResample(docs(s, dir), col("lang"), col("doc_id"),
        alpha = 0.5)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  val temperatureResampleSql: String =
    """WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
      |t AS (SELECT lang,
      |        GREATEST(1, CAST(FLOOR(SQRT(CAST(n_l AS DOUBLE))) AS BIGINT))
      |          AS k
      |      FROM n),
      |r AS (SELECT lang, doc_id,
      |        row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |      FROM documents)
      |SELECT r.lang AS lang, doc_id FROM r
      |JOIN t ON r.lang IS NOT DISTINCT FROM t.lang
      |WHERE rn <= k
      |ORDER BY 1, doc_id""".stripMargin

  /** Capped vocabulary build + integer token encoding
    * ([[TextAnalysis.vocabEncode]], V = 4096, OOV → 0): the corpus
    * frequency table feeds a sort-limit vocabulary; a 1-in-97 sample
    * of documents is emitted in encoded (doc_id, pos, token_id) row
    * form — vocabulary counts come from the FULL corpus, only the
    * emitted encoding is sampled, which is what bounds the gate's
    * output without weakening what it certifies. */
  def vocabEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, encoded) = TextAnalysis.vocabEncode(
      docs(s, dir), "doc_id", col("text"), maxVocab = 4096)
    encoded.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id", "pos")
  }

  val vocabEncodeSql: String =
    """WITH tok AS (SELECT doc_id,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
      |v AS (SELECT term,
      |    CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS BIGINT)
      |      AS token_id
      |  FROM cnt ORDER BY c DESC, term ASC LIMIT 4096)
      |SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos,
      |  COALESCE(v.token_id, 0) AS token_id
      |FROM tok t LEFT JOIN v USING (term)
      |WHERE t.doc_id % 97 = 0
      |ORDER BY doc_id, pos""".stripMargin

  /** Token-entropy quality screen ([[TextAnalysis.tokenEntropy]]):
    * per-doc Shannon entropy in bits from exact integer counts, the
    * float part a sorted deterministic fold rounded to 6 dp. The
    * oracle replays the identical fold with DuckDB's list_reduce
    * (0.0-prepended — DuckDB seeds the fold with the raw first
    * element, Spark's `aggregate` with the explicit zero). */
  def entropyQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenEntropy(docs(s, dir), "doc_id", col("text"))
      .orderBy("doc_id")

  val entropyQualitySql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_distinct,
      |    list_sort(list(CAST(c AS DOUBLE))) AS cs
      |  FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens, n_distinct,
      |  round((ln(n_tokens)
      |      - list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
      |          (a, x) -> a + x * ln(x)) / n_tokens)
      |    / ln(2), 6) AS entropy_bits
      |FROM g ORDER BY doc_id""".stripMargin

  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(TextAnalysis.tokenize(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** BPE merge-table training ([[graft.operators.BpeTrain.train]],
    * 8 rounds): the learned merge table (round, pair, merged, count),
    * exact and deterministic (ties toward the smaller pair). The
    * oracle unrolls the same 8 count→argmax→rewrite rounds as
    * MATERIALIZED CTEs (DuckDB inlines plain CTEs, which would
    * re-expand the round chain exponentially). */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    BpeTrain.train(wordCounts(s, dir), merges = 8)._1.orderBy("round")

  /** The segmented vocabulary after those 8 merges — certifying the
    * merge APPLICATION path (leftmost non-overlapping rewrite),
    * word-for-word, alongside q_bpe_merges' table. */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    BpeTrain.train(wordCounts(s, dir), merges = 8)._2.orderBy("word")

  // Wrapped symbol encoding (chr(1) symbol chr(2)), mirroring
  // BpeTrain.SOH/STX: the rewrite can only match WHOLE adjacent
  // symbols — a space-joined replace would also match the suffix of a
  // multi-char symbol (review r9 finding; see BpeTrain scaladoc).
  private def bpeRoundCte(r: Int): String =
    s"""p$r AS MATERIALIZED (SELECT l[i] || ' ' || l[i+1] AS pair,
       |    SUM(cnt) AS c
       |  FROM (SELECT
       |        string_split(substring(seq, 2, length(seq) - 2),
       |          chr(2) || chr(1)) AS l, cnt,
       |        unnest(range(1, len(string_split(
       |          substring(seq, 2, length(seq) - 2),
       |          chr(2) || chr(1))))) AS i
       |      FROM s${r - 1})
       |  GROUP BY 1),
       |t$r AS MATERIALIZED (SELECT pair, c FROM p$r
       |  ORDER BY c DESC, pair ASC LIMIT 1),
       |s$r AS MATERIALIZED (SELECT word,
       |    replace(seq,
       |      (SELECT concat(chr(1),
       |         replace(pair, ' ', chr(2) || chr(1)), chr(2))
       |       FROM t$r),
       |      (SELECT concat(chr(1), replace(pair, ' ', ''), chr(2))
       |       FROM t$r)) AS seq, cnt
       |  FROM s${r - 1})""".stripMargin

  private val bpeBaseCte: String =
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |wc AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM w
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT word,
       |    list_aggregate(list_transform(string_split(word, ''),
       |      c -> chr(1) || c || chr(2)), 'string_agg', '')
       |      AS seq, cnt FROM wc),
       |${(1 to 8).map(bpeRoundCte).mkString(",\n")},
       |sdisp AS MATERIALIZED (SELECT word,
       |    substring(replace(seq, chr(2) || chr(1), ' '), 2,
       |      length(replace(seq, chr(2) || chr(1), ' ')) - 2)
       |      AS seq, cnt
       |  FROM s8)""".stripMargin

  val bpeMergesSql: String = {
    val finals = (1 to 8).map(r =>
      s"""SELECT $r AS round, pair, replace(pair, ' ', '') AS merged,
         |  CAST(c AS BIGINT) AS cnt FROM t$r""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""$bpeBaseCte
       |SELECT * FROM (
       |$finals
       |) ORDER BY round""".stripMargin
  }

  val bpeVocabSql: String =
    s"""$bpeBaseCte
       |SELECT word, seq AS encoding, CAST(cnt AS BIGINT) AS cnt
       |FROM sdisp ORDER BY word""".stripMargin

  /** Corpus-level BPE tokenization with the learned merges: the
    * segmented vocabulary (word → subword sequence) broadcast-joins
    * the token stream — the corpus is ENCODED WITHOUT BEING SHUFFLED,
    * which is the whole point of training the table on the
    * vocabulary first. A 1-in-97 document sample is emitted as
    * (doc_id, word_pos, sub_pos, symbol) rows; the oracle re-derives
    * the same segmentation from its own unrolled training chain and
    * unnests it identically. */
  def bpeEncodeDocs(s: SparkSession, dir: String): DataFrame = {
    val vocab = BpeTrain.train(wordCounts(s, dir), merges = 8)._2
      .select(col("word"), split(col("encoding"), " ").as("subs"))
    docs(s, dir)
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokenize(col("text")))
          .as(Seq("wp0", "word")))
      .join(broadcast(vocab), "word")
      .select(col("doc_id"), (col("wp0") + 1).cast("long").as("word_pos"),
        posexplode(col("subs")).as(Seq("sp0", "symbol")))
      .select(col("doc_id"), col("word_pos"),
        (col("sp0") + 1).cast("long").as("sub_pos"), col("symbol"))
      .orderBy("doc_id", "word_pos", "sub_pos")
  }

  val bpeEncodeDocsSql: String =
    s"""$bpeBaseCte,
       |tok AS (SELECT doc_id,
       |    generate_subscripts(string_split(text, ' '), 1) AS word_pos,
       |    unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE doc_id % 97 = 0)
       |SELECT t.doc_id, CAST(t.word_pos AS BIGINT) AS word_pos,
       |  CAST(generate_subscripts(string_split(v.seq, ' '), 1) AS BIGINT)
       |    AS sub_pos,
       |  unnest(string_split(v.seq, ' ')) AS symbol
       |FROM tok t JOIN sdisp v USING (word)
       |ORDER BY doc_id, word_pos, sub_pos""".stripMargin

  lazy val withOracle: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_bpe_encode_docs" -> (bpeEncodeDocs _, bpeEncodeDocsSql),
    "q_bpe_merges" -> (bpeMerges _, bpeMergesSql),
    "q_bpe_vocab" -> (bpeVocab _, bpeVocabSql),
    "q_vocab_encode" -> (vocabEncode _, vocabEncodeSql),
    "q_entropy_quality" -> (entropyQuality _, entropyQualitySql),
    "q_snapshot_diff" -> (snapshotDiff _, snapshotDiffSql),
    "q_temperature_resample" -> (temperatureResample _, temperatureResampleSql),
    "q_sample_weighted" -> (sampleWeighted _, sampleWeightedSql),
    "q_chunk_overlap" -> (chunkOverlap _, chunkOverlapSql),
    "q_bm25" -> (bm25 _, bm25Sql),
    "q_normalize" -> (normalize _, normalizeSql),
    "q_heavy_hitters" -> (heavyHitters _, heavyHittersSql),
    "q_heavy_hitters_inc" -> (heavyHittersInc _, heavyHittersIncSql),
    "q_curation_pipeline" -> (curationPipeline _, curationPipelineSql),
    "q_hash_split" -> (hashSplit _, hashSplitSql),
    "q_shuffle_shards" -> (shuffleShards _, shuffleShardsSql),
    "q_repetition" -> (repetition _, repetitionSql),
    "q_lang_fingerprint" -> (langFingerprint _, langFingerprintSql),
    "q_sample_bernoulli" -> (sampleBernoulli _, sampleBernoulliSql),
    "q_sample_stratified" -> (sampleStratified _, sampleStratifiedSql),
    "q_corpus_mix" -> (corpusMix _, corpusMixSql),
    "q_pack_chunks" -> (packChunks _, packChunksSql),
    "q_pii_redact" -> (piiRedact _, piiRedactSql),
    "q_top_terms" -> (topTerms _, topTermsSql),
    "q_text_stats" -> (textStats _, textStatsSql),
    "q_text_quality" -> (textQuality _, textQualitySql),
    "q_token_totals" -> (tokenTotals _, tokenTotalsSql))

  // Embedding-vector queries (similarity search + embedding near-dup)
  // moved to VectorQueries.scala in the round-8 module split.

  // Multimodal (binary-column) queries moved to MediaQueries.scala
  // once the media surface grew real codecs (round 8).

  /** No rows-only entries remain — every TextQueries entry is
    * hash-gated (q_dedup_simhash sits under the md5 signature-replay
    * oracle; the ANN family's gates live in VectorQueries now). */
  lazy val rowsOnly: Map[String, (SparkSession, String) => DataFrame] =
    Map.empty
}
