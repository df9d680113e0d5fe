package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

import TextQueries.docs

/** The document DEDUPLICATION / DECONTAMINATION query family over
  * `documents` (SURVEY §7.4): exact, n-gram Jaccard, MinHash-LSH,
  * SimHash, span dedup, near-dup clustering, dedup application,
  * cross-corpus contamination screens, and the streaming ingest
  * gate. Split out of [[TextQueries]] in round 9 (module-size
  * guideline): same determinism rules — md5 signature replay where
  * the pipeline is hash-based, banded/bucketed shuffles only, every
  * entry oracle-checked. Text analysis / sampling / curation stay in
  * [[TextQueries]]; shared fixture helpers used by both modules
  * (`benchSplit`, the shingle CTE fragments) live here with the
  * family that defines their semantics. */
object DedupQueries {

  // ---- dedup (exact: oracle; LSH family: rows-only + specs) ----

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id",
        concat_ws(" ", slice(TextAnalysis.tokenize(col("text")), 1, 5)))
      .orderBy("keep_id")

  val dedupExactSql: String =
    """SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS dedup_key,
      |  min(doc_id) AS keep_id, count(*) AS copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
        docs(s, dir).filter(col("doc_id") < 40), "doc_id", col("text"), k = 1)
      .filter(col("jaccard") > 0.3)
      .orderBy("id_a", "id_b")

  val ngramJaccardPairsSql: String =
    """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS sh
      |           FROM documents WHERE doc_id < 40)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
      |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / len(list_distinct(a.sh || b.sh)) END AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
      |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / len(list_distinct(a.sh || b.sh)) END > 0.3
      |ORDER BY id_a, id_b""".stripMargin

  // Bigram shingles discriminate on this corpus (unigram Jaccard is
  // ~0.4 for ALL pairs — shared vocabulary); r=1 banding for recall.
  // Threshold 0.5 sits in the corpus gap (background bigram Jaccard
  // tops out at 0.13, planted near-dups start at 0.91), where 16-band
  // r=1 recall is certain (miss prob (1-0.91)^16 ≈ 2e-17) — so the LSH
  // output EQUALS the exact threshold join and the DuckDB oracle checks
  // it closed-form.
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(docs(s, dir).filter(col("doc_id") < 1000),
        "doc_id", col("text"),
        threshold = 0.5, numHashes = 16, bands = 16, shingleK = 2)
      .orderBy("id_a", "id_b")

  // Bigram shingle set in DuckDB: adjacent-token concat pairs, the
  // whole token join when fewer than 2 tokens (ShinglesExpr semantics).
  private val bigramShinglesSql: String =
    """CASE WHEN len(toks) >= 2
      |  THEN list_distinct([toks[i] || ' ' || toks[i+1]
      |                      FOR i IN range(1, len(toks))])
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin


  val dedupMinhashSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents WHERE doc_id < 1000),
       |s AS (SELECT doc_id, $bigramShinglesSql AS sh FROM t)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(a.sh || b.sh)) END AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(a.sh || b.sh)) END >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // maxDist=8 -> 9-block banding with guaranteed recall at distance 8;
  // 16 would need 17 blocks of 3-4 bits (collision blowup at corpus
  // scale) for little extra signal on this corpus.
  //
  // Hash family "md5": the oracle-shared token hash — DuckDB recomputes
  // the 64-bit signatures closed-form from md5 hex chars (the exact bit
  // layout is pinned in VectorOps.simhashMd5's doc) and replays the
  // xor/bit_count threshold join, so the banded operator's RAW PAIR
  // LIST is hash-gated, not just its brute-force agreement (which
  // q_dedup_simhash_agree certifies for the xxhash64 fast path).
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(docs(s, dir), "doc_id", col("text"), maxDist = 8,
        hashFamily = "md5")
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")

  // Signature mirror of VectorOps.simhashMd5: hex char q = j/4 of
  // md5(token), bit r = j%4 of its nibble value; votes +1/-1; bit set
  // iff votes > 0. Then the exact Hamming-threshold pair join the
  // pigeonhole banding provably equals.
  val dedupSimhashSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |v AS (SELECT doc_id, j,
      |        SUM(CASE WHEN ((strpos('0123456789abcdef',
      |                               md5(tok)[(j//4)+1]) - 1)
      |                       >> (j%4)) & 1 = 1
      |                 THEN 1 ELSE -1 END) AS votes
      |      FROM u, range(64) r(j) GROUP BY doc_id, j),
      |sig AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN votes > 0
      |                  THEN (1::UBIGINT << CAST(j AS INT))
      |                  ELSE 0::UBIGINT END) AS UBIGINT) AS sig
      |  FROM v GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 8
      |ORDER BY id_a, id_b""".stripMargin

  /** Cross-corpus simhash decontamination under the SAME md5
    * signature-replay oracle as q_dedup_simhash: training docs
    * (doc_id % 5 != 0) are screened against the eval split
    * (doc_id % 5 == 0) with banded cross-join recall guaranteed by
    * pigeonhole; DuckDB recomputes both sides' signatures closed-form
    * and replays the cross Hamming-threshold join, hash-gating the raw
    * pair list. */
  def decontaminateSimhash(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.crossSimhashNearDups(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        "doc_id", col("text"), maxDist = 8, hashFamily = "md5")
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  val decontaminateSimhashSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |v AS (SELECT doc_id, j,
      |        SUM(CASE WHEN ((strpos('0123456789abcdef',
      |                               md5(tok)[(j//4)+1]) - 1)
      |                       >> (j%4)) & 1 = 1
      |                 THEN 1 ELSE -1 END) AS votes
      |      FROM u, range(64) r(j) GROUP BY doc_id, j),
      |sig AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN votes > 0
      |                  THEN (1::UBIGINT << CAST(j AS INT))
      |                  ELSE 0::UBIGINT END) AS UBIGINT) AS sig
      |  FROM v GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b
      |  ON a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
      |WHERE bit_count(xor(a.sig, b.sig)) <= 8
      |ORDER BY id_a, id_b""".stripMargin

  /** q_dedup_simhash under the hash gate: the banded operator's pair
    * set must EQUAL the brute-force Hamming-threshold join over the
    * same signatures — a THEOREM, not a tuning claim ((maxDist+1)-block
    * pigeonhole banding guarantees recall; the exact bit_count filter
    * guarantees precision), so the per-doc equality booleans are
    * deterministic and the DuckDB oracle recomputes them closed-form
    * as `true`. The xxhash64 signature itself has no DuckDB
    * equivalent — this is the derived-invariant gate (the brute-force
    * side is the bounded-corpus verifier, doc_id < 400). */
  def dedupSimhashAgree(s: SparkSession, dir: String): DataFrame = {
    val bounded = docs(s, dir).filter(col("doc_id") < 400)
    val banded = Dedup.simhashNearDups(bounded, "doc_id", col("text"),
      maxDist = 8).select("id_a", "id_b")
    val sigs = Dedup.simhashSignatures(bounded, "doc_id", col("text"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 8)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val diffIds = banded.exceptAll(brute).union(brute.exceptAll(banded))
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    bounded.select(col("doc_id"))
      .join(diffIds.withColumn("__bad", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(!col("__bad"), lit(true)).as("banded_matches_brute"))
      .orderBy("doc_id")
  }

  val dedupSimhashAgreeSql: String =
    """SELECT doc_id, true AS banded_matches_brute
      |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin

  /** Near-dup clustering (connected components) over BIGRAM-Jaccard
    * edges at 0.9 — this corpus yields dense planted clusters plus
    * scattered twins, so the oracle (a DuckDB recursive-CTE transitive
    * closure) exercises multi-hop label propagation, not just pair
    * mirroring.
    *
    * Edge generation is minhash-LSH ([[Dedup.minhashNearDups]]) — the
    * scale path: banded shuffle-hash self-join, no cartesian anywhere
    * in the plan (PlanSpec asserts no BroadcastNestedLoopJoin).
    * Bigram shingles put the threshold in the corpus GAP (background
    * bigram J tops out at 0.13, planted near-dups start at 0.91), so
    * 16-band r=1 recall at J >= 0.9 is certain (per-pair miss
    * (1-0.91)^16 ≈ 2e-17) and the r=1 est-Jaccard prune drops the
    * background collisions before the exact verify — the edge set
    * EQUALS the exact threshold join the oracle computes closed-form,
    * for a sixth of the unigram pipeline's hash work and a fraction of
    * its candidates. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDups(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id", col("text"),
        threshold = 0.9, numHashes = 16, bands = 16, shingleK = 2)
    // dropped = the keep-one-per-cluster decision (clusterDropIds set)
    Dedup.nearDupClusters(pairs)
      .withColumn("dropped", col("id") =!= col("cluster"))
      .orderBy("id")
  }

  /** The recursive connected-components CTE over brute-force Jaccard
    * pairs (threshold 0.9, doc_id < 1000) — the oracle face of
    * minhashNearDups + nearDupClusters, shared between
    * [[dedupClustersSql]] and the leakage-free split oracle
    * ([[QualityQueries.splitLeakFreeSql]]). Exposes `reach(id, r)`. */
  private[query] val clusterReachCte: String =
    s"""t0 AS (SELECT doc_id, string_split(text, ' ') AS toks
      |       FROM documents WHERE doc_id < 1000),
      |t AS (SELECT doc_id, $bigramShinglesSql AS sh FROM t0),
      |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib
      |      FROM t a JOIN t b ON a.doc_id < b.doc_id
      |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |            / len(list_distinct(a.sh || b.sh)) >= 0.9),
      |e AS (SELECT ia AS a, ib AS b FROM p
      |      UNION SELECT ib, ia FROM p),
      |n AS (SELECT DISTINCT a AS id FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT re.id, e.b FROM reach re JOIN e ON re.r = e.a)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE
      |$clusterReachCte
      |SELECT id, min(r) AS cluster, id <> min(r) AS dropped
      |FROM reach GROUP BY id
      |ORDER BY id""".stripMargin

  // ---- C4-style span dedup + benchmark decontamination ----

  /** Span-level corpus dedup (C4 recipe): 10-token non-overlapping
    * spans, keep-first by (doc_id, position), rebuild each document
    * from its surviving spans. Linear: one explode projection, one
    * window shuffle keyed on span text, one per-doc agg. */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(docs(s, dir), "doc_id", col("text"), w = 10)
      .orderBy("doc_id")

  val spanDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
      |           FROM documents),
      |sp AS (SELECT doc_id,
      |  [array_to_string(toks[i*10+1 : i*10+10], ' ')
      |   FOR i IN range(0, CAST(floor((len(toks)+9)/10) AS INT))]
      |  AS spans FROM t),
      |ex AS (SELECT doc_id, unnest(range(0, len(spans))) AS pos,
      |              unnest(spans) AS span FROM sp),
      |kept AS (SELECT doc_id, pos, span,
      |  row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      |  FROM ex),
      |reb AS (SELECT doc_id, count(*) AS n_kept,
      |        string_agg(span, ' ' ORDER BY pos) AS clean_text
      |        FROM kept WHERE rn=1 GROUP BY doc_id)
      |SELECT sp.doc_id, len(sp.spans) AS n_spans,
      |  coalesce(reb.n_kept, 0) AS n_kept,
      |  coalesce(reb.clean_text, '') AS clean_text
      |FROM sp LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Substring-level scrub (Lee et al. exact repeated spans):
    * overlapping 5-token windows, keep-first flagging, contiguous
    * flagged windows coalesced to maximal redaction spans, document
    * rebuilt from uncovered tokens. The overlapping-window answer to
    * [[spanDedup]]'s alignment blindness. Text-form grams so the
    * oracle replays exactly; hashGrams is the certified-equal scale
    * path (DedupSpec). */
  def scrubSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.scrubRepeatedSpans(docs(s, dir), "doc_id", col("text"), k = 5)
      .orderBy("doc_id")

  val scrubSpansSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
      |           FROM documents),
      |sp AS (SELECT doc_id, toks, len(toks) AS n,
      |  CASE WHEN len(toks) >= 5
      |    THEN [array_to_string(toks[i : i+4], ' ')
      |          FOR i IN range(1, len(toks)-3)]
      |    ELSE [] END AS grams FROM t),
      |ex AS (SELECT doc_id, unnest(range(0, len(grams))) AS pos,
      |              unnest(grams) AS gram FROM sp),
      |fl AS (SELECT doc_id, pos,
      |  row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      |  FROM ex),
      |f AS (SELECT doc_id, pos AS s, pos + 4 AS e FROM fl WHERE rn > 1),
      |brk AS (SELECT doc_id, s, e,
      |  CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
      |       THEN 1 ELSE 0 END AS nw FROM f),
      |isl AS (SELECT doc_id, s, e,
      |  sum(nw) OVER (PARTITION BY doc_id ORDER BY s
      |    ROWS UNBOUNDED PRECEDING) AS grp FROM brk),
      |mg AS (SELECT doc_id, grp, min(s) AS ms, max(e) AS me
      |       FROM isl GROUP BY 1, 2),
      |rep AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
      |        CAST(sum(me - ms + 1) AS BIGINT) AS dup_tokens
      |        FROM mg GROUP BY 1),
      |pos AS (SELECT doc_id, unnest(range(0, len(toks))) AS p,
      |               unnest(toks) AS tok FROM sp),
      |ct AS (SELECT x.doc_id,
      |         string_agg(x.tok, ' ' ORDER BY x.p) AS clean_text
      |       FROM pos x
      |       WHERE NOT EXISTS (SELECT 1 FROM mg m
      |         WHERE m.doc_id = x.doc_id AND x.p BETWEEN m.ms AND m.me)
      |       GROUP BY 1)
      |SELECT sp.doc_id, CAST(sp.n AS BIGINT) AS n_tokens,
      |  coalesce(rep.dup_spans, 0) AS dup_spans,
      |  coalesce(rep.dup_tokens, 0) AS dup_tokens,
      |  coalesce(ct.clean_text, '') AS clean_text
      |FROM sp LEFT JOIN rep USING (doc_id) LEFT JOIN ct USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // 5-gram shingles mirror of Dedup.shingles(k=5) for the oracle.
  // NOTE: interpolated into stripMargin'd SQL — no line may start
  // with '|' or the outer stripMargin eats it.
  private[query] val fivegramShinglesSql: String =
    """CASE WHEN len(toks) >= 5
      |  THEN list_distinct([array_to_string(toks[i : i+4], ' ')
      |                      FOR i IN range(1, len(toks)-3)])
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  // Deterministic benchmark carve-out for the decontamination demo:
  // every doc_id ending 00..02 plays the "eval set", the rest the corpus.
  private[query] def benchSplit(d: DataFrame): (DataFrame, DataFrame) =
    (d.filter(col("doc_id") % 100 >= 3), d.filter(col("doc_id") % 100 < 3))

  /** Benchmark-contamination hits: distinct 5-gram collisions between
    * each corpus doc and the (broadcast) eval-set gram universe. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val (corpus, bench) = benchSplit(docs(s, dir))
    Dedup.contaminationHits(corpus, "doc_id", col("text"),
        bench, col("text"), k = 5)
      .orderBy("id")
  }

  val contaminationSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks
       |           FROM documents),
       |s AS (SELECT doc_id, $fivegramShinglesSql AS sh FROM d),
       |b AS (SELECT DISTINCT unnest(sh) AS gram FROM s
       |      WHERE doc_id % 100 < 3),
       |c AS (SELECT doc_id, unnest(sh) AS gram FROM s
       |      WHERE doc_id % 100 >= 3)
       |SELECT c.doc_id AS id, count(*) AS n_hits
       |FROM c JOIN b USING (gram) GROUP BY 1 ORDER BY 1""".stripMargin

  /** The corpus with every eval-contaminated document anti-joined
    * away — the operator a real pretraining pipeline runs. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val (corpus, bench) = benchSplit(docs(s, dir))
    Dedup.decontaminate(corpus, "doc_id", col("text"),
        bench, col("text"), k = 5)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks
       |           FROM documents),
       |s AS (SELECT doc_id, $fivegramShinglesSql AS sh FROM d),
       |b AS (SELECT DISTINCT unnest(sh) AS gram FROM s
       |      WHERE doc_id % 100 < 3),
       |hit AS (SELECT DISTINCT c.doc_id
       |        FROM (SELECT doc_id, unnest(sh) AS gram FROM s
       |              WHERE doc_id % 100 >= 3) c JOIN b USING (gram))
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id % 100 >= 3 AND doc_id NOT IN (SELECT doc_id FROM hit)
       |ORDER BY doc_id""".stripMargin

  // ---- split / shuffle / repetition ----

  /** Near-dup removal APPLIED: the corpus minus every document the
    * cluster decision drops (keep the min-id representative per
    * connected component; exact copies share all bigrams, so J=1
    * edges fold them in too). Same bounded corpus and edge oracle as
    * [[dedupClusters]] — this is the query a user actually ships. */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 1000)
    val pairs = Dedup.minhashNearDups(d, "doc_id", col("text"),
      threshold = 0.9, numHashes = 16, bands = 16, shingleK = 2)
    val drops = Dedup.clusterDropIds(Dedup.nearDupClusters(pairs))
      .select(col("drop_id").as("doc_id"))
    d.join(drops, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  val dedupApplySql: String =
    s"""WITH RECURSIVE
      |t0 AS (SELECT doc_id, string_split(text, ' ') AS toks
      |       FROM documents WHERE doc_id < 1000),
      |t AS (SELECT doc_id, $bigramShinglesSql AS sh FROM t0),
      |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib
      |      FROM t a JOIN t b ON a.doc_id < b.doc_id
      |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |            / len(list_distinct(a.sh || b.sh)) >= 0.9),
      |e AS (SELECT ia AS a, ib AS b FROM p
      |      UNION SELECT ib, ia FROM p),
      |n AS (SELECT DISTINCT a AS id FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT re.id, e.b FROM reach re JOIN e ON re.r = e.a),
      |drops AS (SELECT id FROM reach GROUP BY id
      |          HAVING id <> min(r))
      |SELECT doc_id, lang, source FROM documents
      |WHERE doc_id < 1000 AND doc_id NOT IN (SELECT id FROM drops)
      |ORDER BY doc_id""".stripMargin

  /** Near-duplicate decontamination across corpus halves
    * ([[graft.operators.Dedup.crossMinhashNearDups]]): even doc_ids
    * as "train", odd as "eval" — band-hash candidates cross the
    * sides only (no self-join), then exact bigram-Jaccard
    * verification at 0.9, the corpus-gap threshold where 16-band r=1
    * recall is certain. Non-empty at every SF (planted dup pairs
    * straddle the parity split).
    *
    * Candidate-vs-exact-oracle equivalence margin, MEASURED (PERF.md
    * "Removed tools"; the est_jaccard >= 0.45 prune needs >= 8 of 16
    * agreeing bands): the true pairs (bigram J >= 0.9) agree on
    * min 15 / 15 / 16 of 16 bands at sf0.001 / 0.01 / 0.1 — nearly
    * double the floor, and deterministic facts of the seeded hash
    * family at each shipped SF, not tail probabilities. The same
    * margin covers [[screenIngestReplay]] (same family, same
    * threshold, same corpus halves). */
  def contaminateNearDup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 1000)
    Dedup.crossMinhashNearDups(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        "doc_id", col("text"),
        threshold = 0.9, numHashes = 16, bands = 16, shingleK = 2)
      .orderBy("id_a", "id_b")
  }

  val contaminateNearDupSql: String =
    s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents WHERE doc_id < 1000),
       |t AS (SELECT doc_id, $bigramShinglesSql AS sh FROM t0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(a.sh || b.sh)) END AS jaccard
       |FROM t a JOIN t b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
       |WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(a.sh || b.sh)) END >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  /** The streaming decontamination gate
    * ([[graft.streaming.StreamingIngest.screenIngest]]) under the
    * hash gate: odd documents replay through the REAL checkpointed
    * file-source stream in two files (the second after a restart —
    * exactly-once progress is part of what is certified) screened
    * against the even-document index; the surviving `clean/` set
    * must equal "odd docs with no even near-dup at 0.9", which the
    * oracle recomputes closed-form. Replay harness over a bounded
    * corpus (the driver carves and stages it), not a bulk path. */
  def screenIngestReplay(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Replay.stageFile
    val d = docs(s, dir).filter(col("doc_id") < 1000)
      .select("doc_id", "text", "lang")
    val index = Dedup.buildMinhashIndex(
      d.filter(col("doc_id") % 2 === 0), "doc_id", col("text"),
      numHashes = 16, bands = 16, shingleK = 2).persisted()
    // one per-session base dir, REPLACED per call (the joinBucketed
    // protocol): reruns never accumulate /tmp data, and the appId tag
    // isolates concurrent harness processes
    val base = graft.WorkDir.fresh(s, "screen")
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    def screen(): Unit =
      graft.streaming.StreamingIngest.screenIngest(
        s.readStream.schema("doc_id LONG, text STRING, lang STRING")
          .parquet(in),
        index, threshold = 0.9, "doc_id", "text", ckpt, out)
        .awaitTermination()
    val odd = d.filter(col("doc_id") % 2 === 1)
    stageFile(odd.filter(col("doc_id") < 500), in, "f1.parquet")
    screen()
    stageFile(odd.filter(col("doc_id") >= 500), in, "f2.parquet")
    screen() // restart: only the new file may be (re)processed
    // the result reads back from already-written parquet — no lineage
    // on the index, so it can release immediately and nothing needs
    // to stay cached across harness runs
    index.unpersist()
    s.read.parquet(s"$out/clean")
      .select("doc_id", "lang").orderBy("doc_id")
  }

  val screenIngestReplaySql: String =
    s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents WHERE doc_id < 1000),
       |t AS (SELECT doc_id, $bigramShinglesSql AS sh FROM t0),
       |hits AS (SELECT DISTINCT b.doc_id
       |  FROM t a JOIN t b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
       |  WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |      ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |           / len(list_distinct(a.sh || b.sh)) END >= 0.9)
       |SELECT doc_id, lang FROM documents
       |WHERE doc_id < 1000 AND doc_id % 2 = 1
       |  AND doc_id NOT IN (SELECT doc_id FROM hits)
       |ORDER BY doc_id""".stripMargin

  /** EXACT Jaccard-threshold self-join via global-frequency prefix
    * filtering ([[graft.operators.SimilarityJoin.prefixJaccardSelfJoin]],
    * AllPairs/PPJoin family) — the guaranteed-recall counterpart to
    * the LSH candidate paths above. Because the algorithm is exact,
    * the brute-force threshold join IS its oracle, with no recall
    * argument needed: every emitted pair and every omitted pair is
    * certified. Bigram shingle sets over a 1000-doc slice with
    * threshold 0.5 — the EXACT same (input, threshold) as
    * q_dedup_minhash, so the two queries certify each other: the LSH
    * path equals brute force by a recall ARGUMENT (certain-recall
    * banding above the corpus gap), the prefix path equals it by
    * CONSTRUCTION. Unigram sets would be useless here: the corpus
    * vocabulary is 31 tokens, so unigram Jaccard is coarse and
    * near-uniform; the bigram space (~31²) is where similarity
    * discriminates, and where df-ordered prefixes actually prune. */
  def jaccardJoinExact(s: SparkSession, dir: String): DataFrame =
    graft.operators.SimilarityJoin.prefixJaccardSelfJoin(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id",
        Dedup.shingles(col("text"), 2), threshold = 0.5)
      .orderBy("id_a", "id_b")

  val jaccardJoinExactSql: String =
    s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents WHERE doc_id < 1000),
       |t AS (SELECT doc_id, $bigramShinglesSql AS sh FROM t0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(a.sh || b.sh)) END AS jaccard
       |FROM t a JOIN t b ON a.doc_id < b.doc_id
       |WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(a.sh || b.sh)) END >= 0.5
       |ORDER BY id_a, id_b""".stripMargin


  /** Asymmetric containment screen ([[Dedup.containmentPairs]]):
    * inclusion pairs ("A mostly inside B") that symmetric Jaccard
    * misses — inverted unigram index with a document-frequency cap
    * (stop-grams above df 30 leave both the intersections and the
    * denominators; the cap is screen semantics, replicated by the
    * oracle), exact integer micro containments, either direction
    * ≥ 0.6. The oracle recomputes the capped index closed-form. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir).filter(col("doc_id") < 60),
        "doc_id", col("text"), k = 1, minContainMicro = 600000L,
        maxGramDf = 30L)
      .orderBy("id_a", "id_b")

  val containmentPairsSql: String =
    """WITH g0 AS (SELECT doc_id,
      |    unnest(list_distinct(string_split(text, ' '))) AS gram
      |  FROM documents WHERE doc_id < 60),
      |dfc AS (SELECT gram FROM g0 GROUP BY gram HAVING COUNT(*) <= 30),
      |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN dfc USING (gram)),
      |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
      |  FROM g GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.id_a, p.id_b, p.shared,
      |  CAST(p.shared * 1000000 // sa.sz AS BIGINT) AS contain_a_micro,
      |  CAST(p.shared * 1000000 // sb.sz AS BIGINT) AS contain_b_micro
      |FROM p
      |JOIN sz sa ON sa.doc_id = p.id_a
      |JOIN sz sb ON sb.doc_id = p.id_b
      |WHERE greatest(p.shared * 1000000 // sa.sz,
      |               p.shared * 1000000 // sb.sz) >= 600000
      |ORDER BY id_a, id_b""".stripMargin

  lazy val withOracle: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_dedup_exact" -> (dedupExact _, dedupExactSql),
    "q_jaccard_join_exact" -> (jaccardJoinExact _, jaccardJoinExactSql),
    "q_ngram_jaccard" -> (ngramJaccardPairs _, ngramJaccardPairsSql),
    "q_containment" -> (containmentPairs _, containmentPairsSql),
    "q_dedup_minhash" -> (dedupMinhash _, dedupMinhashSql),
    "q_dedup_simhash" -> (dedupSimhash _, dedupSimhashSql),
    "q_dedup_simhash_agree" -> (dedupSimhashAgree _, dedupSimhashAgreeSql),
    "q_dedup_clusters" -> (dedupClusters _, dedupClustersSql),
    "q_dedup_apply" -> (dedupApply _, dedupApplySql),
    "q_span_dedup" -> (spanDedup _, spanDedupSql),
    "q_scrub_spans" -> (scrubSpans _, scrubSpansSql),
    "q_contamination" -> (contamination _, contaminationSql),
    "q_decontaminate" -> (decontaminate _, decontaminateSql),
    "q_decontaminate_simhash" -> (decontaminateSimhash _, decontaminateSimhashSql),
    "q_contaminate_neardup" -> (contaminateNearDup _, contaminateNearDupSql),
    "q_screen_ingest" -> (screenIngestReplay _, screenIngestReplaySql))
}
