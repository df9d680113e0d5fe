package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge-table training (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer-training step of an LLM data pipeline, made exact and
  * engine-replayable: each round counts adjacent symbol pairs over the
  * weighted vocabulary, merges the most frequent pair (ties toward the
  * lexicographically smaller pair — the determinism pin randomized
  * trainers lack), and rewrites the vocabulary by leftmost
  * non-overlapping replacement (the semantics `replace` has in both
  * Spark and DuckDB, and the greedy left-to-right scan of reference
  * BPE implementations).
  *
  * Scale shape — the part that matters at 100 TB: the input is the
  * DISTINCT-WORD table with corpus counts, i.e. vocabulary-sized, not
  * corpus-sized. The one corpus-scale pass is the word-count aggregate
  * the caller runs (a single explode + map-side-combined groupBy);
  * every merge round after that shuffles only the vocabulary. Each
  * round is one pair-explode + one count aggregate + a 1-row argmax
  * (the documented bounded-scalar collect) + one scan-level rewrite,
  * and the vocabulary frame is eagerly `localCheckpoint`ed per round —
  * it is rewritten 100% each round, so carrying lineage would nest
  * `merges` replaces into one plan. Production trainers doing 30k+
  * merges keep an INCREMENTAL pair-count index (only pairs touching
  * the last merge change count) rather than recounting; that delta
  * structure is a driver-local refinement of the same recurrence and
  * is out of scope here — this operator is the exact distributed
  * recounting form, right up to the few-hundred-merge range.
  */
object BpeTrain {

  /** Internal sequence encoding: every symbol travels WRAPPED as
    * `SOHsymbolSTX`, so a merge rewrite can only ever match
    * WHOLE adjacent symbols. A space-joined encoding rewritten with
    * plain `replace` looks right but is wrong: once multi-char
    * symbols exist, the pattern `"a b"` also matches the SUFFIX of a
    * symbol ending in `a` (e.g. `"xa b"`), merging symbols the pair
    * count never saw (review r9 finding). The wrappers make a
    * cross-boundary match impossible — `SOH` occurs only at
    * symbol starts, `STX` only at ends — while keeping the
    * rewrite a plain leftmost non-overlapping `replace` both engines
    * share. Adjacent same-pair runs still merge greedily
    * (`^a$^a$^a$` + pattern `^a$^a$` → `^aa$^a$`). */
  private val SOH = "\u0001"
  private val STX = "\u0002"
  private[graft] def wrapPair(pair: String): String =
    SOH + pair.replace(" ", STX + SOH) + STX
  private[graft] def wrapMerged(pair: String): String =
    SOH + pair.replace(" ", "") + STX

  /** @param words  (word: string, cnt: long) — distinct words with
    *               corpus frequencies (the caller's one corpus pass)
    * @param merges fixed merge-round count (an unrolled-CTE oracle
    *               needs a fixed count; ≥ 0)
    * @return (mergeTable, segmentedVocab):
    *         mergeTable = (round 1.., pair "a b", merged "ab", cnt);
    *         segmentedVocab = (word, encoding, cnt) where `encoding`
    *         is the space-joined symbol sequence after all merges */
  def train(words: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    require(merges >= 0, "merges must be >= 0")
    val spark = words.sparkSession
    var seqs = Iterate.cut(words.select(
        col("word"),
        // char-split via filter(:: <> '') — engine split() dialects
        // disagree on zero-width trailing matches; dropping empties is
        // dialect-proof
        expr("concat_ws('', transform(filter(split(word, ''), " +
          "x -> x <> ''), c -> concat(chr(1), c, chr(2))))")
          .as("seq"),
        col("cnt").cast("long").as("cnt")))
    // display form: boundaries back to spaces, outer wrappers stripped
    def display(seq: org.apache.spark.sql.Column) = {
      val spaced = call_function("replace", seq, lit(STX + SOH), lit(" "))
      substring_index(substring_index(spaced, STX, 1), SOH, -1)
    }
    val picked = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to merges) {
      val top = seqs
        .select(split(
            expr("substring(seq, 2, length(seq) - 2)"),
            STX + SOH, -1).as("l"), col("cnt"))
        .select(explode(expr(
            "transform(slice(l, 1, greatest(size(l) - 1, 0)), " +
              "(x, i) -> concat(x, ' ', l[i + 1]))")).as("pair"),
          col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1).collect()
      require(top.nonEmpty,
        s"bpe: no adjacent pairs left after ${r - 1} merges — every " +
          "word is a single symbol; lower `merges`")
      val pair = top(0).getString(0)
      picked += ((r, pair, pair.replace(" ", ""), top(0).getLong(1)))
      // lit()s, not SQL-string splicing: no escaping surface
      seqs = Iterate.cut(seqs.withColumn("seq",
        call_function("replace", col("seq"),
          lit(wrapPair(pair)), lit(wrapMerged(pair)))))
    }
    val mergeTable = spark.createDataFrame(picked.result())
      .toDF("round", "pair", "merged", "cnt")
    (mergeTable,
      seqs.select(col("word"), display(col("seq")).as("encoding"),
        col("cnt")))
  }
}
