package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, ExpressionInfo, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Optimizer rule: rewrite the registered `is_valid_domain` Scala UDF
  * into the codegen'd native expression — ad-hoc SQL written against
  * the UDF gets the native plan for free (§4 optional rule (a) in
  * SURVEY). Semantics are identical by DomainExpressionsSpec, including
  * NULL input (both forms return false, never NULL). */
object RewriteValidatorUdf extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case u: ScalaUDF if u.udfName.contains("is_valid_domain") &&
          u.children.size == 1 =>
        IsValidDomainExpr(u.children.head)
    }
}

/** SparkSessionExtensions entry point: install with
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // or spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * Injects the native expression layer into the SQL function registry so
  * ad-hoc SQL plans the codegen'd expressions rather than UDF black
  * boxes: the domain validator plus the vector/hash hot-path family
  * (graft_dot, graft_lsh_sig, graft_minhash, graft_simhash).
  *
  * Also installs [[BindLiteralKeys]], which binds the primitive literal
  * operands of comparisons in `FilterExec` conditions by reference
  * ([[ParamLiteral]]), so a point read or keyset page with a new key
  * does not compile a new class. It must never rewrite a scan's
  * `dataFilters` or `partitionFilters`: Parquet pushdown translates
  * only a `Literal`, and would silently drop a rewritten predicate.
  * The rule is installed twice. As a pre-columnar-transition rule it
  * runs before `CollapseCodegenStages` in the plain preparations, which
  * plan a point read: that read has no exchange, so AQE never plans it.
  * As a post-planner strategy rule it rewrites an adaptive plan before
  * AQE keeps it as the initial plan, so the stages AQE builds from it
  * share its nodes, and the columnar pass over each stage then finds
  * nothing left to rewrite. A formatted explain numbers nodes by
  * identity, so an adaptive plan rewritten only at stage creation
  * would print its initial plan with new numbers.
  *
  * Also installs [[CollectOnDriver]] as the columnar rule's
  * post-transition rule, which runs after `EnsureRequirements` and
  * before `CollapseCodegenStages`. It wraps an exchange-free plan root
  * of scans, filters, projects and limits in [[DriverCollectExec]],
  * whose `collect` runs the one input partition on the calling driver
  * thread instead of as a Spark job. The gate is one input partition
  * of at most `spark.sql.autoBroadcastJoinThreshold` bytes (`-1` turns
  * it off) and a narrow lineage. Any other read, and any local run that
  * throws, takes the job path, with its answers, errors and retries.
  * A local run starts no job, so `cancelJobGroup` cannot interrupt it;
  * the size gate bounds how long it runs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteValidatorUdf)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BindLiteralKeys
      override def postColumnarTransitions: Rule[SparkPlan] = CollectOnDriver
    })
    ext.injectQueryPostPlannerStrategyRule(_ => BindLiteralKeys)
  }
}

object GraftExtensions {

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  private def litLongArray(e: Expression, fn: String): Array[Long] =
    e match {
      case l @ Literal(_, ArrayType(LongType, _)) =>
        l.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util
          .ArrayData].toLongArray()
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal ARRAY<BIGINT> argument, got $other")
    }

  private def litStr(e: Expression, fn: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal STRING argument, got $other")
  }

  private type Entry =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private val entries: Seq[Entry] = Seq(
    (FunctionIdentifier("is_valid_domain_native"), IsValidDomainExpr.info,
      (es: Seq[Expression]) => IsValidDomainExpr(es.head)),
    (FunctionIdentifier("graft_dot"), DotProductExpr.info,
      (es: Seq[Expression]) => DotProductExpr(es(0), es(1))),
    (FunctionIdentifier("graft_lsh_sig"), LshSigExpr.info,
      (es: Seq[Expression]) => LshSigExpr(es(0),
        litInt(es(1), "graft_lsh_sig"), litInt(es(2), "graft_lsh_sig"),
        litInt(es(3), "graft_lsh_sig"))),
    (FunctionIdentifier("graft_minhash"), MinHashSigExpr.info,
      (es: Seq[Expression]) => MinHashSigExpr(es(0),
        litInt(es(1), "graft_minhash"))),
    (FunctionIdentifier("graft_simhash"), SimHashExpr.info,
      (es: Seq[Expression]) => SimHashExpr(es.head)),
    (FunctionIdentifier("graft_simhash_md5"), SimHashMd5Expr.info,
      (es: Seq[Expression]) => SimHashMd5Expr(es.head)),
    (FunctionIdentifier("graft_shingles"), ShinglesExpr.info,
      (es: Seq[Expression]) => ShinglesExpr(es(0),
        litInt(es(1), "graft_shingles"))),
    (FunctionIdentifier("graft_token_grams"), TokenGramsExpr.info,
      (es: Seq[Expression]) => es.size match {
        case 2 => TokenGramsExpr(es(0), litInt(es(1), "graft_token_grams"))
        case 3 => TokenGramsExpr(es(0), litInt(es(1), "graft_token_grams"),
          litInt(es(2), "graft_token_grams"), keepPartial = false)
        case 4 => TokenGramsExpr(es(0), litInt(es(1), "graft_token_grams"),
          litInt(es(2), "graft_token_grams"),
          litInt(es(3), "graft_token_grams") != 0)
        case n => throw new IllegalArgumentException(
          "graft_token_grams expects 2 (text, k), 3 (text, k, stride) " +
            s"or 4 (text, k, stride, keep_partial) arguments, got $n")
      }),
    (FunctionIdentifier("graft_split_java"), SplitJavaExpr.info,
      (es: Seq[Expression]) => SplitJavaExpr(es(0),
        litStr(es(1), "graft_split_java"))),
    (FunctionIdentifier("graft_jaccard"), JaccardExpr.info,
      (es: Seq[Expression]) => JaccardExpr(es(0), es(1))),
    (FunctionIdentifier("valid_or_repaired_native"), ValidOrRepairedExpr.info,
      (es: Seq[Expression]) => ValidOrRepairedExpr(es.head)),
    (FunctionIdentifier("graft_domain_slots"), DomainSlotsExpr.info,
      (es: Seq[Expression]) => DomainSlotsExpr(es(0), es(1))),
    (FunctionIdentifier("graft_nfc"), NfcExpr.info,
      (es: Seq[Expression]) => NfcExpr(es.head)),
    (FunctionIdentifier("graft_repetition"), RepetitionStatsExpr.info,
      (es: Seq[Expression]) => RepetitionStatsExpr(es(0),
        litInt(es(1), "graft_repetition"))),
    (FunctionIdentifier("graft_winnow"), WinnowExpr.info,
      (es: Seq[Expression]) => WinnowExpr(es(0),
        litInt(es(1), "graft_winnow"), litInt(es(2), "graft_winnow"))),
    (FunctionIdentifier("graft_token_count"), TokenCountExpr.info,
      (es: Seq[Expression]) => TokenCountExpr(es(0), es(1))),
    (FunctionIdentifier("graft_media_meta"), MediaMetaExpr.info,
      (es: Seq[Expression]) => MediaMetaExpr(es.head)),
    (FunctionIdentifier("graft_zorder"), ZOrderExpr.info,
      (es: Seq[Expression]) => ZOrderExpr(es(0), es(1))),
    (FunctionIdentifier("graft_zorder3"), ZOrder3Expr.info,
      (es: Seq[Expression]) => ZOrder3Expr(es(0), es(1), es(2))),
    (FunctionIdentifier("graft_del_hashes"), DeletionHashesExpr.info,
      (es: Seq[Expression]) => DeletionHashesExpr(es(0),
        litInt(es(1), "graft_del_hashes"))),
    (FunctionIdentifier("graft_jaro_winkler"), JaroWinklerExpr.info,
      (es: Seq[Expression]) => JaroWinklerExpr(es(0), es(1))),
    (FunctionIdentifier("graft_bigram_costs"), BigramCostsExpr.info,
      (es: Seq[Expression]) => BigramCostsExpr(es(0),
        // immutable wrap → two registrations of the same table build
        // expressions that canonicalize EQUAL (ADVICE r10)
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          litLongArray(es(1), "graft_bigram_costs")))),
    (FunctionIdentifier("graft_quality_score"), HashNgramScoreExpr.info,
      (es: Seq[Expression]) => HashNgramScoreExpr(es(0),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          litLongArray(es(1), "graft_quality_score")),
        // optional 3rd arg: subword char-n-gram width (0 = word-only)
        if (es.size >= 3) litInt(es(2), "graft_quality_score") else 0)),
    (FunctionIdentifier("graft_mp4_timeline"), Mp4TimelineExpr.info,
      (es: Seq[Expression]) => Mp4TimelineExpr(es.head)),
    (FunctionIdentifier("graft_bitmap_agg"), BitmapAggExpr.info,
      (es: Seq[Expression]) => BitmapAggExpr(es.head)),
    (FunctionIdentifier("graft_bitmap_or_agg"), BitmapOrAggExpr.info,
      (es: Seq[Expression]) => BitmapOrAggExpr(es.head)),
    (FunctionIdentifier("graft_bitmap_and_count"), BitmapAndCountExpr.info,
      (es: Seq[Expression]) => BitmapAndCountExpr(es(0), es(1))),
    (FunctionIdentifier("graft_bitmap_count"), BitmapCountExpr.info,
      (es: Seq[Expression]) => BitmapCountExpr(es.head)),
    (FunctionIdentifier("graft_hll_composite"), HllCompositeEstimateExpr.info,
      (es: Seq[Expression]) => HllCompositeEstimateExpr(es.head)),
    // Spark's own runtime-filter bloom pair, surfaced as callable
    // functions: the sketch aggregate merges executor-side (same
    // machinery the optimizer injects for runtime row filters), and
    // the probe is a codegen'd predicate on a literal filter blob.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "graft_bloom_agg"),
      (es: Seq[Expression]) => es match {
        // mirror bloom_filter_agg's 1/2/3-arg forms instead of
        // an IndexOutOfBounds on the shorter arities
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n)
        case _ =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(es(0), es(1), es(2))
      }),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "graft_might_contain"),
      (es: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(es(0), es(1))))

  /** Register the native functions on an already-built session
    * (idempotent) — for callers that didn't pass the extensions class
    * at session build time. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    entries.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }

  /** Column form of a registered native function, installing on the
    * active session first — the one shared helper behind every
    * operator module's `graft_*` call. */
  def nativeFn(fn: String,
               args: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column = {
    install(org.apache.spark.sql.SparkSession.active)
    org.apache.spark.sql.functions.call_function(fn, args: _*)
  }

}
