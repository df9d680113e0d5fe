package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive literal bound by reference: the generated code reads the
  * value from the class's `references` array once, into a primitive
  * field, instead of spelling it into the Java source. Two plans that
  * differ only in such a value therefore generate the same source and
  * share one compiled class in Spark's codegen cache.
  *
  * Prints as the [[Literal]] it replaces (`toString`, `sql`), so plan
  * text is unchanged; `eval` returns the same value. */
case class ParamLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", lit.value,
      CodeGenerator.boxedType(dataType))
    // read once at class init, so rows never unbox
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule: every non-null primitive [[Literal]] operand of a
  * [[BinaryComparison]] in a [[FilterExec]] condition becomes a
  * [[ParamLiteral]]. A serving read with a new key then reuses the
  * generated class of the last read instead of compiling a new one.
  *
  * It rewrites `FilterExec.condition` only, never a scan's
  * `dataFilters` or `partitionFilters`: `FileSourceScanExec` translates
  * those into data source filters on demand, and that translation
  * accepts a `Literal` only, so a rewritten scan filter would silently
  * stop being pushed down to Parquet. */
object BindLiteralKeys extends Rule[SparkPlan] {

  private val bound: Set[DataType] = Set(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType,
    TimestampNTZType)

  private def bind(e: Expression): Expression = e match {
    case l: Literal if l.value != null && bound(l.dataType) => ParamLiteral(l)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = f.condition.transformUp {
        case b: BinaryComparison => b.withNewChildren(b.children.map(bind))
      }
      if (c.fastEquals(f.condition)) f else f.copy(condition = c)
  }
}
