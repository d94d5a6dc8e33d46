package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison,
  Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/**
 * One compiled filter per query shape. Spark writes `Long`, `Int` and
 * `Date` literals into the generated Java, so two point lookups that
 * differ only in the key each pay a Janino compile. This physical rule
 * rewrites every `FilterExec` of the session, whatever its source (ORC
 * reads, CSV loads, local relations, filters above joins): a non-null
 * integral, date or timestamp literal that is a direct operand of a
 * comparison or `IN` becomes a [[KeyParam]], whose generated code reads
 * the value from the compiled class's references. A literal under any
 * other function stays, since some functions need a foldable operand to
 * generate code.
 *
 * The rule runs as `preColumnarTransitions`, before
 * `CollapseCodegenStages`, on both the adaptive and the non-adaptive
 * path. Evaluation, explain text and SQL rendering are the literal's.
 */
object KeyParams extends Rule[SparkPlan] {

  /** SparkSessionExtensions hook: `.withExtensions(KeyParams.register)`. */
  def register(extensions: SparkSessionExtensions): Unit =
    extensions.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = KeyParams
    })

  /** The literal types lifted out of generated code. */
  private def keyed(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && keyed(dt) => KeyParam(v, dt)
    case _ => e
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transform {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
        case in: In => in.withNewChildren(in.children.map(param))
      }
      if (cond.fastEquals(f.condition)) f else f.copy(condition = cond)
  }
}

/** A literal whose generated code reads its value from the compiled
  * class's references, so the class does not depend on the value.
  * It evaluates, prints and renders as SQL as the literal does. */
case class KeyParam(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("key", value,
      CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "key",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(v, dataType))
  }
}
