package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null constant whose generated code loads its value from the
  * plan's reference array (once per generated object, into a field)
  * instead of spelling it into the Java source. The source is then the
  * same for every value, so a filter re-run with a new range or key
  * hits Spark's compiled-class cache instead of compiling new classes.
  *
  * Not foldable (constant folding would turn it back into a
  * [[Literal]]), not nullable, and it evaluates to its value. Equality
  * includes the value, as a literal's does, so exchange or subquery
  * reuse never merges two plans that differ in a constant.
  */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && LiteralHoisting.hoistable(dataType),
    s"HoistedLiteral holds a non-null $dataType constant Spark writes into code")

  private def literal = Literal(value, dataType)

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  // a literal's equality: NaN equals NaN, so an identical NaN filter
  // still canonicalizes equal
  override def equals(other: Any): Boolean = other match {
    case h: HoistedLiteral => literal == h.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("hoisted", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule: in each `FilterExec` comparison between an attribute
  * and a non-null literal of a type `Literal.doGenCode` writes into the
  * generated code (integral, floating, date and timestamp types), the
  * literal becomes a [[HoistedLiteral]]. Repeated reads that differ
  * only in their range or key constants then compile nothing new.
  *
  * Only the filter's own condition changes: a scan's partition and data
  * filters are separate expressions, so partition pruning and Parquet
  * pushdown see the real literals. The rule runs before
  * `CollapseCodegenStages` both in the non-adaptive preparation and at
  * each adaptive stage creation, through the columnar-rule hook
  * ([[LiteralHoistingColumnarRule]]); it is idempotent.
  */
object LiteralHoisting extends Rule[SparkPlan] {

  private[plans] def hoistable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case _ => false
  }

  private object Constant {
    def unapply(e: Expression): Option[Literal] = e match {
      case l @ Literal(v, dt) if v != null && hoistable(dt) => Some(l)
      case _ => None
    }
  }

  private def hoist(l: Literal) = HoistedLiteral(l.value, l.dataType)

  private def hoistIn(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => (c.left, c.right) match {
      case (a: Attribute, Constant(l)) => c.withNewChildren(Seq(a, hoist(l)))
      case (Constant(l), a: Attribute) => c.withNewChildren(Seq(hoist(l), a))
      case _ => c
    }
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val hoisted = hoistIn(f.condition)
      if (hoisted fastEquals f.condition) f else f.copy(condition = hoisted)
  }
}

/** Carries [[LiteralHoisting]] into the session through
  * `injectColumnar`: `preColumnarTransitions` runs in both the
  * non-adaptive preparation and adaptive stage creation, before
  * whole-stage code generation collapses the plan.
  */
object LiteralHoistingColumnarRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = LiteralHoisting
}
