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

/** Physical rule: in each `FilterExec` comparison with a non-null
  * literal on either side, and in each `IN` list of a `FilterExec`, a
  * literal of a type `Literal.doGenCode` writes into the generated code
  * (integral, floating, date and timestamp types) becomes a
  * [[HoistedLiteral]]. The other side of a comparison may be any
  * expression: after `CollapseProject` a filter on a derived column
  * compares the derivation itself (`unix_date(to_date(d)) >= 9000`).
  * (An `IN` list longer than the optimizer's `InSet` threshold is
  * already an `InSet`, whose set is a reference.) Repeated reads that
  * differ only in their range or key constants then compile nothing
  * new.
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

  private def hoisted(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && hoistable(dt) => HoistedLiteral(v, dt)
    case _ => e
  }

  /** The constant `v` (a Scala or Java value, as `lit` takes it) as a
    * [[HoistedLiteral]] when its type is one Spark writes into code,
    * else as a plain literal.
    */
  def constant(v: Any): Expression = hoisted(Literal.create(v))

  private def hoistIn(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(hoisted))
    case in: In => in.copy(list = in.list.map(hoisted))
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val condition = hoistIn(f.condition)
      if (condition fastEquals f.condition) f else f.copy(condition = condition)
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
