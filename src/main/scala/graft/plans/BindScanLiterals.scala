package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** A comparison operand whose value the generated code reads at class
  * init instead of writing it into the Java source. Spark's code cache
  * is keyed on that source, so a filter over a new date window or bound
  * compiles to the class an earlier call already generated; only the
  * `references` array differs. It prints and compares as its literal,
  * so explain output and plan reuse do not change. */
case class BoundLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("boundLiteral", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Plans file scans with Spark's own [[FileSourceStrategy]], then binds
  * the literal operands of the comparisons in the `FilterExec` above the
  * scan as [[BoundLiteral]]s. The scan's data and pushed filters keep the
  * real literals, so parquet row-group skipping is unchanged; filters
  * over in-memory or checkpointed data are left to Spark's strategies.
  * Only the numeric and datetime types codegen writes inline are bound;
  * a null literal carries no value, and string and decimal literals
  * already reach generated code as references. Installed by
  * [[graft.GraftExtensions]]. */
object BindScanLiterals extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case f: FilterExec => f.copy(condition = bind(f.condition))
    })

  /** Every non-null, inlined-type literal operand of a comparison in `e`
    * as a [[BoundLiteral]]. */
  def bind(e: Expression): Expression = e.transform {
    case c: BinaryComparison => c.withNewChildren(c.children.map {
      case l @ Literal(v, t) if v != null && inlined(t) => BoundLiteral(l)
      case other => other
    })
  }

  private def inlined(t: DataType): Boolean = t match {
    case IntegerType | LongType | DateType | TimestampType | TimestampNTZType |
        DoubleType | FloatType | ShortType | ByteType => true
    case _ => false
  }
}
