package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact integer dot product of two `array<long>` columns as a native
  * Catalyst expression with whole-stage codegen — a tight primitive
  * loop over the array data, no per-element lambda dispatch.
  *
  * This is the hot inner kernel of the similarity operators: the
  * `zip_with`/`aggregate` higher-order formulation is interpreted
  * (one virtual call per element per row), which dominates the
  * within-bucket pair scoring. Values are identical to the
  * higher-order form for equal-length null-free arrays (the quantized
  * embedding arrays are both): an exact 64-bit integer sum,
  * order-independent and engine-portable.
  *
  * Length = min of the two arrays; null elements contribute 0 (the
  * library's quantized call sites never produce them, but the function
  * is SQL-exposed via GraftExtensions, so misuse must not read garbage).
  */
case class DotLong(left: Expression, right: Expression)
  extends BinaryExpression {

  // No ExpectsInputTypes (AbstractDataType is private[sql] in Spark 4):
  // enforce array<long> inputs directly so SQL misuse (array<int>,
  // array<double>) fails at analysis time instead of reading garbage
  // through ArrayData.getLong.
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).zipWithIndex.collectFirst {
      case (e, i) if !e.dataType.isInstanceOf[ArrayType] ||
        e.dataType.asInstanceOf[ArrayType].elementType != LongType =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_long requires ARRAY<BIGINT> arguments, argument ${i + 1} is ${e.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  // lazy val: dataType is fixed after resolution, and interpreted eval
  // (HOF lambdas call eval per element) must not re-derive this per row
  private lazy val mayHaveNullElements: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = mayHaveNullElements
    var s = 0L
    var i = 0
    while (i < n) {
      if (!checkNulls || (!x.isNullAt(i) && !y.isNullAt(i)))
        s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      // the null guard is only emitted when the schema says elements can
      // be null; on never-null data the branch predicts perfectly, so
      // the loop stays effectively three ops per element either way
      val guard =
        if (mayHaveNullElements) s"if (!$a.isNullAt($i) && !$b.isNullAt($i)) " else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $guard$s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}
