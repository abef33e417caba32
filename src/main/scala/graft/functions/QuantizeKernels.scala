package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native codegen'd quantization kernels.
  *
  * Both replace interpreted `transform(...)` higher-order lambdas on
  * the hot corpus-scan path. Spark's array HOFs are `CodegenFallback`:
  * every element of every row pays an interpreted `Round` eval — and
  * `Round` on DoubleType allocates a `BigDecimal` per element — which
  * made the quantization projection, not the distance kernels, the
  * dominant per-row cost of the similarity scans once the kernels went
  * native (measured at sf0.1: the int8 scoring pass spent ~0.8 s in a
  * single task, thread-pinned in the interpreted projection; the
  * optimizer's projection collapse additionally re-evaluates the
  * lambda once per referencing column). Values are bit-identical by
  * construction: the same widen-to-double, the same
  * `BigDecimal.valueOf(m).setScale(0, HALF_UP)` rounding `Round` uses
  * for scale-0 doubles (NaN/Infinity pass through, like Round), the
  * same final double→long cast, and null elements stay null.
  */
object QuantizeKernels {

  private[functions] def checkArrayFloatOrDouble(e: Expression, fn: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
    }

  /** Exact Spark `round(m, 0)` for doubles followed by the double→long
    * cast, as an inline Java expression over variable `m` — inlined
    * (not a shared named helper) because `addNewFunction` does not
    * dedupe and projection collapse can place several kernel instances
    * in one generated class. */
  private[functions] def roundToLongJavaExpr(m: String): String =
    s"(long) ((Double.isNaN($m) || Double.isInfinite($m)) ? $m : " +
      s"java.math.BigDecimal.valueOf($m).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue())"

  def roundToLong(m: Double): Long = {
    val r =
      if (java.lang.Double.isNaN(m) || java.lang.Double.isInfinite(m)) m
      else java.math.BigDecimal.valueOf(m)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    r.toLong
  }
}

/** `quantize_long(arr)` ==
  * `transform(arr, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))`
  * — the [[graft.operators.Similarity]] fixed-point quantizer as one
  * primitive loop. */
case class QuantizeLong(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    QuantizeKernels.checkArrayFloatOrDouble(child, "quantize_long")

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val mayHaveNullElements: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "quantize_long"

  override def nullSafeEval(arrAny: Any): Any = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (mayHaveNullElements && arr.isNullAt(i)) out(i) = null
      else {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        out(i) = QuantizeKernels.roundToLong(v * 1000000.0)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = ctx.freshName("quantizeLong")
      val get = if (isFloat) s"(double) a.getFloat(i)" else "a.getDouble(i)"
      val rounded = QuantizeKernels.roundToLongJavaExpr("m")
      val nullGuard = if (mayHaveNullElements) "a.isNullAt(i)" else "false"
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  int n = a.numElements();
           |  Object[] out = new Object[n];
           |  for (int i = 0; i < n; i++) {
           |    if ($nullGuard) { out[i] = null; }
           |    else {
           |      double m = $get * 1000000.0D;
           |      out[i] = (Object) ($rounded);
           |    }
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeLong =
    copy(child = newChild)
}

/** `int8_codes(arr)` == the [[graft.operators.Quantization]] symmetric
  * int8 code map as one primitive loop:
  * `maxabs = array_max(transform(arr, abs))`, then per element
  * `CASE WHEN maxabs = 0 THEN 0 ELSE CAST(round(x * 127 / maxabs) AS BIGINT) END`
  * with null elements staying null and a null/absent maxabs yielding
  * null codes (exactly the HOF form's null propagation). array_max's
  * semantics are preserved: null elements skipped, NaN ranks above
  * every number (Spark's double ordering). */
case class Int8Codes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    QuantizeKernels.checkArrayFloatOrDouble(child, "int8_codes")

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val mayHaveNullElements: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "int8_codes"

  override def nullSafeEval(arrAny: Any): Any = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var maxabs = 0.0
    var hasMax = false
    var i = 0
    while (i < n) {
      if (!(mayHaveNullElements && arr.isNullAt(i))) {
        val v = math.abs(if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
        // Spark double ordering: NaN > any number
        if (!hasMax || v > maxabs || java.lang.Double.isNaN(v)) maxabs = v
        hasMax = true
      }
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      // maxabs == 0 first: the HOF/oracle CASE WHEN maxabs = 0 THEN 0
      // yields 0 REGARDLESS of element nullness (the lambda never
      // looks at x on that branch) — checking element nullness first
      // violated exact parity on a [0.0, null] vector (r16 ADVICE)
      if (hasMax && maxabs == 0.0) out(i) = 0L
      else if (mayHaveNullElements && arr.isNullAt(i)) out(i) = null
      else if (!hasMax) out(i) = null
      else {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        out(i) = QuantizeKernels.roundToLong(v * 127.0 / maxabs)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = ctx.freshName("int8Codes")
      val get = if (isFloat) s"(double) a.getFloat(i)" else "a.getDouble(i)"
      val nullGuard = if (mayHaveNullElements) "a.isNullAt(i)" else "false"
      val rounded = QuantizeKernels.roundToLongJavaExpr("m")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  int n = a.numElements();
           |  double maxabs = 0.0D;
           |  boolean hasMax = false;
           |  for (int i = 0; i < n; i++) {
           |    if (!($nullGuard)) {
           |      double v = java.lang.Math.abs($get);
           |      if (!hasMax || v > maxabs || Double.isNaN(v)) maxabs = v;
           |      hasMax = true;
           |    }
           |  }
           |  Object[] out = new Object[n];
           |  for (int i = 0; i < n; i++) {
           |    // maxabs == 0 before the null check: CASE WHEN maxabs = 0
           |    // THEN 0 never evaluates x, so a null element yields 0 there
           |    if (hasMax && maxabs == 0.0D) { out[i] = (Object) 0L; }
           |    else if ($nullGuard) { out[i] = null; }
           |    else if (!hasMax) { out[i] = null; }
           |    else {
           |      double m = $get * 127.0D / maxabs;
           |      out[i] = (Object) ($rounded);
           |    }
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): Int8Codes =
    copy(child = newChild)
}
