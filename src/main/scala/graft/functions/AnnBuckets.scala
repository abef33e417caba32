package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** All LSH hash-table bucket ids of one quantized vector in ONE fused
  * pass — the projection kernel of the ANN operators.
  *
  * `ann_buckets(q, signs, planes, tables)` returns `array<bigint>` of
  * `tables` bucket ids, where bit p of table t's bucket is the sign of
  * the dot product of `q` against the ±1 hyperplane
  * `signs[(t*planes + p)*dims ... +dims)`. Bit-for-bit identical to
  * composing one `dot_long` + threshold per (table, plane) — the
  * formulation the DuckDB twin keeps — but instead of `tables × planes`
  * separate expression trees (up to 80 here), each re-reading the
  * vector through its own codegen'd loop, the fused kernel copies the
  * vector into a local primitive array once and streams the flat sign
  * matrix sequentially. Shrinks both the generated code (one expression
  * node instead of ~240) and the per-row work (one vector read).
  *
  * `signs`/`planes`/`tables` must be foldable (plan-time constants):
  * they are evaluated once and baked into the generated code as a
  * reference object, so the hot loop carries no per-row literal reads.
  */
case class AnnBuckets(vec: Expression, signsExpr: Expression,
                      planesExpr: Expression, tablesExpr: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(vec, signsExpr, planesExpr, tablesExpr)
  override def nullable: Boolean = vec.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ann_buckets"

  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArray(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (!isLongArray(vec))
      TypeCheckResult.TypeCheckFailure(
        s"ann_buckets requires ARRAY<BIGINT> vector, got ${vec.dataType.sql}")
    else if (!isLongArray(signsExpr) || !signsExpr.foldable)
      TypeCheckResult.TypeCheckFailure("ann_buckets requires a foldable ARRAY<BIGINT> sign matrix")
    else if (planesExpr.dataType != IntegerType || !planesExpr.foldable ||
             tablesExpr.dataType != IntegerType || !tablesExpr.foldable)
      TypeCheckResult.TypeCheckFailure("ann_buckets requires foldable INT planes and tables")
    else {
      val p = planesExpr.eval().asInstanceOf[Int]
      val t = tablesExpr.eval().asInstanceOf[Int]
      val len = signsExpr.eval().asInstanceOf[ArrayData].numElements()
      if (p <= 0 || t <= 0)
        TypeCheckResult.TypeCheckFailure(
          s"ann_buckets requires positive planes and tables, got planes=$p tables=$t")
      else if (len % (p * t) != 0)
        TypeCheckResult.TypeCheckFailure(
          s"sign matrix length $len is not a multiple of planes*tables = ${p * t}")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  private lazy val planes: Int = planesExpr.eval().asInstanceOf[Int]
  private lazy val tables: Int = tablesExpr.eval().asInstanceOf[Int]
  private lazy val flatSigns: Array[Long] = signsExpr.eval().asInstanceOf[ArrayData].toLongArray()
  private lazy val dims: Int = flatSigns.length / (tables * planes)
  // quantized call sites never produce null elements, but the function
  // is SQL-exposed; a null element must contribute 0, not read garbage
  private lazy val mayHaveNullElements: Boolean = vec.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def eval(input: InternalRow): Any = {
    val qv = vec.eval(input)
    if (qv == null) null
    else {
      val arr = qv.asInstanceOf[ArrayData]
      val n = math.min(dims, arr.numElements())
      val q = new Array[Long](dims)
      var i = 0
      while (i < n) {
        if (!mayHaveNullElements || !arr.isNullAt(i)) q(i) = arr.getLong(i)
        i += 1
      }
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var b = 0L
        var p = 0
        while (p < planes) {
          var s = 0L
          val base = (t * planes + p) * dims
          var d = 0
          while (d < dims) { s += q(d) * flatSigns(base + d); d += 1 }
          if (s >= 0) b |= 1L << p
          p += 1
        }
        out(t) = b
        t += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = vec.genCode(ctx)
    val sg = ctx.addReferenceObj("annSigns", flatSigns, "long[]")
    // every generated local is freshName'd — bare `i`/`t`/`s` would
    // shadow-collide if this block lands inside generated code that
    // already declares one (Java forbids local shadowing)
    val q = ctx.freshName("q")
    val out = ctx.freshName("out")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val t = ctx.freshName("t")
    val p = ctx.freshName("p")
    val d = ctx.freshName("d")
    val b = ctx.freshName("b")
    val s = ctx.freshName("s")
    val base = ctx.freshName("base")
    val nullGuard = if (mayHaveNullElements) s"!${childGen.value}.isNullAt($i) ? " else ""
    val nullGuardClose = if (mayHaveNullElements) " : 0L" else ""
    // when vec is non-nullable there is no isNull variable to declare —
    // the returned ExprCode must carry FalseLiteral instead, or
    // consumers emit a reference to an undeclared name and the stage
    // falls back to interpreted execution
    val isNullDecl =
      if (nullable) s"boolean ${ev.isNull} = ${childGen.isNull};" else ""
    val codeStr =
      s"""
         |${childGen.code}
         |$isNullDecl
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${childGen.isNull}) {
         |  int $n = java.lang.Math.min($dims, ${childGen.value}.numElements());
         |  long[] $q = new long[$dims];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $q[$i] = $nullGuard${childGen.value}.getLong($i)$nullGuardClose;
         |  }
         |  long[] $out = new long[$tables];
         |  for (int $t = 0; $t < $tables; $t++) {
         |    long $b = 0L;
         |    for (int $p = 0; $p < $planes; $p++) {
         |      long $s = 0L;
         |      int $base = ($t * $planes + $p) * $dims;
         |      for (int $d = 0; $d < $dims; $d++) $s += $q[$d] * $sg[$base + $d];
         |      if ($s >= 0L) $b |= (1L << $p);
         |    }
         |    $out[$t] = $b;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    val block = org.apache.spark.sql.catalyst.expressions.codegen.CodeBlock(Seq(codeStr), Seq.empty)
    if (nullable) ev.copy(code = block) else ev.copy(code = block, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): AnnBuckets =
    copy(vec = newChildren(0), signsExpr = newChildren(1),
      planesExpr = newChildren(2), tablesExpr = newChildren(3))
}
