package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** The `p` nearest IVF cells of a quantized vector — cell ids ranked by
  * (exact squared distance asc, cid asc) against a broadcast centroid
  * array — as ONE native codegen'd kernel.
  *
  * This replaces the higher-order `aggregate`/`transform→array_sort→
  * slice` formulations of cell assignment and probe selection. Spark's
  * higher-order functions are `CodegenFallback`: the lambda body is an
  * interpreted expression tree re-evaluated per centroid per row, which
  * made the n×k×dim assignment pass the dominant cost of the whole IVF
  * family once k grows past the fixture scale (measured at sf10:
  * ~200 ns per multiply-add through the HOF fold vs a few ns here —
  * the assignment pass, and with it the k-means build, drops by over
  * an order of magnitude; see PLANS.md).
  *
  * Semantics are bit-identical to the replaced forms on the data the
  * library produces (null-free quantized vectors, struct elements
  * `(cid BIGINT, cq ARRAY<BIGINT>, cn2 BIGINT)`):
  * d2 = n2 − 2·dot(q, cq) + cn2 in exact 64-bit integer arithmetic,
  * dot over min(len) elements with null elements contributing 0
  * ([[DotLong]]'s rule), centroids with a null struct or null cq
  * skipped (the fold skipped them via its null-propagating CASE).
  * Returns fewer than `p` ids only when fewer valid centroids exist.
  */
case class IvfProbes(first: Expression, second: Expression, third: Expression, p: Int)
  extends TernaryExpression {

  require(p > 0, s"ivf_probes needs a positive probe count, got $p")

  private def centsType: Option[StructType] = first.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val okCents = centsType.exists { st =>
      Seq("cid", "cq", "cn2").forall(st.fieldNames.contains) &&
        st("cid").dataType == LongType && st("cn2").dataType == LongType &&
        (st("cq").dataType match {
          case ArrayType(LongType, _) => true
          case _ => false
        })
    }
    if (!okCents)
      TypeCheckResult.TypeCheckFailure(
        s"ivf_probes requires ARRAY<STRUCT<cid BIGINT, cq ARRAY<BIGINT>, cn2 BIGINT>> as argument 1, got ${first.dataType.sql}")
    else if (!(second.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }))
      TypeCheckResult.TypeCheckFailure(
        s"ivf_probes requires ARRAY<BIGINT> as argument 2, got ${second.dataType.sql}")
    else if (third.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"ivf_probes requires BIGINT as argument 3, got ${third.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  // resolved once; baked into generated code as constants
  private lazy val st = centsType.get
  private lazy val cidIdx = st.fieldIndex("cid")
  private lazy val cqIdx = st.fieldIndex("cq")
  private lazy val cn2Idx = st.fieldIndex("cn2")
  private lazy val nFields = st.length
  private lazy val qMayHaveNullElements: Boolean = second.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  private lazy val cqMayHaveNullElements: Boolean = st("cq").dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ivf_probes"

  /** The centroid set pre-flattened into primitive arrays, when the
    * cents argument is a compile-time constant (it always is in this
    * library — [[graft.operators.Similarity]] inlines the quantizer as
    * a plan literal). The literal's GenericArrayData stores BOXED
    * elements, so even a codegen'd loop over it pays an unbox plus
    * megamorphic ArrayData dispatch per multiply-add (~50 ns measured);
    * flattening once per plan into long[] makes the inner loop
    * primitive and JIT-friendly. Centroids with a null struct or null
    * cq are dropped here — exactly the elements the generic path
    * skips. starts has k+1 entries (per-centroid offsets into flat). */
  private lazy val flattened: Option[(Array[Long], Array[Long], Array[Long], Array[Int])] =
    if (!first.foldable) None
    else Option(first.eval(null)).map { v =>
      val cents = v.asInstanceOf[ArrayData]
      val k = cents.numElements()
      val cids = Array.newBuilder[Long]
      val cn2s = Array.newBuilder[Long]
      val flat = Array.newBuilder[Long]
      val starts = Array.newBuilder[Int]
      var off = 0
      var i = 0
      while (i < k) {
        if (!cents.isNullAt(i)) {
          val c = cents.getStruct(i, nFields)
          if (!c.isNullAt(cqIdx)) {
            val cq = c.getArray(cqIdx)
            val n = cq.numElements()
            cids += c.getLong(cidIdx)
            cn2s += c.getLong(cn2Idx)
            starts += off
            var j = 0
            while (j < n) {
              // boxed null elements contribute 0, like the generic path
              flat += (if (cqMayHaveNullElements && cq.isNullAt(j)) 0L else cq.getLong(j))
              j += 1
            }
            off += n
          }
        }
        i += 1
      }
      starts += off
      (cids.result(), cn2s.result(), flat.result(), starts.result())
    }

  override def nullSafeEval(centsAny: Any, qAny: Any, n2Any: Any): Any =
    flattened match {
      case Some((cids, cn2s, flat, starts)) =>
        val q = qAny.asInstanceOf[ArrayData]
        val n2 = n2Any.asInstanceOf[Long]
        val k = cids.length
        val bd = new Array[Long](p)
        val bc = new Array[Long](p)
        var filled = 0
        var i = 0
        while (i < k) {
          val base = starts(i)
          val n = math.min(starts(i + 1) - base, q.numElements())
          var dot = 0L
          var j = 0
          while (j < n) {
            if (!qMayHaveNullElements || !q.isNullAt(j))
              dot += q.getLong(j) * flat(base + j)
            j += 1
          }
          val d2 = n2 - 2L * dot + cn2s(i)
          val cid = cids(i)
          var pos = if (filled < p) filled else p
          while (pos > 0 && (d2 < bd(pos - 1) ||
                 (d2 == bd(pos - 1) && cid < bc(pos - 1)))) pos -= 1
          if (pos < p) {
            var m = math.min(filled, p - 1)
            while (m > pos) { bd(m) = bd(m - 1); bc(m) = bc(m - 1); m -= 1 }
            bd(pos) = d2; bc(pos) = cid
            if (filled < p) filled += 1
          }
          i += 1
        }
        new GenericArrayData(java.util.Arrays.copyOfRange(bc, 0, filled))
      case None => genericEval(centsAny, qAny, n2Any)
    }

  private def genericEval(centsAny: Any, qAny: Any, n2Any: Any): Any = {
    val cents = centsAny.asInstanceOf[ArrayData]
    val q = qAny.asInstanceOf[ArrayData]
    val n2 = n2Any.asInstanceOf[Long]
    val k = cents.numElements()
    val bd = new Array[Long](p)
    val bc = new Array[Long](p)
    var filled = 0
    var i = 0
    while (i < k) {
      if (!cents.isNullAt(i)) {
        val c = cents.getStruct(i, nFields)
        if (!c.isNullAt(cqIdx)) {
          val cid = c.getLong(cidIdx)
          val cq = c.getArray(cqIdx)
          val cn2 = c.getLong(cn2Idx)
          val n = math.min(q.numElements(), cq.numElements())
          var dot = 0L
          var j = 0
          while (j < n) {
            if ((!qMayHaveNullElements || !q.isNullAt(j)) &&
                (!cqMayHaveNullElements || !cq.isNullAt(j)))
              dot += q.getLong(j) * cq.getLong(j)
            j += 1
          }
          val d2 = n2 - 2L * dot + cn2
          // insertion into the top-p ranked by (d2 asc, cid asc)
          var pos = if (filled < p) filled else p
          while (pos > 0 && (d2 < bd(pos - 1) ||
                 (d2 == bd(pos - 1) && cid < bc(pos - 1)))) pos -= 1
          if (pos < p) {
            var m = math.min(filled, p - 1)
            while (m > pos) { bd(m) = bd(m - 1); bc(m) = bc(m - 1); m -= 1 }
            bd(pos) = d2; bc(pos) = cid
            if (filled < p) filled += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOfRange(bc, 0, filled))
  }

  /** The kernel loop is emitted as its OWN generated method (not
    * inlined into the caller's consume path): plans stack many of
    * these kernels into one projection — the PQ encoder has 16, plus
    * reconstruction — and inlining them pushed the whole-stage-codegen
    * `doConsume` method past the JVM's 8 KB huge-method bytecode limit,
    * so HotSpot never JIT-compiled it and the encode/training passes
    * ran in the bytecode INTERPRETER (~75× slower; measured 4.5 s for a
    * 2 000-row × 16-kernel pass at sf0.1, thread dumps pinned in
    * `project_doConsume_0`). As a standalone ~2 KB method each kernel
    * JITs normally, and the caller's consume path stays small. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    flattened match {
      case Some((cids, cn2s, flat, starts)) =>
        nullSafeCodeGen(ctx, ev, (_, q, n2) => {
          val cidsRef = ctx.addReferenceObj("ivfCids", cids, "long[]")
          val cn2sRef = ctx.addReferenceObj("ivfCn2s", cn2s, "long[]")
          val flatRef = ctx.addReferenceObj("ivfFlat", flat, "long[]")
          val startsRef = ctx.addReferenceObj("ivfStarts", starts, "int[]")
          val fn = ctx.freshName("ivfProbesKernel")
          val qGuard = if (qMayHaveNullElements) "if (!q.isNullAt(j)) " else ""
          val fnName = ctx.addNewFunction(fn,
            s"""
               |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
               |    org.apache.spark.sql.catalyst.util.ArrayData q, long n2) {
               |  long[] bd = new long[$p];
               |  long[] bc = new long[$p];
               |  int filled = 0;
               |  for (int i = 0; i < ${cids.length}; i++) {
               |    int base = $startsRef[i];
               |    int n = java.lang.Math.min($startsRef[i + 1] - base, q.numElements());
               |    long dot = 0L;
               |    for (int j = 0; j < n; j++) {
               |      ${qGuard}dot += q.getLong(j) * $flatRef[base + j];
               |    }
               |    long d2 = n2 - 2L * dot + $cn2sRef[i];
               |    long cid = $cidsRef[i];
               |    int pos = filled < $p ? filled : $p;
               |    while (pos > 0 && (d2 < bd[pos - 1] ||
               |           (d2 == bd[pos - 1] && cid < bc[pos - 1]))) pos--;
               |    if (pos < $p) {
               |      for (int m = java.lang.Math.min(filled, $p - 1); m > pos; m--) {
               |        bd[m] = bd[m - 1]; bc[m] = bc[m - 1];
               |      }
               |      bd[pos] = d2; bc[pos] = cid;
               |      if (filled < $p) filled++;
               |    }
               |  }
               |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(
               |    java.util.Arrays.copyOfRange(bc, 0, filled));
               |}
             """.stripMargin)
          s"${ev.value} = $fnName($q, $n2);"
        })
      case None => genericDoGenCode(ctx, ev)
    }

  private def genericDoGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, q, n2) => {
      val fn = ctx.freshName("ivfProbesGeneric")
      val elemGuard =
        (if (qMayHaveNullElements) "!q.isNullAt(j) && " else "") +
          (if (cqMayHaveNullElements) "!cq.isNullAt(j) && " else "")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData cents,
           |    org.apache.spark.sql.catalyst.util.ArrayData q, long n2) {
           |  int k = cents.numElements();
           |  long[] bd = new long[$p];
           |  long[] bc = new long[$p];
           |  int filled = 0;
           |  for (int i = 0; i < k; i++) {
           |    if (cents.isNullAt(i)) continue;
           |    org.apache.spark.sql.catalyst.InternalRow c = cents.getStruct(i, $nFields);
           |    if (c.isNullAt($cqIdx)) continue;
           |    long cid = c.getLong($cidIdx);
           |    org.apache.spark.sql.catalyst.util.ArrayData cq = c.getArray($cqIdx);
           |    long cn2 = c.getLong($cn2Idx);
           |    int n = java.lang.Math.min(q.numElements(), cq.numElements());
           |    long dot = 0L;
           |    for (int j = 0; j < n; j++) {
           |      if (${if (elemGuard.isEmpty) "true" else elemGuard.stripSuffix(" && ")})
           |        dot += q.getLong(j) * cq.getLong(j);
           |    }
           |    long d2 = n2 - 2L * dot + cn2;
           |    int pos = filled < $p ? filled : $p;
           |    while (pos > 0 && (d2 < bd[pos - 1] ||
           |           (d2 == bd[pos - 1] && cid < bc[pos - 1]))) pos--;
           |    if (pos < $p) {
           |      for (int m = java.lang.Math.min(filled, $p - 1); m > pos; m--) {
           |        bd[m] = bd[m - 1]; bc[m] = bc[m - 1];
           |      }
           |      bd[pos] = d2; bc[pos] = cid;
           |      if (filled < $p) filled++;
           |    }
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |    java.util.Arrays.copyOfRange(bc, 0, filled));
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($cents, $q, $n2);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): IvfProbes =
    copy(first = newFirst, second = newSecond, third = newThird)
}
