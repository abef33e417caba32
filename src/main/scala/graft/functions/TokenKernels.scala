package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenization kernels.
  *
  * The library's canonical tokenizer ([[TextOps.tokens]]) was
  * `filter(split(text, " "), t -> t <> "")`: the split is codegen'd but
  * runs the regex machinery and materializes empty tokens, and the
  * filter is an `ArrayFilter` higher-order function — CodegenFallback,
  * one interpreted boxed lambda eval per token of every document. The
  * same shape repeats per TERM in the BM25 projections
  * (`size(filter(toks, tok = t))` × |terms|) and in the stopword
  * scorers (`size(filter(toks, isin(...)))`).
  *
  * These kernels compute the identical values as primitive byte/array
  * loops. Byte-level splitting is exact for UTF-8: the separator
  * (0x20) is a single byte that can never appear inside a multi-byte
  * sequence, so "maximal run of non-space bytes" equals "maximal run
  * of non-space characters" — the [[TokenCount]] precedent, here
  * materializing the runs instead of counting them. Token bytes are
  * copied out (never aliased into the row's transient buffer).
  */
object TokenKernels {

  private[functions] def checkString(e: Expression, fn: String): TypeCheckResult =
    if (e.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires a STRING argument, got ${e.dataType.sql}")

  private[functions] def checkStringArray(e: Expression, fn: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn requires ARRAY<STRING>, got ${other.sql}")
    }

  /** [[graft.GraftExtensions.install]], which registers these kernels. */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)
}

/** `tokens_ws(text)` == `filter(split(text, ' '), t -> t <> '')` as one
  * primitive byte scan — no regex, no empty-token intermediates, no
  * interpreted filter lambda. */
case class TokensWs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TokenKernels.checkString(child, "tokens_ws")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens_ws"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val b = s.getBytes
    val n = b.length
    var cnt = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val sp = b(i) == 0x20.toByte
      if (!sp && !inTok) cnt += 1
      inTok = !sp
      i += 1
    }
    val out = new Array[Any](cnt)
    var k = 0
    i = 0
    while (i < n) {
      if (b(i) != 0x20.toByte) {
        var j = i
        while (j < n && b(j) != 0x20.toByte) j += 1
        out(k) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, i, j))
        k += 1
        i = j
      } else i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val fn = ctx.freshName("tokensWs")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.unsafe.types.UTF8String s) {
           |  byte[] b = s.getBytes();
           |  int n = b.length;
           |  int cnt = 0;
           |  boolean inTok = false;
           |  for (int i = 0; i < n; i++) {
           |    boolean sp = b[i] == (byte) 0x20;
           |    if (!sp && !inTok) cnt++;
           |    inTok = !sp;
           |  }
           |  Object[] out = new Object[cnt];
           |  int k = 0;
           |  for (int i = 0; i < n; ) {
           |    if (b[i] != (byte) 0x20) {
           |      int j = i;
           |      while (j < n && b[j] != (byte) 0x20) j++;
           |      out[k++] = org.apache.spark.unsafe.types.UTF8String.fromBytes(
           |          java.util.Arrays.copyOfRange(b, i, j));
           |      i = j;
           |    } else i++;
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokensWs =
    copy(child = newChild)
}

/** Shared shape of the literal-term-list kernels: the term list is
  * fixed at plan time, so the generated code compares against
  * per-instance UTF8String constants (mutable state, initialized
  * once). */
abstract class TermListKernel extends UnaryExpression {
  def terms: Seq[String]
  protected lazy val termBytes: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  private lazy val mayHaveNullElements: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  protected def nullAt(idx: String): String =
    if (mayHaveNullElements) s"a.isNullAt($idx)" else "false"
  protected def isNullElem(arr: ArrayData, i: Int): Boolean =
    mayHaveNullElements && arr.isNullAt(i)

  /** Adds a per-instance UTF8String[] of the term constants to the
    * generated class and returns its variable name. */
  protected def addTermsState(ctx: CodegenContext): String = {
    val arr = ctx.addMutableState("org.apache.spark.unsafe.types.UTF8String[]", "graftTerms",
      v => {
        val inits = terms.zipWithIndex.map { case (t, i) =>
          val lit = ctx.addReferenceObj(s"graftTerm$i", UTF8String.fromString(t),
            "org.apache.spark.unsafe.types.UTF8String")
          s"$v[$i] = $lit;"
        }.mkString("\n")
        s"$v = new org.apache.spark.unsafe.types.UTF8String[${terms.length}];\n$inits"
      })
    arr
  }
}

/** `term_freqs(toks, array('t0', ...))` ==
  * `array(size(filter(toks, x -> x = 't0')), ...)` as ONE pass over the
  * token array — the BM25 per-document projection previously paid one
  * interpreted ArrayFilter (plus a filtered-array allocation) per TERM
  * per document just to count matches. Null tokens match nothing,
  * exactly as `x = 't'` is null-false under the filter. */
case class TermFreqs(child: Expression, terms: Seq[String]) extends TermListKernel {

  override def checkInputDataTypes(): TypeCheckResult =
    TokenKernels.checkStringArray(child, "term_freqs")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "term_freqs"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Long](terms.length)
    var i = 0
    while (i < n) {
      if (!isNullElem(arr, i)) {
        val tok = arr.getUTF8String(i)
        var t = 0
        while (t < termBytes.length) {
          if (termBytes(t).equals(tok)) counts(t) += 1L
          t += 1
        }
      }
      i += 1
    }
    new GenericArrayData(counts.map(c => c: Any))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsVar = addTermsState(ctx)
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = ctx.freshName("termFreqs")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  int n = a.numElements();
           |  long[] counts = new long[${terms.length}];
           |  for (int i = 0; i < n; i++) {
           |    if (!(${nullAt("i")})) {
           |      org.apache.spark.unsafe.types.UTF8String tok = a.getUTF8String(i);
           |      for (int t = 0; t < ${terms.length}; t++) {
           |        if ($termsVar[t].equals(tok)) counts[t]++;
           |      }
           |    }
           |  }
           |  Object[] out = new Object[${terms.length}];
           |  for (int t = 0; t < ${terms.length}; t++) out[t] = (Object) counts[t];
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($arr);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TermFreqs =
    copy(child = newChild)
}

/** `count_in(toks, array('w0', ...))` ==
  * `size(filter(toks, t -> t IN ('w0', ...)))` as one primitive pass
  * (occurrence count, not distinct — term frequency matters for the
  * language scorers). */
case class CountIn(child: Expression, terms: Seq[String]) extends TermListKernel {

  override def checkInputDataTypes(): TypeCheckResult =
    TokenKernels.checkStringArray(child, "count_in")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!isNullElem(arr, i)) {
        val tok = arr.getUTF8String(i)
        var t = 0
        var hit = false
        while (t < termBytes.length && !hit) {
          if (termBytes(t).equals(tok)) hit = true
          t += 1
        }
        if (hit) cnt += 1
      }
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsVar = addTermsState(ctx)
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = ctx.freshName("countIn")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private int $fn(org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  int n = a.numElements();
           |  int cnt = 0;
           |  for (int i = 0; i < n; i++) {
           |    if (!(${nullAt("i")})) {
           |      org.apache.spark.unsafe.types.UTF8String tok = a.getUTF8String(i);
           |      for (int t = 0; t < ${terms.length}; t++) {
           |        if ($termsVar[t].equals(tok)) { cnt++; break; }
           |      }
           |    }
           |  }
           |  return cnt;
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($arr);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CountIn =
    copy(child = newChild)
}

/** `filter_in(toks, array('w0', ...))` ==
  * `filter(toks, t -> t IN ('w0', ...))` as one primitive pass — the
  * postings pre-filter of the explode-join BM25 scale path. Null
  * tokens are dropped exactly as IN's null-false drops them under
  * filter. */
case class FilterIn(child: Expression, terms: Seq[String]) extends TermListKernel {

  override def checkInputDataTypes(): TypeCheckResult =
    TokenKernels.checkStringArray(child, "filter_in")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "filter_in"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val keep = new java.util.ArrayList[Any](4)
    var i = 0
    while (i < n) {
      if (!isNullElem(arr, i)) {
        val tok = arr.getUTF8String(i)
        var t = 0
        var hit = false
        while (t < termBytes.length && !hit) {
          if (termBytes(t).equals(tok)) hit = true
          t += 1
        }
        if (hit) keep.add(tok)
      }
      i += 1
    }
    new GenericArrayData(keep.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsVar = addTermsState(ctx)
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = ctx.freshName("filterIn")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  int n = a.numElements();
           |  java.util.ArrayList keep = new java.util.ArrayList(4);
           |  for (int i = 0; i < n; i++) {
           |    if (!(${nullAt("i")})) {
           |      org.apache.spark.unsafe.types.UTF8String tok = a.getUTF8String(i);
           |      for (int t = 0; t < ${terms.length}; t++) {
           |        if ($termsVar[t].equals(tok)) { keep.add(tok); break; }
           |      }
           |    }
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(keep.toArray());
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($arr);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FilterIn =
    copy(child = newChild)
}
