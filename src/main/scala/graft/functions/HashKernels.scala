package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd md5-hash kernels.
  *
  * The library's portable 60-bit hash ([[TextOps.hash60]]) was composed
  * from built-ins as `conv(substring(md5(s), 1, 15), 16, 10)` cast to
  * long. Each of those steps is individually codegen'd, but the chain
  * materializes a 32-char hex STRING per row (md5), slices it
  * (substring), radix-parses the slice through `NumberConverter` into
  * ANOTHER string (conv), and finally parses that decimal string into a
  * long (cast) — five allocations and two string parses to extract 60
  * bits that already sit at the front of the 16-byte digest. On the
  * shingle pipelines (minhash signatures, span windows, eval-set
  * decontamination) this chain runs once per corpus WINDOW, making it
  * the dominant per-row cost of every signature build.
  *
  * These kernels compute the identical values directly from the digest
  * bytes: hex char j of md5 is nibble j of the digest, so
  * `substring(hex, 1, 15)` (nibbles 0..14) is the big-endian 60-bit
  * value `(bytes[0..7] >>> 4)` and `substring(hex, 16, 15)` (nibbles
  * 15..29) is `(bytes[7..14] & (2^60 - 1))`. One MessageDigest per
  * task (codegen holds it in mutable state; interpreted eval in a
  * thread-local), one digest per row, no hex/decimal strings. The
  * DuckDB oracles keep the textual `CAST(concat('0x', substr(md5(s),
  * 1, 15)) AS BIGINT)` form — same value, independently computed.
  */
object HashKernels {

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

  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Thread-local MessageDigest for the interpreted eval paths. */
  private[functions] def threadMd(): java.security.MessageDigest = localMd.get()

  /** MD5 digest of a UTF8String's bytes (interpreted path). */
  private[functions] def md5digest(s: UTF8String): Array[Byte] = {
    val md = localMd.get()
    md.reset()
    md.update(s.getBytes)
    md.digest()
  }

  /** First 60 bits of a 16-byte digest = `conv(substring(hex,1,15),16,10)`:
    * big-endian bytes 0..7 shifted right one nibble. */
  private[functions] def bits60a(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Nibbles 15..29 of the digest = `conv(substring(hex,16,15),16,10)`:
    * big-endian bytes 7..14 masked to the low 60 bits. */
  private[functions] def bits60b(d: Array[Byte]): Long = {
    var v = 0L
    var i = 7
    while (i < 15) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v & ((1L << 60) - 1)
  }

  /** Per-instance mutable-state MessageDigest (one per generated class
    * instance == one per task — no contention, no per-row getInstance). */
  private[functions] def addMdState(ctx: CodegenContext): String =
    ctx.addMutableState("java.security.MessageDigest", "graftMd5",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)

  /** Inline Java expression for the first 60 digest bits (nibbles
    * 0..14) over byte[16] variable `d` — inlined, not a shared named
    * helper, because `addNewFunction` does not dedupe and projection
    * collapse can place several kernel instances in one generated
    * class (the QuantizeKernels precedent). */
  private[functions] def bits60aJavaExpr(d: String): String =
    s"(((($d[0] & 0xffL) << 56) | (($d[1] & 0xffL) << 48) | (($d[2] & 0xffL) << 40) | " +
      s"(($d[3] & 0xffL) << 32) | (($d[4] & 0xffL) << 24) | (($d[5] & 0xffL) << 16) | " +
      s"(($d[6] & 0xffL) << 8) | ($d[7] & 0xffL)) >>> 4)"

  /** Inline Java expression for digest nibbles 15..29 (see above). */
  private[functions] def bits60bJavaExpr(d: String): String =
    s"(((($d[7] & 0xffL) << 56) | (($d[8] & 0xffL) << 48) | (($d[9] & 0xffL) << 40) | " +
      s"(($d[10] & 0xffL) << 32) | (($d[11] & 0xffL) << 24) | (($d[12] & 0xffL) << 16) | " +
      s"(($d[13] & 0xffL) << 8) | ($d[14] & 0xffL)) & ((1L << 60) - 1))"

  /** [[graft.GraftExtensions.install]], which registers these kernels. */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)
}

/** `hash60(s)` == `CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)`. */
case class Hash60(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.checkString(child, "hash60")
  override def dataType: DataType = LongType
  override def prettyName: String = "hash60"

  override def nullSafeEval(input: Any): Any =
    HashKernels.bits60a(HashKernels.md5digest(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = HashKernels.addMdState(ctx)
    nullSafeCodeGen(ctx, ev, s => {
      val d = ctx.freshName("d")
      s"""
         |$md.reset();
         |$md.update($s.getBytes());
         |byte[] $d = $md.digest();
         |${ev.value} = ${HashKernels.bits60aJavaExpr(d)};
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

/** `hash60b(s)` == `CAST(conv(substring(md5(s), 16, 15), 16, 10) AS BIGINT)`. */
case class Hash60B(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.checkString(child, "hash60b")
  override def dataType: DataType = LongType
  override def prettyName: String = "hash60b"

  override def nullSafeEval(input: Any): Any =
    HashKernels.bits60b(HashKernels.md5digest(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = HashKernels.addMdState(ctx)
    nullSafeCodeGen(ctx, ev, s => {
      val d = ctx.freshName("d")
      s"""
         |$md.reset();
         |$md.update($s.getBytes());
         |byte[] $d = $md.digest();
         |${ev.value} = ${HashKernels.bits60bJavaExpr(d)};
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Hash60B =
    copy(child = newChild)
}

/** `hash120(s)` == `struct(hash60(s) AS h1, hash60b(s) AS h2)` with ONE
  * digest — for the dual-hash sites (exact dedup, versioning, the
  * streaming content hashes) that previously relied on Catalyst CSE to
  * share the md5 hex between the two conv chains. */
case class Hash120(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.checkString(child, "hash120")
  override def dataType: DataType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
  override def prettyName: String = "hash120"

  override def nullSafeEval(input: Any): Any = {
    val d = HashKernels.md5digest(input.asInstanceOf[UTF8String])
    new GenericInternalRow(Array[Any](HashKernels.bits60a(d), HashKernels.bits60b(d)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = HashKernels.addMdState(ctx)
    nullSafeCodeGen(ctx, ev, s => {
      val d = ctx.freshName("d")
      s"""
         |$md.reset();
         |$md.update($s.getBytes());
         |byte[] $d = $md.digest();
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { (Object) ${HashKernels.bits60aJavaExpr(d)},
         |                   (Object) ${HashKernels.bits60bJavaExpr(d)} });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Hash120 =
    copy(child = newChild)
}

/** `ngram_hash60(toks, k)` == the per-window hash column of the shingle
  * pipelines as ONE array pass:
  * `transform(ngramIndex(toks, k), i -> hash60(ngramAt(toks, i, k)))`
  * where ngramAt is `concat_ws(' ', toks[i+1], .., toks[i+k])` — but
  * with no index explode, no per-window concat string, and no hex
  * round-trip: the digest is fed token bytes + a single 0x20 separator
  * between non-null tokens (exactly concat_ws semantics: null elements
  * are SKIPPED, separator only between kept parts). Output element j is
  * the hash of the window starting at 0-based token j; docs shorter
  * than k yield an empty array, like `ngramIndex`'s empty-range guard.
  */
case class NgramHash60(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"ngram_hash60 window must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.checkStringArray(child, "ngram_hash60")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hash60"

  private lazy val mayHaveNullElements: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val md = HashKernels.threadMd()
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      md.reset()
      var first = true
      var j = 0
      while (j < k) {
        if (!(mayHaveNullElements && arr.isNullAt(i + j))) {
          if (!first) md.update(0x20.toByte)
          md.update(arr.getUTF8String(i + j).getBytes)
          first = false
        }
        j += 1
      }
      out(i) = HashKernels.bits60a(md.digest())
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = HashKernels.addMdState(ctx)
    val nullGuard = if (mayHaveNullElements) "a.isNullAt(i + j)" else "false"
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = ctx.freshName("ngramHash60")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  int n = a.numElements();
           |  int m = n - $k + 1;
           |  if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
           |  Object[] out = new Object[m];
           |  for (int i = 0; i < m; i++) {
           |    $md.reset();
           |    boolean first = true;
           |    for (int j = 0; j < $k; j++) {
           |      if (!($nullGuard)) {
           |        if (!first) $md.update((byte) 0x20);
           |        $md.update(a.getUTF8String(i + j).getBytes());
           |        first = false;
           |      }
           |    }
           |    byte[] d = $md.digest();
           |    out[i] = (Object) ${HashKernels.bits60aJavaExpr("d")};
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($arr);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NgramHash60 =
    copy(child = newChild)
}

/** `skipgram_pairs(toks, w)` == the per-document forward skip-gram pair
  * array of [[graft.operators.CoOccur]] as ONE primitive loop:
  * `flatten(transform(sequence(1, n), i -> transform(slice(toks, i+1, w),
  * x -> struct(toks[i] AS center, x AS context))))` — those HOFs are
  * CodegenFallback (interpreted, one boxed lambda eval per element,
  * plus a sequence array, a slice copy and a flatten copy per
  * position). Here: exact-size output array, struct rows referencing
  * the input token strings, order identical (center position
  * ascending, context offset ascending). Documents with fewer than two
  * tokens yield the empty array, matching the `size >= 2` guard. */
case class SkipgramPairs(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"skipgram_pairs window must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.checkStringArray(child, "skipgram_pairs")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("center", StringType, nullable = true),
    StructField("context", StringType, nullable = true))), containsNull = false)
  override def prettyName: String = "skipgram_pairs"

  private lazy val mayHaveNullElements: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var total = 0
    var i = 0
    while (i < n) { total += math.min(w, n - 1 - i); i += 1 }
    if (total <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](total)
    var p = 0
    i = 0
    while (i < n) {
      val c: AnyRef =
        if (mayHaveNullElements && arr.isNullAt(i)) null else arr.getUTF8String(i)
      val jEnd = math.min(i + w, n - 1)
      var j = i + 1
      while (j <= jEnd) {
        val x: AnyRef =
          if (mayHaveNullElements && arr.isNullAt(j)) null else arr.getUTF8String(j)
        out(p) = new GenericInternalRow(Array[Any](c, x))
        p += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nullAt = (idx: String) =>
      if (mayHaveNullElements) s"a.isNullAt($idx)" else "false"
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = ctx.freshName("skipgramPairs")
      val fnName = ctx.addNewFunction(fn,
        s"""
           |private org.apache.spark.sql.catalyst.util.ArrayData $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  int n = a.numElements();
           |  int total = 0;
           |  for (int i = 0; i < n; i++) {
           |    int c = n - 1 - i; if (c > $w) c = $w; if (c > 0) total += c;
           |  }
           |  if (total <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
           |  Object[] out = new Object[total];
           |  int p = 0;
           |  for (int i = 0; i < n; i++) {
           |    Object c = ${nullAt("i")} ? null : (Object) a.getUTF8String(i);
           |    int jEnd = i + $w; if (jEnd > n - 1) jEnd = n - 1;
           |    for (int j = i + 1; j <= jEnd; j++) {
           |      Object x = ${nullAt("j")} ? null : (Object) a.getUTF8String(j);
           |      out[p++] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |          new Object[] { c, x });
           |    }
           |  }
           |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
           |}
         """.stripMargin)
      s"${ev.value} = $fnName($arr);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SkipgramPairs =
    copy(child = newChild)
}
