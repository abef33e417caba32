package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace-token count of a string column as a native Catalyst
  * expression with whole-stage codegen — semantically identical to
  * `size(filter(split(text, " "), t => t != ""))` (the library's
  * `TextOps.tokens` count), but computed as one byte scan with ZERO
  * allocation: no split array, no per-token UTF8String objects, no
  * interpreted filter lambda. This is the hot inner loop of every
  * corpus-stats query (text_stats, source_profile, pack_sequences,
  * length buckets): at 100 TB the split-based form allocates the whole
  * corpus as token objects just to count them.
  *
  * Byte-level scanning is exact for UTF-8: the separator (0x20) is a
  * single byte that can never appear inside a multi-byte sequence
  * (continuation bytes are ≥ 0x80), so "maximal run of non-space
  * bytes" equals "maximal run of non-space characters". The oracle SQL
  * twins keep counting via `len(list_filter(string_split(...)))` —
  * same value, independently computed.
  */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_count requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var cnt = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val sp = s.getByte(i) == 0x20.toByte
      if (!sp && !inTok) cnt += 1
      inTok = !sp
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      val inTok = ctx.freshName("inTok")
      val sp = ctx.freshName("sp")
      s"""
         |int $n = $a.numBytes();
         |int $cnt = 0;
         |boolean $inTok = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  boolean $sp = $a.getByte($i) == (byte) 0x20;
         |  if (!$sp && !$inTok) $cnt++;
         |  $inTok = !$sp;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  /** [[graft.GraftExtensions.install]], which registers `token_count`. */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)
}
