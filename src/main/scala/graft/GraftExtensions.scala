package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumns.wrongNumArgs
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._
import graft.plans.{BindScanLiterals, NoCartesianGuard, OnePartitionSort}

/** Session-extensions installer: makes the library's native expressions,
  * its optimizer rule AND its planner strategies available to ANY session
  * (including pure-SQL users) via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the standard
  * deployment path for custom Catalyst surface on a cluster. Sessions
  * built in code get the same [[GraftExtensions.Functions]] table, rule
  * and strategies from [[GraftExtensions.install]]. The injected rule
  * ([[graft.plans.NoCartesianGuard]]) is opt-in by conf and trivially
  * result-invariant: it fails runaway cartesian plans at optimization
  * time, it never rewrites them. The strategy
  * ([[graft.plans.BindScanLiterals]]) plans file scans as Spark does and
  * only changes how a filter's literal operands reach generated code;
  * [[graft.plans.OnePartitionSort]] sorts a small global ORDER BY in
  * one task instead of range-partitioning it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(NoCartesianGuard(_))
    ext.injectPlannerStrategy(_ => BindScanLiterals)
    ext.injectPlannerStrategy(_ => OnePartitionSort)
    GraftExtensions.Functions.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
  }
}

object GraftExtensions {

  /** One native SQL function. [[builder]] rejects a call with the wrong
    * argument count with Spark's `WRONG_NUM_ARGS` analysis error, so
    * `build` always sees exactly `arity` resolved arguments. Scala code
    * builds these expressions directly (`TextOps`, `Similarity`, ...);
    * the table serves SQL callers. */
  final case class NativeFunction(name: String, arity: Int, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
    val builder: Seq[Expression] => Expression = args =>
      if (args.length != arity) throw wrongNumArgs(name, arity, args.length)
      else build(args)
  }

  /** Every native function graft exposes to SQL. */
  val Functions: Seq[NativeFunction] = Seq(
    NativeFunction("hash60", 1, classOf[Hash60])(a => Hash60(a(0))),
    NativeFunction("hash60b", 1, classOf[Hash60B])(a => Hash60B(a(0))),
    NativeFunction("hash120", 1, classOf[Hash120])(a => Hash120(a(0))),
    NativeFunction("ngram_hash60", 2, classOf[NgramHash60])(a =>
      NgramHash60(a(0), intLit(a(1), "ngram_hash60 k"))),
    NativeFunction("skipgram_pairs", 2, classOf[SkipgramPairs])(a =>
      SkipgramPairs(a(0), intLit(a(1), "skipgram_pairs w"))),
    NativeFunction("tokens_ws", 1, classOf[TokensWs])(a => TokensWs(a(0))),
    NativeFunction("term_freqs", 2, classOf[TermFreqs])(a =>
      TermFreqs(a(0), stringsLit(a(1), "term_freqs terms"))),
    NativeFunction("count_in", 2, classOf[CountIn])(a =>
      CountIn(a(0), stringsLit(a(1), "count_in words"))),
    NativeFunction("filter_in", 2, classOf[FilterIn])(a =>
      FilterIn(a(0), stringsLit(a(1), "filter_in words"))),
    NativeFunction("token_count", 1, classOf[TokenCount])(a => TokenCount(a(0))),
    NativeFunction("quantize_long", 1, classOf[QuantizeLong])(a => QuantizeLong(a(0))),
    NativeFunction("int8_codes", 1, classOf[Int8Codes])(a => Int8Codes(a(0))),
    NativeFunction("dot_long", 2, classOf[DotLong])(a => DotLong(a(0), a(1))),
    NativeFunction("ann_buckets", 4, classOf[AnnBuckets])(a => AnnBuckets(a(0), a(1), a(2), a(3))),
    NativeFunction("ivf_probes", 4, classOf[IvfProbes])(a =>
      IvfProbes(a(0), a(1), a(2), intLit(a(3), "ivf_probes probe count"))),
    NativeFunction("ed1", 2, classOf[EditWithin1])(a => EditWithin1(a(0), a(1))))

  /** Install [[Functions]], the guard rule, the literal-binding and the
    * one-partition sort strategies on a session built in code (the extensions class covers
    * cluster-deployed sessions). Idempotent. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Functions.filterNot(f => reg.functionExists(f.id))
      .foreach(f => reg.registerFunction(f.id, f.info, f.builder))
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[NoCartesianGuard]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ NoCartesianGuard(spark)
    Seq(OnePartitionSort, BindScanLiterals)
      .filterNot(spark.experimental.extraStrategies.contains)
      .foreach(s => spark.experimental.extraStrategies = s +: spark.experimental.extraStrategies)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** A resolved foldable ARRAY<STRING> argument (a CreateArray of
    * literals before constant folding, a Literal after). */
  private def stringsLit(e: Expression, what: String): Seq[String] = e match {
    case f if f.resolved && f.foldable && f.dataType.isInstanceOf[ArrayType] &&
        f.dataType.asInstanceOf[ArrayType].elementType == StringType =>
      f.eval(null).asInstanceOf[ArrayData].toArray[UTF8String](StringType).map(_.toString).toSeq
    case other => throw new IllegalArgumentException(
      s"$what must be a literal ARRAY<STRING>, got $other")
  }
}
