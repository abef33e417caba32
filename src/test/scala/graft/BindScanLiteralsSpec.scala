package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.RefQueries
import graft.plans.{BindScanLiterals, BoundLiteral}

/** The literal-binding planner strategy: a Top-K shape compiles its
  * classes once per session whatever its K and window, the scan still
  * pushes the real bounds, explain text does not change, and every bound
  * type filters to the rows Spark's own plan returns. */
class BindScanLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private type Shape = (SparkSession, Int, String, String) => DataFrame

  private val shapes: Seq[(String, Shape)] = Seq(
    "q1a" -> ((s, k, a, b) => RefQueries.q1aTopRevenue(s, sf, k, a, b)),
    "q1b" -> ((s, k, a, b) => RefQueries.q1bTopQuantity(s, sf, k, a, b)),
    "q1c" -> ((s, k, a, b) => RefQueries.q1cRevenueByDate(s, sf, k, a, b)),
    "q2" -> ((s, k, a, b) => RefQueries.q2SupplierRevenueJoin(s, sf, k, a, b)))

  /** `body` planned by Spark's own strategies alone. */
  private def withoutBinding[T](body: => T): T = {
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved.filterNot(_ == BindScanLiterals)
    try body finally spark.experimental.extraStrategies = saved
  }

  /** Classes Spark's code generator compiled (code-cache misses) in `body`. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def micros(ts: String): Long =
    LocalDateTime.parse(ts.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC) * 1000000L

  private def boundIn(plan: SparkPlan): Seq[BoundLiteral] =
    collect(plan) { case f: FilterExec => f }
      .flatMap(_.condition.collect { case b: BoundLiteral => b })

  private def normalized(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode).replaceAll("#\\d+|plan_id=\\d+", "#")

  test("a new K and window compiles no class for q1a, q1b, q1c and q2") {
    for (((name, shape), i) <- shapes.zipWithIndex) {
      shape(spark, 7, "1994-03-01", "1995-06-30 23:59:59").collect()
      val again = compiles(shape(spark, 12, "1995-02-11", "1996-09-17 23:59:59").collect())
      assert(again == 0, s"$name compiled $again classes for a new K and window")
      // the counter does see misses: Spark's own plan writes the new
      // bounds into the generated source (a window per shape, as q1a and
      // q2 share their scan-side stage)
      val own = withoutBinding(
        compiles(shape(spark, 9, s"1993-05-1$i", "1997-01-09 23:59:59").collect()))
      assert(own > 0, s"$name without the strategy")
    }
  }

  test("the filter holds BoundLiterals while the scan pushes the real bounds") {
    val (start, end) = ("1995-01-01", "1995-12-31 23:59:59")
    val df = RefQueries.q1aTopRevenue(spark, sf, 10, start, end)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bounds = boundIn(plan).map(_.literal)
    assert(bounds.map(_.value).toSet == Set(micros(s"$start 00:00:00"), micros(end)))
    val scan = collectFirst(plan) { case s: FileSourceScanExec => s }.get
    assert(scan.dataFilters.exists {
      case GreaterThanOrEqual(_, l: Literal) => l.value == micros(s"$start 00:00:00")
      case _ => false
    })
    val pushed = org.apache.spark.sql.sources.GreaterThanOrEqual(
      "l_shipdate", LocalDateTime.parse(s"${start}T00:00"))
    assert(scan.metadata("PushedFilters").contains(pushed.toString), scan.metadata)
  }

  test("explain text is the same with and without the strategy") {
    for ((name, shape) <- shapes) {
      val bound = shape(spark, 10, "1995-01-01", "1995-12-31 23:59:59")
      assert(boundIn(bound.queryExecution.executedPlan).nonEmpty, name)
      val own = withoutBinding {
        val df = shape(spark, 10, "1995-01-01", "1995-12-31 23:59:59")
        df.queryExecution.executedPlan
        df
      }
      assert(boundIn(own.queryExecution.executedPlan).isEmpty, name)
      assert(normalized(bound) == normalized(own), name)
    }
  }

  test("every bound type filters to Spark's own rows, NaN and -0.0 included") {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DateType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType), StructField("x", DoubleType),
      StructField("f", FloatType), StructField("s", ShortType), StructField("b", ByteType)))
    def row(n: Int, x: Double, f: Float): Row = {
      val m = math.abs(n)
      Row(n, n * 1000000007L, Date.valueOf(s"1995-0${1 + m % 9}-1$m"),
        Timestamp.valueOf(s"1995-0${1 + m % 9}-1$m 0$m:30:00"),
        LocalDateTime.of(1995, 1 + m % 9, 10 + m, m, 30), x, f, n.toShort, n.toByte)
    }
    val rows = Seq(
      row(-3, Double.NaN, Float.NaN), row(-1, -0.0, -0.0f), row(0, 0.0, 0.0f),
      row(2, 1.5, 1.5f), row(5, Double.NegativeInfinity, Float.NegativeInfinity),
      row(7, Double.PositiveInfinity, Float.PositiveInfinity),
      row(9, Double.MinPositiveValue, Float.MinPositiveValue),
      Row(null, null, null, null, null, null, null, null, null))
    val dir = Files.createTempDirectory("graft-bind").resolve("t").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).write.parquet(dir)
    val t = spark.read.parquet(dir)
    val values: Seq[(String, Seq[Any])] = Seq(
      "i" -> Seq(0, 5), "l" -> Seq(0L, 2000000014L),
      "d" -> Seq(Date.valueOf("1995-03-12")),
      "ts" -> Seq(Timestamp.valueOf("1995-03-12 02:30:00")),
      "ntz" -> Seq(LocalDateTime.of(1995, 3, 12, 2, 30)),
      "x" -> Seq(Double.NaN, -0.0, 0.0, 1.5), "f" -> Seq(Float.NaN, -0.0f, 1.5f),
      "s" -> Seq(2.toShort), "b" -> Seq(2.toByte))
    val ops: Seq[(Column, Column) => Column] =
      Seq(_ === _, _ <=> _, _ < _, _ <= _, _ > _, _ >= _)
    def ids(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    // generated code, then BoundLiteral.eval through interpreted predicates
    for (codegen <- Seq(true, false)) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "FALLBACK" else "NO_CODEGEN")
      try for ((c, vs) <- values; v <- vs; op <- ops) {
        val q = t.where(op(col(c), lit(v)))
        val want = withoutBinding(ids(t.where(op(col(c), lit(v)))))
        assert(boundIn(q.queryExecution.executedPlan).nonEmpty, s"$c $v")
        assert(ids(q) == want, s"$c $v codegen=$codegen")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("null, string and other literals stay Literal") {
    val (a, s) = (AttributeReference("a", IntegerType)(), AttributeReference("s", StringType)())
    for (e <- Seq[Expression](
        GreaterThan(a, Literal(null, IntegerType)), EqualTo(s, Literal("x")),
        EqualTo(Literal(Decimal(1.5), DecimalType(2, 1)), Cast(a, DecimalType(2, 1))),
        EqualTo(IsNull(a), Literal(true)), Add(a, Literal(1))))
      assert(BindScanLiterals.bind(e) == e, e)
    assert(BindScanLiterals.bind(LessThan(a, Literal(3))) == LessThan(a, BoundLiteral(Literal(3))))
  }

  test("install adds the strategy once; the extensions class plans with it") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == BindScanLiterals) == 1)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(ext ne spark)
    assert(ext.experimental.extraStrategies.isEmpty)
    val df = RefQueries.q1aTopRevenue(ext, sf, 10, "1995-01-01", "1995-12-31 23:59:59")
    assert(boundIn(df.queryExecution.executedPlan).nonEmpty)
  }
}
