package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.GraftConf
import graft.sources.Tables

/** The four reference query shapes (SURVEY.md §2.8) re-expressed
  * Spark-first over the harness fixtures (FIXTURES.md §C), plus the
  * reference's EDA aggregates.
  *
  * Scale design (SURVEY.md §4): each query plans as
  *   `Scan(pruned, filters pushed) → partial HashAggregate → Exchange →
  *    final HashAggregate → TakeOrderedAndProject(k)`
  * — one shuffle total, k rows to the driver. The reference needed two
  * MapReduce jobs + an HDFS barrier for the same shape
  * (`Query 1a/TopKNetProfitDriver.java:211-244`). K and the date window
  * bind at execution: on a session with [[graft.GraftExtensions]]
  * installed, the scan filter's bounds reach the generated code as
  * values ([[graft.plans.BindScanLiterals]]), so a new K or window runs
  * the classes the first call compiled.
  *
  * Money arithmetic is exact integer fixed-point: prices/discounts carry
  * exactly 2 decimal digits, so `round(x*100)` is an unambiguous integer
  * on any engine; per-row products are integers; the sum accumulates in
  * DECIMAL(38,0) (no overflow even at 10^12 rows); and the final value is
  * ONE correctly-rounded IEEE division — so results are independent of
  * partition/merge order and bit-identical to the DuckDB oracle
  * (SURVEY.md §7 "What's hard" #4; double summation order would
  * otherwise make the hash compare flaky).
  */
object RefQueries {

  /** price dollars → exact integer cents (data has 2 decimal digits, so
    * the double product is within 1e-9 of an integer — rounding is
    * unambiguous under any rounding rule). Shared with the other
    * operator modules so the fixed-point discipline has ONE definition.
    */
  private[operators] def cents(c: Column): Column = round(c * 100, 0).cast(LongType)

  /** The per-row exact revenue term priceᵢ·(1-discᵢ) in unscaled
    * 10⁻⁴-dollar units: integer cents × integer (100 - discount%), cast
    * to DECIMAL(38,0) so any downstream sum is overflow-safe and
    * partition-order independent. */
  def revenueTermExact(price: Column, discount: Column): Column =
    (cents(price) * (lit(100L) - cents(discount))).cast(DecimalType(38, 0))

  /** SQL twin of [[revenueTermExact]] — identical integer arithmetic. */
  def revenueTermExactSql(price: String, discount: String): String =
    s"CAST(CAST(ROUND($price * 100) AS BIGINT) * " +
      s"(100 - CAST(ROUND($discount * 100) AS BIGINT)) AS DECIMAL(38,0))"

  /** Exact revenue Σ priceᵢ·(1-discᵢ): [[revenueTermExact]] summed
    * exactly, scaled back by one IEEE division. */
  def revenueExact(price: Column, discount: Column): Column =
    sum(revenueTermExact(price, discount)).cast(DoubleType) / 10000.0

  /** Exact Σ price with the same fixed-point scheme. */
  def sumMoneyExact(c: Column): Column =
    sum(cents(c).cast(DecimalType(38, 0))).cast(DoubleType) / 100.0

  /** The exact UNSCALED revenue sum (integer 10⁻⁴-dollar units, as
    * DECIMAL(38,0)) — for consumers that keep aggregating exactly
    * (cumulative windows) before the one scale-back division. A double
    * at this stage would make downstream window sums depend on the
    * engine's aggregation-tree shape. */
  def revenueCentsExact(price: Column, discount: Column): Column =
    sum(revenueTermExact(price, discount))

  /** SQL twin of [[revenueCentsExact]]. */
  def revenueCentsExactSql(price: String, discount: String): String =
    s"SUM(${revenueTermExactSql(price, discount)})"

  /** SQL twin of [[revenueExact]] — identical integer arithmetic. */
  def revenueExactSql(price: String, discount: String): String =
    s"CAST(${revenueCentsExactSql(price, discount)} AS DOUBLE) / 10000.0"

  def sumMoneyExactSql(c: String): String =
    s"CAST(SUM(CAST(CAST(ROUND($c * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100.0"

  /** Q1a shape (`Query 1a/TopKNetProfitDriver.java:38-198`): top-K keys
    * by SUM(measure) within a date range, descending, with a
    * deterministic tiebreak. */
  def q1aTopRevenue(spark: SparkSession, sfDir: String): DataFrame =
    q1aTopRevenue(spark, sfDir, GraftConf.topK(spark),
      GraftConf.q1Start(spark), GraftConf.q1End(spark))

  def q1aTopRevenue(spark: SparkSession, sfDir: String,
                    k: Int, start: String, end: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate").between(lit(start), lit(end))
        && col("l_suppkey").isNotNull && col("l_shipdate").isNotNull
        && col("l_extendedprice").isNotNull && col("l_discount").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(revenueExact(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_suppkey").asc)
      .limit(k)
  }

  def q1aSqlWith(k: Int = GraftConf.DefaultTopK,
                 start: String = GraftConf.DefaultQ1Start,
                 end: String = GraftConf.DefaultQ1End): String =
    s"""SELECT l_suppkey,
       |       ${revenueExactSql("l_extendedprice", "l_discount")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate BETWEEN TIMESTAMP '$start' AND TIMESTAMP '$end'
       |  AND l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
       |  AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
       |GROUP BY l_suppkey
       |ORDER BY revenue DESC, l_suppkey ASC
       |LIMIT $k""".stripMargin

  val q1aSql: String = q1aSqlWith()

  /** Q1b shape (`Query 1b/TopKSoldItemsDriver.java:36-189`): long-sum
    * variant — top-K parts by total quantity. l_quantity is
    * integer-valued, so a double sum is exact and order-independent. */
  def q1bTopQuantity(spark: SparkSession, sfDir: String): DataFrame =
    q1bTopQuantity(spark, sfDir, GraftConf.topK(spark),
      GraftConf.q1Start(spark), GraftConf.q1End(spark))

  def q1bTopQuantity(spark: SparkSession, sfDir: String,
                     k: Int, start: String, end: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate").between(lit(start), lit(end))
        && col("l_partkey").isNotNull && col("l_quantity").isNotNull)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("num_sold"))
      .orderBy(col("num_sold").desc, col("l_partkey").asc)
      .limit(k)
  }

  def q1bSqlWith(k: Int = GraftConf.DefaultTopK,
                 start: String = GraftConf.DefaultQ1Start,
                 end: String = GraftConf.DefaultQ1End): String =
    s"""SELECT l_partkey, SUM(l_quantity) AS num_sold
       |FROM lineitem
       |WHERE l_shipdate BETWEEN TIMESTAMP '$start' AND TIMESTAMP '$end'
       |  AND l_partkey IS NOT NULL AND l_quantity IS NOT NULL
       |GROUP BY l_partkey
       |ORDER BY num_sold DESC, l_partkey ASC
       |LIMIT $k""".stripMargin

  val q1bSql: String = q1bSqlWith()

  /** Q1c shape (`Query 1c/TopKNetProfitByDateDriver.java:38-190`):
    * date-keyed variant — top-K ship dates by revenue. */
  def q1cRevenueByDate(spark: SparkSession, sfDir: String): DataFrame =
    q1cRevenueByDate(spark, sfDir, GraftConf.topK(spark),
      GraftConf.q1cStart(spark), GraftConf.q1cEnd(spark))

  def q1cRevenueByDate(spark: SparkSession, sfDir: String,
                       k: Int, start: String, end: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate").between(lit(start), lit(end))
        && col("l_shipdate").isNotNull
        && col("l_extendedprice").isNotNull && col("l_discount").isNotNull)
      .groupBy(col("l_shipdate"))
      .agg(revenueExact(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_shipdate").asc)
      .limit(k)
  }

  def q1cSqlWith(k: Int = GraftConf.DefaultTopK,
                 start: String = GraftConf.DefaultQ1cStart,
                 end: String = GraftConf.DefaultQ1cEnd): String =
    s"""SELECT l_shipdate,
       |       ${revenueExactSql("l_extendedprice", "l_discount")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate BETWEEN TIMESTAMP '$start' AND TIMESTAMP '$end'
       |  AND l_shipdate IS NOT NULL AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
       |GROUP BY l_shipdate
       |ORDER BY revenue DESC, l_shipdate ASC
       |LIMIT $k""".stripMargin

  val q1cSql: String = q1cSqlWith()

  /** Q2 shape (`Query 2/TopKStoreProfitEmployeesDriver.java:111-331`):
    * aggregate ⋈ dimension with outer-join null repair —
    * per-supplier revenue RIGHT OUTER JOIN supplier, COALESCE(rev, 0),
    * first K suppliers ascending by key.
    *
    * Spark-first: the aggregate side is tiny (≤ #suppliers rows) so it is
    * explicitly broadcast — the reference needed a full reduce-side
    * shuffle join plus a third MapReduce job for the ordering
    * (`Query 2/TopKStoreProfitEmployeesDriver.java:289-331`); here the
    * only exchange is the one under the aggregate. */
  def q2SupplierRevenueJoin(spark: SparkSession, sfDir: String): DataFrame =
    q2SupplierRevenueJoin(spark, sfDir, GraftConf.topK(spark),
      GraftConf.q1Start(spark), GraftConf.q1End(spark))

  def q2SupplierRevenueJoin(spark: SparkSession, sfDir: String,
                            k: Int, start: String, end: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate").between(lit(start), lit(end))
        && col("l_suppkey").isNotNull
        && col("l_extendedprice").isNotNull && col("l_discount").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(revenueExact(col("l_extendedprice"), col("l_discount")).as("rev"))
    val supp = Tables.supplier(spark, sfDir)
      .where(col("s_acctbal").isNotNull)
      .select(col("s_suppkey"), col("s_acctbal"))
    // supplier LEFT OUTER JOIN broadcast(agg) ≡ agg RIGHT OUTER JOIN supplier,
    // but lets the small aggregate be the broadcast build side.
    supp.join(broadcast(rev), supp("s_suppkey") === rev("l_suppkey"), "left_outer")
      .select(
        col("s_suppkey"),
        coalesce(col("rev"), lit(0.0)).as("revenue"),
        col("s_acctbal"))
      .orderBy(col("s_suppkey").asc)
      .limit(k)
  }

  def q2SqlWith(k: Int = GraftConf.DefaultTopK,
                start: String = GraftConf.DefaultQ1Start,
                end: String = GraftConf.DefaultQ1End): String =
    s"""SELECT b.s_suppkey,
       |       COALESCE(a.rev, 0.0) AS revenue,
       |       b.s_acctbal
       |FROM (SELECT l_suppkey,
       |             ${revenueExactSql("l_extendedprice", "l_discount")} AS rev
       |      FROM lineitem
       |      WHERE l_shipdate BETWEEN TIMESTAMP '$start' AND TIMESTAMP '$end'
       |        AND l_suppkey IS NOT NULL AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
       |      GROUP BY l_suppkey) a
       |RIGHT OUTER JOIN (SELECT s_suppkey, s_acctbal FROM supplier WHERE s_acctbal IS NOT NULL) b
       |  ON a.l_suppkey = b.s_suppkey
       |ORDER BY b.s_suppkey ASC
       |LIMIT $k""".stripMargin

  val q2Sql: String = q2SqlWith()

  /** EDA aggregates (CS346 Report.pdf §3.2-3.3, SURVEY.md §2.3 A3):
    * COUNT(*), MIN/MAX bounds, distinct cardinalities. */
  def edaLineitemStats(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).agg(
      count(lit(1)).as("n_rows"),
      min(col("l_shipdate")).as("min_shipdate"),
      max(col("l_shipdate")).as("max_shipdate"),
      countDistinct(col("l_suppkey")).as("n_suppliers"),
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_shipdate")).as("n_dates"))
  }

  val edaSql: String =
    """SELECT COUNT(*) AS n_rows,
      |       MIN(l_shipdate) AS min_shipdate,
      |       MAX(l_shipdate) AS max_shipdate,
      |       COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |       COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_shipdate) AS n_dates
      |FROM lineitem""".stripMargin

  /** Pricing summary (TPC-H Q1 shape): the A1/A2/A3 aggregate battery
    * grouped by the low-cardinality flag columns. Partial (map-side)
    * aggregation makes the shuffle O(#groups), the Spark analogue of the
    * reference's combiner (`Query 1a/TopKNetProfitDriver.java:214`). */
  def aggPricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sumMoneyExact(col("l_extendedprice")).as("sum_base_price"),
        revenueExact(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }

  val aggPricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |       SUM(l_quantity) AS sum_qty,
       |       ${sumMoneyExactSql("l_extendedprice")} AS sum_base_price,
       |       ${revenueExactSql("l_extendedprice", "l_discount")} AS sum_disc_price,
       |       COUNT(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin
}
