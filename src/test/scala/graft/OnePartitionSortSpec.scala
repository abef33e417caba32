package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.plans.OnePartitionSort

/** The one-partition sort strategy: a small global ORDER BY runs as one
  * task with no range exchange and two jobs fewer, a session whose AQE
  * coalescing target is lowered keeps Spark's plan, the rows equal
  * Spark's own plan for every ordering, and limits and streaming plans
  * are left alone. */
class OnePartitionSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** `body` planned without the strategy. */
  private def withoutStrategy[T](body: => T): T = {
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved.filterNot(_ == OnePartitionSort)
    try body finally spark.experimental.extraStrategies = saved
  }

  /** Spark jobs `body` starts: they carry a private job group, and a
    * marker job in the same group is seen last, as listener events
    * arrive in order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"one-partition-sort-${System.nanoTime}"
    val started = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
          else started.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS))
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rangeExchanges(plan: SparkPlan): Int = collect(plan) {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  /** The rows, the jobs and the final plan of a collect. */
  private def run(df: => DataFrame): (Seq[Row], Int, SparkPlan) = {
    var last: DataFrame = null
    var rows: Seq[Row] = Nil
    val jobs = jobsDuring { last = df; rows = last.collect().toSeq }
    (rows, jobs, last.queryExecution.executedPlan)
  }

  private def grouped(s: SparkSession): DataFrame =
    s.range(0, 2000, 1, 4).select((col("id") % 37).as("k"), col("id"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("total"))

  test("a small ORDER BY, DataFrame and SQL, has no range exchange and two jobs fewer") {
    grouped(spark).createOrReplaceTempView("one_partition_sort_t")
    val forms: Seq[(String, () => DataFrame)] = Seq(
      "dataframe" -> (() => grouped(spark).orderBy(desc("total"), asc("k"))),
      "sql" -> (() => spark.sql(
        "SELECT k, n, total FROM one_partition_sort_t ORDER BY total DESC, k")))
    for ((form, df) <- forms) {
      val (rows, jobs, plan) = run(df())
      val (ownRows, ownJobs, ownPlan) = withoutStrategy(run(df()))
      assert(rangeExchanges(ownPlan) == 1, form)
      assert(rangeExchanges(plan) == 0, form)
      assert(collect(plan) { case c: CoalesceExec => c }.size == 1, form)
      assert(jobs == ownJobs - 2, s"$form: $jobs jobs, $ownJobs without the strategy")
      assert(rows.size == 37 && rows == ownRows, form)
    }
  }

  test("a private session with a lowered AQE coalescing size keeps the range exchange") {
    val priv = spark.newSession()
    GraftExtensions.install(priv)
    priv.conf.set(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key, "64")
    priv.conf.set(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key, "64")
    val df = grouped(priv).orderBy("k")
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 37L))
    assert(rangeExchanges(df.queryExecution.executedPlan) == 1)
    // the shared session's confs are untouched and still take the strategy
    assert(rangeExchanges(run(grouped(spark).orderBy("k"))._3) == 0)
  }

  test("the size guard is AQE's coalescing target") {
    val conf = new SQLConf
    val mb = BigInt(1L << 20)
    // parallelismFirst (the default): the minimum partition size, 1 MB
    assert(OnePartitionSort.fitsOnePartition(mb, conf, 4))
    assert(!OnePartitionSort.fitsOnePartition(mb + 1, conf, 4))
    // otherwise the advisory size, 64 MB
    conf.setConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST, false)
    assert(OnePartitionSort.fitsOnePartition(64 * mb, conf, 4))
    assert(!OnePartitionSort.fitsOnePartition(64 * mb + 1, conf, 4))
    // a minimum partition count splits the total again
    conf.setConfString(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM.key, "2")
    assert(!OnePartitionSort.fitsOnePartition(2 * mb, conf, 4))
    conf.setConf(SQLConf.COALESCE_PARTITIONS_ENABLED, false)
    assert(!OnePartitionSort.fitsOnePartition(BigInt(0), conf, 4))
    val off = new SQLConf
    off.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    assert(!OnePartitionSort.fitsOnePartition(BigInt(0), off, 4))
  }

  test("rows equal Spark's own plan: asc/desc, nulls first/last, NaN, -0.0 and ties") {
    val schema = StructType(Seq(StructField("x", DoubleType), StructField("s", StringType),
      StructField("i", IntegerType)))
    val xs = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, null, 1.5, -2.5,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)
    val rows = for ((x, j) <- (xs ++ xs ++ xs.reverse).zipWithIndex)
      yield Row(x, if (j % 4 == 0) null else s"s${j % 3}", j)
    val t = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val orders: Seq[String => Column] = Seq(asc, desc, asc_nulls_first, asc_nulls_last,
      desc_nulls_first, desc_nulls_last)
    for (o <- orders; key <- Seq("x", "s")) {
      def sorted = t.orderBy(o(key), col("i"))
      val (got, _, plan) = run(sorted)
      assert(collect(plan) { case c: CoalesceExec => c }.nonEmpty, s"$o $key")
      val own = withoutStrategy(sorted.collect().toSeq)
      assert(got == own, s"$o $key")
    }
  }

  test("a sort under a limit and a streaming plan are untouched") {
    val limited = grouped(spark).orderBy(desc("n"), asc("k")).limit(5)
    val plan = limited.queryExecution.executedPlan
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1)
    assert(collect(plan) { case c: CoalesceExec => c }.isEmpty)
    assert(limited.collect().toSeq == withoutStrategy(grouped(spark).orderBy(desc("n"), asc("k"))
      .limit(5).collect().toSeq))
    // a limit above all 37 groups: AQE drops it once the aggregate has
    // run, and the exposed sort keeps the plan Spark chose for the limit
    val all = grouped(spark).orderBy(desc("n"), asc("k")).limit(100)
    assert(all.collect().length == 37)
    val allPlan = all.queryExecution.executedPlan
    assert(collect(allPlan) { case t: TakeOrderedAndProjectExec => t }.size == 1)
    assert(collect(allPlan) { case c: CoalesceExec => c }.isEmpty)

    // the same small relation, batch and streaming
    val a = AttributeReference("a", IntegerType)()
    def sortOver(streaming: Boolean) =
      Sort(Seq(SortOrder(a, Ascending)), global = true,
        LocalRelation(Seq(a), Nil, isStreaming = streaming))
    assert(OnePartitionSort(sortOver(streaming = false)).exists(_.isInstanceOf[SortExec]))
    assert(OnePartitionSort(sortOver(streaming = true)).isEmpty)

    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val q = input.toDF().groupBy("value").count().orderBy(desc("count"), asc("value"))
      .writeStream.format("memory").queryName("one_partition_sort_stream")
      .outputMode("complete").start()
    try {
      input.addData(3, 1, 3, 2, 3, 1)
      q.processAllAvailable()
      val executed = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(collect(executed) { case c: CoalesceExec => c }.isEmpty)
      assert(rangeExchanges(executed) == 1)
    } finally q.stop()
    assert(spark.table("one_partition_sort_stream").collect().map(r => (r.getInt(0), r.getLong(1)))
      .toSeq == Seq((3, 3L), (1, 2L), (2, 1L)))
  }

  test("install adds the strategy once") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == OnePartitionSort) == 1)
  }
}
