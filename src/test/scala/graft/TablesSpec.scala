package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.operators.{DedupOps, Materialize, RefQueries, TpchComplete}
import graft.sources.Tables

/** The per-session relation memo behind `Tables.parquet`: a warm build
  * launches no job, and no rewrite, conf change or self-join ever sees
  * a stale or shared relation. Rewrites happen on private copies of the
  * fixture, never on the shared fixture dir. */
class TablesSpec extends SparkSpec {

  /** Spark jobs started on this thread while `body` runs. Jobs carry a
    * private job group; a marker job in the same group is posted last,
    * and listener events arrive in order, so once the marker is seen
    * every job of `body` has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
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

  test("a second build of q1a in a session launches no Spark job") {
    val dir = copyFixture("lineitem")
    val cold = jobsDuring(RefQueries.q1aTopRevenue(spark, dir))
    assert(cold > 0, "the cold build resolves the schema with a job — else the count is vacuous")
    assert(jobsDuring(RefQueries.q1aTopRevenue(spark, dir)) == 0)
  }

  test("lineitem rewritten at the same path returns the new rows, by path or glob") {
    val dir = copyFixture("lineitem")
    val glob = s"$dir/line*.parquet"
    val before = Tables.lineitem(spark, dir).count()
    assert(Tables.parquet(spark, glob).count() == before)
    val kept = Tables.lineitem(spark, dir).where(col("l_linenumber") === 1)
    val want = kept.count()
    assert(want > 0 && want < before)
    rewrite(kept, s"$dir/lineitem.parquet")
    assert(Tables.lineitem(spark, dir).count() == want)
    assert(Tables.parquet(spark, glob).count() == want)
    // the Top-K query sees the new rows: it equals its SQL over a fresh read
    val (k, start, end) = (10, GraftConf.DefaultQ1Start, GraftConf.DefaultQ1End)
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("tables_spec_lineitem")
    val sql = RefQueries.q1aSqlWith(k, start, end).replace("FROM lineitem", "FROM tables_spec_lineitem")
    val got = RefQueries.q1aTopRevenue(spark, dir, k, start, end).collect().toSeq
    assert(got.nonEmpty && got == spark.sql(sql).collect().toSeq)
  }

  test("toggling a parquet schema conf resolves the ts type afresh") {
    val dir = copyFixture("events")
    val events = s"$dir/events.parquet"
    def tsType = Tables.parquet(spark, events).schema("ts").dataType
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try {
      spark.conf.set(key, "true")
      assert(tsType == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(tsType == TimestampType)
    } finally spark.conf.unset(key)
    assert(tsType == TimestampNTZType)
  }

  test("toggling spark.sql.legacy.parquet.nanosAsLong resolves ts as a fresh read does") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("tables-spec-nanos")
    val file = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.get(key)
    /** What the plain reader makes of the file under the current confs:
      * the ts type, or the error class when the encoding is unreadable. */
    def typeOf(df: => DataFrame) = Try(df.schema("ts").dataType).toEither.left.map(_.getClass)
    try {
      spark.conf.set(key, "true")
      assert(typeOf(Tables.parquet(spark, file)) == Right(LongType))
      spark.conf.set(key, "false")
      val fresh = typeOf(spark.read.parquet(file))
      assert(fresh != Right(LongType))
      assert(typeOf(Tables.parquet(spark, file)) == fresh)
    } finally spark.conf.set(key, old)
  }

  test("two nation frames have disjoint attribute ids; q8 self-join matches its SQL") {
    val dir = new java.io.File(sf).getParent + "/sf0.01"
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    val (a, b) = (Tables.nation(spark, dir), Tables.nation(spark, dir))
    assert(ids(a).nonEmpty && (ids(a) intersect ids(b)).isEmpty)
    def rows(df: DataFrame) = {
      val cols = df.columns.sorted
      df.select(cols.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
    }
    val got = rows(TpchComplete.q8MarketShare(spark, dir))
    Tables.ensureViews(spark, dir)
    assert(got.nonEmpty && got == rows(spark.sql(TpchComplete.q8MarketShareSql)))
  }

  test("a rewritten corpus changes Materialize.dirTag and misses the old memo") {
    val dir = copyFixture("nation")
    val tag = Materialize.dirTag(spark, dir)
    assert(Materialize.dirTag(spark, dir) == tag)
    def memoRows = Materialize.memoized(spark, s"tables_spec_nation_${Materialize.dirTag(spark, dir)}") {
      Tables.nation(spark, dir)
    }.count()
    val before = memoRows
    rewrite(Tables.nation(spark, dir).where(col("n_regionkey") === 0), s"$dir/nation.parquet")
    assert(Materialize.dirTag(spark, dir) != tag)
    val after = memoRows
    assert(after > 0 && after < before)
  }

  /** Rows with columns in name order, sorted: a compare that ignores
    * column and row order. */
  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq

  test("sql_q1a returns the new result after lineitem is rewritten at the same path") {
    val dir = copyFixture(Tables.fixtureNames: _*)
    def sqlRows = sortedRows(SparkEntry.queries("sql_q1a")(spark, dir))
    val before = sqlRows
    rewrite(Tables.lineitem(spark, dir).where(col("l_linenumber") === 1), s"$dir/lineitem.parquet")
    val after = sqlRows
    assert(after.nonEmpty && after != before)
    assert(after == sortedRows(RefQueries.q1aTopRevenue(spark, dir)))
  }

  test("sql_dedup_exact returns the new result after documents is rewritten at the same path") {
    val dir = copyFixture("documents")
    def sqlRows = sortedRows(SparkEntry.queries("sql_dedup_exact")(spark, dir))
    val before = sqlRows
    rewrite(Tables.documents(spark, dir).where(col("doc_id") % 2 === 0),
      s"$dir/documents.parquet")
    val after = sqlRows
    assert(after.nonEmpty && after != before)
    assert(after == sortedRows(DedupOps.dedupExact(spark, dir)))
  }
}
