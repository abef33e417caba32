package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — never
  * stopped, so suites can run in any order. It plans with the library
  * installed, as production sessions do, with the cartesian guard left
  * unarmed (its off-by-default check lives in GuardSpec). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = TestSpark.sf

  /** A private temp-dir copy of the named fixture tables, for specs
    * that rewrite a corpus (never the shared fixture dir). */
  protected def copyFixture(tables: String*): String = {
    val dir = Files.createTempDirectory("spark-spec")
    tables.foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  /** Replace `path` with `df` written as a parquet directory, the way a
    * corpus is rewritten in place. */
  protected def rewrite(df: DataFrame, path: String): Unit = {
    val stage = new Path(s"$path.stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    assert(fs.rename(stage, new Path(path)))
  }
}
