package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: only dump the named queries (local iteration)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here would verify nothing and exit 0")
    // The session arms the planning-time cartesian guard for the whole
    // dump: every registered query is thereby certified guard-clean at
    // OPTIMIZATION time (a runaway join would fail its dump and the
    // round), on top of the physical-plan audit in PropertiesSpec.
    val spark = GraftSession.local()
    requireOracleDefaults(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Refuse a session that overrides any of [[GraftConf.OraclePinnedKeys]]:
    * the Spark side would follow the override while the oracle SQL keeps
    * the default, and the dump would report false mismatches. */
  def requireOracleDefaults(spark: SparkSession): Unit =
    for (key <- GraftConf.OraclePinnedKeys)
      require(spark.conf.getOption(key).isEmpty,
        s"$key is set; unset it before verifying " +
          "(the oracle SQL pins this knob's default)")
}
