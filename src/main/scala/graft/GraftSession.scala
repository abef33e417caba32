package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of graft's mains and tools (Bench, Verify,
  * `graft.tools.*`): a local session with the shared confs, the native
  * functions and guard rule installed
  * ([[GraftExtensions.install]]), and the cartesian guard armed, so
  * every tool plans queries the way Verify certifies them. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of this machine. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The confs [[local]] builds its session with. Spark's code cache
    * (`spark.sql.codegen.cache.maxEntries`, 100 by default) is a static
    * conf, so it is sized here: one pass over the registry generates
    * about 1,700 distinct classes, and with 100 entries every pass
    * recompiled about 2,900 of them. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = confs(cpus)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark.conf.set(GraftConf.NoCartesianGuardKey, "true")
    spark
  }

  /** Session confs from `SPARK_GRAFT_CONF="k=v;k2=v2"`, for knob
    * experiments (Verify refuses oracle-pinned overrides; a timing run
    * is where they belong). Segments with no '=' or an empty key are
    * dropped: an empty key makes `spark.conf.set` throw and abort the
    * run. */
  def confOverrides(spec: Option[String] = sys.env.get("SPARK_GRAFT_CONF")): Seq[(String, String)] =
    spec.toSeq.flatMap(_.split(";")).filter(_.contains("=")).flatMap { kv =>
      val Array(k, v) = kv.split("=", 2)
      if (k.trim.isEmpty) None else Some(k.trim -> v.trim)
    }

  /** Set [[confOverrides]] on `spark`; returns them as `k=v` strings. */
  def applyConfOverrides(spark: SparkSession): Seq[String] =
    confOverrides().map { case (k, v) => spark.conf.set(k, v); s"$k=$v" }
}
