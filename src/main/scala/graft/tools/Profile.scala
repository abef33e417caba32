package graft.tools

import java.io.PrintStream
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Semaphore, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.operators.Materialize

/** The one profiling tool: where a registered query's time goes, or
  * what its physical plan is.
  *
  * Usage: `runMain graft.tools.Profile <sfDir> [--plans <outDir> <suffix>] [query...]`
  * (no query names: every registered query).
  *
  * Run mode prints each query's formatted physical plan, then runs it
  * cold (memos dropped after the plan was built, so the run rebuilds
  * them), warm (memos read) and recold (`clearCache` plus
  * [[Materialize.reset]] with JVM and code caches warm: Bench's pass-2
  * condition). Each run collects the query's rows, as a client does (a
  * `count()` would let the optimizer drop the final sort). Every Spark
  * job prints one line (duration, tasks and its description
  * `<query>:<run>`), every driver gap over 20 ms between jobs prints
  * too (planning, codegen and collects never show inside a job), and
  * each run ends with its total and row count, then its job count and
  * the classes Spark's code generator compiled (code-cache misses).
  *
  * `--plans` writes each query's formatted plan to
  * `<outDir>/<query>_<suffix>.txt` without running it: the before and
  * after plan dumps a change is checked against.
  *
  * Building a memoized query's DataFrame runs its memo build
  * ([[Materialize.memoized]] checkpoints at construction). For such a
  * query the printed or `--plans` plan is its checkpoint scan, not the
  * pipeline behind it, and the `<query>:plan` job lines are the memo
  * build that was paid to get that plan. */
object Profile {
  def main(args: Array[String]): Unit = {
    val (sfDir, plans, given) = args.toList match {
      case sf :: "--plans" :: dir :: suffix :: names => (sf, Some(dir -> suffix), names)
      case sf :: names => (sf, None, names)
      case Nil => sys.error("usage: Profile <sfDir> [--plans <outDir> <suffix>] [query...]")
    }
    val names = if (given.isEmpty) SparkEntry.queries.keys.toSeq.sorted else given
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    try plans match {
      case Some((dir, suffix)) => dumpPlans(spark, sfDir, dir, suffix, names)
      case None => run(spark, sfDir, names, System.out)
    } finally spark.stop()
  }

  def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)

  def dumpPlans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"), plan(spark, sfDir, n).getBytes("UTF-8"))
      println(s"dumped $n -> ${n}_$suffix.txt")
    }
  }

  /** Description of the one-task job that closes each run: the listener
    * bus delivers events in order, so once this job's end arrives every
    * job line of the run has been printed. */
  private val Drain = "profile:drain"

  def run(spark: SparkSession, sfDir: String, names: Seq[String], out: PrintStream): Unit = {
    val sc = spark.sparkContext
    // written on the listener bus thread; `jobs` is read once a run has drained
    val started = scala.collection.mutable.Map.empty[Int, (Long, Int, String)]
    val jobs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    @volatile var lastEnd = 0L
    val drained = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc != Drain) {
          if (js.time - lastEnd > 20)
            out.println(f"    [driver gap ${js.time - lastEnd}%6d ms before job ${js.jobId}]")
          started(js.jobId) = (js.time, js.stageInfos.map(_.numTasks).sum, desc)
          jobs(desc) += 1
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = started.remove(je.jobId) match {
        case Some((t0, tasks, desc)) =>
          lastEnd = je.time
          out.println(f"    job ${je.jobId}%4d ${je.time - t0}%6d ms  tasks=$tasks%4d  $desc")
        case None => drained.release()
      }
    }
    // runs `body` with its jobs described as `<query>:<tag>`, then waits
    // until the listener has printed every one of them
    def traced[T](desc: String)(body: => T): T = {
      sc.setJobDescription(desc)
      lastEnd = System.currentTimeMillis()
      val result = body
      sc.setJobDescription(Drain)
      sc.parallelize(Seq(0), 1).count()
      drained.tryAcquire(60, TimeUnit.SECONDS)
      result
    }
    sc.addSparkListener(listener)
    try names.foreach { n =>
      out.println(s"== $n plan ==")
      out.print(traced(s"$n:plan")(plan(spark, sfDir, n)))
      Seq("cold", "warm", "recold").foreach { tag =>
        if (tag != "warm") {
          spark.catalog.clearCache()
          Materialize.reset(spark)
        }
        out.println(s"== $n ($tag) ==")
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val (rows, dt) = traced(s"$n:$tag") {
          val rows = SparkEntry.queries(n)(spark, sfDir).collect().length
          (rows, (System.nanoTime() - t0) / 1e9)
        }
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        out.println(f"== $n ($tag) TOTAL $dt%.3f s rows=$rows ==")
        out.println(s"== $n ($tag) COUNTS jobs=${jobs(s"$n:$tag")} compiles=$compiles ==")
      }
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
