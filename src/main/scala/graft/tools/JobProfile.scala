package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-clock breakdown of one or more registered queries —
  * the measurement harness behind OPTIMIZATION_r16.md (guide §1:
  * measure first). For each named query it runs `.count()` twice
  * (cold + warm, the bench shape) with a listener that prints every
  * Spark job's duration, task count, and description, plus the
  * driver-side gaps BETWEEN jobs (planning/codegen/collect time never
  * shows up inside a job — at fixture scale it is usually the
  * dominant cost, and this tool is how we see it).
  *
  * Usage: sbt "runMain graft.tools.JobProfile /root/testdata/sf0.1 pq_build ..."
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.local()

    @volatile var jobStart = Map.empty[Int, (Long, String, Int)]
    @volatile var lastEnd = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        val gapMs = (System.nanoTime() - lastEnd) / 1e6
        if (gapMs > 20) println(f"    [driver gap ${gapMs}%8.1f ms before job ${js.jobId}]")
        jobStart += js.jobId -> ((System.nanoTime(), desc, nTasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        lastEnd = System.nanoTime()
        jobStart.get(je.jobId).foreach { case (t0, desc, nTasks) =>
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"    job ${je.jobId}%3d ${ms}%8.1f ms  tasks=$nTasks%4d  $desc")
        }
      }
    })

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // "recold" replays the BENCH pass-2 condition: memos dropped, JVM
      // and codegen caches warm — the number cross-round adjudication
      // actually compares (plain "warm" reads the session memos and
      // measures almost nothing for memoized operators)
      Seq("cold", "warm", "recold").foreach { tag =>
        if (tag == "recold") {
          spark.catalog.clearCache()
          graft.operators.Materialize.reset(spark)
        }
        println(s"== $n ($tag) ==")
        lastEnd = System.nanoTime()
        val t0 = System.nanoTime()
        val cnt = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"== $n ($tag) TOTAL ${dt}%.3f s rows=$cnt ==")
      }
    }
    spark.stop()
  }
}
