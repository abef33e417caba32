package graft

/** Per-query timing probe for local iteration: warms the JVM, then runs
  * each named query 3× with the cache cleared between runs (true
  * recompute, not cache reads). Finer-grained than Bench (which runs
  * everything) and steadier than one-shot timings on a noisy box.
  * `PROBE_EXPLAIN=1` additionally dumps the formatted physical plan.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch "runMain graft.Probe dedup_simhash_pairs"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // probe under the same armed cartesian guard Verify and Bench use
    val spark = GraftSession.local()
    val names = if (args.isEmpty) Seq("dedup_simhash_pairs") else args.toSeq
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def reset(): Unit = {
        spark.catalog.clearCache()
        graft.operators.Materialize.reset(spark)
      }
      fn(spark, sfDir).count() // warm JVM/codegen/scan
      reset()
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"PROBE $n run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        reset()
      }
      if (sys.env.contains("PROBE_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
