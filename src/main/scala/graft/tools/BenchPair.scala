package graft.tools
import graft.GraftSession
object BenchPair {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CPUS sets the parallelism, so targeted pairs can be
    // run at different core counts
    val spark = GraftSession.local()
    // optional session confs for knob experiments:
    //   SPARK_GRAFT_CONF="spark.graft.ivf.k=64;spark.graft.topK=20"
    GraftSession.applyConfOverrides(spark).foreach(kv => println(s"PAIR conf $kv"))
    val names = args.toSeq
    (1 to 2).foreach { pass =>
      names.foreach { n =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).count()
        println(f"PAIR pass$pass $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.catalog.clearCache()
      graft.operators.Materialize.reset(spark)
    }
    spark.stop()
  }
}
