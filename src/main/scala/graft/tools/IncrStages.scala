package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{ClusterOps, DedupOps, Materialize}

/** Stage-level timing breakdown of dedup_clusters_incr (PLANS.md
  * adjudication input): which part of the incremental-cluster pipeline
  * costs what at a given fixture scale. */
object IncrStages {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    def t(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"STAGE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // warm the JVM/codegen once, then measure a clean build
    graft.operators.ClusterOps.incrementalClusters(spark, sfDir).count()
    Materialize.reset(spark)
    t("signatures") { DedupOps.signatures(spark, sfDir, keepHs = true).count() }
    t("pairs_discovery_verify") { DedupOps.nearDupJaccard(spark, sfDir).count() }
    val pairs = DedupOps.nearDupJaccard(spark, sfDir)
    t("baseline_cc") {
      ClusterOps.componentsOf(spark,
        pairs.where(col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0)
          .select(col("doc_a"), col("doc_b"))).count()
    }
    println(s"STAGE baseline_cc_rounds ${ClusterOps.lastConvergenceRounds}")
    t("delta_candidates_verify") {
      DedupOps.jaccardVerify(DedupOps.incrementalCandidates(spark, sfDir),
          DedupOps.signatures(spark, sfDir, keepHs = true))
        .where(col("jaccard") >= DedupOps.JaccardThreshold).count()
    }
    // full operator on warm memos: baseline CC re-runs inside the
    // cc_incr memo build + super CC + merge + final corpus join
    t("full_incr_on_warm_memos") {
      ClusterOps.incrementalClusters(spark, sfDir).count()
    }
    t("full_incr_memoized") {
      ClusterOps.incrementalClusters(spark, sfDir).count()
    }
    spark.stop()
  }
}
