package graft.tools

import org.apache.spark.sql.functions._

/** Measures the quantities the 100× scale claims are made OF, at a
  * given fixture scale — run across sf0.01 / sf0.1 / sf1 the printed
  * rows turn the PLANS.md plan-shape arguments into observed growth
  * exponents:
  *
  *  - LSH band-bucket occupancy: bucket count, max occupancy, and
  *    Σ bucket² (the pair-join work bound) — the "Σ bucket², never
  *    all-pairs" claim (DedupOps).
  *  - Candidate and verified near-dup pair counts.
  *  - Connected-components convergence rounds — the "O(log diameter),
  *    ~40 rounds for a trillion-node chain" claim (ClusterOps).
  *
  * Prints ONE JSON line per run.
  *
  *   scripts/run_main.sh graft.tools.ScaleEvidence /root/testdata/sf0.1
  */
object ScaleEvidence {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    import graft.operators.{ClusterOps, DedupOps}

    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    val buckets = DedupOps.bandTable(spark, sfDir)
      .groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_occ"),
        sum(col("n") * col("n")).as("sum_sq"))
      .collect()(0)
    val candidates = DedupOps.minhashCandidates(spark, sfDir).count()
    val edges = DedupOps.nearDupJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val verified = edges.count()
    val labeled = ClusterOps.componentsOf(spark, edges).count()
    val rounds = ClusterOps.lastConvergenceRounds
    println(
      s"""{"sf":"$sfDir","n_docs":$nDocs,""" +
        s""""lsh_buckets":${buckets.getLong(0)},"lsh_max_occ":${buckets.getLong(1)},""" +
        s""""lsh_sum_sq":${buckets.getLong(2)},"candidate_pairs":$candidates,""" +
        s""""verified_pairs":$verified,"labeled_nodes":$labeled,"cc_rounds":$rounds}""")
    spark.stop()
  }
}
