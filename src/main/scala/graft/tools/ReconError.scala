package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostic: total / mean squared RECONSTRUCTION error of the two PQ
  * tiers against the quantized corpus — the number behind the
  * residual-encoding claim (Jégou et al. §IV: residual codes should
  * reconstruct with less error at the same byte budget). Recall@10 is
  * a 10-sample metric and can swing either way on a fixture corpus;
  * this is the dense measurement a rollout decision actually reads
  * (RECALL.md cites it per round).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     scripts/run_main.sh graft.tools.ReconError
  */
object ReconError {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val corpus = graft.operators.Similarity.corpus(spark, sfDir)
      .select(col("vec_id"), col("q"))
    def report(name: String, idx: org.apache.spark.sql.DataFrame): Unit = {
      val err = idx.select(col("vec_id"), col("rq"))
        .join(corpus, "vec_id")
        .select(aggregate(zip_with(col("q"), col("rq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("se"))
        .agg(sum(col("se")).as("sse"), count(lit(1)).as("n"))
        .collect()(0)
      val (sse, n) = (err.getLong(0), err.getLong(1))
      println(f"RECON $name sse=$sse%d n=$n%d mse_per_vec=${sse.toDouble / n}%.1f")
    }
    report("raw", graft.operators.ProductQuant.pqIndex(spark, sfDir))
    report("residual", graft.operators.ProductQuant.pqResidIndex(spark, sfDir))
    spark.stop()
  }
}
