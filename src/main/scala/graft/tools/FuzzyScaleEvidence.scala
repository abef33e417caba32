package graft.tools

import org.apache.spark.sql.functions._

/** Fuzzy-join axis companion to [[ScaleEvidence]]: measures the
  * quantities the delete-1 blocking claims are made OF — run across
  * sf0.01 / sf0.1 / sf1 the printed rows turn "the variant self-join is
  * Σ bucket², never all-pairs" into observed growth exponents:
  *
  *  - keys / variant rows (the blocking explode: (L+1)·keys, linear),
  *  - variant-bucket count, max occupancy, and Σ b·(b−1)/2 (the exact
  *    number of raw candidate pairs the equality join emits before
  *    dedup — vs keys·(keys−1)/2 for the brute-force oracle),
  *  - distinct candidate pairs and levenshtein-verified pairs.
  *
  * Prints ONE JSON line per run. Counts, not wall-clock — safe to run
  * on a loaded box.
  *
  *   scripts/run_main.sh graft.tools.FuzzyScaleEvidence /root/testdata/sf0.1
  */
object FuzzyScaleEvidence {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    import graft.operators.Retrieval

    val keys = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_name").as("name"))
    val nKeys = keys.count()
    val distinctKeys = keys.distinct()
    val nDistinct = distinctKeys.count()
    // mirrors fuzzyPairs: blocking runs over DISTINCT keys (duplicate
    // multiplicity would square into the candidate join otherwise)
    val variants = distinctKeys
      .where(col("name").isNotNull && length(col("name")) > 0)
      .select(col("name"),
        explode(Retrieval.delete1Variants(col("name"))).as("v"))
    val nVariants = variants.count()
    val b = variants.groupBy(col("v")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_occ"),
        sum(col("n") * (col("n") - 1) / 2).cast("long").as("raw_cand"))
      .collect()(0)
    val distinctCand = variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.name") < col("b.name"))
      .select(col("a.name"), col("b.name")).distinct().count()
    val verified = Retrieval.fuzzyJoinCustomers(spark, sfDir).count()
    println(
      s"""{"sf":"$sfDir","n_keys":$nKeys,"n_distinct_keys":$nDistinct,"n_variants":$nVariants,""" +
        s""""variant_buckets":${b.getLong(0)},"max_occ":${b.getLong(1)},""" +
        s""""raw_candidate_pairs":${b.getLong(2)},"distinct_candidate_pairs":$distinctCand,""" +
        s""""verified_pairs":$verified,""" +
        s""""brute_force_pairs":${nDistinct * (nDistinct - 1) / 2}}""")
    spark.stop()
  }
}
