package graft.tools

import org.apache.spark.sql.functions._

/** Stage-cost probe for the fuzzy blocking join (throwaway diagnostics;
  * counts each pipeline prefix separately so the expensive stage is
  * attributable). */
object FuzzyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    import graft.operators.Retrieval
    val keys = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_name").as("name"))
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $tag $n rows ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val variants = keys.distinct()
      .where(col("name").isNotNull && length(col("name")) > 0)
      .select(col("name"), explode(Retrieval.delete1Variants(col("name"))).as("v"))
    for (pass <- 1 to 2) {
      println(s"--- pass $pass")
      time("variants")(variants.count())
      val joined = variants.as("a").join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      time("joined")(joined.count())
      val lev = variants.as("a").join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
          levenshtein(col("a.name"), col("b.name"), 1).cast("long").as("dist"))
        .where(col("dist") >= 0)
      time("lev_banded")(lev.count())
      time("lev_distinct")(lev.distinct().count())
      time("full")(Retrieval.fuzzyJoinCustomers(spark, sfDir).count())
    }
    spark.stop()
  }
}
