package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumns.{column, expression}
import graft.functions.TextOps

/** Dump the BUILD-pipeline plans behind the memoized hash/skipgram
  * surfaces — `PlanDump` on those registrations shows only the
  * checkpoint scan (the memo materializes during query construction),
  * so the kernel-vs-builtin plan evidence lives here: for each shape
  * the r17 kernels serve, the pre-r17 composed-builtin form is
  * restated verbatim next to the kernel form the operators now build
  * (same pipelines as DedupOps.shingleHashes / SpanDedup.dupSpanAgg /
  * Decontamination.shingleRows / CoOccur.pairCounts — see those call
  * sites).
  *
  * Usage: sbt "runMain graft.tools.KernelPlanDump <sfDir> <outDir>"
  */
object KernelPlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.drop(1).headOption.getOrElse("plans/r17")
    val spark = graft.GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val docs = graft.sources.Tables.documents(spark, sfDir)
    val t = col("t")

    // pre-r17 builtin forms, restated verbatim (TextOps now routes
    // through the kernels, so the reference chains are inlined here)
    def refHash60(s: org.apache.spark.sql.Column) =
      conv(substring(md5(s), 1, 15), 16, 10).cast("long")
    val k = graft.operators.DedupOps.ShingleK
    val shingleBefore = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), t, explode(TextOps.ngramIndex(t, k)).as("i"))
      .select(col("doc_id"), TextOps.ngramAt(t, col("i"), k).as("s"))
      .select(col("doc_id"), refHash60(col("s")).as("h"))
    val shingleAfter = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(TextOps.ngramHash60(t, k)).as("h"))

    val w = graft.GraftConf.DefaultSpanWindow
    val spanBefore = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), t, explode(TextOps.ngramIndex(t, w)).as("pos"))
      .select(col("doc_id"), col("pos"),
        refHash60(TextOps.ngramAt(t, col("pos"), w)).as("span_hash"))
    val spanAfter = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        posexplode(TextOps.ngramHash60(t, w)).as(Seq("pos", "span_hash")))

    val W = graft.operators.CoOccur.Window
    val toks = TextOps.tokens(col("text"))
    val skipBefore = docs.where(col("text").isNotNull)
      .select(explode(
        when(size(toks) >= 2,
          flatten(transform(sequence(lit(1), size(toks)), i =>
            transform(slice(toks, i + 1, lit(W)), x =>
              struct(element_at(toks, i).as("center"), x.as("context"))))))
          .otherwise(array().cast("array<struct<center:string,context:string>>"))).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("cnt"))
    val skipAfter = docs.where(col("text").isNotNull)
      .select(explode(column(graft.functions.SkipgramPairs(expression(toks), W))).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("cnt"))

    val dumps = Seq(
      "kernel_shingle_hashes_before" -> shingleBefore,
      "kernel_shingle_hashes_after" -> shingleAfter,
      "kernel_span_hashes_before" -> spanBefore,
      "kernel_span_hashes_after" -> spanAfter,
      "kernel_skipgram_build_before" -> skipBefore,
      "kernel_skipgram_build_after" -> skipAfter)
    dumps.foreach { case (name, df) =>
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"), txt.getBytes("UTF-8"))
      println(s"dumped $name")
    }
    spark.stop()
  }
}
