package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Sequence packing — the canonical pretraining preprocessing step:
  * concatenate documents (within a language) in a deterministic order
  * and chunk the token stream into fixed-budget training sequences. A
  * document's sequence is the one its FIRST token lands in (greedy
  * concat-and-chunk semantics); the output reports per-sequence doc
  * counts and token fill.
  *
  * Scale design — the window-skew trap and its standard fix: packing
  * needs a running token sum, and a window partitioned by `lang` alone
  * would pull an entire language (most of a 100 TB corpus) into one
  * task. Documents are therefore first sharded by a deterministic hash
  * (`hash60(doc_id) % shards`) and packed per (lang, shard): every
  * shard is an independent, parallel packing problem, the window
  * partition key has shards × languages cells, and determinism is
  * preserved because the shard assignment and the within-shard
  * (doc_id) order are pure functions of the data. Exact integer
  * arithmetic throughout (`div`), so the DuckDB twin replays the
  * identical running sums and chunk boundaries. */
object Packing {

  /** Tokens per packed training sequence. */
  val SeqBudget = 2048L

  /** Pack the corpus (or, with `onlyDocs`, a curated subset — the
    * pipeline runner passes the manifest's ids so the sequences
    * artifact never trains on documents curation dropped; the join is a
    * slim 8-byte-key semi-join before any token work). */
  def packSequences(spark: SparkSession, sfDir: String,
      onlyDocs: Option[DataFrame] = None): DataFrame = {
    val base = onlyDocs.foldLeft(Tables.documents(spark, sfDir)) {
      (d, ids) => d.join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
    }
    packCore(spark, base.select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_toks")))
  }

  /** The greedy concat-and-chunk core over ANY per-doc token-count
    * frame (doc_id, lang, n_toks) — shared by the whitespace-count
    * surface above and the trained-BPE-count surface
    * ([[Bpe.encode]] → `pack_from_bpe`), so a tokenizer swap changes
    * ONLY the count column's provenance, never the packing plan. */
  private[graft] def packCore(spark: SparkSession, counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Shard count is runtime-settable (spark.graft.packing.shards) so a
    // deployment can size window partitions to its executor count; the
    // oracle pins the default, and Verify refuses an override.
    val numShards = graft.GraftConf.packingShards(spark).toLong
    val docs = counts
      .select(col("doc_id"), col("lang"), col("n_toks"),
        (TextOps.hash60(col("doc_id").cast("string")) % numShards).as("shard"))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .withColumn("seq_id", expr(s"(cum_toks - n_toks) div $SeqBudget"))
      .groupBy(col("lang"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc_id"))
      .orderBy(col("lang").asc, col("shard").asc, col("seq_id").asc)
  }

  val packSequencesSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |                  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks,
       |                  ${TextOps.hash60Sql("CAST(doc_id AS VARCHAR)")} % ${graft.GraftConf.DefaultPackingShards} AS shard
       |           FROM documents),
       |c AS (SELECT doc_id, lang, shard, n_toks,
       |             CAST(SUM(n_toks) OVER (PARTITION BY lang, shard ORDER BY doc_id ASC
       |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
       |      FROM d)
       |SELECT lang, shard, (cum_toks - n_toks) // $SeqBudget AS seq_id,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS seq_tokens,
       |       MIN(doc_id) AS first_doc_id
       |FROM c
       |GROUP BY lang, shard, seq_id
       |ORDER BY lang ASC, shard ASC, seq_id ASC""".stripMargin

  /** Length bucket width for [[lengthBuckets]]. */
  val BucketWidth = 64L

  /** Length-bucketed batching report — the OTHER way training/inference
    * jobs fight padding waste (packing concatenates; bucketing groups
    * similar lengths and pads to the bucket ceiling): documents bucket
    * to ⌈n_toks/64⌉·64 and each bucket reports its doc count, real
    * tokens, padded tokens, and exact waste fraction (integer
    * arithmetic, ONE IEEE division). Zero-token docs land in a
    * zero-width bucket with zero padded tokens (0/0 guarded to 0).
    * Scale: one projection + one aggregation keyed by the bucket id —
    * the same single-shuffle shape as every stats query here. */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val nToks = TextOps.tokenCount(col("text")).cast("long")
    Tables.documents(spark, sfDir)
      .where(col("text").isNotNull)
      // Column./ is FLOAT division — floor + cast makes the ceiling
      // arithmetic integer-exact (token counts are far below 2^53)
      .select((floor((nToks + BucketWidth - 1) / BucketWidth).cast("long") * BucketWidth)
          .as("bucket"),
        nToks.as("n_toks"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("real_tokens"),
        (count(lit(1)) * col("bucket")).as("padded_tokens"))
      .select(col("bucket"), col("n_docs"), col("real_tokens"), col("padded_tokens"),
        when(col("padded_tokens") > 0,
          lit(1.0) - col("real_tokens").cast("double") / col("padded_tokens"))
          .otherwise(lit(0.0)).as("waste_frac"))
      .orderBy(col("bucket").asc)
  }

  val lengthBucketsSql: String =
    s"""WITH d AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_toks
       |           FROM documents
       |           WHERE text IS NOT NULL),
       |b AS (SELECT ((n_toks + ${BucketWidth - 1}) // $BucketWidth) * $BucketWidth AS bucket, n_toks FROM d)
       |SELECT bucket, COUNT(*) AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
       |       CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
       |       CASE WHEN COUNT(*) * bucket > 0
       |            THEN 1.0 - CAST(SUM(n_toks) AS DOUBLE) / (COUNT(*) * bucket)
       |            ELSE 0.0 END AS waste_frac
       |FROM b
       |GROUP BY bucket
       |ORDER BY bucket ASC""".stripMargin
}
