package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Deterministic shuffle-shard export and train/val/test splitting —
  * the step between curation and the trainer: give every document a
  * reproducible pseudo-random position (so epoch order is shuffled but
  * bit-stable across reruns), a shard assignment for parallel writers,
  * and a holdout split, without any RNG state.
  *
  * Both keys are content-independent md5 hashes of the doc id under
  * distinct salts ("shuf|" for ordering, "split|" for the holdout),
  * so shard, position, and split are independent of each other and of
  * ingestion order — rerunning after adding documents moves nobody
  * between splits (the property hash-salting exists for).
  *
  * Scale design: ONE exchange, hash-partitioned by shard; the
  * row_number window sorts WITHIN each shard only (never a global
  * sort), so per-task work is n/shards · log(n/shards) and the shard
  * count knob (`spark.graft.export.shards`) sizes partitions to the
  * writer fleet. The 90/5/5 split thresholds are fixed expressions in
  * the oracle contract.
  */
object Sharding {

  val TrainPct = 90
  val ValPct = 5

  /** Train/val/test label for a salted split hash — the SINGLE source
    * of the split-boundary rule, shared by the per-document shuffle
    * export and the cluster-atomic leakage split (which differ only in
    * what they hash). */
  def splitOf(sk: Column): Column =
    when(sk % 100 < TrainPct, lit("train"))
      .when(sk % 100 < TrainPct + ValPct, lit("val"))
      .otherwise(lit("test"))

  /** SQL twin of [[splitOf]]. */
  def splitCaseSql(sk: String): String =
    s"CASE WHEN $sk % 100 < $TrainPct THEN 'train' " +
      s"WHEN $sk % 100 < ${TrainPct + ValPct} THEN 'val' ELSE 'test' END"

  private def shufKey = TextOps.hash60(concat(lit("shuf|"), col("doc_id").cast("string")))
  private def splitKey = TextOps.hash60(concat(lit("split|"), col("doc_id").cast("string")))

  def shuffleExport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shards = graft.GraftConf.exportShards(spark)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), shufKey.as("k"), splitKey.as("sk"))
      .select(col("doc_id"), col("k"),
        (col("k") % shards).as("shard"),
        splitOf(col("sk")).as("split"))
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("shard")).orderBy(col("k").asc, col("doc_id").asc))
          .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"), col("split"))
      .orderBy(col("shard").asc, col("pos").asc)
  }

  val shuffleExportSql: String = {
    val k = TextOps.hash60Sql("concat('shuf|', CAST(doc_id AS VARCHAR))")
    val sk = TextOps.hash60Sql("concat('split|', CAST(doc_id AS VARCHAR))")
    s"""WITH keyed AS (SELECT doc_id, $k AS k, $sk AS sk FROM documents),
       |assigned AS (SELECT doc_id, k,
       |                    k % ${graft.GraftConf.DefaultExportShards} AS shard,
       |                    ${splitCaseSql("sk")} AS split
       |             FROM keyed)
       |SELECT doc_id, shard,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k ASC, doc_id ASC) AS BIGINT) AS pos,
       |       split
       |FROM assigned
       |ORDER BY shard ASC, pos ASC""".stripMargin
  }

  /** Default quality-band count for [[curriculumOrder]]'s two-phase
    * global ranking — runtime-settable via
    * `spark.graft.curriculum.bands` (production sizes it to the task
    * fleet). Band-INVARIANT result: any positive band count yields the
    * identical global rank, pinned by a spec running 1 and 4096. */
  val CurriculumBands: Int = graft.GraftConf.DefaultCurriculumBands

  /** Curriculum-ordered export: every document's EXACT global position
    * under (quality DESC, doc_id ASC) — the easy-to-hard total order a
    * curriculum-learning schedule reads — computed WITHOUT a global
    * window (`ROW_NUMBER() OVER (ORDER BY ...)` with no PARTITION BY is
    * the classic single-task scale trap: one executor sorts the corpus).
    *
    * Two-phase banded ranking instead: quality lives in [0,1], so
    * `band = min(⌊(1-quality)·B⌋, B-1)` is order-preserving (higher
    * quality → lower band, ties stay inside one band); a B-row histogram
    * gives each band the count of documents in all better bands (its
    * global offset, a window over B rows); the per-band ROW_NUMBER
    * windows run in parallel with ~n/B-document partitions. Global pos =
    * offset + within-band rank — provably the true global rank, which is
    * exactly what the oracle asserts: the DuckDB twin IS the naive
    * global window, so any banding error (a boundary doc in the wrong
    * band, an off-by-one offset) hash-mismatches.
    *
    * The one float op (⌊(1-q)·256⌋) is reproducible: q is the
    * hash-verified quality double, and IEEE subtract/multiply/floor are
    * deterministic and identical on both engines. */
  def curriculumOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = graft.GraftConf.curriculumBands(spark)
    // output memoized per (session, dir, bands) — doc-scale slim rows;
    // shared by curriculum_order and sql_curriculum (each previously
    // re-ran the quality scoring + banded windows)
    Materialize.memoized(spark,
        s"curriculum_${bands}_${Materialize.dirTag(spark, sfDir)}") {
      curriculumOrderBuild(spark, sfDir, bands)
    }.orderBy(col("pos").asc)
  }

  /** The banded-window derivation behind [[curriculumOrder]] — split
    * out (pre-memo) so the plan-shape spec can assert the per-band
    * exchange on the build plan itself. */
  private[graft] def curriculumOrderBuild(spark: SparkSession, sfDir: String,
      bands: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextAnalysis.qualityScore(spark, sfDir).select(col("doc_id"), col("quality"))
    val banded = q.withColumn("band",
      least(floor((lit(1.0) - col("quality")) * bands), lit(bands - 1))
        .cast("long"))
    val offsets = banded.groupBy(col("band")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("band").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("off"))
    banded.join(broadcast(offsets), "band")
      .withColumn("pos", (col("off") + row_number().over(
        Window.partitionBy(col("band"))
          .orderBy(col("quality").desc, col("doc_id").asc))).cast("long"))
      .select(col("doc_id"), col("quality"), col("pos"))
  }

  /** Oracle twin: the naive global window the Spark side must equal. */
  val curriculumOrderSql: String =
    s"""WITH q AS (${TextAnalysis.qualityScoreSql})
       |SELECT doc_id, quality,
       |       CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS pos
       |FROM q
       |ORDER BY pos ASC""".stripMargin
}
