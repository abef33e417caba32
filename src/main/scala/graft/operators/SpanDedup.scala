package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Exact-substring (token-window) duplicate detection — the span-level
  * pass that complements the document-level dedup family: exact dedup
  * catches identical documents, MinHash/SimHash catch mostly-similar
  * documents, and THIS catches verbatim runs (boilerplate, licenses,
  * quoted passages) repeated across otherwise-distinct documents —
  * the "exact substring duplication" signal of the deduplicate-
  * training-data literature, re-expressed for Spark: instead of a
  * corpus-wide suffix array (a single-machine construction), every
  * document emits its sliding W-token windows, each window is reduced
  * to a 60-bit hash, and duplicate spans are ONE hash aggregation.
  *
  * Scale design at 100 TB:
  *  - Window construction is per-row array arithmetic (`transform` over
  *    a `sequence`, `slice` + `concat_ws`) — a map-only pass, no
  *    explosion through a shuffle until windows are reduced to hashes.
  *  - The only shuffled rows are (8-byte span hash, 8-byte doc id)
  *    pairs — never window text. A doc of n tokens emits n-W+1 such
  *    pairs; corpus-wide this is O(total tokens), the same order as a
  *    tokenization pass.
  *  - [[spanDupRate]] joins windows back to the duplicated-span counts
  *    on the SAME 8-byte hash key the aggregation shuffled on, so the
  *    exchange is reused, then aggregates per doc.
  *  - The hash is the shared md5-derived 60-bit scheme ([[TextOps
  *    .hash60]]) — deterministic across engines, so both queries have
  *    exact DuckDB oracles. At 2^60, span-hash collisions begin to
  *    matter only past ~2^30 DISTINCT spans (birthday bound); a
  *    production corpus upgrades to the two-half 120-bit scheme exact
  *    dedup already uses (same shape, twice the key bytes).
  */
object SpanDedup {

  /** Default tokens per window (stride 1) — the ORACLE-PINNED value
    * (`GraftConf.DefaultSpanWindow`): sized for the pinned fixtures so
    * the duplicated-span set is non-trivial. Runtime-settable via
    * `spark.graft.span.windowTokens` (or the explicit parameter); the
    * exact-substring-dedup literature's W≈50 runs as the bench-only
    * `span_rate_w50` registration — cost is O(total tokens) at any W. */
  val WindowTokens: Int = graft.GraftConf.DefaultSpanWindow

  /** One row per window occurrence: (doc_id, span_hash). Window
    * construction is the established explode(ngramIndex) + codegen'd
    * ngramAt shape shared with the shingle pipelines — an array-HOF
    * `transform` lambda here would re-inline the interpreted md5 per
    * window (TextOps.ngramIndex doc: measured 7× slower). */
  private def spanHashes(spark: SparkSession, sfDir: String, W: Int): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(TextOps.ngramHash60(col("t"), W)).as("span_hash"))
  }

  /** Spans appearing in ≥2 distinct documents: span hash, how many
    * docs contain it, total occurrences, and the smallest containing
    * doc id (the canonical place to look the text up). */
  /** The duplicated-span aggregate (span_hash, n_docs, n_occ, canonical
    * (doc, pos) location), memoized per (session, dir, W) — ONE
    * O(total tokens) window-hash pass serves dedup_spans, sql_spans,
    * span_top_text and sql_span_text (each previously re-hashed every
    * corpus window). Bounded by the DUPLICATED span set — slim. The
    * canonical location's doc id IS min(doc_id) (lexicographic struct
    * min), so [[dedupSpans]]'s `first_doc` projects from it exactly. */
  private def dupSpanAgg(spark: SparkSession, sfDir: String, w: Int): DataFrame =
    Materialize.memoized(spark,
        s"span_agg_${w}_${Materialize.dirTag(spark, sfDir)}") {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          posexplode(TextOps.ngramHash60(col("t"), w)).as(Seq("pos", "span_hash")))
        .groupBy(col("span_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(struct(col("doc_id"), col("pos"))).as("loc"))
        .where(col("n_docs") >= 2)
    }

  def dedupSpans(spark: SparkSession, sfDir: String,
                 windowTokens: Option[Int] = None): DataFrame = {
    val w = windowTokens.getOrElse(graft.GraftConf.spanWindowTokens(spark))
    dupSpanAgg(spark, sfDir, w)
      .select(col("span_hash"), col("n_docs"), col("n_occ"),
        col("loc.doc_id").as("first_doc"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span_hash").asc)
  }

  /** Per-document duplicated-window fraction — the curation signal
    * ("drop docs that are mostly verbatim repeats of the corpus").
    * A window counts as duplicated when its span hash occurs ≥2 times
    * GLOBALLY (cross-doc or within-doc — verbatim repetition either
    * way). Documents shorter than [[WindowTokens]] have no windows and
    * report rate 0. */
  // NOT memoized (unlike dedupSpans/spanTopText — r16): the output is a
  // LEFT join of documents against per-doc window stats, which the
  // optimizer can legitimately elide under aggregate-only consumers
  // (the unique-keyed outer join drops when its columns are unused);
  // an eager output memo would force full materialization on exactly
  // the consumers that don't need it, measured +3.5 s/variant at sf0.1.
  def spanDupRate(spark: SparkSession, sfDir: String,
                  windowTokens: Option[Int] = None): DataFrame = {
    val w = windowTokens.getOrElse(graft.GraftConf.spanWindowTokens(spark))
    val wins = spanHashes(spark, sfDir, w)
    val counts = wins.groupBy(col("span_hash")).agg(count(lit(1)).as("n_occ"))
    val perDoc = wins.join(counts, "span_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_rate",
        when(col("n_windows") > 0,
          col("n_dup_windows").cast("double") / col("n_windows"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id").asc)
  }

  /** Top duplicated spans WITH their reconstructed text — the
    * inspection step after [[dedupSpans]] flags duplication: a curation
    * engineer's first question is "what IS this repeated span —
    * license header, nav boilerplate, quoted passage?", which the
    * hash-only report cannot answer. Reports the [[graft.GraftConf
    * .topK]] most-duplicated spans (same ordering as [[dedupSpans]])
    * with the span text sliced from its canonical occurrence (lowest
    * doc id, then lowest start position).
    *
    * Scale shape: the heavy pass is the SAME single hash aggregation
    * as [[dedupSpans]] (positions ride along as one extra int); the
    * text reconstruction then touches only top-N rows — the N-row
    * frame broadcasts into one scan of `documents`, so no corpus-sized
    * text ever shuffles. min(struct(doc_id, pos)) picks the canonical
    * location in the same aggregation (lexicographic struct ordering =
    * min doc, then min pos within it). */
  def spanTopText(spark: SparkSession, sfDir: String,
                  windowTokens: Option[Int] = None): DataFrame = {
    val W = windowTokens.getOrElse(graft.GraftConf.spanWindowTokens(spark))
    val K = graft.GraftConf.topK(spark)
    // serves from the shared [[dupSpanAgg]] memo; only the K-row text
    // reconstruction runs per consumer
    val top = dupSpanAgg(spark, sfDir, W)
      .select(col("span_hash"), col("n_docs"), col("n_occ"),
        col("loc.doc_id").as("first_doc"), col("loc.pos").as("first_pos"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span_hash").asc)
      .limit(K)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .join(broadcast(top), col("doc_id") === col("first_doc"))
      .select(col("span_hash"), col("n_docs"), col("n_occ"),
        col("first_doc"), col("first_pos"),
        TextOps.ngramAt(col("t"), col("first_pos"), W).as("span_text"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span_hash").asc)
  }

  /** Shared oracle CTE: tokens → sliding W-token windows → 60-bit span
    * hashes, mirroring the Spark pipeline constant-for-constant. The
    * window list is [[TextOps.shingleListSql]] — the single shared
    * n-gram SQL shape, so a W change cannot diverge the twins. */
  private def spanSqlPrefix(w: Int): String =
    s"""toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |win AS (SELECT doc_id, unnest(${TextOps.shingleListSql("t", w)}) AS s FROM toks),
       |wh AS (SELECT doc_id, ${TextOps.hash60Sql("s")} AS span_hash FROM win)""".stripMargin

  def dedupSpansSqlFor(w: Int): String =
    s"""WITH ${spanSqlPrefix(w)}
       |SELECT span_hash,
       |       COUNT(DISTINCT doc_id) AS n_docs,
       |       COUNT(*) AS n_occ,
       |       MIN(doc_id) AS first_doc
       |FROM wh
       |GROUP BY span_hash
       |HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY n_docs DESC, n_occ DESC, span_hash ASC""".stripMargin

  val dedupSpansSql: String = dedupSpansSqlFor(WindowTokens)

  /** [[spanDupRateSql]] at an explicit W — the oracle twin of
    * `spanDupRate(_, _, Some(w))`. `n_dup_windows` is a `SUM(CASE)`,
    * which DuckDB widens to HUGEINT → pandas float64 ("5.0" vs Spark's
    * "5") — the CAST back to BIGINT is load-bearing for the driver's
    * dtype-sensitive compare (r9's red span rows were exactly this). */
  def spanDupRateSqlFor(w: Int): String =
    s"""WITH ${spanSqlPrefix(w)},
       |cnt AS (SELECT span_hash, COUNT(*) AS n_occ FROM wh GROUP BY span_hash),
       |per_doc AS (SELECT w.doc_id,
       |                   COUNT(*) AS n_windows,
       |                   SUM(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup_windows
       |            FROM wh w JOIN cnt c ON w.span_hash = c.span_hash
       |            GROUP BY w.doc_id)
       |SELECT d.doc_id,
       |       COALESCE(p.n_windows, 0) AS n_windows,
       |       CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       |       CASE WHEN COALESCE(p.n_windows, 0) > 0
       |            THEN CAST(p.n_dup_windows AS DOUBLE) / p.n_windows
       |            ELSE 0.0 END AS dup_rate
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id ASC""".stripMargin

  val spanDupRateSql: String = spanDupRateSqlFor(WindowTokens)

  /** DuckDB twin of [[spanTopText]]. Position-carrying windows come
    * from [[TextOps.shingleStructListSql]] (the positional sibling of
    * the shared shingle shape); the canonical location is the two-step
    * MIN(doc_id) → MIN(pos)-within-that-doc, which is exactly what the
    * Spark side's lexicographic `min(struct(doc_id, pos))` computes.
    * `pos` is CAST to INTEGER (DuckDB range yields BIGINT, Spark's
    * sequence-of-int explode yields int32 — the dtype gate compares
    * widths). */
  def spanTopTextSqlFor(w: Int, topN: Int): String =
    s"""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |win AS (SELECT doc_id, unnest(${TextOps.shingleStructListSql("t", w)}) AS w FROM toks),
       |wh AS (SELECT doc_id, CAST(w.pos AS INTEGER) AS pos, ${TextOps.hash60Sql("w.s")} AS span_hash FROM win),
       |agg AS (SELECT span_hash, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ, MIN(doc_id) AS first_doc
       |        FROM wh GROUP BY span_hash HAVING COUNT(DISTINCT doc_id) >= 2),
       |loc AS (SELECT w.span_hash, MIN(w.pos) AS first_pos
       |        FROM wh w JOIN agg a ON w.span_hash = a.span_hash AND w.doc_id = a.first_doc
       |        GROUP BY w.span_hash),
       |top AS (SELECT a.span_hash, a.n_docs, a.n_occ, a.first_doc, l.first_pos
       |        FROM agg a JOIN loc l ON a.span_hash = l.span_hash
       |        ORDER BY a.n_docs DESC, a.n_occ DESC, a.span_hash ASC LIMIT $topN)
       |SELECT t.span_hash, t.n_docs, t.n_occ, t.first_doc, t.first_pos,
       |       concat_ws(' ', ${(1 to w).map(j => s"k.t[t.first_pos+$j]").mkString(", ")}) AS span_text
       |FROM top t JOIN toks k ON k.doc_id = t.first_doc
       |ORDER BY t.n_docs DESC, t.n_occ DESC, t.span_hash ASC""".stripMargin

  val spanTopTextSql: String =
    spanTopTextSqlFor(WindowTokens, graft.GraftConf.DefaultTopK)
}
