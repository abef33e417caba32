package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: per-language corpus stats, stopword language-ID,
  * quality scoring, token counting (whitespace + BPE-ish), and document
  * fingerprinting.
  *
  * Scale design: every query is a narrow projection of `documents`
  * followed by per-row expressions and ONE hash aggregation on a
  * low-cardinality key (lang/source/doc_id) — a single shuffle of a few
  * counters per group. Nothing materializes token lists off the
  * executors; all token work happens inside Catalyst higher-order
  * functions in a single pass over each row.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, sfDir: String) = Tables.documents(spark, sfDir)

  /** Per-language corpus statistics: doc count, token totals, exact
    * integer sums with one final IEEE division for the averages (so both
    * engines agree bitwise). */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir)
      .select(col("lang"), col("source"), col("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        (sum(col("n_toks")).cast("double") / count(lit(1))).as("avg_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang").asc)
  }

  /** Per-source dataset card — the profile a mixture designer reads
    * before weighting sources: document/token volumes, exact
    * token-length quantiles (median + p90; Spark's exact `percentile`
    * and DuckDB's `quantile_cont` share the type-7 linear-interpolation
    * definition, and on exact integer lengths the interpolation
    * arithmetic is the same two IEEE ops), and language spread. One
    * hash aggregation to a (source, lang, token-length)-count histogram
    * — slim rows, map-side combined, state bounded by the length domain
    * — then [[ExactQuantiles]] reads the quantiles off the histogram
    * with a window pass. The buffering `percentile`/`median` aggregates
    * never appear in the plan (ScaleOpsSpec pins this), so a single hot
    * source — one feed contributing most of a 100 TB corpus — costs
    * O(distinct lengths) aggregation state, not an executor OOM. */
  def sourceProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = docs(spark, sfDir)
      // null-text docs produce a NULL length, which the replaced
      // median/percentile aggregates silently SKIPPED but a histogram
      // row would COUNT (and Spark/DuckDB order NULLs opposite ways in
      // the cumulative window) — filter them on both engines instead
      .where(col("text").isNotNull)
      .select(col("source"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy(col("source"), col("lang"), col("n_tok"))
      .agg(count(lit(1)).as("cnt"))
    ExactQuantiles.fromHistogram(hist, Seq("source"), "n_tok", "cnt",
        Seq("median_tokens" -> 0.5, "p90_tokens" -> 0.9),
        extraAggs = Seq(
          sum(col("cnt")).as("n_docs"),
          sum(col("n_tok") * col("cnt")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs")))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("median_tokens"), col("p90_tokens"), col("n_langs"))
      .orderBy(col("source").asc)
  }

  /** Winsorization readout — the length-outlier clip a training
    * pipeline applies before packing: per source, the exact P5/P95
    * document-length thresholds and how many documents each tail clip
    * would touch. Runs entirely on the (source, n_chars) histogram:
    * corpus-scale work is ONE slim aggregate; the threshold compare and
    * tail counts are histogram-sized (O(distinct lengths)), with the
    * per-source quantile frame broadcast back onto it. Thresholds are
    * [[ExactQuantiles]] type-7 doubles; the `n_chars < p05` compares
    * promote exact integers into doubles identically on both engines,
    * and the only reported non-integers are the two threshold values
    * themselves (never a Σ of doubles). */
  def docLengthWinsor(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = docs(spark, sfDir)
      .where(col("text").isNotNull)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val thresholds = ExactQuantiles.fromHistogram(hist, Seq("source"),
        "n_chars", "cnt", Seq("p05_chars" -> 0.05, "p95_chars" -> 0.95),
        extraAggs = Seq(sum(col("cnt")).as("n_docs")))
    hist.join(broadcast(thresholds), Seq("source"))
      .groupBy(col("source"), col("n_docs"),
        col("p05_chars"), col("p95_chars"))
      .agg(
        sum(when(col("n_chars") < col("p05_chars"), col("cnt")).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col("n_chars") > col("p95_chars"), col("cnt")).otherwise(0L))
          .as("n_clipped_hi"))
      .select(col("source"), col("n_docs"), col("p05_chars"),
        col("p95_chars"), col("n_clipped_lo"), col("n_clipped_hi"))
      .orderBy(col("source").asc)
  }

  val docLengthWinsorSql: String =
    s"""WITH r AS (SELECT source, n_chars, COUNT(*) AS cnt FROM documents
       |           WHERE text IS NOT NULL GROUP BY source, n_chars),
       |w AS (SELECT source, n_chars, cnt,
       |             SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars ASC
       |                            ROWS UNBOUNDED PRECEDING) AS cum,
       |             SUM(cnt) OVER (PARTITION BY source) AS n
       |      FROM r),
       |agg AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       |               ${ExactQuantiles.replaySelectSql("0.05", "p05", "n_chars")},
       |               ${ExactQuantiles.replaySelectSql("0.95", "p95", "n_chars")}
       |        FROM w GROUP BY source),
       |thr AS (SELECT source, n_docs,
       |               ${ExactQuantiles.replayInterpSql("p05")} AS p05_chars,
       |               ${ExactQuantiles.replayInterpSql("p95")} AS p95_chars
       |        FROM agg)
       |SELECT thr.source, thr.n_docs, thr.p05_chars, thr.p95_chars,
       |       CAST(SUM(CASE WHEN r.n_chars < thr.p05_chars THEN r.cnt ELSE 0 END) AS BIGINT)
       |         AS n_clipped_lo,
       |       CAST(SUM(CASE WHEN r.n_chars > thr.p95_chars THEN r.cnt ELSE 0 END) AS BIGINT)
       |         AS n_clipped_hi
       |FROM r JOIN thr USING (source)
       |GROUP BY thr.source, thr.n_docs, thr.p05_chars, thr.p95_chars
       |ORDER BY thr.source ASC""".stripMargin

  /** Oracle: replays the [[ExactQuantiles]] selection + interpolation
    * explicitly (see [[ExactQuantiles.replaySelectSql]]) — DuckDB's
    * median/quantile_cont agree on this fixture but their interpolation
    * tree is not guaranteed ulp-identical in general. */
  val sourceProfileSql: String =
    s"""WITH t AS (SELECT source, lang,
       |                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
       |           FROM documents
       |           WHERE text IS NOT NULL),
       |r AS (SELECT source, n_tok, COUNT(*) AS cnt FROM t GROUP BY source, n_tok),
       |w AS (SELECT source, n_tok, cnt,
       |             SUM(cnt) OVER (PARTITION BY source ORDER BY n_tok ASC
       |                            ROWS UNBOUNDED PRECEDING) AS cum,
       |             SUM(cnt) OVER (PARTITION BY source) AS n
       |      FROM r),
       |agg AS (SELECT source,
       |               ${ExactQuantiles.replaySelectSql("0.5", "med", "n_tok")},
       |               ${ExactQuantiles.replaySelectSql("0.9", "p90", "n_tok")}
       |        FROM w GROUP BY source),
       |s AS (SELECT source, COUNT(*) AS n_docs,
       |             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |             COUNT(DISTINCT lang) AS n_langs
       |      FROM t GROUP BY source)
       |SELECT s.source, s.n_docs, s.total_tokens,
       |       ${ExactQuantiles.replayInterpSql("med")} AS median_tokens,
       |       ${ExactQuantiles.replayInterpSql("p90")} AS p90_tokens,
       |       s.n_langs
       |FROM s JOIN agg USING (source)
       |ORDER BY s.source ASC""".stripMargin

  val textStatsSql: String =
    """SELECT lang,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS total_tokens,
      |       CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE) / COUNT(*) AS avg_tokens,
      |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |       COUNT(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang ASC""".stripMargin

  /** Stopword-scoring language ID (n-gram heuristic): score each doc
    * against tiny per-language stopword lists, predict the argmax with a
    * deterministic tie order (alphabetical; 'unknown' when all scores are
    * zero), and emit the confusion matrix against the labeled `lang`. */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val scores: Seq[(String, Column)] = TextOps.StopwordsByLang.map {
      case (lang, words) => lang -> TextOps.stopwordHits(t, words)
    }
    val mx = greatest(scores.map(_._2): _*)
    val pred = scores.foldLeft(when(mx === 0, lit("unknown"))) {
      case (acc, (lang, s)) => acc.when(s === mx, lit(lang))
    }
    docs(spark, sfDir)
      .select(col("lang"), pred.as("pred_lang"))
      .groupBy(col("pred_lang"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("pred_lang").asc, col("lang").asc)
  }

  val langIdConfusionSql: String = {
    def hits(words: Seq[String]) = {
      val set = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''), x -> x IN ($set)))"
    }
    val scoreExprs = TextOps.StopwordsByLang.map { case (l, ws) => s"${hits(ws)} AS s_$l" }
    val langs = TextOps.StopwordsByLang.map(_._1)
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $mx THEN '$l'").mkString(" ")
    s"""SELECT pred_lang, lang, COUNT(*) AS n
       |FROM (SELECT lang,
       |             CASE WHEN $mx = 0 THEN 'unknown' $cases END AS pred_lang
       |      FROM (SELECT lang, ${scoreExprs.mkString(",\n                   ")} FROM documents))
       |GROUP BY pred_lang, lang
       |ORDER BY pred_lang ASC, lang ASC""".stripMargin
  }

  /** Character-n-gram language ID: score each doc by the matched
    * character MASS of each language's stopwords used as variable-length
    * char n-grams (substring occurrences × gram length — no
    * tokenization), argmax with the same deterministic tie order as
    * [[langIdConfusion]]. Character-position matching is what
    * generalizes to unsegmented scripts: zh documents score through
    * their CJK grams wherever they occur, not through whitespace
    * tokens. Same confusion-matrix output shape. */
  def langIdNgramConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val scores: Seq[(String, Column)] = TextOps.StopwordsByLang.map {
      case (lang, words) => lang -> TextOps.charGramMass(col("text"), words)
    }
    val mx = greatest(scores.map(_._2): _*)
    val pred = scores.foldLeft(when(mx === 0, lit("unknown"))) {
      case (acc, (lang, s)) => acc.when(s === mx, lit(lang))
    }
    docs(spark, sfDir)
      .select(col("lang"), pred.as("pred_lang"))
      .groupBy(col("pred_lang"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("pred_lang").asc, col("lang").asc)
  }

  val langIdNgramConfusionSql: String = {
    val scoreExprs = TextOps.StopwordsByLang.map {
      case (l, ws) => s"${TextOps.charGramMassSql("text", ws)} AS s_$l"
    }
    val langs = TextOps.StopwordsByLang.map(_._1)
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $mx THEN '$l'").mkString(" ")
    s"""SELECT pred_lang, lang, COUNT(*) AS n
       |FROM (SELECT lang,
       |             CASE WHEN $mx = 0 THEN 'unknown' $cases END AS pred_lang
       |      FROM (SELECT lang,
       |                   ${scoreExprs.mkString(",\n                   ")}
       |            FROM documents))
       |GROUP BY pred_lang, lang
       |ORDER BY pred_lang ASC, lang ASC""".stripMargin
  }

  /** Per-document quality score from length / punctuation / stopword /
    * token-shape signals — the standard pre-training quality gate. The
    * score is a fixed IEEE expression tree over exact integer counts, so
    * it is bit-identical across engines and partitionings. */
  /** The (n_tokens, quality) column pair for a text column — factored
    * out so the streaming ingest filter (`streaming.DocStream`) applies
    * the IDENTICAL per-row expression the batch operator verifies
    * against the oracle. */
  private[graft] def qualityCols(text: Column): (Column, Column) = {
    val t = TextOps.tokens(text)
    val nToks = size(t).cast("double")
    val nChars = length(text).cast("double")
    val punctN = (length(text) -
      length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double")
    val stopN = TextOps.stopwordHits(t, TextOps.StopwordsByLang.toMap.apply("en")).cast("double")
    val tokLenSum = aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("double")
    val score =
      least(lit(1.0), nToks / 100.0) * 0.3 +
      (lit(1.0) - punctN / nChars) * 0.3 +
      least(lit(1.0), stopN / nToks * 5.0) * 0.2 +
      least(lit(1.0), tokLenSum / nToks / 8.0) * 0.2
    (size(t).cast("long"), when(size(t) === 0, 0.0).otherwise(score))
  }

  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val (nTokens, quality) = qualityCols(col("text"))
    docs(spark, sfDir)
      .select(col("doc_id"), nTokens.as("n_tokens"), quality.as("quality"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-source quality quartiles via NTILE — the bucketed-rank window
    * surface (curriculum_order covers exact global rank; this is the
    * standard SQL quartile a mixture designer filters on, e.g. "train
    * on the top quartile of each source"). The window's total order is
    * fully deterministic (quality desc, doc_id asc), so the bucket
    * boundaries — standard NTILE: earlier buckets take the remainder
    * rows — are identical on both engines. Scale: one window pass
    * partitioned by source; for a pathologically hot source the banded
    * two-phase trick behind curriculum_order applies unchanged. */
  def qualityQuartiles(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    qualityScore(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("quality"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("doc_id").asc)
  }

  val qualityQuartilesSql: String =
    s"""WITH q AS (${qualityScoreSqlFrom("documents")})
       |SELECT q.doc_id, d.source, q.quality,
       |       NTILE(4) OVER (PARTITION BY d.source
       |                      ORDER BY q.quality DESC, q.doc_id ASC) AS quartile
       |FROM q JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
       |ORDER BY q.doc_id ASC""".stripMargin

  /** Grid resolution for continuous-domain quantiles: quality scores
    * bin to 1/10000ths. */
  val QualityGridScale = 10000.0

  /** Quantiles over a CONTINUOUS domain (double quality scores) at
    * scale: the value is binned to a fixed integer grid
    * (floor(q·10000)) and the exact histogram machinery
    * ([[ExactQuantiles]]) runs on the bins — per-group state is
    * O(grid) regardless of corpus size, the deterministic analogue of
    * a KLL/t-digest sketch (those trade determinism for adaptivity;
    * a fixed grid keeps the DuckDB oracle exact). Reported quantiles
    * are grid-resolution approximations of the true ones, off by at
    * most one bin width — documented, bounded, and hash-verified. */
  def qualityQuantilesGrid(spark: SparkSession, sfDir: String): DataFrame =
    quantilesFromQualityHist(qualityHist(docs(spark, sfDir)))

  /** The (source, qbin) → count histogram stage of
    * [[qualityQuantilesGrid]] — a plain streaming-compatible aggregate
    * (no window tail), so the SAME expression tree serves the batch
    * query and the continuous monitor
    * ([[graft.streaming.DocStream.qualityHistStream]]). */
  def qualityHist(documents: DataFrame): DataFrame = {
    val (_, quality) = qualityCols(col("text"))
    documents
      .where(col("text").isNotNull)
      .select(col("source"),
        floor(quality * QualityGridScale).cast("long").as("qbin"))
      .groupBy(col("source"), col("qbin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The quantile tail of [[qualityQuantilesGrid]] over a landed
    * [[qualityHist]] frame — the periodic read side of the streaming
    * monitor, identical type-7 arithmetic to the batch path. */
  def quantilesFromQualityHist(hist: DataFrame): DataFrame =
    ExactQuantiles.fromHistogram(hist, Seq("source"), "qbin", "cnt",
        Seq("p50_bin" -> 0.5, "p90_bin" -> 0.9),
        extraAggs = Seq(sum(col("cnt")).as("n_docs")))
      .select(col("source"), col("n_docs"),
        (col("p50_bin") / QualityGridScale).as("p50_quality"),
        (col("p90_bin") / QualityGridScale).as("p90_quality"))
      .orderBy(col("source").asc)

  /** Oracle: replays the [[ExactQuantiles]] type-7 arithmetic
    * EXPLICITLY (rank containment + pos = q·(n−1) + the same
    * lo + frac·(hi−lo) IEEE tree) rather than DuckDB's quantile_cont,
    * whose internal interpolation order differs in the last ulp on
    * some inputs — the KMV-oracle replay precedent. */
  val qualityQuantilesGridSql: String = {
    def at(q: String, tag: String) = ExactQuantiles.replaySelectSql(q, tag, "qbin")
    def interp(tag: String) = ExactQuantiles.replayInterpSql(tag)
    s"""WITH q AS (${qualityScoreSqlFrom("documents")}),
       |b AS (SELECT d.source, CAST(floor(q.quality * $QualityGridScale) AS BIGINT) AS qbin
       |      FROM q JOIN documents d USING (doc_id)
       |      WHERE d.text IS NOT NULL),
       |r AS (SELECT source, qbin, COUNT(*) AS cnt FROM b GROUP BY source, qbin),
       |w AS (SELECT source, qbin, cnt,
       |             SUM(cnt) OVER (PARTITION BY source ORDER BY qbin ASC
       |                            ROWS UNBOUNDED PRECEDING) AS cum,
       |             SUM(cnt) OVER (PARTITION BY source) AS n
       |      FROM r),
       |agg AS (SELECT source, MAX(n) AS n_docs,
       |               ${at("0.5", "p50")},
       |               ${at("0.9", "p90")}
       |        FROM w GROUP BY source)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |       ${interp("p50")} / $QualityGridScale AS p50_quality,
       |       ${interp("p90")} / $QualityGridScale AS p90_quality
       |FROM agg
       |ORDER BY source ASC""".stripMargin
  }

  /** Email pattern shared by both engines — plain character classes and
    * a bounded quantifier, semantics identical under Java regex and
    * RE2. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Long digit runs (account/phone/reference-number shaped). */
  val LongNumRe = "[0-9]{6,}"

  /** PII scrubbing — the redaction pass a training pipeline runs before
    * anything else sees the text: strip emails, then long digit runs.
    * The fixture corpus contains neither, so (multimodal-payload
    * precedent) each doc gets deterministic doc_id-derived PII APPENDED
    * on BOTH engines — the redaction genuinely fires on every row, and
    * the oracle recomputes match counts and the 60-bit hash of the
    * redacted text, so a regex-dialect divergence or a missed
    * replacement hash-mismatches. Order matters and is pinned: emails
    * first (their digits must not pre-match as numbers), numbers
    * counted AFTER email redaction. Scale: pure per-row projection, no
    * shuffle but the output sort. */
  /** The per-row redaction projection over a frame exposing (doc_id,
    * text) — shared by the batch query and the streaming ingest twin
    * ([[graft.streaming.DocStream.redactStream]]), so the two cannot
    * drift: (match counts, 60-bit hash of the redacted text). */
  private[graft] def redactCols: (Column, Column, Column) = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com ref "),
      (col("doc_id") * 1000003L + 7654321L).cast("string"))
    val deEmailed = regexp_replace(aug, EmailRe, "<EMAIL>")
    val red = regexp_replace(deEmailed, LongNumRe, "<NUM>")
    (size(regexp_extract_all(aug, lit(EmailRe), lit(0))).cast("long"),
      size(regexp_extract_all(deEmailed, lit(LongNumRe), lit(0))).cast("long"),
      TextOps.hash60(red))
  }

  def textRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val (nEmails, nNums, redHash) = redactCols
    docs(spark, sfDir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), nEmails.as("n_emails"), nNums.as("n_longnums"),
        redHash.as("redacted_hash"))
      .orderBy(col("doc_id").asc)
  }

  val textRedactSql: String = {
    val aug = s"concat(text, ' contact user', doc_id, '@example.com ref ', CAST(doc_id * 1000003 + 7654321 AS VARCHAR))"
    val deEmailed = s"regexp_replace($aug, '$EmailRe', '<EMAIL>', 'g')"
    val red = s"regexp_replace($deEmailed, '$LongNumRe', '<NUM>', 'g')"
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all($aug, '$EmailRe')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all($deEmailed, '$LongNumRe')) AS BIGINT) AS n_longnums,
       |       ${TextOps.hash60Sql(red)} AS redacted_hash
       |FROM documents
       |WHERE text IS NOT NULL
       |ORDER BY doc_id ASC""".stripMargin
  }

  /** The quality-score oracle over any relation exposing (doc_id, text)
    * — parameterized so snapshot-sliced twins (the incremental manifest)
    * reuse the IDENTICAL formula text instead of a drift-prone copy. */
  def qualityScoreSqlFrom(rel: String): String = {
    val en = TextOps.StopwordsByLang.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, n_tokens,
       |       CASE WHEN n_tokens = 0 THEN 0.0 ELSE
       |         least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3 +
       |         (1.0 - CAST(punct_n AS DOUBLE) / CAST(n_chars2 AS DOUBLE)) * 0.3 +
       |         least(1.0, CAST(stop_n AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0) * 0.2 +
       |         least(1.0, CAST(toklen_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 8.0) * 0.2
       |       END AS quality
       |FROM (SELECT doc_id,
       |             len(t) AS n_tokens,
       |             len(text) AS n_chars2,
       |             len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS punct_n,
       |             len(list_filter(t, x -> x IN ($en))) AS stop_n,
       |             list_sum(list_transform(t, x -> len(x))) AS toklen_sum
       |      FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |            FROM $rel))
       |ORDER BY doc_id ASC""".stripMargin
  }

  val qualityScoreSql: String = qualityScoreSqlFrom("documents")

  /** Token counting per source: whitespace tokens and BPE-ish subword
    * tokens (letter runs / digit runs / punctuation marks) — the budget
    * signal a training pipeline tracks per data source. */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir)
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("ws"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("bpe"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      .orderBy(col("source").asc)
  }

  val tokenCountsSql: String =
    s"""SELECT source,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS ws_tokens,
       |       CAST(SUM(len(regexp_extract_all(lower(text), '${TextOps.BpePattern}'))) AS BIGINT) AS bpe_tokens
       |FROM documents
       |GROUP BY source
       |ORDER BY source ASC""".stripMargin

  /** Consistent per-group sampling: the k documents with the SMALLEST
    * content hash per source — the deterministic replacement for
    * reservoir sampling in a training pipeline. Because membership is a
    * pure function of content, the sample is stable across reruns,
    * partitionings, and engines (min-k-by-hash ≡ consistent weighted
    * sampling with uniform weights), and the per-group shuffle key makes
    * it one window pass at any scale. */
  def samplePerSource(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(TextOps.hash60(col("text")).asc, col("doc_id").asc)
    docs(spark, sfDir)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("source"), col("rk").cast("long").as("rk"), col("doc_id"))
      .orderBy(col("source").asc, col("rk").asc)
  }

  val samplePerSourceSql: String =
    s"""SELECT source, rk, doc_id
       |FROM (SELECT source, doc_id,
       |             ROW_NUMBER() OVER (PARTITION BY source
       |                                ORDER BY ${TextOps.hash60Sql("text")} ASC, doc_id ASC) AS rk
       |      FROM documents)
       |WHERE rk <= 5
       |ORDER BY source ASC, rk ASC""".stripMargin

  /** The same min-k-by-hash sample computed with the bounded-buffer
    * [[graft.functions.MinKByHash]] Aggregator instead of a window:
    * map-side partial aggregation caps each partition's shuffle
    * contribution at k rows per group (a window function shuffles every
    * row). Same result, same oracle — the scale path for per-group
    * sampling. */
  def samplePerSourceAgg(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val minK = udaf(new graft.functions.MinKByHash(k))
    docs(spark, sfDir)
      .select(col("source"), TextOps.hash60(col("text")).as("h"), col("doc_id").as("id"))
      .groupBy(col("source"))
      .agg(minK(col("h"), col("id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "kv")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"), col("kv.id").as("doc_id"))
      .orderBy(col("source").asc, col("rk").asc)
  }

  /** Approximate distinct tokens per language via the bounded
    * [[graft.functions.KmvSketch]] Aggregator, alongside the exact
    * count. At 100 TB the exact COUNT(DISTINCT) shuffles every distinct
    * hash; the sketch ships ≤ k longs per group per partition. KMV over
    * a fixed hash is deterministic, so even the "approximate" column
    * has an exact oracle: DuckDB computes the same k-th smallest
    * distinct hash and applies the same (k-1)·2^60/h₍k₎ estimator. */
  val KmvK = 256

  def approxDistinctTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch(KmvK))
    docs(spark, sfDir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tk"))
      .select(col("lang"), TextOps.hash60(col("tk")).as("h"))
      .groupBy(col("lang"))
      .agg(kmv(col("h")).as("approx_distinct"),
        countDistinct(col("h")).as("exact_distinct"))
      .orderBy(col("lang").asc)
  }

  val approxDistinctTokensSql: String = {
    val scale = s"${(KmvK - 1)}.0 * 1152921504606846976.0"
    s"""WITH tok AS (SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
       |             FROM documents),
       |h AS (SELECT DISTINCT lang, ${TextOps.hash60Sql("tk")} AS h FROM tok),
       |r AS (SELECT lang, h,
       |             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h ASC) AS rn,
       |             COUNT(*) OVER (PARTITION BY lang) AS nd
       |      FROM h)
       |SELECT lang,
       |       CASE WHEN MAX(nd) < $KmvK THEN CAST(MAX(nd) AS DOUBLE)
       |            ELSE $scale / CAST(MAX(CASE WHEN rn = $KmvK THEN h END) AS DOUBLE) END AS approx_distinct,
       |       CAST(MAX(nd) AS BIGINT) AS exact_distinct
       |FROM r
       |GROUP BY lang
       |ORDER BY lang ASC""".stripMargin
  }

  /** Keyword extraction per source — doc-level tf-idf kept in exact
    * rationals so it is bit-identical across engines: no logarithm (ln
    * is not guaranteed correctly rounded), instead
    * score = tf · N / df — tf = term count within the source, df =
    * number of DOCUMENTS containing the term corpus-wide, N = total
    * documents — computed as one integer product and ONE IEEE division.
    * Top-k per source, term-asc tiebreak. (Doc-level df, not
    * source-level: with a handful of sources sharing one vocabulary,
    * source-level df saturates at N for every term and selects
    * nothing.)
    *
    * Scale: ONE explode, ONE pass — no self-join and no countDistinct
    * Expand. The chain is: per-(source, doc_id, term) pre-aggregation
    * (the only token-scale shuffle, the distinct (doc, term) pairs the
    * old Expand plan also paid — but here the corpus is scanned and
    * exploded ONCE instead of twice), then a per-(source, term)
    * aggregation carrying BOTH tf (Σ occurrence counts) and the
    * per-source containing-doc count, then df as a window sum of those
    * doc counts partitioned by term — valid because every document
    * belongs to exactly one source, so Σ over sources of per-source doc
    * counts IS the corpus-wide document frequency. The window shuffle
    * is vocabulary×sources-sized. N is a broadcast 1-row aggregate;
    * top-k per source is WindowGroupLimit-pruned. */
  def keywordsPerSource(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // output memoized per (session, dir, k) — sources×k rows; shared
    // by text_keywords and sql_keywords (each previously re-ran the
    // token explode + tf/df aggregations — the PageRank output-memo
    // billing policy)
    Materialize.memoized(spark,
        s"keywords_${k}_${Materialize.dirTag(spark, sfDir)}") {
    val perDoc = docs(spark, sfDir)
      .select(col("source"), col("doc_id"),
        explode(TextOps.tokens(TextOps.normText(col("text")))).as("term"))
      .groupBy(col("source"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val st = perDoc.groupBy(col("source"), col("term"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("docs_in_source"))
    val n = docs(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val byScore = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("term").asc)
    st.withColumn("df", sum(col("docs_in_source")).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      // each factor cast to double BEFORE multiplying: a long product
      // tf*n_docs overflows (an ANSI runtime error) at corpus scale;
      // the IEEE double product is the same correctly-rounded value the
      // exact integer product would round to, on both engines
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df"))
      .withColumn("rk", row_number().over(byScore))
      .where(col("rk") <= k)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("term"), col("tf"), col("df"), col("score"))
    }.orderBy(col("source").asc, col("rk").asc)
  }

  def keywordsPerSourceSql(k: Int = 5): String = {
    val norm = TextOps.normTextSql("text")
    s"""WITH toks AS (SELECT source, doc_id,
       |                     unnest(list_filter(string_split($norm, ' '), x -> x <> '')) AS term
       |              FROM documents),
       |tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term),
       |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (SELECT tf.source, tf.term, tf.tf, dfreq.df,
       |                  CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / dfreq.df AS score
       |           FROM tf JOIN dfreq ON tf.term = dfreq.term, n),
       |ranked AS (SELECT source, term, tf, df, score,
       |                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term ASC) AS rk
       |           FROM scored)
       |SELECT source, rk, term, tf, df, score
       |FROM ranked WHERE rk <= $k
       |ORDER BY source ASC, rk ASC""".stripMargin
  }

  /** [[keywordsPerSource]] with the document frequency SKETCHED instead
    * of exact: the per-term df becomes a [[graft.functions.KmvSketch]]
    * over the 60-bit hash of each doc id, so the df shuffle is bounded
    * at O(vocabulary × k) longs — the exact formulation's
    * `countDistinct(doc_id)` shuffles every distinct (term, doc) pair
    * through an Expand + two-exchange plan, which is TOKEN-scale work
    * at 100 TB. Rare terms (df < k) still get their exact count (KMV
    * returns the exact cardinality below its buffer size), so the tail
    * vocabulary — the part tf-idf actually selects — scores
    * identically; only saturated common terms get the ±1/√(k−2)
    * estimate. KMV over a fixed hash is deterministic, so even the
    * sketched scores have an exact oracle (the twin replays the k-th
    * smallest distinct hash estimator). */
  val KeywordDfK = 128

  def keywordsPerSourceKmv(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kmv = udaf(new graft.functions.KmvSketch(KeywordDfK))
    val toks = docs(spark, sfDir)
      .select(col("source"), col("doc_id"),
        explode(TextOps.tokens(TextOps.normText(col("text")))).as("term"))
    val tf = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val dfe = toks
      .select(col("term"), TextOps.hash60(col("doc_id").cast("string")).as("dh"))
      .groupBy(col("term")).agg(kmv(col("dh")).as("df_est"))
    val n = docs(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val byScore = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfe, "term").crossJoin(broadcast(n))
      // factors cast before multiplying — see keywordsPerSource
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df_est"))
      .withColumn("rk", row_number().over(byScore))
      .where(col("rk") <= k)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("term"), col("tf"), col("df_est"), col("score"))
      .orderBy(col("source").asc, col("rk").asc)
  }

  def keywordsPerSourceKmvSql(k: Int = 5): String = {
    val norm = TextOps.normTextSql("text")
    val kk = KeywordDfK
    val scale = s"${kk - 1}.0 * 1152921504606846976.0"
    s"""WITH toks AS (SELECT source, doc_id,
       |                     unnest(list_filter(string_split($norm, ' '), x -> x <> '')) AS term
       |              FROM documents),
       |tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term),
       |dh AS (SELECT DISTINCT term, ${TextOps.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h FROM toks),
       |r AS (SELECT term, h,
       |             ROW_NUMBER() OVER (PARTITION BY term ORDER BY h ASC) AS rn,
       |             COUNT(*) OVER (PARTITION BY term) AS nd
       |      FROM dh),
       |dfe AS (SELECT term,
       |               CASE WHEN MAX(nd) < $kk THEN CAST(MAX(nd) AS DOUBLE)
       |                    ELSE $scale / CAST(MAX(CASE WHEN rn = $kk THEN h END) AS DOUBLE) END AS df_est
       |        FROM r GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (SELECT tf.source, tf.term, tf.tf, dfe.df_est,
       |                  CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / dfe.df_est AS score
       |           FROM tf JOIN dfe ON tf.term = dfe.term, n),
       |ranked AS (SELECT source, term, tf, df_est, score,
       |                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term ASC) AS rk
       |           FROM scored)
       |SELECT source, rk, term, tf, df_est, score
       |FROM ranked WHERE rk <= $k
       |ORDER BY source ASC, rk ASC""".stripMargin
  }

  /** Document fingerprinting: a whole-document content hash over the
    * normalized text plus a min-shingle-hash (a 1-permutation MinHash) —
    * the cheap first-pass signature for corpus-level dedup bookkeeping. */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val docHash = TextOps.hash60(TextOps.normText(col("text")))
    // min over ALL window hashes == min over the distinct shingle set
    // the previous transform(shingles) form hashed (duplicates cannot
    // change a min), so the ngram_hash60 kernel serves this site too
    val minShingle = array_min(TextOps.ngramHash60(t, 3))
    docs(spark, sfDir)
      .select(col("doc_id"), docHash.as("doc_hash"),
        coalesce(minShingle, docHash).as("min_shingle_hash"))
      .orderBy(col("doc_id").asc)
  }

  val fingerprintsSql: String = {
    val norm = TextOps.normTextSql("text")
    val docHash = TextOps.hash60Sql(norm)
    val shingleList =
      """list_distinct(list_transform(range(0, greatest(len(t) - 2, 0)),
        | i -> concat_ws(' ', t[i+1], t[i+2], t[i+3])))""".stripMargin.replace("\n", "")
    s"""SELECT doc_id,
       |       $docHash AS doc_hash,
       |       COALESCE(list_min(list_transform($shingleList, s -> ${TextOps.hash60Sql("s")})), $docHash) AS min_shingle_hash
       |FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |      FROM documents)
       |ORDER BY doc_id ASC""".stripMargin
  }

  /** Cross-source redundancy matrix: exact shingle-set Jaccard between
    * every pair of sources — the number a mixture designer reads to
    * know whether two feeds are the same crawl in different wrappers
    * (deduplicate first) or genuinely disjoint (weight independently).
    *
    * Scale design — the inverted-index shape, never a doc×doc or
    * source×source data join:
    *  - The per-doc shingle-hash sets come from
    *    [[DedupOps.signatures]]' memoized checkpoint (the frame every
    *    MinHash query already reads), with the 8-byte doc_id joining
    *    back to `documents` for the source — the text→shingle→md5
    *    pipeline runs zero extra times.
    *  - ONE aggregation keyed by the 60-bit shingle hash builds the
    *    per-shingle source set (`collect_set` dedups in-agg, so the
    *    exploded (source, hash) rows need no separate distinct pass;
    *    map-side combine collapses each partition's duplicates first).
    *  - Pair counts come from exploding each shingle's ≤|sources| sorted
    *    source array into its (i<j) combinations — Σ k²/2 rows where k
    *    is bounded by the SOURCE count (tens), not by df, so a
    *    ubiquitous shingle costs k²/2 ≈ 200 rows, not df² ≈ 10^12. The
    *    combination explode is the hot-key guard.
    *  - Per-source set sizes reuse the SAME aggregated frame (explode +
    *    count), and join back by broadcast — sizes is |sources| rows.
    *  - The per-shingle frame is memoized/checkpointed: three subtrees
    *    consume it (pair counts + both size joins), and without the
    *    checkpoint each would re-run the explode→aggregate pipeline.
    *    Its size is the DISTINCT shingle vocabulary — corpus-sublinear —
    *    times a ≤|sources| array, safe to hold at any corpus size.
    * Output: one row per source pair sharing at least one shingle. */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val perShingle = Materialize.memoized(spark,
        s"source_overlap_sh_${Materialize.dirTag(spark, sfDir)}") {
      DedupOps.signatures(spark, sfDir, keepHs = true)
        .select(col("doc_id"), col("hs"))
        .join(docs(spark, sfDir).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), explode(col("hs")).as("h"))
        .groupBy(col("h")).agg(sort_array(collect_set(col("source"))).as("ss"))
    }
    // sources²-row output memo on top of the perShingle memo: the
    // combination explode + size joins previously re-ran for each of
    // source_overlap and sql_source_overlap
    Materialize.memoized(spark,
        s"source_overlap_out_${Materialize.dirTag(spark, sfDir)}") {
      val sizes = perShingle.select(explode(col("ss")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val combos = flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), y =>
          struct(x.as("src_a"), y.as("src_b")))))
      val inter = perShingle
        .select(explode(combos).as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
    }.orderBy(col("src_a").asc, col("src_b").asc)
  }

  /** Oracle twin: the same distinct (source, hash) relation, intersected
    * by a plain self-join — simpler than the combination explode and
    * independent of it, so a pairing bug cannot hide in both engines. */
  val sourceOverlapSql: String = {
    val shingleList = TextOps.shingleListSql("t", DedupOps.ShingleK)
    s"""WITH toks AS (SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |              FROM documents),
       |sh0 AS (SELECT source, unnest($shingleList) AS s FROM toks),
       |sh AS (SELECT DISTINCT source, ${TextOps.hash60Sql("s")} AS h FROM sh0),
       |sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
       |inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
       |          FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |          GROUP BY src_a, src_b)
       |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
       |       CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON src_a = sa.source
       |JOIN sizes sb ON src_b = sb.source
       |ORDER BY src_a ASC, src_b ASC""".stripMargin
  }

  /** Default induced vocabulary size for [[vocabInduction]] /
    * [[oovStats]] — runtime-settable via `spark.graft.vocab.size`
    * (oracle-pinned at the default, like topK). */
  val VocabSize: Int = graft.GraftConf.DefaultVocabSize

  /** Normalized corpus term rows — the shared base of the vocabulary
    * operators (one explode, text dropped immediately). */
  private def termRows(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(explode(TextOps.tokens(TextOps.normText(col("text")))).as("term"))

  /** The top-V terms by exact corpus frequency, unranked. Memoized per
    * (session, dir, V): four consumers (both vocab operators and their
    * SQL views) share one corpus explode+aggregation instead of paying
    * it each — the V-row result is all that is pinned. V is part of the
    * memo key so a runtime size override never serves a stale vocab. */
  private def topVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val v = graft.GraftConf.vocabSize(spark)
    Materialize.memoized(spark, s"vocab_${v}_${Materialize.dirTag(spark, sfDir)}") {
      termRows(spark, sfDir)
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(v)
    }
  }

  /** Tokenizer-vocabulary induction: the top-[[VocabSize]] corpus terms
    * by exact frequency, with rank and cumulative corpus coverage — the
    * first step of building a word-level tokenizer, and the dashboard
    * curve ("what fraction of the corpus does a V-term vocab cover?")
    * that sizes V.
    *
    * Scale: one explode and one (term)-keyed aggregation — the same
    * shuffles as the keyword extractor's df side; the global top-V is a
    * TakeOrderedAndProject (per-partition heads merged on the driver,
    * never a global sort), and the rank/cumulative-sum window runs on
    * the V surviving rows only, so its single-partition shape is
    * irrelevant at any corpus size. The corpus token total rides a
    * 1-row broadcast crossJoin. */
  def vocabInduction(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFreq = Window.orderBy(col("cnt").desc, col("term").asc)
    // token total as a map-side sum of per-doc sizes — no second explode
    val total = docs(spark, sfDir)
      .agg(sum(size(TextOps.tokens(TextOps.normText(col("text")))).cast("long"))
        .as("total_tokens"))
    topVocab(spark, sfDir).crossJoin(broadcast(total))
      .withColumn("rk", row_number().over(byFreq).cast("long"))
      .withColumn("cum_cnt",
        sum(col("cnt")).over(byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rk"), col("term"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("total_tokens").cast("double")).as("coverage"))
      .orderBy(col("rk").asc)
  }

  /** Shared oracle CTE chain: term rows → counts → frequency-ranked. */
  private def vocabSqlCtes: String = {
    val norm = TextOps.normTextSql("text")
    s"""toks AS (SELECT unnest(list_filter(string_split($norm, ' '), x -> x <> '')) AS term
       |         FROM documents),
       |vcounts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
       |vranked AS (SELECT term, cnt,
       |                   ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rk
       |            FROM vcounts)""".stripMargin
  }

  val vocabInductionSql: String =
    s"""WITH $vocabSqlCtes,
       |total AS (SELECT COUNT(*) AS total_tokens FROM toks)
       |SELECT rk, term, cnt,
       |       CAST(SUM(cnt) OVER (ORDER BY rk ASC
       |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt,
       |       CAST(SUM(cnt) OVER (ORDER BY rk ASC
       |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |         / CAST(total.total_tokens AS DOUBLE) AS coverage
       |FROM vranked, total
       |WHERE rk <= $VocabSize
       |ORDER BY rk ASC""".stripMargin

  /** The induced vocabulary as a driver-side term list — the
    * broadcast-sized artifact (V terms, V bounded by [[VocabSize]]) that
    * a streaming OOV monitor bakes into its per-row projection, the same
    * way the decontamination stream carries the eval hash set. Collect
    * is V rows off the memoized frame — never corpus-scale. */
  def vocabTerms(spark: SparkSession, sfDir: String): Seq[String] =
    topVocab(spark, sfDir).orderBy(col("cnt").desc, col("term").asc)
      .collect().map(_.getAs[String]("term")).toSeq

  /** Per-source out-of-vocabulary rate against the induced top-V vocab —
    * the fertility/coverage signal that tells a pipeline which sources a
    * fixed vocabulary serves badly (and when the tokenizer needs
    * retraining as the mixture shifts).
    *
    * Scale: the V-term vocab collapses to ONE array row and broadcasts
    * to the corpus scan, so per-document OOV counting is a map-side
    * array membership test (no explode, no join, the text column never
    * shuffles); what reaches the aggregation is (source, two longs) per
    * document. */
  def oovStats(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = topVocab(spark, sfDir).agg(collect_list(col("term")).as("vocab"))
    docs(spark, sfDir)
      .select(col("source"), TextOps.tokens(TextOps.normText(col("text"))).as("t"))
      .crossJoin(broadcast(vocab))
      .select(col("source"), size(col("t")).cast("long").as("n_tok"),
        size(filter(col("t"), tk => !array_contains(col("vocab"), tk)))
          .cast("long").as("n_oov"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_oov")).as("n_oov"))
      .withColumn("oov_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_oov").cast("double") / col("n_tokens").cast("double")))
      .orderBy(col("source").asc)
  }

  /** Oracle twin: the per-document membership test is re-expressed as an
    * exploded token relation with an IN-subquery — independent of the
    * Spark side's broadcast-array formulation. */
  val oovStatsSql: String = {
    val norm = TextOps.normTextSql("text")
    s"""WITH $vocabSqlCtes,
       |vtop AS (SELECT term FROM vranked WHERE rk <= $VocabSize),
       |d AS (SELECT source, doc_id,
       |             list_filter(string_split($norm, ' '), x -> x <> '') AS t
       |      FROM documents),
       |tok2 AS (SELECT source, unnest(t) AS term FROM d),
       |flags AS (SELECT source,
       |                 CASE WHEN term IN (SELECT term FROM vtop) THEN 0 ELSE 1 END AS oov
       |          FROM tok2),
       |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |               CAST(SUM(oov) AS BIGINT) AS n_oov
       |        FROM flags GROUP BY source),
       |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
       |SELECT nd.source, nd.n_docs,
       |       coalesce(agg.n_tokens, 0) AS n_tokens,
       |       coalesce(agg.n_oov, 0) AS n_oov,
       |       CASE WHEN coalesce(agg.n_tokens, 0) = 0 THEN 0.0
       |            ELSE CAST(agg.n_oov AS DOUBLE) / CAST(agg.n_tokens AS DOUBLE) END AS oov_frac
       |FROM nd LEFT JOIN agg ON nd.source = agg.source
       |ORDER BY nd.source ASC""".stripMargin
  }
}
