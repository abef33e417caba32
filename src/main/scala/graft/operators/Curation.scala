package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** End-to-end corpus curation: the query a training-data pipeline
  * actually runs to cut a raw crawl down to a training manifest —
  * composed ENTIRELY from the library's own operators, as one
  * oracle-verified plan:
  *
  *   1. exact-dedup canonicalization ([[DedupOps.dedupExact]] — keep
  *      the smallest doc_id per 120-bit content hash),
  *   2. quality gate ([[TextAnalysis.qualityScore]] ≥ [[QualityMin]]),
  *   3. language allowlist,
  *   4. deterministic per-source stratified downsampling to
  *      ~[[TargetPerSource]] docs: keep a doc when
  *      `hash60(doc_id) % c_source < target`, where c_source is the
  *      source's surviving-doc count. Hash-modulo selection is a pure
  *      function of the data (no rand(), no row order), so the sample
  *      is reproducible across partitionings, engines, and reruns —
  *      and when a source has at most `target` survivors the modulo is
  *      always below the bound, so small sources are kept whole.
  *
  * Scale shape: every join is doc-scale on 8-byte keys with the text
  * column dropped before the first shuffle; the per-source count table
  * is sources-sized and broadcast back. The survivor frame feeds BOTH
  * the count aggregation and the final filter, so it is eagerly
  * checkpointed like the dedup signature diamonds (concurrent
  * consumers must not recompute the dedup+quality pipeline). */
object Curation {

  val QualityMin = 0.5
  val LangAllow: Seq[String] = Seq("de", "en", "es", "fr")
  val TargetPerSource = 100L

  def corpusManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val keep = DedupOps.dedupExact(spark, sfDir)
      .select(col("keep_doc_id").as("doc_id"))
    val quality = TextAnalysis.qualityScore(spark, sfDir)
    val survivors = Materialize.memoized(spark,
        s"manifest_survivors_${Materialize.dirTag(spark, sfDir)}") {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("lang"))
        .join(keep, "doc_id")
        .join(quality, "doc_id")
        .where(col("lang").isin(LangAllow.map(l => l: Any): _*) &&
          col("quality") >= QualityMin)
    }
    val counts = survivors.groupBy(col("source")).agg(count(lit(1)).as("c_s"))
    survivors.join(broadcast(counts), "source")
      .where(TextOps.hash60(col("doc_id").cast("string")) % col("c_s") < TargetPerSource)
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"), col("quality"))
      .orderBy(col("doc_id").asc)
  }

  /** Target data-mixture weights per language — the knob a pretraining
    * recipe actually turns. Deliberately not uniform, so the sampling
    * math is exercised. */
  val MixtureWeights: Seq[(String, Double)] = Seq(
    "en" -> 0.40, "de" -> 0.20, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.10)
  val MixtureTotal = 2000L

  /** Per-language document targets, resolved to exact longs at plan
    * build time (no float arithmetic reaches either engine). */
  def mixtureTargets: Seq[(String, Long)] =
    MixtureWeights.map { case (l, w) => (l, math.round(w * MixtureTotal)) }

  /** Weighted mixture sampling — pick ~target docs per language from
    * whatever is available, deterministically: doc selected iff
    * `hash60(doc_id) % available_l < target_l` (kept whole when the
    * language has at most its target). The same hash-modulo rule as
    * [[corpusManifest]]'s per-source downsampling, generalized to
    * weighted targets; output is the per-language mixture report
    * (selected vs available vs target). One count aggregation, one
    * broadcast join back — the corpus shuffles its 8-byte keys once. */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    val targetCol = mixtureTargets
      .foldLeft(lit(0L)) { case (acc, (l, t)) => when(col("lang") === l, lit(t)).otherwise(acc) }
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        TextOps.hash60(col("doc_id").cast("string")).as("hm"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("available"))
    // conditional count, not filter-then-count: a zero-target (or
    // zero-selected) language still reports a row — see
    // [[temperatureMixture]]'s completeness note
    d.join(broadcast(counts), "lang")
      .withColumn("target_docs", targetCol)
      .groupBy(col("lang"))
      .agg(count(when(col("hm") % col("available") < col("target_docs"), 1)).as("n_selected"),
        max(col("available")).as("available"),
        max(col("target_docs")).as("target_docs"))
      .orderBy(col("lang").asc)
  }

  val mixtureSampleSql: String = {
    val caseSql = "CASE d.lang " + mixtureTargets
      .map { case (l, t) => s"WHEN '$l' THEN CAST($t AS BIGINT)" }
      .mkString(" ") + " ELSE CAST(0 AS BIGINT) END"
    s"""WITH d AS (SELECT doc_id, lang,
       |                  ${TextOps.hash60Sql("CAST(doc_id AS VARCHAR)")} AS hm
       |           FROM documents),
       |c AS (SELECT lang, COUNT(*) AS available FROM d GROUP BY lang)
       |SELECT d.lang,
       |       COUNT(CASE WHEN d.hm % c.available < $caseSql THEN 1 END) AS n_selected,
       |       MAX(c.available) AS available,
       |       MAX($caseSql) AS target_docs
       |FROM d JOIN c ON d.lang = c.lang
       |GROUP BY d.lang
       |ORDER BY d.lang ASC""".stripMargin
  }

  /** The per-document curation gate (quality ≥ [[QualityMin]], language
    * allowlist) over an explicit snapshot frame — the pure, per-row
    * half of [[corpusManifest]], which is exactly the part that can be
    * maintained incrementally. */
  private def gateOf(snapshot: DataFrame): DataFrame = {
    val (nTokens, quality) = TextAnalysis.qualityCols(col("text"))
    snapshot.select(col("doc_id"), col("source"), col("lang"),
        nTokens.as("n_tokens"), quality.as("quality"))
      .where(col("lang").isin(LangAllow.map(l => l: Any): _*) &&
        col("quality") >= QualityMin)
  }

  /** INCREMENTAL curation manifest — maintain the gated manifest across
    * a snapshot upgrade by scoring ONLY the delta: carried-over rows are
    * v1-manifest rows whose documents survived unchanged (one anti-join
    * on the diff's removed ∪ changed ids), and only added/changed
    * documents run the quality gate. At 100 TB this is the difference
    * between re-scoring the corpus and re-scoring a day's crawl; it is
    * sound because the gate is a pure per-document function of the RAW
    * text, so a document's verdict cannot change unless its raw text
    * did — which is why the diff here hashes RAW text
    * (`diffOf(..., normalizeText = false)`): the normalized diff that
    * serves dedup would wave a case-or-punctuation-only revision
    * through as "unchanged" while punct_n and the token split moved.
    *
    * In production the v1 manifest is READ BACK from storage (slim
    * gated rows, no text); the fixture recomputes it from the simulated
    * v1 snapshot because nothing is persisted between queries. The
    * oracle is the FULL recompute over v2 — any carry-over error
    * (a changed doc served from the stale manifest, a removed doc
    * surviving, a delta doc double-counted) hash-mismatches. */
  def incrementalManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val diff = Versioning.diffOf(Versioning.v1Of(spark, sfDir),
      Versioning.v2Of(spark, sfDir), normalizeText = false)
    val touched = diff.where(col("status").isin("added", "changed"))
      .select(col("doc_id"))
    val gone = diff.where(col("status").isin("removed", "changed"))
      .select(col("doc_id"))
    gateOf(Versioning.v1Of(spark, sfDir))
      .join(gone, Seq("doc_id"), "left_anti")
      .unionByName(gateOf(Versioning.v2Of(spark, sfDir).join(touched, "doc_id")))
      .orderBy(col("doc_id").asc)
  }

  /** Oracle: the full v2 recompute the incremental path must equal,
    * reusing the SAME quality formula text via
    * [[TextAnalysis.qualityScoreSqlFrom]]. */
  val incrementalManifestSql: String = {
    val langs = LangAllow.map(l => s"'$l'").mkString(", ")
    s"""WITH v2 AS (${Versioning.v2Sql}),
       |q AS (${TextAnalysis.qualityScoreSqlFrom("v2")})
       |SELECT q.doc_id, v2.source, v2.lang, q.n_tokens, q.quality
       |FROM q JOIN v2 ON q.doc_id = v2.doc_id
       |WHERE v2.lang IN ($langs) AND q.quality >= $QualityMin
       |ORDER BY q.doc_id ASC""".stripMargin
  }

  /** Fixed-point scale for the temperature weights: s_l =
    * floor(sqrt(available_l · 10^6)) keeps the α = 0.5 arithmetic in
    * exact integers end to end (IEEE sqrt is correctly rounded, so the
    * one double op is bit-identical on both engines; everything before
    * and after is BIGINT). */
  val TemperatureScale = 1000000L

  /** Temperature-scaled mixture sampling (α = 0.5) — the standard
    * multilingual re-balancing rule: language targets proportional to
    * available_l^α rather than available_l, up-weighting small languages
    * without letting the head language drown them (the mBERT/XLM-R
    * exponent-sampling recipe). target_l = ⌊T · s_l / Σ s_l⌋ with
    * s_l = ⌊sqrt(available_l · 10^6)⌋, then the same deterministic
    * hash-modulo document selection as [[mixtureSample]].
    *
    * All-integer allocation: no cross-language float normalization ever
    * happens (a Σ of doubles would make the result depend on summation
    * order and diverge between engines); truncation means Σ target ≤ T
    * by at most |langs| documents. Scale shape is [[mixtureSample]]'s:
    * one count aggregation, one languages-sized broadcast join back —
    * the corpus shuffles its 8-byte keys once. */
  def temperatureMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        TextOps.hash60(col("doc_id").cast("string")).as("hm"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("available"))
      .withColumn("s",
        floor(sqrt((col("available") * TemperatureScale).cast("double"))).cast("long"))
    val stot = counts.agg(sum(col("s")).as("s_tot"))
    val targets = counts.crossJoin(broadcast(stot))
      .withColumn("target_docs", expr(s"($MixtureTotal * s) DIV s_tot"))
      .select(col("lang"), col("available"), col("target_docs"))
    // conditional count instead of filter-then-count: a language whose
    // truncated target selects zero documents still gets its report row
    // (n_selected = 0) — consumers read the mixture report as complete
    // over every available language, and a silent absence reads as
    // "language missing from the corpus", a different fact
    d.join(broadcast(targets), "lang")
      .groupBy(col("lang"))
      .agg(count(when(col("hm") % col("available") < col("target_docs"), 1)).as("n_selected"),
        max(col("available")).as("available"),
        max(col("target_docs")).as("target_docs"))
      .orderBy(col("lang").asc)
  }

  val temperatureMixtureSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |                  ${TextOps.hash60Sql("CAST(doc_id AS VARCHAR)")} AS hm
       |           FROM documents),
       |c AS (SELECT lang, COUNT(*) AS available FROM d GROUP BY lang),
       |s AS (SELECT lang, available,
       |             CAST(floor(sqrt(CAST(available * $TemperatureScale AS DOUBLE))) AS BIGINT) AS s
       |      FROM c),
       |t AS (SELECT lang, available,
       |             CAST(($MixtureTotal * s) // (SELECT SUM(s) FROM s) AS BIGINT) AS target_docs
       |      FROM s)
       |SELECT d.lang,
       |       COUNT(CASE WHEN d.hm % t.available < t.target_docs THEN 1 END) AS n_selected,
       |       MAX(t.available) AS available,
       |       MAX(t.target_docs) AS target_docs
       |FROM d JOIN t ON d.lang = t.lang
       |GROUP BY d.lang
       |ORDER BY d.lang ASC""".stripMargin

  /** Token budget an epoch plan allocates across languages. */
  val EpochBudgetTokens = 1000000L

  /** Epoch/repeat planning — the mixing config a training run consumes:
    * per language, the whitespace-token supply, the temperature-weighted
    * token target out of [[EpochBudgetTokens]], and the repeat factor
    * (×1000, integer-ceiling) a data loader applies to hit that target.
    * repeat > 1000 means the language is oversampled (epochs > 1 over
    * its data), the standard low-resource-upsampling readout.
    *
    * All-integer discipline end-to-end ([[temperatureMixture]]'s): the
    * sqrt temperature weight is one IEEE sqrt of an integer (correctly
    * rounded on both engines), targets allocate by integer division, and
    * the ceiling is (1000·target + supply − 1) DIV supply — no float
    * ratio ever crosses engines. Scale shape: one token-count
    * aggregation over the corpus (the only corpus-sized work), then
    * languages-sized arithmetic. */
  def epochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .where(col("text").isNotNull)
      .select(col("lang"), size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tok")).as("available_tokens"))
      .withColumn("s",
        floor(sqrt((col("available_tokens") * TemperatureScale).cast("double"))).cast("long"))
    val stot = toks.agg(sum(col("s")).as("s_tot"))
    toks.crossJoin(broadcast(stot))
      .withColumn("target_tokens", expr(s"($EpochBudgetTokens * s) DIV s_tot"))
      // a language can have docs whose text is non-null but zero-token
      // (all whitespace): available_tokens = 0 there, and an unguarded
      // integer DIV diverges across engines (Spark non-ANSI DIV → NULL,
      // DuckDB // 0 → error) — nothing to repeat means repeat 0
      .withColumn("repeat_x1000",
        expr("CASE WHEN available_tokens > 0 THEN " +
          "(1000 * target_tokens + available_tokens - 1) DIV available_tokens " +
          "ELSE CAST(0 AS BIGINT) END"))
      .select(col("lang"), col("available_tokens"),
        col("target_tokens"), col("repeat_x1000"))
      .orderBy(col("lang").asc)
  }

  val epochPlanSql: String =
    s"""WITH toks AS (
       |  SELECT lang,
       |         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
       |           AS available_tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY lang),
       |s AS (SELECT lang, available_tokens,
       |             CAST(floor(sqrt(CAST(available_tokens * $TemperatureScale AS DOUBLE))) AS BIGINT) AS s
       |      FROM toks),
       |t AS (SELECT lang, available_tokens,
       |             CAST(($EpochBudgetTokens * s) // (SELECT SUM(s) FROM s) AS BIGINT) AS target_tokens
       |      FROM s)
       |SELECT lang, available_tokens, target_tokens,
       |       CAST(CASE WHEN available_tokens > 0
       |                 THEN (1000 * target_tokens + available_tokens - 1) // available_tokens
       |                 ELSE 0 END AS BIGINT)
       |         AS repeat_x1000
       |FROM t
       |ORDER BY lang ASC""".stripMargin

  /** The oracle composes the SAME sub-oracles ([[DedupOps.dedupExactSql]],
    * [[TextAnalysis.qualityScoreSql]]) as CTEs — operator reuse on both
    * engines. */
  val corpusManifestSql: String = {
    val langs = LangAllow.map(l => s"'$l'").mkString(", ")
    s"""WITH keep AS (${DedupOps.dedupExactSql}),
       |q AS (${TextAnalysis.qualityScoreSql}),
       |d AS (SELECT dd.doc_id, dd.source, dd.lang, q.n_tokens, q.quality
       |      FROM documents dd
       |      JOIN keep ON dd.doc_id = keep.keep_doc_id
       |      JOIN q ON dd.doc_id = q.doc_id
       |      WHERE dd.lang IN ($langs) AND q.quality >= $QualityMin),
       |c AS (SELECT source, COUNT(*) AS c_s FROM d GROUP BY source)
       |SELECT d.doc_id, d.source, d.lang, d.n_tokens, d.quality
       |FROM d JOIN c ON d.source = c.source
       |WHERE ${TextOps.hash60Sql("CAST(d.doc_id AS VARCHAR)")} % c.c_s < $TargetPerSource
       |ORDER BY d.doc_id ASC""".stripMargin
  }
}
