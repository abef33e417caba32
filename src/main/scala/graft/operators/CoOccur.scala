package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Skip-gram co-occurrence extraction over `documents` — the
  * word2vec-style (center, context) training-pair generator a
  * large-scale embedding pipeline runs ahead of model training
  * (Mikolov et al., NeurIPS'13), plus a PMI-association scoring of the
  * extracted pairs (the count-based association measure behind
  * PPMI-SVD embeddings, Levy & Goldberg, NeurIPS'14).
  *
  * Pinned pair semantics (identical on both engines): tokens are the
  * canonical whitespace split ([[TextOps.tokens]]); a pair is emitted
  * for every (position i, position j) with 1 <= j - i <= [[Window]]
  * within one document — forward-directional, so the symmetric
  * window variant is recoverable as c(a,b) + c(b,a) without
  * re-scanning the corpus.
  *
  * Scale shape: pair GENERATION is per-row array work inside
  * whole-stage codegen — `transform`/`slice`/`flatten` over the token
  * array, O(len * W) structs per document, no self-join on position
  * and no explode of raw token positions (an n-token corpus explodes
  * to n * W pair rows exactly once, into a hash aggregate). The only
  * exchange is the final groupBy on (center, context), whose key space
  * is vocabulary-bounded (min(n * W, V^2) rows) — at 100 TB the
  * aggregate runs partial map-side per the usual two-phase
  * HashAggregate, so the shuffle carries the COMBINED per-partition
  * pair counts, not the raw pairs. PMI adds two vocabulary-sized
  * marginal aggregates and one 1-row total broadcast on top.
  */
object CoOccur {

  /** One-sided skip-gram window: context positions i+1 .. i+Window. */
  val Window = 3

  /** Pairs below this corpus count are dropped from the PMI surface
    * (the standard min-count guard — rare-pair PMI is noise). */
  val PmiMinCount = 5

  private def tokensCol: Column = TextOps.tokens(col("text"))

  /** Per-document forward pair structs — the native
    * [[graft.functions.SkipgramPairs]] kernel. The previous
    * `flatten(transform(sequence(1, n), i -> transform(slice(toks,
    * i+1, W), x -> struct(toks[i], x))))` form was built from
    * CodegenFallback higher-order functions: every document paid an
    * interpreted boxed lambda eval per position plus a sequence array,
    * a slice copy and a flatten copy — the allocation source behind
    * the 32-core GC pathology the r16 driver bench measured
    * (`skipgram_pairs` 6.1 s at 32 cores vs 1.3 s at 8). The kernel
    * emits the identical pair array (center position ascending,
    * context offset ascending; < 2 tokens ⇒ empty) in one generated
    * loop. Falls back to the HOF form only when no session is active
    * (value-identical either way, spec-pinned). */
  private def pairStructs(toks: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(sp) =>
        graft.functions.HashKernels.register(sp)
        call_function("skipgram_pairs", toks, lit(Window))
      case None =>
        when(size(toks) >= 2,
          flatten(transform(sequence(lit(1), size(toks)), i =>
            transform(slice(toks, i + 1, lit(Window)), x =>
              struct(element_at(toks, i).as("center"), x.as("context"))))))
          .otherwise(array().cast("array<struct<center:string,context:string>>"))
    }

  /** Spec hook: the per-document pair generator over a text column. */
  private[graft] def testPairStructs(text: Column): Column =
    pairStructs(TextOps.tokens(text))

  /** (center, context, cnt): corpus-wide forward skip-gram pair counts,
    * ordered by (center, context). */
  def skipgramPairs(spark: SparkSession, sfDir: String): DataFrame =
    pairCounts(spark, sfDir)
      .orderBy(col("center").asc, col("context").asc)

  /** The (center, context, cnt) pair-count frame, memoized per
    * (session, dir) — three surfaces consume it (`skipgram_pairs`,
    * `skipgram_pmi`, the `graft_skipgrams` view behind
    * `sql_skipgrams`), and without the memo each rebuilt the corpus
    * aggregate from scratch (the largest single family cost in the r13
    * bench, ~20 s for three identical scans at sf0.1). The frame is
    * vocabulary-bounded (min(n·W, V²) rows) and training-free, so the
    * memo is exact — the converged-PageRank pattern
    * ([[GraphRank.pagerank]]) verbatim. */
  private[graft] def pairCounts(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.memoized(spark,
        s"skipgram_pairs_${Window}_${Materialize.dirTag(spark, sfDir)}") {
      Tables.documentsBalanced(spark, sfDir)
        .where(col("text").isNotNull)
        .select(explode(pairStructs(tokensCol)).as("p"))
        .groupBy(col("p.center").as("center"), col("p.context").as("context"))
        .agg(count(lit(1)).as("cnt"))
    }

  /** (center, context, cnt, pmi_ratio) for pairs with cnt >=
    * [[PmiMinCount]], ordered by pmi_ratio desc (center, context
    * tiebreak). `pmi_ratio` is the exact odds ratio
    * `cnt * total / (center_marginal * context_marginal)` — the PMI
    * argument BEFORE the log, emitted instead of PMI itself because a
    * single IEEE division of two exact int64 products is bit-pinned
    * across engines while `ln` is not (the same discipline that keeps
    * NDCG's log discount off the recall surface). Monotone in PMI, so
    * ranking and thresholding behave identically. The int64 products
    * are exact while total * cnt < 2^63 — at a 10^12-pair corpus that
    * bounds cnt < ~9.2 * 10^6 for scored pairs; a corpus past that
    * moves the product to decimal(38,0), same plan shape. */
  def skipgramPmi(spark: SparkSession, sfDir: String): DataFrame = {
    // pairCounts is already a memoized checkpoint — the diamond (three
    // marginal subtrees) reads the materialized frame directly
    val pairs = pairCounts(spark, sfDir)
    val centerM = pairs.groupBy(col("center")).agg(sum(col("cnt")).as("c_m"))
    val contextM = pairs.groupBy(col("context")).agg(sum(col("cnt")).as("x_m"))
    val total = pairs.agg(sum(col("cnt")).as("tot"))
    pairs
      .join(centerM, Seq("center"))
      .join(contextM, Seq("context"))
      .crossJoin(broadcast(total))
      .where(col("cnt") >= PmiMinCount)
      .select(col("center"), col("context"), col("cnt"),
        ((col("cnt") * col("tot")).cast("double") /
          (col("c_m") * col("x_m")).cast("double")).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("center").asc, col("context").asc)
  }

  private def pairsCte: String =
    s"""t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |      FROM documents WHERE text IS NOT NULL),
       |u AS (SELECT doc_id, i.i AS pos, toks[i.i] AS tok
       |      FROM t, unnest(range(1, len(toks) + 1)) AS i(i)),
       |pairs AS (SELECT a.tok AS center, b.tok AS context,
       |                 CAST(COUNT(*) AS BIGINT) AS cnt
       |          FROM u a JOIN u b
       |            ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND $Window
       |          GROUP BY 1, 2)""".stripMargin

  /** [[skipgramPairs]]'s oracle: position self-join (the oracle may be
    * quadratic-ish in document length; the engine side is not). */
  def skipgramPairsSql(): String =
    s"""WITH $pairsCte
       |SELECT center, context, cnt FROM pairs
       |ORDER BY center ASC, context ASC""".stripMargin

  /** [[skipgramPmi]]'s oracle: identical marginals and the identical
    * single-division ratio over exact BIGINT products. */
  def skipgramPmiSql(): String =
    s"""WITH $pairsCte,
       |cm AS (SELECT center, SUM(cnt) AS c_m FROM pairs GROUP BY center),
       |xm AS (SELECT context, SUM(cnt) AS x_m FROM pairs GROUP BY context),
       |tot AS (SELECT SUM(cnt) AS tot FROM pairs)
       |SELECT p.center, p.context, p.cnt,
       |       CAST(p.cnt * CAST(tot.tot AS BIGINT) AS DOUBLE) /
       |       CAST(CAST(cm.c_m AS BIGINT) * CAST(xm.x_m AS BIGINT) AS DOUBLE) AS pmi_ratio
       |FROM pairs p
       |JOIN cm ON cm.center = p.center
       |JOIN xm ON xm.context = p.context, tot
       |WHERE p.cnt >= $PmiMinCount
       |ORDER BY pmi_ratio DESC, p.center ASC, p.context ASC""".stripMargin
}
