package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Eval-set decontamination — the overlap check every training
  * pipeline runs before release: find corpus documents sharing enough
  * rare word-shingles with a held-out evaluation set that they would
  * leak benchmark content into training. Here the held-out set is the
  * [[EvalSource]] slice of the documents table; output is every
  * (corpus doc, eval doc) pair sharing at least [[MinShared]] rare
  * shingles, with the count as evidence.
  *
  * Scale design — the eval set is SMALL by definition (a benchmark
  * suite), and the plan leans on that: the eval shingle-hash set
  * broadcasts to the corpus scan as a map-side semi-join, so of the
  * corpus's ~10^13 shingles only the eval-matched handful ever reach a
  * shuffle; the full corpus is never shuffled, sorted, or
  * distinct-aggregated. Shingle rarity (df ≤ [[MaxShingleDf]] across
  * eval + matched corpus docs — identical to corpus-wide df for these
  * shingles, since only eval-matched shingles can produce pairs) is
  * judged on that matched subset, dropping common phrases that carry
  * no contamination signal but dominate join fan-out — the same
  * hot-key discipline as the LSH bucket caps. Shingles are built with
  * the scalar codegen path (explode an index range + element_at over a
  * MATERIALIZED token array) — inlining `tokens(text)` into array
  * lambdas makes Catalyst re-evaluate the tokenizer per element
  * (measured 4× on this query). Per-doc shingles are distinct (set
  * semantics), so the shared count is exact |A∩B| over rare shingles.
  *
  * For an eval set too large to broadcast, set
  * `spark.graft.decontamination.broadcastEval=false`: the hints are
  * dropped and AQE picks the join sides (typically a shuffled hash
  * join on `h`, still shipping only matched shingles downstream).
  * Result-identical — the flag changes plan shape only. */
object Decontamination {

  val EvalSource = "src0"
  val ShingleK = 3
  /** Shingles in more documents than this are too common to signal
    * contamination — and are exactly the hot join keys. */
  val MaxShingleDf = 10
  val MinShared = 3

  /** (doc_id, shingle-hash) rows WITH within-doc duplicates, via the
    * native [[graft.functions.NgramHash60]] kernel — one array pass
    * per doc, window bytes fed straight to the digest (no per-window
    * concat string, no index explode, no hex round-trip;
    * value-identical, spec-pinned). */
  private def shingleRowsRaw(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(TextOps.ngramHash60(col("t"), ShingleK)).as("h"))

  /** Distinct (doc_id, shingle-hash) rows — per-doc shingle SETS, the
    * frame the overlap counting is defined over. */
  private[graft] def shingleRows(docs: DataFrame): DataFrame =
    shingleRowsRaw(docs).distinct()

  def evalOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // Broadcastable-eval fast path on by default; bc is identity under
    // spark.graft.decontamination.broadcastEval=false (big eval sets).
    val useBc = graft.GraftConf.deconBroadcastEval(spark)
    val bc: DataFrame => DataFrame = if (useBc) broadcast else identity
    val docs = Tables.documents(spark, sfDir)
    val evalSh = Materialize.memoized(spark, s"evalsh_${Materialize.dirTag(spark, sfDir)}") {
      shingleRows(docs.where(col("source") === EvalSource))
    }
    val evalHashes = evalSh.select(col("h")).distinct()
    // the memoized frame bakes its join plan in, so the broadcast flag
    // is part of the key — flipping it mid-session must not serve the
    // other variant's checkpoint
    val corpusMatched = Materialize.memoized(spark,
        s"corpussh_${if (useBc) "b" else "s"}_${Materialize.dirTag(spark, sfDir)}") {
      // distinct AFTER the broadcast semi-join, not before: the two
      // commute exactly (the join on h against a DISTINCT eval-hash
      // set is a pure filter, and dedup-then-filter == filter-then-
      // dedup), but distinct-first was a corpus-wide exchange of EVERY
      // (doc, shingle) pair — the one shuffle this operator's scale
      // design promises never happens. Now only eval-matched rows
      // reach the exchange (guide §2.4).
      shingleRowsRaw(docs.where(col("source") =!= EvalSource))
        .join(bc(evalHashes), "h")
        .select(col("doc_id").as("corpus_doc"), col("h"))
        .distinct()
    }
    overlapFromMatched(corpusMatched, evalSh, bc)
  }

  /** The periodic-batch TAIL over stored matched rows — rarity judged
    * on the matched subset, pair counting, threshold. Split out so a
    * crawl pipeline can land matched (corpus_doc, h) rows continuously
    * ([[graft.streaming.DocStream.contaminationStream]]) and run only
    * this aggregation periodically, never re-reading corpus text. */
  private[graft] def overlapFromMatched(corpusMatched: DataFrame, evalSh: DataFrame,
                                        bc: DataFrame => DataFrame): DataFrame = {
    val rare = evalSh.select(col("h"))
      .unionByName(corpusMatched.select(col("h")))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxShingleDf)
      .select(col("h"))
    corpusMatched
      .join(bc(rare), "h")
      .join(bc(evalSh.select(col("doc_id").as("eval_doc"), col("h"))), "h")
      .groupBy(col("corpus_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinShared)
      .orderBy(col("corpus_doc").asc, col("eval_doc").asc)
  }

  val evalOverlapSql: String = {
    val shingleList =
      s"""list_distinct(list_transform(range(0, greatest(len(t) - ${ShingleK - 1}, 0)),
         | i -> concat_ws(' ', ${(1 to ShingleK).map(j => s"t[i+$j]").mkString(", ")})))""".stripMargin.replace("\n", "")
    s"""WITH toks AS (SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |              FROM documents),
       |sh AS (SELECT doc_id, source, unnest($shingleList) AS s FROM toks),
       |h AS (SELECT DISTINCT doc_id, source, ${TextOps.hash60Sql("s")} AS h FROM sh),
       |f AS (SELECT doc_id, source, h FROM h
       |      QUALIFY COUNT(*) OVER (PARTITION BY h) <= $MaxShingleDf),
       |e AS (SELECT doc_id AS eval_doc, h FROM f WHERE source = '$EvalSource'),
       |c AS (SELECT doc_id AS corpus_doc, h FROM f WHERE source <> '$EvalSource')
       |SELECT c.corpus_doc, e.eval_doc, COUNT(*) AS n_shared
       |FROM c JOIN e ON c.h = e.h
       |GROUP BY c.corpus_doc, e.eval_doc
       |HAVING COUNT(*) >= $MinShared
       |ORDER BY corpus_doc ASC, eval_doc ASC""".stripMargin
  }
}
