package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumns.{column, expression}
import graft.functions.{EditWithin1, FilterIn, TermFreqs, TextOps}
import graft.sources.Tables

/** Retrieval and entity-resolution operators for a training-data
  * pipeline: BM25 ranked keyword search over the `documents` corpus and
  * an edit-distance fuzzy join with SymSpell-style delete-neighborhood
  * blocking.
  *
  * Scale design:
  *  - BM25 is ONE corpus scan: document length and the query-term
  *    postings both come out of the same tokenization pass; only tokens
  *    matching the (tiny, literal) query survive the explode, so the
  *    token-scale shuffle is |postings of the query terms|, not corpus
  *    tokens. df and the corpus stats are 1-row/term aggregates joined
  *    back by broadcast. No self-join, no window over the corpus.
  *  - The fuzzy join never goes quadratic: each distinct key of length
  *    L expands to L+1 delete-1 variants, candidate pairs come from an
  *    equality join on the variant (complete for edit distance <= 1 —
  *    a substitution at i makes both i-deletions equal; an insertion
  *    makes one side's deletion equal the other side verbatim), and
  *    `levenshtein` verifies survivors. Work is O(total key bytes) to
  *    block plus O(candidates) to verify — the reason this applies to
  *    KEYS (names, titles, URLs), not document bodies.
  */
object Retrieval {

  /** The pinned retrieval query. A handful of literal terms — the
    * oracle SQL bakes the same list, so it is NOT conf-driven (the
    * Verify knob guard pattern). */
  val Bm25Terms: Seq[String] = Seq("join", "window", "scan")

  /** The pinned query BATCH for the multi-query surface — real
    * retrieval serves a queries table, not one query. Query 1 is the
    * original pinned query (its multi-path scores are bit-identical
    * to [[bm25TopK]]'s — spec-pinned). Like [[Bm25Terms]], the batch
    * is literal on both engines. */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Bm25Terms,
    2L -> Seq("hash", "merge", "sort"),
    3L -> Seq("stream", "batch", "filter", "group"))

  /** Union of every query's terms, first-appearance order — the
    * column set of the multi-query per-doc projection. */
  private[graft] val Bm25AllTerms: Seq[String] =
    Bm25Queries.flatMap(_._2).distinct

  // The single-query scorers read tf0..tf{|Bm25Terms|-1} of the
  // memoized ALL-terms projection — valid only while Bm25Terms is a
  // first-appearance PREFIX of Bm25AllTerms. Reordering Bm25Queries or
  // editing query 1 would otherwise silently shift which terms the
  // single-query path scores (r16 ADVICE).
  require(Bm25AllTerms.take(Bm25Terms.size) == Bm25Terms,
    "Bm25Terms must prefix Bm25AllTerms (single-query scorers read tf0..tf2 of the all-terms frame)")

  /** BM25 parameters. k1 is deliberately 1.5 (not the also-classic
    * 1.2): every constant in the scoring tree — 1.5, 2.5, 0.75, 0.25,
    * 0.5 — is exactly representable in binary64, so the Spark
    * expression and the DuckDB oracle evaluate the identical IEEE
    * operation sequence and the scores hash-match bitwise. */
  val Bm25K1 = 1.5
  val Bm25B = 0.75
  val Bm25TopK = 10

  /** BM25 top-K with RATIONAL idf: score_t = tfnorm_t * idf_t with
    * idf_t = (N - df_t + 0.5) / (df_t + 0.5) — the classic
    * Robertson–Spärck Jones odds WITHOUT the logarithm. ln is not
    * guaranteed correctly rounded (Java Math.log and DuckDB's libm may
    * differ in the last ulp), so like keywordsPerSource this engine's
    * scoring stays inside +,-,*,/ where IEEE 754 mandates exact
    * rounding and the two engines agree bitwise. The log damps idf
    * monotonically, so single-term rankings are identical; for
    * multi-term queries this is the documented scoring variant.
    *
    * Per-doc summation over matched terms is the one place float
    * ORDER could diverge between engines, so the sum is a fixed-order
    * fold: one `sum(CASE term)` column per query term (each sums at
    * most ONE value — no reorder possible), then a left-associated
    * `coalesce(c0,0)+coalesce(c1,0)+...` identical in both dialects. */
  /** Per-doc projection shared by the batch operator and the streaming
    * scorer: doc_id, dl (token count), and one tf column per query
    * term — each computed per-row via `size(filter(toks, == term))`
    * inside whole-stage codegen, so there is no explode and no
    * token-scale shuffle anywhere. */
  private[graft] def bm25PerDoc(docs: DataFrame): DataFrame =
    bm25PerDocFor(docs, Bm25Terms)

  private[graft] def bm25PerDocFor(docs: DataFrame, terms: Seq[String]): DataFrame = {
    // per-term counts via the native term_freqs kernel: ONE pass over
    // the token array instead of |terms| interpreted ArrayFilter
    // lambdas (each allocating a filtered copy just to be counted);
    // the |terms| element_at projections of the same kernel tree
    // collapse to one eval under codegen subexpression elimination.
    // Values identical (exact integer counts, spec-pinned).
    val tfc = column(TermFreqs(expression(col("toks")), terms))
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        TextOps.tokens(TextOps.normText(col("text"))).as("toks"))
      .select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
        terms.indices.map { i =>
          element_at(tfc, i + 1).as(s"tf$i")
        }: _*)
  }

  private[graft] def bm25AnyMatch: Column =
    Bm25Terms.indices.map(i => col(s"tf$i") > 0).reduceLeft(_ || _)

  /** (n_terms, score) over a [[bm25PerDoc]] row, parameterized by where
    * the corpus stats come from — broadcast-joined columns in batch,
    * trained literals in the streaming scorer — so both paths evaluate
    * the IDENTICAL IEEE tree: avgdl computed once as tt/nd, dl/avgdl
    * one division, denominator left-associated, per-term contributions
    * summed in fixed query order. */
  private[graft] def bm25ScoreCols(nd: Column, tt: Column,
      df: Int => Column): (Column, Column) =
    bm25ScoreColsIdx(Bm25Terms.indices, nd, tt, df)

  /** Same score/n_terms tree over an explicit list of tf/df column
    * indices, summed LEFT-ASSOCIATED in the given order — the
    * multi-query path passes each query's term indices into the
    * all-terms projection; the fixed fold order is what keeps the
    * cross-engine hash match bitwise. */
  private[graft] def bm25ScoreColsIdx(idx: Seq[Int], nd: Column, tt: Column,
      df: Int => Column): (Column, Column) = {
    val dlD = col("dl").cast("double")
    val ndD = nd.cast("double")
    val ttD = tt.cast("double")
    def contrib(i: Int): Column = {
      val tfD = col(s"tf$i").cast("double")
      val dfD = df(i).cast("double")
      when(col(s"tf$i") > 0,
        tfD * lit(2.5) / (tfD + lit(1.5) * (lit(0.25) + lit(0.75) * (dlD / (ttD / ndD)))) *
          ((ndD - dfD + lit(0.5)) / (dfD + lit(0.5))))
        .otherwise(lit(0.0))
    }
    val nTerms = idx
      .map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduceLeft(_ + _)
    (nTerms, idx.map(contrib).reduceLeft(_ + _))
  }

  /** Corpus statistics the scorer needs: doc count, total tokens, and
    * per-term document frequency — ONE 1-row aggregate over
    * [[bm25PerDoc]]. */
  private[graft] def bm25Stats(perDoc: DataFrame): DataFrame =
    bm25StatsFor(perDoc, Bm25Terms.size)

  private[graft] def bm25StatsFor(perDoc: DataFrame, nTerms: Int): DataFrame = {
    val statsCols = count(lit(1)).as("nd") +: sum(col("dl")).as("tt") +:
      (0 until nTerms).map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    perDoc.agg(statsCols.head, statsCols.tail: _*)
  }

  /** The trained serving artifact for the streaming scorer: corpus
    * stats collected to the driver (one slim row — the same bounded
    * collect the IVF centroid literals use). */
  case class Bm25Index(nd: Long, tt: Long, dfs: Seq[Long])

  def bm25Train(spark: SparkSession, sfDir: String): Bm25Index =
    bm25TrainOf(Tables.documents(spark, sfDir))

  private[graft] def bm25TrainOf(docs: DataFrame): Bm25Index = {
    val r = bm25Stats(bm25PerDoc(docs)).collect()(0)
    Bm25Index(r.getLong(0), r.getLong(1),
      Bm25Terms.indices.map(i => r.getLong(2 + i)))
  }

  /** The all-terms per-doc projection (doc_id, dl, tf0..tf{T-1}),
    * tokenized ONCE per (session, dir) and memoized — the whole BM25
    * family (single-query, multi-query, hard negatives, their SQL
    * views) previously re-tokenized the corpus twice per registration
    * (stats pass + postings pass), which at sf0.1 made each of the six
    * registrations pay ~0.4-0.6 s of identical normalization+split
    * work. The single-query scorers read tf0..tf2 of this frame —
    * [[Bm25Terms]] are by construction the first three of
    * [[Bm25AllTerms]] (first-appearance order), so the shared columns
    * are the identical expressions and every score is bit-unchanged.
    * Corpus-sized but slim (id + T+1 longs/doc) — the pqIndex
    * encode-once/serve-many shape. */
  private[graft] def bm25PerDocAll(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.memoized(spark,
        s"bm25_perdoc_${Bm25AllTerms.size}_${Materialize.dirTag(spark, sfDir)}") {
      bm25PerDocFor(Tables.documents(spark, sfDir), Bm25AllTerms)
    }

  /** All matching docs with their scores, unordered — the full scoring
    * frame [[bm25TopK]] ranks. Served from [[bm25PerDocAll]]. */
  private[graft] def bm25Scores(spark: SparkSession, sfDir: String): DataFrame =
    bm25ScoresOver(bm25PerDocAll(spark, sfDir))

  private[graft] def bm25ScoresOf(docs: DataFrame): DataFrame =
    bm25ScoresOver(bm25PerDoc(docs))

  /** Single-query scoring over any frame carrying (doc_id, dl,
    * tf0..tf2, ...) — extra tf columns (the memoized all-terms frame)
    * are simply never referenced. */
  private def bm25ScoresOver(perDoc: DataFrame): DataFrame = {
    val stats = bm25Stats(perDoc)
    val (nTerms, score) = bm25ScoreCols(col("nd"), col("tt"), i => col(s"df$i"))
    perDoc.where(bm25AnyMatch)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), nTerms.as("n_terms"), score.as("score"))
  }

  /** BM25 top-K: the only corpus-wide exchanges are the 1-row stats
    * aggregate (broadcast back) and the top-K TakeOrderedAndProject.
    * An earlier formulation exploded tokens and re-derived df from a
    * second scan+explode; this shape scans documents twice (stats pass
    * + postings pass), tokenizing each row once per pass, and shuffles
    * only K rows. */
  def bm25TopK(spark: SparkSession, sfDir: String): DataFrame =
    bm25Scores(spark, sfDir)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopK)

  def bm25TopKSql(): String = {
    val norm = TextOps.normTextSql("text")
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val cases = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN contrib END) AS c$i"
    }.mkString(",\n|               ")
    val scoreSum = Bm25Terms.indices
      .map(i => s"COALESCE(c$i, 0.0)").mkString(" + ")
    s"""WITH corpus AS (SELECT doc_id,
       |                       list_filter(string_split($norm, ' '), x -> x <> '') AS toks
       |                FROM documents WHERE text IS NOT NULL),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM corpus),
       |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tt FROM dl),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf
       |       FROM (SELECT doc_id, unnest(toks) AS term FROM corpus)
       |       WHERE term IN ($inList) GROUP BY doc_id, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (SELECT tf.doc_id, tf.term,
       |                  CAST(tf.tf AS DOUBLE) * 2.5 /
       |                  (CAST(tf.tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(stats.tt AS DOUBLE) / CAST(stats.nd AS DOUBLE))))) *
       |                  ((CAST(stats.nd AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) AS contrib
       |           FROM tf
       |           JOIN dfreq ON tf.term = dfreq.term
       |           JOIN dl ON tf.doc_id = dl.doc_id, stats),
       |agg AS (SELECT doc_id,
       |               $cases,
       |               COUNT(*) AS n_terms
       |        FROM scored GROUP BY doc_id)
       |SELECT doc_id, n_terms, $scoreSum AS score
       |FROM agg
       |ORDER BY score DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin
  }

  /** Multi-query BM25: the whole pinned query batch served in ONE
    * corpus pass. The per-doc projection carries one tf column per
    * DISTINCT term across all queries ([[Bm25AllTerms]]) — the
    * broadcast-queries plan shape: corpus stats stay a single 1-row
    * aggregate, each document emits one (query_id, n_terms, score)
    * struct per query from the SAME row (array+explode, map-side),
    * and the only shuffles are the 1-row stats broadcast and the
    * per-query top-K window (partitioned by query_id over matched
    * docs only). At 100 TB this is Q× scoring arithmetic on one scan,
    * NOT Q corpus scans; a thousand-query batch would swap the
    * unrolled columns for an explode-join on term with a broadcast
    * df map, same exchanges. Scores are bit-identical to the
    * single-query operator for the shared query (spec-pinned):
    * identical IEEE tree per term, identical left-associated
    * query-order fold. */
  def bm25MultiTopK(spark: SparkSession, sfDir: String): DataFrame =
    bm25MultiRanked(spark, sfDir)
      .where(col("rn") <= Bm25TopK)
      .select(col("query_id"), col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("query_id").asc, col("score").desc, col("doc_id").asc)

  /** The multi-query scored-and-ranked frame [[bm25MultiTopK]] and
    * [[bm25HardNegatives]] share: every (query, matched-doc) pair with
    * its score and per-query rank. */
  private[graft] def bm25MultiRanked(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = bm25PerDocAll(spark, sfDir)
    val stats = bm25StatsFor(perDoc, Bm25AllTerms.size)
    val anyAll = Bm25AllTerms.indices.map(i => col(s"tf$i") > 0).reduceLeft(_ || _)
    val qStructs = Bm25Queries.map { case (qid, terms) =>
      val idx = terms.map(Bm25AllTerms.indexOf)
      val (nt, sc) = bm25ScoreColsIdx(idx, col("nd"), col("tt"), i => col(s"df$i"))
      struct(lit(qid).as("query_id"), nt.as("n_terms"), sc.as("score"))
    }
    perDoc.where(anyAll)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), explode(array(qStructs: _*)).as("qs"))
      .select(col("qs.query_id").as("query_id"), col("doc_id"),
        col("qs.n_terms").as("n_terms"), col("qs.score").as("score"))
      .where(col("n_terms") > 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
  }

  /** Hard-negative mining for contrastive training pairs (the DPR /
    * sentence-transformers recipe): per query, the top-ranked document
    * is the positive and ranks 2..K are the "hard" negatives — lexically
    * close enough to score high, labeled with how far below the
    * positive they fall (`margin`, the number a triplet-loss sampler
    * thresholds on). BM25-mined hard negatives are the standard
    * bootstrap for training dense retrievers. Scale: everything is the
    * [[bm25MultiRanked]] plan (one corpus pass + per-query window over
    * matched docs) plus a per-query MAX window over at most K rows;
    * margin = max(score) - score is order-independent exact IEEE. */
  def bm25HardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25MultiRanked(spark, sfDir)
      .where(col("rn") <= Bm25TopK)
      .withColumn("pos_score",
        max(col("score")).over(Window.partitionBy(col("query_id"))))
      .where(col("rn") >= 2)
      .select(col("query_id"), col("doc_id"),
        col("rn").cast("long").as("neg_rank"), col("score"),
        (col("pos_score") - col("score")).as("margin"))
      .orderBy(col("query_id").asc, col("neg_rank").asc)
  }

  /** [[bm25MultiTopK]]'s oracle: per-doc tf columns over the all-terms
    * union, one UNION ALL branch per query with the SAME contrib tree
    * and left-associated fold order as the Spark side, ROW_NUMBER
    * top-K per query. */
  def bm25MultiTopKSql(): String =
    s"""${bm25MultiRankedCtes()}
       |SELECT query_id, doc_id, n_terms, score FROM ranked
       |WHERE rn <= $Bm25TopK
       |ORDER BY query_id ASC, score DESC, doc_id ASC""".stripMargin

  /** [[bm25HardNegatives]]'s oracle: the shared ranked CTEs, a
    * per-query MAX window for the positive's score, ranks 2..K. */
  def bm25HardNegativesSql(): String =
    s"""${bm25MultiRankedCtes()},
       |sel AS (SELECT query_id, doc_id, rn, score,
       |               MAX(score) OVER (PARTITION BY query_id) AS pos_score
       |        FROM ranked WHERE rn <= $Bm25TopK)
       |SELECT query_id, doc_id, rn AS neg_rank, score,
       |       pos_score - score AS margin
       |FROM sel WHERE rn >= 2
       |ORDER BY query_id ASC, neg_rank ASC""".stripMargin

  /** The shared CTE prefix of the multi-query oracles, ending at the
    * `ranked` frame ([[bm25MultiRanked]]'s twin). */
  private def bm25MultiRankedCtes(): String = {
    val norm = TextOps.normTextSql("text")
    val tfCols = Bm25AllTerms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n|             ")
    val dfCols = Bm25AllTerms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    def contrib(i: Int): String =
      s"CASE WHEN tf$i > 0 THEN CAST(tf$i AS DOUBLE) * 2.5 / " +
        s"(CAST(tf$i AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(stats.tt AS DOUBLE) / CAST(stats.nd AS DOUBLE))))) * " +
        s"((CAST(stats.nd AS DOUBLE) - CAST(stats.df$i AS DOUBLE) + 0.5) / (CAST(stats.df$i AS DOUBLE) + 0.5)) ELSE 0.0 END"
    val branches = Bm25Queries.map { case (qid, terms) =>
      val idx = terms.map(Bm25AllTerms.indexOf)
      val nTerms = idx.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val score = idx.map(contrib).mkString(" + ")
      val anyQ = idx.map(i => s"tf$i > 0").mkString(" OR ")
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |              CAST($nTerms AS BIGINT) AS n_terms,
         |              $score AS score
         |       FROM pd, stats WHERE $anyQ""".stripMargin
    }.mkString("\n|       UNION ALL\n|       ")
    s"""WITH corpus AS (SELECT doc_id,
       |                       list_filter(string_split($norm, ' '), x -> x <> '') AS toks
       |                FROM documents WHERE text IS NOT NULL),
       |pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |             $tfCols
       |       FROM corpus),
       |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tt, $dfCols FROM pd),
       |scored AS ($branches),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                     ORDER BY score DESC, doc_id ASC) AS rn
       |           FROM scored)""".stripMargin
  }

  /** Multi-query BM25, EXPLODE-JOIN formulation — the thousand-query
    * scale path [[bm25MultiTopK]]'s doc promises. The unrolled-columns
    * plan carries one tf column per distinct term, which is right for a
    * pinned handful but means a Q·T-column projection for a large query
    * batch; here the query batch is a broadcast (query_id, pos, term)
    * FRAME, so growing the batch grows a broadcast table, not the plan.
    *
    * Shape: one corpus pass computes (doc_id, dl, matched-tokens) with
    * the term filter applied INSIDE the token array before the explode
    * (`filter(toks, isin)` — only query-term postings are ever
    * exploded, so the token-scale shuffle is |postings|, not corpus
    * tokens); tf = count per (doc, term); df is a |terms|-row aggregate
    * of that postings frame broadcast back; corpus stats stay the same
    * 1-row aggregate. Scoring joins postings to the broadcast query
    * frame on term and folds per (query_id, doc_id).
    *
    * Bit-exactness: the per-term contribution is the IDENTICAL IEEE
    * tree as [[bm25ScoreColsIdx]], and the per-query sum — the one
    * place a groupBy could reorder floats — is a left-associated fold
    * over the collected contributions SORTED by the term's position in
    * the query (`aggregate(array_sort(...))`, 0.0 seed). The unrolled
    * path folds zeros for unmatched terms in between; since every
    * contribution and every partial sum is > 0, adding 0.0 is an exact
    * IEEE identity and the two paths are bit-identical (spec-pinned
    * against [[bm25MultiTopK]]; same oracle). */
  def bm25JoinTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val queriesDf = Bm25Queries
      .flatMap { case (qid, terms) =>
        terms.zipWithIndex.map { case (t, pos) => (qid, pos, t) } }
      .toDF("query_id", "pos", "term")
    val docs = Tables.documents(spark, sfDir)
    // matched-token pre-filter via the native filter_in kernel (the
    // |terms|-way OR lambda was an interpreted ArrayFilter per token)
    val base = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        TextOps.tokens(TextOps.normText(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        column(FilterIn(expression(col("toks")), Bm25AllTerms)).as("matched"))
    // 1-row corpus stats over ALL docs (nd, tt) — same aggregate the
    // unrolled path broadcasts.
    val stats = base.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
    val postings = base.where(size(col("matched")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("matched")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double")
    val dfD = col("df").cast("double")
    val dlD = col("dl").cast("double")
    val ndD = col("nd").cast("double")
    val ttD = col("tt").cast("double")
    val contrib =
      tfD * lit(2.5) / (tfD + lit(1.5) * (lit(0.25) + lit(0.75) * (dlD / (ttD / ndD)))) *
        ((ndD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val scored = postings
      .join(broadcast(queriesDf), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("pos"), contrib.as("contrib"))
    scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .where(col("rn") <= Bm25TopK)
      .select(col("query_id"), col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("query_id").asc, col("score").desc, col("doc_id").asc)
  }

  /** Passage-level BM25 with MaxP document pooling (Dai & Callan,
    * SIGIR'19 — the standard recipe for retrieving LONG documents):
    * documents are split into overlapping chunks ([[Chunking.chunkCols]],
    * the same derivation `chunk_documents` registers), each chunk is
    * scored as its own BM25 unit against chunk-level corpus stats
    * (nd = chunk count, avgdl = average chunk length, df = chunks
    * containing the term), and a document's score is its BEST chunk's
    * score. Whole-document BM25 dilutes a strong passage inside a long
    * document through the length normalizer; MaxP is how a pipeline
    * retrieves the document anyway and knows WHICH passage matched
    * (`best_chunk` is the provenance a RAG consumer reads).
    *
    * Scale: chunking is a generator inside whole-stage codegen
    * (~len/stride rows per doc, no cross-document state), stats stay a
    * 1-row broadcast, and the per-document argmax window runs over
    * MATCHED chunks only, partitioned by doc_id — no single-partition
    * window, no corpus-scale shuffle. Bit-exactness: per-chunk scores
    * use the same fixed-order fold as [[bm25TopK]]; MAX pooling and
    * the (score DESC, chunk_id ASC) argmax tiebreak are
    * order-independent. */
  def bm25MaxP(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = Chunking.chunkCols(Tables.documents(spark, sfDir))
    // per-chunk tf via the term_freqs kernel (see bm25PerDocFor)
    val tfc = column(TermFreqs(expression(col("toks")), Bm25Terms))
    val perChunk = chunks
      .select(col("doc_id"), col("chunk_id"),
        TextOps.tokens(TextOps.normText(col("chunk_text"))).as("toks"))
      .select(Seq(col("doc_id"), col("chunk_id"),
          size(col("toks")).cast("long").as("dl")) ++
        Bm25Terms.indices.map { i =>
          element_at(tfc, i + 1).as(s"tf$i")
        }: _*)
    val stats = bm25StatsFor(perChunk, Bm25Terms.size)
    val (nTerms, score) = bm25ScoreCols(col("nd"), col("tt"), i => col(s"df$i"))
    perChunk.where(bm25AnyMatch)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("chunk_id"),
        nTerms.as("n_terms"), score.as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("chunk_id").asc)))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("chunk_id").as("best_chunk"),
        col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  /** [[bm25MaxP]]'s oracle: the `chunk_documents` chunk derivation
    * (defaults baked — the chunk knobs are Verify-guarded), the same
    * per-chunk tf/score tree as [[bm25TopKSql]], ROW_NUMBER argmax per
    * document, top-K documents. */
  def bm25MaxPSql(): String = {
    val w = graft.GraftConf.DefaultChunkSize
    val s = graft.GraftConf.DefaultChunkStride
    val norm = TextOps.normTextSql("chunk_text")
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n|             ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    def contrib(i: Int): String =
      s"CASE WHEN tf$i > 0 THEN CAST(tf$i AS DOUBLE) * 2.5 / " +
        s"(CAST(tf$i AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(stats.tt AS DOUBLE) / CAST(stats.nd AS DOUBLE))))) * " +
        s"((CAST(stats.nd AS DOUBLE) - CAST(stats.df$i AS DOUBLE) + 0.5) / (CAST(stats.df$i AS DOUBLE) + 0.5)) ELSE 0.0 END"
    val nTerms = Bm25Terms.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val scoreSum = Bm25Terms.indices.map(contrib).mkString(" + ")
    val anyQ = Bm25Terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH toks0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |               FROM documents),
       |chunks AS (SELECT doc_id, start_tok // $s AS chunk_id,
       |                  array_to_string(t[start_tok + 1 : start_tok + least($w, len(t) - start_tok)], ' ') AS chunk_text
       |           FROM (SELECT doc_id, t, unnest(range(0, len(t), $s)) AS start_tok
       |                 FROM toks0 WHERE len(t) > 0)),
       |pc AS (SELECT doc_id, chunk_id, CAST(len(toks) AS BIGINT) AS dl,
       |             $tfCols
       |       FROM (SELECT doc_id, chunk_id,
       |                    list_filter(string_split($norm, ' '), x -> x <> '') AS toks
       |             FROM chunks)),
       |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tt, $dfCols FROM pc),
       |scored AS (SELECT doc_id, chunk_id,
       |                  CAST($nTerms AS BIGINT) AS n_terms,
       |                  $scoreSum AS score
       |           FROM pc, stats WHERE $anyQ),
       |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                   ORDER BY score DESC, chunk_id ASC) AS rn
       |         FROM scored)
       |SELECT doc_id, chunk_id AS best_chunk, n_terms, score
       |FROM best WHERE rn = 1
       |ORDER BY score DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin
  }

  /** All delete-1 variants of a key, INCLUDING the key itself (needed
    * so an insertion pairs the shorter key verbatim with the longer
    * key's deletion). `sequence` must never see start > stop (it would
    * count DOWN), so callers filter empty keys first. */
  private[graft] def delete1Variants(s: Column): Column =
    array_union(array(s),
      transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))

  /** Candidate pairs (a < b) of `keys` ("name" column) within edit
    * distance 1, found by equality-joining the delete-1 neighborhoods
    * — no cartesian anywhere; the self-join shuffles (L+1)·|keys|
    * variant rows on the variant string and each bucket holds only the
    * keys one edit apart at that position. */
  private[graft] def fuzzyPairs(keys: DataFrame): DataFrame =
    // dedup BEFORE blocking: duplicate keys multiply every variant
    // bucket by their multiplicity and the raw candidate join goes
    // quadratic in it (measured: 10× replicated names at sf1 turned
    // ~1M raw candidates into 108M before this distinct). Pair
    // semantics are over distinct keys either way.
    fuzzyPairsFromVariants(variantRows(keys.distinct()))

  /** The periodic-BATCH half of the continuous-variants architecture:
    * the verified blocking join over a (name, v) variant table — the
    * frame [[variantRows]] computes in batch or a streaming ingest
    * accumulates into a store. Callers feeding an append-accumulated
    * store must `distinct()` it first (re-ingested keys otherwise
    * multiply their buckets — the same quadratic-in-multiplicity
    * failure the key-side distinct above guards; spec-pinned equal to
    * the one-shot join). Verify runs BEFORE dedup with the codegen'd
    * two-pointer ED≤1 kernel ([[graft.functions.EditWithin1]] — ~40×
    * the thresholded levenshtein on this stream), so the distinct
    * shuffles only the verified pairs (262 k at sf0.1) instead of
    * every candidate (956 k). 0 is impossible on distinct keys, so
    * surviving dist ≡ 1, the unbounded-oracle value. */
  def fuzzyPairsFromVariants(variants: DataFrame): DataFrame = {
    // per-side column renames (not plan aliases): a table-backed input
    // (e.g. the stream-accumulated store) carries the same attribute
    // ids on both sides of the self-join, and alias-qualified refs
    // against those are ambiguous
    val a = variants.select(col("name").as("name_a"), col("v").as("va"))
    val b = variants.select(col("name").as("name_b"), col("v").as("vb"))
    a.join(b, col("va") === col("vb") && col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        column(EditWithin1(expression(col("name_a")), expression(col("name_b"))))
          .cast("long").as("dist"))
      .where(col("dist") >= 0)
      .distinct()
  }

  /** Stateless delete-1 variant rows for a key frame — the streaming
    * half of the continuous-variants → periodic-blocking architecture
    * (the fuzzy analogue of `DocStream.signatureStream`): fuzzy
    * matching needs the cross-corpus equality join no bounded stream
    * state can hold, so an ingest stream emits each arriving key's
    * O(L) variant rows continuously and a periodic BATCH job runs the
    * verified blocking join over the accumulated variant table,
    * touching ~L·(L+1) bytes per key instead of re-deriving variants
    * from the source table. Works identically on batch and streaming
    * frames (pure projection — spec-pinned equal). */
  def variantRows(keys: DataFrame): DataFrame =
    keys
      .where(col("name").isNotNull && length(col("name")) > 0)
      .select(col("name"), explode(delete1Variants(col("name"))).as("v"))

  /** Entity resolution over part names: distinct-name pairs within one
    * edit, each with its member count — the "merge these two product
    * listings?" readout. Work is vocabulary-sized (names dedup before
    * blocking), so a 100 TB corpus with a bounded catalog costs the
    * same as this fixture. */
  def fuzzyJoinParts(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n"))
    fuzzyPairs(names.select(col("name")))
      .join(names.withColumnRenamed("name", "name_a").withColumnRenamed("n", "n_a"), "name_a")
      .join(names.withColumnRenamed("name", "name_b").withColumnRenamed("n", "n_b"), "name_b")
      .select(col("name_a"), col("name_b"), col("dist"), col("n_a"), col("n_b"))
      .orderBy(col("name_a").asc, col("name_b").asc)
  }

  def fuzzyJoinPartsSql(): String =
    """WITH d AS (SELECT p_name AS name, COUNT(*) AS n FROM part
      |           WHERE p_name IS NOT NULL AND p_name <> '' GROUP BY p_name)
      |SELECT a.name AS name_a, b.name AS name_b,
      |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
      |       a.n AS n_a, b.n AS n_b
      |FROM d a JOIN d b ON a.name < b.name AND levenshtein(a.name, b.name) <= 1
      |ORDER BY name_a ASC, name_b ASC""".stripMargin

  /** The same fuzzy join over customer names — unique keys whose
    * edit-1 pair count GROWS with the table (ids differing in one
    * digit), exercising the blocking join where the brute-force oracle
    * is quadratic. The oracle is deliberately the O(n²) formulation: a
    * different algorithm entirely, so a blocking bug (a missed
    * neighborhood case) cannot hide in a shared derivation. */
  def fuzzyJoinCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.customer(spark, sfDir).select(col("c_name").as("name"))
    fuzzyPairs(names)
      .select(col("name_a"), col("name_b"), col("dist"))
      .orderBy(col("name_a").asc, col("name_b").asc)
  }

  /** Entity consolidation: connected components over the fuzzy-pair
    * graph ([[fuzzyPairs]] edges → [[ClusterOps.componentsOf]] min-label
    * propagation — label types are generic, so string keys propagate
    * with lexicographic MIN), giving every distinct part name a
    * canonical entity id (the lexicographically smallest name reachable
    * by edit-1 steps) plus member counts. The composition mirrors the
    * dedup_clusters pipeline with names instead of doc ids: blocking
    * join for edges, pointer-jumping for components, nothing quadratic.
    * Oracle replays components by recursive transitive closure — the
    * same independent-algorithm pattern the cluster oracles use. */
  def entityResolution(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val names = Tables.part(spark, sfDir)
      .where(col("p_name").isNotNull && length(col("p_name")) > 0)
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n_parts"))
    val edges = fuzzyPairs(names.select(col("name")))
      .select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
    val comp = ClusterOps.componentsOf(spark, edges)
      .toDF("name", "label")
    names.join(comp, Seq("name"), "left")
      .select(col("name"), coalesce(col("label"), col("name")).as("entity_id"),
        col("n_parts"))
      .withColumn("entity_size",
        count(lit(1)).over(Window.partitionBy(col("entity_id"))))
      .withColumn("is_canonical", col("name") === col("entity_id"))
      .orderBy(col("name").asc)
  }

  def entityResolutionSql(): String =
    """WITH RECURSIVE d AS (SELECT p_name AS name, COUNT(*) AS n_parts
      |                     FROM part
      |                     WHERE p_name IS NOT NULL AND p_name <> ''
      |                     GROUP BY p_name),
      |edges AS (SELECT a.name AS name_a, b.name AS name_b
      |          FROM d a JOIN d b
      |            ON a.name < b.name AND levenshtein(a.name, b.name) <= 1),
      |sym AS (SELECT name_a AS node, name_b AS nbr FROM edges
      |        UNION ALL SELECT name_b, name_a FROM edges),
      |reach AS (SELECT node, node AS r FROM (SELECT DISTINCT node FROM sym) n
      |          UNION
      |          SELECT s.node, reach.r FROM sym s JOIN reach ON s.nbr = reach.node),
      |lab AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
      |ent AS (SELECT d.name, coalesce(l.label, d.name) AS entity_id, d.n_parts
      |        FROM d LEFT JOIN lab l ON d.name = l.node)
      |SELECT name, entity_id, n_parts,
      |       COUNT(*) OVER (PARTITION BY entity_id) AS entity_size,
      |       name = entity_id AS is_canonical
      |FROM ent
      |ORDER BY name ASC""".stripMargin

  def fuzzyJoinCustomersSql(): String =
    """WITH d AS (SELECT DISTINCT c_name AS name FROM customer
      |           WHERE c_name IS NOT NULL AND c_name <> '')
      |SELECT a.name AS name_a, b.name AS name_b,
      |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |FROM d a JOIN d b
      |  ON a.name < b.name AND levenshtein(a.name, b.name) <= 1
      |ORDER BY name_a ASC, name_b ASC""".stripMargin
}
