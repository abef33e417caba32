package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import graft.sources.Tables

/** Byte-pair-encoding tokenizer TRAINING over `documents` — the
  * vocabulary-learning step every LLM data pipeline runs before
  * tokenizing a corpus (Sennrich et al., ACL'16 word-level BPE):
  * greedily merge the most frequent adjacent symbol pair, [[Merges]]
  * times, starting from per-character symbols.
  *
  * Scale shape — the key property of word-level BPE is that after ONE
  * corpus scan (the word-frequency aggregate), training never touches
  * the corpus again: every merge iteration runs over the WORD TYPE
  * table (vocabulary-sized — tens of millions of rows at 100 TB, not
  * trillions), weighting each candidate pair by the word's corpus
  * count. Per iteration: one vocabulary-sized pair aggregate (partial
  * map-side), one 1-row argmax collect (the merge decision — the same
  * bounded driver collect as k-means centroids), and one map-side
  * `replace` applying the merge. [[Merges]] iterations = [[Merges]]
  * narrow vocabulary-sized shuffles, corpus-size-independent.
  * Encoding ([[encode]]) never re-runs merges over corpus tokens: the
  * trained word→segmentation table broadcasts and corpus words join
  * it — one broadcast hash join, zero added shuffles.
  *
  * Pinned representation (identical on both engines so the oracle can
  * replay training exactly): a word's symbol sequence is the string
  * `·s1··s2··…··sn·` — every symbol wrapped in `·` (U+00B7, not in
  * the corpus alphabet; [[graft.sources.Tables]] fixtures are
  * lowercase ASCII). Wrapping each symbol in its OWN marker pair
  * makes merge application a plain left-to-right `replace(seq,
  * "·a··b·", "·ab·")`: adjacent occurrences don't share a separator
  * char, so non-overlapping replace-all consumes `a b a b` into
  * `ab ab` — the canonical leftmost-first BPE merge order. The
  * initial sequence is `regexp_replace(word, "(.)", "·$1·")` on both
  * engines.
  *
  * Determinism: pair counts are exact int64 sums of int64 word
  * counts; the per-iteration argmax tiebreaks (count desc, left asc,
  * right asc) on binary string order — no floats anywhere in
  * training.
  */
object Bpe {

  /** Number of merge rules to learn. Real tokenizers learn 30k-50k;
    * the constant is small because the oracle replays training as
    * [[Merges]] unrolled CTE triples (the PageRank-oracle discipline:
    * no data-dependent stopping, identical on both engines). */
  val Merges = 12

  private val M = "·" // symbol marker

  private def wrapped(word: Column): Column =
    regexp_replace(word, "(.)", s"$M$$1$M")

  /** Symbols of a wrapped sequence: strip the outer markers, split on
    * the doubled inner marker. */
  private def symsOf(seq: Column): Column =
    split(seq.substr(lit(2), length(seq) - 2), s"$M$M")

  /** (word, cnt) corpus word-frequency table — the single corpus scan
    * of BPE training. Plain [[Tables.documents]], not the balanced
    * variant: the very next operator is a groupBy(word) exchange, so a
    * pre-explode repartition of full document text buys nothing here
    * (r14 measured it as the `bpe_encode` +0.65 s regression — the
    * rebalance is scoped to the skip-gram consumer, whose pair
    * explosion is the one map stage worth parallelizing at fixture
    * scale; see [[Tables.documentsBalanced]]). */
  private def wordCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("text").isNotNull)
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** The merge-learning loop over any (word, cnt) frame — split out so
    * the merge/representation machinery is testable on controlled
    * vocabularies (overlap semantics, tiebreaks) independent of the
    * documents fixture. Returns the learned (step, lhs, rhs,
    * pair_count) rules and the final word\u2192sequence frame. */
  private[graft] def trainLoop(wc: DataFrame, nMerges: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    // ONE checkpoint of the (word, cnt, seq) base; each step's argmax
    // reads base + step-1 chained `replace`s (map-side string ops over
    // the vocabulary \u2014 microseconds), instead of re-checkpointing the
    // whole frame every step. The per-step checkpoint was one extra
    // Spark job + block write per merge (r16 profile: ~40% of
    // bpe_build's 2.7 s at sf0.1 was the 12 checkpoint jobs); the
    // chained-replace plan is LINEAR in steps (each step adds one
    // projection), so the analysis-time blowup the checkpoints guarded
    // against (branching re-derivation) cannot occur. Merge decisions
    // are byte-identical: applying replace k on (base + replaces 1..k-1)
    // is the same string as applying it on the old step-k checkpoint.
    val base = wc
      .select(col("word"), col("cnt"), wrapped(col("word")).as("seq"))
      .localCheckpoint(true)
    var v = base
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to nMerges) {
      val syms = symsOf(col("seq"))
      val best = v
        .where(size(syms) >= 2)
        .select(col("cnt"), explode(transform(sequence(lit(1), size(syms) - 1), i =>
          struct(element_at(syms, i).as("a"), element_at(syms, i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect() // 1 row: the merge decision (bounded)
      require(best.nonEmpty,
        s"BPE pairs exhausted at step $step \u2014 corpus too small for nMerges=$nMerges")
      val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      learned += ((step, a, b, c))
      v = v.select(col("word"), col("cnt"),
        replace(col("seq"), lit(s"$M$a$M$M$b$M"), lit(s"$M$a$b$M")).as("seq"))
    }
    // hand the caller a self-contained checkpoint and free the base \u2014
    // same single-live-checkpoint lifecycle as before
    val out = v.localCheckpoint(true)
    Materialize.free(base)
    (learned.result(), out)
  }

  /** Trained state: the merge table (step, lhs, rhs, pair_count) as
    * local rows, plus the final word→sequence vocabulary frame.
    * Memoized per (sfDir) — all three surfaces ([[merges]], [[vocab]],
    * [[encode]]) consume one training run, like IVF/PQ/PageRank. */
  private def train(spark: SparkSession, sfDir: String): (Seq[(Int, String, String, Long)], DataFrame) = {
    val vKey = s"bpe_vocab_${Merges}_${Materialize.dirTag(spark, sfDir)}"
    val mKey = s"spark.graft.bpe.merges.${Materialize.dirTag(spark, sfDir)}"
    val vocabDf = Materialize.memoized(spark, vKey) {
      val (learned, v) = trainLoop(wordCounts(spark, sfDir), Merges)
      spark.conf.set(mKey, learned
        .map { case (s, a, b, c) => s"$s\u0001$a\u0001$b\u0001$c" }.mkString("\u0002"))
      v
    }
    val ms = spark.conf.get(mKey).split("\u0002").toSeq.map { r =>
      val f = r.split("\u0001"); (f(0).toInt, f(1), f(2), f(3).toLong)
    }
    (ms, vocabDf)
  }

  /** (step, lhs, rhs, pair_count): the learned merge rules in learning
    * order — the tokenizer artifact a training pipeline ships. */
  def merges(spark: SparkSession, sfDir: String): DataFrame = {
    val (ms, _) = train(spark, sfDir)
    spark.createDataFrame(
      spark.sparkContext.parallelize(ms.map { case (s, a, b, c) => Row(s.toLong, a, b, c) }, 1),
      StructType(Seq(StructField("step", LongType), StructField("lhs", StringType),
        StructField("rhs", StringType), StructField("pair_count", LongType))))
      .orderBy(col("step").asc)
  }

  /** The toy-tokenizer TRAINING as its own registration (`bpe_build` —
    * named to sort before every other bpe_* query, so an alphabetical
    * bench sweep bills the training memo to it and
    * `bpe_decode`/`bpe_encode`/`bpe_token_ids` measure warm serving —
    * the `pq_build` build-phase billing policy, r15 verdict item 3).
    * Output and oracle are [[merges]]'s: the merge table IS the built
    * artifact, so the build registration is oracle-checked by the same
    * full training replay. */
  def build(spark: SparkSession, sfDir: String): DataFrame =
    merges(spark, sfDir)

  /** The customer-corpus SCALED training as a build registration
    * (`bpe_build_scaled` — pays the 256-step driver loop so
    * `bpe_encode_scaled`/`bpe_merges_scaled` measure warm). */
  def buildScaled(spark: SparkSession, sfDir: String): DataFrame =
    mergesScaled(spark, sfDir)

  /** (symbol, occurrences): corpus-weighted counts of the post-merge
    * symbol vocabulary (token frequency under the trained tokenizer),
    * symbol asc. */
  def vocab(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, v) = train(spark, sfDir)
    v.select(col("cnt"), explode(symsOf(col("seq"))).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("cnt")).as("occurrences"))
      .orderBy(col("symbol").asc)
  }

  /** (doc_id, n_words, n_bpe_tokens): per-document token counts under
    * the trained tokenizer — the corpus ENCODE path. The trained
    * word→segmentation table broadcasts (vocabulary-sized) and corpus
    * words hash-join it; no merge rule ever re-applies per corpus
    * token. */
  def encode(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, v) = train(spark, sfDir)
    val wordLen = broadcast(v.select(col("word"), size(symsOf(col("seq"))).as("n_syms")))
    Tables.documents(spark, sfDir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), explode(graft.functions.TextOps.tokens(col("text"))).as("word"))
      .join(wordLen, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
      .orderBy(col("doc_id").asc)
  }

  /** (doc_id, n_bpe_tokens, ids): per-document TOKEN-ID SEQUENCES under
    * the trained tokenizer — the tokenize step's actual shipping
    * artifact (what [[encode]]'s counts summarize). Symbol ids are
    * dense 1..V over the trained symbol vocabulary in symbol-ascending
    * order (a pure function of training, so both engines assign the
    * identical ids); a document's `ids` is the concatenation of its
    * words' segmentations in token order.
    *
    * Scale shape: the id map is the symbol vocabulary (chars + one
    * entry per merge — bounded by [[Merges]], a plan literal like the
    * PQ codebooks); the word→id-array table is vocabulary-sized and
    * broadcasts; corpus tokens hash-join it carrying only (doc_id,
    * pos, word) and the per-doc assembly is one sort-by-position
    * aggregate — the SAME one-scan broadcast-join shape as [[encode]],
    * now emitting the sequences themselves.
    *
    * [[tokenIdsFrame]] is the internal API (ids as `array<bigint>`, the
    * shape a downstream packing/training consumer wants); the
    * REGISTERED [[tokenIds]] emits `ids` as the space-joined canonical
    * string, because the round driver's correctness gate sorts result
    * rows through pandas `sort_values`, which cannot factorize array
    * cells (the r14 red row: `TypeError: unhashable type:
    * 'numpy.ndarray'`). Registered outputs must be pandas-sortable
    * SCALARS; the oracle joins the identical string
    * (`array_to_string`), so the value check is unchanged. */
  private[graft] def tokenIdsFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val idMap = typedlit(
      symbolVocab(spark, sfDir).zipWithIndex
        .map { case (s, i) => s -> (i + 1).toLong }.toMap)
    val (_, v) = train(spark, sfDir)
    val wordIds = broadcast(v.select(col("word"),
      transform(symsOf(col("seq")), s => element_at(idMap, s)).as("wids")))
    tokenIdsOver(spark, sfDir, wordIds)
  }

  /** The trained symbol vocabulary, symbol-ascending (Spark's binary
    * string sort == UTF-8 byte order == DuckDB's ORDER BY), collected
    * ONCE per (session, dir) and conf-memoized. [[tokenIdsFrame]]'s
    * forward id map and [[decode]]'s inverse array BOTH derive from
    * this one collected array, so the two cannot drift and the
    * duplicate distinct+sort+collect Spark jobs are gone (ADVICE r15).
    * Vocabulary-bounded (chars + one symbol per merge); deterministic,
    * so a conf value surviving a `Materialize.reset` stays exact. */
  private def symbolVocab(spark: SparkSession, sfDir: String): IndexedSeq[String] = {
    val key = s"spark.graft.bpe.syms.${Materialize.dirTag(spark, sfDir)}"
    spark.conf.getOption(key) match {
      case Some(packed) => packed.split("\u0001").toIndexedSeq
      case None =>
        val (_, v) = train(spark, sfDir)
        val syms = v.select(explode(symsOf(col("seq"))).as("s")).distinct()
          .orderBy(col("s").asc).collect().map(_.getString(0)).toIndexedSeq
        spark.conf.set(key, syms.mkString("\u0001"))
        syms
    }
  }

  /** The per-document id-sequence assembly shared by the toy and the
    * scaled-docs tokenizers: corpus tokens hash-join the broadcast
    * (word, wids) table, then one sort-by-position aggregate per doc.
    * The tokenizer swap changes ONLY the wordIds provenance — the
    * corpus-side plan (one scan, one broadcast join, one exchange) is
    * identical for any trained vocabulary. */
  private def tokenIdsOver(spark: SparkSession, sfDir: String,
      wordIds: DataFrame): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.functions.TextOps.tokens(col("text"))).as(Seq("pos", "word")))
      .join(wordIds, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("wids")))),
        x => x.getField("wids"))).as("ids"))
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_bpe_tokens"),
        col("ids"))
      .orderBy(col("doc_id").asc)

  /** The registered token-ids surface: [[tokenIdsFrame]] with `ids`
    * canonicalized to a space-joined string (see frame doc). */
  def tokenIds(spark: SparkSession, sfDir: String): DataFrame =
    tokenIdsFrame(spark, sfDir)
      .select(col("doc_id"), col("n_bpe_tokens"),
        array_join(col("ids"), " ").as("ids"))
      .orderBy(col("doc_id").asc)

  /** Detokenization — the inverse of [[tokenIds]]: map every id back
    * to its symbol through the inverted plan-literal id map
    * (element_at over the symbol array, ids are 1-based by
    * construction) and re-concatenate per document in token order.
    *
    * Registered as a ROUND-TRIP integrity surface: a word's
    * segmentation concatenates back to the word itself (merges only
    * ever concatenate a word's own characters), so
    * decode(tokenIds(doc)) must equal the document's tokens
    * concatenated in order. That makes the ORACLE the identity — one
    * scan of `documents`, NO training replay — constant-cost at any
    * corpus size, while the engine side runs the full trained
    * pipeline (train → segmentation → dense id assignment → inverse
    * map → ordered per-doc reassembly). Any id collision, dropped or
    * misordered symbol, or segmentation defect breaks the equality
    * differentially against an independent one-line recomputation.
    *
    * Scale shape: [[tokenIdsFrame]]'s plan (one corpus scan, one
    * broadcast join, one sort-by-position aggregate) plus one
    * map-side transform over a vocabulary-bounded symbol-array plan
    * literal — no new exchange, no new scan. */
  def decode(spark: SparkSession, sfDir: String): DataFrame = {
    // index i holds the symbol with id i+1 — the SAME collected array
    // tokenIdsFrame's forward map is built from (symbolVocab), so the
    // two maps are bijection-consistent by construction. Note the
    // oracle below is the round-trip identity: it pins that
    // decode ∘ tokenIds == concat-of-tokens, while the actual id
    // VALUES are pinned by bpe_token_ids' own replay oracle.
    val symArr = typedlit(symbolVocab(spark, sfDir))
    tokenIdsFrame(spark, sfDir)
      .select(col("doc_id"),
        array_join(transform(col("ids"),
          id => element_at(symArr, id.cast("int"))), "").as("decoded"))
      .orderBy(col("doc_id").asc)
  }

  /** [[decode]]'s oracle: the round-trip IDENTITY — tokens of the
    * original text concatenated in order, no training replay. Docs
    * whose token list is empty are excluded (the engine side's
    * inner join to the vocabulary emits no rows for them). */
  def decodeSql(): String =
    """SELECT doc_id,
      |       array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), '') AS decoded
      |FROM documents
      |WHERE text IS NOT NULL
      |  AND len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
      |ORDER BY doc_id ASC""".stripMargin

  /** `sequence_packing` fed END-TO-END from the trained tokenizer:
    * the greedy concat-and-chunk packer ([[Packing.packCore]]) running
    * on [[encode]]'s per-doc BPE token counts instead of whitespace
    * counts — the pipeline a pretraining job actually runs (tokenize,
    * then pack the TOKENIZED lengths). Inner-join semantics: only
    * documents with at least one trained-vocabulary word pack (the
    * same row set [[encode]] emits). Plan shape = one broadcast
    * hash-join over the one corpus scan, then the sharded packing
    * window — no new exchange vs either parent. */
  def packFromBpe(spark: SparkSession, sfDir: String): DataFrame =
    Packing.packCore(spark,
      encode(spark, sfDir)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_toks"))
        .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
          Seq("doc_id")))

  /** [[packFromBpe]]'s oracle shape over ANY training replay: the BPE
    * count replay feeding the packing replay (same running sums, same
    * chunk boundaries). Shared by the toy and docs-scaled surfaces. */
  private def packFromBpeSqlFor(cte: String, vN: Int): String =
    s"""WITH $cte,
       |toks AS (SELECT doc_id, w AS word FROM (
       |           SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |           FROM documents WHERE text IS NOT NULL) WHERE w <> ''),
       |wl AS (SELECT word, len(string_split(seq[2:-2], '$M$M')) AS n_syms FROM v$vN),
       |bc AS (SELECT t.doc_id, CAST(SUM(wl.n_syms) AS BIGINT) AS n_toks
       |       FROM toks t JOIN wl ON wl.word = t.word GROUP BY t.doc_id),
       |d AS (SELECT doc.doc_id, doc.lang, bc.n_toks,
       |             ${graft.functions.TextOps.hash60Sql("CAST(doc.doc_id AS VARCHAR)")} % ${graft.GraftConf.DefaultPackingShards} AS shard
       |      FROM documents doc JOIN bc ON bc.doc_id = doc.doc_id),
       |c AS (SELECT doc_id, lang, shard, n_toks,
       |             CAST(SUM(n_toks) OVER (PARTITION BY lang, shard ORDER BY doc_id ASC
       |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
       |      FROM d)
       |SELECT lang, shard, (cum_toks - n_toks) // ${Packing.SeqBudget} AS seq_id,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS seq_tokens,
       |       MIN(doc_id) AS first_doc_id
       |FROM c
       |GROUP BY lang, shard, seq_id
       |ORDER BY lang ASC, shard ASC, seq_id ASC""".stripMargin

  /** [[packFromBpe]]'s oracle: the toy replay feeding the shared
    * count+pack shape. */
  def packFromBpeSql(): String = packFromBpeSqlFor(trainCte, Merges)

  // ------------------------------------------------------- scaled training

  /** Merge count for the SCALED trainer — past the unrolled-oracle toy
    * scale of [[Merges]] (the r13 constraint: the word-state CTE chain
    * is exponential under default inlining and linear only with
    * MATERIALIZED hints; 256 materialized steps replay in ~20 s). Real
    * tokenizers learn 30k-50k merges with exactly this architecture —
    * the step count changes, the shapes don't. */
  val ScaledMerges = 256

  /** Word-type cap for the scaled trainer: training consumes the TOP
    * [[TopWordTypes]] word types by corpus count (ties broken word
    * asc) — the standard frequency truncation of the word table, and
    * what makes the trainer's state BOUNDED at any corpus size (the
    * k-means-centroids discipline: driver state is ≤ 4096 slim rows
    * however many word types a 100 TB corpus has). */
  val TopWordTypes = 4096

  /** UTF-8 byte order for DRIVER-side string comparisons — DuckDB
    * compares strings as UTF-8 bytes and Spark SQL as UTF8String
    * binary (the same bytes), but Scala's default `Ordering[String]`
    * is UTF-16 code-unit order, which diverges for non-BMP code points
    * (supplementary-plane chars sort via surrogates 0xD800-0xDFFF,
    * BELOW U+E000..U+FFFF — the opposite of byte order). Every local
    * tiebreak that must match an engine-side ORDER BY uses this. */
  private[graft] val utf8Order: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The merge-learning loop as a DRIVER-side pure function of a
    * word-count table — the architecture real tokenizer trainers use
    * (one distributed corpus scan for the counts; the merge loop runs
    * in memory over the bounded word-type table, e.g. the
    * SentencePiece/HF-tokenizers shape). Identical semantics to the
    * distributed [[trainLoop]]: same marked representation, same
    * overlap-counting pair aggregate (every adjacent index pair),
    * same (count desc, lhs asc, rhs asc) tiebreak on UTF-8 byte order
    * ([[utf8Order]] — collation-independent, not Scala's UTF-16
    * default), same leftmost-first non-overlapping replace
    * (java String.replace == Spark replace == DuckDB replace). The
    * CoOccurSpec-style equivalence spec pins local == distributed on
    * the same vocabulary. Returns the learned rules AND the final
    * (word, cnt, seq) vocabulary state — the segmentation table the
    * encode path broadcasts. */
  private[graft] def trainLoopLocal(wc: Seq[(String, Long)], nMerges: Int)
      : (Seq[(Int, String, String, Long)], Seq[(String, Long, String)]) = {
    // INCREMENTAL pair maintenance (r16): the previous loop re-counted
    // every pair of every word on every one of the 256 steps —
    // O(steps × vocab × word length) string splits. A merge only
    // changes the pair multiset of words whose seq CONTAINS the merged
    // bigram, so the counts map is built once and then patched per
    // step (subtract the affected word's old pairs, apply the replace,
    // add its new pairs). Integer adds/subtracts commute, and keys are
    // removed exactly when their count reaches zero, so after every
    // step the map EQUALS the full recount (a zero-count key can never
    // linger to perturb `counts.isEmpty` or the argmax) — the merge
    // sequence is byte-identical; BpeSpec pins the replay.
    val vocab = wc.map { case (w, c) => (w, c, w.flatMap(ch => s"$M$ch$M")) }
      .toArray
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def addPairs(seq: String, cnt: Long): Unit = {
      val syms = seq.substring(1, seq.length - 1).split(s"$M$M")
      var j = 0
      while (j < syms.length - 1) {
        val key = (syms(j), syms(j + 1))
        val nv = counts.getOrElse(key, 0L) + cnt
        if (nv == 0L) counts.remove(key) else counts.update(key, nv)
        j += 1
      }
    }
    vocab.foreach { case (_, cnt, seq) => addPairs(seq, cnt) }
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    val tieOrd = Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order)
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      // exhaustion (every word a single symbol) STOPS training — an
      // exact integer condition, so the stop step is deterministic and
      // the oracle replays it for free: an empty m_i CTE leaves every
      // later v_j at the stop state (the LEFT-JOIN carry-forward in
      // [[trainCteFor]]) and emits no later merge rows, so the UNION
      // emits exactly steps 1..T and v_N is the stop vocabulary on
      // both engines. (The float-convergence "no data-dependent
      // stopping" rule doesn't apply — nothing here is approximate.)
      if (counts.isEmpty) exhausted = true
      else {
        // minBy over DISTINCT keys: the (-n, lhs, rhs) order is total
        // (keys differ in lhs or rhs), so map iteration order cannot
        // influence the winner
        val ((a, b), c) =
          counts.minBy { case ((x, y), n) => (-n, x, y) }(tieOrd)
        learned += ((step, a, b, c))
        val pat = s"$M$a$M$M$b$M"
        val rep = s"$M$a$b$M"
        var i = 0
        while (i < vocab.length) {
          val (w, cnt, seq) = vocab(i)
          if (seq.contains(pat)) {
            addPairs(seq, -cnt)
            val seq2 = seq.replace(pat, rep)
            vocab(i) = (w, cnt, seq2)
            addPairs(seq2, cnt)
          }
          i += 1
        }
        step += 1
      }
    }
    (learned.result(), vocab.toSeq)
  }

  /** Scaled trained state over an arbitrary word source, memoized per
    * (session, dir, tag) like [[train]]: the [[ScaledMerges]] rules
    * (session-conf packed) plus the final (word, cnt, seq) segmentation
    * frame over the capped vocabulary. Every surface of a tag's family
    * consumes ONE training run — without the memo each would re-collect
    * the word table and re-run the 256-step driver loop. Two
    * instantiations: `cust` (customer names — the fixture's richest
    * word universe, the scale-evidence corpus since r14) and `docs`
    * (the documents text — the corpus the SHIPPING artifacts tokenize;
    * its fixture vocabulary is small, so training exhausts before
    * [[ScaledMerges]] and exercises the carry-forward stop on both
    * engines — at a real corpus's vocabulary the same loop runs all
    * 256 steps). */
  private def trainScaledOver(spark: SparkSession, sfDir: String, tag: String,
      words: => DataFrame): (Seq[(Int, String, String, Long)], DataFrame) = {
    val vKey = s"bpe_scaled_${tag}_${ScaledMerges}_${TopWordTypes}_${Materialize.dirTag(spark, sfDir)}"
    val mKey = s"spark.graft.bpe.scaledmerges.$tag.${Materialize.dirTag(spark, sfDir)}"
    val vocabDf = Materialize.memoized(spark, vKey) {
      val wc = words
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(TopWordTypes)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val (learned, fin) = trainLoopLocal(wc, ScaledMerges)
      spark.conf.set(mKey, learned
        .map { case (s, a, b, c) => s"$s\u0001$a\u0001$b\u0001$c" }.mkString("\u0002"))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          fin.map { case (w, c, q) => Row(w, c, q) }, 1),
        StructType(Seq(StructField("word", StringType),
          StructField("cnt", LongType), StructField("seq", StringType))))
    }
    val packed = spark.conf.get(mKey)
    val ms = if (packed.isEmpty) Seq.empty
      else packed.split("\u0002").toSeq.map { r =>
        val f = r.split("\u0001"); (f(0).toInt, f(1), f(2), f(3).toLong)
      }
    (ms, vocabDf)
  }

  private def trainScaled(spark: SparkSession, sfDir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    trainScaledOver(spark, sfDir, "cust",
      Tables.customer(spark, sfDir)
        .where(col("c_name").isNotNull)
        .select(explode(graft.functions.TextOps.tokens(col("c_name"))).as("word")))

  /** The DOCUMENTS-corpus scaled trainer — the real shipping chain's
    * training step (documents text → capped word table → 256-merge
    * driver loop). Feeds [[mergesScaledDocs]], [[tokenIdsScaled]],
    * [[decodeScaled]], and [[packFromBpeScaled]] — closing the r15
    * verdict's "shipping artifacts still run the 12-merge toy" gap:
    * train → tokenize → ids → pack now all run the 256-merge
    * trainer over the corpus they ship for. */
  private def trainScaledDocs(spark: SparkSession, sfDir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    trainScaledOver(spark, sfDir, "docs",
      Tables.documents(spark, sfDir)
        .where(col("text").isNotNull)
        .select(explode(graft.functions.TextOps.tokens(col("text"))).as("word")))

  /** (step, lhs, rhs, pair_count) over [[ScaledMerges]] merges learned
    * from the `customer.c_name` identifier vocabulary (the fixture's
    * richest word universe — name vocabulary grows with the corpus, so
    * the surface is non-vacuous at every scale). One corpus scan (the
    * word-count aggregate + the bounded top-[[TopWordTypes]]
    * TakeOrdered), then the driver loop; the oracle replays the
    * identical capped vocabulary through [[ScaledMerges]] unrolled
    * MATERIALIZED CTE triples. */
  def mergesScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val (learned, _) = trainScaled(spark, sfDir)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        learned.map { case (s, a, b, c) => Row(s.toLong, a, b, c) }, 1),
      StructType(Seq(StructField("step", LongType), StructField("lhs", StringType),
        StructField("rhs", StringType), StructField("pair_count", LongType))))
      .orderBy(col("step").asc)
  }

  /** (c_custkey, n_words, n_bpe_tokens): the corpus the scaled trainer
    * trained on, TOKENIZED BY the scaled trainer — the r14 gap closed
    * (256 rules were learned but nothing encoded with them; a real
    * pipeline tokenizes with the big tokenizer it trained). Same
    * one-scan broadcast-join shape as [[encode]]: the final
    * word→segmentation table of [[trainScaled]] (≤ [[TopWordTypes]]
    * rows) broadcasts and corpus words inner-join it — words outside
    * the capped training vocabulary don't count, the same inner-join
    * semantics [[encode]] pins. Output is bounded by [[TopWordTypes]]
    * word types however big the corpus is, which is also what keeps
    * the 256-step oracle replay corpus-size-independent past its one
    * word-count scan. */
  def encodeScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, v) = trainScaled(spark, sfDir)
    val wordLen = broadcast(v.select(col("word"), size(symsOf(col("seq"))).as("n_syms")))
    Tables.customer(spark, sfDir)
      .where(col("c_name").isNotNull)
      .select(col("c_custkey"), explode(graft.functions.TextOps.tokens(col("c_name"))).as("word"))
      .join(wordLen, Seq("word"))
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
      .orderBy(col("c_custkey").asc)
  }

  // ------------------------------------------- scaled shipping chain (docs)

  /** (step, lhs, rhs, pair_count) learned by the DOCUMENTS scaled
    * trainer — the merge-rule artifact of the shipping chain. On the
    * fixture's small documents vocabulary training exhausts before
    * [[ScaledMerges]] (the pinned early stop), so this surface is the
    * standing value-level evidence that the carry-forward semantics
    * agree between the driver loop and the unrolled replay. */
  def mergesScaledDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val (learned, _) = trainScaledDocs(spark, sfDir)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        learned.map { case (s, a, b, c) => Row(s.toLong, a, b, c) }, 1),
      StructType(Seq(StructField("step", LongType), StructField("lhs", StringType),
        StructField("rhs", StringType), StructField("pair_count", LongType))))
      .orderBy(col("step").asc)
  }

  /** The docs-scaled trained segmentations collected locally — the
    * bounded artifact collect (≤ [[TopWordTypes]] slim rows, the
    * k-means-centroids discipline): (word, symbols). */
  private def scaledDocsSegs(spark: SparkSession, sfDir: String)
      : IndexedSeq[(String, IndexedSeq[String])] =
    trainScaledDocs(spark, sfDir)._2.collect().toIndexedSeq.map { r =>
      val seq = r.getString(2)
      (r.getString(0),
        seq.substring(1, seq.length - 1).split(s"$M$M").toIndexedSeq)
    }

  /** The docs-scaled symbol vocabulary (symbol-ascending UTF-8 byte
    * order — [[utf8Order]], matching both engines' binary string sort)
    * and the word→id-array table, BOTH derived from one collected
    * state so forward and inverse maps cannot drift (the same
    * discipline [[symbolVocab]] applies to the toy tokenizer). The
    * id table is ≤ [[TopWordTypes]] rows — always broadcastable. */
  private def scaledDocsWordIds(spark: SparkSession, sfDir: String)
      : (IndexedSeq[String], DataFrame) = {
    val segs = scaledDocsSegs(spark, sfDir)
    val syms = segs.flatMap(_._2).distinct.sorted(utf8Order)
    val id = syms.zipWithIndex.map { case (s, i) => s -> (i + 1).toLong }.toMap
    val wordIds = spark.createDataFrame(
      spark.sparkContext.parallelize(
        segs.map { case (w, ss) => Row(w, ss.map(id)) }, 1),
      StructType(Seq(StructField("word", StringType),
        StructField("wids", ArrayType(LongType)))))
    (syms, wordIds)
  }

  /** [[tokenIdsFrame]]'s twin under the DOCS-SCALED tokenizer: the
    * shipping token-id sequences now come from the 256-merge trainer,
    * not the 12-merge toy (r15 verdict item 1). Identical corpus-side
    * plan ([[tokenIdsOver]]); only the broadcast word→ids provenance
    * changes. Inner-join semantics: words outside the capped training
    * vocabulary drop (the [[encodeScaled]] rule). */
  private[graft] def tokenIdsScaledFrame(spark: SparkSession, sfDir: String): DataFrame =
    tokenIdsOver(spark, sfDir, broadcast(scaledDocsWordIds(spark, sfDir)._2))

  /** The registered docs-scaled token-ids surface (ids as the canonical
    * space-joined string — the driver-gate scalar rule). */
  def tokenIdsScaled(spark: SparkSession, sfDir: String): DataFrame =
    tokenIdsScaledFrame(spark, sfDir)
      .select(col("doc_id"), col("n_bpe_tokens"),
        array_join(col("ids"), " ").as("ids"))
      .orderBy(col("doc_id").asc)

  /** Detokenization round-trip under the docs-scaled tokenizer:
    * decode ∘ tokenIdsScaled == the in-vocabulary tokens concatenated
    * in order. The oracle needs NO training replay — vocabulary
    * membership is decided by the top-[[TopWordTypes]] cap alone (one
    * word aggregate), because a word's segmentation always concatenates
    * back to the word itself. Engine side runs the full chain
    * (256-merge training → dense ids → inverse map → reassembly); the
    * oracle recomputes the answer from raw text in one cheap pass. */
  def decodeScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val symArr = typedlit(scaledDocsWordIds(spark, sfDir)._1.toSeq)
    tokenIdsScaledFrame(spark, sfDir)
      .select(col("doc_id"),
        array_join(transform(col("ids"),
          id => element_at(symArr, id.cast("int"))), "").as("decoded"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-doc token counts under the docs-scaled tokenizer — internal
    * (feeds [[packFromBpeScaled]]); the [[encode]] broadcast-join
    * shape over the docs-scaled segmentation table. */
  private def encodeScaledDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, v) = trainScaledDocs(spark, sfDir)
    val wordLen = broadcast(v.select(col("word"), size(symsOf(col("seq"))).as("n_syms")))
    Tables.documents(spark, sfDir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), explode(graft.functions.TextOps.tokens(col("text"))).as("word"))
      .join(wordLen, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_syms")).as("n_toks"))
  }

  /** Sequence packing fed by the DOCS-SCALED tokenizer — the complete
    * shipping pipeline (documents text → 256-merge trainer → tokenized
    * lengths → greedy concat-and-chunk packing) as one oracled query.
    * Same plan as [[packFromBpe]]; only the count provenance changes
    * (the [[Packing.packCore]] contract). */
  def packFromBpeScaled(spark: SparkSession, sfDir: String): DataFrame =
    Packing.packCore(spark,
      encodeScaledDocs(spark, sfDir)
        .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
          Seq("doc_id")))

  // ---------------------------------------------------------------- oracle

  /** Training replay: w (word counts), v0 (wrapped chars), then per
    * step i: p_i (pair counts) → m_i (argmax) → v_i (merge applied).
    * Every state CTE is MATERIALIZED: v_{i-1} is referenced TWICE per
    * step (directly by v_i and via p_i → m_i), so DuckDB's default
    * CTE inlining doubles the expansion per merge — 2^Merges copies
    * of the corpus scan (passed at sf0.01, timed out at sf1) — the
    * same exponential-inlining shape the k-core oracle hit; m_i is
    * materialized too because [[mergesSql]]'s final UNION references
    * each decision row a second time. */
  private def trainCte: String = trainCteFor(
    """SELECT unnest(string_split(text, ' ')) AS w
      |       FROM documents WHERE text IS NOT NULL""".stripMargin, Merges, None)

  /** [[trainCte]] parameterized over the word source, merge count, and
    * an optional top-N word-type cap (ORDER BY cnt DESC, word ASC —
    * the [[mergesScaled]] trainer's bounded-state rule). */
  private def trainCteFor(wordsSrcSql: String, nMerges: Int,
                          topN: Option[Int]): String = {
    val v0Src = topN match {
      case Some(n) => s"(SELECT * FROM w ORDER BY cnt DESC, word ASC LIMIT $n)"
      case None => "w"
    }
    val head =
      s"""w AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |       $wordsSrcSql) WHERE w <> '' GROUP BY w),
         |v0 AS MATERIALIZED (SELECT word, cnt, regexp_replace(word, '(.)', '$M\\1$M', 'g') AS seq FROM $v0Src)""".stripMargin
    // v_i carries FORWARD when m_i is empty (LEFT JOIN ON TRUE + CASE):
    // under an exhaustion stop at step T < nMerges (possible for the
    // scaled trainer; impossible for the 12-merge path, which requires
    // non-exhaustion) the comma-join form would empty every v_{>T} and
    // an encode oracle reading v_N would see zero rows while the
    // engine serves the stop-state vocabulary. With the carry-forward,
    // v_N IS the stop state and the merge UNION still emits exactly
    // steps 1..T — identical to the driver loop on both counts.
    val steps = (1 to nMerges).map { i =>
      s"""p$i AS (SELECT syms[j] AS a, syms[j + 1] AS b, SUM(cnt) AS c
         |        FROM (SELECT cnt, string_split(seq[2:-2], '$M$M') AS syms FROM v${i - 1}),
         |             unnest(range(1, len(syms))) AS r(j)
         |        GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT a, b, CAST(c AS BIGINT) AS c FROM p$i
         |        ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |v$i AS MATERIALIZED (SELECT word, cnt,
         |               CASE WHEN m.a IS NULL THEN seq
         |                    ELSE replace(seq, '$M' || m.a || '$M$M' || m.b || '$M',
         |                                 '$M' || m.a || m.b || '$M') END AS seq
         |        FROM v${i - 1} LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + steps
  }

  /** [[merges]]'s oracle: the full unrolled training replay. */
  def mergesSql(): String = {
    val rows = (1 to Merges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"WITH ${trainCte}\n$rows\nORDER BY step ASC"
  }

  /** [[vocab]]'s oracle: symbol counts off the final replayed state. */
  def vocabSql(): String =
    s"""WITH ${trainCte}
       |SELECT s AS symbol, CAST(SUM(cnt) AS BIGINT) AS occurrences
       |FROM (SELECT cnt, unnest(string_split(seq[2:-2], '$M$M')) AS s FROM v$Merges)
       |GROUP BY s ORDER BY symbol ASC""".stripMargin

  /** [[encode]]'s oracle: corpus words joined to the replayed final
    * segmentation. */
  def encodeSql(): String =
    s"""WITH ${trainCte},
       |toks AS (SELECT doc_id, w AS word FROM (
       |           SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |           FROM documents WHERE text IS NOT NULL) WHERE w <> ''),
       |wl AS (SELECT word, len(string_split(seq[2:-2], '$M$M')) AS n_syms FROM v$Merges)
       |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(wl.n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM toks t JOIN wl ON wl.word = t.word
       |GROUP BY t.doc_id ORDER BY t.doc_id ASC""".stripMargin

  /** [[tokenIds]]'s oracle shape over ANY training replay: symbol ids
    * by ROW_NUMBER over the symbol-ascending final vocabulary →
    * per-word id arrays in segmentation order → per-doc concatenation
    * in token order. Shared by the toy ([[tokenIdsSql]]) and the
    * docs-scaled ([[tokenIdsScaledSql]]) surfaces — the same
    * single-assembly discipline as [[tokenIdsOver]]. */
  private def tokenIdsSqlFor(cte: String, vN: Int): String =
    s"""WITH $cte,
       |sy AS (SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s ASC) AS BIGINT) AS sid
       |       FROM (SELECT DISTINCT unnest(string_split(seq[2:-2], '$M$M')) AS s FROM v$vN)),
       |ws AS (SELECT word, syms[i.i] AS s, i.i AS spos
       |       FROM (SELECT word, string_split(seq[2:-2], '$M$M') AS syms FROM v$vN),
       |            unnest(range(1, len(syms) + 1)) AS i(i)),
       |wids AS (SELECT ws.word, list(sy.sid ORDER BY ws.spos ASC) AS wids
       |         FROM ws JOIN sy ON sy.s = ws.s GROUP BY ws.word),
       |toks AS (SELECT doc_id, i.i AS pos, toks[i.i] AS word
       |         FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |               FROM documents WHERE text IS NOT NULL),
       |              unnest(range(1, len(toks) + 1)) AS i(i))
       |SELECT t.doc_id,
       |       CAST(len(flatten(list(w.wids ORDER BY t.pos ASC))) AS BIGINT) AS n_bpe_tokens,
       |       array_to_string(flatten(list(w.wids ORDER BY t.pos ASC)), ' ') AS ids
       |FROM toks t JOIN wids w ON w.word = t.word
       |GROUP BY t.doc_id ORDER BY t.doc_id ASC""".stripMargin

  /** [[tokenIds]]'s oracle: the toy (12-merge) replay feeding the
    * shared id-assembly shape. */
  def tokenIdsSql(): String = tokenIdsSqlFor(trainCte, Merges)

  /** [[mergesScaled]]'s oracle: the identical top-[[TopWordTypes]]
    * capped vocabulary replayed through [[ScaledMerges]] unrolled
    * MATERIALIZED step triples. */
  def mergesScaledSql(): String = {
    val rows = (1 to ScaledMerges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    val cte = trainCteFor(
      "SELECT unnest(string_split(c_name, ' ')) AS w FROM customer WHERE c_name IS NOT NULL",
      ScaledMerges, Some(TopWordTypes))
    s"WITH $cte\n$rows\nORDER BY step ASC"
  }

  /** [[encodeScaled]]'s oracle: the capped-vocab 256-step replay, then
    * customer name words joined to the replayed final segmentation —
    * [[encodeSql]]'s shape over the scaled trainer's state. */
  def encodeScaledSql(): String = {
    val cte = trainCteFor(
      "SELECT unnest(string_split(c_name, ' ')) AS w FROM customer WHERE c_name IS NOT NULL",
      ScaledMerges, Some(TopWordTypes))
    s"""WITH $cte,
       |toks AS (SELECT c_custkey, w AS word FROM (
       |           SELECT c_custkey, unnest(string_split(c_name, ' ')) AS w
       |           FROM customer WHERE c_name IS NOT NULL) WHERE w <> ''),
       |wl AS (SELECT word, len(string_split(seq[2:-2], '$M$M')) AS n_syms FROM v$ScaledMerges)
       |SELECT t.c_custkey, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(wl.n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM toks t JOIN wl ON wl.word = t.word
       |GROUP BY t.c_custkey ORDER BY t.c_custkey ASC""".stripMargin
  }

  /** The DOCUMENTS-corpus scaled training replay — [[trainCteFor]] at
    * ([[ScaledMerges]], top-[[TopWordTypes]]) over the documents word
    * table; the oracle prefix of every docs-scaled-chain surface. */
  private def docsScaledCte: String = trainCteFor(
    """SELECT unnest(string_split(text, ' ')) AS w
      |       FROM documents WHERE text IS NOT NULL""".stripMargin,
    ScaledMerges, Some(TopWordTypes))

  /** [[mergesScaledDocs]]'s oracle: the docs-corpus capped-vocab replay;
    * under exhaustion at step T the m_{>T} CTEs are empty, so the UNION
    * emits exactly steps 1..T — the carry-forward contract. */
  def mergesScaledDocsSql(): String = {
    val rows = (1 to ScaledMerges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"WITH $docsScaledCte\n$rows\nORDER BY step ASC"
  }

  /** [[tokenIdsScaled]]'s oracle: the docs-scaled replay feeding the
    * shared id-assembly shape. */
  def tokenIdsScaledSql(): String = tokenIdsSqlFor(docsScaledCte, ScaledMerges)

  /** [[decodeScaled]]'s oracle: the round-trip identity restricted to
    * the capped training vocabulary — NO training replay (a word's
    * segmentation concatenates back to the word, so only vocabulary
    * MEMBERSHIP matters, and that is decided by the top-[[TopWordTypes]]
    * cap over the word aggregate alone). Constant-cost at any corpus
    * size past the one word-count scan. */
  def decodeScaledSql(): String =
    s"""WITH w AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |       SELECT unnest(string_split(text, ' ')) AS w
       |       FROM documents WHERE text IS NOT NULL) WHERE w <> '' GROUP BY w),
       |vv AS (SELECT word FROM w ORDER BY cnt DESC, word ASC LIMIT $TopWordTypes),
       |toks AS (SELECT doc_id, i.i AS pos, toks[i.i] AS word
       |         FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |               FROM documents WHERE text IS NOT NULL),
       |              unnest(range(1, len(toks) + 1)) AS i(i))
       |SELECT t.doc_id,
       |       array_to_string(list(t.word ORDER BY t.pos ASC), '') AS decoded
       |FROM toks t JOIN vv ON vv.word = t.word
       |GROUP BY t.doc_id ORDER BY t.doc_id ASC""".stripMargin

  /** [[packFromBpeScaled]]'s oracle: the docs-scaled replay feeding the
    * shared count+pack shape. */
  def packFromBpeScaledSql(): String =
    packFromBpeSqlFor(docsScaledCte, ScaledMerges)
}
