package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.Tables

/** Byte-pair-encoding tokenizer TRAINING and serving — the
  * vocabulary-learning step every LLM data pipeline runs before
  * tokenizing a corpus (Sennrich et al., ACL'16 word-level BPE):
  * greedily merge the most frequent adjacent symbol pair, N times,
  * starting from per-character symbols.
  *
  * Scale shape — the architecture real tokenizer trainers use
  * (SentencePiece, HF tokenizers): ONE distributed corpus scan builds
  * the word-frequency table and keeps its top [[TopWordTypes]] word
  * types (one bounded TakeOrdered collect); the merge loop
  * ([[trainLoop]]) then runs in driver memory over that bounded table,
  * weighting each candidate pair by the word's corpus count. Training
  * never touches the corpus again, and driver state is ≤ 4096 slim
  * rows however many word types the corpus has (the k-means-centroids
  * discipline). Serving never re-runs merges over corpus tokens: the
  * trained word→segmentation table broadcasts and corpus words join it
  * — one broadcast hash join, zero added shuffles.
  *
  * Three registered tokenizers share that one trainer, differing only
  * in corpus and merge count ([[Tokenizer]]): [[Toy]] (12 merges over
  * `documents`), [[CustScaled]] (256 over `customer.c_name`) and
  * [[DocsScaled]] (256 over `documents`). Each is trained once per
  * (session, corpus listing) and every surface of it reads that memo.
  *
  * Pinned representation (identical on both engines so the oracle can
  * replay training exactly): a word's symbol sequence is the string
  * `·s1··s2··…··sn·` — every symbol (initially one code point, so
  * an emoji or a rare CJK char is one symbol) wrapped in `·` (U+00B7,
  * not in the corpus alphabet; [[graft.sources.Tables]] fixtures are
  * lowercase ASCII). Wrapping each symbol in its OWN marker pair
  * makes merge application a plain left-to-right `replace(seq,
  * "·a··b·", "·ab·")`: adjacent occurrences don't share a separator
  * char, so non-overlapping replace-all consumes `a b a b` into
  * `ab ab` — the canonical leftmost-first BPE merge order.
  *
  * Determinism: pair counts are exact int64 sums of int64 word
  * counts; the per-step argmax tiebreaks (count desc, left asc,
  * right asc) on UTF-8 byte order — no floats anywhere in training.
  */
object Bpe {

  /** Merge count of the [[Toy]] tokenizer. */
  val Merges = 12

  /** Merge count of the scaled tokenizers. The oracle replays training
    * as unrolled MATERIALIZED CTE triples (the r13 constraint: the
    * word-state CTE chain is exponential under default inlining and
    * linear only with MATERIALIZED hints; 256 steps replay in ~20 s).
    * Real tokenizers learn 30k-50k merges with exactly this
    * architecture — the step count changes, the shapes don't. */
  val ScaledMerges = 256

  /** Word-type cap of every tokenizer: training consumes the TOP
    * [[TopWordTypes]] word types by corpus count (ties broken word
    * asc) — the standard frequency truncation of the word table, and
    * what makes the trainer's state BOUNDED at any corpus size. */
  val TopWordTypes = 4096

  private val M = "·" // symbol marker

  /** Symbols of a wrapped sequence: strip the outer markers, split on
    * the doubled inner marker. */
  private def symsOf(seq: Column): Column =
    split(seq.substr(lit(2), length(seq) - 2), s"$M$M")

  private def symsOf(seq: String): IndexedSeq[String] =
    seq.substring(1, seq.length - 1).split(s"$M$M").toIndexedSeq

  /** A training and serving corpus: a fixture table, its row key and
    * its whitespace-tokenized text column. */
  private[graft] final case class Corpus(table: String, key: String, text: String)

  /** One trained tokenizer: its corpus and merge count. */
  private[graft] final case class Tokenizer(corpus: Corpus, nMerges: Int)

  private val Docs = Corpus("documents", "doc_id", "text")

  /** 12 merges over `documents` — small enough for the oracle replay
    * to run at every fixture scale. */
  val Toy: Tokenizer = Tokenizer(Docs, Merges)

  /** 256 merges over the `customer.c_name` identifier vocabulary — the
    * fixture's richest word universe, which grows with the corpus, so
    * the surfaces are non-vacuous at every scale. */
  val CustScaled: Tokenizer = Tokenizer(Corpus("customer", "c_custkey", "c_name"), ScaledMerges)

  /** 256 merges over `documents` — the shipping chain (train → token
    * ids → pack) over the corpus it ships for. The fixture's documents
    * vocabulary is small, so training exhausts before [[ScaledMerges]]
    * and standing-verifies the carry-forward stop on both engines. */
  val DocsScaled: Tokenizer = Tokenizer(Docs, ScaledMerges)

  /** (key, word): one row per token of the corpus's non-null text. */
  private def words(spark: SparkSession, sfDir: String, c: Corpus): DataFrame =
    Tables.load(spark, sfDir, c.table)
      .where(col(c.text).isNotNull)
      .select(col(c.key), explode(graft.functions.TextOps.tokens(col(c.text))).as("word"))

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

  /** The merge-learning loop, a pure function of a word-count table:
    * the marked representation, the overlap-counting pair aggregate
    * (every adjacent index pair), the (count desc, lhs asc, rhs asc)
    * tiebreak on UTF-8 byte order ([[utf8Order]] — collation-
    * independent, not Scala's UTF-16 default) and the leftmost-first
    * non-overlapping replace (java String.replace == Spark replace ==
    * DuckDB replace). Returns the learned (step, lhs, rhs, pair_count)
    * rules AND the final (word, cnt, seq) vocabulary state — the
    * segmentation table the serving paths broadcast. */
  private[graft] def trainLoop(wc: Seq[(String, Long)], nMerges: Int)
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
    // wrap per CODE POINT (a non-BMP char is one symbol, not two lone
    // surrogates) with exactly the oracle's regexp_replace(word, '(.)',
    // …): RE2's `.` skips only '\n', as Java's does under (?d)
    val vocab = wc.map { case (w, c) => (w, c, w.replaceAll("(?d)(.)", s"$M$$1$M")) }
      .toArray
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def addPairs(seq: String, cnt: Long): Unit = {
      val syms = symsOf(seq)
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
      // exhaustion (every word a single symbol, or no words at all)
      // STOPS training — an exact integer condition, so the stop step is
      // deterministic and the oracle replays it for free: an empty m_i
      // CTE leaves every later v_j at the stop state (the LEFT-JOIN
      // carry-forward in [[trainCteFor]]) and emits no later merge rows,
      // so the UNION emits exactly steps 1..T and v_N is the stop
      // vocabulary on both engines.
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

  /** One tokenizer's training output: the learned (step, lhs, rhs,
    * pair_count) rules, the final (word, cnt, seq) segmentation frame
    * over the capped vocabulary, and its symbol vocabulary in
    * symbol-ascending UTF-8 byte order ([[utf8Order]], matching both
    * engines' binary string sort). */
  private final case class Trained(rules: Seq[(Int, String, String, Long)],
      state: DataFrame, symbols: IndexedSeq[String])

  /** Trained state of `t`, memoized per (session, corpus listing); the
    * rules and the symbol array are session-conf packed next to the
    * checkpointed state. Every surface of a tokenizer consumes ONE
    * training run and no serving query collects anything — without the
    * memo each would re-collect the word table and re-run the driver
    * loop. */
  private def trainOver(spark: SparkSession, sfDir: String, t: Tokenizer): Trained = {
    val id = s"${t.corpus.table}_${t.nMerges}_${TopWordTypes}_${Materialize.dirTag(spark, sfDir)}"
    val rulesKey = s"spark.graft.bpe.rules.$id"
    val symsKey = s"spark.graft.bpe.syms.$id"
    val state = Materialize.memoized(spark, s"bpe_$id") {
      val wc = words(spark, sfDir, t.corpus)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(TopWordTypes)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val (learned, fin) = trainLoop(wc, t.nMerges)
      spark.conf.set(rulesKey, learned
        .map { case (s, a, b, c) => s"$s\u0001$a\u0001$b\u0001$c" }.mkString("\u0002"))
      spark.conf.set(symsKey, fin.flatMap { case (_, _, q) => symsOf(q) }
        .distinct.sorted(utf8Order).mkString("\u0001"))
      spark.createDataFrame(
        spark.sparkContext.parallelize(fin.map { case (w, c, q) => Row(w, c, q) }, 1),
        StructType(Seq(StructField("word", StringType),
          StructField("cnt", LongType), StructField("seq", StringType))))
    }
    def unpack(key: String, sep: String): IndexedSeq[String] = {
      val packed = spark.conf.get(key)
      if (packed.isEmpty) IndexedSeq.empty else packed.split(sep).toIndexedSeq
    }
    val rules = unpack(rulesKey, "\u0002").map { r =>
      val f = r.split("\u0001"); (f(0).toInt, f(1), f(2), f(3).toLong)
    }
    Trained(rules, state, unpack(symsKey, "\u0001"))
  }

  /** (step, lhs, rhs, pair_count): the learned merge rules in learning
    * order — the tokenizer artifact a training pipeline ships. Also the
    * output of the `bpe_build*` registrations, which sort first in the
    * family so an alphabetical sweep bills the training memo to them
    * and the serving queries measure warm (the `pq_build` policy). */
  def merges(t: Tokenizer)(spark: SparkSession, sfDir: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(trainOver(spark, sfDir, t).rules
        .map { case (s, a, b, c) => Row(s.toLong, a, b, c) }, 1),
      StructType(Seq(StructField("step", LongType), StructField("lhs", StringType),
        StructField("rhs", StringType), StructField("pair_count", LongType))))
      .orderBy(col("step").asc)

  /** (symbol, occurrences): corpus-weighted counts of the post-merge
    * symbol vocabulary (token frequency under the trained tokenizer),
    * symbol asc. */
  def vocab(t: Tokenizer)(spark: SparkSession, sfDir: String): DataFrame =
    trainOver(spark, sfDir, t).state
      .select(col("cnt"), explode(symsOf(col("seq"))).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("cnt")).as("occurrences"))
      .orderBy(col("symbol").asc)

  /** (key, n_words, n_bpe_tokens): per-row token counts of the corpus
    * under its trained tokenizer — the corpus ENCODE path. The trained
    * word→segmentation table (≤ [[TopWordTypes]] rows) broadcasts and
    * corpus words inner-join it: words outside the capped training
    * vocabulary don't count, and rows with no trained word emit
    * nothing. No merge rule ever re-applies per corpus token. */
  def encode(t: Tokenizer)(spark: SparkSession, sfDir: String): DataFrame = {
    val wordLen = broadcast(trainOver(spark, sfDir, t).state
      .select(col("word"), size(symsOf(col("seq"))).as("n_syms")))
    val key = col(t.corpus.key)
    words(spark, sfDir, t.corpus)
      .join(wordLen, Seq("word"))
      .groupBy(key)
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
      .orderBy(key.asc)
  }

  /** The trained symbol vocabulary ([[Trained.symbols]]) and the
    * (word, wids) table of each word's dense 1-based symbol ids, mapped
    * through a plan-literal map built from that same array, so the
    * forward and inverse maps cannot drift. Built off the memo without
    * a Spark job; the id table is ≤ [[TopWordTypes]] rows — always
    * broadcastable. */
  private def symbolIds(spark: SparkSession, sfDir: String, t: Tokenizer)
      : (IndexedSeq[String], DataFrame) = {
    val tr = trainOver(spark, sfDir, t)
    val idMap = typedlit(
      tr.symbols.zipWithIndex.map { case (s, i) => s -> (i + 1).toLong }.toMap)
    (tr.symbols, tr.state.select(col("word"),
      transform(symsOf(col("seq")), s => element_at(idMap, s)).as("wids")))
  }

  /** (key, n_bpe_tokens, ids): per-row TOKEN-ID SEQUENCES of `c` —
    * the tokenize step's shipping artifact (what [[encode]]'s counts
    * summarize). A row's `ids` is the concatenation of its
    * in-vocabulary words' id arrays in token order: corpus tokens
    * hash-join the broadcast (word, wids) table carrying only
    * (key, pos, word), then one sort-by-position aggregate per row —
    * the same one-scan broadcast-join shape as [[encode]] for any
    * trained vocabulary. */
  private def tokenIdsOver(spark: SparkSession, sfDir: String, c: Corpus,
      wordIds: DataFrame): DataFrame = {
    val key = col(c.key)
    Tables.load(spark, sfDir, c.table)
      .where(col(c.text).isNotNull)
      .select(key,
        posexplode(graft.functions.TextOps.tokens(col(c.text))).as(Seq("pos", "word")))
      .join(broadcast(wordIds), Seq("word"))
      .groupBy(key)
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("wids")))),
        x => x.getField("wids"))).as("ids"))
      .select(key, size(col("ids")).cast("long").as("n_bpe_tokens"), col("ids"))
      .orderBy(key.asc)
  }

  /** [[tokenIdsOver]] under `t`'s trained vocabulary, with ids as
    * `array<bigint>` — the shape a downstream packing/training
    * consumer wants. */
  private[graft] def tokenIdsFrame(t: Tokenizer)(spark: SparkSession, sfDir: String): DataFrame =
    tokenIdsOver(spark, sfDir, t.corpus, symbolIds(spark, sfDir, t)._2)

  /** The registered token-ids surface: [[tokenIdsFrame]] with `ids` as
    * the space-joined canonical string, because the round driver's
    * correctness gate sorts result rows through pandas `sort_values`,
    * which cannot factorize array cells (the r14 red row: `TypeError:
    * unhashable type: 'numpy.ndarray'`). The oracle joins the identical
    * string (`array_to_string`), so the value check is unchanged. */
  def tokenIds(t: Tokenizer)(spark: SparkSession, sfDir: String): DataFrame = {
    val key = col(t.corpus.key)
    tokenIdsFrame(t)(spark, sfDir)
      .select(key, col("n_bpe_tokens"), array_join(col("ids"), " ").as("ids"))
      .orderBy(key.asc)
  }

  /** Detokenization — the inverse of [[tokenIds]]: map every id back
    * to its symbol through the inverted plan-literal id map
    * (element_at over the symbol array, ids are 1-based by
    * construction) and re-concatenate per document in token order.
    *
    * Registered as a ROUND-TRIP integrity surface: a word's
    * segmentation concatenates back to the word itself (merges only
    * ever concatenate a word's own characters), so
    * decode(tokenIds(doc)) must equal the document's in-vocabulary
    * tokens concatenated in order. That makes the oracle ([[decodeSql]])
    * the identity restricted to the capped vocabulary — NO training
    * replay — while the engine side runs the full trained pipeline
    * (train → segmentation → dense id assignment → inverse map →
    * ordered per-doc reassembly). Any id collision, dropped or
    * misordered symbol, or segmentation defect breaks the equality; the
    * id VALUES themselves are pinned by the token-ids replay oracle. */
  def decode(t: Tokenizer)(spark: SparkSession, sfDir: String): DataFrame = {
    val (syms, wordIds) = symbolIds(spark, sfDir, t)
    val symArr = typedlit(syms.toSeq)
    val key = col(t.corpus.key)
    tokenIdsOver(spark, sfDir, t.corpus, wordIds)
      .select(key,
        array_join(transform(col("ids"),
          id => element_at(symArr, id.cast("int"))), "").as("decoded"))
      .orderBy(key.asc)
  }

  /** `sequence_packing` fed END-TO-END from a trained tokenizer: the
    * greedy concat-and-chunk packer ([[Packing.packCore]]) running on
    * [[encode]]'s per-doc BPE token counts instead of whitespace
    * counts — the pipeline a pretraining job actually runs (tokenize,
    * then pack the TOKENIZED lengths). Only documents with at least
    * one trained-vocabulary word pack (the row set [[encode]] emits). */
  def packFromBpe(t: Tokenizer)(spark: SparkSession, sfDir: String): DataFrame =
    Packing.packCore(spark,
      encode(t)(spark, sfDir)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_toks"))
        .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
          Seq("doc_id")))

  // ---------------------------------------------------------------- oracle

  /** `w`: (word, cnt) over the corpus's non-empty tokens. */
  private def wordCountCte(c: Corpus): String =
    s"""w AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |       SELECT unnest(string_split(${c.text}, ' ')) AS w
       |       FROM ${c.table} WHERE ${c.text} IS NOT NULL) WHERE w <> '' GROUP BY w)""".stripMargin

  /** Training replay of `t`: w (word counts), v0 (wrapped chars of the
    * top-[[TopWordTypes]] word types, ORDER BY cnt DESC, word ASC —
    * the trainer's cap), then per step i: p_i (pair counts) → m_i
    * (argmax) → v_i (merge applied). Every state CTE is MATERIALIZED:
    * v_{i-1} is referenced TWICE per step (directly by v_i and via
    * p_i → m_i), so DuckDB's default CTE inlining doubles the expansion
    * per merge — 2^N copies of the corpus scan (the exponential-inlining
    * shape the k-core oracle hit); m_i is materialized too because
    * [[mergesSql]]'s final UNION references each decision row a second
    * time. */
  private def trainCteFor(t: Tokenizer): String = {
    val head =
      s"""${wordCountCte(t.corpus)},
         |v0 AS MATERIALIZED (SELECT word, cnt, regexp_replace(word, '(.)', '$M\\1$M', 'g') AS seq
         |        FROM (SELECT * FROM w ORDER BY cnt DESC, word ASC LIMIT $TopWordTypes))""".stripMargin
    // v_i carries FORWARD when m_i is empty (LEFT JOIN ON TRUE + CASE):
    // under an exhaustion stop at step T < nMerges the comma-join form
    // would empty every v_{>T} and an encode oracle reading v_N would
    // see zero rows while the engine serves the stop-state vocabulary.
    // With the carry-forward, v_N IS the stop state and the merge UNION
    // still emits exactly steps 1..T — identical to the driver loop on
    // both counts.
    val steps = (1 to t.nMerges).map { i =>
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

  /** `toks`: (key, word), one row per non-empty token of the corpus. */
  private def toksCte(c: Corpus): String =
    s"""toks AS (SELECT ${c.key}, w AS word FROM (
       |           SELECT ${c.key}, unnest(string_split(${c.text}, ' ')) AS w
       |           FROM ${c.table} WHERE ${c.text} IS NOT NULL) WHERE w <> '')""".stripMargin

  /** `wl`: (word, n_syms) off the replayed final state. */
  private def wordLenCte(t: Tokenizer): String =
    s"wl AS (SELECT word, len(string_split(seq[2:-2], '$M$M')) AS n_syms FROM v${t.nMerges})"

  /** `toks`: (key, pos, word) over the corpus's non-empty tokens. */
  private def posToksCte(c: Corpus): String =
    s"""toks AS (SELECT ${c.key}, i.i AS pos, toks[i.i] AS word
       |         FROM (SELECT ${c.key}, list_filter(string_split(${c.text}, ' '), x -> x <> '') AS toks
       |               FROM ${c.table} WHERE ${c.text} IS NOT NULL),
       |              unnest(range(1, len(toks) + 1)) AS i(i))""".stripMargin

  /** [[merges]]'s oracle: the full unrolled training replay; under
    * exhaustion at step T the m_{>T} CTEs are empty, so the UNION emits
    * exactly steps 1..T — the carry-forward contract. */
  def mergesSql(t: Tokenizer): String = {
    val rows = (1 to t.nMerges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"WITH ${trainCteFor(t)}\n$rows\nORDER BY step ASC"
  }

  /** [[vocab]]'s oracle: symbol counts off the final replayed state. */
  def vocabSql(t: Tokenizer): String =
    s"""WITH ${trainCteFor(t)}
       |SELECT s AS symbol, CAST(SUM(cnt) AS BIGINT) AS occurrences
       |FROM (SELECT cnt, unnest(string_split(seq[2:-2], '$M$M')) AS s FROM v${t.nMerges})
       |GROUP BY s ORDER BY symbol ASC""".stripMargin

  /** [[encode]]'s oracle: corpus words joined to the replayed final
    * segmentation. */
  def encodeSql(t: Tokenizer): String = {
    val k = t.corpus.key
    s"""WITH ${trainCteFor(t)},
       |${toksCte(t.corpus)},
       |${wordLenCte(t)}
       |SELECT t.$k, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(wl.n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM toks t JOIN wl ON wl.word = t.word
       |GROUP BY t.$k ORDER BY t.$k ASC""".stripMargin
  }

  /** [[tokenIds]]'s oracle: symbol ids by ROW_NUMBER over the
    * symbol-ascending final vocabulary → per-word id arrays in
    * segmentation order → per-doc concatenation in token order. */
  def tokenIdsSql(t: Tokenizer): String =
    s"""WITH ${trainCteFor(t)},
       |sy AS (SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s ASC) AS BIGINT) AS sid
       |       FROM (SELECT DISTINCT unnest(string_split(seq[2:-2], '$M$M')) AS s FROM v${t.nMerges})),
       |ws AS (SELECT word, syms[i.i] AS s, i.i AS spos
       |       FROM (SELECT word, string_split(seq[2:-2], '$M$M') AS syms FROM v${t.nMerges}),
       |            unnest(range(1, len(syms) + 1)) AS i(i)),
       |wids AS (SELECT ws.word, list(sy.sid ORDER BY ws.spos ASC) AS wids
       |         FROM ws JOIN sy ON sy.s = ws.s GROUP BY ws.word),
       |${posToksCte(t.corpus)}
       |SELECT t.${t.corpus.key},
       |       CAST(len(flatten(list(w.wids ORDER BY t.pos ASC))) AS BIGINT) AS n_bpe_tokens,
       |       array_to_string(flatten(list(w.wids ORDER BY t.pos ASC)), ' ') AS ids
       |FROM toks t JOIN wids w ON w.word = t.word
       |GROUP BY t.${t.corpus.key} ORDER BY t.${t.corpus.key} ASC""".stripMargin

  /** [[decode]]'s oracle: the round-trip identity restricted to the
    * capped training vocabulary — NO training replay (a word's
    * segmentation concatenates back to the word, so only vocabulary
    * MEMBERSHIP matters, and that is decided by the top-[[TopWordTypes]]
    * cap over the word aggregate alone, whatever the merge count).
    * Constant-cost at any corpus size past the one word-count scan. */
  def decodeSql(t: Tokenizer): String = {
    val k = t.corpus.key
    s"""WITH ${wordCountCte(t.corpus)},
       |vv AS (SELECT word FROM w ORDER BY cnt DESC, word ASC LIMIT $TopWordTypes),
       |${posToksCte(t.corpus)}
       |SELECT t.$k,
       |       array_to_string(list(t.word ORDER BY t.pos ASC), '') AS decoded
       |FROM toks t JOIN vv ON vv.word = t.word
       |GROUP BY t.$k ORDER BY t.$k ASC""".stripMargin
  }

  /** [[packFromBpe]]'s oracle: the BPE count replay feeding the packing
    * replay (same running sums, same chunk boundaries). */
  def packFromBpeSql(t: Tokenizer): String =
    s"""WITH ${trainCteFor(t)},
       |${toksCte(t.corpus)},
       |${wordLenCte(t)},
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
}
