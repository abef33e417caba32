package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumns.{column, expression}

/** Column-level text primitives shared by the dedup / text-analysis
  * operators. Everything here composes Spark built-ins (codegen'd or
  * higher-order expressions) or graft's native kernels — no UDFs — and
  * every function that feeds a DuckDB oracle has an exact SQL twin
  * (identical md5 / integer arithmetic on both engines).
  */
object TextOps {

  /** Whitespace tokens, empties dropped. Mirrors the oracle's
    * `list_filter(string_split(text, ' '), x -> x <> '')`. Served by
    * the native [[TokensWs]] kernel: the builtin split is codegen'd
    * but pays the regex machinery plus empty-token intermediates, and
    * the filter is a CodegenFallback higher-order function — one
    * interpreted boxed lambda eval per token of every document
    * (value-identical, spec-pinned). */
  def tokens(text: Column): Column = column(TokensWs(expression(text)))

  /** Native zero-allocation count of [[tokens]] — the codegen'd
    * [[TokenCount]] kernel. Identical value to `size(tokens(text))`,
    * spec-pinned. */
  def tokenCount(text: Column): Column = column(TokenCount(expression(text)))

  /** Canonical text normalization for exact dedup: lowercase, collapse
    * every non-letter/non-digit run to a single space, trim. The classes
    * are Unicode (`\p{L}\p{N}` means the same Letter/Number categories
    * under Java regex and DuckDB's RE2) — an ASCII-only class would
    * normalize any document with no Latin letters or digits (pure-CJK,
    * emoji-only) to the empty string and silently report all such docs
    * as copies of each other. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}]+", " "))

  /** SQL twin of [[normText]] (Spark's regexp_replace is global by
    * default; DuckDB needs the 'g' flag). */
  def normTextSql(text: String): String =
    s"trim(regexp_replace(lower($text), '[^\\p{L}\\p{N}]+', ' ', 'g'))"

  /** BPE-ish subword segmentation regex: letter runs, digit runs, and
    * single non-alphanumeric marks — the standard pre-tokenizer split
    * (identical under Java regex and RE2 for this simple alternation). */
  val BpePattern: String = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Count of BPE-ish tokens in a document. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0)))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small — inlined as literals into both the
    * Spark plan and the oracle SQL. */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "dans"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不"))

  /** Occurrence count of `words` among `toks` (not distinct — term
    * frequency matters for language scoring). Served by the native
    * [[CountIn]] kernel (the builtin form pays an interpreted
    * ArrayFilter lambda per token; value-identical, spec-pinned). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    column(CountIn(expression(toks), words))

  /** Matched-character mass of variable-length character n-grams (the
    * profile words themselves) in the lowercased text: for each gram,
    * occurrences × gram length, summed — `len(t) - len(replace(t, g))`
    * counts exactly that, character-position based so it needs no
    * tokenization and works on unsegmented CJK text. All integer
    * arithmetic; `replace` is literal (not regex) on both engines. */
  def charGramMass(text: Column, grams: Seq[String]): Column = {
    val t = lower(text)
    grams.map { g =>
      length(t) - length(call_function("replace", t, lit(g), lit("")))
    }.reduce(_ + _)
  }

  /** SQL twin of [[charGramMass]]. Grams are escaped for single-quoted
    * SQL literals (a gram like French "n'" would otherwise break the
    * oracle text while the Spark side stays correct). */
  def charGramMassSql(text: String, grams: Seq[String]): String =
    grams.map { g =>
      val esc = g.replace("'", "''")
      s"(len(lower($text)) - len(replace(lower($text), '$esc', '')))"
    }.mkString(" + ")

  /** Word k-shingles (k consecutive tokens joined by a space), distinct.
    * Empty array when the doc has fewer than k tokens. */
  def shingles(toks: Column, k: Int): Column = {
    val n = size(toks)
    array_distinct(
      when(n < k, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), n - k), i =>
          concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*))))
  }

  /** Start indices 0..len-n of the n-grams of token array `t` (empty
    * when the doc is shorter than n). Scalar codegen'd shape shared by
    * the shingle and bigram pipelines — an array-HOF formulation looks
    * cleaner but Catalyst's project collapse re-inlines the interpreted
    * lambda pipeline into every consumer (measured 7× slower). */
  def ngramIndex(t: Column, n: Int): Column =
    when(size(t) >= n, sequence(lit(0), size(t) - n))
      .otherwise(array().cast("array<int>"))

  /** The n-gram starting at exploded index `i` (0-based): n consecutive
    * tokens joined by a space. */
  def ngramAt(t: Column, i: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*)

  /** DuckDB twin of the k-token shingle list over a token-list column
    * `t` (with possible duplicates — dedup downstream at the hash
    * level, as the Spark side's collect_set does). Shared by every
    * oracle that shingles, so the n-gram shape is written ONCE and a
    * [[graft.operators.DedupOps.ShingleK]] change cannot silently
    * diverge one twin. */
  def shingleListSql(t: String, k: Int): String =
    s"""list_transform(range(0, greatest(len($t) - ${k - 1}, 0)),
       | i -> concat_ws(' ', ${(1 to k).map(j => s"$t[i+$j]").mkString(", ")}))""".stripMargin.replace("\n", "")

  /** Positional variant of [[shingleListSql]]: a list of
    * `{pos, s}` structs (0-based start index + the k-token shingle), for
    * oracles that need to know WHERE a window sits, not just what it
    * hashes to (span-text reconstruction). Same window construction,
    * written once next to its position-less twin. */
  def shingleStructListSql(t: String, k: Int): String =
    s"""list_transform(range(0, greatest(len($t) - ${k - 1}, 0)),
       | i -> struct_pack(pos := i, s := concat_ws(' ', ${(1 to k).map(j => s"$t[i+$j]").mkString(", ")})))""".stripMargin.replace("\n", "")

  /** Portable 60-bit string hash: first 15 hex chars of md5, as a long.
    * Identical in DuckDB: `CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`.
    * (md5 is bytewise-identical across engines; 15 hex chars keep the
    * value positive and overflow-free in 64-bit arithmetic.)
    * Served by the native [[Hash60]] kernel: the builtin chain
    * materializes the hex digest string and radix-parses it through
    * two more strings per row; the kernel reads the 60 bits off the
    * digest bytes (value-identical, spec-pinned). */
  def hash60(s: Column): Column = column(Hash60(expression(s)))

  /** SQL twin of [[hash60]]. */
  def hash60Sql(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"

  /** Second, independent 60-bit hash from the SAME md5 digest (hex chars
    * 16..30) — md5's output bits are independent, so this widens any
    * hash-keyed operator to 120 bits at zero extra hashing cost (the
    * digest is computed once; common-subexpression elimination shares it
    * between [[hash60]] and this). */
  def hash60b(s: Column): Column = column(Hash60B(expression(s)))

  /** Both 60-bit halves from ONE digest as a struct<h1, h2> — for the
    * dual-hash sites (exact dedup, versioning, streaming content
    * hashes). The builtin forms relied on Catalyst subexpression
    * elimination sharing `md5(s)` between the two conv chains; the
    * kernels are opaque single columns, so the sharing point moves
    * here: consumers project `.getField("h1"/"h2")` of two IDENTICAL
    * hash120 trees, which codegen subexpression elimination collapses
    * to one digest per row. */
  def hash120(s: Column): Column = column(Hash120(expression(s)))

  /** All k-token window hashes of a token array in ONE array pass —
    * `transform(ngramIndex(t,k), i -> hash60(ngramAt(t,i,k)))` without
    * the index explode, the per-window concat string, or the hex
    * round-trip (see [[NgramHash60]]). Value-identical per element;
    * element j is the window starting at 0-based position j, so
    * `posexplode` of this column replaces `explode(ngramIndex)` +
    * scalar hash exactly. */
  def ngramHash60(t: Column, k: Int): Column = column(NgramHash60(expression(t), k))

  /** SQL twin of [[hash60b]]. */
  def hash60bSql(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 16, 15)) AS BIGINT)"

  /** Mersenne prime modulus for the MinHash permutation family. */
  val MinHashPrime: Long = 2147483647L

  /** Deterministic permutation constants (Knuth multiplicative step) —
    * inlined as literals into both the Spark plan and the oracle SQL. */
  def permA(i: Int): Long = (1L + i.toLong * 2654435761L) % MinHashPrime
  def permB(i: Int): Long = (7L + i.toLong * 40503L) % MinHashPrime

  /** i-th MinHash permutation of a base hash: (a_i * (h % p) + b_i) % p.
    * All intermediates < 2^62, so 64-bit arithmetic is exact on both
    * engines. */
  def permute(h: Column, i: Int): Column =
    (lit(permA(i)) * (h % MinHashPrime) + lit(permB(i))) % MinHashPrime

  /** SQL twin of [[permute]]. */
  def permuteSql(h: String, i: Int): String =
    s"(${permA(i)} * ($h % $MinHashPrime) + ${permB(i)}) % $MinHashPrime"
}
