package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Deduplication operators over the `documents` table: exact dedup by
  * normalized-content hash, banded MinHash-LSH near-dedup, exact n-gram
  * Jaccard verification of LSH candidates, and SimHash signatures.
  *
  * Scale design — the load-bearing properties at 100 TB:
  *  - Exact dedup is ONE hash aggregation on the 60-bit content hash
  *    (shuffle keys are 8-byte longs, not document text).
  *  - MinHash signatures are computed PER ROW with array higher-order
  *    functions (`array_min` over the permuted shingle-hash array) — a
  *    map-only pass, no shingle explosion through a shuffle and no
  *    12-way min aggregation. The only shuffled rows are the 4 band
  *    rows per doc (8-byte ids + short band keys).
  *  - Near-dedup NEVER does an all-pairs crossJoin. Band buckets join
  *    only documents sharing a bucket — Σ bucket² instead of n²;
  *    skewed buckets (boilerplate docs) are the known hot spot, handled
  *    by AQE skew-join at scale.
  *  - Jaccard verification joins the tiny candidate set back to the
  *    per-doc shingle-hash ARRAYS and intersects in-place
  *    (`array_intersect` on ~80-element arrays) — no re-explosion.
  *  - All signatures are integer arithmetic on md5-derived 60-bit
  *    hashes — deterministic across engines and partitionings, so every
  *    operator here has an exact DuckDB oracle.
  */
object DedupOps {

  val NumHashes = 12
  val NumBands = 4
  val RowsPerBand: Int = NumHashes / NumBands
  val ShingleK = 3
  val JaccardThreshold = 0.4

  /** Exact dedup: group by the 120-bit hash of normalized text (both
    * md5 halves as two longs), keep the smallest doc_id as the
    * canonical representative. 120 bits matter at corpus scale: a
    * 60-bit hash hits birthday collisions around 2^30 ≈ 1e9 documents —
    * certain false merges on a 1e11-doc corpus — while 120 bits push
    * the bound past 2^60. Shuffle keys stay 16 fixed bytes per doc,
    * never the text. */
  /** (doc_id, source, two 60-bit normalized-content-hash halves) — the
    * ONE projection every exact-content consumer ([[dedupExact]],
    * [[priorityDedup]], `ClusterOps.dedupReport`) builds on, so the
    * normalization and hash scheme cannot drift between them. */
  private[operators] def hashedDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = TextOps.normText(col("text"))
    // hash120: both 60-bit halves from ONE digest per doc (the builtin
    // pair relied on CSE sharing the md5 hex; the kernels are opaque,
    // so the sharing point is the identical hash120 tree)
    val h = TextOps.hash120(norm)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        h.getField("h1").as("h1"), h.getField("h2").as("h2"))
  }

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    hashedDocs(spark, sfDir)
      .groupBy(col("h1").as("content_hash"), col("h2").as("content_hash_b"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id").asc)

  val dedupExactSql: String = {
    val norm = TextOps.normTextSql("text")
    s"""SELECT ${TextOps.hash60Sql(norm)} AS content_hash,
       |       ${TextOps.hash60bSql(norm)} AS content_hash_b,
       |       MIN(doc_id) AS keep_doc_id,
       |       COUNT(*) AS n_copies
       |FROM documents
       |GROUP BY content_hash, content_hash_b
       |ORDER BY keep_doc_id ASC""".stripMargin
  }

  /** The canonical source for cross-source priority dedup: documents in
    * every OTHER source that duplicate one of this source's documents
    * are dropped. */
  val PrioritySource = "src0"

  /** Exploded (doc_id, shingle-hash) rows — the shared base of the
    * MinHash ops. The md5 runs ONCE per shingle in codegen'd scalar
    * expressions (an array-native formulation looks cleaner but
    * Catalyst's project-collapse duplicates the whole interpreted
    * higher-order pipeline into every signature column — measured 7×
    * slower). Docs with fewer than ShingleK tokens drop out here,
    * having no shingles. */
  private def shingleHashes(spark: SparkSession, sfDir: String): DataFrame = {
    // one ngram_hash60 kernel pass per doc (window bytes fed straight
    // to the digest — no per-window concat string, no index explode,
    // no hex round-trip); duplicates are harmless (min is idempotent,
    // collect_set dedups), so no distinct pass is needed.
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(TextOps.ngramHash60(col("t"), ShingleK)).as("h"))
  }

  /** MinHash signatures in ONE aggregation: the NumHashes permutation
    * mins, plus (optionally) the full shingle-hash set via collect_list
    * so Jaccard verification needs no second pass over the text.
    *
    * The result is eagerly localCheckpoint'ed: the band self-join
    * consumes it on BOTH sides (plus the two per-side join-backs in the
    * jaccard path), and those consumer jobs launch concurrently — a
    * lazy persist lets each racer recompute the whole text→shingle→md5
    * pipeline because CacheManager does not serialize cache population.
    * The checkpoint materializes ONCE and truncates the plan, so every
    * consumer reads the one-row-per-doc signature blocks directly (same
    * fault-tolerance trade-off as kmeansCentroids); it is memoized per
    * (variant, dir, session) via [[Materialize]] so repeated query
    * constructions never leak checkpoint blocks. */
  private[graft] def signatures(spark: SparkSession, sfDir: String, keepHs: Boolean): DataFrame = {
    val tag = Materialize.dirTag(spark, sfDir)
    def build = Materialize.memoized(spark, s"minhash_sig_${keepHs}_$tag") {
      val mins = (0 until NumHashes).map(i => min(TextOps.permute(col("h"), i)).as(s"m$i"))
      val aggs = if (keepHs) mins :+ collect_set(col("h")).as("hs") else mins
      shingleHashes(spark, sfDir).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    }
    if (keepHs) build
    else
      // the hs-less variant is a PROJECTION of the richer memo — if the
      // session already paid for that one (any jaccard-verified
      // pipeline), serve it by dropping `hs` instead of re-running the
      // whole text→shingle→signature pipeline into a second checkpoint
      Materialize.existing(spark, s"minhash_sig_false_$tag")
        .orElse(Materialize.existing(spark, s"minhash_sig_true_$tag").map(_.drop("hs")))
        .getOrElse(build)
  }

  /** The capped band rows as a storable relation — what a production
    * pipeline persists (bucketed by `band_key`) so periodic
    * [[incrementalCandidatesFromBands]] runs touch no text and reshuffle
    * nothing. */
  def bandTable(spark: SparkSession, sfDir: String): DataFrame =
    bandRows(signatures(spark, sfDir, keepHs = false))

  /** Slim band rows (doc_id, band_id, band_key) from a signature frame.
    * Deliberately carries NOTHING but the 8-byte doc id and the short
    * band key: the band self-join duplicates every row into each
    * matching pair, so any payload here (like the ~80-element
    * shingle-hash array) is shipped once per PAIR instead of once per
    * DOC — the scale defect this shape exists to avoid.
    *
    * Hot-bucket guard: buckets over `spark.graft.minhash.bucketCap`
    * docs are DROPPED before the self-join — the standard LSH cap
    * (boilerplate buckets generate pair counts quadratic in occupancy;
    * AQE can split the oversized partitions but cannot reduce the pairs
    * a hot bucket GENERATES). Docs in a dropped bucket still pair
    * through their other bands. The oracle mirrors the cap at the
    * default, so the trimmed candidate set is still exactly verified;
    * the occupancy window shuffles on the same keys as the self-join,
    * so it reuses the exchange rather than adding one. */
  private def bandRows(sigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = graft.GraftConf.minhashBucketCap(sigs.sparkSession)
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws("_", (0 until RowsPerBand).map(j => col(s"m${b * RowsPerBand + j}")): _*).as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"), col("bb.band_key").as("band_key"))
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy(col("band_id"), col("band_key"))))
      .where(col("occ") <= cap)
      .drop("occ")
  }

  /** The band self-join shared by [[minhashCandidates]] and
    * [[minhashCandidatesFromSignatures]]: docs sharing at least one
    * band bucket, with the number of shared bands. The join key is
    * (band_id, band_key) — never a cross join. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Banded LSH candidate pairs from the documents table. */
  def minhashCandidates(spark: SparkSession, sfDir: String): DataFrame =
    bandPairs(bandRows(signatures(spark, sfDir, keepHs = false)))

  /** The periodic-batch half of the continuous-signature architecture:
    * the SAME banding, occupancy cap, and pair join as
    * [[minhashCandidates]], but over a STORED signature table — rows
    * with `doc_id` and a `minhash` array<long> of [[NumHashes]] mins,
    * e.g. landed continuously by
    * `graft.streaming.DocStream.signatureStream` — so the batch job
    * touches ~100 bytes per doc and never re-reads text. Docs with a
    * null minhash (shorter than [[ShingleK]] tokens) have no shingles
    * and drop out, exactly as they have no rows in the text path. */
  def minhashCandidatesFromSignatures(sigs: DataFrame): DataFrame = {
    val ms = (0 until NumHashes).map(i => element_at(col("minhash"), i + 1).as(s"m$i"))
    bandPairs(bandRows(sigs.where(col("minhash").isNotNull).select(col("doc_id") +: ms: _*)))
  }

  /** Shared SQL prefix: tokens → distinct shingles → exploded hashes →
    * one-aggregation signatures (mins + the hash set) → bands,
    * mirroring the Spark pipeline constant-for-constant. */
  private[graft] def minhashSqlPrefix: String = {
    val shingleList =
      s"""list_distinct(list_transform(range(0, greatest(len(t) - ${ShingleK - 1}, 0)),
         | i -> concat_ws(' ', ${(1 to ShingleK).map(j => s"t[i+$j]").mkString(", ")})))""".stripMargin.replace("\n", "")
    val minExprs = (0 until NumHashes).map { i =>
      s"MIN(${TextOps.permuteSql("h", i)}) AS m$i"
    }.mkString(",\n             ")
    val bandKeys = (0 until NumBands).map { b =>
      val parts = (0 until RowsPerBand).map(j => s"m${b * RowsPerBand + j}").mkString(", ")
      s"WHEN ${b} THEN concat_ws('_', $parts)"
    }.mkString(" ")
    s"""toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |sh AS (SELECT doc_id, unnest($shingleList) AS s FROM toks),
       |h AS (SELECT doc_id, ${TextOps.hash60Sql("s")} AS h FROM sh),
       |sig AS (SELECT doc_id,
       |             $minExprs,
       |             list(h) AS hs
       |        FROM h GROUP BY doc_id),
       |bands AS (SELECT doc_id, b.range AS band_id,
       |                 CASE b.range $bandKeys END AS band_key
       |          FROM sig, range($NumBands) b
       |          QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_key) <= ${graft.GraftConf.DefaultMinhashBucketCap})""".stripMargin
  }

  val minhashCandidatesSql: String =
    s"""WITH $minhashSqlPrefix
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
       |FROM bands a
       |JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |GROUP BY doc_a, doc_b
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin

  /** Incremental (delta-batch) near-dup candidates — the periodic half
    * of a crawl pipeline where only NEWLY ingested documents need
    * checking: emit candidate pairs where at least one side is in the
    * delta (here modeled as `doc_id % 10 == 0`), without regenerating
    * the corpus's own pairs.
    *
    * Scale shape — why this beats re-running [[minhashCandidates]]:
    * the band self-join's cost is Σ bucket² over the WHOLE corpus; the
    * delta join's is Σ (delta-bucket × bucket), proportional to the
    * delta. The delta band rows are filtered from the same capped
    * [[bandRows]] frame (one window pass, exchange shared with the
    * join), and in production the stored signature table is bucketed by
    * (band_id, band_key) so the full side never reshuffles at all. A
    * delta×delta pair would be found from both sides of the join, so
    * the join predicate keeps only the `d < o` orientation for those —
    * each (pair, band) row is emitted exactly once, with no
    * dedup pass over the candidate set.
    *
    * The delta predicate is a placeholder for "ingested since the last
    * run" (a timestamp/batch-id column on a real signature table); it
    * is part of the oracle contract here, so it is a fixed expression,
    * not a conf knob. */
  def incrementalCandidates(spark: SparkSession, sfDir: String): DataFrame =
    incrementalCandidatesFromBands(bandRows(signatures(spark, sfDir, keepHs = false)))

  /** The delta join over an already-banded frame — so a production
    * pipeline can run it against a STORED band table. Persist that
    * table bucketed by `band_key` (`Tables.writeBucketed`) and this
    * join needs NO exchange on either side: both sides read the same
    * bucket layout, and hash partitioning on `band_key` co-locates
    * every (band_id, band_key) join group (ScaleOpsSpec pins the
    * exchange-free plan). That turns the per-delta cost into a bucketed
    * scan + local join — the corpus is never reshuffled, however large. */
  def incrementalCandidatesFromBands(bands: DataFrame): DataFrame = {
    val delta = bands.where(col("doc_id") % 10 === 0)
    // one-sided orientation guard: a delta×delta pair matches from both
    // sides of the join, so keep only the d < o orientation for those —
    // each (pair, band) is then emitted exactly once and no
    // distinct-over-candidates shuffle is needed
    delta.as("d").join(bands.as("o"),
        col("d.band_id") === col("o.band_id") &&
        col("d.band_key") === col("o.band_key") &&
        col("d.doc_id") =!= col("o.doc_id") &&
        (col("o.doc_id") % 10 =!= 0 || col("d.doc_id") < col("o.doc_id")))
      .select(
        least(col("d.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("d.doc_id"), col("o.doc_id")).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Oracle: the full band self-join restricted to pairs touching the
    * delta — verifying that the one-sided delta join retrieves exactly
    * the pairs the full run would have found for those documents. */
  val incrementalCandidatesSql: String =
    s"""WITH $minhashSqlPrefix
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
       |FROM bands a
       |JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
       |GROUP BY doc_a, doc_b
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin

  /** Exact n-gram Jaccard over the LSH candidate pairs only.
    *
    * Shuffle shape: candidate pairs come from the SLIM band join
    * (doc ids only), then the deduplicated pair list joins back to the
    * persisted [[signatures]] frame twice — once per side — so each
    * doc's ~80-element shingle-hash array is shipped exactly once per
    * doc, never once per (pair × shared-band). |A∩B| is an in-place
    * `array_intersect`; jaccard = inter / (|A| + |B| - inter),
    * thresholded. The division is one IEEE op over exact integers —
    * deterministic. */
  def nearDupJaccard(spark: SparkSession, sfDir: String): DataFrame =
    // bucket cap in the key: bandRows reads it at plan time (r16 ADVICE
    // — a mid-session cap change must rebuild, not serve a stale memo)
    Materialize.memoized(spark,
        s"neardup_pairs_${graft.GraftConf.minhashBucketCap(spark)}_${Materialize.dirTag(spark, sfDir)}") {
      nearDupJaccardFromSignatures(signatures(spark, sfDir, keepHs = true))
    }

  /** Distinct candidate pairs from the banded self-join — the shared
    * discovery step of the jaccard and containment verifiers. */
  private def bandCandidatePairs(sigs: DataFrame): DataFrame = {
    val bands = bandRows(sigs)
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** A pair list with both sides' shingle-hash sets attached — one
    * 8-byte-keyed join-back per side, so each doc's ~80-element array
    * ships once per doc, never once per (pair × shared-band). */
  private def pairsWithSets(pairs: DataFrame, sigs: DataFrame): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"))
      .join(sigs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")

  /** The verified-pair pipeline over an explicit signature frame (with
    * `hs` sets) — so callers can run it on a SLICE of the corpus (the
    * incremental-clustering baseline) or a stored signature table. */
  private[graft] def nearDupJaccardFromSignatures(sigs: DataFrame): DataFrame =
    jaccardVerify(bandCandidatePairs(sigs), sigs)
      .where(col("jaccard") >= JaccardThreshold)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Exact Jaccard for an explicit (doc_a, doc_b) pair list. Returns
    * (doc_a, doc_b, jaccard), unfiltered. */
  private[graft] def jaccardVerify(pairs: DataFrame, sigs: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("ha"), col("hb"))).cast("double")
    val union = (size(col("ha")) + size(col("hb"))).cast("double") - inter
    pairsWithSets(pairs, sigs)
      .select(col("doc_a"), col("doc_b"), (inter / union).as("jaccard"))
  }

  /** Shared CTE fragment (after [[minhashSqlPrefix]]): distinct banded
    * candidate pairs + both sides' hash sets — the SQL twin of
    * [[bandCandidatePairs]]+[[pairsWithSets]], shared by the jaccard
    * and containment oracles so the two cannot drift apart. */
  private def pairsWithSetsSqlCtes: String =
    s"""pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a
       |          JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |withsets AS (SELECT p.doc_a, p.doc_b, sa.hs AS ha, sb.hs AS hb
       |             FROM pairs p
       |             JOIN sig sa ON p.doc_a = sa.doc_id
       |             JOIN sig sb ON p.doc_b = sb.doc_id)""".stripMargin

  val nearDupJaccardSql: String =
    s"""WITH $minhashSqlPrefix,
       |$pairsWithSetsSqlCtes
       |SELECT doc_a, doc_b,
       |       CAST(len(list_intersect(ha, hb)) AS DOUBLE) /
       |         (CAST(len(ha) + len(hb) AS DOUBLE) - CAST(len(list_intersect(ha, hb)) AS DOUBLE)) AS jaccard
       |FROM withsets
       |WHERE CAST(len(list_intersect(ha, hb)) AS DOUBLE) /
       |        (CAST(len(ha) + len(hb) AS DOUBLE) - CAST(len(list_intersect(ha, hb)) AS DOUBLE)) >= $JaccardThreshold
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin

  /** A pair is reported when either side's shingle set is this contained
    * in the other. Containment ≥ Jaccard always, so this net is wider
    * than [[JaccardThreshold]] at the same value — it exists to catch
    * the asymmetric case Jaccard misses by construction. */
  val ContainmentThreshold = 0.6

  /** Asymmetric containment dedup: |A∩B| / |A| (and /|B|) over the LSH
    * candidate pairs — the quote/subset detector symmetric Jaccard
    * cannot be. A short document pasted inside a long one has
    * jaccard ≈ |A|/|B| (arbitrarily small) but containment(A in B) = 1;
    * thresholding the LARGER direction keeps exactly those pairs.
    *
    * Shares every scale property of [[nearDupJaccard]] (same slim band
    * join for discovery, same two per-doc array join-backs, in-place
    * `array_intersect`) because it IS the same pipeline with a second
    * division at the end: recall is bounded by the MinHash bands, which
    * estimate Jaccard — a contained-but-tiny fragment may not band-match
    * its container (reference behavior for LSH-gated containment; an
    * exhaustive containment pass would need an inverted shingle index,
    * which is [[minhashSqlPrefix]]'s `h` CTE shape at Σ df² join cost). */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = signatures(spark, sfDir, keepHs = true)
    val inter = size(array_intersect(col("ha"), col("hb"))).cast("double")
    pairsWithSets(bandCandidatePairs(sigs), sigs)
      .select(col("doc_a"), col("doc_b"),
        (inter / size(col("ha"))).as("cont_a_in_b"),
        (inter / size(col("hb"))).as("cont_b_in_a"))
      .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= ContainmentThreshold)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  val containmentPairsSql: String =
    s"""WITH $minhashSqlPrefix,
       |$pairsWithSetsSqlCtes,
       |cont AS (SELECT doc_a, doc_b,
       |                CAST(len(list_intersect(ha, hb)) AS DOUBLE) / len(ha) AS cont_a_in_b,
       |                CAST(len(list_intersect(ha, hb)) AS DOUBLE) / len(hb) AS cont_b_in_a
       |         FROM withsets)
       |SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a
       |FROM cont
       |WHERE greatest(cont_a_in_b, cont_b_in_a) >= $ContainmentThreshold
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin

  /** 120 bits, carried as TWO 60-bit longs (`simhash_lo` = bits 0..59,
    * `simhash_hi` = bits 60..119; both halves come from the one md5 per
    * token — [[TextOps.hash60]]/[[TextOps.hash60b]] — so widening costs
    * no extra hashing). Width picks BOTH selectivity and scale: random
    * pairs sit near distance 60 so hamming ≤ [[SimHashMaxHamming]]
    * selects genuinely similar text, and the 4-band pigeonhole retrieval
    * gets 2^30 ≈ 1e9 buckets per band. The width is the primary skew
    * defense: SimHash bits are sign-sums of a shared vocabulary, so on a
    * real corpus band values CLUSTER — measured on the sf0.1 fixture,
    * 15-bit bands (a 60-bit signature) put 260 of 5,000 docs in one
    * bucket (271,260 candidate pairs for 496 true pairs); these 30-bit
    * bands cut that to a 12-doc hottest bucket and 5,009 candidates.
    * [[simhashNearDups]]' hot-bucket split bounds whatever correlation
    * survives the width. */
  val SimHashBits = 120
  val SimHashHalfBits: Int = SimHashBits / 2
  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands
  val SimHashMaxHamming = 3
  /** Hot buckets re-band the OTHER 3 chunks' 90 bits as 6 × 15-bit
    * sub-bands: d ≤ 3 touches ≤ 3 of them, so ≥ 3 stay untouched —
    * pigeonhole-exact again, one level down. */
  val SimHashSubBandBits = 15

  /** SimHash: per token occurrence, each of the 120 hash bits votes ±1;
    * the signature packs the signs of the per-bit sums into two longs.
    * Near-identical docs land within small Hamming distance. The
    * aggregation is the fused [[graft.functions.SimhashSigAgg]] (one
    * 960-byte Long counter buffer per doc instead of a 120-column
    * UnsafeRow through partial+final aggregation); the oracle keeps the
    * equivalent declarative per-bit-SUM formulation. */
  private def simhashCore(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = udaf(new graft.functions.SimhashSigAgg(SimHashHalfBits))
    val h = TextOps.hash120(col("tk"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tk"))
      .select(col("doc_id"),
        h.getField("h1").as("h1"), h.getField("h2").as("h2"))
      .groupBy(col("doc_id")).agg(sig(col("h1"), col("h2")).as("s"))
      .select(col("doc_id"), col("s._1").as("simhash_lo"), col("s._2").as("simhash_hi"))
  }

  def simhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    simhashCore(spark, sfDir).orderBy(col("doc_id").asc)

  /** Shared SQL: tokens → token hashes (both md5 halves) → per-bit vote
    * sums → packed two-long signature (`sig` CTE). */
  private def simhashSqlCore: String = {
    def sums(h: String, p: String) = (0 until SimHashHalfBits)
      .map(b => s"SUM((($h >> $b) & 1) * 2 - 1) AS $p$b")
    def packed(p: String) = (0 until SimHashHalfBits)
      .map(b => s"CASE WHEN $p$b >= 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val allSums = (sums("h1", "a") ++ sums("h2", "b")).mkString(",\n             ")
    s"""tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
       |        FROM documents),
       |h AS (SELECT doc_id, ${TextOps.hash60Sql("tk")} AS h1, ${TextOps.hash60bSql("tk")} AS h2 FROM tok),
       |sig0 AS (SELECT doc_id,
       |             $allSums
       |         FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, ${packed("a")} AS simhash_lo, ${packed("b")} AS simhash_hi FROM sig0)""".stripMargin
  }

  val simhashSignaturesSql: String =
    s"""WITH $simhashSqlCore
       |SELECT doc_id, simhash_lo, simhash_hi
       |FROM sig
       |ORDER BY doc_id ASC""".stripMargin

  /** Chunk `b` (30 bits) of the 120-bit signature held in (lo, hi). */
  private def bandChunk(lo: Column, hi: Column, b: Int): Column = {
    val mask = (1L << SimHashBandBits) - 1
    val src = if (b < 2) lo else hi
    shiftright(src, (b % 2) * SimHashBandBits).bitwiseAND(lit(mask))
  }

  /** SimHash near-dup pairs within Hamming distance [[SimHashMaxHamming]],
    * found by banding the signature into [[SimHashBands]] chunks: a pair
    * within distance d < bands must share at least one untouched band
    * (pigeonhole), so the banded self-join retrieves EVERY qualifying
    * pair — exact retrieval, LSH-shaped cost.
    *
    * Hot-bucket split — the defense against corpus correlation that
    * band WIDTH alone cannot give: any (band, value) bucket holding more
    * than `spark.graft.simhash.hotBucketCap` docs is excluded from the
    * direct self-join and re-banded by the 6 × 15-bit sub-chunks of the
    * OTHER three bands. A qualifying pair found via band b has all its
    * ≤ 3 differing bits outside band b, touching ≤ 3 of those 6
    * sub-bands — so they share at least one (band, value, sub-band,
    * sub-value) key and retrieval stays EXACT at any cap. What the
    * split bounds is the FALSE-candidate blowup from band-value
    * correlation (docs agreeing on one 30-bit chunk but differing
    * elsewhere — the measured r4 defect — now split apart by the
    * sub-band keys). A cluster of m near-IDENTICAL signatures still
    * yields ~m² candidate rows (they agree on every sub-band too, with
    * up to 6× multiplicity removed by the distinct) — irreducible, as
    * those pairs are the query's own output. The occupancy count is a
    * window over the slim band rows, partitioned by the same keys the
    * self-join shuffles on, so the exchange is reused.
    *
    * The ORACLE for this query is deliberately brute-force Hamming over
    * all pairs (not a replay of the banding): it verifies the
    * banded+split retrieval is exact, rather than sharing any retrieval
    * bug with it — and it is invariant to the cap, so tests can force
    * the hot path against the same oracle. Same slim-rows discipline as
    * the other dedup joins: band rows carry doc ids + band values only;
    * signatures ride the two per-doc join-backs. */
  def simhashNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    // eager localCheckpoint, not persist: the banded plan reads sig from
    // ~6 subtrees (self-join sides + broadcast join-backs) whose jobs
    // launch concurrently, and CacheManager does not serialize cache
    // population — with a lazy persist each racer recomputes the whole
    // token→120-sum aggregation. The checkpoint materializes ONCE up
    // front and truncates the plan, so every consumer reads 3-long rows
    // straight from executor blocks (measured ~2× vs lazy persist at
    // sf0.1; same fault-tolerance trade-off as kmeansCentroids).
    // Memoized per (dir, session) — see Materialize.
    val sig = Materialize.memoized(spark, s"simhash_sig_${Materialize.dirTag(spark, sfDir)}") {
      simhashCore(spark, sfDir)
    }
    // pair-set output memoized too: the banding + Hamming verification
    // over the signature memo previously re-ran for each of
    // dedup_simhash_pairs and sql_simhash_pairs (the verified pair set
    // is near-dup-scale, slim). The hot-bucket cap is part of the key:
    // the build reads it at plan time, so changing the conf mid-session
    // must rebuild, not serve the other cap's checkpoint (r16 ADVICE).
    Materialize.memoized(spark,
        s"simhash_pairs_${graft.GraftConf.simhashHotCap(spark)}_${Materialize.dirTag(spark, sfDir)}") {
      simhashNearDupsFromSignatures(sig)
    }.orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** The signature-table twin of [[simhashNearDups]] — the SimHash half
    * of the continuous-signature → periodic-band architecture (see
    * [[minhashCandidatesFromSignatures]]): the identical banding,
    * hot-bucket sub-band split, and Hamming verification, over a STORED
    * frame of (doc_id, simhash_lo, simhash_hi) rows — e.g. landed
    * continuously by `graft.streaming.DocStream.signatureStream` — so
    * the periodic batch job reads ~24 bytes per doc and never re-reads
    * text. Docs with null halves (no tokens) have no signature and drop
    * out, exactly as they have no rows in the text path. The caller is
    * expected to pass a materialized/checkpointed frame (the plan reads
    * it from ~6 subtrees). */
  def simhashNearDupsFromSignatures(sigIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = graft.GraftConf.simhashHotCap(sigIn.sparkSession)
    val sig = sigIn.where(col("simhash_lo").isNotNull && col("simhash_hi").isNotNull)
      .select(col("doc_id"), col("simhash_lo"), col("simhash_hi"))
    val lo = col("simhash_lo"); val hi = col("simhash_hi")
    val bands = sig.select(col("doc_id"), lo, hi,
      posexplode(array((0 until SimHashBands).map(bandChunk(lo, hi, _)): _*))
        .as(Seq("band_id", "band_val")))
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy(col("band_id"), col("band_val"))))
    def pairsOf(df: DataFrame, keys: Seq[String]): DataFrame =
      df.as("a").join(df.as("b"),
          keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val smallPairs = pairsOf(
      bands.where(col("occ") <= cap).select(col("doc_id"), col("band_id"), col("band_val")),
      Seq("band_id", "band_val"))
    val subMask = (1L << SimHashSubBandBits) - 1
    def subBands(b: Int): Column = array((0 until SimHashBands).filter(_ != b).flatMap { j =>
      val c = bandChunk(lo, hi, j)
      Seq(c.bitwiseAND(lit(subMask)), shiftright(c, SimHashSubBandBits))
    }: _*)
    val subArr = (0 until SimHashBands - 1).foldRight(subBands(SimHashBands - 1)) {
      (b, acc) => when(col("band_id") === b, subBands(b)).otherwise(acc)
    }
    val hotPairs = pairsOf(
      bands.where(col("occ") > cap)
        .select(col("doc_id"), col("band_id"), col("band_val"),
          posexplode(subArr).as(Seq("sub_id", "sub_val"))),
      Seq("band_id", "band_val", "sub_id", "sub_val"))
    val hamming = (bit_count(col("la").bitwiseXOR(col("lb"))) +
      bit_count(col("ha").bitwiseXOR(col("hb")))).cast("long")
    smallPairs.unionByName(hotPairs).distinct()
      .join(sig.select(col("doc_id").as("doc_a"), lo.as("la"), hi.as("ha")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), lo.as("lb"), hi.as("hb")), "doc_b")
      .withColumn("hamming", hamming)
      .where(col("hamming") <= SimHashMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Brute-force twin (see [[simhashNearDups]] — intentionally NOT a
    * replay of the banding, so the oracle independently proves exact
    * retrieval). n²/2 Hamming evaluations are fine at oracle scale;
    * the banded Spark plan is the one that runs at 100 TB. */
  val simhashNearDupsSql: String = {
    val d = "bit_count(xor(a.simhash_lo, b.simhash_lo)) + bit_count(xor(a.simhash_hi, b.simhash_hi))"
    s"""WITH $simhashSqlCore
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST($d AS BIGINT) AS hamming
       |FROM sig a
       |JOIN sig b ON a.doc_id < b.doc_id
       |WHERE $d <= $SimHashMaxHamming
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin
  }

  /** Cross-source priority dedup — dedup the rest of the corpus AGAINST
    * a canonical source rather than against itself (the "remove crawl
    * copies of Wikipedia" stage): every document outside
    * [[PrioritySource]] that is an exact copy (normalized 120-bit
    * content hash) OR a verified near-duplicate (banded MinHash
    * candidates + Jaccard ≥ [[JaccardThreshold]]) of a priority
    * document, with the smallest matching priority doc id — the drop
    * list a pipeline applies before mixing sources.
    *
    * Scale shape: the exact arm reduces both sides to (16-byte hash,
    * 8-byte id) rows before the shuffle, with the priority side
    * pre-aggregated to one row per hash so intra-priority duplicates
    * cannot fan matches out; the near arm reuses the SAME memoized
    * signature frame and occupancy-capped band join as every other
    * near-dedup consumer, then ships only 8-byte pair halves through the
    * source join. Neither arm broadcasts the priority side — at 100 TB
    * the canonical source is corpus-scale too; AQE picks broadcast when
    * it is small. */
  def priorityDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // output memoized per (session, dir) — doc-scale slim rows; shared
    // by dedup_priority and sql_priority_dedup, which each previously
    // re-ran the banding + Jaccard verification (the PageRank
    // output-memo billing policy). Keyed by the minhash bucket cap its
    // near-dup arm depends on (r16 ADVICE).
    Materialize.memoized(spark,
        s"priority_dedup_${graft.GraftConf.minhashBucketCap(spark)}_${Materialize.dirTag(spark, sfDir)}") {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val hashed = hashedDocs(spark, sfDir)
    val prio = hashed.where(col("source") === PrioritySource)
      .groupBy(col("h1"), col("h2")).agg(min(col("doc_id")).as("dup_of"))
    val exactHits = hashed.where(col("source") =!= PrioritySource)
      .join(prio, Seq("h1", "h2"))
      .select(col("doc_id"), col("dup_of"))
    // both pair orientations from one pass over the verified-pair plan
    val sym = nearDupJaccard(spark, sfDir)
      .select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("other")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("other")))).as("e"))
      .select(col("e.doc_id"), col("e.other"))
    val nearHits = sym
      .join(src.toDF("other", "other_source"), "other")
      .where(col("other_source") === PrioritySource)
      .select(col("doc_id"), col("other").as("dup_of"))
    exactHits.unionByName(nearHits)
      .join(src, "doc_id")
      .where(col("source") =!= PrioritySource)
      .groupBy(col("doc_id"), col("source"))
      .agg(min(col("dup_of")).as("dup_of"))
    }.orderBy(col("doc_id").asc)
  }

  val priorityDedupSql: String = {
    val norm = TextOps.normTextSql("text")
    val jac = "CAST(len(list_intersect(ha, hb)) AS DOUBLE) / " +
      "(CAST(len(ha) + len(hb) AS DOUBLE) - CAST(len(list_intersect(ha, hb)) AS DOUBLE))"
    s"""WITH $minhashSqlPrefix,
       |$pairsWithSetsSqlCtes,
       |edges AS (SELECT doc_a, doc_b FROM withsets WHERE $jac >= $JaccardThreshold),
       |srcs AS (SELECT doc_id, source FROM documents),
       |hashed AS (SELECT doc_id, source,
       |                  ${TextOps.hash60Sql(norm)} AS h1,
       |                  ${TextOps.hash60bSql(norm)} AS h2
       |           FROM documents),
       |prio AS (SELECT h1, h2, MIN(doc_id) AS dup_of
       |         FROM hashed WHERE source = '$PrioritySource'
       |         GROUP BY h1, h2),
       |exact_hits AS (SELECT h.doc_id, p.dup_of
       |               FROM hashed h JOIN prio p ON h.h1 = p.h1 AND h.h2 = p.h2
       |               WHERE h.source <> '$PrioritySource'),
       |sym AS (SELECT doc_a AS doc_id, doc_b AS other FROM edges
       |        UNION ALL SELECT doc_b, doc_a FROM edges),
       |near_hits AS (SELECT s.doc_id, s.other AS dup_of
       |              FROM sym s JOIN srcs o ON s.other = o.doc_id
       |              WHERE o.source = '$PrioritySource'),
       |all_hits AS (SELECT * FROM exact_hits UNION ALL SELECT * FROM near_hits)
       |SELECT a.doc_id, d.source, MIN(a.dup_of) AS dup_of
       |FROM all_hits a JOIN srcs d ON a.doc_id = d.doc_id
       |WHERE d.source <> '$PrioritySource'
       |GROUP BY a.doc_id, d.source
       |ORDER BY a.doc_id ASC""".stripMargin
  }
}
