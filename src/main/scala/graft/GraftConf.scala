package graft

import org.apache.spark.sql.SparkSession

/** Runtime query parameters — the Spark-native twin of the reference's
  * CLI-argument surface (`Query 1a/TopKNetProfitDriver.java:29-30,
  * 201-205` threads K and the date bounds through the MapReduce job
  * config). Here the channel is `spark.conf`, settable per session or
  * per `spark-submit --conf`, with the library constants as defaults:
  *
  * {{{
  *   spark.conf.set("spark.graft.topK", 20)
  *   spark.conf.set("spark.graft.q1.start", "1995-01-01")
  *   RefQueries.q1aTopRevenue(spark, sfDir)   // top-20, new range
  * }}}
  *
  * Every `SparkEntry.queries` closure resolves through these, so the
  * registered defaults stay bit-identical to the oracle SQL while a
  * user can re-run any query shape with different K / bounds / session
  * gap without recompiling.
  */
object GraftConf {

  val TopKKey = "spark.graft.topK"
  val Q1StartKey = "spark.graft.q1.start"
  val Q1EndKey = "spark.graft.q1.end"
  val Q1cStartKey = "spark.graft.q1c.start"
  val Q1cEndKey = "spark.graft.q1c.end"
  val SessionGapKey = "spark.graft.session.gapMinutes"
  val GroupTopKKey = "spark.graft.groupTopK"
  /** Override for the ANN per-table plane count (normally derived from
    * the corpus size; see `Similarity.annPlanesFor`). */
  val AnnPlanesKey = "spark.graft.ann.planes"
  /** SimHash band buckets larger than this are split by sub-band
    * signature bits before pair generation (`DedupOps.simhashNearDups`).
    * A pure performance knob: retrieval stays exact at ANY cap, so the
    * oracle (brute-force Hamming) is invariant to it — unlike the other
    * keys here, overriding it can never diverge from the oracle. */
  val SimhashHotCapKey = "spark.graft.simhash.hotBucketCap"
  /** Minhash band buckets larger than this are DROPPED from candidate
    * generation (`DedupOps`) — the standard LSH hot-bucket guard
    * (boilerplate buckets generate quadratic pairs that verification
    * would reject anyway). Mirrored in the oracle at the default; an
    * override has the same caveat as [[TopKKey]]. */
  val MinhashBucketCapKey = "spark.graft.minhash.bucketCap"
  /** Parallel packing shards per language (`Packing.packSequences`) —
    * production sizes this to the executor count so each (lang, shard)
    * window partition stays task-sized. The shard id is an OUTPUT
    * column, so the oracle pins the default; `Verify` refuses an
    * override like the other oracle-pinned knobs. */
  val PackingShardsKey = "spark.graft.packing.shards"
  /** Iteration cap for connected-components label propagation
    * (`ClusterOps`). A pure safety valve: the loop stops at the
    * fixpoint, which with pointer jumping arrives in O(log n) rounds,
    * so the result is invariant to any cap high enough to converge —
    * no Verify guard needed. */
  val CcMaxItersKey = "spark.graft.cc.maxIters"
  /** Edge-row cap for the graph family's driver-side iterations
    * (`GraphRank`): the deduped item-edge frame is collected to the
    * driver only while it holds at most this many rows (vocab² slim
    * rows — ~1000-node vocabularies sit orders of magnitude under the
    * default); past the cap the SAME recurrence runs as the retained
    * distributed iteration. A pure performance knob: both paths are
    * bit-exact by construction (the driver fold replays the identical
    * IEEE tree / exact integer peeling), so the oracle is invariant to
    * it — like the simhash hot cap, overriding it can never diverge. */
  val GraphCollectCapKey = "spark.graft.graph.collectCap"
  /** Chunk window size in tokens (`Chunking.chunkDocuments`). The
    * chunk boundaries are OUTPUT values, so the oracle pins the
    * default; `Verify` refuses an override like the other
    * oracle-pinned knobs. */
  val ChunkSizeKey = "spark.graft.chunk.size"
  /** Chunk stride in tokens — `size - stride` consecutive tokens
    * overlap between adjacent chunks. Same oracle-pinned caveat as
    * [[ChunkSizeKey]]. */
  val ChunkStrideKey = "spark.graft.chunk.stride"
  /** Shuffle-export writer shards (`Sharding.shuffleExport`) —
    * production sizes this to the writer fleet. The shard id is an
    * OUTPUT column, so the oracle pins the default; `Verify` refuses
    * an override like the other oracle-pinned knobs. */
  val ExportShardsKey = "spark.graft.export.shards"
  /** When false, `Decontamination.evalOverlap` drops its broadcast
    * hints — the path for an eval set too large to broadcast — and
    * lets AQE pick the join sides from runtime statistics. A pure
    * planning knob: results are identical either way, so no Verify
    * guard is needed. */
  val DeconBroadcastEvalKey = "spark.graft.decontamination.broadcastEval"
  /** Per-cell occupancy cap for semantic dedup's within-cell pairing:
    * cells holding more than this many vectors are excluded from the
    * pair join (their members keep conservative not-dropped verdicts).
    * An over-cap cell means the trained k is too small for the corpus —
    * the cap turns a degenerate clustering from a quadratic job into a
    * visible no-op, the same hot-key discipline as the LSH bucket caps.
    * The oracle mirrors the DEFAULT, so overrides invalidate Verify. */
  val SemdedupCellCapKey = "spark.graft.semdedup.cellCap"

  /** Induced vocabulary size (`TextAnalysis.vocabInduction` /
    * `oovStats`). The vocab is an OUTPUT (and the OOV denominator), so
    * the oracle pins the default; `Verify` refuses an override like the
    * other oracle-pinned knobs. */
  val VocabSizeKey = "spark.graft.vocab.size"
  /** Neighbors consulted per query in the kNN labelers
    * (`Similarity.knnLabel` / `knnLabelIvf`). Vote counts are OUTPUT
    * values, so the oracle pins the default; `Verify` refuses an
    * override. */
  val KnnKKey = "spark.graft.knn.k"
  /** Quality-band count for the curriculum export's two-phase global
    * ranking (`Sharding.curriculumOrder`) — production sizes it to the
    * task fleet. A pure parallelism knob: the banded rank equals the
    * true global rank at ANY band count (order-preserving banding +
    * exact offsets), so the result is band-invariant and needs no
    * Verify guard — pinned by a spec running 1 and 4096 bands. */
  val CurriculumBandsKey = "spark.graft.curriculum.bands"

  /** Exact-substring span window size in tokens (`SpanDedup`). Which
    * windows exist — and therefore which spans count as duplicated —
    * is an OUTPUT property, so the oracle pins the default; `Verify`
    * refuses an override like the other oracle-pinned knobs. The
    * deduplicate-training-data literature's W≈50 shape runs as a
    * bench-only registration (`span_rate_w50`) — cost stays O(total
    * tokens) at any W because a doc of n tokens emits ≤ n windows. */
  val SpanWindowKey = "spark.graft.span.windowTokens"

  /** Trained-IVF cell count k (`Similarity.trainedCentroids` — the
    * coarse quantizer behind `sim_ivf_trained`, `knn_label_ivf`,
    * `semantic_dedup`, and the persisted index). Centroids and cell
    * assignments are OUTPUT values, so the oracle pins the default and
    * `Verify` refuses an override. The 100 TB rule is k ∝ √n (cells
    * stay constant-sized); the default is fixture-sized. Set to an
    * explicit cell count, or `auto` to derive k = ⌈√n⌉ from the corpus
    * at build time ([[ivfKResolved]]). */
  val IvfKKey = "spark.graft.ivf.k"

  /** Streaming funnel completion horizon in minutes
    * (`EventStream.funnel`): unset (the default) keeps the funnel
    * cumulative forever; set, an attempt's state is dropped once the
    * watermark passes stage-1 time + horizon and a later return starts
    * a fresh attempt. Streaming-only (no oracle query), so no Verify
    * guard is needed — the batch funnel ignores it. */
  val FunnelHorizonKey = "spark.graft.funnel.horizonMinutes"

  /** Opt-in planning-time cartesian guard
    * (`graft.plans.NoCartesianGuard`): fail a query at optimization
    * time when an inner/cross join has no equi-key and both sides
    * exceed the broadcast threshold. Trivially result-invariant — the
    * rule either throws or leaves the plan untouched — so no Verify
    * guard is needed. */
  val NoCartesianGuardKey = "spark.graft.guard.noCartesian"

  /** Knobs whose override changes only the Spark side while the oracle
    * SQL bakes the default; `Verify` refuses an override of each rather
    * than report false mismatches. Result-invariant knobs (the simhash
    * hot cap, the curriculum band count) are not listed. */
  val OraclePinnedKeys: Seq[String] = Seq(AnnPlanesKey, MinhashBucketCapKey,
    PackingShardsKey, ChunkSizeKey, ChunkStrideKey, ExportShardsKey,
    SemdedupCellCapKey, VocabSizeKey, KnnKKey, TopKKey, Q1StartKey, Q1EndKey,
    Q1cStartKey, Q1cEndKey, SessionGapKey, GroupTopKKey, SpanWindowKey, IvfKKey)

  val DefaultTopK = 10
  val DefaultQ1Start = "1996-01-01"
  val DefaultQ1End = "1997-12-31 23:59:59"
  val DefaultQ1cStart = "1996-06-01"
  val DefaultQ1cEnd = "1996-12-31 23:59:59"
  val DefaultSessionGap = 30
  val DefaultGroupTopK = 3
  val DefaultSimhashHotCap = 32
  val DefaultMinhashBucketCap = 1000
  val DefaultPackingShards = 8
  val DefaultDeconBroadcastEval = true
  val DefaultChunkSize = 32
  val DefaultChunkStride = 24
  val DefaultCcMaxIters = 25
  val DefaultGraphCollectCap = 1000000
  val DefaultExportShards = 8
  val DefaultSemdedupCellCap = 10000
  val DefaultVocabSize = 50
  val DefaultKnnK = 8
  val DefaultCurriculumBands = 256
  val DefaultSpanWindow = 8
  val DefaultIvfK = 8
  /** Ceiling for `ivf.k=auto`. At the cap, k=65,536 cells × 64 dims of
    * quantized longs is ~33 MB of centroid data riding each stage as a
    * plan literal (plus the flattened codegen reference arrays — so
    * ~2× that in driver/plan memory), and nearestCid costs k·dim ≈
    * 4.2 M multiply-adds per row. Auto mode hits the cap at n ≈ 4.3 B
    * vectors (k=⌈√n⌉); at 100 TB-scale corpora (n ≈ 10¹⁰, √n ≈ 10⁵)
    * the single-level quantizer is already past its comfort zone
    * BEFORE the cap binds — the escape hatch is a multi-level (IVF of
    * IVF) quantizer: a ~√k-cell coarse level picks a super-cell, each
    * super-cell owns its own ~√k sub-centroids, turning the per-row
    * cost into 2·√k·dim ≈ 33 k mul-adds and the shipped literal into
    * ~√k rows + one sub-table per hot super-cell (see PLANS.md
    * "centsLit capacity" note). The cap keeps auto mode inside the
    * regime where the single-level plan shape is still the right one. */
  val MaxAutoIvfK = 65536

  def topK(s: SparkSession): Int = s.conf.get(TopKKey, DefaultTopK.toString).toInt
  def noCartesianGuard(s: SparkSession): Boolean =
    s.conf.get(NoCartesianGuardKey, "false").toBoolean
  def q1Start(s: SparkSession): String = s.conf.get(Q1StartKey, DefaultQ1Start)
  def q1End(s: SparkSession): String = s.conf.get(Q1EndKey, DefaultQ1End)
  def q1cStart(s: SparkSession): String = s.conf.get(Q1cStartKey, DefaultQ1cStart)
  def q1cEnd(s: SparkSession): String = s.conf.get(Q1cEndKey, DefaultQ1cEnd)
  def sessionGapMinutes(s: SparkSession): Int =
    s.conf.get(SessionGapKey, DefaultSessionGap.toString).toInt
  def groupTopK(s: SparkSession): Int =
    s.conf.get(GroupTopKKey, DefaultGroupTopK.toString).toInt
  def simhashHotCap(s: SparkSession): Int =
    s.conf.get(SimhashHotCapKey, DefaultSimhashHotCap.toString).toInt
  def minhashBucketCap(s: SparkSession): Int =
    s.conf.get(MinhashBucketCapKey, DefaultMinhashBucketCap.toString).toInt
  def packingShards(s: SparkSession): Int = {
    val n = s.conf.get(PackingShardsKey, DefaultPackingShards.toString).toInt
    // shards <= 0 would make `hash % 0` NULL and silently collapse
    // packing to one whole-language window — the skew trap the shard
    // key exists to prevent; fail fast instead
    require(n > 0, s"$PackingShardsKey must be positive, got $n")
    n
  }
  def semdedupCellCap(s: SparkSession): Int =
    s.conf.get(SemdedupCellCapKey, DefaultSemdedupCellCap.toString).toInt
  def graphCollectCap(s: SparkSession): Int = {
    val n = s.conf.get(GraphCollectCapKey, DefaultGraphCollectCap.toString).toInt
    require(n >= 0, s"$GraphCollectCapKey must be non-negative, got $n")
    n
  }
  def ccMaxIters(s: SparkSession): Int = {
    val n = s.conf.get(CcMaxItersKey, DefaultCcMaxIters.toString).toInt
    require(n > 0, s"$CcMaxItersKey must be positive, got $n")
    n
  }
  def chunkSize(s: SparkSession): Int = {
    val n = s.conf.get(ChunkSizeKey, DefaultChunkSize.toString).toInt
    require(n > 0, s"$ChunkSizeKey must be positive, got $n")
    n
  }
  def chunkStride(s: SparkSession): Int = {
    val n = s.conf.get(ChunkStrideKey, DefaultChunkStride.toString).toInt
    // stride 0 would make the start sequence infinite (sequence() with
    // step 0 throws deep in codegen); fail fast with the knob's name
    require(n > 0, s"$ChunkStrideKey must be positive, got $n")
    n
  }
  def exportShards(s: SparkSession): Int = {
    val n = s.conf.get(ExportShardsKey, DefaultExportShards.toString).toInt
    require(n > 0, s"$ExportShardsKey must be positive, got $n")
    n
  }
  def deconBroadcastEval(s: SparkSession): Boolean =
    s.conf.get(DeconBroadcastEvalKey, DefaultDeconBroadcastEval.toString).toBoolean
  def vocabSize(s: SparkSession): Int = {
    val n = s.conf.get(VocabSizeKey, DefaultVocabSize.toString).toInt
    require(n > 0, s"$VocabSizeKey must be positive, got $n")
    n
  }
  def knnK(s: SparkSession): Int = {
    val n = s.conf.get(KnnKKey, DefaultKnnK.toString).toInt
    require(n > 0, s"$KnnKKey must be positive, got $n")
    n
  }
  def curriculumBands(s: SparkSession): Int = {
    val n = s.conf.get(CurriculumBandsKey, DefaultCurriculumBands.toString).toInt
    require(n > 0, s"$CurriculumBandsKey must be positive, got $n")
    n
  }
  /** Resolve the IVF cell count, honoring `spark.graft.ivf.k=auto`:
    * the production mode where k is DERIVED from the corpus size as
    * ⌈√n⌉ (clamped to [[DefaultIvfK]]..[[MaxAutoIvfK]]) so cells stay
    * ~√n-sized as the corpus grows — the standard IVF scale rule. With
    * k fixed while n grows, the probe scan degenerates toward the
    * brute-force quadratic (measured at sf10, PLANS.md); with k=auto
    * it stays an index. `corpusSize` is only evaluated in auto mode
    * (an explicit k costs no count job). Verify still refuses ANY
    * `ivf.k` override — auto is a serving/bench mode, never the
    * oracle-pinned default. */
  /** The auto-k formula itself — k=⌈√n⌉ clamped to
    * [[DefaultIvfK]]..[[MaxAutoIvfK]] — shared by `ivf.k=auto`
    * resolution and the explicitly-auto bench registration
    * (`knn_label_ivf_auto`), so the two paths cannot drift. */
  def autoIvfK(n: Long): Int =
    math.max(DefaultIvfK.toLong,
      math.min(MaxAutoIvfK.toLong, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  def ivfKResolved(s: SparkSession, corpusSize: => Long): Int = {
    val raw = s.conf.get(IvfKKey, DefaultIvfK.toString).trim
    if (raw.equalsIgnoreCase("auto")) {
      val n = corpusSize
      require(n > 0, s"$IvfKKey=auto needs a non-empty corpus, got $n rows")
      autoIvfK(n)
    } else {
      val n = scala.util.Try(raw.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"$IvfKKey must be a positive integer or 'auto', got '$raw'"))
      require(n > 0, s"$IvfKKey must be positive or 'auto', got $n")
      n
    }
  }
  def funnelHorizonMinutes(s: SparkSession): Option[Long] = {
    val v = s.conf.getOption(FunnelHorizonKey).map(_.toLong)
    v.foreach(n => require(n > 0, s"$FunnelHorizonKey must be positive, got $n"))
    v
  }
  def spanWindowTokens(s: SparkSession): Int = {
    val n = s.conf.get(SpanWindowKey, DefaultSpanWindow.toString).toInt
    require(n > 0, s"$SpanWindowKey must be positive, got $n")
    n
  }
}
