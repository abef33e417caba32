package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression serving tier
  * below int8: the 64-dim quantized vector is split into [[PqM]]
  * subspaces of [[SubDim]] dims, each subspace gets its own
  * [[PqK]]-code codebook trained by the SAME deterministic integer
  * k-means the IVF path uses, and a vector is stored as [[PqM]] code
  * ids (16 one-byte codes vs 512 bytes for the int-quantized
  * original — the 32× shelf-space drop, FAISS's standard PQ16x8
  * layout, that makes billion-vector serving fit in RAM). Queries
  * score by asymmetric distance: the FULL query
  * against each vector's reconstruction (concatenated code centroids)
  * — computed here as one integer dot against the reconstruction,
  * which is exactly the textbook per-subspace LUT sum because the dot
  * distributes over the block structure.
  *
  * Scale design: training is the MLlib-architecture driver loop
  * (codebooks are PqM·PqK·SubDim = 16,384 longs ≈ 128 KB — plan
  * literals, never joined) over the PINNED deterministic vec_id-stride
  * sample ([[Similarity.TrainSampleFloor]]: ≥ 100·PqK vectors — the
  * standard codebook-training budget; encode/serving stay
  * full-corpus), and ALL [[PqM]] subspaces train in ONE
  * pass per iteration: each partition folds its rows into a
  * (subspace, code) → (dim sums, count) map, so an iteration costs
  * one corpus scan regardless of PqM. Serving is map-side only —
  * per-row code assignment against literal codebooks, reconstruction
  * via element_at, one broadcast of the query row,
  * TakeOrderedAndProject. The corpus never shuffles.
  *
  * Determinism: init = the first PqK vectors' slices (the IVF c0
  * rule), assignment = exact integer squared distance with ties to the
  * smallest code id, update = per-dim integer sums with the
  * BigDecimal HALF_UP mean Spark's round() and DuckDB's round() share,
  * empty cells keep their code. The oracle replays the entire
  * training, per subspace, iteration-unrolled — same pattern as
  * `ivfTrainedTopKSql`. */
object ProductQuant {

  val PqM = 16      // subspaces
  val SubDim = 4    // dims per subspace (PqM * SubDim == Similarity.Dims)
  val PqK = 256     // codes per codebook — the standard 8-bit codebook
  val PqIters = 2   // k-means iterations (matches TrainedIters)
  /** LongMap key stride for (subspace, cid) packing — must exceed PqK
    * (cids are 1..PqK); a stride below PqK+1 silently merges cells
    * across subspaces. */
  private val KeyStride = 512L

  /** Train all [[PqM]] codebooks in one corpus pass per iteration.
    * Returns codebooks indexed by subspace, each sorted by cid
    * (cids are exactly 1..PqK — the init vectors' ranks, stable
    * through training, and positional into the codebook arrays). */
  private[graft] def pqTrain(spark: SparkSession, sfDir: String)
      : IndexedSeq[IndexedSeq[CentLit]] = {
    // memoized like the IVF quantizer (trainedCentroidsK): five
    // registrations consume these codebooks, and without the memo one
    // bench pass retrained the identical books once per query. The
    // memoized frame is PqM·PqK slim rows; training is deterministic, so
    // the memo is exact, and Materialize.reset (bench pass-2 hygiene)
    // drops it with every other checkpoint memo.
    val memo = Materialize.memoized(spark,
        s"pq_books_${PqK}_${PqIters}_${Materialize.dirTag(spark, sfDir)}") {
      val books = pqTrainBuild(spark, sfDir)
      spark.createDataFrame(
        for { (b, s) <- books.zipWithIndex; c <- b }
          yield (s, c.cid, c.cq, c.cn2))
        .toDF("s", "cid", "cq", "cn2")
    }
    val rows = memo.collect()
    IndexedSeq.tabulate(PqM) { s =>
      rows.filter(_.getInt(0) == s)
        .map(r => CentLit(r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
        .sortBy(_.cid).toIndexedSeq
    }
  }

  private def pqTrainBuild(spark: SparkSession, sfDir: String)
      : IndexedSeq[IndexedSeq[CentLit]] = {
    // codebooks train on the pinned vec_id-stride sample
    // ([[Similarity.TrainSampleFloor]]: ≥ 100·PqK = 25 600 vectors) —
    // the 2-iteration × 256-candidate kernel pass runs over the sample
    // however big the corpus is, and the oracle replays the identical
    // stride. S = 1 (byte-identical to full-corpus training) at every
    // fixture with n ≤ the floor.
    pqTrainOver(pqSample(spark, sfDir), PqM, SubDim, PqK, PqIters)
  }

  /** The pinned deterministic training sample — shared by the PqK-code
    * production training and the reduced-geometry [[pqCodesSmall]]
    * value probe (IDENTICAL row set, so the probe exercises the same
    * sample plumbing the production books train on). */
  private def pqSample(spark: SparkSession, sfDir: String): DataFrame = {
    val stride = Similarity.trainSampleStride(
      Similarity.corpusCount(spark, sfDir), PqK)
    Similarity.corpus(spark, sfDir)
      .select(col("vec_id"), col("q"))
      .where(pmod(col("vec_id"), lit(stride)) === lit(1L % stride))
  }

  /** The k-means codebook trainer over an arbitrary (vec_id, q) frame
    * and arbitrary PQ geometry (m subspaces × sub dims, k codes,
    * iters iterations) — [[pqTrainBuild]] instantiates it at the
    * production 16×4×256 geometry, [[pqCodesSmall]] at the reduced
    * 4×16×16 probe geometry. Semantics per the object doc: init = the
    * first k vectors' slices by vec_id, exact integer argmin with ties
    * to the smallest code id, BigDecimal HALF_UP means, empty cells
    * keep their code; all m subspaces train in ONE scan per
    * iteration. */
  /** Spread a kernel-heavy PQ pass across the cluster when its input
    * plans fewer partitions than there are slots — at fixture scale the
    * sub-MB embeddings table is ONE split (below the corpus()
    * rebalance's bytes gate, which is sized for plain dot-product
    * passes), but a PQ pass does m×k distance kernels per row (~100×
    * a scan's per-row work), so here the exchange always pays. At real
    * scale the scan has more splits than slots and this no-ops. Integer
    * sums commute and every consumer sorts deterministically, so
    * placement cannot change any value. */
  private def balanced(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  private[graft] def pqTrainOver(emb0: DataFrame, m: Int, sub: Int,
      k: Int, iters: Int): IndexedSeq[IndexedSeq[CentLit]] = {
    require(k < KeyStride, s"codebook size $k must stay below KeyStride $KeyStride")
    // NOT balanced: the training input is the pinned sample, bounded by
    // TrainSampleFloor at ANY corpus size, so the assignment passes are
    // O(1)-sized forever — measured at sf0.1, the exchange + 33-way
    // partial collect cost more than the single-partition pass it
    // parallelized (the encode passes below ARE corpus-scale and are
    // balanced)
    val emb = emb0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // q IS NOT NULL mirrors the SQL replay's ts_/c0_ CTEs: a null
    // embedding among the init vectors fails the require below loudly
    // instead of NPE-ing at q.slice (ADVICE r12). Init = the first
    // k sampled vectors by vec_id (== vectors 1..k when S = 1 and
    // ids are dense, the previous rule).
    val initRows = emb.where(col("vec_id") >= 1 && col("q").isNotNull)
      .orderBy(col("vec_id").asc).limit(k)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .sortBy(_._1).toIndexedSeq
    require(initRows.size == k,
      s"PQ init needs $k sampled vectors, got ${initRows.size}")
    // code id = the init vector's RANK (1..k), not its vec_id: a PQ
    // code is a positional index into the codebook (pqReconFromCodes
    // does element_at(books, code)), and under a stride sample the
    // init vec_ids are no longer dense. Identical to the old
    // cid==vec_id rule whenever S = 1 and ids are dense from 1.
    var books: IndexedSeq[IndexedSeq[CentLit]] =
      IndexedSeq.tabulate(m) { s =>
        initRows.zipWithIndex.map { case ((_, q), idx) =>
          val cq = q.slice(s * sub, s * sub + sub)
          CentLit(idx + 1L, cq, cq.map(v => v * v).sum)
        }
      }
    for (_ <- 1 to iters) {
      val cidCols = (0 until m).map { s =>
        val sl = slice(col("q"), s * sub + 1, sub)
        Similarity.nearestCid(typedlit(books(s)), sl,
          Similarity.dotQ(sl, sl)).as(s"cid$s")
      }
      val assigned = emb.select(cidCols :+ col("q").as("q"): _*)
      val partials = assigned.queryExecution.toRdd.mapPartitions { it =>
        // key = subspace * KeyStride + cid (KeyStride > PqK: no collision)
        val acc = scala.collection.mutable.LongMap
          .empty[(Array[Long], Array[Long])]
        while (it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(m)) {
            val q = r.getArray(m)
            var s = 0
            while (s < m) {
              val e = acc.getOrElseUpdate(s.toLong * KeyStride + r.getLong(s),
                (new Array[Long](sub), new Array[Long](1)))
              e._2(0) += 1L
              var j = 0
              while (j < sub) { e._1(j) += q.getLong(s * sub + j); j += 1 }
              s += 1
            }
          }
        }
        acc.iterator.map { case (k, (sums, n)) => (k, sums, n(0)) }
      }.collect()
      val sums = scala.collection.mutable.LongMap.empty[(Array[Long], Long)]
      partials.foreach { case (k, sArr, n) =>
        val cur = sums.getOrElse(k, (new Array[Long](sub), 0L))
        var j = 0
        while (j < sub) { cur._1(j) += sArr(j); j += 1 }
        sums(k) = (cur._1, cur._2 + n)
      }
      books = books.zipWithIndex.map { case (book, s) =>
        book.map { c =>
          sums.get(s.toLong * KeyStride + c.cid) match {
            case Some((sArr, n)) if n > 0 =>
              val mq = IndexedSeq.tabulate(sub) { j =>
                java.math.BigDecimal.valueOf(sArr(j).toDouble / n)
                  .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
              }
              CentLit(c.cid, mq, mq.map(v => v * v).sum)
            case _ => c // empty cell keeps its code
          }
        }
      }
    }
    emb.unpersist()
    books
  }

  /** The memoized PQ index — encode-once/serve-many, the shape a real
    * deployment stores: per vector its [[PqM]] code ids, its coarse
    * (trained-IVF) cell, its code reconstruction `rq`, and the
    * reconstruction's integer squared norm. All six PQ-family
    * registrations serve from this one table, so the 16 × [[PqK]]-entry
    * codebook literals are built into exactly ONE plan per session (the
    * index build) instead of being re-converted and re-analyzed on
    * every serving call — the serving plans carry only slim columns.
    * The index is corpus-sized but narrow (codes + one 64-long array),
    * which is precisely the RAM footprint argument for PQ at 10⁹ rows. */
  private[graft] def pqIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val coarseK = graft.GraftConf.ivfKResolved(spark,
      Similarity.corpusCount(spark, sfDir))
    Materialize.memoized(spark,
        s"pq_index_${PqK}_${PqIters}_k${coarseK}_${Materialize.dirTag(spark, sfDir)}") {
      val books = pqTrain(spark, sfDir)
      val cl = Similarity.centsLit(Similarity.trainedCentroids(spark, sfDir))
      // the encode pass runs m×k kernels per row — spread it (no-op
      // when the scan already has ≥ slots partitions; see [[balanced]])
      val emb = balanced(Similarity.corpus(spark, sfDir))
      val codes = pqCodeCols(books)
      emb.where(col("q").isNotNull)
        .select(Seq(col("vec_id"), col("label"),
            Similarity.nearestCid(cl, col("q"), col("n2")).as("cid")) ++
          codes.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
        .withColumn("rq", pqReconFromCodes(books))
        .withColumn("rq_n2", Similarity.dotQ(col("rq"), col("rq")))
    }
  }

  /** Top-K by PQ-approximated cosine (asymmetric distance: full query
    * vs each vector's code reconstruction). Where this ranking departs
    * from `sim_cosine_topk`, that IS the PQ fidelity loss a pipeline
    * measures before switching serving tiers. Serves from [[pqIndex]];
    * the only codebook-literal plan in the session is the index build. */
  def pqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = pqIndex(spark, sfDir)
    val query = Similarity.corpus(spark, sfDir)
      .where(col("vec_id") === Similarity.QueryVecId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    idx.join(broadcast(query))
      .where(col("vec_id") =!= Similarity.QueryVecId)
      .select(col("vec_id"), col("label"),
        Similarity.cosineFrom(Similarity.dotQ(col("rq"), col("qq")),
          col("rq_n2"), col("qn2")).as("pq_cos"))
      .orderBy(col("pq_cos").desc, col("vec_id").asc)
      .limit(Similarity.TopK)
  }

  /** IVF-PQ: the two serving tiers composed — the trained coarse
    * quantizer routes the query to its [[Similarity.NumProbes]] nearest
    * cells, and only the vectors INSIDE probed cells are scored, by PQ
    * reconstruction. This is the architecture that serves billions of
    * vectors from RAM: the coarse index prunes the corpus to
    * ~nProbes/k of its rows, and each candidate costs one table-lookup
    * reconstruction instead of a full-precision vector read. Cell
    * assignment and PQ codes are precomputed once into [[pqIndex]];
    * the only exchanges at serve time are the two broadcast query-side
    * rows and the final top-K. The oracle replays BOTH trainings —
    * the IVF k-means (`trainedCellsSql`) and all [[PqM]] PQ codebooks —
    * in one query and must land on the identical row set and scores. */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = pqIndex(spark, sfDir)
    val cl = Similarity.centsLit(Similarity.trainedCentroids(spark, sfDir))
    val emb = Similarity.corpus(spark, sfDir)
    val probes = emb.where(col("vec_id") === Similarity.QueryVecId)
      .select(explode(Similarity.probeCids(cl, col("q"), col("n2"),
        Similarity.NumProbes)).as("probe_cid"))
    val query = emb.where(col("vec_id") === Similarity.QueryVecId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    // the prebuilt index already carries each vector's coarse cell and
    // reconstruction — serving is a probe semi-join plus one dot per
    // survivor, with no codebook literal anywhere in the plan
    idx.join(broadcast(probes), col("cid") === col("probe_cid"))
      .join(broadcast(query))
      .where(col("vec_id") =!= Similarity.QueryVecId)
      .select(col("vec_id"), col("label"), col("cid"),
        Similarity.cosineFrom(Similarity.dotQ(col("rq"), col("qq")),
          col("rq_n2"), col("qn2")).as("pq_cos"))
      .orderBy(col("pq_cos").desc, col("vec_id").asc)
      .limit(Similarity.TopK)
  }

  /** Per-subspace code-id columns over a frame carrying a quantized
    * `q` column — shared by the batch encoder, the serving scorers,
    * and the streaming encoder (identical expressions → identical
    * codes). Geometry (m, sub) is read off the books themselves so the
    * same expressions serve the production and probe geometries. */
  private[graft] def pqCodeCols(
      books: IndexedSeq[IndexedSeq[CentLit]]): IndexedSeq[Column] = {
    val sub = books.head.head.cq.length
    books.indices.map { s =>
      val sl = slice(col("q"), s * sub + 1, sub)
      Similarity.nearestCid(typedlit(books(s)), sl, Similarity.dotQ(sl, sl))
    }
  }

  /** Reconstruction column from precomputed code columns c0..c{m-1}. */
  private[graft] def pqReconFromCodes(
      books: IndexedSeq[IndexedSeq[CentLit]]): Column = {
    val codeArrs = books.map(_.sortBy(_.cid).map(_.cq))
    concat(books.indices.map(s =>
      element_at(typedlit(codeArrs(s)), col(s"c$s").cast("int"))): _*)
  }

  /** Batch PQ encoding — the index-build output: each vector's [[PqM]]
    * code ids (the PqM-byte stored representation) plus the integer
    * squared norm of its reconstruction (precomputed so serving never
    * touches the codebooks for norms). Entirely map-side. */
  def pqEncode(spark: SparkSession, sfDir: String): DataFrame =
    pqIndex(spark, sfDir)
      .select(col("vec_id") +:
        (0 until PqM).map(i => col(s"c$i")) :+ col("rq_n2"): _*)
      .orderBy(col("vec_id").asc)

  /** The index BUILD as its own registration (`pq_build` — named to
    * sort before every other PQ-family query, so in an alphabetical
    * bench sweep it is the one that pays the [[pqIndex]]
    * materialization and the six serving queries measure warm — the
    * span-memo billing policy). Output and oracle are [[pqEncode]]'s:
    * the encode rows ARE the built index's stored representation, so
    * the build registration is oracle-checked by the same full
    * training replay. */
  def pqBuild(spark: SparkSession, sfDir: String): DataFrame =
    pqEncode(spark, sfDir)

  // ------------------------------------------------------------ residual PQ

  /** The trained coarse centroids as a cid→vector MAP plan literal
    * (k rows — the bounded centroid collect), for the residual
    * subtraction/re-addition: element_at by the row's cell id is a
    * per-row map lookup, never a join. */
  private def coarseCentMap(spark: SparkSession, sfDir: String): Column =
    typedlit(Similarity.trainedCentroids(spark, sfDir)
      .select(col("cid"), col("cq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap)

  /** (vec_id, label, cid, q) with q = the RESIDUAL q − centroid(cell)
    * — the training/encode input of the residual tier. This is FAISS
    * IVFPQ's actual encoding (Jégou et al., TPAMI'11 §IV-A: quantize
    * the residual, not the vector — the coarse quantizer explains most
    * of the energy, so the same code budget reconstructs with roughly
    * half the error), the one place the r15 PQ family still deviated
    * from the architecture it cites. Map-side only: literal-kernel
    * cell assignment + one zip_with; null embeddings propagate to null
    * residuals (a null-q row's sentinel cid has no map entry) and are
    * excluded exactly where the raw tier excludes them. */
  private def residualCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val cl = Similarity.centsLit(Similarity.trainedCentroids(spark, sfDir))
    val cm = coarseCentMap(spark, sfDir)
    Similarity.corpus(spark, sfDir)
      .select(col("vec_id"), col("label"),
        Similarity.nearestCid(cl, col("q"), col("n2")).as("cid"),
        col("q").as("qraw"))
      .withColumn("q", zip_with(col("qraw"), element_at(cm, col("cid")),
        (a, b) => a - b))
      .select(col("vec_id"), col("label"), col("cid"), col("q"))
  }

  /** The pinned training sample over residuals — the IDENTICAL stride
    * and row set as [[pqSample]] (stride is a function of the full
    * corpus count, not the residual frame). */
  private def pqResidSample(spark: SparkSession, sfDir: String): DataFrame = {
    val stride = Similarity.trainSampleStride(
      Similarity.corpusCount(spark, sfDir), PqK)
    residualCorpus(spark, sfDir)
      .select(col("vec_id"), col("q"))
      .where(pmod(col("vec_id"), lit(stride)) === lit(1L % stride))
  }

  /** Residual codebooks — [[pqTrainOver]] at the production geometry
    * over the residual sample, memoized like [[pqTrain]]. */
  private def pqResidTrain(spark: SparkSession, sfDir: String)
      : IndexedSeq[IndexedSeq[CentLit]] = {
    val memo = Materialize.memoized(spark,
        s"pq_resid_books_${PqK}_${PqIters}_${Materialize.dirTag(spark, sfDir)}") {
      val books = pqTrainOver(pqResidSample(spark, sfDir),
        PqM, SubDim, PqK, PqIters)
      spark.createDataFrame(
        for { (b, s) <- books.zipWithIndex; c <- b }
          yield (s, c.cid, c.cq, c.cn2))
        .toDF("s", "cid", "cq", "cn2")
    }
    val rows = memo.collect()
    IndexedSeq.tabulate(PqM) { s =>
      rows.filter(_.getInt(0) == s)
        .map(r => CentLit(r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
        .sortBy(_.cid).toIndexedSeq
    }
  }

  /** The residual-PQ index: per vector its coarse cell, its [[PqM]]
    * residual code ids, and the FULL reconstruction rq = coarse
    * centroid + residual code reconstruction (plus its norm) — the
    * same narrow encode-once/serve-many schema as [[pqIndex]]. */
  private[graft] def pqResidIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val coarseK = graft.GraftConf.ivfKResolved(spark,
      Similarity.corpusCount(spark, sfDir))
    var resid: DataFrame = null
    val out = Materialize.memoized(spark,
        s"pq_resid_index_${PqK}_${PqIters}_k${coarseK}_${Materialize.dirTag(spark, sfDir)}") {
      val books = pqResidTrain(spark, sfDir)
      val cm = coarseCentMap(spark, sfDir)
      val codes = pqCodeCols(books)
      // persist the residual frame before the code projection: the 16
      // code columns + reconstruction would otherwise COLLAPSE into one
      // projection that re-evaluates the residual expression (coarse
      // argmin kernel + map lookup + zip_with) once per copy — measured
      // 4× the raw tier's build cost at sf0.001; the persist is the
      // same evaluation boundary pqTrainOver puts under training
      resid = balanced(residualCorpus(spark, sfDir)
          .where(col("q").isNotNull))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      resid
        .select(Seq(col("vec_id"), col("label"), col("cid")) ++
          codes.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
        .withColumn("rq", zip_with(element_at(cm, col("cid")),
          pqReconFromCodes(books), (a, b) => a + b))
        .withColumn("rq_n2", Similarity.dotQ(col("rq"), col("rq")))
    }
    // memoized() checkpointed eagerly, so the scratch blocks can go now
    if (resid ne null) resid.unpersist(blocking = false)
    out
  }

  /** The residual index BUILD as its own billing registration
    * (`pq_build_residual` — sorts inside the pq_* prefix, BEFORE the
    * `sim_*` serving queries, so alphabetical sweeps bill the
    * [[pqResidIndex]] materialization here and
    * `sim_ivfpq_residual_topk`/`_recall` measure warm serving — the
    * `pq_build` policy). Output and oracle are the residual top-K's:
    * the serving query exercises the built index end-to-end, so the
    * build registration is oracle-checked by the same double-training
    * replay without adding a second corpus-sized replay oracle. */
  def pqBuildResidual(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqResidualTopK(spark, sfDir)

  /** IVF-PQ with RESIDUAL codes — [[ivfPqTopK]]'s probed-cell serving
    * plan, unchanged, over the residual index. Where this ranking
    * beats [[ivfPqTopK]]'s recall, that is the residual encoding's
    * reconstruction gain at the same stored bytes. The oracle replays
    * BOTH trainings with the residual subtraction in between and the
    * centroid re-addition after. */
  def ivfPqResidualTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = pqResidIndex(spark, sfDir)
    val cl = Similarity.centsLit(Similarity.trainedCentroids(spark, sfDir))
    val emb = Similarity.corpus(spark, sfDir)
    val probes = emb.where(col("vec_id") === Similarity.QueryVecId)
      .select(explode(Similarity.probeCids(cl, col("q"), col("n2"),
        Similarity.NumProbes)).as("probe_cid"))
    val query = emb.where(col("vec_id") === Similarity.QueryVecId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    idx.join(broadcast(probes), col("cid") === col("probe_cid"))
      .join(broadcast(query))
      .where(col("vec_id") =!= Similarity.QueryVecId)
      .select(col("vec_id"), col("label"), col("cid"),
        Similarity.cosineFrom(Similarity.dotQ(col("rq"), col("qq")),
          col("rq_n2"), col("qn2")).as("pq_cos"))
      .orderBy(col("pq_cos").desc, col("vec_id").asc)
      .limit(Similarity.TopK)
  }

  /** Recall@K of the residual tier vs exact cosine — compared against
    * `sim_ivfpq_recall` (raw-vector codes), this is the acceptance
    * number for switching the serving tier to residual encoding. */
  def ivfPqResidualRecall(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.recallOf(ivfPqResidualTopK(spark, sfDir),
      Similarity.cosineTopK(spark, sfDir), "pq_cos")

  // -------------------------------------------- reduced-geometry value probe

  /** Probe geometry: 4 subspaces × 16 dims × 16 codes. The production
    * replay (16 subspaces × 256 codes over the full corpus) is the one
    * oracle DuckDB cannot finish at sf10 (130 GB RSS even row-sliced —
    * SCALE_r14_sf10_verify.txt), leaving the PQ family's sf10 evidence
    * cost-adjudicated instead of value-matched. The probe collapses
    * that cost on BOTH axes: 16 candidates per argmin instead of 256,
    * and training + encode restricted to the pinned sample (row count
    * bounded by [[Similarity.TrainSampleFloor]]·stride-rounding at ANY
    * corpus size), while exercising the identical machinery — quantize,
    * stride sample, rank-cid init, tie-pinned integer argmin, HALF_UP
    * means, empty-cell carry, reconstruction norms. A value-level PASS
    * here at sf10 is the missing hash-match evidence for the family. */
  val SmallM = 4
  val SmallSub = 16 // SmallM * SmallSub == Similarity.Dims
  val SmallK = 16
  val SmallIters = 2

  private def pqSmallBooks(spark: SparkSession, sfDir: String)
      : IndexedSeq[IndexedSeq[CentLit]] = {
    val memo = Materialize.memoized(spark,
        s"pq_small_books_${SmallK}_${SmallIters}_${Materialize.dirTag(spark, sfDir)}") {
      val books = pqTrainOver(pqSample(spark, sfDir),
        SmallM, SmallSub, SmallK, SmallIters)
      spark.createDataFrame(
        for { (b, s) <- books.zipWithIndex; c <- b }
          yield (s, c.cid, c.cq, c.cn2))
        .toDF("s", "cid", "cq", "cn2")
    }
    val rows = memo.collect()
    IndexedSeq.tabulate(SmallM) { s =>
      rows.filter(_.getInt(0) == s)
        .map(r => CentLit(r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
        .sortBy(_.cid).toIndexedSeq
    }
  }

  /** (vec_id, c0..c3, rq_n2) over the pinned sample at the probe
    * geometry — training AND encode are sample-bounded, so the full
    * DuckDB training replay stays cheap at every scale factor. */
  def pqCodesSmall(spark: SparkSession, sfDir: String): DataFrame = {
    val books = pqSmallBooks(spark, sfDir)
    val codes = pqCodeCols(books)
    pqSample(spark, sfDir)
      .where(col("q").isNotNull)
      .select(col("vec_id") +:
        codes.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
      .withColumn("rq", pqReconFromCodes(books))
      .select(col("vec_id") +:
        (0 until SmallM).map(i => col(s"c$i")) :+
        Similarity.dotQ(col("rq"), col("rq")).as("rq_n2"): _*)
      .orderBy(col("vec_id").asc)
  }

  lazy val pqEncodeSql: String = {
    val codeJoins = (1 until PqM)
      .map(s => s"JOIN asg_$s a$s ON a0.vec_id = a$s.vec_id").mkString("\n|")
    val codeCols = (0 until PqM).map(s => s"a$s.cid AS c$s").mkString(", ")
    s"""WITH ${Similarity.corpusSql},
       |$pqCtes
       |SELECT a0.vec_id, $codeCols,
       |       CAST(${Similarity.dotQSql("recon.rq", "recon.rq")} AS BIGINT) AS rq_n2
       |FROM asg_0 a0
       |$codeJoins
       |JOIN recon ON a0.vec_id = recon.vec_id
       |ORDER BY a0.vec_id ASC""".stripMargin
  }

  /** Recall@K of the PQ serving tier against the exact brute-force
    * cosine top-K — the acceptance metric a pipeline gates a serving
    * rollout on (a compression tier with bad recall is not "done"
    * no matter how fast it is). One row: k, n_overlap, recall,
    * first_hit_rank, rr (see `Similarity.recallOf`). Both sides are
    * existing oracled queries; the join is K×K ids. */
  def pqRecall(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.recallOf(pqTopK(spark, sfDir),
      Similarity.cosineTopK(spark, sfDir), "pq_cos")

  // lazy: declared above pqTopKSql/cosineTopKSql in initialization
  // order; an eager val would read them as null mid-<clinit>
  /** Recall@K of the composed IVF-PQ tier — both losses at once (cell
    * pruning + code reconstruction), the number a rollout compares
    * against [[pqRecall]] and `sim_ivf_recall` to see which loss
    * dominates. */
  def ivfPqRecall(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.recallOf(ivfPqTopK(spark, sfDir),
      Similarity.cosineTopK(spark, sfDir), "pq_cos")

  lazy val ivfPqRecallSql: String =
    Similarity.recallSqlOf(ivfPqTopKSql, "pq_cos")

  lazy val pqRecallSql: String =
    Similarity.recallSqlOf(pqTopKSql, "pq_cos")

  private def dotNSql(n: Int, a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> $a[i] * $b[i]))"

  private def dot8Sql(a: String, b: String): String = dotNSql(SubDim, a, b)

  /** Tie-pinned argmin code id as a STREAMING AGGREGATE: lexicographic
    * min over [squared distance, cid] — identical winner to the old
    * `ROW_NUMBER() OVER (ORDER BY dist ASC, cid ASC) = 1` window, but
    * the cross join streams through a hash aggregate instead of
    * materializing and sorting every (vector × candidate) row. With
    * K=256 candidates × [[PqM]] subspaces the window form's
    * materialization is exactly what spilled past the box at sf1
    * (SCALE_CORRECTNESS r13); the aggregate form keeps one row per
    * vector live. The CAST pins the list element type to BIGINT
    * (list_sum yields HUGEINT, which would otherwise leak into the
    * extracted cid and come back float64 through pandas). */
  private def argminCidSql(distSql: String): String =
    s"min([CAST($distSql AS BIGINT), c.cid])[2]"

  /** Per-subspace training replay: slice → pinned sample → c0 →
    * unrolled iterations → final assignment → reconstruction rows.
    * Mirrors `trainedCellsSqlFor`'s correspondence with the driver
    * loop: training CTEs (`ts_`/`a_`/`m_`) run over the sampled
    * vectors, the final `asg_` assignment over the full slice.
    * `src` is the (vec_id, q) source CTE — `e` for the raw tier,
    * `er` (the residual frame) for the residual tier. */
  private def subTrainSql(s: Int, src: String): String = {
    val lo = s * SubDim + 1
    val hi = (s + 1) * SubDim
    def iter(i: Int, cIn: String): String =
      s"""a${i}_$s AS (SELECT e.vec_id,
         |               ${argminCidSql(s"e.n2 - 2 * ${dot8Sql("e.q", "c.cq")} + c.cn2")} AS cid
         |        FROM ts_$s e, $cIn c GROUP BY e.vec_id),
         |m${i}_$s AS (SELECT a.cid, i.range AS pos,
         |               CAST(round(CAST(SUM(t.q[i.range]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
         |        FROM a${i}_$s a JOIN ts_$s t ON a.vec_id = t.vec_id, range(1, ${SubDim + 1}) i
         |        GROUP BY a.cid, i.range),
         |cm${i}_$s AS (SELECT cid, list(m ORDER BY pos) AS cq FROM m${i}_$s GROUP BY cid),
         |c${i}_$s AS (SELECT c.cid, COALESCE(mm.cq, c.cq) AS cq,
         |               ${dot8Sql("COALESCE(mm.cq, c.cq)", "COALESCE(mm.cq, c.cq)")} AS cn2
         |        FROM $cIn c LEFT JOIN cm${i}_$s mm ON c.cid = mm.cid)""".stripMargin
    val iters = (1 to PqIters)
      .map(i => iter(i, if (i == 1) s"c0_$s" else s"c${i - 1}_$s"))
      .mkString(",\n")
    // e_/ts_ MATERIALIZED: e_$s is read by the sample AND the final
    // assignment, ts_$s by every iteration's assignment and mean — the
    // BPE/k-core exponential-inlining lesson applied before it bites
    s"""e_$s AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q,
       |               ${dot8Sql(s"q[$lo:$hi]", s"q[$lo:$hi]")} AS n2 FROM $src
       |          WHERE q IS NOT NULL),
       |ts_$s AS MATERIALIZED (SELECT t.* FROM e_$s t, psmp WHERE t.vec_id % psmp.s = 1 % psmp.s),
       |c0_$s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS BIGINT) AS cid, q AS cq, n2 AS cn2
       |          FROM (SELECT vec_id, q, n2 FROM ts_$s
       |                WHERE vec_id >= 1 ORDER BY vec_id ASC LIMIT $PqK)),
       |$iters,
       |asg_$s AS (SELECT e.vec_id,
       |             ${argminCidSql(s"e.n2 - 2 * ${dot8Sql("e.q", "c.cq")} + c.cn2")} AS cid
       |           FROM e_$s e, c${PqIters}_$s c GROUP BY e.vec_id),
       |r_$s AS (SELECT a.vec_id, c.cq FROM asg_$s a
       |         JOIN c${PqIters}_$s c ON a.cid = c.cid)""".stripMargin
  }

  /** The [[PqM]] per-subspace training replays + the reconstruction CTE
    * (`recon`: vec_id → concatenated code centroids) over source CTE
    * `src`. Assumes `e` from `Similarity.corpusSql` is in scope (psmp
    * strides off the FULL corpus count on both tiers, mirroring
    * `corpusCount`-based stride resolution in the Scala trainers). */
  private def pqCtesOver(src: String): String = {
    val subs = (0 until PqM).map(s => subTrainSql(s, src)).mkString(",\n")
    val joins = (1 until PqM)
      .map(s => s"JOIN r_$s ON r_0.vec_id = r_$s.vec_id").mkString("\n|")
    val rqConcat = (0 until PqM).map(s => s"r_$s.cq").mkString(" || ")
    // psmp = the pinned training-sample stride (pqTrainBuild's
    // Similarity.trainSampleStride over the same COUNT(*)); shared by
    // all PqM subspace replays
    s"""psmp AS (SELECT GREATEST(1, COUNT(*) // GREATEST(${Similarity.TrainSampleFloor}, 100 * $PqK)) AS s FROM e),
       |$subs,
       |recon AS (SELECT r_0.vec_id, $rqConcat AS rq
       |          FROM r_0
       |$joins)""".stripMargin
  }

  private def pqCtes: String = pqCtesOver("e")

  /** [[pqCodesSmall]]'s oracle: the probe-geometry training replay —
    * [[subTrainSql]]'s structure at (m=[[SmallM]], sub=[[SmallSub]],
    * k=[[SmallK]]) with the training set = the pinned sample itself
    * (es), so every CTE is sample-bounded. psmp is copied verbatim from
    * the production replay: the probe samples with the SAME stride. */
  lazy val pqCodesSmallSql: String = {
    def subSmall(s: Int): String = {
      val lo = s * SmallSub + 1
      val hi = (s + 1) * SmallSub
      def iter(i: Int, cIn: String): String =
        s"""a${i}_$s AS (SELECT e.vec_id,
           |               ${argminCidSql(s"e.n2 - 2 * ${dotNSql(SmallSub, "e.q", "c.cq")} + c.cn2")} AS cid
           |        FROM e_$s e, $cIn c GROUP BY e.vec_id),
           |m${i}_$s AS (SELECT a.cid, i.range AS pos,
           |               CAST(round(CAST(SUM(t.q[i.range]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
           |        FROM a${i}_$s a JOIN e_$s t ON a.vec_id = t.vec_id, range(1, ${SmallSub + 1}) i
           |        GROUP BY a.cid, i.range),
           |cm${i}_$s AS (SELECT cid, list(m ORDER BY pos) AS cq FROM m${i}_$s GROUP BY cid),
           |c${i}_$s AS (SELECT c.cid, COALESCE(mm.cq, c.cq) AS cq,
           |               ${dotNSql(SmallSub, "COALESCE(mm.cq, c.cq)", "COALESCE(mm.cq, c.cq)")} AS cn2
           |        FROM $cIn c LEFT JOIN cm${i}_$s mm ON c.cid = mm.cid)""".stripMargin
      val iters = (1 to SmallIters)
        .map(i => iter(i, if (i == 1) s"c0_$s" else s"c${i - 1}_$s"))
        .mkString(",\n")
      s"""e_$s AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q,
         |               ${dotNSql(SmallSub, s"q[$lo:$hi]", s"q[$lo:$hi]")} AS n2 FROM es),
         |c0_$s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS BIGINT) AS cid, q AS cq, n2 AS cn2
         |          FROM (SELECT vec_id, q, n2 FROM e_$s
         |                WHERE vec_id >= 1 ORDER BY vec_id ASC LIMIT $SmallK)),
         |$iters,
         |asg_$s AS (SELECT e.vec_id,
         |             ${argminCidSql(s"e.n2 - 2 * ${dotNSql(SmallSub, "e.q", "c.cq")} + c.cn2")} AS cid
         |           FROM e_$s e, c${SmallIters}_$s c GROUP BY e.vec_id),
         |r_$s AS (SELECT a.vec_id, c.cq FROM asg_$s a
         |         JOIN c${SmallIters}_$s c ON a.cid = c.cid)""".stripMargin
    }
    val subs = (0 until SmallM).map(subSmall).mkString(",\n")
    val joins = (1 until SmallM)
      .map(s => s"JOIN r_$s ON r_0.vec_id = r_$s.vec_id").mkString("\n|")
    val rqConcat = (0 until SmallM).map(s => s"r_$s.cq").mkString(" || ")
    val codeJoins = (1 until SmallM)
      .map(s => s"JOIN asg_$s a$s ON a0.vec_id = a$s.vec_id").mkString("\n|")
    val codeCols = (0 until SmallM).map(s => s"a$s.cid AS c$s").mkString(", ")
    s"""WITH ${Similarity.corpusSql},
       |psmp AS (SELECT GREATEST(1, COUNT(*) // GREATEST(${Similarity.TrainSampleFloor}, 100 * $PqK)) AS s FROM e),
       |es AS MATERIALIZED (SELECT e.vec_id, e.q FROM e, psmp WHERE e.vec_id % psmp.s = 1 % psmp.s AND e.q IS NOT NULL),
       |$subs,
       |recon AS (SELECT r_0.vec_id, $rqConcat AS rq
       |          FROM r_0
       |$joins)
       |SELECT a0.vec_id, $codeCols,
       |       CAST(${Similarity.dotQSql("recon.rq", "recon.rq")} AS BIGINT) AS rq_n2
       |FROM asg_0 a0
       |$codeJoins
       |JOIN recon ON a0.vec_id = recon.vec_id
       |ORDER BY a0.vec_id ASC""".stripMargin
  }

  private def pqCosSql: String =
    Similarity.cosineFromSql(
      Similarity.dotQSql("recon.rq", "qv.qq"),
      Similarity.dotQSql("recon.rq", "recon.rq"), "qv.qn2")

  val pqTopKSql: String =
    s"""WITH ${Similarity.corpusSql},
       |$pqCtes,
       |qv AS (SELECT q AS qq, n2 AS qn2 FROM e WHERE vec_id = ${Similarity.QueryVecId})
       |SELECT e.vec_id, e.label, $pqCosSql AS pq_cos
       |FROM recon JOIN e ON recon.vec_id = e.vec_id, qv
       |WHERE e.vec_id <> ${Similarity.QueryVecId}
       |ORDER BY pq_cos DESC, e.vec_id ASC
       |LIMIT ${Similarity.TopK}""".stripMargin

  /** [[ivfPqTopK]]'s oracle: BOTH trainings replayed — the IVF
    * trained-cells CTE chain (cells/assigned) and the PQ codebooks —
    * then the probed-cell candidate set scored by reconstruction. */
  val ivfPqTopKSql: String =
    s"""WITH ${Similarity.corpusSql},
       |${Similarity.trainedCellsSql},
       |$pqCtes,
       |probes AS (SELECT cid AS probe_cid FROM assigned
       |           WHERE vec_id = ${Similarity.QueryVecId} AND rn <= ${Similarity.NumProbes}),
       |qv AS (SELECT q AS qq, n2 AS qn2 FROM e WHERE vec_id = ${Similarity.QueryVecId})
       |SELECT cells.vec_id, cells.label, cells.cid, $pqCosSql AS pq_cos
       |FROM cells
       |JOIN probes ON cells.cid = probes.probe_cid
       |JOIN recon ON cells.vec_id = recon.vec_id, qv
       |WHERE cells.vec_id <> ${Similarity.QueryVecId}
       |ORDER BY pq_cos DESC, cells.vec_id ASC
       |LIMIT ${Similarity.TopK}""".stripMargin

  /** [[ivfPqResidualTopK]]'s oracle: the IVF training replay, the
    * residual frame `er` (CASE-guarded so a NULL embedding stays a
    * NULL residual — DuckDB's `NULL[i]` inside list_transform would
    * otherwise yield a non-null list of NULLs where Spark's zip_with
    * yields NULL), the full [[PqM]]-codebook replay OVER RESIDUALS,
    * the centroid re-addition (`reconf`), then the probed-cell
    * serving — both trainings and both residual arithmetic steps
    * value-replayed in one query. */
  lazy val ivfPqResidualTopKSql: String = {
    val dims = Similarity.Dims
    val cent = s"c${Similarity.TrainedIters}"
    val cosSql = Similarity.cosineFromSql(
      Similarity.dotQSql("reconf.rq", "qv.qq"),
      Similarity.dotQSql("reconf.rq", "reconf.rq"), "qv.qn2")
    s"""WITH ${Similarity.corpusSql},
       |${Similarity.trainedCellsSql},
       |er AS MATERIALIZED (SELECT cells.vec_id,
       |        CASE WHEN cells.q IS NULL THEN NULL
       |             ELSE list_transform(range(1, ${dims + 1}), i -> cells.q[i] - c.cq[i]) END AS q
       |        FROM cells JOIN $cent c ON cells.cid = c.cid),
       |${pqCtesOver("er")},
       |reconf AS (SELECT recon.vec_id,
       |        list_transform(range(1, ${dims + 1}), i -> recon.rq[i] + c.cq[i]) AS rq
       |        FROM recon JOIN cells ON cells.vec_id = recon.vec_id
       |        JOIN $cent c ON cells.cid = c.cid),
       |probes AS (SELECT cid AS probe_cid FROM assigned
       |           WHERE vec_id = ${Similarity.QueryVecId} AND rn <= ${Similarity.NumProbes}),
       |qv AS (SELECT q AS qq, n2 AS qn2 FROM e WHERE vec_id = ${Similarity.QueryVecId})
       |SELECT cells.vec_id, cells.label, cells.cid, $cosSql AS pq_cos
       |FROM cells
       |JOIN probes ON cells.cid = probes.probe_cid
       |JOIN reconf ON cells.vec_id = reconf.vec_id, qv
       |WHERE cells.vec_id <> ${Similarity.QueryVecId}
       |ORDER BY pq_cos DESC, cells.vec_id ASC
       |LIMIT ${Similarity.TopK}""".stripMargin
  }

  lazy val ivfPqResidualRecallSql: String =
    Similarity.recallSqlOf(ivfPqResidualTopKSql, "pq_cos")
}
