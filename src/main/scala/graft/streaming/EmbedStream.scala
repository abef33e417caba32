package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Similarity

/** Streaming kNN/topic labeling — the SERVING half of
  * `Similarity.knnLabelIvf` over an embedding stream: each arriving
  * vector probes its nearest trained cells and is labeled by majority
  * vote of its K nearest references in those cells.
  *
  * Architecture (all pieces already oracle-verified in batch):
  *  - The trained coarse quantizer rides in as a PLAN LITERAL
  *    (`Similarity.trainedCentroidLiteral` — k centroid structs), so
  *    cell probing is a stateless per-row Catalyst fold, the same
  *    `probeCids` expression the batch operator runs. No join, no
  *    state.
  *  - Candidates come from ONE stream-static equi-join on the 8-byte
  *    cell id against the memoized posting-list index
  *    (`Similarity.knnCellIndex`) — the stream-static join is
  *    stateless, and scoring each cell's members happens inside a
  *    row-local `transform` with the exact quantized-cosine arithmetic
  *    of the batch twin (same Column expressions, so the IEEE tree is
  *    identical).
  *  - The per-query vote is a `flatMapGroupsWithState` group over the
  *    ≤ NumProbes cell rows — all produced in the SAME micro-batch as
  *    their input row, so the group sees every candidate at once and
  *    emits the prediction immediately; state stays empty (the operator
  *    is per-batch, the grouping is just the shuffle to one task).
  *
  * The spec pins streamed predictions == `knnLabelIvf` (hash-verified
  * against DuckDB replaying the identical training + probing), so the
  * serving path inherits the batch oracle.
  *
  * Scale: per-row work is probes × cell occupancy — the IVF contract;
  * state is zero, so stream length never grows memory. The posting
  * index shards by cid; a hot cell is a hot KEY, not hot state.
  */
object EmbedStream {

  /** One served prediction. */
  case class KnnPrediction(query_id: Long, pred_label: Int, n_votes: Long)

  /** File-source stream over an embeddings parquet directory — the
    * replay/landing shape, like `EventStream.readEventsStream`. */
  def readEmbeddingsStream(spark: SparkSession, dir: String,
                           maxFilesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
  }

  /** Label the stream's held-out query vectors (vec_id ≡ 0 mod
    * `Similarity.KnnQueryMod`, matching the batch twin's query set;
    * pass a different `queryFilter` to serve arbitrary vectors).
    * Zero-norm vectors are excluded on BOTH sides — the undefined-
    * cosine hazard the batch operators document. */
  def labelStream(embStream: DataFrame, spark: SparkSession, sfDir: String,
      queryFilter: org.apache.spark.sql.Column =
        col("vec_id") % Similarity.KnnQueryMod === 0): Dataset[KnnPrediction] = {
    import spark.implicits._
    val k = graft.GraftConf.knnK(spark)
    val cents = Similarity.trainedCentroidLiteral(spark, sfDir)
    val index = Similarity.knnCellIndex(spark, sfDir)

    val probed = embStream
      .where(queryFilter && col("embedding").isNotNull)
      .select(col("vec_id").as("query_id"),
        Similarity.quantize(col("embedding")).as("qq"))
      .withColumn("qn2", Similarity.dotQ(col("qq"), col("qq")))
      .where(col("qn2") > 0)
      .select(col("query_id"), col("qq"), col("qn2"),
        explode(Similarity.probeCids(cents, col("qq"), col("qn2"),
          Similarity.NumProbes)).as("cid"))

    val scoredCells = probed.join(index, "cid")
      .select(col("query_id"),
        transform(col("members"), m => struct(
          Similarity.cosineFrom(
            Similarity.dotQ(m.getField("q"), col("qq")),
            m.getField("n2"), col("qn2")).as("cos"),
          m.getField("vec_id").as("vec_id"),
          m.getField("label").as("label"))).as("cands"))
      .as[(Long, Seq[(Double, Long, Int)])]

    scoredCells
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Seq[(Double, Long, Int)])],
         state: GroupState[Boolean]) =>
          // BestKByScore's exact ordering: (cos desc, vec_id asc), then
          // the vote argmax ties (n_votes desc, label asc) — the batch
          // voteTail semantics in JVM form over this query's candidates
          // `cos + 0.0` collapses the signed zeros before negating: SQL's
          // `cos DESC` treats -0.0 = 0.0, but Java's total order puts
          // -(+0.0) = -0.0 before -(-0.0) = +0.0, which would flip the
          // vid tiebreak on a zero-cosine tie at k's boundary
          val top = rows.flatMap(_._2).toArray
            .sortBy { case (cos, vid, _) => (-(cos + 0.0), vid) }.take(k)
          if (top.isEmpty) Iterator.empty
          else {
            val (lbl, votes) = top.groupBy(_._3)
              .map { case (l, g) => (l, g.length.toLong) }.toSeq
              .minBy { case (l, n) => (-n, l) }
            Iterator.single(KnnPrediction(qid, lbl, votes))
          }
      }
  }

  /** Streaming PQ encoding — the index-build INGEST path: arriving
    * vectors are coded against the batch-trained codebooks
    * ([[graft.operators.ProductQuant.pqTrain]]) riding as plan
    * literals, emitting the 8-code stored representation plus the
    * reconstruction norm. Stateless, no shuffle; shares the code-id
    * Column builders with the batch encoder so streamed codes are
    * identical to `pq_encode`'s (spec-pinned). A deployment appends
    * these rows to the serving index the way `knnCellIndexIncremental`
    * grows the IVF posting lists. */
  def pqEncodeStream(embStream: DataFrame, spark: SparkSession,
                     sfDir: String): DataFrame = {
    import graft.operators.ProductQuant
    val books = ProductQuant.pqTrain(spark, sfDir)
    val codes = ProductQuant.pqCodeCols(books)
    embStream
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
      .select(col("vec_id") +: codes.zipWithIndex.map {
        case (c, i) => c.as(s"c$i") }: _*)
      .withColumn("rq_n2",
        Similarity.dotQ(ProductQuant.pqReconFromCodes(books),
          ProductQuant.pqReconFromCodes(books)))
  }
}
