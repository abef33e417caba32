package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumns.{column, expression}
import graft.functions.Int8Codes
import graft.sources.Tables

/** Symmetric int8 embedding quantization — the storage/serving
  * compression step of an embedding pipeline: per vector, scale =
  * max|x| / 127 and q_i = round(x_i * 127 / max|x|) ∈ [-127, 127],
  * reported here as the scale plus order-sensitive integer checksums of
  * the quantized vector (sum, index-weighted sum, saturation count) so
  * the whole codebook is oracle-verifiable without shipping arrays
  * through the driver compare.
  *
  * Scale design: entirely map-side — array higher-order functions per
  * row, no shuffle except the output sort (a real pipeline writes the
  * quantized arrays straight back to parquet). Numeric determinism:
  * floats are widened to double once, every derived value is a single
  * IEEE op per element ((x * 127) / maxabs, then round-half-away-from-
  * zero, which Spark's HALF_UP and DuckDB's round() share), and the
  * checksums are integer sums — order-free, so partitioning cannot
  * perturb them. The all-zero vector (maxabs = 0) quantizes to zeros
  * with scale 0 rather than dividing by zero.
  */
object Quantization {

  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    // codes come from the native Int8Codes kernel (one primitive loop)
    // instead of the interpreted `transform(round(x*127/maxabs))`
    // higher-order lambda — value-identical by construction (see the
    // kernel doc); the maxabs/scale column keeps its HOF form (it is
    // evaluated once per row and is not on the per-pair hot path)
    val e = col("embedding").cast("array<double>")
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), e.as("e"))
      .select(col("vec_id"), col("e"),
        array_max(transform(col("e"), x => abs(x))).as("maxabs"))
      .select(col("vec_id"),
        (col("maxabs") / 127).as("scale"),
        column(Int8Codes(expression(col("e")))).as("q"))
      .select(col("vec_id"), col("scale"),
        coalesce(aggregate(col("q"), lit(0L), (acc, x) => acc + x), lit(0L)).as("q_sum"),
        coalesce(aggregate(transform(col("q"), (x, i) => x * (i + 1).cast("long")),
          lit(0L), (acc, x) => acc + x), lit(0L)).as("q_wsum"),
        size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
      .orderBy(col("vec_id").asc)
  }

  /** Top-K neighbors of the query vector COMPUTED ON THE INT8 CODES —
    * the serving-fidelity readout of [[embedQuantize]]: rank by the
    * cosine of the quantized vectors (integer int8 dot and norms, then
    * the fixed sqrt/mul/div tree of `Similarity.cosineFrom`). Where
    * this disagrees with the float-path `sim_cosine_topk`, that IS the
    * quantization error a pipeline measures before switching serving to
    * int8. Same plan shape as the float path: one broadcast of the
    * single query row, one corpus scan, TakeOrderedAndProject — the
    * corpus never shuffles. Determinism: codes are exact integers
    * (round-half-away-from-zero on both engines), the dot is integer
    * arithmetic, and the final cosine is one IEEE tree. */
  def int8TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val k = Similarity.TopK
    // the squared norm and the per-pair dot both run through the native
    // codegen'd DotLong kernel instead of interpreted
    // `aggregate`/`zip_with` higher-order folds (CodegenFallback: one
    // interpreted lambda dispatch per element per row — measured as a
    // single 0.8 s task for the 2 000-row scoring pass at sf0.1; the
    // kernel is a primitive loop). Values are identical: both forms are
    // the exact int64 sum of elementwise products in ascending index
    // order, and null elements contribute 0 in both.
    val q8frame = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), col("label"),
        column(Int8Codes(expression(col("e")))).as("q8"))
      .withColumn("n8", Similarity.dotQ(col("q8"), col("q8")))
    val query = q8frame.where(col("vec_id") === Similarity.QueryVecId)
      .select(col("q8").as("qq8"), col("n8").as("qn8"))
    q8frame.join(broadcast(query))
      .where(col("vec_id") =!= Similarity.QueryVecId && col("n8") > 0 && col("qn8") > 0)
      .withColumn("dot8", Similarity.dotQ(col("q8"), col("qq8")))
      .select(col("vec_id"), col("label"),
        (col("dot8").cast("double") /
          (sqrt(col("n8").cast("double")) * sqrt(col("qn8").cast("double"))))
          .as("cos_sim8"))
      .orderBy(col("cos_sim8").desc, col("vec_id").asc)
      .limit(k)
  }

  val int8TopKSql: String =
    s"""WITH e AS (SELECT vec_id, label,
       |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |           FROM embeddings),
       |m AS (SELECT vec_id, label, e,
       |             list_max(list_transform(e, x -> abs(x))) AS maxabs FROM e),
       |q AS (SELECT vec_id, label,
       |             list_transform(e, x -> CASE WHEN maxabs = 0 THEN 0
       |                                         ELSE CAST(round(x * 127 / maxabs) AS BIGINT) END) AS q8
       |      FROM m),
       |n AS (SELECT vec_id, label, q8,
       |             coalesce(list_sum(list_transform(q8, x -> x * x)), 0) AS n8 FROM q),
       |qv AS (SELECT q8 AS qq8, n8 AS qn8 FROM n WHERE vec_id = ${Similarity.QueryVecId})
       |SELECT n.vec_id, n.label,
       |       CAST(coalesce(list_sum(list_transform(range(1, len(n.q8) + 1),
       |                                             i -> n.q8[i] * qv.qq8[i])), 0) AS DOUBLE)
       |         / (sqrt(CAST(n.n8 AS DOUBLE)) * sqrt(CAST(qv.qn8 AS DOUBLE))) AS cos_sim8
       |FROM n, qv
       |WHERE n.vec_id <> ${Similarity.QueryVecId} AND n.n8 > 0 AND qv.qn8 > 0
       |ORDER BY cos_sim8 DESC, n.vec_id ASC
       |LIMIT ${Similarity.TopK}""".stripMargin

  val embedQuantizeSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |           FROM embeddings),
       |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM e),
       |q AS (SELECT vec_id, maxabs / 127 AS scale,
       |             list_transform(e, x -> CASE WHEN maxabs = 0 THEN 0
       |                                         ELSE CAST(round(x * 127 / maxabs) AS BIGINT) END) AS q
       |      FROM m)
       |SELECT vec_id, scale,
       |       CAST(coalesce(list_sum(q), 0) AS BIGINT) AS q_sum,
       |       CAST(coalesce(list_sum(list_transform(q, (x, i) -> x * i)), 0) AS BIGINT) AS q_wsum,
       |       CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
       |FROM q
       |ORDER BY vec_id ASC""".stripMargin
}
