package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The r16 native quantization kernels must be VALUE-IDENTICAL to the
  * interpreted higher-order forms they replaced — on the fixture
  * embeddings and on adversarial edge rows (null array, null elements,
  * all-zero vector, exact .5 halves both signs, saturating extremes,
  * empty array). The HOF forms are re-stated here verbatim as the
  * reference implementation. */
class QuantizeKernelsSpec extends SparkSpec {

  private def edgeDf = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("e", ArrayType(DoubleType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row(1L, Seq(0.0, 0.0, 0.0)),                       // all-zero: maxabs 0
      Row(2L, Seq(2.5, -2.5, 0.5, -0.5)),                // exact halves
      Row(3L, Seq(1.0, null, -1.0)),                     // null element
      Row(4L, null),                                     // null array
      Row(5L, Seq.empty[java.lang.Double]),              // empty array
      Row(6L, Seq(1e-7, -1e-7, 0.4999999, 127.0)),       // tiny + saturating
      Row(7L, Seq(-127.3, 126.7, 63.5, -63.5)),          // more halves after scaling
      Row(8L, Seq(0.0, null)),                           // null element on a maxabs=0 vector → 0 (r16 ADVICE)
      Row(9L, Seq[Any](null, null))                      // all-null: no maxabs → null codes
    ).map { r =>
      Row(r.get(0), Option(r.get(1)).map(_.asInstanceOf[Seq[Any]]).orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("quantize_long matches the transform/round HOF form on fixture + edges") {
    val hof = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x.cast("double") * 1000000.0).cast("long"))
    // fixture embeddings (float elements)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("e"))
    for (df <- Seq(emb, edgeDf)) {
      val cmp = df.select(col("vec_id"),
          call_function("quantize_long", col("e")).as("k"),
          hof(col("e")).as("h"))
        .where(!(col("k") <=> col("h")))
      assert(cmp.count() === 0)
    }
  }

  test("int8_codes matches the maxabs/round HOF form on fixture + edges") {
    def hofCodes(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("e"),
        array_max(transform(col("e"), x => abs(x))).as("maxabs"))
      .select(col("vec_id"),
        transform(col("e"), x =>
          when(col("maxabs") === 0, lit(0L))
            .otherwise(round(x * 127 / col("maxabs")).cast("long"))).as("h"))
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    for (df <- Seq(emb, edgeDf)) {
      val k = df.select(col("vec_id"),
        call_function("int8_codes", col("e")).as("k"))
      val cmp = hofCodes(df).join(k, "vec_id")
        .where(!(col("k") <=> col("h")))
      assert(cmp.count() === 0)
    }
  }
}
