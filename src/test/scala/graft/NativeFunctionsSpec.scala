package graft

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumns.{column, expression}
import graft.functions._
import graft.operators.{CoOccur, Similarity}

/** The native-function table ([[GraftExtensions.Functions]]): every row
  * checks its argument count at analysis, and a session that gets the
  * table only through `spark.sql.extensions` resolves every row to the
  * value the library's Scala Column form computes. */
class NativeFunctionsSpec extends SparkSpec {

  private def assertWrongNumArgs(e: AnalysisException, fn: String, expected: Int): Unit = {
    assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
    assert(e.getMessage.contains(s"`$fn` requires $expected parameters"), e.getMessage)
  }

  test("a wrong argument count fails at analysis with WRONG_NUM_ARGS naming the function") {
    for ((sql, fn, expected) <- Seq(
        ("SELECT hash60('a', 'b')", "hash60", 1),
        ("SELECT dot_long(array(1L))", "dot_long", 2),
        ("SELECT ed1('a')", "ed1", 2),
        ("SELECT ivf_probes(array(1L), array(1L), 1L)", "ivf_probes", 4)))
      assertWrongNumArgs(intercept[AnalysisException](spark.sql(sql).collect()), fn, expected)
    // every row of the table checks its declared count, one over and one under
    for (f <- GraftExtensions.Functions; n <- Seq(f.arity - 1, f.arity + 1)) {
      val e = intercept[AnalysisException](f.builder(Seq.fill(n)(Literal(1))))
      assertWrongNumArgs(e, f.name, f.arity)
    }
  }

  test("spark.sql.extensions alone resolves every table function to its Scala Column value") {
    // a session built with only the extensions class: clear the shared
    // test session so the builder creates one, then restore it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(ext ne spark)
    val row = ext.sql(
      """SELECT 'the cat  sat on the mat' AS text,
        |  array('the', 'cat', 'sat', 'on', 'the', 'mat') AS toks,
        |  array(0.5D, -0.25D, 1.0D) AS e,
        |  array(3L, -2L, 7L) AS q,
        |  array(named_struct('cid', 1L, 'cq', array(1L, 0L, 0L), 'cn2', 1L),
        |        named_struct('cid', 2L, 'cq', array(3L, -2L, 6L), 'cn2', 49L)) AS cents,
        |  'kitten' AS a, 'kittin' AS b""".stripMargin)
    row.createOrReplaceTempView("graft_native_row")
    val signs = Seq(1L, -1L, 1L, -1L, -1L, 1L)
    val cases: Map[String, (String, Column)] = Map(
      "hash60" -> ("hash60(text)", TextOps.hash60(col("text"))),
      "hash60b" -> ("hash60b(text)", TextOps.hash60b(col("text"))),
      "hash120" -> ("hash120(text)", TextOps.hash120(col("text"))),
      "ngram_hash60" -> ("ngram_hash60(toks, 3)", TextOps.ngramHash60(col("toks"), 3)),
      "skipgram_pairs" -> (s"skipgram_pairs(toks, ${CoOccur.Window})", CoOccur.pairStructs(col("toks"))),
      "tokens_ws" -> ("tokens_ws(text)", TextOps.tokens(col("text"))),
      "term_freqs" -> ("term_freqs(toks, array('the', 'mat', 'dog'))",
        column(TermFreqs(expression(col("toks")), Seq("the", "mat", "dog")))),
      "count_in" -> ("count_in(toks, array('the', 'on'))", TextOps.stopwordHits(col("toks"), Seq("the", "on"))),
      "filter_in" -> ("filter_in(toks, array('the', 'on'))",
        column(FilterIn(expression(col("toks")), Seq("the", "on")))),
      "token_count" -> ("token_count(text)", TextOps.tokenCount(col("text"))),
      "quantize_long" -> ("quantize_long(e)", Similarity.quantize(col("e"))),
      "int8_codes" -> ("int8_codes(e)", column(Int8Codes(expression(col("e"))))),
      "dot_long" -> ("dot_long(q, q)", Similarity.dotQ(col("q"), col("q"))),
      "ann_buckets" -> (s"ann_buckets(q, array(${signs.map(_ + "L").mkString(", ")}), 1, 2)",
        column(AnnBuckets(expression(col("q")), expression(lit(signs.toArray)), Literal(1), Literal(2)))),
      "ivf_probes" -> ("ivf_probes(cents, q, dot_long(q, q), 2)",
        Similarity.probeCids(col("cents"), col("q"), Similarity.dotQ(col("q"), col("q")), 2)),
      "ed1" -> ("ed1(a, b)", column(EditWithin1(expression(col("a")), expression(col("b"))))))
    assert(cases.keySet == GraftExtensions.Functions.map(_.name).toSet)
    for ((name, (sql, scalaForm)) <- cases) {
      val viaSql = ext.sql(s"SELECT $sql AS v FROM graft_native_row")
      val viaScala = row.select(scalaForm.as("v"))
      assert(viaSql.schema == viaScala.schema, name)
      val (s, c) = (viaSql.collect().head.get(0), viaScala.collect().head.get(0))
      assert(s != null && s == c, s"$name: SQL $s, Scala $c")
    }
  }
}
