package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.{FixtureSql, Op, ViewSql}
import graft.operators.PipelineViews

/** The query registry: `SparkEntry.queries`, `SparkEntry.oracleSql` and
  * `PipelineViews.views` all come from one row list, each query stated
  * once. No session is needed: indexing builds no query. */
class RegistrySpec extends AnyFunSuite {

  private val rows = SparkEntry.rows

  test("265 distinct names, and a row list with a duplicate name is refused") {
    assert(rows.size == 265)
    assert(rows.map(_.name).distinct.size == 265)
    assert(SparkEntry.queries.size == 265)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.index(rows :+ FixtureSql("sql_q1a", "SELECT 1"))
    }
    assert(e.getMessage.contains("sql_q1a"))
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("row counts per form: 174 DataFrame, 39 fixture SQL, 52 view SQL") {
    assert(rows.count(_.isInstanceOf[Op]) == 174)
    assert(rows.count(_.isInstanceOf[FixtureSql]) == 39)
    assert(rows.count(_.isInstanceOf[ViewSql]) == 52)
  }

  test("each fixture SQL query runs the text its oracle runs") {
    rows.collect { case f: FixtureSql =>
      assert(f.name.startsWith("sql_"))
      assert(SparkEntry.oracleSql(f.name) == f.text, f.name)
    }
  }

  test("each view SQL query has one owner and shares its oracle") {
    val owners = rows.collect { case o: Op if o.view.nonEmpty => o.view -> o }
    rows.collect { case v: ViewSql =>
      val own = owners.collect { case (`v`.view, o) => o }
      assert(own.size == 1, v.name)
      assert(SparkEntry.oracleSql(v.name) == own.head.oracle, v.name)
      assert(v.text == s"SELECT ${v.cols} FROM ${v.view} ORDER BY ${v.order}")
    }
  }

  test("a view owned twice or not at all is refused") {
    val dedup = rows.collectFirst { case o @ Op("dedup_exact", _, _, _) => o }.get
    val twice = intercept[IllegalArgumentException] {
      SparkEntry.index(rows :+ dedup.copy(name = "dedup_exact_again"))
    }
    assert(twice.getMessage.contains("graft_dedup_exact"))
    val orphan = intercept[IllegalArgumentException] {
      SparkEntry.index(rows :+ ViewSql("sql_orphan", "graft_orphan", "x", "x ASC"))
    }
    assert(orphan.getMessage.contains("graft_orphan"))
  }

  test("PipelineViews.views holds 65 distinct graft_* views, each an Op row's build") {
    val names = PipelineViews.views.map(_._1)
    assert(names.size == 65 && names.distinct.size == 65)
    assert(names.forall(_.startsWith("graft_")))
    val builds = rows.collect { case o: Op if o.view.nonEmpty => o.view -> o.build }.toMap
    PipelineViews.views.foreach { case (n, b) => assert(builds(n) eq b, n) }
  }
}
