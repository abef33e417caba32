package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CONF parsing drops empty keys and segments with no '='") {
    // an empty key would reach spark.conf.set("", ...) and abort the run
    assert(GraftSession.confOverrides(Some("=x;a.b=1; c = 2 ;noeq;;d=x=y")) ==
      Seq("a.b" -> "1", "c" -> "2", "d" -> "x=y"))
    assert(GraftSession.confOverrides(None).isEmpty)
  }

  test("the session factory sizes Spark's static code cache for the registry") {
    // a pass over the registry generates about 1,700 distinct classes
    assert(GraftSession.confs(4).toMap.get("spark.sql.codegen.cache.maxEntries").contains("5000"))
    assert(GraftSession.confs(3).toMap.get("spark.sql.shuffle.partitions").contains("3"))
  }
}
