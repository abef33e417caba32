package graft

/** `Verify.requireOracleDefaults`: a session overriding a knob the
  * oracle SQL pins cannot verify. */
class VerifySpec extends SparkSpec {

  test("an unset session passes the oracle-defaults guard") {
    Verify.requireOracleDefaults(spark)
  }

  test("setting any oracle-pinned key fails the guard with the key's name") {
    assert(GraftConf.OraclePinnedKeys.size == 18)
    assert(GraftConf.OraclePinnedKeys.distinct.size == 18)
    for (key <- GraftConf.OraclePinnedKeys) {
      spark.conf.set(key, "1")
      try {
        val e = intercept[IllegalArgumentException](Verify.requireOracleDefaults(spark))
        assert(e.getMessage.contains(key))
      } finally spark.conf.unset(key)
    }
    Verify.requireOracleDefaults(spark)
  }
}
