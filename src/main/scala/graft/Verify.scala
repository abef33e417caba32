package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: only dump the named queries (local iteration)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here would verify nothing and exit 0")
    // The session arms the planning-time cartesian guard for the whole
    // dump: every registered query is thereby certified guard-clean at
    // OPTIMIZATION time (a runaway join would fail its dump and the
    // round), on top of the physical-plan audit in PropertiesSpec.
    val spark = GraftSession.local()
    // Overrides that change only the Spark side while the oracle SQL
    // stays pinned would report false mismatches — refuse rather than
    // mislead. The ANN plane count (oracle derives it from a live
    // COUNT(*)) and the minhash bucket cap (oracle QUALIFY pins
    // DefaultMinhashBucketCap) both have that property; the simhash hot
    // cap does NOT (retrieval is exact at any cap) and needs no guard.
    // (CurriculumBandsKey is band-invariant — spec-pinned — and needs
    // no guard, like SimhashHotCapKey.) The reference-parity query
    // parameters (top-K, date ranges, session gap) are runtime knobs by
    // design but their oracle SQL bakes the defaults, so they carry the
    // same false-mismatch property here.
    for (key <- Seq(GraftConf.AnnPlanesKey, GraftConf.MinhashBucketCapKey,
                    GraftConf.PackingShardsKey, GraftConf.ChunkSizeKey,
                    GraftConf.ChunkStrideKey, GraftConf.ExportShardsKey,
                    GraftConf.SemdedupCellCapKey, GraftConf.VocabSizeKey,
                    GraftConf.KnnKKey, GraftConf.TopKKey,
                    GraftConf.Q1StartKey, GraftConf.Q1EndKey,
                    GraftConf.Q1cStartKey, GraftConf.Q1cEndKey,
                    GraftConf.SessionGapKey, GraftConf.GroupTopKKey,
                    GraftConf.SpanWindowKey, GraftConf.IvfKKey))
      require(spark.conf.getOption(key).isEmpty,
        s"$key is set; unset it before verifying " +
          "(the oracle SQL pins this knob's default)")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
