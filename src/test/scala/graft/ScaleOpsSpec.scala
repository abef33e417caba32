package graft

import graft.operators.SkewOps
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Tests for the at-scale utilities: bucketed co-located joins (no
  * exchange on the bucketed side) and deterministic salted joins
  * (identical results to the plain join). */
class ScaleOpsSpec extends SparkSpec {

  test("bucketed tables join without shuffling the bucketed sides") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    Tables.writeBucketed(li, "li_bkt", "l_orderkey", 4)
    Tables.writeBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_bkt", "l_orderkey", 4)
    val joined = spark.table("li_bkt").join(spark.table("ord_bkt"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // and it computes the same thing as the unbucketed join
    assert(joined.count() ==
      li.join(ord, li("l_orderkey") === ord("o_orderkey")).count())
    spark.sql("DROP TABLE li_bkt"); spark.sql("DROP TABLE ord_bkt")
  }

  test("bucketed band table: incremental dedup joins without reshuffling the corpus") {
    import graft.operators.DedupOps
    Tables.writeBucketed(DedupOps.bandTable(spark, sf), "bands_bkt", "band_key", 4)
    val inc = DedupOps.incrementalCandidatesFromBands(spark.table("bands_bkt"))
    val plan = inc.queryExecution.executedPlan.toString
    // the ONLY hash exchange is the final pair-count aggregation; the
    // band self-join runs on the shared bucket layout
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange (pair-count agg), got $exchanges:\n$plan")
    // and it computes exactly the text path's result
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(inc) == rows(DedupOps.incrementalCandidates(spark, sf)))
    spark.sql("DROP TABLE bands_bkt")
  }

  test("salted join returns exactly the plain join's result") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
    val dim = Tables.supplier(spark, sf).select("s_suppkey", "s_acctbal")
    val plain = fact.join(dim, fact("l_suppkey") === dim("s_suppkey"))
      .select("l_orderkey", "l_linenumber", "s_acctbal")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2))).sorted
    val salted = SkewOps.saltedJoin(fact, dim.withColumnRenamed("s_suppkey", "l_suppkey"),
        "l_suppkey", 8, Seq("l_orderkey", "l_linenumber"))
      .select("l_orderkey", "l_linenumber", "s_acctbal")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2))).sorted
    assert(plain.sameElements(salted))
  }

  test("dot_long is SQL-callable once registered (extensions wiring)") {
    // the extensions class and install read the same function table;
    // exercise the install path on the shared test session
    GraftExtensions.install(spark)
    val r = spark.sql("SELECT dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").collect()
    assert(r(0).getLong(0) == 32L)
  }

  test("DotLong interpreted eval matches codegen semantics") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val a = Literal.create(Seq(2L, 3L), ArrayType(LongType))
    val b = Literal.create(Seq(5L, 7L), ArrayType(LongType))
    assert(graft.functions.DotLong(a, b).eval(null) == 31L)
  }

  test("AnnBuckets fused kernel matches per-plane dot_long composition") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.operators.Similarity
    val planes = 5
    val vec = (0 until Similarity.Dims).map(i => (i * 37 % 101) - 50L)
    val flat = (0 until Similarity.AnnTables).flatMap(t =>
      (0 until planes).flatMap(p =>
        Similarity.planeSigns(t * Similarity.AnnMaxPlanes + p).map(_.toLong)))
    // reference semantics: one dot product + sign bit per (table, plane)
    val expect = (0 until Similarity.AnnTables).map { t =>
      (0 until planes).map { p =>
        val signs = Similarity.planeSigns(t * Similarity.AnnMaxPlanes + p)
        val dot = vec.zip(signs).map { case (v, s) => v * s }.sum
        if (dot >= 0) 1L << p else 0L
      }.sum
    }
    // interpreted eval path
    val e = graft.functions.AnnBuckets(
      Literal.create(vec, ArrayType(LongType)),
      Literal.create(flat, ArrayType(LongType)),
      Literal(planes), Literal(Similarity.AnnTables))
    val got = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(got.toSeq == expect)
    // SQL / codegen path over a one-row frame
    val sqlGot = spark.sql(
      s"""SELECT ann_buckets(array(${vec.map(_ + "L").mkString(",")}),
         |                   array(${flat.map(_ + "L").mkString(",")}),
         |                   $planes, ${Similarity.AnnTables}) AS b""".stripMargin)
      .collect()(0).getSeq[Long](0)
    assert(sqlGot == expect)
  }

  test("ann_buckets compiles under codegen-only mode for nullable AND non-nullable input") {
    // A doGenCode bug (e.g. not returning FalseLiteral isNull for a
    // non-nullable child) makes Spark fall back to interpreted eval
    // SILENTLY — results stay right, tests stay green, codegen is dead.
    // CODEGEN_ONLY + fallback=false turns that into a hard failure.
    import graft.operators.Similarity
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val base = spark.range(8).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(Similarity.Dims)),
          i => pmod(xxhash64(col("id"), i), lit(1000001L)) - lit(500000L)).as("q"))
      // non-nullable vector → the FalseLiteral isNull path
      assert(Similarity.bucketRows(base, 5).collect().length == 8 * Similarity.AnnTables)
      // nullable vector (one real null) → the declared-isNull path +
      // the null→bucket-0 coalesce
      val nullable = base.select(col("vec_id"),
        when(col("vec_id") =!= 3L, col("q")).as("q"))
      val rows = Similarity.bucketRows(nullable, 5).collect()
      assert(rows.length == 8 * Similarity.AnnTables)
      val nullVec = rows.filter(_.getLong(0) == 3L)
      assert(nullVec.length == Similarity.AnnTables &&
        nullVec.forall(_.getAs[Long]("bucket") == 0L),
        "null vector must land in bucket 0 of every table (oracle semantics)")
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("ANN candidate pairs stay ~linear in corpus size (bucket count scales)") {
    import graft.operators.Similarity
    // 10k deterministic pseudo-random vectors, already in quantized
    // space. With a FIXED 16-bucket space this corpus would generate
    // ~n²/32 ≈ 3.1M candidate pairs; the scaled bucketing must stay
    // within a small constant per vector.
    val n = 10000L
    val embQ = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(Similarity.Dims)),
        i => pmod(xxhash64(col("id"), i), lit(2000001L)) - lit(1000000L)).as("q"))
    val planes = Similarity.annPlanesFor(n)
    assert(planes > 4, s"10k vectors must use more than the minimum 16 buckets, got 2^$planes")
    val pairs = Similarity.candidatePairs(embQ, planes).count()
    assert(pairs > 0L)
    assert(pairs < n * 100,
      s"candidate pairs must stay ~linear in n: got $pairs for n=$n (all-pairs would be ${n * (n - 1) / 2})")
  }

  test("ANN plane count follows corpus size, clamped") {
    import graft.operators.Similarity.annPlanesFor
    assert(annPlanesFor(1) == 4)
    assert(annPlanesFor(500) == 4)      // sf0.01 fixture
    assert(annPlanesFor(2000) == 6)     // sf0.1 fixture
    assert(annPlanesFor(10000) == 9)
    assert(annPlanesFor(1000000) == 15)
    assert(annPlanesFor(Long.MaxValue / 2) == 20) // clamped at 1M buckets/table
  }

  test("spark.graft.ann.planes overrides the derived plane count") {
    import graft.operators.Similarity
    try {
      spark.conf.set(GraftConf.AnnPlanesKey, "4")
      // with 4 forced planes the query must still run and stay a
      // subset of the corpus (semantics, not geometry, fixed)
      val rows = Similarity.annTopK(spark, sf).collect()
      assert(rows.length <= Similarity.TopK)
    } finally spark.conf.unset(GraftConf.AnnPlanesKey)
  }

  test("bloom prefilter never rejects a member and rejects most non-members") {
    import graft.operators.BloomJoin
    import graft.functions.BloomAgg
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val members = (0L until 50L).map(_ * 7L + 3L)
    val bloom = udaf(new BloomAgg(BloomJoin.NumBits, BloomJoin.NumHashes))
    val bloomRow = members.toDF("k").agg(bloom(col("k")).as("bits"))
    val probe = (0L until 2000L).toDF("k")
      .join(broadcast(bloomRow))
      .where(BloomJoin.mightContain(col("bits"), col("k")))
      .collect().map(_.getLong(0)).toSet
    members.filter(_ < 2000L).foreach(m => assert(probe(m), s"member $m rejected — false negative"))
    // 8192 bits / 50 keys / 3 hashes → FP rate well under 1%; even 10×
    // that bound leaves the vast majority of the 1950 non-members rejected
    assert(probe.size < 100, s"bloom passed ${probe.size} of 2000 — not filtering")
  }

  test("salted left join preserves unmatched fact rows") {
    import spark.implicits._
    val fact = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val dim = Seq((1L, 10.0)).toDF("k", "w")
    val out = SkewOps.saltedJoin(fact, dim, "k", 4, Seq("v"), "left_outer")
    assert(out.count() == 3)
    assert(out.where(col("w").isNull).count() == 2)
  }

  test("knn top-K is cut by a partial aggregate BEFORE the exchange, not a window") {
    import graft.operators.Similarity
    val plan = Similarity.knnLabel(spark, sf).queryExecution.executedPlan.toString
    // partial + final ObjectHashAggregate around the query_id exchange:
    // a regression to ROW_NUMBER-per-query would ship every scored
    // corpus×query row through the shuffle (the review finding this pins)
    val aggs = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(aggs >= 2, s"expected partial+final bounded-buffer aggregates, got $aggs:\n$plan")
    // the only window left is the |Q|-row vote argmax (ordered by
    // n_votes); a window SPECIFIED OVER cos_sim would mean scoring
    // regressed to ROW_NUMBER-per-query over all corpus×query rows
    assert("windowspecdefinition\\([^)]*cos_sim".r.findFirstIn(plan).isEmpty,
      s"per-query scoring must not rank via a cos_sim window:\n$plan")
  }

  test("curriculum order exchanges by band — no corpus-wide single-partition window") {
    import graft.operators.Sharding
    // assert on the pre-memo BUILD plan: the registered surface reads
    // the memoized output, whose checkpoint hides the window shape
    val plan = Sharding.curriculumOrderBuild(spark, sf,
      graft.GraftConf.curriculumBands(spark)).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(band"),
      s"per-band ranking windows must partition by band:\n$plan")
  }

  test("hot LSH band bucket: occupancy cap bounds the candidate pairs a boilerplate family generates") {
    import graft.operators.DedupOps
    // a boilerplate-heavy corpus: 30 byte-identical documents (ONE hot
    // band bucket in every band) + 12 unrelated documents sharing no
    // shingles. Written as a real documents table so the cap is
    // exercised through the full text→shingle→signature→band pipeline.
    val boiler = "terms of service apply to all content on this mirror " +
      "site including the parts nobody reads ever"
    // every token parameterized by i — the 12 docs share ZERO shingles,
    // so cross-pairs can only come from the boilerplate family
    val uniq = (0 until 12).map(i =>
      s"subject$i matter$i detail$i depth$i angle$i topic$i " +
        s"scope$i theme$i facet$i aspect$i layer$i field$i")
    val rows = (0 until 30).map(i => (i.toLong, boiler)) ++
      uniq.zipWithIndex.map { case (t, i) => ((100 + i).toLong, t) }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hotbucket").toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def candidates(): Long = {
      graft.operators.Materialize.reset(spark)
      DedupOps.minhashCandidates(spark, dir).count()
    }
    try {
      // uncapped (default 1000): the boilerplate family alone generates
      // C(30,2) = 435 pairs — quadratic in occupancy, the scale hazard
      assert(candidates() == 435L)
      // capped at 10: every band bucket the family occupies exceeds the
      // cap and is dropped BEFORE the self-join, so the family generates
      // ZERO pairs (unique docs share no bucket either way). AQE can
      // split an oversized partition but cannot reduce the pairs a hot
      // bucket GENERATES — only the cap does that.
      spark.conf.set(GraftConf.MinhashBucketCapKey, "10")
      assert(candidates() == 0L)
    } finally {
      spark.conf.unset(GraftConf.MinhashBucketCapKey)
      graft.operators.Materialize.reset(spark)
    }
  }

  test("AQE skew-join splits the hot-key partition of a sort-merge join") {
    import spark.implicits._
    // one hot key carrying ~90% of the fact rows — the shape a capped
    // band join or a viral-user event join degrades to. AQE must mark
    // the SMJ as a skew join and split the oversized partition; the
    // salted fallback (SkewOps.saltedJoin, tested above) covers shapes
    // AQE cannot (e.g. the dimension side too big to broadcast but the
    // runtime stats too coarse). Thresholds are scaled down to fixture
    // size; at 100 TB the defaults (256 MB) play the same role.
    val hot = spark.range(0, 200000).select(lit(1L).as("k"), col("id").as("payload"))
    val cold = spark.range(0, 20000).select((col("id") % 500 + 2).as("k"), col("id").as("payload"))
    val fact = hot.unionByName(cold)
    val dim = spark.range(0, 502).select(col("id").as("k"), col("id").as("d"))
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val joined = fact.join(dim, "k")
      // execute THIS frame (not a derived count plan): the skew marker
      // only exists in the adaptively re-planned final physical plan
      val n = joined.collect().length
      assert(n == 220000, s"join result wrong: $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot-key SMJ as a skew join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("exact quantiles come from histograms — no buffering percentile/median aggregate") {
    import graft.operators.{AnalyticsExt, TextAnalysis}
    // the buffering aggregates hold every group value in one buffer —
    // an executor OOM on a hot source at corpus scale; the histogram
    // formulation (ExactQuantiles) must keep them out of these plans
    for ((name, plan) <- Seq(
        "source_profile" -> TextAnalysis.sourceProfile(spark, sf),
        "median_quantity" -> AnalyticsExt.medianQuantity(spark, sf))
          .map { case (n, df) => n -> df.queryExecution.optimizedPlan.toString }) {
      assert(!plan.contains("percentile("),
        s"$name regressed to the buffering percentile aggregate:\n$plan")
      assert(!plan.contains("median("),
        s"$name regressed to the buffering median aggregate:\n$plan")
    }
  }
}
