package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.GraphRank
import graft.sources.Tables

/** PageRank against a full driver-side recompute: edges re-derived from
  * the raw events with independent Scala sessionization, then the power
  * iteration replayed with the same fixed-order (src-sorted,
  * left-associated, 0.0-seeded) fold — exact double equality, the same
  * bit-stability contract the BM25 spec pins. */
class GraphRankSpec extends SparkSpec {

  test("pagerank: ranks bit-equal a driver-side power-iteration replay") {
    val gapUs = graft.GraftConf.DefaultSessionGap.toLong * 60L * 1000000L
    val raw = Tables.events(spark, sf)
      .where(col("ts").isNotNull && col("user_id").isNotNull && col("props").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // independent sessionization + consecutive-pair edge counts
    val edges = scala.collection.mutable.Map.empty[(Long, Long), Long]
    raw.groupBy(_._1).foreach { case (_, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      sorted.sliding(2).foreach {
        case Array((_, usA, _, itemA), (_, usB, _, itemB)) =>
          if (usB - usA <= gapUs) {
            val k = (itemA, itemB)
            edges(k) = edges.getOrElse(k, 0L) + 1L
          }
        case _ =>
      }
    }
    val nodes = edges.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    val n = nodes.size.toDouble
    val outw = edges.toSeq.groupBy(_._1._1).map { case (s, es) => s -> es.map(_._2).sum }
    var ranks = nodes.map(v => v -> (1.0 / n)).toMap
    for (_ <- 1 to GraphRank.PageRankIters) {
      val incoming = edges.toSeq
        .map { case ((s, d), w) => (d, s, (ranks(s) * w.toDouble) / outw(s).toDouble) }
        .groupBy(_._1)
        .map { case (d, cs) =>
          d -> cs.sortBy(_._2).map(_._3).foldLeft(0.0)(_ + _) }
      ranks = nodes.map(v => v -> (0.15 / n + 0.85 * incoming.getOrElse(v, 0.0))).toMap
    }
    val expected = nodes.map(v => (v, ranks(v)))

    val got = GraphRank.pagerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
  }

  test("over-cap fallback: distributed iterations are value-identical to the driver path") {
    // default cap: driver-side loops (the fixture graph is ~100 nodes)
    val edges = GraphRank.itemEdges(spark, sf)
    val triDriver = GraphRank.trianglesOf(edges).collect().toSeq
    val kcDriver = GraphRank.kcoreOf(edges, GraphRank.KCoreK, GraphRank.KCoreRounds)
      .collect().toSeq
    val prDriver = GraphRank.pagerankBuild(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    // cap 0: every frame is "over cap" → the retained distributed
    // iterations run; results must be bit-identical (exact integer
    // counts; pagerank's fold replays the identical IEEE tree)
    spark.conf.set(GraftConf.GraphCollectCapKey, "0")
    try {
      val triDist = GraphRank.trianglesOf(edges).collect().toSeq
      val kcDist = GraphRank.kcoreOf(edges, GraphRank.KCoreK, GraphRank.KCoreRounds)
        .collect().toSeq
      val prDist = GraphRank.pagerankBuild(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(triDist == triDriver)
      assert(kcDist == kcDriver)
      assert(prDist == prDriver)
    } finally spark.conf.unset(GraftConf.GraphCollectCapKey)
  }

  // the driver loops return a local relation; the distributed
  // iterations read their own checkpoints
  private def driverBuilt(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.exists(_.isInstanceOf[LocalRelation]) && !plan.exists(_.isInstanceOf[LogicalRDD])
  }

  test("collect cap boundary: at the deduped edge count the driver path runs, one below it the distributed path, same results") {
    // K8 (every node survives the 6-core) plus a peeled tail, with a
    // reversed duplicate, a repeated edge and a self-loop for the dedup
    val clique = for (a <- 1L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val raw = clique ++ Seq((8L, 9L), (9L, 10L), (10L, 11L), (2L, 1L), (8L, 9L), (5L, 5L))
    val edges = spark.createDataFrame(raw).toDF("src", "dst")
    val deduped = clique.size + 3L
    def at(cap: Long) = {
      spark.conf.set(GraftConf.GraphCollectCapKey, cap.toString)
      try {
        val tri = GraphRank.trianglesOf(edges)
        val kc = GraphRank.kcoreOf(edges, GraphRank.KCoreK, GraphRank.KCoreRounds)
        (driverBuilt(tri), driverBuilt(kc), tri.collect().toSeq, kc.collect().toSeq)
      } finally spark.conf.unset(GraftConf.GraphCollectCapKey)
    }
    val (triOnDriver, kcOnDriver, triDriver, kcDriver) = at(deduped)
    val (triOverCap, kcOverCap, triDist, kcDist) = at(deduped - 1)
    assert(triOnDriver && kcOnDriver)
    assert(!triOverCap && !kcOverCap)
    // C(7,2) = 21 triangles through each clique node, none on the tail
    assert(triDriver.map(r => r.getLong(0) -> r.getLong(1)) == (1L to 8L).map(_ -> 21L))
    assert(kcDriver.map(_.getLong(0)) == (1L to 8L))
    assert(triDist == triDriver)
    assert(kcDist == kcDriver)
  }

  test("pagerank: every node ranked, mass bounded, base-rank floor holds") {
    val rows = GraphRank.pagerank(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    val base = 0.15 / n
    // the lost-mass variant never ranks below the teleport base and the
    // total never exceeds 1 (mass only leaks at dangling nodes)
    assert(rows.forall(_.getDouble(1) >= base))
    assert(rows.map(_.getDouble(1)).sum <= 1.0 + 1e-9)
  }
}
