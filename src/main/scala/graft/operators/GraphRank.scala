package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** PageRank over the within-session click graph — the crawl/quality
  * prioritization signal a training-data pipeline derives from
  * behavioral logs (rank pages/items by where session traffic
  * concentrates, then use the rank as a curation weight).
  *
  * Graph: nodes are the `props.$.k` item vocabulary (100 values at
  * every fixture scale — vocabulary-sized, corpus-independent, like
  * the dedup name universe); a directed edge (src → dst, weight w)
  * counts consecutive same-session event pairs whose items were
  * src then dst, sessions cut by the same gap rule as
  * [[EventOps.sessionize]]. Self-loops kept (an item followed by
  * itself is a real transition).
  *
  * Recurrence (damped, weighted, NO dangling-mass redistribution — the
  * documented "lost mass" variant, pinned so both engines compute the
  * identical value):
  *
  *   r_{t+1}(v) = (1-d)/N + d * SUM_{(u,v) in E} r_t(u) * w(u,v)/outw(u)
  *
  * d = 0.85, r_0 = 1/N, [[PageRankIters]] fixed iterations, unrolled on
  * both engines (no convergence test — a data-dependent stopping rule
  * would make the row values depend on float comparisons).
  *
  * Bit-exactness discipline (the BM25/k-means recipe): edge weights and
  * out-weights are exact BIGINTs; every float op is mandated-exact IEEE
  * +,-,*,/ arranged in the identical tree on both engines; and the one
  * float sum whose ORDER an engine could choose — the per-destination
  * incoming sum — is a left-associated fold over contributions sorted
  * by source id (`aggregate(array_sort(collect_list(struct(src, c))))`
  * here, `list_reduce(list(c ORDER BY src))` in DuckDB; the 0.0 seed
  * vs first-element seed difference is exact because contributions are
  * strictly positive).
  *
  * Scale: every frame after the one events scan is vocabulary-sized
  * (N nodes, ≤N² edges) — each iteration is a node-keyed join + a
  * grouped fold, 10 iterations = 10 narrow shuffles of ~N rows
  * regardless of corpus size; a web-scale (corpus-sized) node set
  * would run the SAME plan with the joins sharded on node id. Each
  * iteration's rank frame is `localCheckpoint`ed so the unrolled loop
  * doesn't stack 10 window+join trees into one analysis pass.
  */
object GraphRank {

  val PageRankDamping = 0.85
  val PageRankIters = 10

  /** (src, dst, w) same-session consecutive-item transition counts,
    * plus the node frame — shared edge derivation (the
    * [[EventOps.sessionTransitions]] lag/gap machinery keyed on the
    * extracted item id instead of the event type). */
  private[graft] def itemEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = graft.GraftConf.sessionGapMinutes(spark).toLong * 60L * 1000000L
    // memoized per (session, dir, gap): the events scan + session
    // window + transition aggregation is the ONLY corpus-scale pass of
    // the graph family, and pagerank, k-core and triangles each
    // re-derived it (~0.7 s each at sf0.1); the grouped edge frame is
    // vocab²-bounded and slim
    Materialize.memoized(spark,
        s"item_edges_${gapUs}_${Materialize.dirTag(spark, sfDir)}") {
      itemEdgesBuild(spark, sfDir, gapUs)
    }
  }

  private def itemEdgesBuild(spark: SparkSession, sfDir: String,
      gapUs: Long): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val us = unix_micros(col("ts"))
    val newSession = when(lag(us, 1).over(byTs).isNull || us - lag(us, 1).over(byTs) > gapUs, 1L)
      .otherwise(0L)
    Tables.events(spark, sfDir)
      .where(col("ts").isNotNull && col("user_id").isNotNull && col("props").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
      .withColumn("session_id", sum(newSession).over(byTs))
      .withColumn("src", lag(col("item"), 1).over(byTs))
      .withColumn("prev_session", lag(col("session_id"), 1).over(byTs))
      .where(col("src").isNotNull && col("prev_session") === col("session_id"))
      .groupBy(col("src"), col("item").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** (node, pagerank) for every item in the transition graph, node asc.
    * Memoized: the DataFrame and SQL-view surfaces (`events_pagerank`,
    * `sql_pagerank`) consume the same converged ranks, so the
    * 10-iteration driver loop runs once per session, like the trained
    * IVF/PQ models. */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.memoized(spark,
        s"pagerank_${PageRankIters}_${Materialize.dirTag(spark, sfDir)}") {
      pagerankBuild(spark, sfDir)
    }.orderBy(col("node").asc)

  /** Bounded collect behind the graph family's driver-side iterations
    * (r16 verdict item 3: the collects assumed a ~100-item vocabulary
    * FOREVER — true of every fixture, but an assumption about the
    * data, not an enforced invariant). A `count()` probe bounds what
    * can ever reach the driver: the frame is collected only when it
    * holds at most cap rows, and a `None` tells the caller to run its
    * retained distributed iteration instead.
    * Cap = `spark.graft.graph.collectCap` (default 1M slim edge rows
    * ≈ tens of MB of driver tuples); a pure plan-shape knob — both
    * paths are bit-exact by construction, so results are invariant to
    * it (GraphRankSpec pins driver ≡ distributed on synthetic graphs
    * by forcing cap 0). The probe is ONE `count()` job (the frames
    * here are memoized checkpoints or their cheap projections — a
    * CollectLimit probe was measured paying up to 4 scale-up jobs),
    * and the collect itself only fires once the count proved it
    * bounded. */
  private def collectEdgesBounded(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
    val cap = graft.GraftConf.graphCollectCap(df.sparkSession)
    if (df.count() > cap) None else Some(df.collect())
  }

  /** The power iteration runs ON THE DRIVER over the collected edge
    * list — the k-means/centsLit bounded-collect pattern: the node set
    * is the pinned `props.$.k` item vocabulary (100 values at every
    * fixture scale, corpus-independent), so the grouped edge frame is
    * ≤ vocab² slim rows at ANY corpus size — the same boundedness
    * class as the k-row centroid collect. The corpus-scale work (the
    * events scan + window + edge aggregation in [[itemEdges]]) stays
    * distributed; only the vocabulary-sized recurrence moves. The
    * previous formulation ran each iteration as a join + grouped fold
    * + localCheckpoint — ~4 Spark jobs of scheduling overhead per
    * iteration on ~100-row frames, measured at ~3 s of the query's
    * 4.4 s cold time at sf0.1; the arithmetic is microseconds.
    *
    * GUARDED (r16 verdict item 3): an edge frame past
    * [[GraftConf.GraphCollectCapKey]] rows never reaches the driver —
    * [[pagerankDistributed]] (the retained r15 formulation, identical
    * IEEE tree) runs instead.
    *
    * Bit-exactness is preserved op for op: contributions fold in src
    * order, left-associated from the 0.0 seed ((r·w)/outw per edge),
    * the update is 0.15/N + 0.85·s — the identical IEEE tree the
    * oracle's `list_reduce(list(c ORDER BY src))` replays (its
    * first-element seed is exact vs 0.0 + c because contributions are
    * positive; unchanged from the previous in-plan fold, which the
    * oracle already hash-matched). */
  private[graft] def pagerankBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val edgeFrame = itemEdges(spark, sfDir).select(col("src"), col("dst"), col("w"))
    val edgeRows = collectEdgesBounded(edgeFrame) match {
      case Some(rows) => rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      case None => return pagerankDistributed(edgeFrame)
    }
    val nodes = edgeRows.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val outw = edgeRows.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val byDst = edgeRows.groupBy(_._2).map { case (d, es) =>
      d -> es.map(e => (e._1, e._3)).sortBy(_._1)
    }
    var r = nodes.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to PageRankIters) {
      r = nodes.map { v =>
        var s = 0.0
        byDst.get(v).foreach(_.foreach { case (src, w) =>
          s += (r(src) * w.toDouble) / outw(src).toDouble
        })
        v -> (0.15 / n + 0.85 * s)
      }.toMap
    }
    spark.createDataFrame(nodes.toSeq.map(v => (v, r(v))))
      .toDF("node", "pagerank")
  }

  /** The retained distributed power iteration — the over-cap fallback:
    * each iteration is a node-keyed join + grouped fold +
    * localCheckpoint; the per-destination incoming sum is the same
    * src-ordered left-associated fold
    * (`aggregate(array_sort(collect_list(struct(src, c))))`, 0.0 seed)
    * the driver loop and the oracle replay, so the two paths are
    * bit-identical (GraphRankSpec pins it). */
  private def pagerankDistributed(edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint(true)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val stats = nodes.agg(count(lit(1)).as("n"))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val ndD = col("n").cast("double")
    var ranks = nodes.crossJoin(broadcast(stats))
      .select(col("node"), (lit(1.0) / ndD).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to PageRankIters) {
      val contribs = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outw, Seq("src"))
        .select(col("dst"), col("src"),
          ((col("r") * col("w").cast("double")) / col("outw").cast("double")).as("c"))
      val incoming = contribs.groupBy(col("dst"))
        .agg(aggregate(array_sort(collect_list(struct(col("src"), col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("s"))
      ranks = nodes
        .join(incoming.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(stats))
        .select(col("node"),
          (lit(0.15) / ndD + lit(0.85) * coalesce(col("s"), lit(0.0))).as("r"))
        .localCheckpoint(true)
    }
    ranks.select(col("node"), col("r").as("pagerank"))
  }

  /** Within-session consecutive-item transition graph as an
    * `ordered`/`edges` CTE pair — the shared oracle-side edge
    * derivation for [[pagerankSql]] and [[trianglesSql]], pinned to
    * the same gap rule (exact-µs arithmetic) the sessionTransitions
    * oracle uses. */
  private def edgesCte(gapUs: Long): String =
    s"""ordered AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us,
       |                        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |                        LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us,
       |                        LAG(CAST(json_extract_string(props, '$$.k') AS BIGINT))
       |                          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS src
       |                 FROM events
       |                 WHERE ts IS NOT NULL AND user_id IS NOT NULL AND props IS NOT NULL
       |                   AND json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS (SELECT src, item AS dst, COUNT(*) AS w
       |          FROM ordered
       |          WHERE src IS NOT NULL
       |            AND prev_us IS NOT NULL AND us - prev_us <= $gapUs
       |          GROUP BY src, item)""".stripMargin

  /** Per-node triangle counts over the UNDIRECTED item graph (edge
    * direction and weight dropped; self-loops dropped): (node,
    * triangles) for every node in at least one triangle, node asc.
    *
    * Algorithm: degree-ordered edge orientation (each undirected edge
    * points from its lower-(degree, id) endpoint to the higher), then
    * wedge join + closure check — every triangle is enumerated exactly
    * once, at its lowest-ordered vertex (the standard distributed
    * triangle-enumeration shape, Suri & Vassilvitskii, WWW'11: max
    * oriented out-degree is O(sqrt m) however skewed the raw degrees,
    * so the wedge join's fan-out per node is bounded and a
    * celebrity-hub node cannot quadratic-blow the join the way a raw
    * a<b orientation can). Here the graph is vocabulary-sized, so
    * every frame after the one events scan is tiny; at a web-scale
    * node set the same three self-joins shard on node id. */
  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    trianglesOf(itemEdges(spark, sfDir))

  /** Triangle core over any (src, dst, *) edge frame — split out so the
    * wedge-join machinery is testable on graphs with known triangle
    * structure independent of the events fixture. */
  /** Runs ON THE DRIVER over the collected undirected edge set — the
    * [[pagerankBuild]]/[[kcoreOf]] bounded-collect rationale (pinned
    * 100-item vocabulary ⇒ ≤ vocab²/2 slim edge rows at any corpus
    * size; the corpus-scale edge derivation stays distributed). Same
    * degree-ordered orientation and wedge-closure enumeration — exact
    * integer arithmetic, so the per-node counts are identical by
    * construction. The previous three-self-join plan was ~6 small
    * shuffles of pure scheduling overhead at every scale of the
    * vocabulary-sized frame. */
  private[graft] def trianglesOf(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val undFrame = edges
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // GUARDED bounded collect (r16 verdict item 3): past the cap the
    // retained distributed wedge join runs instead — exact integer
    // counts either way, so the paths are interchangeable
    val und = collectEdgesBounded(undFrame) match {
      case Some(rows) => rows.map(r => (r.getLong(0), r.getLong(1)))
      case None => return trianglesDistributed(undFrame)
    }
    val deg = scala.collection.mutable.Map.empty[Long, Long]
    und.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1L
      deg(b) = deg.getOrElse(b, 0L) + 1L
    }
    // orient each edge from its lower-(degree, id) endpoint
    def first(a: Long, b: Long): Boolean = {
      val (da, db) = (deg(a), deg(b))
      da < db || (da == db && a < b)
    }
    val o = und.map { case (a, b) => if (first(a, b)) (a, b) else (b, a) }
    val oSet = o.toSet
    val out = o.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val tri = scala.collection.mutable.Map.empty[Long, Long]
    def bump(v: Long): Unit = tri(v) = tri.getOrElse(v, 0L) + 1L
    out.foreach { case (u, vs) =>
      var i = 0
      while (i < vs.length) {
        var j = 0
        while (j < vs.length) {
          val (x, y) = (vs(i), vs(j))
          // wedge ordered by the same (degree, id) rule, closed by an
          // oriented x→y edge — each triangle counted exactly once
          if (first(x, y) && oSet((x, y))) { bump(u); bump(x); bump(y) }
          j += 1
        }
        i += 1
      }
    }
    spark.createDataFrame(tri.toSeq.sortBy(_._1))
      .toDF("node", "triangles")
      .orderBy(col("node").asc)
  }

  /** The retained distributed triangle enumeration (degree-ordered
    * orientation + wedge join + closure semi-join — Suri &
    * Vassilvitskii, WWW'11) — the over-cap fallback for
    * [[trianglesOf]]. Exact integer counts; at a web-scale node set
    * the three self-joins shard on node id. Takes the DEDUPED
    * undirected edge frame. */
  private def trianglesDistributed(und0: DataFrame): DataFrame = {
    val und = und0.localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val aFirst = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .withColumn("a_first",
        col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
    val o = aFirst.select(
      when(col("a_first"), col("a")).otherwise(col("b")).as("u"),
      when(col("a_first"), col("b")).otherwise(col("a")).as("v"),
      when(col("a_first"), col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(true)
    val o1 = o.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val o2 = o.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val tri = o1.join(o2, Seq("u"))
      .where(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .join(o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    tri.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .orderBy(col("node").asc)
  }

  /** [[triangles]]'s oracle: identical orientation and wedge-closure
    * joins (row-value comparisons pin the (degree, id) order). */
  def trianglesSql(gapMinutes: Int = graft.GraftConf.DefaultSessionGap): String = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    s"""WITH ${edgesCte(gapUs)},
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |        FROM edges WHERE src <> dst),
       |deg AS (SELECT node, COUNT(*) AS d
       |        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |        GROUP BY node),
       |o AS (SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS u,
       |             CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS v,
       |             CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS dv
       |      FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
       |tri AS (SELECT o1.u, o1.v AS x, o2.v AS y
       |        FROM o o1 JOIN o o2 ON o1.u = o2.u AND ((o1.dv, o1.v) < (o2.dv, o2.v))
       |        JOIN o oc ON oc.u = o1.v AND oc.v = o2.v)
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
       |FROM (SELECT u AS node FROM tri
       |      UNION ALL SELECT x FROM tri
       |      UNION ALL SELECT y FROM tri)
       |GROUP BY node ORDER BY node ASC""".stripMargin
  }

  /** [[pagerank]]'s oracle: the same gap-rule edge derivation the
    * sessionTransitions oracle pins (exact-µs arithmetic), then the
    * power iteration UNROLLED into one CTE per step — `list(c ORDER BY
    * src)` + `list_reduce` is the fixed-order fold. */
  def pagerankSql(gapMinutes: Int = graft.GraftConf.DefaultSessionGap): String = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val iterCtes = (1 to PageRankIters).map { i =>
      s"""c$i AS (SELECT e.dst,
         |           list_reduce(list((r.r * CAST(e.w AS DOUBLE)) / CAST(o.outw AS DOUBLE) ORDER BY e.src),
         |                       (x, y) -> x + y) AS s
         |    FROM edges e
         |    JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outw o ON e.src = o.src
         |    GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |           (0.15 / CAST(stats.n AS DOUBLE)) + 0.85 * COALESCE(c.s, 0.0) AS r
         |    FROM nodes n LEFT JOIN c$i c ON n.node = c.dst, stats)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesCte(gapUs)},
       |nodes AS (SELECT DISTINCT node FROM
       |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |stats AS (SELECT COUNT(*) AS n FROM nodes),
       |outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY src),
       |r0 AS (SELECT node, 1.0 / CAST(stats.n AS DOUBLE) AS r FROM nodes, stats),
       |$iterCtes
       |SELECT node, r AS pagerank FROM r$PageRankIters ORDER BY node ASC""".stripMargin
  }

  /** k-core peeling threshold (the third standard graph primitive
    * after rank and triangles — dense-substructure extraction, used
    * to separate core vocabulary/behavior from peripheral noise).
    * 6 peels non-trivially at sf0.01 (100 → 72 nodes over 4 rounds);
    * the sf≥0.1 item graph is near-complete (min degree 42), so the
    * core there is the whole node set — still exact, still
    * non-vacuous (the oracle replays the identical rounds). */
  val KCoreK = 6

  /** Fixed peel rounds, unrolled on both engines (the PageRank/BPE
    * no-data-dependent-stopping discipline: a convergence TEST would
    * make row membership depend on engine-side iteration accounting).
    * Worst observed fixture convergence is 4 rounds (sf0.01); GenScale
    * replicas are disjoint copies of the sf0.1 graph, so larger
    * decades converge in the base graph's rounds. Specs assert
    * round-[[KCoreRounds]] membership is a fixed point at the harness
    * fixtures, making the output the true k-core there. */
  val KCoreRounds = 8

  /** (node, deg) of the [[KCoreK]]-core after [[KCoreRounds]] peel
    * rounds over the undirected item graph, node asc. `deg` is the
    * node's degree in the subgraph induced by the final survivor set
    * (== its core degree, ≥ k, once peeling has converged). Memoized
    * per (session, dir) like [[pagerank]]: the DataFrame surface
    * (`graph_kcore`) and the `graft_kcore` view (`sql_kcore`) consume
    * one peeling run instead of re-peeling all [[KCoreRounds]] rounds
    * each. */
  def kcore(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.memoized(spark,
        s"kcore_${KCoreK}_${KCoreRounds}_${Materialize.dirTag(spark, sfDir)}") {
      kcoreOf(itemEdges(spark, sfDir), KCoreK, KCoreRounds)
    }.orderBy(col("node").asc)

  /** Peeling core over any (src, dst, *) edge frame — split out so the
    * round machinery is testable on graphs with known core structure.
    *
    * Each round: keep edges with both endpoints alive (two left-semi
    * joins against the vocabulary-sized survivor frame — at a
    * web-scale node set these shard on node id and the edge frame
    * never re-shuffles more than its alive subset), recompute induced
    * degrees (one union + hash aggregate), drop nodes below k. Rounds
    * are FIXED, so the whole loop is [[KCoreRounds]] linear passes —
    * no data-dependent driver round-trip beyond the unrolled plan;
    * each survivor frame is localCheckpointed so round r+1's plan
    * doesn't re-derive rounds 1..r. */
  /** The peel rounds run ON THE DRIVER over the collected undirected
    * edge set — the [[pagerankBuild]] bounded-collect rationale: nodes
    * are the pinned 100-item vocabulary, so the deduped edge list is
    * ≤ vocab²/2 slim rows at any corpus size, and the previous
    * per-round formulation (two semi-joins + union-aggregate +
    * localCheckpoint × [[KCoreRounds]] rounds) was ~2 s of pure job
    * scheduling on ~100-row frames at sf0.1. Peeling is exact integer
    * arithmetic (degree counts vs k), so the survivor set and final
    * induced degrees are identical by construction. */
  private[graft] def kcoreOf(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val undFrame = edges
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // GUARDED bounded collect (r16 verdict item 3): past the cap the
    // retained distributed peel rounds run instead — exact integer
    // peeling either way
    val und = collectEdgesBounded(undFrame) match {
      case Some(rows) => rows.map(r => (r.getLong(0), r.getLong(1)))
      case None => return kcoreDistributed(undFrame, k, rounds)
    }
    var alive = und.flatMap(e => Seq(e._1, e._2)).toSet
    def degrees(of: Set[Long]): Map[Long, Long] = {
      val d = scala.collection.mutable.Map.empty[Long, Long]
      und.foreach { case (a, b) =>
        if (of(a) && of(b)) {
          d(a) = d.getOrElse(a, 0L) + 1L
          d(b) = d.getOrElse(b, 0L) + 1L
        }
      }
      d.toMap
    }
    for (_ <- 1 to rounds)
      alive = degrees(alive).collect { case (v, d) if d >= k => v }.toSet
    val fin = degrees(alive).toSeq.sortBy(_._1)
    spark.createDataFrame(fin).toDF("node", "deg")
      .orderBy(col("node").asc)
  }

  /** The retained distributed peel rounds (two semi-joins + induced
    * degrees per round, survivor frames localCheckpointed) — the
    * over-cap fallback for [[kcoreOf]]. Takes the DEDUPED undirected
    * edge frame. */
  private def kcoreDistributed(und0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = und0.localCheckpoint(true)
    def induced(alive: DataFrame): DataFrame = {
      val e = und
        .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    }
    var nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .distinct()
      .localCheckpoint(true)
    for (_ <- 1 to rounds)
      nodes = induced(nodes).where(col("deg") >= k)
        .select(col("node")).localCheckpoint(true)
    induced(nodes).orderBy(col("node").asc)
  }

  /** [[kcore]]'s oracle: the identical [[KCoreRounds]] peel rounds
    * unrolled as (alive-edges → degrees → survivors) CTE triples.
    * `und` and each survivor CTE are MATERIALIZED: every e_i
    * references n_{i-1} TWICE, so under DuckDB's default CTE inlining
    * the expansion doubles per round — 2^rounds copies of the events
    * scan (observed as an fd-exhaustion failure at 8 rounds) — while
    * pagerank's linear chain (one back-reference per CTE) never needed
    * the hint. */
  def kcoreSql(gapMinutes: Int = graft.GraftConf.DefaultSessionGap): String = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val roundCtes = (1 to KCoreRounds).map { i =>
      s"""e$i AS (SELECT u.a, u.b FROM und u
         |        JOIN n${i - 1} x ON u.a = x.node
         |        JOIN n${i - 1} y ON u.b = y.node),
         |d$i AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM (SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i)
         |        GROUP BY node),
         |n$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesCte(gapUs)},
       |und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |        FROM edges WHERE src <> dst),
       |n0 AS MATERIALIZED (SELECT DISTINCT node FROM
       |         (SELECT a AS node FROM und UNION ALL SELECT b FROM und)),
       |$roundCtes,
       |ef AS (SELECT u.a, u.b FROM und u
       |       JOIN n$KCoreRounds x ON u.a = x.node
       |       JOIN n$KCoreRounds y ON u.b = y.node)
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
       |FROM (SELECT a AS node FROM ef UNION ALL SELECT b FROM ef)
       |GROUP BY node ORDER BY node ASC""".stripMargin
  }
}
