package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Near-duplicate CLUSTER formation — the step after pair discovery
  * that dedup pipelines actually act on: connected components over the
  * verified near-dup pair graph, a canonical representative (minimum
  * doc_id) per component, and a per-document keep/drop verdict.
  *
  * Algorithm: distributed min-label propagation with pointer jumping.
  * Each round every node adopts the minimum of (its label, its
  * neighbors' labels, its label's label); the third term — pointer
  * jumping — halves the distance to the component minimum each round,
  * so convergence is O(log diameter) rounds rather than O(diameter)
  * (the classic hybrid of Hash-Min and Hash-to-Min; near-dup graphs are
  * mostly tiny cliques, but one boilerplate chain must not stall the
  * job). Each round is two slim shuffled joins over (8-byte node,
  * 8-byte label) rows; the frontier is checkpointed per round (bounded
  * lineage) and superseded rounds' blocks are freed immediately, so
  * the loop holds at most two label sets in memory at any time.
  *
  * The driver-side loop control (one `count()` per round to detect the
  * fixpoint) is intentional: iteration count is O(log n), not O(n) —
  * ~40 rounds would handle a trillion-node chain — and each round's
  * convergence check rides the round's own tiny frames.
  *
  * The edge set here is [[DedupOps.nearDupJaccard]]'s verified pairs;
  * [[componentsOf]] itself is pair-source-agnostic (SimHash pairs,
  * embedding near-dups, or a union all work unchanged).
  *
  * The DuckDB oracle computes components independently via a recursive
  * transitive-closure CTE — not a replay of label propagation — so it
  * verifies the algorithm, not just the arithmetic.
  */
object ClusterOps {

  /** Connected components of an undirected edge list (`doc_a`,
    * `doc_b`): one row per node appearing in any edge, labeled with its
    * component's minimum node id. */
  def componentsOf(spark: SparkSession, edges: DataFrame): DataFrame = {
    val maxIters = graft.GraftConf.ccMaxIters(spark)
    // both orientations from ONE pass over the edge plan (a union of
    // two selects would instantiate the upstream pair-discovery
    // pipeline once per branch inside this checkpoint job)
    val sym = edges
      .select(explode(array(
        struct(col("doc_a").as("node"), col("doc_b").as("nbr")),
        struct(col("doc_b").as("node"), col("doc_a").as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
      .localCheckpoint(true)
    // initialization IS round one: label₀ = min(node, neighbors) — for
    // clique-shaped components (the common near-dup case: mutual pairs)
    // this is already the fixpoint, so the loop's first convergence
    // check ends the job after a single round instead of three
    var labels = sym.groupBy(col("node")).agg(min(col("nbr")).as("nbr_min"))
      .select(col("node"), least(col("node"), col("nbr_min")).as("label"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    // any exit that does not hand `labels` to the caller — a failed
    // round job, cancellation, or non-convergence — must free BOTH live
    // checkpoints, or their blocks pin executor storage for the session
    try {
      while (!converged && iter < maxIters) {
        val nbrMin = sym.join(labels.toDF("nbr", "nbr_label"), "nbr")
          .groupBy(col("node")).agg(min(col("nbr_label")).as("nbr_min"))
        val jump = labels.toDF("jnode", "jlabel")
        // the convergence check is FUSED into the round: the stepped
        // frame carries the previous label, so "did anything change" is
        // a filter-count over the round's own checkpoint blocks — not
        // (as before) an extra shuffled join of next against labels,
        // which cost one more exchange per round at every scale
        val stepped = labels
          .join(nbrMin, Seq("node"), "left")
          .join(jump, col("label") === col("jnode"), "left")
          .select(col("node"), col("label").as("old_label"),
            least(col("label"),
              coalesce(col("nbr_min"), col("label")),
              coalesce(col("jlabel"), col("label"))).as("label"))
          .localCheckpoint(true)
        val changed = stepped.where(col("label") =!= col("old_label")).count()
        Materialize.free(labels)
        labels = stepped.select(col("node"), col("label"))
        converged = changed == 0
        iter += 1
      }
      if (!converged)
        throw new IllegalArgumentException(
          s"connected components did not converge in $maxIters rounds " +
            s"(raise ${graft.GraftConf.CcMaxItersKey})")
    } catch {
      case e: Throwable =>
        Materialize.free(labels)
        Materialize.free(sym)
        throw e
    }
    Materialize.free(sym)
    labels
  }

  /** Every document with its near-dup cluster id (= the component's
    * minimum doc_id; singletons are their own cluster), the cluster
    * size, and whether this document is the canonical survivor. The
    * label frame is memoized per (dir, session) — the propagation loop
    * runs once, not per query construction. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var inner: DataFrame = null
    val labels = Materialize.memoized(spark,
        s"cc_labels_${graft.GraftConf.minhashBucketCap(spark)}_${Materialize.dirTag(spark, sfDir)}") {
      inner = componentsOf(spark,
        DedupOps.nearDupJaccard(spark, sfDir).select(col("doc_a"), col("doc_b")))
      inner
    }
    // the memo holds its own checkpoint of the label rows; the loop's
    // final frontier block set is no longer reachable — free it
    if (inner ne null) Materialize.free(inner)
    // the per-document cluster frame itself is memoized too (doc-scale
    // slim rows): seven session consumers (clusters/survivors/
    // rep-quality/size-histogram/leakage-split + sql twins) previously
    // re-ran the label join + corpus-wide size window each
    Materialize.memoized(spark,
        s"cc_clusters_${graft.GraftConf.minhashBucketCap(spark)}_${Materialize.dirTag(spark, sfDir)}") {
      Tables.documents(spark, sfDir).select(col("doc_id"))
        .join(labels.toDF("doc_id", "label"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
    }.orderBy(col("doc_id").asc)
  }

  /** The survivor corpus — what a dedup pipeline actually keeps: one
    * canonical document per near-dup cluster (plus all singletons),
    * with its cluster size and provenance columns. The non-canonical
    * rows are exactly the documents near-dedup deletes. */
  def dedupSurvivors(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .where(col("is_canonical"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("lang")), "doc_id")
      .select(col("doc_id"), col("cluster_size"), col("source"), col("lang"))
      .orderBy(col("doc_id").asc)

  /** INCREMENTAL cluster maintenance — merge a delta batch into
    * existing cluster labels without re-propagating the corpus:
    *
    *  1. baseline labels = components of the corpus-only near-dup graph
    *     (in production these are STORED from the last run; here
    *     derived by RESTRICTING the session's memoized verified-pair
    *     frame to non-delta endpoints — a projection of work another
    *     cluster consumer already paid, standing in for the stored
    *     label table without re-running banding + verification on the
    *     90% slice);
    *  2. delta edges = Jaccard-verified pairs touching the delta
    *     ([[DedupOps.incrementalCandidatesFromBands]] — cost
    *     proportional to the delta, never Σ bucket²);
    *  3. delta edges are mapped through the baseline labels onto
    *     SUPER-NODES (whole clusters), and label propagation runs on
    *     that quotient graph — its size is O(affected clusters + delta
    *     docs), so a daily delta re-propagates thousands of nodes, not
    *     the corpus.
    *
    * Because every cluster label is its component's minimum doc id, the
    * minimum over merged super-nodes equals the full re-run's label —
    * so the ORACLE is the full re-clustering itself. With the baseline
    * restricted from the FULL corpus banding, baseline ∪ delta edges
    * partition the full verified-pair set exactly (every pair either
    * touches a delta doc or does not), so the equality holds even when
    * a band bucket sits at the occupancy cap — the r8 slice-banding
    * caveat is gone. */
  def incrementalClusters(spark: SparkSession, sfDir: String): DataFrame = {
    var inners: List[DataFrame] = Nil
    val labels = Materialize.memoized(spark,
        s"cc_incr_${graft.GraftConf.minhashBucketCap(spark)}_${Materialize.dirTag(spark, sfDir)}") {
      val sigs = DedupOps.signatures(spark, sfDir, keepHs = true)
      val baseLabels = componentsOf(spark,
        DedupOps.nearDupJaccard(spark, sfDir)
          .where(col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0)
          .select(col("doc_a"), col("doc_b")))
      val deltaEdges = DedupOps.jaccardVerify(
          DedupOps.incrementalCandidates(spark, sfDir), sigs)
        .where(col("jaccard") >= DedupOps.JaccardThreshold)
        .select(col("doc_a"), col("doc_b"))
      val lblA = baseLabels.toDF("doc_a", "la")
      val lblB = baseLabels.toDF("doc_b", "lb")
      val superEdges = deltaEdges
        .join(lblA, Seq("doc_a"), "left")
        .join(lblB, Seq("doc_b"), "left")
        .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
          coalesce(col("lb"), col("doc_b")).as("doc_b"))
        .where(col("doc_a") =!= col("doc_b"))
      val superLabelsRaw = componentsOf(spark, superEdges)
      val superLabels = superLabelsRaw.toDF("old_label", "new_label")
      inners = List(baseLabels, superLabelsRaw)
      // docs the baseline knows keep (possibly remapped) labels; super
      // nodes that are RAW doc ids — delta docs, and corpus singletons
      // a delta edge bridged — get their merged label directly (a raw
      // doc id can never equal a baseline cluster label: labels are
      // members of baseLabels, raw super-nodes are exactly the ids
      // absent from it, so the anti-join splits them precisely)
      val baseClusterIds = baseLabels.toDF("n", "old_label").select(col("old_label")).distinct()
      baseLabels.toDF("node", "base")
        .join(superLabels, col("base") === col("old_label"), "left")
        .select(col("node"), coalesce(col("new_label"), col("base")).as("label"))
        .unionByName(superLabels
          .join(baseClusterIds, Seq("old_label"), "left_anti")
          .select(col("old_label").as("node"), col("new_label").as("label")))
    }
    inners.foreach(Materialize.free)
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(labels.toDF("doc_id", "label"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id").asc)
  }

  /** Oracle: the FULL re-clustering — incremental maintenance must land
    * on the same partition (see [[incrementalClusters]] for the cap
    * caveat, vacuous at the pinned fixtures). */
  val incrementalClustersSql: String =
    s"""$clusterCtes
       |SELECT doc_id, cluster_id
       |FROM clus
       |ORDER BY doc_id ASC""".stripMargin

  /** Cluster representatives chosen by QUALITY rather than id: per
    * near-dup cluster, keep the document with the highest quality score
    * (doc_id ascending as the deterministic tiebreak) — what a real
    * pipeline keeps when duplicates differ in extraction quality. One
    * row per cluster. The rank is a per-cluster window over the
    * label-frame join (cluster-sized partitions, never corpus-wide),
    * on top of the memoized label propagation. */
  def canonicalByQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dedupClusters(spark, sfDir).select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .join(TextAnalysis.qualityScore(spark, sfDir).select(col("doc_id"), col("quality")), "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(col("quality").desc, col("doc_id").asc)))
      .where(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        col("cluster_size"), col("quality"))
      .orderBy(col("cluster_id").asc)
  }

  /** Shared oracle CTE chain: Jaccard edges exactly as in
    * [[DedupOps.nearDupJaccardSql]], then components by recursive
    * transitive closure (every (node, reachable) pair, then MIN per
    * node) — independent of the label propagation it verifies. Closure
    * size is Σ component², fine at oracle scale; the propagation loop
    * is what runs at corpus scale. */
  private def clusterCtes: String = {
    val jac = "CAST(len(list_intersect(ha, hb)) AS DOUBLE) / " +
      "(CAST(len(ha) + len(hb) AS DOUBLE) - CAST(len(list_intersect(ha, hb)) AS DOUBLE))"
    s"""WITH RECURSIVE ${DedupOps.minhashSqlPrefix},
       |cpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |           FROM bands a
       |           JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |cwithsets AS (SELECT p.doc_a, p.doc_b, sa.hs AS ha, sb.hs AS hb
       |              FROM cpairs p
       |              JOIN sig sa ON p.doc_a = sa.doc_id
       |              JOIN sig sb ON p.doc_b = sb.doc_id),
       |edges AS (SELECT doc_a, doc_b FROM cwithsets WHERE $jac >= ${DedupOps.JaccardThreshold}),
       |sym AS (SELECT doc_a AS node, doc_b AS nbr FROM edges
       |        UNION ALL SELECT doc_b, doc_a FROM edges),
       |reach AS (SELECT node, node AS r FROM (SELECT DISTINCT node FROM sym) n
       |          UNION
       |          SELECT s.node, reach.r FROM sym s JOIN reach ON s.nbr = reach.node),
       |lab AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
       |clus AS (SELECT doc_id, cluster_id,
       |                COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |                doc_id = cluster_id AS is_canonical
       |         FROM (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
       |               FROM documents d LEFT JOIN lab l ON d.doc_id = l.node) z)""".stripMargin
  }

  val dedupClustersSql: String =
    s"""$clusterCtes
       |SELECT doc_id, cluster_id, cluster_size, is_canonical
       |FROM clus
       |ORDER BY doc_id ASC""".stripMargin

  val canonicalByQualitySql: String =
    s"""$clusterCtes,
       |q AS (${TextAnalysis.qualityScoreSql}),
       |ranked AS (SELECT c.cluster_id, c.doc_id, c.cluster_size, q.quality,
       |                  ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |                                     ORDER BY q.quality DESC, c.doc_id ASC) AS rn
       |           FROM clus c JOIN q ON c.doc_id = q.doc_id)
       |SELECT cluster_id, doc_id AS keep_doc_id, cluster_size, quality
       |FROM ranked
       |WHERE rn = 1
       |ORDER BY cluster_id ASC""".stripMargin

  val dedupSurvivorsSql: String =
    s"""$clusterCtes
       |SELECT c.doc_id, c.cluster_size, d.source, d.lang
       |FROM clus c
       |JOIN documents d ON c.doc_id = d.doc_id
       |WHERE c.is_canonical
       |ORDER BY c.doc_id ASC""".stripMargin

  /** Per-source dedup report — the dataset-card numbers a curation run
    * publishes: for every source, how many documents it contributed,
    * how many were exact copies (not the keeper of their 120-bit
    * content-hash group), how many were near-dup cluster members that
    * lost canonicalization, and the combined drop fraction. High
    * exact-dup sources are mirrors; high near-dup sources are template
    * farms — the two numbers drive different curation decisions, which
    * is why both are reported.
    *
    * Scale shape: the exact arm is the dedup-exact aggregation re-keyed
    * to keep (doc, source); the near arm is a projection of the
    * memoized cluster frame; one 8-byte doc_id join aligns them and a
    * sources-sized aggregate ends the plan. Text never shuffles. */
  def dedupReport(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = DedupOps.hashedDocs(spark, sfDir)
    val keep = hashed.groupBy(col("h1"), col("h2"))
      .agg(min(col("doc_id")).as("keep_doc_id"))
    val exact = hashed.join(keep, Seq("h1", "h2"))
      .select(col("doc_id"), col("source"),
        (col("doc_id") =!= col("keep_doc_id")).as("exact_dup"))
    val near = dedupClusters(spark, sfDir)
      .select(col("doc_id"), (!col("is_canonical")).as("near_dup"))
    exact.join(near, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact_dups"),
        sum(when(col("near_dup"), 1L).otherwise(0L)).as("n_near_dups"),
        sum(when(col("exact_dup") || col("near_dup"), 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("dup_frac", col("n_dropped").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source").asc)
  }

  val dedupReportSql: String = {
    val norm = graft.functions.TextOps.normTextSql("text")
    s"""$clusterCtes,
       |hashed AS (SELECT doc_id, source,
       |                  ${graft.functions.TextOps.hash60Sql(norm)} AS h1,
       |                  ${graft.functions.TextOps.hash60bSql(norm)} AS h2
       |           FROM documents),
       |keep AS (SELECT h1, h2, MIN(doc_id) AS keep_doc_id FROM hashed GROUP BY h1, h2),
       |ex AS (SELECT h.doc_id, h.source, h.doc_id <> k.keep_doc_id AS exact_dup
       |       FROM hashed h JOIN keep k ON h.h1 = k.h1 AND h.h2 = k.h2)
       |SELECT ex.source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN ex.exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
       |       CAST(SUM(CASE WHEN NOT c.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups,
       |       CAST(SUM(CASE WHEN ex.exact_dup OR NOT c.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       CAST(SUM(CASE WHEN ex.exact_dup OR NOT c.is_canonical THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(COUNT(*) AS DOUBLE) AS dup_frac
       |FROM ex JOIN clus c ON ex.doc_id = c.doc_id
       |GROUP BY ex.source
       |ORDER BY ex.source ASC""".stripMargin
  }

  /** Near-dup cluster-size histogram — the one-glance duplication shape
    * of a corpus (how many singletons, pairs, boilerplate families):
    * for each cluster size, how many clusters have it and how many
    * documents they hold. A projection + two tiny aggregations over the
    * memoized label frame; output is bounded by the largest family, not
    * the corpus. */
  def clusterSizeHistogram(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .groupBy(col("cluster_id")).agg(max(col("cluster_size")).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy(col("cluster_size").asc)

  val clusterSizeHistogramSql: String =
    s"""$clusterCtes,
       |sizes AS (SELECT cluster_id, MAX(cluster_size) AS cluster_size
       |          FROM clus GROUP BY cluster_id)
       |SELECT cluster_size, COUNT(*) AS n_clusters,
       |       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
       |FROM sizes
       |GROUP BY cluster_size
       |ORDER BY cluster_size ASC""".stripMargin

  /** Leakage-safe train/val/test split — the holdout assignment a plain
    * per-document hash split gets WRONG on near-duplicate data: when two
    * near-identical documents land on opposite sides of the train/test
    * line, the test set leaks into training and eval scores inflate.
    * Here the split key is the near-dup CLUSTER id ([[dedupClusters]]'s
    * component label), so an entire cluster moves to one split
    * atomically; singletons hash their own doc_id (which IS their
    * cluster_id). Thresholds and salt discipline are exactly
    * [[Sharding.shuffleExport]]'s per-document split — the two operators
    * differ only in the key, which is the point.
    *
    * Scale: a pure per-row projection over the memoized cluster frame
    * (the 8-byte label hashes inline, codegen'd md5) — zero shuffles or
    * joins beyond cluster formation itself, which is shared with every
    * other cluster consumer via the label memo. */
  def leakageSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val sk = graft.functions.TextOps.hash60(
      concat(lit("lsplit|"), col("cluster_id").cast("string")))
    dedupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        Sharding.splitOf(sk).as("split"))
      .orderBy(col("doc_id").asc)
  }

  val leakageSplitSql: String = {
    val sk = graft.functions.TextOps.hash60Sql(
      "concat('lsplit|', CAST(cluster_id AS VARCHAR))")
    s"""$clusterCtes
       |SELECT doc_id, cluster_id, cluster_size,
       |       ${Sharding.splitCaseSql(sk)} AS split
       |FROM clus
       |ORDER BY doc_id ASC""".stripMargin
  }
}
