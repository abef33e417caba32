package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Session-scoped memoization of eagerly-checkpointed frames.
  *
  * The dedup/curation pipelines materialize a small per-doc frame (the
  * "diamond" their plans read from several concurrent subtrees) via
  * eager `localCheckpoint`. Checkpoint blocks have no lineage and are
  * not covered by `spark.catalog.clearCache()`, so checkpointing anew
  * on EVERY query construction would leak block sets for the session
  * lifetime (Profile's repeat runs, the blanket PropertiesSpec
  * construction of all queries, a long-lived SQL session). Instead the
  * checkpointed frame is registered once as a `graft_ckpt_*` temp view
  * and reused: exactly ONE checkpoint lives per (operator variant,
  * dir) per session, and it is the same frame any `PipelineViews` view
  * of that operator holds, so nothing can free blocks out from under a
  * registered view.
  *
  * Staleness contract: memo keys end in [[dirTag]], which carries a
  * fingerprint of the corpus directory's files, so rewriting a corpus
  * at the same path within a session builds a NEW `graft_ckpt_*` memo
  * and never serves the old checkpoint. Building it drops the memo it
  * supersedes (same key up to the fingerprint) and frees its blocks, so
  * a session holds one checkpoint per variant and dir. `PipelineViews`
  * and `Tables.ensureViews` record the same tag, so the next
  * registration after a rewrite builds the view afresh.
  */
private[graft] object Materialize {

  private val Prefix = "graft_ckpt_"
  /** Session-conf registry of every memo view name this session has
    * registered — [[reset]] walks it instead of listing the catalog
    * (no driver-side Dataset collection anywhere in the library). */
  private val NamesKey = "spark.graft.ckpt.names"

  /** The checkpointed frame for `key` (a `[A-Za-z0-9_]+` variant tag),
    * building and registering it on first use in this session. */
  def memoized(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val name = Prefix + key
    if (spark.catalog.tableExists(name)) spark.table(name)
    else {
      names(spark).filter(supersededBy(name)).foreach(drop(spark, _))
      val out = build.localCheckpoint(true)
      out.createOrReplaceTempView(name)
      // read after `build`, which may register memos of its own
      spark.conf.set(NamesKey, (names(spark) + name).mkString(","))
      out
    }
  }

  private def names(spark: SparkSession): Set[String] =
    spark.conf.getOption(NamesKey).toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet

  /** A memo name ending in a [[dirTag]]: its last 12 characters are the
    * listing fingerprint. */
  private val Fingerprinted = ".*_[0-9a-f]{12}".r

  /** Whether `old` is the memo `name` replaces: the same name up to the
    * trailing fingerprint, so the same variant over a rewritten dir. */
  private def supersededBy(name: String)(old: String): Boolean =
    old != name && Fingerprinted.matches(old) && Fingerprinted.matches(name) &&
      old.dropRight(12) == name.dropRight(12)

  /** Free `name`'s blocks, drop its view and forget it. */
  private def drop(spark: SparkSession, name: String): Unit = {
    if (spark.catalog.tableExists(name)) {
      free(spark.table(name))
      spark.catalog.dropTempView(name)
    }
    spark.conf.set(NamesKey, (names(spark) - name).mkString(","))
  }

  /** The already-memoized frame for `key`, if this session built one —
    * for callers that can SERVE one memo variant as a projection of a
    * richer one instead of building a second checkpoint. */
  def existing(spark: SparkSession, key: String): Option[DataFrame] = {
    val name = Prefix + key
    if (spark.catalog.tableExists(name)) Some(spark.table(name)) else None
  }

  /** Key-safe tag for a fixture dir: the sanitized path (readable in
    * view names), an md5 suffix of the path, so two dirs that differ
    * only in punctuation can never share a memo, and the fingerprint of
    * the dir's leaf files (`Tables.listing`, one listing, no data
    * read), so a corpus rewritten at the same path gets a new tag. */
  def dirTag(spark: SparkSession, sfDir: String): String = {
    val clean = sfDir.map(c => if (c.isLetterOrDigit) c else '_')
    val files = Tables.listing(spark, sfDir).fingerprint.take(12)
    s"${clean}_${Tables.md5Hex(sfDir).take(12)}_$files"
  }

  /** Free the checkpoint blocks behind an eagerly-localCheckpoint'ed
    * frame (no-op for non-checkpointed frames). For iteration-shaped
    * operators (ClusterOps' label propagation) that checkpoint per
    * step: every superseded step's blocks are freed as soon as its
    * successor is materialized, so the loop holds at most two block
    * sets at once regardless of iteration count. */
  def free(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach(_.unpersist(blocking = false))
  }

  /** Drop every memoized checkpoint in the session and free its blocks
    * promptly — Bench/Profile call this between passes so they measure
    * true recompute, not memo reads. Registered pipeline views that
    * hold checkpoint-backed frames would be left dead (no lineage to
    * recompute from), so they are invalidated in the same breath and
    * the next `PipelineViews.ensure` rebuilds them. */
  def reset(spark: SparkSession): Unit = {
    names(spark).foreach(drop(spark, _))
    spark.conf.unset(NamesKey)
    PipelineViews.invalidate(spark)
  }
}
