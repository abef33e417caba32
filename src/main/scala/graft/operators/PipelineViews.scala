package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declarative (`spark.sql`) surface for the LLM-pipeline operators —
  * the same parity the six relational queries already have through
  * `Tables.ensureViews` (the reference's Hive-CLI entry point,
  * SURVEY.md §3.3), extended to dedup / similarity / text / events: a
  * SQL-only deployment registers these views once and runs plain SQL
  * (`SELECT * FROM graft_near_dups WHERE jaccard > 0.8`) without ever
  * touching the Scala API.
  *
  * Most views are lazy logical plans — registration constructs the
  * plan, execution happens per query, with Catalyst free to prune/push
  * into the pipeline underneath the view like any other subquery. The
  * exceptions are the pipelines built on eager checkpoints (near-dup
  * pair discovery, the curation manifest): those materialize their
  * signature/survivor frames ONCE at registration — [[ensure]] is
  * idempotent, so the cost is paid once per (session, corpus). A view
  * is registered under its dir's `Materialize.dirTag`, which carries
  * the listing fingerprint, so a corpus rewritten at the same path is
  * registered afresh by the next [[ensureOne]] or [[ensure]]. */
object PipelineViews {

  /** Every pipeline operator whose result is a relation worth naming:
    * the `(view, build)` of each `SparkEntry` row that names a view. */
  def views: Seq[(String, (SparkSession, String) => DataFrame)] = graft.SparkEntry.views

  private val ViewsDirKey = "spark.graft.pipelineViews.dir"

  /** Register a SINGLE pipeline view (idempotent per (view, dir)) —
    * for callers that need one named relation without paying the eager
    * materialization of every checkpoint-backed pipeline that full
    * [[ensure]] performs. */
  def ensureOne(spark: SparkSession, sfDir: String, name: String): Unit =
    ensureTagged(spark, sfDir, Materialize.dirTag(spark, sfDir), name)

  /** Registration is keyed on `tag`, the dir's [[Materialize.dirTag]]
    * (taken before the build, so a racing rewrite can only make the
    * next call register again). */
  private def ensureTagged(spark: SparkSession, sfDir: String, tag: String, name: String): Unit = {
    val key = s"$ViewsDirKey.$name"
    if (!spark.conf.getOption(key).contains(tag) || !spark.catalog.tableExists(name)) {
      val fn = views.collectFirst { case (`name`, f) => f }
        .getOrElse(throw new IllegalArgumentException(
          s"unknown pipeline view $name; known: ${views.map(_._1).mkString(", ")}"))
      fn(spark, sfDir).createOrReplaceTempView(name)
      spark.conf.set(key, tag)
    }
  }

  /** Idempotent full registration, same contract as
    * `Tables.ensureViews`: each view re-registers only when the session
    * points it elsewhere, the corpus was rewritten, or it has been
    * dropped. Registration state is tracked PER VIEW (one conf key
    * each, shared with [[ensureOne]]) so the two paths stay consistent
    * however they interleave across dirs — a single shared flag would
    * let one path serve a view the other built from a different
    * dataset. */
  def ensure(spark: SparkSession, sfDir: String): Unit = {
    val tag = Materialize.dirTag(spark, sfDir)
    views.foreach { case (n, _) => ensureTagged(spark, sfDir, tag, n) }
  }

  /** Drop every pipeline view and forget the registration, so the next
    * [[ensure]] rebuilds from scratch. `Materialize.reset` calls this:
    * the checkpoint-backed views (near-dups, manifest) hold frames
    * whose blocks reset frees, and a registered-but-dead view would
    * otherwise pass the existence check and fail at execution. */
  def invalidate(spark: SparkSession): Unit =
    views.foreach { case (n, _) =>
      if (spark.catalog.tableExists(n)) spark.catalog.dropTempView(n)
      spark.conf.unset(s"$ViewsDirKey.$n")
    }
}
