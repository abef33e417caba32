package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Planning-time cartesian guard — a `Rule[LogicalPlan]` (the (c) tier
  * of the custom-operator ladder, next to the library's native
  * expressions) that FAILS a query at optimization time when it
  * contains an inner/cross join with no equi-key whose BOTH sides
  * exceed the broadcast threshold. At 100 TB a planned cartesian is a
  * doomed multi-day stage; the blanket plan audit (PropertiesSpec)
  * proves the registered queries never produce one, and this rule
  * extends the same guarantee to ad-hoc user queries on a session with
  * the library installed — fail in milliseconds, not after the cluster
  * burns a day.
  *
  * Scalar broadcasts stay legal: the library's own
  * `crossJoin(broadcast(aggregate))` pattern has a sub-threshold build
  * side by construction, and the guard sizes BOTH sides against
  * `spark.sql.autoBroadcastJoinThreshold` using the optimizer's own
  * size estimates. Opt-in via `spark.graft.guard.noCartesian` (default
  * off); trivially result-invariant — it either throws or leaves the
  * plan untouched.
  *
  * Deployment: `--conf spark.sql.extensions=graft.GraftExtensions`
  * injects it into every session's optimizer; sessions built in code get
  * it, with the native functions, from [[graft.GraftExtensions.install]].
  */
case class NoCartesianGuard(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def oneEachSide(j: Join, a: Expression, b: Expression): Boolean =
    // both sides must actually reference attributes: a foldable equality
    // (empty references) passes subsetOf vacuously on BOTH sides and
    // would exempt a de facto cartesian from the guard
    a.references.nonEmpty && b.references.nonEmpty &&
      ((a.references.subsetOf(j.left.outputSet) &&
        b.references.subsetOf(j.right.outputSet)) ||
        (a.references.subsetOf(j.right.outputSet) &&
          b.references.subsetOf(j.left.outputSet)))

  /** Does any conjunct equate one attribute set from each side? That is
    * exactly what turns the join into a hash/sort-merge shape. */
  private def hasEquiKey(j: Join): Boolean =
    j.condition.toSeq.flatMap(splitConjunctivePredicates).exists {
      case EqualTo(a, b) => oneEachSide(j, a, b)
      case EqualNullSafe(a, b) => oneEachSide(j, a, b)
      case _ => false
    }

  /** An EXPLICIT broadcast() hint on either side is a deliberate
    * assertion that that side is small — the opposite of the
    * accidental cartesian this guard exists to catch. It also covers a
    * size-estimation blind spot: a `Filter` keeps its child's
    * sizeInBytes without CBO column stats, so `corpus.where(vec_id =
    * K)` — ONE real row — is estimated at full corpus size, and at
    * sf10 (200 k vectors) every brute-force top-K query's legal 1-row
    * broadcast tripped the guard purely because the UNDERLYING table
    * grew past the threshold. */
  private def hasBroadcastHint(j: Join): Boolean =
    j.hint.leftHint.exists(_.strategy.contains(
      org.apache.spark.sql.catalyst.plans.logical.BROADCAST)) ||
      j.hint.rightHint.exists(_.strategy.contains(
        org.apache.spark.sql.catalyst.plans.logical.BROADCAST))

  /** The "small side" floor when broadcasting is disabled entirely
    * (`autoBroadcastJoinThreshold = -1`): without this, `size > -1` is
    * true for EVERY plan and the guard would outlaw the legal 1-row
    * scalar-broadcast pattern too. */
  private val DisabledBroadcastFloor = 10L * 1024 * 1024

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (graft.GraftConf.noCartesianGuard(spark)) {
      val conf = spark.sessionState.conf.autoBroadcastJoinThreshold
      val thr = if (conf > 0) conf else DisabledBroadcastFloor
      plan.foreach {
        case j: Join if (j.joinType == Inner || j.joinType == Cross) &&
            !hasEquiKey(j) && !hasBroadcastHint(j) =>
          val (ls, rs) = (j.left.stats.sizeInBytes, j.right.stats.sizeInBytes)
          if (ls > thr && rs > thr)
            throw new SparkException(
              s"${graft.GraftConf.NoCartesianGuardKey}: cartesian join with no " +
                s"equi-key and both sides over the broadcast threshold " +
                s"($ls and $rs bytes > $thr) — at corpus scale this is a " +
                "runaway stage; add an equi-key, bucket the range predicate, " +
                "or broadcast one side")
        case _ => ()
      }
    }
    plan
  }
}

object NoCartesianGuard {
  /** [[graft.GraftExtensions.install]], which installs this rule. */
  def install(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)
}
