package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.JoinType
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Static plan audit: the assertions behind the 100 TB posture, so plan
  * properties are TESTED instead of trusted ([[Bucketing.shuffleCount]]
  * proved the pattern; this generalizes it to the whole query registry).
  *
  * Two scale-killer shapes are checked:
  *
  *  1. **O(n·m) join plans** — `CartesianProductExec` and
  *     `BroadcastNestedLoopJoinExec`. Either node means the join found no
  *     equi-key: output volume is the PRODUCT of the input sizes, and at
  *     cluster scale that is the stage that never finishes (or the single
  *     executor that OOMs holding the broadcast side). The only legitimate
  *     occurrences in this library are (a) explicitly-flagged `exact = true`
  *     oracle baselines, kept quadratic BY DESIGN as the small-SF ground
  *     truth for their banded/indexed twins, and (b) broadcasting a frame
  *     that is provably ≤ a few rows by construction (a global aggregate
  *     scalar, a trained codebook) — both carried per entry as the
  *     registry record's `planNote`; everything else fails.
  *
  *  2. **Missed broadcasts** — a shuffle join (`SortMergeJoinExec` /
  *     `ShuffledHashJoinExec`) whose smaller side's OPTIMIZER ESTIMATE is
  *     under the session's `autoBroadcastJoinThreshold`. Catalyst applies
  *     this rule itself at planning, so a hit means library code actively
  *     defeated it (a stray `merge` hint, a disabled threshold, a stats
  *     bug) — exactly the regression this gate exists to catch. Full-outer
  *     joins are exempt (no broadcastable build side exists for them).
  *
  * The audit inspects the INITIAL physical plan (pre-AQE): that is the
  * plan shape the code declares; AQE runtime improvements are a bonus the
  * gate must not depend on.
  */
object PlanAudit {

  private def unwrap(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p                        => p
  }

  /** Names of O(n·m) join nodes in `df`'s physical plan (empty = clean). */
  def forbiddenJoins(df: DataFrame): Seq[String] =
    unwrap(df.queryExecution.executedPlan).collectWithSubqueries {
      case _: CartesianProductExec     => "CartesianProduct"
      case j: BroadcastNestedLoopJoinExec =>
        s"BroadcastNestedLoopJoin(${j.joinType}, build=${j.buildSide})"
    }

  /** Shuffle joins whose small side the optimizer ESTIMATED under the
    * broadcast threshold yet did not broadcast (empty = clean). Reported
    * as `"<join> small=<bytes> threshold=<bytes>"`.
    */
  def missedBroadcasts(df: DataFrame): Seq[String] = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) return Seq.empty // broadcast disabled: nothing to miss
    def sizeOf(p: SparkPlan): Option[BigInt] =
      p.logicalLink.map(_.stats.sizeInBytes)
    def check(name: String, joinType: JoinType, left: SparkPlan,
              right: SparkPlan): Option[String] = {
      // Only the join type's LEGAL build side(s) count: a one-sided outer/
      // semi/anti join cannot broadcast its preserved side, so a small
      // stream side is not a "missed" broadcast — flagging it would force
      // bogus allowlist entries for perfectly legal plans.
      import org.apache.spark.sql.catalyst.plans.{Inner, Cross, LeftOuter, RightOuter, LeftSemi, LeftAnti, ExistenceJoin}
      val candidates: Seq[SparkPlan] = joinType match {
        case Inner | Cross                       => Seq(left, right)
        case LeftOuter | LeftSemi | LeftAnti     => Seq(right) // build-right only
        case _: ExistenceJoin                    => Seq(right)
        case RightOuter                          => Seq(left)  // build-left only
        case _                                   => Seq.empty  // FullOuter etc.
      }
      val sizes = candidates.flatMap(sizeOf)
      sizes.filter(_ < threshold).minOption.map(s =>
        s"$name(${joinType}) small=$s threshold=$threshold")
    }
    unwrap(df.queryExecution.executedPlan).collectWithSubqueries {
      case j: SortMergeJoinExec =>
        check("SortMergeJoin", j.joinType, j.left, j.right)
      case j: ShuffledHashJoinExec =>
        check("ShuffledHashJoin", j.joinType, j.left, j.right)
    }.flatten
  }

  /** Formatted plan for failure messages. */
  def planString(df: DataFrame): String =
    unwrap(df.queryExecution.executedPlan).treeString

  /** file -> distinct guarded call sites that must fire across the
    * whole pinned-entry sweep (coarser companion to the registry
    * records' `widthPin`:
    * catches a dropped wrap even when entry counts could compensate).
    * `TextAnalysis.winnowed`'s guard is the one site no registry entry
    * routes through (q_winnow uses `Dedup.winnowFingerprints`); it is
    * covered by the spec's direct family-representative runtime test.
    */
  val widthGuardSites: Map[String, Int] = Map(
    "Dedup.scala" -> 5, "Pca.scala" -> 2, "Similarity.scala" -> 11,
    "TextAnalysis.scala" -> 6)
}
