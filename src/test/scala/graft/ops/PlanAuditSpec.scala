package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Registry-wide plan-regression gate: every `SparkEntry.entries` record is
  * planned at sf0.001 and audited for the two scale-killer shapes
  * ([[PlanAudit]]): O(n·m) join nodes and missed broadcasts. Adding a new
  * query with a cartesian/nested-loop plan fails ONE named test here with
  * the offending physical plan printed — the plan contract becomes part of
  * the suite, not a per-round manual `.explain` review.
  *
  * The allowlist is EXPLICIT and per-query: a record's `planNote` is the
  * reason its entry is allowed to carry an O(n·m) node, and its
  * `shufflePin` caps the planned exchanges. A missed broadcast has no
  * allowlist and always fails. Two legitimate O(n·m) categories only:
  *   - `exact = true` oracle baselines: deliberately quadratic ground
  *     truth for a banded/indexed twin that answers the same query (the
  *     twin IS audited — that's the plan that ships).
  *   - bounded broadcast: one side is ≤ a few rows by construction (a
  *     global-aggregate scalar, a trained codebook, a k-row calendar),
  *     so the "nested loop" is a map-side lookup, volume O(n·k) for
  *     constant k.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // Planning some entries executes bounded prep work (codebook training,
  // CC iteration); at sf0.001 the whole sweep stays cheap.
  for (entry <- SparkEntry.entries.sortBy(_.name); name = entry.name) {
    test(s"plan audit: $name") {
      val df = entry.build(spark, sfDir)
      try {
        val forbidden = PlanAudit.forbiddenJoins(df)
        if (forbidden.nonEmpty && entry.planNote.isEmpty) {
          fail(s"$name has O(n*m) join node(s) ${forbidden.mkString(", ")} and is " +
            s"not allowlisted.\nEither give it an index/band/broadcast-bounded plan " +
            s"or give its record a planNote with the reason.\n" +
            PlanAudit.planString(df))
        }
        if (forbidden.isEmpty && entry.planNote.isDefined) {
          info(s"$name carries a planNote for O(n*m) nodes but its plan is clean — " +
            "the note can be removed")
        }
        val missed = PlanAudit.missedBroadcasts(df)
        if (missed.nonEmpty) {
          fail(s"$name declines a broadcast the optimizer sized as cheap: " +
            s"${missed.mkString(", ")}\n" + PlanAudit.planString(df))
        }
        entry.shufflePin.foreach { budget =>
          val n = Bucketing.shuffleCount(df)
          if (n > budget)
            fail(s"$name plans $n shuffle exchanges, budget is $budget — a new " +
              s"Exchange in a headline plan needs an explicit pin raise.\n" +
              PlanAudit.planString(df))
        }
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
  }
}
