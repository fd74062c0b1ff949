package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, InSubqueryExec, InputAdapter, ProjectExec, QueryExecution, ScalarSubquery, SortExec, SparkPlan, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{Bucketing, Par}

/** One profile record per registry entry. It answers the questions
  * Dremel's VLDB 2020 retrospective asks of a query: where the time
  * went, which stage straggled, and what moved over the network.
  *
  * Every entry is measured by the same protocol:
  *   1. reset: clear the SQL cache and unpersist the RDDs persisted
  *      since the call began;
  *   2. construct the entry's DataFrame with the [[Par]] width recorder
  *      on: construction wall, round-robin spreads and their call sites;
  *   3. plan it through `queryExecution.executedPlan`: planning wall.
  *      The exchange count ([[Bucketing.shuffleCount]], the number the
  *      registry's shuffle pins hold) reads this plan;
  *   4. one untimed warm-up through the `noop` sink (JIT, codegen);
  *   5. three timed runs, each after a reset and over a freshly
  *      constructed DataFrame: the wall of the `noop` write, as [[Bench]]
  *      times it. A listener scoped by job group attributes jobs, stages
  *      and tasks to each run; the record keeps those of the median run.
  *      The row count is the root's `numOutputRows` in the last run's
  *      executed plan, and [[duplicateSubtree]] judges that final
  *      adaptive plan: a subtree the planned frame shows twice but AQE
  *      runs once (a reused exchange or stage) is not flagged.
  *
  * The call owns the session while it runs: it clears the SQL cache and
  * sets the calling thread's job group. It leaves the SQL cache empty,
  * no RDD of its own persisted, and no listener behind.
  *
  * `runMain graft.QueryProfile <sfDir> [entry…]` prints one JSON record
  * per entry (every registry entry when none is named). An entry that
  * fails prints `{"entry":…,"error":…}` and the run goes on.
  */
object QueryProfile {

  /** One stage of a timed run. Task times are executor run times. */
  final case class Stage(id: Int, tasks: Int, maxTaskMs: Long, medianTaskMs: Long,
                         inputBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long) {
    def toJson: String =
      s"""{"id":$id,"tasks":$tasks,"max_task_ms":$maxTaskMs,"median_task_ms":$medianTaskMs,""" +
        s""""input_bytes":$inputBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,"gc_ms":$gcMs}"""
  }

  /** The profile of one registry entry; `rows` is None when the root's
    * row count cannot be read from the plan (see [[outputRows]]).
    */
  final case class Record(entry: String, constructMs: Double, planMs: Double,
                          execMs: Seq[Double], jobs: Int, stages: Seq[Stage],
                          exchanges: Int, duplicateSubtree: Option[String],
                          widthSpreads: Int, widthSites: Seq[String],
                          rows: Option[Long]) {
    def toJson: String = {
      def ms(x: Double) = "%.1f".format(x)
      s"""{"entry":${Verify.jsonString(entry)},"construct_ms":${ms(constructMs)},""" +
        s""""plan_ms":${ms(planMs)},"exec_ms":${execMs.map(ms).mkString("[", ",", "]")},""" +
        s""""jobs":$jobs,"stages":${stages.map(_.toJson).mkString("[", ",", "]")},""" +
        s""""exchanges":$exchanges,""" +
        s""""duplicate_subtree":${duplicateSubtree.map(Verify.jsonString).getOrElse("null")},""" +
        s""""width_spreads":$widthSpreads,""" +
        s""""width_sites":${widthSites.map(Verify.jsonString).mkString("[", ",", "]")},""" +
        s""""rows":${rows.map(_.toString).getOrElse("null")}}"""
    }
  }

  private val timedRuns = 3

  def profile(spark: SparkSession, sfDir: String, entry: String): Record = {
    val build = SparkEntry.byName.getOrElse(entry,
      throw new IllegalArgumentException(s"unknown registry entry: $entry")).build
    val sc = spark.sparkContext
    val keep = sc.getPersistentRDDs.keySet
    def reset(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!keep(id)) rdd.unpersist(false) }
    }
    def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def group(run: Int) = s"graft-profile-$entry-$run"

    val runs = new RunListener
    val writes = new WriteListener
    sc.addSparkListener(runs)
    spark.listenerManager.register(writes)
    try {
      reset()
      Par.auditStart()
      val built = Try(timed(build(spark, sfDir)))
      val spreads = Par.auditStop().filter(_.spread)
      val (df, constructMs) = built.get
      val planMs = timed(df.queryExecution.executedPlan)._2
      val exchanges = Bucketing.shuffleCount(df)
      materialize(df)
      val execMs = (1 to timedRuns).map { run =>
        reset()
        val fresh = build(spark, sfDir)
        sc.setJobGroup(group(run), s"QueryProfile $entry run $run")
        try timed(materialize(fresh))._2 finally sc.clearJobGroup()
      }
      GraftSparkInternals.drainListenerBus(sc)
      val medianRun = execMs.indices.sortBy(execMs).apply(timedRuns / 2) + 1
      val (jobs, stages) = runs.of(group(medianRun))
      val finalPlan = writes.lastQuery
      Record(entry, constructMs, planMs, execMs, jobs, stages, exchanges,
        finalPlan.flatMap(duplicateSubtree), spreads.size,
        spreads.map(_.site).distinct.sorted, finalPlan.flatMap(outputRows))
    } finally {
      reset()
      sc.removeSparkListener(runs)
      spark.listenerManager.unregister(writes)
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e6)
  }

  private final class StageTasks(val group: String) {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var input, shuffleRead, shuffleWrite, spill, gc = 0L
  }

  /** Jobs and per-stage task metrics, keyed by the job group the
    * submitting thread carried (`SparkContext.setJobGroup` sets it as
    * this local property; Spark keeps the key's constant private).
    */
  private final class RunListener extends SparkListener {
    private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val stages = mutable.LinkedHashMap.empty[Int, StageTasks]

    private def groupOf(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groupOf(e.properties).foreach(g => jobs(g) += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      groupOf(e.properties).foreach(g =>
        stages.getOrElseUpdate(e.stageInfo.stageId, new StageTasks(g)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.taskMs += m.executorRunTime
        s.input += m.inputMetrics.bytesRead
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.gc += m.jvmGCTime
      }
    }

    def of(group: String): (Int, Seq[Stage]) = synchronized {
      (jobs(group), stages.toSeq.collect { case (id, s) if s.group == group =>
        val sorted = s.taskMs.sorted
        Stage(id, sorted.size, sorted.lastOption.getOrElse(0L),
          if (sorted.isEmpty) 0L else sorted(sorted.size / 2),
          s.input, s.shuffleRead, s.shuffleWrite, s.spill, s.gc)
      })
    }
  }

  /** The query under the last `noop` write that finished. */
  private final class WriteListener extends QueryExecutionListener {
    @volatile var lastQuery: Option[SparkPlan] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.executedPlan match {
        case w: V2TableWriteExec => lastQuery = Some(w.query)
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Rows the root produced: the `numOutputRows` of the topmost operator
    * that keeps one, read through the operators above it that pass every
    * row on (projections, sorts, windows, exchanges, stage wrappers), and
    * summed over a union's arms. None when an operator that can change
    * the row count without keeping the metric (a limit, say) comes first.
    */
  private def outputRows(plan: SparkPlan): Option[Long] = plan match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case s: QueryStageExec => outputRows(s.plan)
    case p if p.metrics.contains("numOutputRows") => Some(p.metrics("numOutputRows").value)
    case u: UnionExec =>
      u.children.foldLeft(Option(0L))((sum, c) => for (a <- sum; b <- outputRows(c)) yield a + b)
    case p @ (_: ProjectExec | _: SortExec | _: WindowExec | _: ShuffleExchangeLike |
              _: ReusedExchangeExec | _: AQEShuffleReadExec | _: WholeStageCodegenExec |
              _: InputAdapter | _: CoalesceExec) =>
      outputRows(p.children.head)
    case _ => None
  }

  /** Duplicate-subtree check: does the physical plan evaluate the same
    * expensive subtree more than once?
    *
    * Spark's ReuseExchange/ReuseSubquery only dedupe IDENTICAL exchange or
    * subquery nodes; a subtree that feeds both a BroadcastExchange (a 1-row
    * count, a threshold array) and the main shuffle path is computed once PER
    * PARENT — e.g. `bhFdr` re-ran its data-sized permutation-test input three
    * times (broadcast m, cache fill under kStar, the null-p union branch).
    *
    * Detection: walk the plan INCLUDING subquery plans, canonicalize every
    * subtree, and count how many times each canonical form containing at
    * least one parquet scan is evaluated, skipping subtrees under
    * ReusedExchange (those are free). A scan counts when it sits behind an
    * AQE query stage or a reused exchange, so work repeated above a reused
    * stage is seen. In a final adaptive plan, copies inside one query stage
    * count as one evaluation: they run in that stage's job over the same
    * stage inputs, as a self-union reading one reused exchange does. Copies
    * in two stages are the work run twice. Reports the max duplicate count
    * and the table names of the duplicated scans; None when nothing repeats.
    */
  def duplicateSubtree(plan: SparkPlan): Option[String] = {
    val all = mutable.Buffer[(SparkPlan, Option[Int])]()
    walk(plan, None, all, mutable.Set[Int]())
    // count canonical forms of subtrees that contain a scan AND at least
    // one exchange or aggregate (i.e. real work, not a bare column prune)
    val interesting = all.filter { case (st, _) =>
      scanTables(st).nonEmpty &&
        st.collect { case e: Exchange => e
                     case a: BaseAggregateExec => a }.nonEmpty
    }
    // a copy outside any query stage is its own evaluation
    def evaluations(copies: Seq[(SparkPlan, Option[Int])]): Int =
      copies.count(_._2.isEmpty) + copies.flatMap(_._2).distinct.size
    val dups = interesting.toSeq.groupBy(_._1.canonicalized).view
      .mapValues(evaluations).filter(_._2 > 1).toMap
    if (dups.isEmpty) None
    else {
      // deepest duplicated subtree (the real cost), its count, its tables
      val (canon, n) = dups.maxBy { case (c, _) => c.collect { case x => x }.size }
      val size = canon.collect { case x => x }.size
      Some(s"${n}x duplicated subtree of $size nodes over " +
        s"tables=${scanTables(canon).distinct.mkString(",")} " +
        s"(total dup groups: ${dups.size})")
    }
  }

  private def subqueryPlans(p: SparkPlan): Seq[SparkPlan] =
    p.expressions.flatMap(_.collect {
      case e: ScalarSubquery => e.plan
      case e: InSubqueryExec => e.plan
    })

  /** All evaluated subtrees, each with the AQE query stage it runs in:
    * children of every node + roots of subqueries, not descending into
    * ReusedExchange (its child is shared, not re-run) and visiting each
    * AQE query stage ONCE (AQE represents stage reuse as repeated
    * QueryStageExec nodes with the same id, not ReusedExchange).
    */
  private def walk(p: SparkPlan, stage: Option[Int],
                   acc: mutable.Buffer[(SparkPlan, Option[Int])],
                   seenStages: mutable.Set[Int]): Unit = {
    p match {
      case _: ReusedExchangeExec => // shared — not a second evaluation
      case a: AdaptiveSparkPlanExec =>
        walk(a.executedPlan, stage, acc, seenStages)
      case q: QueryStageExec =>
        if (seenStages.add(q.id)) walk(q.plan, Some(q.id), acc, seenStages)
      case other =>
        acc += other -> stage
        other.children.foreach(walk(_, stage, acc, seenStages))
        subqueryPlans(other).foreach(walk(_, stage, acc, seenStages))
    }
  }

  private def scanTables(p: SparkPlan): Seq[String] = p.flatMap {
    case f: FileSourceScanExec =>
      Seq(f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?"))
    case q: QueryStageExec => scanTables(q.plan)
    case r: ReusedExchangeExec => scanTables(r.child)
    case _ => Nil
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <sfDir> [entry…]")
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.entries.map(_.name).sorted
    val spark = GraftSession.get("graft-profile")
    names.foreach { n =>
      println(
        try profile(spark, sfDir, n).toJson
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          s"""{"entry":${Verify.jsonString(n)},"error":${Verify.jsonString(msg)}}"""
        })
    }
    spark.stop()
  }
}
