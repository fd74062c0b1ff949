package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** The one home of every materialization in the library: how a
  * checkpointed frame is made and when it dies.
  *
  * `Dataset.localCheckpoint()` persists its internal row RDD in the block
  * manager, and `spark.catalog.clearCache()` does NOT release it — the
  * CacheManager only tracks SQL-cached plans. A loop that checkpoints
  * every round would strand one RDD per round until the driver GC and
  * the ContextCleaner catch up: on a long-lived session a steady leak of
  * executor storage memory, at the 100 TB target an OOM. [[iterate]]
  * frees each superseded round as soon as its successor is materialized.
  *
  * == Executor-loss contract ==
  *
  * A `localCheckpoint` stores NON-REPLICATED blocks on executors and
  * truncates lineage: lose one executor and every job still reading the
  * checkpoint fails irrecoverably ("Checkpoint block … not found" — there
  * is no recompute path). The trade is deliberate (a producer runs once
  * per query instead of once per consumer, and a loop's plan stays flat).
  * It covers every materialization, [[stage]]'s shared frames and every
  * frame of an [[iterate]] loop, under two knobs read from the session
  * conf:
  *
  *   - `spark.graft.checkpoint.reliable` (default false): when true AND
  *     `sparkContext.setCheckpointDir` has been called, a RELIABLE
  *     `checkpoint` (HDFS/object-store-backed, survives executor loss)
  *     replaces local blocks — the posture for long jobs at the 100 TB
  *     target, at the price of a write+read through the checkpoint dir.
  *   - `spark.graft.checkpoint.maxBytes` (default −1 = no bound): when
  *     set ≥ 0, [[stage]] returns a frame whose optimizer-estimated plan
  *     size exceeds the bound UNMATERIALIZED (lineage kept, consumers
  *     re-run the producer), for clusters where materializing an O(data)
  *     frame is a worse bet than recomputing it. Loop frames skip the
  *     bound: an unmaterialized round carries all its predecessors'
  *     plans, so lineage, planning and recompute would grow every round.
  *
  * With both knobs off every frame is materialized in local blocks.
  */
private[graft] object Checkpoints {

  /** Eagerly materialize a shared frame ONCE for multi-consumer reuse,
    * subject to the scale-posture knobs above. Streaming frames pass
    * through untouched (micro-batch plans are re-planned per batch and
    * cannot be checkpointed here — the ADVICE r12 lesson).
    */
  def stage(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val maxBytes = df.sparkSession.conf.get("spark.graft.checkpoint.maxBytes", "-1").toLong
    if (maxBytes >= 0) {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est > maxBytes) return df // keep lineage: consumers recompute
    }
    materialize(df)
  }

  /** Eagerly materialize `df`, reliably or in local blocks per the knob,
    * whatever its size: loop state, which the size bound must not skip.
    */
  def materialize(df: DataFrame): DataFrame = {
    val reliable = df.sparkSession.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean
    if (reliable && df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
  }

  /** The block-backed RDD behind a checkpointed frame, if any.
    * A checkpointed Dataset's analyzed plan IS a leaf [[LogicalRDD]]
    * wrapping the persisted internal-row RDD — so only a root-level
    * match qualifies. Matching any LogicalRDD nested deeper would let
    * [[free]] unpersist blocks owned by a CALLER-checkpointed input
    * that this frame merely derives from; localCheckpoint truncates
    * lineage, so the caller's later reads would fail irrecoverably
    * with "checkpoint block not found". */
  def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }

  /** Release `df`'s checkpoint blocks (non-blocking) and its reliable
    * checkpoint files, if any. Only call once no un-materialized frame
    * still reads from it — i.e. after the next round's EAGER checkpoint
    * (or a count/noop write) has run. */
  def free(df: DataFrame): Unit = rddOf(df).foreach { rdd =>
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Run one iterative operator: `body` declares its loop inputs and
    * rounds on the [[Loop]] it is given. When it returns, everything the
    * loop made is freed but the last round, which the result reads and
    * the caller owns; if it throws, everything is freed. (A
    * materialization whose own job fails leaves the RDD Spark persisted
    * for it, which no frame refers to, to the ContextCleaner.)
    */
  def iterate(body: Loop => DataFrame): DataFrame = {
    val loop = new Loop
    val out = try body(loop) catch {
      case t: Throwable =>
        loop.release(keepLast = false)
        throw t
    }
    loop.release(keepLast = true)
    out
  }

  /** The frames of one [[iterate]] call. A round is committed once its
    * state is materialized and, for [[until]], its convergence read;
    * committing frees the round before it.
    */
  final class Loop private[Checkpoints] () {
    private val inputs = ArrayBuffer.empty[() => Unit]
    private var last = Seq.empty[DataFrame]
    private val current = ArrayBuffer.empty[DataFrame]

    /** Materialize a frame every round reads; it lives until the loop ends. */
    def share(df: DataFrame): DataFrame = {
      val m = materialize(df)
      inputs += (() => free(m))
      m
    }

    /** Cache a loop input lazily (its first reader fills it) until the loop ends. */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist()
      inputs += (() => p.unpersist())
      p
    }

    /** Materialize a frame a round hands on beside its state; it lives as
      * long as that round. */
    def carry(df: DataFrame): DataFrame = {
      val m = materialize(df)
      current += m
      m
    }

    /** `init`, then `n` rounds of `step`. */
    def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
      (1 to n).foldLeft(next(init))((s, _) => next(step(s)))

    /** `init`, then rounds of `step` until `done` holds of a round's
      * metrics; fails naming `what` after `maxRounds` rounds. `step`
      * observes the metrics into the [[Observation]] it is given, so they
      * ride the job that materializes the round.
      */
    def until(init: DataFrame, maxRounds: Int, what: String)(
        step: (DataFrame, Observation) => DataFrame)(done: Map[String, Any] => Boolean): DataFrame = {
      @annotation.tailrec def from(s: DataFrame, round: Int): DataFrame = {
        require(round < maxRounds, s"$what did not converge in $maxRounds rounds")
        val obs = Observation()
        val m = carry(step(s, obs))
        val converged = done(obs.get)
        commit()
        if (converged) m else from(m, round + 1)
      }
      from(next(init), 0)
    }

    private def next(state: DataFrame): DataFrame = {
      val m = carry(state)
      commit()
      m
    }

    private def commit(): Unit = {
      last.foreach(free)
      last = current.toSeq
      current.clear()
    }

    private[Checkpoints] def release(keepLast: Boolean): Unit = {
      inputs.foreach(_())
      current.foreach(free)
      if (!keepLast) last.foreach(free)
    }
  }
}
