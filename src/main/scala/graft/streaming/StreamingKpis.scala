package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analogues of the KPI surface (SURVEY §2.9): event-time
  * windowed aggregation with watermarking, and custom session state via
  * `flatMapGroupsWithState` — the two Structured Streaming primitives
  * the reference's batch-only pipeline has no answer to.
  *
  * State sizing at scale: the windowed agg keeps one row per
  * (window, genre) until the watermark passes — bounded by
  * |genres| × (watermark / window) regardless of input rate. The
  * sessionizer keeps one small state object per ACTIVE user (timed out
  * after `gap`), so state is proportional to concurrent listeners, not
  * history.
  */
object StreamingKpis {

  /** Daily genre listen counts over an enriched play stream: watermarked
    * event-time tumbling windows. Late events beyond the watermark are
    * dropped (the batch job's append-and-recompute semantics replaced by
    * incremental finalization).
    */
  def dailyGenreMetrics(enriched: DataFrame, watermark: String = "1 day"): DataFrame =
    enriched
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), "1 day").as("w"), col("track_genre"))
      .agg(
        count(col("track_id")).as("listen_count"),
        approx_count_distinct("user_id").as("unique_listeners"),
        sum(col("duration_ms")).as("dur_sum"))
      .select(col("w.start").as("date"), col("track_genre"),
        col("listen_count"), col("unique_listeners"),
        (col("dur_sum") / 60000.0).as("total_listening_time_minutes"))

  /** Streaming trending: play counts per track over a SLIDING event-time
    * window (default 24h window, 1h slide) — the incremental
    * approximation of the batch trending KPI's per-event frame, at
    * slide-granularity. Each event lands in window/slide = 24 state
    * buckets; state is bounded by |tracks| x 24 x watermark horizon.
    * The batch `trendingKpis` remains the exact-parity path; this is
    * what a live leaderboard reads.
    */
  def trendingPlayCounts(enriched: DataFrame, windowLen: String = "24 hours",
                         slide: String = "1 hour",
                         watermark: String = "25 hours"): DataFrame =
    enriched
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), windowLen, slide).as("w"), col("track_id"))
      .agg(count(col("track_id")).as("plays_in_window"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("track_id"), col("plays_in_window"))

  final case class Play(user_id: String, ts: Timestamp)
  final case class SessionState(start: Long, last: Long, plays: Int)
  final case class UserSession(user_id: String, session_start: Timestamp,
                               session_end: Timestamp, plays: Int, duration_min: Double)

  /** Listening sessions: consecutive plays of a user with gaps below
    * `gapMinutes` form one session; the next out-of-gap play closes the
    * previous session, and an ABANDONED session (no successor event)
    * flushes via event-time timeout once the watermark passes
    * `session end + gap` — event-time semantics throughout, so the
    * output is deterministic and replayable (unlike wall-clock
    * timeouts) and converges to exactly the batch sessionization.
    * One state object per active user.
    *
    * The watermark is applied here (on `ts`, with `watermarkDelay`
    * lateness) because `EventTimeTimeout` requires one; late events
    * beyond the delay are dropped.
    */
  def sessionize(plays: Dataset[Play], gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes"): Dataset[UserSession] = {
    import plays.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    plays.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: String, rows: Iterator[Play], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no successor: flush the
            // abandoned session exactly as a successor would have
            val closed = state.getOption.map(close(user, _))
            state.remove()
            closed.iterator
          } else {
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            var cur = state.getOption
            val out = Seq.newBuilder[UserSession]
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, plays = s.plays + 1))
                case Some(s) =>
                  out += close(user, s)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must be strictly beyond the current watermark or Spark
              // rejects the timestamp; the max() only engages for state
              // whose gap already expired (flushes next micro-batch)
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  private def close(user: String, s: SessionState): UserSession =
    UserSession(user, new Timestamp(s.start), new Timestamp(s.last), s.plays,
      (s.last - s.start) / 60000.0)

  final case class Click(user_id: String, click_id: Long, ts: Timestamp)
  final case class Purchase(user_id: String, purchase_id: Long, ts: Timestamp)

  /** Stream-stream INTERVAL join: each purchase attributed to every
    * click by the same user within `horizon` before it. Watermarks on
    * BOTH inputs plus the time-range predicate are what let Spark evict
    * join state — without them a stream-stream join buffers forever.
    * State held per side ≈ watermark + horizon of events; inner-join
    * results emit as soon as both rows exist (no watermark wait).
    */
  def attributedPurchases(clicks: Dataset[Click], purchases: Dataset[Purchase],
                          horizon: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    clicks.toDF().withWatermark("ts", watermark).alias("c")
      .join(
        purchases.toDF().withWatermark("ts", watermark).alias("p"),
        expr(s"""c.user_id = p.user_id
                |AND c.ts >= p.ts - INTERVAL $horizon
                |AND c.ts <= p.ts""".stripMargin))
      .select(col("p.purchase_id"), col("p.user_id"),
        col("p.ts").as("purchase_ts"), col("c.click_id"), col("c.ts").as("click_ts"))

  /** At-least-once ingestion dedup: `dropDuplicatesWithinWatermark`
    * keyed by event id. Unlike plain `dropDuplicates` (whose key state
    * grows with ALL history — a leak on an unbounded stream), state here
    * is evicted once the watermark passes, bounding it by the horizon's
    * event volume. The contract matches what replayed/duplicated
    * delivery actually needs: duplicates arrive close to the original.
    */
  def dedupWithinWatermark(events: DataFrame, idCol: String, tsCol: String,
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Continuously-maintained latest-row snapshot of a changelog
    * stream: per key, the row with the maximum (ts, tie) seen so far —
    * the streaming form of [[graft.ops.Cdc.latestPerKey]], expressed
    * as an update-mode aggregation (`max_by` over a lexicographic
    * (ts, tie) struct) whose state is ONE row per key. Each
    * micro-batch emits only the keys that changed; route the result
    * through [[serveToStore]] (constant sort key) for an upserted
    * serving snapshot that converges to the batch compaction.
    *
    * State sizing: |live keys| rows — the minimum any snapshot
    * maintainer can hold; there is no watermark because a snapshot is
    * definitionally unbounded in event time (expire keys upstream if
    * the key space itself churns).
    */
  def latestSnapshot(changelog: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String): DataFrame = {
    val dataCols = changelog.columns.filterNot(_ == keyCol).toSeq
    changelog
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(max_by(struct(dataCols.map(col): _*),
        struct(col(tsCol), col(tieCol))).as("_latest"))
      .select(col(keyCol) +: dataCols.map(c => col(s"_latest.$c")): _*)
  }

  /** Serve a streaming item frame into the KV store: each micro-batch
    * flows through [[graft.serve.KpiSink.write]] (executor-side batches
    * of 25 with backoff) — the streaming closing of the reference's
    * batch-only KPI→DynamoDB loop. Use `update` output upstream: the
    * store's overwrite-by-(id, timestamp) makes re-emitted groups (and
    * retried micro-batches) idempotent, so a windowed aggregation can
    * publish refined values as events arrive and the store always holds
    * the latest. Blocks until the trigger drains; returns micro-batches
    * executed.
    */
  def serveToStore(items: DataFrame, store: graft.serve.KpiSink.KvStore,
                   checkpoint: String,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow()): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = items.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batches.incrementAndGet()
        graft.serve.KpiSink.write(batch, store)
      }
      .trigger(trigger)
      .start()
    q.awaitTermination()
    batches.get()
  }
}
