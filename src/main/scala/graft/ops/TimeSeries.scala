package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Calendar-complete time-series primitives: daily resample, gap
  * filling, forward fill. Per-entity daily metrics are only trustworthy
  * once missing days are explicit — a windowed feature computed over a
  * series with silent holes reads "no data" as "no row", which skews
  * every downstream rolling aggregate.
  *
  * Reference behavior: the KPI pipeline's daily rollups
  * (`scripts/compute_kpis.py`) group by event date and simply
  * omit silent days; gap filling is the resample step a consumer needs
  * before trend/retention math over those rollups is sound.
  */
object TimeSeries {

  /** Per-key daily activity series over each key's own
    * `[min_day, max_day]` span: one row per (key, day) with
    * `n_events` = events that day (0 on gap days) and
    * `last_active_day` = most recent day with activity at or before
    * this row (forward fill).
    *
    * Scale posture: the calendar explode emits span-length rows per
    * key — bounded by elapsed DAYS, not event volume, so it cannot
    * amplify a 100 TB fact table (31 rows/key/month regardless of how
    * hot the key is). The join back to daily counts is a (key, day)
    * equi-join — both sides shuffle on the same key, and the per-key
    * daily frame is already aggregated (small side; AQE broadcasts it
    * when a single month-partition is processed). The forward fill is
    * a per-key ordered window — partitions are span-bounded like the
    * calendar, never event-bounded.
    */
  def gapFillDaily(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .groupBy(keyCol, "day").agg(count(lit(1)).as("n"))
    val spans = daily.groupBy(keyCol).agg(min("day").as("_d0"), max("day").as("_d1"))
    val calendar = spans.select(col(keyCol),
      explode(sequence(col("_d0"), col("_d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(when(col("n").isNotNull, col("day")), ignoreNulls = true).over(w)
          .as("last_active_day"))
  }

  /** Duration-weighted average of a held state: each event's value
    * holds from its timestamp until the key's next event; the average
    * weights by held seconds — the correct aggregate for sampled
    * gauges (price, buffer depth, quality score), where the plain
    * row-mean over-counts bursts of short-lived samples.
    *
    * `valueCents` must be integer-scaled by the caller: the weighted
    * sum is then an exact LONG Σ cents·seconds, divided once at the
    * end — partition-order independent. A key's LAST event has no
    * successor and carries no weight (standard last-observation-open
    * semantics: there is nothing to hold until).
    * Output: (key, n_intervals, held_seconds, tw_avg).
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      valueCents: org.apache.spark.sql.Column,
                      tieCol: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("_ts"), col("_tie"))
    df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol).as("_ts"), col(tieCol).as("_tie"),
        valueCents.cast("long").as("_cents"))
      .withColumn("_dur",
        unix_timestamp(lead(col("_ts"), 1).over(ord)) - unix_timestamp(col("_ts")))
      .filter(col("_dur").isNotNull && col("_cents").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_intervals"),
        sum("_dur").as("held_seconds"),
        sum(col("_cents") * col("_dur")).as("_wsum"))
      .select(col(keyCol), col("n_intervals"), col("held_seconds"),
        // all surviving intervals zero-duration (same floor-second
        // events) → no held time to weight by: NULL, not Inf/NaN
        when(col("held_seconds") === 0, lit(null).cast("double"))
          .otherwise(round(col("_wsum") / lit(100.0) / col("held_seconds"), 6))
          .as("tw_avg"))
  }

  /** Period-over-period change of per-key weekly volumes:
    * (key, week, n, prev_n, pct_change) with
    * `pct_change = (n − prev) / prev` (null on the first week). The
    * lag window runs over the AGGREGATED weekly frame.
    */
  def weekOverWeek(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val weekly = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), date_trunc("week", col(tsCol)).as("week"))
      .agg(count(lit(1)).as("n"))
    weekly
      .withColumn("prev_n",
        lag("n", 1).over(Window.partitionBy(col(keyCol)).orderBy(col("week"))))
      .withColumn("pct_change",
        round((col("n") - col("prev_n")) / col("prev_n"), 6))
  }

  /** Trailing `days`-day rolling aggregates over per-key DAILY rollups:
    * one row per (key, active day) with that day's count plus the
    * trailing-window event total and active-day count. The window key
    * is the integer epoch day, so the RANGE frame `[-(days-1), 0]` is
    * exact long arithmetic (no interval/timezone math in the frame).
    *
    * Scale posture: the window runs over the AGGREGATED daily frame —
    * one row per (key, day), span-bounded like [[gapFillDaily]]'s
    * calendar — never over raw events; the raw table is touched once,
    * by the daily hash-agg (map-side combined). Sums are exact longs.
    */
  def trailingDaily(df: DataFrame, keyCol: String, tsCol: String,
                    days: Int = 7): DataFrame = {
    require(days >= 1, "window must cover at least the current day")
    val daily = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .groupBy(keyCol, "day").agg(count(lit(1)).as("n_events"))
      .withColumn("_epoch_day", datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
    val w = Window.partitionBy(keyCol).orderBy(col("_epoch_day"))
      .rangeBetween(-(days - 1).toLong, 0L)
    daily.select(col(keyCol), col("day"), col("n_events"),
      sum("n_events").over(w).as("n_trailing"),
      count(lit(1)).over(w).as("days_active_trailing"))
  }

  /** EXACT trailing-`days` distinct actors per day (rolling DAU/WAU/
    * MAU): one row per day with the count of distinct `actorCol`
    * values active in `[day − days + 1, day]`. Spark has no windowed
    * `countDistinct`, and the naive per-day self-join over raw events
    * re-scans the fact table once per day. Coverage-explode instead:
    * dedupe to distinct (actor, active day) pairs — ONE pass over the
    * raw table — then each pair covers the `days` window positions it
    * participates in (`sequence` explode), a second dedupe collapses
    * an actor's overlapping active days per covered day, and a plain
    * hash-agg count per day finishes. Total cost is
    * |distinct (actor, day)| × `days` rows — linear in active pairs
    * and the window length, independent of raw event volume; every
    * stage is a map-side-combinable hash agg (no window operator, no
    * self-join). Days past the corpus' last active day are clipped
    * (they would report phantom trailing windows).
    * Output: (day, n_active) — `day` is a day-truncated TIMESTAMP.
    */
  def rollingDistinct(df: DataFrame, tsCol: String, actorCol: String,
                      days: Int = 7): DataFrame = {
    require(days >= 1, "window must cover at least the current day")
    val activeDays = df
      .filter(col(actorCol).isNotNull && col(tsCol).isNotNull)
      .select(col(actorCol).as("_actor"), date_trunc("day", col(tsCol)).as("_day"))
      .distinct()
    // one scalar row; joined with an always-true condition Catalyst
    // plans as a broadcast nested loop over a 1-row build side
    val maxDay = activeDays.agg(max("_day").as("_max_day"))
    activeDays
      .select(col("_actor"), explode(sequence(col("_day"),
        col("_day") + expr(s"interval ${days - 1} days"),
        expr("interval 1 day"))).as("day"))
      .distinct()
      .join(broadcast(maxDay), col("day") <= col("_max_day"))
      .groupBy("day").agg(count(lit(1)).as("n_active"))
  }

  /** Volume anomaly detection on per-key daily counts: each (key, day)
    * is z-scored against the key's own TRAILING `days`-day history
    * (strictly prior days — the current day never contaminates its own
    * baseline), and flagged when |z| exceeds `zThresh`. The temporal
    * companion to [[Expectations]]' static contracts: expectations
    * catch "this table is wrong", this catches "today is wrong".
    *
    * Determinism discipline: mean and variance derive from EXACT long
    * sums (Σn, Σn²) over the window; the double math is one fixed
    * expression tree evaluated once per row, so any engine reproduces
    * it bit-for-bit. A zero-variance history (constant baseline) has
    * no finite z — `z_score` is null there, and the row flags iff the
    * day deviates from the constant at all (`n·cnt ≠ Σn`, exact
    * integer compare).
    *
    * Scale posture: the window runs over the AGGREGATED per-key daily
    * frame (span-bounded rows), with O(1) frame state (two sums + a
    * count); raw events are touched once by the daily hash agg. Days
    * with fewer than `minHistory` prior active days are suppressed
    * (cold start has no baseline).
    * Output: (key, day, n_events, baseline_days, z_score, anomalous).
    */
  def dailyAnomalies(df: DataFrame, keyCol: String, tsCol: String,
                     days: Int = 7, zThresh: Double = 3.0,
                     minHistory: Int = 3): DataFrame = {
    require(days >= 1 && minHistory >= 1 && zThresh > 0)
    val daily = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .groupBy(keyCol, "day").agg(count(lit(1)).as("n_events"))
      .withColumn("_ed", datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
    val w = Window.partitionBy(keyCol).orderBy(col("_ed"))
      .rangeBetween(-days.toLong, -1L)
    val d = col("n_events").cast("double")
    val cnt = count(lit(1)).over(w)
    val s = sum("n_events").over(w)
    val s2 = sum(col("n_events") * col("n_events")).over(w)
    daily
      .withColumn("baseline_days", cnt)
      .withColumn("_s", s).withColumn("_s2", s2)
      .filter(col("baseline_days") >= minHistory)
      .withColumn("_mean", col("_s").cast("double") / col("baseline_days").cast("double"))
      .withColumn("_var",
        (col("_s2").cast("double") -
          col("_s").cast("double") * col("_s").cast("double")
            / col("baseline_days").cast("double"))
          / col("baseline_days").cast("double"))
      .withColumn("z_score",
        when(col("_var") > 0d,
          round((d - col("_mean")) / sqrt(col("_var")), 6)))
      .withColumn("anomalous",
        when(col("_var") > 0d,
          abs((d - col("_mean")) / sqrt(col("_var"))) > zThresh)
          .otherwise(col("n_events") * col("baseline_days") =!= col("_s")))
      .select(col(keyCol), col("day"), col("n_events"),
        col("baseline_days"), col("z_score"), col("anomalous"))
  }

  /** First-seen growth curve: per day, the count of actors whose FIRST
    * activity falls on that day plus the running total — the
    * "cumulative users" chart behind every launch dashboard, and the
    * denominator series for retention. First-seen is a min-agg per
    * actor (one pass, map-side combined); the cumulative sum is an
    * ordered window over the DAILY frame, whose row count is the
    * calendar span — bounded by elapsed days, never by event volume,
    * so the unpartitioned frame is safe at any scale.
    * Output: (day, n_new, n_total), one row per first-seen day.
    */
  def firstSeenGrowth(df: DataFrame, tsCol: String, actorCol: String): DataFrame = {
    val firstSeen = df
      .filter(col(actorCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(actorCol).as("_actor"))
      .agg(min(date_trunc("day", col(tsCol))).as("day"))
    val daily = firstSeen.groupBy("day").agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("day"), col("n_new"),
      sum("n_new").over(w).as("n_total"))
  }

  /** Exponentially-decayed daily trend score per key: for each
    * (key, active day j), `trend_j = Σ_{i ∈ [j−W+1, j]} n_i · 2^−(j−i+1)`
    * over the key's ACTIVE-day series (row-indexed, not
    * calendar-indexed) — the half-per-step decayed trailing sum behind
    * "hot now" ranking (HN/Reddit-style), with yesterday's activity
    * worth exactly half of today's.
    *
    * The decay base is 2 ON PURPOSE: every term `n · 2^−k` is an
    * EXACT double (power-of-two scaling only touches the exponent),
    * so the score is a sum of exact terms in ascending-day order —
    * engine-bit-identical with no rounding step at all. A base like
    * 0.9 would make every term carry libm `pow` noise. The window is
    * capped at `window` rows (default 32) both because `2^−33` is
    * already below any ranking resolution and to keep the shift
    * exponent inside a long.
    *
    * Scale posture: the expensive part is ONE hash aggregation to
    * daily counts; the per-key series fold is O(span · window) over
    * the AGGREGATED frame (≤ 31 rows/key/month), so per-key state is
    * span-bounded like [[gapFillDaily]]'s calendar, never
    * event-bounded. No window function, no calendar explode.
    */
  def decayTrend(df: DataFrame, keyCol: String, tsCol: String,
                 window: Int = 32): DataFrame = {
    require(window >= 1 && window <= 62, "shift exponent must fit a long")
    val daily = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val perKey = daily.groupBy(keyCol)
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("_arr"))
      // re-tag each element with its 0-based series index so the
      // nested fold can address the trailing window by POSITION
      .withColumn("_ix", expr(
        "transform(_arr, (x, i) -> struct(i AS i, x.day AS day, x.n AS n))"))
    perKey
      .select(col(keyCol), explode(expr(
        s"""transform(_ix, e -> struct(e.day AS day, e.n AS n,
           |  aggregate(
           |    filter(_ix, x -> x.i >= e.i - ${window - 1} AND x.i <= e.i),
           |    cast(0.0 AS double),
           |    (a, x) -> a + cast(x.n AS double) /
           |      cast(shiftleft(cast(1 AS bigint), e.i - x.i + 1) AS double))
           |  AS trend))""".stripMargin)).as("_e"))
      .select(col(keyCol), col("_e.day").as("day"),
        col("_e.n").as("n"), col("_e.trend").as("trend"))
  }

  /** EWMA control chart over per-key daily counts — [[decayTrend]]'s
    * anomaly-gate tense: each day is compared against the EWMA of the
    * days BEFORE it (`ewma_prev`, a λ=1/2 decayed MEAN: ratio of the
    * decayed count sum to the decayed weight sum, both exact
    * power-of-two folds in day order — [[decayTrend]]'s shift
    * discipline, so no libm `pow` noise enters the weights), and
    * flagged when it sits more than `sigmas` series standard
    * deviations away. σ per key comes from exact integer Σn/Σn² over
    * the key's whole daily series; a key with < 2 observed days (or
    * zero variance) never flags — a constant series deviating from
    * itself is a data bug, not an anomaly.
    *
    * Output: (key, day, n, ewma_prev, z, flagged); the first day per
    * key emits null ewma_prev/z (nothing to compare against).
    *
    * Scale posture: identical to [[decayTrend]] — one hash agg to
    * daily counts, then a per-key fold whose state is the key's
    * OBSERVED-day series (span-bounded), window-function-free.
    */
  def ewmaChart(df: DataFrame, keyCol: String, tsCol: String,
                window: Int = 32, sigmas: Double = 3.0): DataFrame = {
    require(window >= 1 && window <= 62, "shift exponent must fit a long")
    require(sigmas > 0.0, "sigmas must be positive")
    val daily = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val perKey = daily.groupBy(keyCol)
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("_arr"),
        count(lit(1)).as("_d"), sum(col("n")).as("_sn"),
        sum(col("n") * col("n")).as("_sn2"))
      .withColumn("_ix", expr(
        "transform(_arr, (x, i) -> struct(i AS i, x.day AS day, x.n AS n))"))
      // population σ of the key's daily series from exact integer sums
      .withColumn("_sigma", when(col("_d") >= 2,
        sqrt(greatest(col("_sn2").cast("double") / col("_d").cast("double") -
          (col("_sn").cast("double") / col("_d").cast("double")) *
            (col("_sn").cast("double") / col("_d").cast("double")),
          lit(0.0)))))
    perKey
      .select(col(keyCol), col("_sigma"), explode(expr(
        s"""transform(_ix, e -> struct(e.day AS day, e.n AS n,
           |  CASE WHEN e.i = 0 THEN cast(null AS double) ELSE
           |    aggregate(
           |      filter(_ix, x -> x.i >= e.i - $window AND x.i <= e.i - 1),
           |      cast(0.0 AS double),
           |      (a, x) -> a + cast(x.n AS double) /
           |        cast(shiftleft(cast(1 AS bigint), e.i - x.i) AS double))
           |    /
           |    aggregate(
           |      filter(_ix, x -> x.i >= e.i - $window AND x.i <= e.i - 1),
           |      cast(0.0 AS double),
           |      (a, x) -> a + cast(1.0 AS double) /
           |        cast(shiftleft(cast(1 AS bigint), e.i - x.i) AS double))
           |  END AS prev))""".stripMargin)).as("_e"))
      .select(col(keyCol), col("_e.day").as("day"), col("_e.n").as("n"),
        round(col("_e.prev"), 6).as("ewma_prev"),
        round(when(col("_sigma") > 0.0,
          (col("_e.n").cast("double") - col("_e.prev")) / col("_sigma")), 6)
          .as("z"),
        coalesce(abs(when(col("_sigma") > 0.0,
          (col("_e.n").cast("double") - col("_e.prev")) / col("_sigma")))
          > sigmas, lit(false)).as("flagged"))
  }

  /** Inter-event-time regularity per actor — the classic bot/scripted
    * -traffic signal: humans arrive with bursty, high-variance gaps;
    * schedulers and replay scripts tick with machine-regular ones. Per
    * actor the squared coefficient of variation `cv² = var/mean²` of
    * consecutive floor-second gaps; `cv² ≈ 1` is memoryless (Poisson)
    * arrival, `cv² → 0` is a metronome. Flag `bot_like` when the mean
    * gap is 0 (a same-second burst dump) or cv² < 0.09 (gap σ under
    * 30% of the mean).
    *
    * Determinism: gap sums are over the multiset of differences of the
    * per-actor SORTED timestamp multiset — tie order between equal
    * timestamps cannot change it — and n/Σg/Σg² are exact BIGINTs
    * (floor-second gaps: Σg² clears ANSI far beyond calendar spans),
    * so mean/var/cv² are one fixed double tree, raw-parity. Near-zero
    * variance can cancel to ±1 ulp in that tree; the 0.09 flag cut is
    * robust to it and both engines compute the identical double.
    *
    * Scale posture: one lag window per actor (the only data-sized
    * shuffle, skew-bounded by events-per-actor) into a per-actor agg.
    * Output: (actor, n_events, mean_gap_s, cv2, bot_like) for actors
    * with ≥ `minEvents` events.
    */
  def interEventRegularity(df: DataFrame, actorCol: String, tsCol: String,
                           minEvents: Int = 5): DataFrame = {
    require(minEvents >= 3, "cv needs at least 2 gaps")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_a").orderBy("_s")
    val gaps = df.filter(col(actorCol).isNotNull && col(tsCol).isNotNull)
      .select(col(actorCol).as("_a"), unix_timestamp(col(tsCol)).as("_s"))
      .withColumn("_g", col("_s") - lag(col("_s"), 1).over(w))
    val agg = gaps.groupBy("_a")
      .agg(count(lit(1)).as("n_events"),
        sum(col("_g")).cast("long").as("_sg"),
        sum(col("_g") * col("_g")).cast("long").as("_sg2"),
        count(col("_g")).as("_ng"))
      .filter(col("n_events") >= minEvents)
    val mean = col("_sg").cast("double") / col("_ng").cast("double")
    val variance = (col("_sg2").cast("double") -
      col("_sg").cast("double") * col("_sg").cast("double") /
        col("_ng").cast("double")) / (col("_ng") - 1).cast("double")
    agg.select(col("_a").as(actorCol), col("n_events"),
        mean.as("mean_gap_s"),
        when(col("_sg") === 0, lit(null).cast("double"))
          .otherwise(variance / (mean * mean)).as("cv2"))
      .withColumn("bot_like",
        col("cv2").isNull || col("cv2") < 0.09)
  }

  /** CUSUM drift per series over daily counts — the change-point
    * screen: how far does the cumulative deviation from the series'
    * own mean run before correcting? A level shift (deploy, outage,
    * bot onset) shows as a long one-sided excursion; stationary noise
    * self-cancels. The classic recursion s_j = max(0, s_{j-1} +
    * (x_j − mean)) is computed WITHOUT a recursive fold via the
    * prefix identity `s_j = P_j − min(0, min_{i≤j} P_i)` with
    * P_j = Σ_{i≤j} (n·x_i − Σx) — scaling by n avoids the rational
    * mean, so every P_j is an exact BIGINT and the argmax day is an
    * exact comparison: engine-bit-identical with two windows, no
    * iteration. (ANSI bound: |P| ≤ n·Σx ≲ 9e18 ⇒ Σx ≲ 2.5e16 daily
    * events per series at a 365-day window — far past any real log.)
    *
    * Output per series: (series, n_days, drift_scaled = max_j s_j in
    * n·count units, drift_day = first day attaining it). drift_scaled
    * = 0 means the series never runs above its mean cumulatively.
    *
    * Scale posture: one (series, day) agg collapses the log; both
    * windows and the rank run on |series|·|days| rows (≤ 365·|series|
    * — bounded by calendar, not by data).
    */
  def cusumDrift(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
    val tot = daily.groupBy("_g")
      .agg(count(lit(1)).as("_nd"), sum(col("_x")).cast("long").as("_sx"))
    val w = Window.partitionBy("_g").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val drift = daily.join(tot, Seq("_g"))
      .withColumn("_p", sum(col("_nd") * col("_x") - col("_sx")).over(w))
      .withColumn("_drift", col("_p") - least(min(col("_p")).over(w), lit(0L)))
    val pick = Window.partitionBy("_g").orderBy(col("_drift").desc, col("day"))
    drift.withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") === 1)
      .select(col("_g").as(seriesCol), col("_nd").as("n_days"),
        col("_drift").cast("long").as("drift_scaled"), col("day").as("drift_day"))
  }

  /** Day-of-week traffic profile per series — the first seasonality
    * question every ops dashboard answers (is the dip a weekend or an
    * incident?). Exact integers end to end: per-(series, dow) counts,
    * share in ppm by integer division, and the peak day flagged by an
    * exact (count, dow) comparison. `dow` is 0=Sunday..6=Saturday
    * (Spark's 1-based `dayofweek` shifted down — the oracle engine's
    * native numbering). One (series, dow) agg collapses the log to
    * ≤ 7·|series| rows; the share/peak math runs on that frame.
    */
  def weekdayProfile(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val byDow = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"),
        (dayofweek(col(tsCol)) - 1).cast("int").as("dow"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("_g")
    byDow
      .withColumn("_tot", sum(col("n_events")).over(w))
      .withColumn("_peak", max(struct(col("n_events"), col("dow"))).over(w))
      .select(col("_g").as(seriesCol), col("dow"), col("n_events"),
        expr("n_events * 1000000L div _tot").as("share_ppm"),
        (col("_peak.n_events") === col("n_events") &&
         col("_peak.dow") === col("dow")).as("is_peak_dow"))
  }

  /** Mann–Kendall trend test per series: S = Σ_{i<j} sgn(x_j − x_i)
    * over daily counts — the nonparametric "is there a monotone
    * trend" answer that is immune to the outliers and level spikes
    * that wreck an OLS slope; the significance sibling of
    * [[changepoint]] (which locates a shift, not a direction). S, the
    * tie-corrected variance 18·V = n(n−1)(2n+5) − Σt(t−1)(2t+5), and
    * the continuity correction are ALL exact integers; z is one fixed
    * tree over them — raw double parity. |S| ≤ 1 (or V ≤ 0) masks z
    * to NULL.  Output: (series, n_days, s_stat, z).
    *
    * Scale posture: the pair join runs on the (series,day)-collapsed
    * frame — cost is DAYS² per series (365² ≈ 66k pairs/series/year),
    * independent of event volume; the frame is cached because three
    * branches (pair sides + tie groups) would otherwise re-derive the
    * events scan.
    */
  def mannKendall(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    // staged, not cached: materializes the ≤365·|series| frame once for
    // the three consumers below WITHOUT pinning blocks for the session
    // lifetime (the un-freeable-cache leak class Checkpoints documents)
    val daily = Checkpoints.stage(df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x")))
    val a = daily.select(col("_g"), col("day").as("_d1"), col("_x").as("_x1"))
    val b = daily.select(col("_g"), col("day").as("_d2"), col("_x").as("_x2"))
    val s = a.join(b, Seq("_g")).filter(col("_d1") < col("_d2"))
      .groupBy("_g")
      .agg(sum(signum(col("_x2") - col("_x1")).cast("long")).cast("long")
        .as("s_stat"))
    val ties = daily.groupBy("_g", "_x").agg(count(lit(1)).as("_t"))
      .groupBy("_g")
      .agg(sum(col("_t")).cast("long").as("n_days"),
        sum(col("_t") * (col("_t") - 1) * (col("_t") * 2 + 5)).cast("long")
          .as("_corr"))
    val n = col("n_days")
    val var18 = n * (n - 1) * (n * 2 + 5) - col("_corr")
    val sigma = sqrt(var18.cast("double") / lit(18.0))
    ties.join(s, Seq("_g"))
      .select(col("_g").as(seriesCol), col("n_days"), col("s_stat"),
        when(abs(col("s_stat")) <= 1 || var18 <= 0, lit(null).cast("double"))
          .otherwise(
            (col("s_stat").cast("double") - signum(col("s_stat").cast("double")))
              / sigma)
          .as("z"))
  }

  /** Theil–Sen trend estimate per series: the MEDIAN of all pairwise
    * slopes of the daily count series — the robust companion to
    * [[mannKendall]] (MK says WHETHER a monotone trend exists; Theil–Sen
    * says HOW STEEP, with a 29% breakdown point where least squares has
    * 0). Slopes are integerized per pair before the median —
    * `floor(1e6 · Δcount / Δdays)` with both operands exact integers
    * through an exact-double division (|Δcount·1e6| ≤ 2^53 for any
    * daily-count series this runs on), so the slope set is BIGINT and
    * the median is engine-exact: middle element for odd counts, the
    * floor-average `(lo + hi) div 2`-via-`floor((lo+hi)/2.0)` of the
    * two middles for even (documented tie convention; the sum is exact
    * in a double at these magnitudes).
    *
    * Scale posture: the pairwise join runs on the (series, day)
    * COLLAPSED frame (≤365·|series| rows, staged once — the
    * [[mannKendall]] discipline), never on events; the per-series
    * median sorts the ≤days²/2 slope array inside one agg.
    * Output: (series, n_days, n_pairs, slope_ppm).
    */
  def theilSen(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val daily = Checkpoints.stage(df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x")))
    val a = daily.select(col("_g"), col("day").as("_d1"), col("_x").as("_x1"))
    val b = daily.select(col("_g"), col("day").as("_d2"), col("_x").as("_x2"))
    val slope = floor(
      (col("_x2") - col("_x1")).cast("double") * lit(1000000.0) /
        datediff(col("_d2"), col("_d1")).cast("double")).cast("long")
    val slopes = a.join(b, Seq("_g")).filter(col("_d1") < col("_d2"))
      .select(col("_g"), slope.as("_s"))
      .groupBy("_g")
      .agg(sort_array(collect_list(col("_s"))).as("_ss"),
        count(lit(1)).as("n_pairs"))
    val nDays = daily.groupBy("_g").agg(count(lit(1)).as("n_days"))
    val n = col("n_pairs")
    val lo = element_at(col("_ss"), ((n + 1L) / 2L).cast("int"))
    val hi = element_at(col("_ss"), ((n + 2L) / 2L).cast("int"))
    nDays.join(slopes, Seq("_g"))
      .select(col("_g").as(seriesCol), col("n_days"), col("n_pairs"),
        floor((lo + hi).cast("double") / lit(2.0)).cast("long").as("slope_ppm"))
  }

  /** Seasonal-naive vs naive forecast-error ratio per series: MAE of
    * the "same weekday last week" forecast over MAE of the "same as
    * yesterday" forecast, on daily counts. Ratio < 1 means weekly
    * structure genuinely predicts (use seasonal baselines downstream);
    * ≥ 1 means the weekly pattern adds nothing a lag-1 copy doesn't.
    * Row lags over the observed-day sequence (assumes near-complete
    * series — run gap-fill first if days can be missing). Absolute
    * differences and counts are exact integers; the two MAEs and
    * their ratio are a fixed tree of exact-operand divisions — raw
    * double parity. Output: (series, n_days, mae_naive,
    * mae_seasonal, mase).
    *
    * Scale posture: two lags over the (series,day)-collapsed frame.
    */
  def seasonalNaiveError(df: DataFrame, seriesCol: String,
                         tsCol: String): DataFrame = {
    val w = Window.partitionBy("_g").orderBy("day")
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
      .withColumn("_l1", lag(col("_x"), 1).over(w))
      .withColumn("_l7", lag(col("_x"), 7).over(w))
    daily.groupBy("_g")
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(abs(col("_x") - col("_l1"))).cast("long").as("_sn"),
        count(col("_l1")).cast("long").as("_n1"),
        sum(abs(col("_x") - col("_l7"))).cast("long").as("_s7"),
        count(col("_l7")).cast("long").as("_n7"))
      .select(col("_g").as(seriesCol), col("n_days"),
        when(col("_n1") === 0, lit(null).cast("double"))
          .otherwise(col("_sn").cast("double") / col("_n1").cast("double"))
          .as("mae_naive"),
        when(col("_n7") === 0, lit(null).cast("double"))
          .otherwise(col("_s7").cast("double") / col("_n7").cast("double"))
          .as("mae_seasonal"),
        when(col("_n1") === 0 || col("_n7") === 0 || col("_sn") === 0,
          lit(null).cast("double"))
          .otherwise((col("_s7").cast("double") / col("_n7").cast("double"))
            / (col("_sn").cast("double") / col("_n1").cast("double")))
          .as("mase"))
  }

  /** Weekday-conditioned daily anomalies: days whose count deviates
    * from THEIR OWN weekday's mean by more than 3 of that weekday's
    * sample standard deviations — the seasonal-aware counterpart of a
    * raw daily z-score, which flags every ordinary Saturday on a
    * weekday-heavy series. The 3σ test is the ALL-INTEGER cross-
    * multiplication (n_d·x − S_d)²·(n_d−1) > 9·R_d (both sides
    * DECIMAL-exact, R_d = Σ(n_d·x−S_d)² within the weekday), so no
    * float threshold exists to disagree across engines; weekdays with
    * fewer than 3 observed days never flag (no variance estimate).
    * EVERY day is emitted with its flag and score — not just the
    * flagged ones — so the oracle gate exercises the test on every
    * row even when a fixture contains no anomalies at all.
    * Output: (series, day, dow, n_events, n_dow_days, dow_mean,
    * score, is_anomaly); score = LHS/RHS of the test (NULL when the
    * weekday has zero variance).
    *
    * Scale posture: the (series,day) agg collapses the log; both
    * weekday windows run on the collapsed frame, single lineage.
    */
  def dowAnomalies(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("int"))
    val wgd = Window.partitionBy("_g", "dow")
    val scored = daily
      .withColumn("_nd", count(lit(1)).over(wgd))
      .withColumn("_sd", sum(col("_x")).over(wgd).cast("long"))
      .withColumn("_ud", (col("_nd") * col("_x") - col("_sd"))
        .cast("decimal(19,0)"))
      .withColumn("_rd", sum(col("_ud") * col("_ud")).over(wgd))
      .withColumn("_lhs", col("_ud") * col("_ud") * (col("_nd") - 1))
      .withColumn("_rhs", col("_rd") * 9)
    scored
      .select(col("_g").as(seriesCol), col("day"), col("dow"),
        col("_x").cast("long").as("n_events"),
        col("_nd").cast("long").as("n_dow_days"),
        (col("_sd").cast("double") / col("_nd").cast("double")).as("dow_mean"),
        when(col("_rhs") === 0, lit(null).cast("double"))
          .otherwise(col("_lhs").cast("double") / col("_rhs").cast("double"))
          .as("score"),
        (col("_nd") >= 3 && col("_lhs") > col("_rhs")).as("is_anomaly"))
  }

  /** Wald–Wolfowitz runs test on the above/below-median sign sequence
    * of daily counts — "is the series random around its level, or do
    * highs clump?" A significant negative z (too few runs) means
    * regime persistence that IID-based alerting will misread; the
    * nonparametric companion to [[lag1Autocorr]]. The median is the
    * all-integer nearest-rank `2·cnt_le ≥ n` rule via a RANGE window
    * (ties included), median-equal days are dropped (classic test),
    * and R, n₁, n₂ are exact counts feeding one fixed z tree — the
    * variance numerator multiplies in DECIMAL (2n₁n₂·(2n₁n₂−n) can
    * pass 9.2e18), everything else stays long. Raw double parity.
    * Degenerate splits (either side empty, or 2n₁n₂ ≤ n₁+n₂ ⇒ V=0)
    * mask z to NULL. Output: (series, median_x, n_above, n_below,
    * runs, z).
    *
    * Scale posture: all windows run on the collapsed (series,day)
    * frame; single lineage (the median is a second window, not a
    * join-back).
    */
  def runsTest(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
    val wg = Window.partitionBy("_g")
    val wRange = Window.partitionBy("_g").orderBy("_x")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val signed = daily
      .withColumn("_n", count(lit(1)).over(wg))
      .withColumn("_le", count(lit(1)).over(wRange))
      .withColumn("_med", min(when(col("_le") * 2 >= col("_n"), col("_x")))
        .over(wg))
      .filter(col("_x") =!= col("_med"))
      .withColumn("_sign", (col("_x") > col("_med")).cast("int"))
      .withColumn("_prev", lag(col("_sign"), 1).over(
        Window.partitionBy("_g").orderBy("day")))
    val agg = signed.groupBy("_g")
      .agg(first(col("_med")).cast("long").as("median_x"),
        sum(col("_sign")).cast("long").as("n_above"),
        sum(lit(1) - col("_sign")).cast("long").as("n_below"),
        (sum(when(col("_prev").isNotNull && col("_prev") =!= col("_sign"), 1L)
          .otherwise(0L)) + 1).cast("long").as("runs"))
    val n1 = col("n_above"); val n2 = col("n_below")
    val twoN = n1 * n2 * 2
    val tot = n1 + n2
    val e = lit(1.0) + twoN.cast("double") / tot.cast("double")
    val vNum = (twoN.cast("decimal(19,0)") * (twoN - tot).cast("decimal(19,0)"))
    val vDen = tot * tot * (tot - 1)
    agg.select(col("_g").as(seriesCol), col("median_x"), n1, n2, col("runs"),
      when(n1 === 0 || n2 === 0 || twoN <= tot, lit(null).cast("double"))
        .otherwise((col("runs").cast("double") - e) /
          sqrt(vNum.cast("double") / vDen.cast("double")))
        .as("z"))
  }

  /** Single change-point detection per series: the day boundary that
    * maximizes the between-segment sum of squares of daily counts —
    * binary segmentation's first (and usually decisive) split,
    * locating WHERE the level shifted, where [[cusumDrift]] only says
    * THAT it drifted. For a split after the k-th of n days with
    * prefix sum S_k (total S), the score maximized is
    * (n·S_k − k·S)²/(k·(n−k)) — the between-SS up to a constant.
    * The numerator is DECIMAL-exact; the score is one division of
    * exact operands (identical doubles cross-engine), and the argmax
    * rides a lexicographic struct max with the day as tiebreak, so
    * ties break deterministically to the LATEST day. Means before and
    * after the split are raw-parity divisions of exact ints.
    * Output: (series, n_days, split_day, n_before, mean_before,
    * mean_after, score) — split_day is the LAST day of the left
    * segment; single-day series mask to NULL rows are omitted (n < 2
    * leaves no candidate split).
    *
    * Scale posture: the (series,day) agg collapses the log; prefix
    * sums and the argmax run on the ≤365·|series| daily frame.
    */
  def changepoint(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
    val wg = Window.partitionBy("_g")
    val wk = Window.partitionBy("_g").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("_n", count(lit(1)).over(wg))
      .withColumn("_s", sum(col("_x")).over(wg).cast("long"))
      .withColumn("_k", count(lit(1)).over(wk))
      .withColumn("_sk", sum(col("_x")).over(wk).cast("long"))
      .filter(col("_k") < col("_n"))
      .withColumn("_num",
        (col("_n") * col("_sk") - col("_k") * col("_s")).cast("decimal(19,0)"))
      .withColumn("_score", (col("_num") * col("_num")).cast("double") /
        (col("_k") * (col("_n") - col("_k"))).cast("double"))
    scored
      .groupBy("_g")
      .agg(first(col("_n")).cast("long").as("n_days"),
        first(col("_s")).as("_sg"),
        max(struct(col("_score"), col("day"), col("_k"), col("_sk")))
          .as("_best"))
      .select(col("_g").as(seriesCol), col("n_days"),
        col("_best.day").as("split_day"),
        col("_best._k").cast("long").as("n_before"),
        (col("_best._sk").cast("double") / col("_best._k").cast("double"))
          .as("mean_before"),
        ((col("_sg") - col("_best._sk")).cast("double") /
          (col("n_days") - col("_best._k")).cast("double")).as("mean_after"),
        col("_best._score").as("score"))
  }

  /** Index of dispersion (Fano factor) of daily counts per series:
    * Var/mean — 1 under Poisson arrivals, ≫1 for bursty/clumped
    * traffic, ≪1 for rate-limited/scripted flows. The one-number
    * companion to [[lag1Autocorr]] (memory) and [[seasonalStrength]]
    * (structure): dispersion says whether volume even IS Poisson-like
    * before anomaly thresholds assume it. With S=Σx over n days and
    * T=Σ(n·x−S)² (DECIMAL-exact), sample Var/mean = T/(n·(n−1)·S) —
    * one division of exact operands, raw double parity; constant
    * series give exactly 0.0 on both engines; n<2 masks to NULL.
    *
    * Scale posture: the (series,day) agg collapses the log; totals
    * ride one window over the collapsed frame.
    */
  def dispersion(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
    val wg = Window.partitionBy("_g")
    daily
      .withColumn("_n", count(lit(1)).over(wg))
      .withColumn("_s", sum(col("_x")).over(wg).cast("long"))
      .withColumn("_u", (col("_n") * col("_x") - col("_s")).cast("decimal(19,0)"))
      .groupBy("_g")
      .agg(first(col("_n")).cast("long").as("n_days"),
        first(col("_s")).as("_sg"),
        sum(col("_u") * col("_u")).as("_t"))
      .select(col("_g").as(seriesCol), col("n_days"),
        when(col("n_days") < 2, lit(null).cast("double"))
          .otherwise(col("_t").cast("double") /
            ((col("n_days") * (col("n_days") - 1)).cast("decimal(38,0)")
              * col("_sg")).cast("double"))
          .as("dispersion"))
  }

  /** Per-series data-freshness audit: last-event time, lag behind the
    * freshest series, and a staleness flag — the first page of any
    * ingestion runbook ("which sources stopped flowing?"). Lag is an
    * integer epoch-second difference against the global max, so a
    * clock-skewed "future" source surfaces as everyone else lagging.
    * Output: (series, n_events, max_ts, lag_s, is_stale).
    *
    * Scale posture: one map-side-combinable agg collapses the log to
    * |series| rows; the global max rides a window on that frame.
    */
  def freshness(df: DataFrame, seriesCol: String, tsCol: String,
                staleAfterS: Long = 86400L): DataFrame = {
    val per = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col(tsCol))).as("_mx"))
    per
      .withColumn("_gmx", max(col("_mx")).over(Window.partitionBy()))
      .withColumn("lag_s", expr("(_gmx - _mx) div 1000000"))
      .select(col("_g").as(seriesCol), col("n_events"),
        timestamp_micros(col("_mx")).as("max_ts"),
        col("lag_s"), (col("lag_s") > staleAfterS).as("is_stale"))
  }

  /** Day-of-week seasonal strength per series: 1 − SS_resid/SS_total
    * over daily counts, where SS_resid deviates from each weekday's own
    * mean — 1 means the weekly profile explains everything (pure
    * weekday pattern), 0 means the weekly profile explains nothing.
    * The decomposition every forecast/anomaly layer should check
    * before assuming weekday-adjusted baselines help.
    *
    * Exactness: with S=Σx over n days and S_d=Σx over the n_d days of
    * weekday d, both sums of squares scale to integers —
    * SS_total = Σ(n·x−S)²/n² and SS_resid = Σ_d R_d/n_d² with
    * R_d = Σ(n_d·x−S_d)². The numerators multiply and accumulate in
    * DECIMAL(38,0); each per-dow term is one division of exact
    * operands, folded over the ≤7-element dow-sorted array, and the
    * final 1 − (fold·n²)/T tree is stated identically in the oracle —
    * raw double parity, no rounding. Constant series (T=0) → NULL.
    * Weekday numbering is 0=Sunday ([[weekdayProfile]] convention).
    *
    * Scale posture: the (series,day) agg collapses the log; everything
    * after runs on ≤7·|series| rows.
    */
  def seasonalStrength(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val dec = "decimal(19,0)"
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("int"))
    // per-series and per-(series,dow) totals as windows over the
    // ≤365·|series| daily frame — one lineage, no joins, the events
    // scan runs exactly once
    val wg = Window.partitionBy("_g")
    val wgd = Window.partitionBy("_g", "dow")
    val u = daily
      .withColumn("_n", count(lit(1)).over(wg))
      .withColumn("_s", sum(col("_x")).over(wg).cast("long"))
      .withColumn("_nd", count(lit(1)).over(wgd))
      .withColumn("_sd", sum(col("_x")).over(wgd).cast("long"))
      .withColumn("_u", (col("_n") * col("_x") - col("_s")).cast(dec))
      .withColumn("_ud", (col("_nd") * col("_x") - col("_sd")).cast(dec))
    val cells = u.groupBy("_g", "dow")
      .agg(first(col("_nd")).as("_nd"), first(col("_n")).as("_n"),
        sum(col("_ud") * col("_ud")).as("_rd"),
        sum(col("_u") * col("_u")).as("_tpart"))
    val perG = cells.groupBy("_g")
      .agg(first(col("_n")).as("n_days"),
        countDistinct(col("dow")).as("n_dows"),
        sum(col("_tpart")).as("_t"),
        array_sort(collect_list(struct(col("dow"), col("_rd"), col("_nd"))))
          .as("_a"))
    val resid = aggregate(col("_a"), lit(0.0), (acc, s) =>
      acc + s.getField("_rd").cast("double") /
        (s.getField("_nd").cast("double") * s.getField("_nd").cast("double")))
    perG.select(col("_g").as(seriesCol), col("n_days"), col("n_dows"),
      when(col("_t") === 0, lit(null).cast("double"))
        .otherwise(lit(1.0) -
          (resid * (col("n_days").cast("double") * col("n_days").cast("double")))
            / col("_t").cast("double"))
        .as("seasonal_strength"))
  }

  /** Lag-1 autocorrelation of daily counts per series — the "is
    * today's volume predicted by yesterday's" number that separates
    * trending/bursty series (r₁ → 1) from memoryless ones (r₁ → 0)
    * and oscillating ones (r₁ < 0). Exact integers end to end via the
    * [[cusumDrift]] n-scaling: u_t = n·x_t − Σx is BIGINT, the lag
    * pairs come from one window, and Σu_t·u_{t+1} / Σu_t² multiply AND
    * accumulate in DECIMAL(38,0) (operands cast before the product, so
    * no LONG overflow at any daily-count regime; 38 digits cover
    * u² ≤ 1e38), so r₁ is one division of engine-identical doubles —
    * raw parity, no rounding. Constant series (all x tied) mask to
    * NULL via the discrete min=max guard.
    *
    * Scale posture: the (series, day) agg collapses the log; windows
    * run on ≤ 365·|series| rows.
    */
  def lag1Autocorr(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
    val tot = daily.groupBy("_g")
      .agg(count(lit(1)).as("_nd"), sum(col("_x")).cast("long").as("_sx"),
        min(col("_x")).as("_xmin"), max(col("_x")).as("_xmax"))
    val w = Window.partitionBy("_g").orderBy("day")
    val u = daily.join(tot, Seq("_g"))
      .withColumn("_u", col("_nd") * col("_x") - col("_sx"))
      .withColumn("_un", lead(col("_u"), 1).over(w))
    u.groupBy("_g")
      .agg(first(col("_nd")).as("n_days"),
        first(col("_xmin")).as("_xmin"), first(col("_xmax")).as("_xmax"),
        sum(col("_u").cast("decimal(19,0)") * col("_un").cast("decimal(19,0)"))
          .as("_num"),
        sum(col("_u").cast("decimal(19,0)") * col("_u").cast("decimal(19,0)"))
          .as("_den"))
      .select(col("_g").as(seriesCol), col("n_days"),
        when(col("_xmin") === col("_xmax"), lit(null).cast("double"))
          .otherwise(col("_num").cast("double") / col("_den").cast("double"))
          .as("r1"))
  }

  /** Autocorrelation profile at lags 1..maxLag per series — the
    * seasonality diagnostic [[lag1Autocorr]] is the first point of
    * (lag 7 on daily data IS the weekly-cycle detector; a spike at 7
    * with decay elsewhere says "day-of-week effect", flat says "no
    * calendar structure" — which decides whether [[dowAnomalies]] or
    * plain [[dailyAnomalies]] is the right monitor).
    *
    * Same exact-integer spine as lag1Autocorr: center as u = n·x − Σx
    * (integer), numerators Σ u·u₊ℓ and denominator Σu² as exact
    * decimals, one double division per (series, lag). All maxLag lead
    * columns share ONE window sort; the per-series frame unpivots via
    * explode (never unionAll — the single-lineage discipline). Lags ≥
    * the series length emit NULL r (empty numerator), constant series
    * mask entirely. Output: (series, n_days, lag, r).
    */
  def acfProfile(df: DataFrame, seriesCol: String, tsCol: String,
                 maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30, "1 <= maxLag <= 30")
    val daily = df.filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("_g"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
    val tot = daily.groupBy("_g")
      .agg(count(lit(1)).as("_nd"), sum(col("_x")).cast("long").as("_sx"),
        min(col("_x")).as("_xmin"), max(col("_x")).as("_xmax"))
    val w = Window.partitionBy("_g").orderBy("day")
    val base = daily.join(tot, Seq("_g"))
      .withColumn("_u", col("_nd") * col("_x") - col("_sx"))
    val withLeads = (1 to maxLag).foldLeft(base) { (d, l) =>
      d.withColumn(s"_un$l", lead(col("_u"), l).over(w))
    }
    val aggs = Seq(
      first(col("_nd")).as("n_days"),
      first(col("_xmin")).as("_xmin"), first(col("_xmax")).as("_xmax"),
      sum(col("_u").cast("decimal(19,0)") * col("_u").cast("decimal(19,0)"))
        .as("_den")) ++
      (1 to maxLag).map(l =>
        sum(col("_u").cast("decimal(19,0)") *
          col(s"_un$l").cast("decimal(19,0)")).as(s"_num$l"))
    val per = withLeads.groupBy("_g").agg(aggs.head, aggs.tail: _*)
    per.select(col("_g"), col("n_days"), col("_xmin"), col("_xmax"),
        col("_den"),
        explode(array((1 to maxLag).map(l =>
          struct(lit(l.toLong).as("_l"), col(s"_num$l").as("_n"))): _*))
          .as("_s"))
      .select(col("_g").as(seriesCol), col("n_days"),
        col("_s").getField("_l").as("lag"),
        when(col("_xmin") === col("_xmax") ||
            col("_s").getField("_n").isNull, lit(null).cast("double"))
          .otherwise(col("_s").getField("_n").cast("double") /
            col("_den").cast("double")).as("r"))
  }

  /** Dominant-period detection per series: the lag (1..`maxLag`) whose
    * autocorrelation peaks — the seasonality detector that turns
    * [[acfProfile]]'s full profile into one actionable number per
    * series ("this metric cycles weekly: lag 7"). A peak below
    * `minR` means no meaningful cycle at the probed lags and reports a
    * NULL lag — an ACF argmax alone would name a "period" for white
    * noise.
    *
    * Determinism: the ACF values are the exact-integer-derived doubles
    * of [[acfProfile]] (identical division trees on both engines), and
    * the argmax is a row_number over (r DESC NULLS LAST, lag ASC) — the
    * tie rule is part of the contract. Output: one row per series
    * (series, n_days, dominant_lag, r_peak).
    *
    * Scale posture: inherits acfProfile's shape (data collapses to a
    * per-(series, day) frame before any window); the argmax adds one
    * window over the ≤ |series|·maxLag ACF frame.
    */
  def dominantPeriod(df: DataFrame, seriesCol: String, tsCol: String,
                     maxLag: Int = 14, minR: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val acf = acfProfile(df, seriesCol, tsCol, maxLag)
    val w = Window.partitionBy(seriesCol)
      .orderBy(col("r").desc_nulls_last, col("lag"))
    acf.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(seriesCol), col("n_days"),
        when(col("r").isNull || col("r") < minR,
          lit(null).cast("long")).otherwise(col("lag")).as("dominant_lag"),
        when(col("r").isNull, lit(null).cast("double"))
          .otherwise(round(col("r"), 6)).as("r_peak"))
  }

  /** Partial autocorrelation at lag 2, closed form from the Yule–Walker
    * equations: φ₂₂ = (r₂ − r₁²)/(1 − r₁²) — the AR-order diagnostic
    * that separates "yesterday echoes through" (r₂ ≈ r₁², φ₂₂ ≈ 0 →
    * AR(1) suffices) from genuine second-order structure. No
    * Durbin–Levinson recursion needed at lag 2; both r's come from the
    * [[acfProfile]] centered-integer machinery, the closed form is one
    * double tree. |r₁| = 1 (the degenerate two-point series) masks to
    * NULL. Output: (series, n_days, r1, r2, pacf2).
    */
  def pacfLag2(df: DataFrame, seriesCol: String, tsCol: String): DataFrame = {
    val acf = acfProfile(df, seriesCol, tsCol, maxLag = 2)
    val wide = acf.groupBy(col(seriesCol))
      .agg(first(col("n_days")).as("n_days"),
        max(when(col("lag") === 1, col("r"))).as("r1"),
        max(when(col("lag") === 2, col("r"))).as("r2"))
    val deg = col("r1").isNull || col("r2").isNull ||
      col("r1") * col("r1") === lit(1.0)
    wide.select(col(seriesCol), col("n_days"), col("r1"), col("r2"),
      when(deg, lit(null).cast("double"))
        .otherwise(round((col("r2") - col("r1") * col("r1")) /
          (lit(1.0) - col("r1") * col("r1")), 6)).as("pacf2"))
  }

  /** Granger-style lag-1 predictive test over two daily event series:
    * does yesterday's X count improve the prediction of today's Y
    * count beyond yesterday's Y alone? The standard "does clicks lead
    * purchases?" diagnostic — compare the restricted AR(1) fit
    * (y_t ~ y_{t−1}) against the full fit (y_t ~ y_{t−1} + x_{t−1})
    * with the nested-model F:
    *
    *   F = (RSS₀ − RSS₁) / (RSS₁ / (m − 3))
    *
    * Both OLS fits are CLOSED FORM from ten exact integer sums (counts
    * and their products over the |days|-row lagged frame): centered
    * normal equations, 2×2 determinant, no iteration. Lag is
    * previous-OBSERVED-day (row lag on the daily frame — gap semantics
    * are the caller's resample choice, [[gapFill]] upstream if needed).
    * Degenerates (m<4, constant y-lag, singular determinant,
    * non-positive RSS₁ — all decided on the same doubles both engines
    * derive from the exact sums) mask to NULL. Output: ONE row
    * (m, b_lag, c_cross, f_stat, df1, df2).
    */
  def grangerLag(df: DataFrame, tsCol: String, yCond: Column,
                 xCond: Column): DataFrame = {
    val daily = df.filter(col(tsCol).isNotNull)
      .groupBy(date_trunc("day", col(tsCol)).as("_day"))
      .agg(sum(when(yCond, 1L).otherwise(0L)).cast("long").as("_y"),
        sum(when(xCond, 1L).otherwise(0L)).cast("long").as("_x"))
    val w = Window.orderBy("_day")
    val lagged = daily
      .withColumn("_u", lag(col("_y"), 1).over(w))
      .withColumn("_v", lag(col("_x"), 1).over(w))
      .filter(col("_u").isNotNull && col("_v").isNotNull)
    val agg0 = lagged.agg(
      count(lit(1)).as("m"),
      sum(col("_y").cast("decimal(38,0)")).as("_sy"),
      sum(col("_u").cast("decimal(38,0)")).as("_su"),
      sum(col("_v").cast("decimal(38,0)")).as("_sv"),
      sum((col("_y") * col("_y")).cast("decimal(38,0)")).as("_syy"),
      sum((col("_u") * col("_u")).cast("decimal(38,0)")).as("_suu"),
      sum((col("_v") * col("_v")).cast("decimal(38,0)")).as("_svv"),
      sum((col("_u") * col("_v")).cast("decimal(38,0)")).as("_suv"),
      sum((col("_u") * col("_y")).cast("decimal(38,0)")).as("_suy"),
      sum((col("_v") * col("_y")).cast("decimal(38,0)")).as("_svy"))
    val mD = col("m").cast("double")
    def d(c: String) = col(c).cast("double")
    val a11 = d("_suu") - d("_su") * d("_su") / mD
    val a22 = d("_svv") - d("_sv") * d("_sv") / mD
    val a12 = d("_suv") - d("_su") * d("_sv") / mD
    val b1 = d("_suy") - d("_su") * d("_sy") / mD
    val b2 = d("_svy") - d("_sv") * d("_sy") / mD
    val syc = d("_syy") - d("_sy") * d("_sy") / mD
    val det = a11 * a22 - a12 * a12
    val bhat = (a22 * b1 - a12 * b2) / det
    val chat = (a11 * b2 - a12 * b1) / det
    val rss1 = syc - bhat * b1 - chat * b2
    val rss0 = syc - b1 * b1 / a11
    val f = (rss0 - rss1) / (rss1 / (mD - lit(3.0)))
    val deg = col("m") < 4 || a11 === lit(0.0) || det === lit(0.0) ||
      rss1 <= lit(0.0)
    def guarded(c: Column) = when(deg, lit(null).cast("double")).otherwise(c)
    agg0.select(col("m"),
      guarded(round(bhat, 6)).as("b_lag"),
      guarded(round(chat, 6)).as("c_cross"),
      guarded(round(f, 6)).as("f_stat"),
      lit(1L).as("df1"),
      (col("m") - 3).cast("long").as("df2"))
  }
}
