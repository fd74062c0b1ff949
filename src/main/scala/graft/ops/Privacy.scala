package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy audits over quasi-identifier (QI) combinations — the
  * data-governance gate a corpus passes before release or training.
  * Both audits are single hash aggregations over the QI key: they
  * scale as a groupBy on the QI columns (map-side partial agg, one
  * exchange keyed by the QI tuple) and their output is one row per QI
  * COHORT — bounded by the QI domain product, never the corpus.
  *
  * Null QI values form their own cohort (a null attribute still
  * identifies the set of rows that share it), matching SQL GROUP BY
  * semantics on both engines.
  */
object Privacy {

  /** k-anonymity audit: every QI cohort with its row count and an
    * `at_risk` flag when the cohort is smaller than `k` — rows in such
    * cohorts are re-identifiable by their quasi-identifiers alone
    * (Sweeney's criterion). The full cohort report (not just the
    * failures) is emitted so the release decision can weigh cohort
    * sizes, not only count violations.
    * Output: (qiCols..., n_rows, at_risk).
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, "k < 2 makes every cohort anonymous by definition")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("at_risk", col("n_rows") < k)
  }

  /** Laplace-noised cohort histogram — the differential-privacy-style
    * release shape: each QI cohort's count is perturbed with
    * Laplace(1/epsilon) noise (count sensitivity 1) drawn by INVERSE
    * CDF from a SEEDED md5 uniform over the cohort key, so the release
    * is bit-reproducible run to run and engine to engine (the
    * reproducible-release discipline of synthetic-data pipelines; a
    * formal DP deployment swaps the seeded uniform for a CSPRNG draw —
    * same plan, different entropy source). The uniform is
    * `(h + 0.5) / 2^52` (exact binary arithmetic, never 0 or 1); only
    * the final ln() is engine-ulp-sensitive, so the noisy count rounds
    * to 6 dp.
    * Output: (qiCols..., n_rows, noisy_count).
    */
  def noisyCounts(df: DataFrame, qiCols: Seq[String], epsilon: Double,
                  seed: Long = 7L): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(epsilon > 0.0, "epsilon must be positive")
    val key = concat_ws("\u0001",
      (qiCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))) :+
        lit(seed.toString)): _*)
    val h = conv(substring(md5(key.cast("binary")), 1, 13), 16, 10).cast("long")
    val u = (h + lit(0.5)) / lit(4503599627370496.0) // 2^52: exact division
    val lap = (lit(-1.0) / lit(epsilon)) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("noisy_count", round(col("n_rows") + lap, 6))
  }

  /** DP-style noisy SUM release with per-unit contribution clipping —
    * the mechanism half [[noisyCounts]] lacks: a sum's sensitivity is
    * unbounded until each unit's total contribution is clipped to
    * ±`clip`, after which Laplace(clip/ε) calibrates to the clipped
    * sensitivity (the DP-SQL aggregation-release primitive).
    *
    * Per-unit totals are exact longs, the clip is an integer
    * least/greatest, and the noise is the same md5-seeded inverse-CDF
    * Laplace as [[noisyCounts]] (derandomized — engine-reproducible by
    * design; a production release swaps the seed for entropy, same
    * plan). Output: (qiCols..., n_units, clipped_sum, noisy_sum).
    *
    * RELEASE CONTRACT: only `noisy_sum` may leave the trust boundary.
    * `clipped_sum` and `n_units` are the exact un-noised answers —
    * AUDIT columns for the pipeline operator to validate calibration;
    * publishing the full row grants zero privacy. A production release
    * selects `(qiCols..., noisy_sum)` (and, if unit counts are needed,
    * a separately-noised [[noisyCounts]] over the same cohorts).
    */
  def noisySum(df: DataFrame, qiCols: Seq[String], unitCol: String,
               value: Column, clip: Long, epsilon: Double,
               seed: Long = 7L): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(clip > 0L, "clip must be positive")
    require(epsilon > 0.0, "epsilon must be positive")
    val perUnit = df.filter(col(unitCol).isNotNull)
      .groupBy((col(unitCol).as("_u") +: qiCols.map(col)): _*)
      .agg(sum(coalesce(value, lit(0L)).cast("long")).as("_v"))
      .withColumn("_c", greatest(least(col("_v"), lit(clip)), lit(-clip)))
    val key = concat_ws("\u0001",
      (qiCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))) :+
        lit(seed.toString)): _*)
    val h = conv(substring(md5(key.cast("binary")), 1, 13), 16, 10).cast("long")
    val u = (h + lit(0.5)) / lit(4503599627370496.0)
    val lap = (lit(-clip.toDouble) / lit(epsilon)) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    perUnit.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_units"),
        sum(col("_c")).cast("long").as("clipped_sum"))
      .withColumn("noisy_sum", round(col("clipped_sum") + lap, 6))
  }

  /** DP "stability histogram" release over an UNBOUNDED category domain
    * (the third DP-SQL primitive next to [[noisyCounts]] — known-domain
    * counts — and [[noisySum]]): release per-category unit counts where
    * the domain itself is data-derived (URL domains, free-text tags,
    * n-grams), so even the PRESENCE of a category leaks. The standard
    * mechanism (Korolova et al. / Wilson et al., "Differentially
    * Private SQL"): bound each unit's contribution, add Laplace noise,
    * and suppress every category whose NOISY count falls below a
    * threshold `tau` — rare categories (possibly one user's secret)
    * never appear in the release.
    *
    * Contribution bounding (the L0 sensitivity bound): each unit votes
    * at most once per category (distinct) and for at most
    * `maxCatsPerUnit` categories — the deterministic md5-order cap, so
    * re-runs release the identical histogram. Noise is
    * Laplace(maxCatsPerUnit/ε) via the same seeded inverse-CDF tree as
    * [[noisyCounts]] (derandomized for engine parity; production swaps
    * the seed for entropy, same plan).
    *
    * RELEASE CONTRACT (the [[noisySum]] lesson): the output carries
    * ONLY (category, noisy_count) — the exact count never leaves this
    * function. The threshold compares the ROUNDED noisy count (6 dp)
    * so the ln() ulp gap between libm and the JDK cannot flip a
    * borderline suppression decision across engines.
    *
    * `releaseSalt` disambiguates REPEATED releases over evolving data
    * (r11 advice): two releases of the same category under one seed
    * draw the identical noise value, so their difference is the exact
    * count delta — folding a per-release salt (a date, a window start)
    * into the noise key restores fresh noise per release; a windowed
    * release salts with its window start. Empty (the default) preserves
    * the single-release key.
    *
    * Scale posture: distinct + one window on the unit axis + one
    * category agg — shuffles on unit then category, both map-side
    * combinable; no driver state.
    */
  def stableHistogram(df: DataFrame, unitCol: String, catCol: String,
                      maxCatsPerUnit: Int, epsilon: Double, tau: Double,
                      seed: Long = 7L, releaseSalt: String = ""): DataFrame = {
    require(maxCatsPerUnit >= 1, "maxCatsPerUnit must be positive")
    require(epsilon > 0.0, "epsilon must be positive")
    import org.apache.spark.sql.expressions.Window
    val uc = df.filter(col(unitCol).isNotNull && col(catCol).isNotNull)
      .select(col(unitCol).cast("string").as("_u"),
        col(catCol).cast("string").as("_cat"))
      .distinct()
    val capKey = md5(concat_ws("\u0001", col("_u"), col("_cat"),
      lit(seed.toString)).cast("binary"))
    val w = Window.partitionBy("_u").orderBy(capKey, col("_cat"))
    val capped = uc.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxCatsPerUnit)
    val counts = capped.groupBy("_cat").agg(count(lit(1)).as("_n"))
    val saltCols = if (releaseSalt.isEmpty) Seq.empty else Seq(lit(releaseSalt))
    val nKey = concat_ws("\u0001",
      (Seq(col("_cat"), lit(seed.toString)) ++ saltCols): _*)
    val h = conv(substring(md5(nKey.cast("binary")), 1, 13), 16, 10).cast("long")
    val u = (h + lit(0.5)) / lit(4503599627370496.0)
    val lap = (lit(-maxCatsPerUnit.toDouble) / lit(epsilon)) *
      signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    counts.withColumn("noisy_count", round(col("_n") + lap, 6))
      .filter(col("noisy_count") >= tau)
      .select(col("_cat").as(catCol), col("noisy_count"))
  }

  /** l-diversity audit: k-anonymity's complement against ATTRIBUTE
    * disclosure — a cohort whose sensitive attribute takes fewer than
    * `l` distinct values leaks that attribute even when the cohort is
    * large (everyone in it shares the secret). Distinct counts ignore
    * null sensitive values (a null discloses nothing).
    * Output: (qiCols..., n_rows, n_sensitive, at_risk).
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 l: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, "l < 2 makes every cohort diverse by definition")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) for an
    * ORDERED categorical sensitive attribute: a cohort leaks even when
    * large and diverse if its sensitive-value DISTRIBUTION strays from
    * the corpus-wide one (the classic "this ward is 90% one diagnosis"
    * failure that k-anonymity and l-diversity both pass). Distance is
    * the earth-mover's distance over the value order — for m ordered
    * values, EMD = Σ|cumulative difference| / (m−1) — computed in EXACT
    * integer arithmetic on the common denominator n·N (cohort and
    * corpus sizes), emitted as integer ppm: no float divergence between
    * engines, no rounding knob.
    *
    * Plan: one value-histogram agg per side; the corpus histogram with
    * its running cumulative is an m-row frame BROADCAST onto the cohort
    * histogram (dense grid — a cohort missing a value still steps the
    * EMD), then one cumulative window + one agg per cohort. Output is
    * one row per cohort; every intermediate is bounded by
    * |cohorts| × m.
    * Output: (qiCols..., n_rows, emd_ppm, at_risk).
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 tPpm: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(tPpm >= 0 && tPpm <= 1000000L, "tPpm is an integer-ppm threshold")
    val qi = qiCols.map(col)
    val base = df.filter(col(sensitiveCol).isNotNull)
    // corpus-wide ordered histogram with running cumulative: m rows
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val global = base.groupBy(col(sensitiveCol).as("v"))
      .agg(count(lit(1)).as("_g"))
      .withColumn("g_cum", sum(col("_g")).over(wAll))
    val cohortSize = base.groupBy(qi: _*).agg(count(lit(1)).as("n_rows"))
    val cohortHist = base.groupBy(qi :+ col(sensitiveCol).as("v"): _*)
      .agg(count(lit(1)).as("_c"))
    // dense (cohort × value) grid via the broadcast m-row global frame
    val wCoh = Window.partitionBy(qi: _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val grid = cohortSize
      .join(broadcast(global.select(col("v"), col("g_cum"))))
      .join(cohortHist, qiCols :+ "v", "left")
      .withColumn("c_cum", sum(coalesce(col("_c"), lit(0L))).over(wCoh))
    // N = corpus total = last g_cum; m = value count — both from the
    // bounded global frame, carried as a 1-row broadcast
    val totals = global.agg(max(col("g_cum")).as("N"),
      count(lit(1)).as("m"))
    grid.join(broadcast(totals))
      // the m-th cumulative difference is 0 by construction, so summing
      // over ALL m values equals the textbook Σ over k < m; greatest
      // guards the degenerate single-value corpus (EMD 0 by definition)
      .groupBy((qi :+ col("n_rows")) :+ col("N") :+ col("m"): _*)
      .agg(sum(abs(col("c_cum") * col("N") - col("g_cum") * col("n_rows")))
        .as("_s"))
      .select(qi ++ Seq(col("n_rows"),
        expr("(_s * 1000000L) div (greatest(m - 1, 1L) * n_rows * N)")
          .as("emd_ppm")): _*)
      .withColumn("at_risk", col("emd_ppm") > tPpm)
  }

  /** The repo's engine-portable seeded uniform: md5 of the key,
    * first 13 hex chars as a 52-bit integer, `(h + 0.5) / 2^52` —
    * exact division, identical symbolic derivation in DuckDB.
    */
  private def seededUniform(key: Column): Column = {
    val h = conv(substring(md5(key.cast("binary")), 1, 13), 16, 10).cast("long")
    (h + lit(0.5)) / lit(4503599627370496.0)
  }

  /** k-ary randomized response (Warner 1965 generalized) — the LOCAL-DP
    * mechanism the central-DP family ([[noisyCounts]]) lacks: each row
    * reports its TRUE category with probability `pKeep` and otherwise a
    * uniform draw over the k-category domain (which may repeat the
    * truth — the standard "uniform including self" variant, so
    * P(report = truth) = pKeep + (1−pKeep)/k). The collector sees only
    * perturbed labels; the unbiased frequency estimator inverts the
    * known channel: `n̂_c = (n_obs_c − n·(1−pKeep)/k) / pKeep`.
    *
    * Both the channel and the estimator are emitted so the operator is
    * self-auditing: (category, n_true, n_obs, n_est) — at corpus scale
    * n_est ≈ n_true with O(√n) LDP noise, and a red diff between them
    * is the privacy/utility cost made measurable. The perturbation
    * coins are the seeded md5 uniforms keyed on the row id
    * (derandomized — engine-reproducible; production swaps the seed
    * for entropy, same plan).
    *
    * Scale posture: the domain frame (k rows, k = |categories|) is
    * collected into TWO bounded broadcasts (index→category and the
    * 1-row (k, n) totals); the perturbation is map-side; then ONE hash
    * agg on the reported category. The corpus never shuffles on
    * anything but the k-bounded report key.
    */
  def randomizedResponse(df: DataFrame, idCol: String, catCol: String,
                         pKeep: Double, seed: Long = 7L): DataFrame = {
    require(pKeep > 0.0 && pKeep <= 1.0, "pKeep in (0, 1]")
    val base = df.filter(col(idCol).isNotNull && col(catCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"),
        col(catCol).cast("string").as("category"))
    // k-row domain with a dense 0-based index (deterministic: sorted)
    val dom = base.select(col("category")).distinct()
      .withColumn("_j", row_number().over(Window.orderBy(col("category"))) - 1L)
    val totals = base.agg(count(lit(1)).as("_n"))
      .crossJoin(broadcast(dom.agg(count(lit(1)).as("_k"))))
    val u1 = seededUniform(concat_ws("\u0001", col("_id"), lit(seed.toString), lit("keep")))
    val u2 = seededUniform(concat_ws("\u0001", col("_id"), lit(seed.toString), lit("draw")))
    val reported = base
      .join(broadcast(dom), "category") // true category -> its index
      .crossJoin(broadcast(totals.select(col("_k"))))
      .select(when(u1 < pKeep, col("_j"))
        .otherwise(floor(u2 * col("_k").cast("double")).cast("long")).as("_rj"))
      .groupBy("_rj").agg(count(lit(1)).as("n_obs"))
    val trueCounts = base.groupBy("category").agg(count(lit(1)).as("n_true"))
    dom.join(trueCounts, Seq("category"), "left")
      .join(reported, dom("_j") === reported("_rj"), "left")
      .crossJoin(broadcast(totals))
      .select(col("category"), coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        round((coalesce(col("n_obs"), lit(0L)).cast("double") -
          col("_n").cast("double") * (lit(1.0) - pKeep) / col("_k").cast("double"))
          / lit(pKeep), 6).as("n_est"))
  }

  /** DP quantile via the exponential mechanism over a bounded-bin
    * histogram (Smith 2011's rank-utility instance): bins partition
    * `[lo, hi)` evenly, each bin scores `u(b) = −|cum(b) − q·n|` (how
    * far its upper edge's rank sits from the target rank; sensitivity
    * 1), and the released bin is the Gumbel-max draw over
    * `ε·u(b)/2 + g_b` — exactly equivalent to exponential-mechanism
    * sampling, but expressible as a deterministic argmax over the
    * bin frame. Values outside `[lo, hi)` clamp to the edge bins
    * (contribution bounding, not data loss — the textbook
    * bounded-domain requirement of the mechanism).
    *
    * The Gumbel draws ride the seeded md5 uniforms keyed on (bin,
    * seed): derandomized, engine-reproducible. Output one row:
    * (n, bin, lo_edge, hi_edge, true_bin) — `bin`'s `[lo_edge,
    * hi_edge)` is the DP release; `true_bin` (the exact-quantile bin)
    * is emitted so the utility loss is auditable at small scale and
    * dropped from real releases.
    *
    * Scale posture: one map-side clamp + hash agg to ≤`bins` rows;
    * everything after runs on the bounded bin frame (cum window +
    * argmax) — never corpus-scale.
    */
  def dpQuantile(df: DataFrame, valueCol: String, q: Double,
                 lo: Double, hi: Double, bins: Int, epsilon: Double,
                 seed: Long = 7L): DataFrame = {
    require(q > 0.0 && q < 1.0, "q in (0, 1)")
    require(hi > lo, "need hi > lo")
    require(bins >= 2, "need at least two bins")
    require(epsilon > 0.0, "epsilon must be positive")
    val width = (hi - lo) / bins
    val v = col(valueCol).cast("double")
    val bin = least(greatest(floor((v - lo) / width), lit(0L)), lit(bins - 1L))
    val counts = df.filter(v.isNotNull)
      .select(bin.as("bin")).groupBy("bin").agg(count(lit(1)).as("_c"))
    // dense bin scaffold so empty bins still compete (the mechanism's
    // domain is the bin set, not the observed bins)
    val scaffold = counts.sparkSession.range(bins).select(col("id").as("bin"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val grid = scaffold.join(counts, Seq("bin"), "left")
      .withColumn("_cum", sum(coalesce(col("_c"), lit(0L))).over(wCum))
    val totals = grid.agg(max(col("_cum")).as("n"))
    val u = seededUniform(concat_ws("\u0001", col("bin").cast("string"),
      lit(seed.toString)))
    val gumbel = -log(-log(u))
    val scored = grid.crossJoin(broadcast(totals))
      .withColumn("_u", -abs(col("_cum").cast("double") - lit(q) * col("n")))
      .withColumn("_s", lit(epsilon / 2.0) * col("_u") + gumbel)
      .withColumn("_true_u", col("_u"))
    val picked = scored.orderBy(col("_s").desc, col("bin")).limit(1)
      .select(col("n"), col("bin"))
    val trueBin = scored.orderBy(col("_true_u").desc, col("bin")).limit(1)
      .select(col("bin").as("true_bin"))
    picked.crossJoin(broadcast(trueBin))
      .select(col("n"), col("bin"),
        round(lit(lo) + col("bin") * width, 6).as("lo_edge"),
        round(lit(lo) + (col("bin") + 1) * width, 6).as("hi_edge"),
        col("true_bin"))
  }
}
