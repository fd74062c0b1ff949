package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-engine-exact statistical tests over categorical data.
  *
  * The χ² independence test is the workhorse audit for "did this
  * categorical distribution move?" — A/B assignment vs outcome,
  * source vs language mix drift between two crawl snapshots, event
  * type vs cohort. All sufficient statistics here are exact integer
  * counts; the only floating-point work is the final fold over the
  * (tiny) contingency table, done over a SORTED cell array with an
  * expression tree the DuckDB oracle states identically — the same
  * determinism discipline as `TextAnalysis.tokenDistributionShift`.
  */
object Stats {

  /** Integral view of a caller-supplied metric column, agreeing with
    * the DuckDB oracle's `CAST(x AS BIGINT)` for ANY input: Spark's
    * bare `cast("long")` TRUNCATES fractional doubles toward zero while
    * DuckDB rounds to nearest, so a fractional metric silently diverges
    * cross-engine (and mis-buckets values). `round()` is the identity
    * on integral types and HALF_UP (= DuckDB's half-away-from-zero) on
    * doubles, so both engines land on the same long. Callers SHOULD
    * still pre-round to their unit of account (e.g. cents); this guard
    * makes an un-rounded metric match the oracle instead of drifting.
    */
  private[ops] def metricLong(metric: Column): Column =
    round(metric).cast("long")

  /** Exact product of two integral columns in DECIMAL space: operands
    * widen to decimal(19,0) (every long fits) BEFORE the multiply, so
    * the product — up to 38 digits; max-long² ≈ 8.5e37 < 10³⁸ — cannot
    * wrap the way `(a * b).cast("decimal(38,0)")` silently does in
    * LongType for |a·b| > 2⁶³ (|operand| ≳ 3e9). Matches the oracles'
    * HUGEINT products bit-for-bit over the full long range.
    */
  private[ops] def decMul(a: Column, b: Column): Column =
    a.cast("decimal(19,0)") * b.cast("decimal(19,0)")

  /** Pearson χ² test of independence between two categorical columns,
    * plus Cramér's V effect size. Output is ONE row:
    * (n, n_rows_cat, n_cols_cat, dof, chi2, cramers_v).
    *
    * The contingency table includes structural ZERO cells (observed
    * pairs only would bias χ² low): the cell frame is the cross join
    * of the distinct row and column category sets — both tiny aggs —
    * left-joined against observed counts. Expected e = rt·ct/n in
    * doubles; each zero cell contributes e.
    *
    * Scale posture: two scans collapse the data to |R| and |C| rows
    * plus one (r,c) hash agg; everything after operates on ≤ |R|·|C|
    * rows (a contingency table a human would read — bounded by
    * construction). The χ² fold runs over the sorted cell array in one
    * row, so partial-sum order can never perturb the double.
    */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val r = col(rowCol); val c = col(colCol)
    val obs = df.filter(r.isNotNull && c.isNotNull)
      .select(r.as("rv"), c.as("cv"))
    val cells = obs.groupBy("rv", "cv").agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("rv").agg(sum("o").as("rt"))
    val colTot = cells.groupBy("cv").agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").as("n"))
    // full grid incl. zero cells: tiny cross join of the two category sets
    val grid = rowTot.crossJoin(colTot)
      .join(cells, Seq("rv", "cv"), "left")
      .select(col("rv"), col("cv"), coalesce(col("o"), lit(0L)).as("o"),
        col("rt"), col("ct"))
    val folded = grid
      .agg(array_sort(collect_list(struct(col("rv"), col("cv"), col("o"),
        col("rt"), col("ct")))).as("arr"),
        countDistinct("rv").as("n_rows_cat"),
        countDistinct("cv").as("n_cols_cat"))
      .crossJoin(broadcast(n))
    def e(s: Column) =
      s.getField("rt").cast("double") * s.getField("ct").cast("double") /
        col("n").cast("double")
    val chi2 = aggregate(col("arr"), lit(0.0), (a, s) => {
      val ee = e(s)
      val d = s.getField("o").cast("double") - ee
      a + d * d / ee
    })
    folded.select(
      col("n"),
      col("n_rows_cat"),
      col("n_cols_cat"),
      ((col("n_rows_cat") - 1) * (col("n_cols_cat") - 1)).as("dof"),
      round(chi2, 6).as("chi2"),
      round(sqrt(chi2 / (col("n").cast("double") *
        least(col("n_rows_cat") - 1, col("n_cols_cat") - 1).cast("double"))), 6)
        .as("cramers_v"))
  }

  /** Mutual information I(R; C) in nats between two categorical
    * columns — χ²'s information-theoretic sibling, the standard
    * dependence measure for feature selection and drift audits.
    * Only OBSERVED cells enter (lim p→0 of p·ln(...) = 0, so zero
    * cells contribute nothing — unlike [[chiSquare]], no grid needed):
    *
    *   I = Σ_cells (o/n) · ln( (o/n) / ((rt/n)·(ct/n)) )
    *
    * Same determinism discipline as [[chiSquare]]: integer sufficient
    * statistics, one sorted-cell fold for the double sum, expression
    * tree stated identically in the oracle. Output: ONE row
    * (n, n_cells, mi_nats).
    */
  def mutualInformation(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val r = col(rowCol); val c = col(colCol)
    val cells = df.filter(r.isNotNull && c.isNotNull)
      .select(r.as("rv"), c.as("cv"))
      .groupBy("rv", "cv").agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("rv").agg(sum("o").as("rt"))
    val colTot = cells.groupBy("cv").agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").as("n"))
    val folded = cells
      .join(broadcast(rowTot), Seq("rv"))
      .join(broadcast(colTot), Seq("cv"))
      .agg(array_sort(collect_list(struct(col("rv"), col("cv"), col("o"),
        col("rt"), col("ct")))).as("arr"),
        count(lit(1)).as("n_cells"))
      .crossJoin(broadcast(n))
    def p(s: Column) = s.getField("o").cast("double") / col("n").cast("double")
    val mi = aggregate(col("arr"), lit(0.0), (a, s) =>
      a + p(s) * log(p(s) /
        ((s.getField("rt").cast("double") / col("n").cast("double")) *
         (s.getField("ct").cast("double") / col("n").cast("double")))))
    folded.select(col("n"), col("n_cells"), round(mi, 6).as("mi_nats"))
  }

  /** Population Stability Index between a reference and a current
    * numeric distribution — the model-monitoring drift score
    * (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 act) a data pipeline
    * runs per feature per batch:
    *
    *   PSI = Σ_buckets (p_cur − p_ref) · ln(p_cur / p_ref)
    *
    * Buckets are FIXED equi-width on [lo, hi) with clamped edges (the
    * `Profile.histogram` discipline — explicit bounds keep this one
    * scan per side and bucket edges stable across batches); both
    * shares are Laplace-smoothed (`(n_b + 1)/(n + buckets)`) so an
    * empty bucket on either side contributes a finite, deterministic
    * term instead of ±∞.
    *
    * Determinism: counts are exact longs; the PSI fold runs over the
    * BUCKET-SORTED array (every bucket 0..buckets−1 present via the
    * full-outer grid) with an op tree the oracle states identically.
    * Output: ONE row (n_ref, n_cur, n_buckets, psi).
    *
    * Scale posture: each side collapses to ≤ `buckets` rows in one
    * map-side-combined hash agg; everything downstream operates on the
    * bucket grid.
    */
  def populationStability(ref: DataFrame, cur: DataFrame, valueCol: String,
                          lo: Double, hi: Double, buckets: Int): DataFrame = {
    require(hi > lo && buckets > 0, "need hi > lo and buckets > 0")
    val step = (hi - lo) / buckets
    def bucketed(df: DataFrame, name: String) = {
      val idx = least(greatest(floor((col(valueCol) - lit(lo)) / lit(step)), lit(0.0)),
        lit((buckets - 1).toDouble)).cast("long")
      df.filter(col(valueCol).isNotNull)
        .select(idx.as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(name))
    }
    val grid = spark(ref).range(buckets).select(col("id").as("bucket"))
      .join(bucketed(ref, "n_ref_b"), Seq("bucket"), "left")
      .join(bucketed(cur, "n_cur_b"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref_b"), lit(0L)).as("nr"),
        coalesce(col("n_cur_b"), lit(0L)).as("nc"))
    val folded = grid.agg(
      array_sort(collect_list(struct(col("bucket"), col("nr"), col("nc")))).as("arr"),
      sum("nr").as("n_ref"), sum("nc").as("n_cur"))
    def share(cnt: Column, tot: Column) =
      (cnt.cast("double") + lit(1.0)) / (tot.cast("double") + lit(buckets.toDouble))
    val psi = aggregate(col("arr"), lit(0.0), (a, s) => {
      val p = share(s.getField("nc"), col("n_cur"))
      val q = share(s.getField("nr"), col("n_ref"))
      a + (p - q) * log(p / q)
    })
    folded.select(col("n_ref"), col("n_cur"),
      lit(buckets.toLong).as("n_buckets"), round(psi, 6).as("psi"))
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** Cohen's κ inter-rater agreement between two categorical columns
    * over the same label space — the label-QA gate for human- or
    * model-annotated training data ("do the two annotation passes
    * agree beyond chance?"). κ = (p_o − p_e)/(1 − p_e) with observed
    * agreement p_o = Σ_diag o/n and chance agreement
    * p_e = Σ_c (rt_c/n)·(ct_c/n) over every category either rater
    * used.
    *
    * Determinism: all sufficient statistics are exact longs; the p_e
    * fold runs over the CATEGORY-SORTED marginal array; the final κ is
    * one closed-form double expression stated identically in the
    * oracle. Perfect-agreement degenerate case (p_e = 1) returns null
    * rather than 0/0. Output: ONE row (n, n_categories, po, pe, kappa).
    *
    * Scale posture: identical to [[chiSquare]] — the data collapses to
    * an (r1, r2) cell frame in one hash agg; marginals and the fold
    * operate on ≤ |categories|² rows.
    */
  def cohensKappa(df: DataFrame, rater1Col: String, rater2Col: String): DataFrame = {
    val r1 = col(rater1Col); val r2 = col(rater2Col)
    val cells = df.filter(r1.isNotNull && r2.isNotNull)
      .select(r1.as("a"), r2.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val m1 = cells.groupBy("a").agg(sum("o").as("rt")).withColumnRenamed("a", "cat")
    val m2 = cells.groupBy("b").agg(sum("o").as("ct")).withColumnRenamed("b", "cat")
    // union of both raters' category sets: a label only one rater ever
    // used still contributes (its partner marginal is 0)
    val marg = m1.join(m2, Seq("cat"), "full_outer")
      .select(col("cat"), coalesce(col("rt"), lit(0L)).as("rt"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    val n = cells.agg(sum("o").as("n"))
    val diag = cells.agg(sum(when(col("a") === col("b"), col("o"))
      .otherwise(lit(0L))).as("agree"))
    val folded = marg
      .agg(array_sort(collect_list(struct(col("cat"), col("rt"), col("ct")))).as("arr"),
        count(lit(1)).as("n_categories"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(diag))
    val po = col("agree").cast("double") / col("n").cast("double")
    val pe = aggregate(col("arr"), lit(0.0), (a, s) =>
      a + (s.getField("rt").cast("double") / col("n").cast("double")) *
        (s.getField("ct").cast("double") / col("n").cast("double")))
    folded.select(col("n"), col("n_categories"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      round(when(pe === lit(1.0), lit(null).cast("double"))
        .otherwise((po - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  /** χ² goodness-of-fit against a DECLARED category distribution — the
    * one-sample sibling of [[chiSquare]]'s independence test, and the
    * statistic behind the SAMPLE-RATIO-MISMATCH check every experiment
    * readout must pass first: if the randomizer promised 50/50 and the
    * arms came out 50.8/49.2 on a million units, every downstream
    * metric is suspect (SRM is the canary for broken assignment,
    * bot filtering applied per-arm, or logging loss).
    *
    *   χ² = Σ_c (o_c − n·p_c)² / (n·p_c)   over the declared categories
    *
    * Rows in UNDECLARED categories are counted separately (`n_other`,
    * excluded from χ² — a nonzero value is itself a finding). The
    * per-category counts are one conditional hash agg (k static
    * columns, no join); the χ² sum is a static expression in sorted
    * category order, stated identically in the oracle. n = 0 masks to
    * NULL. Output: ONE row (n, n_other, dof, chi2).
    */
  def chiSquareGof(df: DataFrame, catCol: String,
                   expectedShares: Map[String, Double]): DataFrame = {
    require(expectedShares.nonEmpty, "need at least one declared category")
    require(expectedShares.values.forall(_ > 0.0),
      "every declared share must be positive")
    require(math.abs(expectedShares.values.sum - 1.0) < 1e-9,
      "declared shares must sum to 1")
    val cats = expectedShares.keys.toSeq.sorted
    val obs = df.filter(col(catCol).isNotNull)
      .select(col(catCol).cast("string").as("_cat"))
    val aggs = cats.zipWithIndex.map { case (c, i) =>
      sum(when(col("_cat") === c, 1L).otherwise(0L)).cast("long").as(s"_o$i")
    } :+ sum(when(!col("_cat").isin(cats: _*), 1L).otherwise(0L))
      .cast("long").as("_other")
    val g = obs.agg(aggs.head, aggs.tail: _*)
    val nIn = cats.indices.map(i => col(s"_o$i")).reduce(_ + _)
    val nInD = nIn.cast("double")
    val chi2 = cats.zipWithIndex.map { case (c, i) =>
      val e = nInD * lit(expectedShares(c))
      (col(s"_o$i").cast("double") - e) *
        (col(s"_o$i").cast("double") - e) / e
    }.reduce(_ + _)
    g.select(nIn.as("n"), col("_other").as("n_other"),
      lit((cats.size - 1).toLong).as("dof"),
      when(nIn === 0, lit(null).cast("double"))
        .otherwise(round(chi2, 6)).as("chi2"))
  }

  /** Fleiss' κ — chance-corrected agreement for MULTI-rater categorical
    * annotation (Cohen's κ covers exactly two raters;
    * [[krippendorffAlpha]] handles missingness — Fleiss is the standard
    * panel statistic when every item gets the same number of ratings).
    * The label-QA gate for n-way redundant annotation: "do the n
    * annotation passes agree beyond what the label marginals predict?"
    *
    * Contract: each row is one rating (item, category) with a
    * deterministic arrival order; items keep their `nRaters` FIRST
    * ratings by `(orderCol, category)` and items with fewer than
    * `nRaters` ratings are excluded (Fleiss requires a full panel).
    *
    *   P̄  = Σ_i (Σ_j n_ij² − n) / (N·n·(n−1)),  p_j = Σ_i n_ij / (N·n),
    *   P_e = Σ_j p_j²,  κ = (P̄ − P_e)/(1 − P_e)
    *
    * All sufficient statistics are exact integers (decimal squares via
    * [[decMul]]); the P_e fold runs over the CATEGORY-SORTED totals
    * array; P_e = 1 (every rating one category) masks to NULL. The
    * (item, category) cell frame is cached — it feeds the per-item
    * squares, the category totals, and is ≤ |items|·|categories| rows.
    * Output: ONE row (n_items, n_raters, n_categories, p_bar, p_e,
    * kappa).
    */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
                  orderCol: Column, nRaters: Int): DataFrame = {
    require(nRaters >= 2, "Fleiss' kappa needs at least 2 raters per item")
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(itemCol).isNotNull && col(categoryCol).isNotNull)
      .select(col(itemCol).as("_i"), col(categoryCol).cast("string").as("_cat"),
        orderCol.as("_o"))
    val w = Window.partitionBy("_i").orderBy(col("_o"), col("_cat"))
    val capped = base.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nRaters)
    val perItemN = capped.groupBy("_i").agg(count(lit(1)).as("_n"))
    val panel = perItemN.filter(col("_n") === nRaters).select("_i")
    val cells = capped.join(panel, "_i")
      .groupBy("_i", "_cat").agg(count(lit(1)).as("_nij"))
      .cache() // ≤ |items|·|categories| rows; feeds squares AND totals
    val itemAgg = cells.groupBy("_i")
      .agg(sum(decMul(col("_nij"), col("_nij"))).as("_s2"))
      .agg(count(lit(1)).as("n_items"), sum(col("_s2")).as("_ss2"))
    val catTot = cells.groupBy("_cat")
      .agg(sum(col("_nij")).cast("long").as("_cj"))
    val folded = catTot
      .agg(array_sort(collect_list(struct(col("_cat"), col("_cj")))).as("_a"),
        count(lit(1)).as("n_categories"))
      .crossJoin(broadcast(itemAgg))
    val nI = col("n_items").cast("double")
    val nR = lit(nRaters.toDouble)
    val pBar = (col("_ss2").cast("double") - nI * nR) /
      (nI * nR * (nR - lit(1.0)))
    val pE = aggregate(col("_a"), lit(0.0), (a, s) => {
      val p = s.getField("_cj").cast("double") / (nI * nR)
      a + p * p
    })
    val deg = col("n_items") === 0
    folded.select(col("n_items"), lit(nRaters.toLong).as("n_raters"),
      col("n_categories"),
      when(deg, lit(null).cast("double")).otherwise(round(pBar, 6)).as("p_bar"),
      when(deg, lit(null).cast("double")).otherwise(round(pE, 6)).as("p_e"),
      when(deg || pE === lit(1.0), lit(null).cast("double"))
        .otherwise(round((pBar - pE) / (lit(1.0) - pE), 6)).as("kappa"))
  }

  /** Cliff's delta — the ordinal dominance EFFECT SIZE that should
    * accompany every Mann–Whitney verdict (a significant U on a huge
    * sample can be a trivial effect): δ = (#{x>y} − #{x<y}) / (n₁·n₂)
    * over all cross-arm pairs, in [−1, 1], 0 = stochastic equality.
    *
    * No pair enumeration: from the SAME global distinct-value midrank
    * spine as [[mannWhitney]], 2·U₁ = su₁ − n₁(n₁+1) exactly (doubled
    * midranks), and #{>} − #{<} = 2·U₁ − n₁·n₂ — so δ is one division
    * of exact integers. Output: ONE row (n1, n2, n_pairs, delta).
    */
  def cliffsDelta(df: DataFrame, cond: Column, metric: Column): DataFrame = {
    val base = df.filter(metric.isNotNull)
      .select(when(cond, lit(1)).otherwise(lit(0)).as("_g"),
        metricLong(metric).as("_x"))
    import org.apache.spark.sql.expressions.Window
    val vals = base.groupBy("_x").agg(count(lit(1)).as("_t"))
    val below = Window.orderBy("_x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals.withColumn("_u",
      (lit(2) * coalesce(sum(col("_t")).over(below), lit(0L)) +
        col("_t") + 1).cast("long"))
    val gv = base.groupBy("_g", "_x").agg(count(lit(1)).as("_c"))
    val per = gv.join(ranked, "_x").agg(
      sum(when(col("_g") === 1, col("_c")).otherwise(0L)).cast("long")
        .as("n1"),
      sum(when(col("_g") === 0, col("_c")).otherwise(0L)).cast("long")
        .as("n2"),
      sum(when(col("_g") === 1, decMul(col("_c"), col("_u")))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("_su1"))
    val n1D = col("n1").cast("double"); val n2D = col("n2").cast("double")
    // 2U1 = su1 − n1(n1+1); δ = (2U1 − n1·n2) / (n1·n2)
    val delta = (col("_su1").cast("double") - n1D * (n1D + lit(1.0)) -
      n1D * n2D) / (n1D * n2D)
    val deg = col("n1") === 0 || col("n2") === 0
    per.select(col("n1"), col("n2"),
      (col("n1") * col("n2")).as("n_pairs"),
      when(deg, lit(null).cast("double"))
        .otherwise(round(delta, 6)).as("delta"))
  }

  /** Per-class confusion statistics for a (label, prediction) frame —
    * the evaluation table for every classifier a data pipeline runs
    * (quality filters, language ID, toxicity gates): true/false
    * positives, false negatives, and integer-ppm precision / recall /
    * F1 per class. All ratios are BIGINT `div` of exact counts
    * (`f1_ppm = 2·tp·10⁶ div (2·tp + fp + fn)` — the harmonic mean
    * stated in integers, no float anywhere); a class never predicted
    * (or never labeled) reports null precision (recall) rather than
    * 0/0.
    *
    * Output: one row per class in the union of label/pred values:
    * (class, n_labeled, n_predicted, tp, fp, fn, precision_ppm,
    * recall_ppm, f1_ppm).
    *
    * Scale posture: ONE hash agg collapses the data to the (label,
    * pred) cell frame (≤ |classes|² rows); per-class rollups and the
    * full-outer marginal join never touch raw rows again.
    */
  def confusionStats(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val l = col(labelCol); val p = col(predCol)
    val cells = df.filter(l.isNotNull && p.isNotNull)
      .select(l.as("label"), p.as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("o"))
    val labeled = cells.groupBy("label").agg(
      sum("o").as("n_labeled"),
      sum(when(col("label") === col("pred"), col("o")).otherwise(lit(0L))).as("tp"))
      .withColumnRenamed("label", "class")
    val predicted = cells.groupBy("pred").agg(sum("o").as("n_predicted"))
      .withColumnRenamed("pred", "class")
    labeled.join(predicted, Seq("class"), "full_outer")
      .select(col("class"),
        coalesce(col("n_labeled"), lit(0L)).as("n_labeled"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("fp", col("n_predicted") - col("tp"))
      .withColumn("fn", col("n_labeled") - col("tp"))
      .withColumn("precision_ppm",
        when(col("n_predicted") > 0,
          call_function("div", col("tp") * lit(1000000L), col("n_predicted"))))
      .withColumn("recall_ppm",
        when(col("n_labeled") > 0,
          call_function("div", col("tp") * lit(1000000L), col("n_labeled"))))
      .withColumn("f1_ppm",
        when(col("n_predicted") + col("n_labeled") > 0,
          call_function("div", col("tp") * lit(2000000L),
            lit(2) * col("tp") + col("fp") + col("fn"))))
  }

  /** Calibration (reliability) bins for a probabilistic classifier:
    * scores in [0, 1] bucket into `bins` equal-width bins (the top
    * boundary folds into the last bin), and each bin reports its count,
    * positive count, and empirical positive rate — the table a
    * reliability diagram plots, and the audit that tells a curation
    * pipeline whether "score ≥ 0.9" MEANS 90% (a quality-classifier
    * threshold is only as meaningful as its calibration).
    *
    * Rates are integer ppm (BIGINT div — counts are nonnegative, so no
    * floor-direction hazard); the bin index is `floor(score·bins)` on
    * the score doubles both engines already agree on. Null scores or
    * labels are excluded (no opinion ≠ negative). ONE hash agg over the
    * scored frame; output ≤ `bins` rows.
    *
    * Output: (bin, n, n_pos, pos_rate_ppm).
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 1, "need at least one bin")
    val b = least(floor(col(scoreCol) * bins).cast("long"), lit(bins - 1L))
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(b.as("bin"), col(labelCol).cast("long").as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"))
      .withColumn("pos_rate_ppm", expr("(n_pos * 1000000L) div n"))
  }

  /** Murphy decomposition of the Brier score — the single-number
    * companion to [[calibrationBins]]: `BS_binned = REL − RES + UNC`,
    * where reliability (REL) is how far each bin's mean forecast sits
    * from its observed rate (lower = better calibrated), resolution
    * (RES) how much the bins' observed rates spread around the base
    * rate (higher = the score actually separates), and uncertainty
    * (UNC = ō(1−ō)) the irreducible base-rate term. The RAW Brier
    * score `(1/n)Σ(s−y)²` is emitted alongside — it differs from the
    * binned identity exactly by the within-bin forecast variance, so
    * `brier ≥ reliability − resolution + uncertainty` is a built-in
    * sanity invariant.
    *
    * Determinism / 100 TB posture: scores are 6-decimal probabilities
    * ([[graft.ops.TextAnalysis.linearQualityScore]] contract), so each
    * converts EXACTLY to integer micro-units; every per-bin aggregate
    * (Σs, Σs², Σs·y, Σy, n) is then an integer sum carried in
    * decimal(38,0) (no long overflow at petabyte row counts), and the
    * decomposition is a fold over the ≤`bins`-row frame in bin order —
    * the same collapsed-frame discipline as [[aucExact]]: one hash agg
    * over the scored rows, then driver-free tiny-frame math.
    *
    * Output one row: (n, brier, reliability, resolution, uncertainty).
    */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
                         bins: Int = 10): DataFrame = {
    require(bins >= 1, "need at least one bin")
    val su = round(col(scoreCol) * 1e6).cast("long")
    val b = least(floor(col(scoreCol) * bins).cast("long"), lit(bins - 1L))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perBin = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(b.as("bin"), su.as("_su"), col(labelCol).cast("long").as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("sy"),
        sum(dec(col("_su"))).as("ssu"),
        sum(dec(col("_su")) * dec(col("_su"))).as("ssu2"),
        sum(dec(col("_su")) * dec(col("_y"))).as("ssuy"))
    perBin
      .agg(array_sort(collect_list(struct(col("bin"), col("n"), col("sy"),
        col("ssu"), col("ssu2"), col("ssuy")))).as("_a"))
      .select(
        expr("aggregate(_a, 0L, (a, s) -> a + s.n)").as("n"),
        expr("aggregate(_a, 0L, (a, s) -> a + s.sy)").as("_ty"),
        expr("""aggregate(_a, cast(0.0 as double), (a, s) ->
          a + (cast(s.ssu2 as double) - 2e6 * cast(s.ssuy as double)
               + 1e12 * cast(s.sy as double)))""").as("_bsnum"),
        col("_a"))
      .select(col("n"),
        round(col("_bsnum") / (col("n").cast("double") * 1e12), 6).as("brier"),
        // squared terms are explicit products, never pow(x, 2): libm pow
        // is not guaranteed bit-equal to x*x across engines
        round(expr("""aggregate(_a, cast(0.0 as double), (a, s) ->
            a + cast(s.n as double) *
              (cast(s.ssu as double) / (cast(s.n as double) * 1e6)
                  - cast(s.sy as double) / cast(s.n as double)) *
              (cast(s.ssu as double) / (cast(s.n as double) * 1e6)
                  - cast(s.sy as double) / cast(s.n as double)))""")
          / col("n").cast("double"), 6).as("reliability"),
        round(expr(s"""aggregate(_a, cast(0.0 as double), (a, s) ->
            a + cast(s.n as double) *
              (cast(s.sy as double) / cast(s.n as double)
                  - cast(_ty as double) / cast(n as double)) *
              (cast(s.sy as double) / cast(s.n as double)
                  - cast(_ty as double) / cast(n as double)))""")
          / col("n").cast("double"), 6).as("resolution"),
        round((col("_ty").cast("double") / col("n").cast("double")) *
          (lit(1.0) - col("_ty").cast("double") / col("n").cast("double")), 6)
          .as("uncertainty"))
  }

  /** Upper-tail dependence audit between two per-row metrics: when X
    * is extreme, how often is Y extreme TOO? `λ_U ≈ P(Y > y_q | X >
    * x_q)` at quantile `qPpm` — the copula-tail question correlation
    * cannot answer (two metrics can be 0.9-correlated in the bulk and
    * independent in the tail, or vice versa; risk concentration and
    * abuse bursts live in the tail). Under independence λ_U ≈ 1−q, so
    * the emitted ratio is directly interpretable against that floor.
    *
    * Thresholds are RANK-defined in exact integer arithmetic: the
    * smallest value whose cumulative count reaches
    * `ceil(qPpm·n/1e6)` over the value-sorted distinct frame (the
    * [[aucExact]] collapsed-frame discipline — no interpolation, no
    * float quantiles), exceedance is a strict `>` count, and λ_U is
    * one integer-ppm division. Output one row:
    * (n, x_thr, y_thr, n_x, n_y, n_joint, lambda_u_ppm).
    *
    * Scale posture: one pass to per-row (x, y) longs; each threshold
    * comes from a distinct-value cum window (bounded by distinct
    * values); the exceedance count is a map-side conditional agg
    * against the two 1-row broadcast thresholds.
    */
  def upperTailDependence(df: DataFrame, xCol: String, yCol: String,
                          qPpm: Long = 900000L): DataFrame = {
    require(qPpm > 0L && qPpm < 1000000L, "qPpm in (0, 1e6)")
    // materialize the two-long-column base ONCE: it feeds five consumers
    // (both threshold chains, the count broadcast inside each, and the
    // final tail-count agg) with no exchange below any of them — every
    // consumer re-scanned the source (the conformalInterval pattern)
    val base0 = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
    val base = Checkpoints.stage(base0)
    def threshold(c: String, out: String) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      base.groupBy(col(c).as("v")).agg(count(lit(1)).as("k"))
        .withColumn("cum", sum(col("k")).over(w))
        .crossJoin(broadcast(base.agg(count(lit(1)).as("_n"))))
        // rank target = ceil(qPpm * n / 1e6), all-integer
        .filter(col("cum") >= expr(s"(${qPpm}L * _n + 999999L) div 1000000L"))
        .agg(min(col("v")).as(out))
    }
    val xt = threshold("_x", "x_thr")
    val yt = threshold("_y", "y_thr")
    base.crossJoin(broadcast(xt)).crossJoin(broadcast(yt))
      .agg(count(lit(1)).as("n"), first(col("x_thr")).as("x_thr"),
        first(col("y_thr")).as("y_thr"),
        sum(when(col("_x") > col("x_thr"), 1L).otherwise(0L)).as("n_x"),
        sum(when(col("_y") > col("y_thr"), 1L).otherwise(0L)).as("n_y"),
        sum(when(col("_x") > col("x_thr") && col("_y") > col("y_thr"), 1L)
          .otherwise(0L)).as("n_joint"))
      .withColumn("lambda_u_ppm",
        when(col("n_x") > 0, expr("(n_joint * 1000000L) div n_x")))
  }

  /** Cochran–Armitage trend test: is a binary rate MONOTONICALLY
    * drifting across ordered exposure levels? The k-group χ² says only
    * "rates differ somewhere"; this weights each level by its ordinal
    * score and tests the linear trend — the dose-response screen
    * (funnel-position conversion drift, quality-score-band acceptance
    * drift) with far more power against ordered alternatives.
    * `T = Σ sᵢ(n₁ᵢ − nᵢ·p̄)`, `Var(T) = p̄(1−p̄)·(Σ sᵢ²nᵢ − (Σ sᵢnᵢ)²/N)`,
    * `z = T/√Var`.
    *
    * Determinism: every aggregate (per-level nᵢ, n₁ᵢ and the score
    * moments) is an exact integer sum — scores are cast to long, so the
    * moments carry in decimal(38,0) at petabyte counts — and z is one
    * fixed double tree over them, rounded 6. Output one row:
    * (n, n_pos, n_levels, z_trend).
    *
    * Scale posture: ONE hash agg to ≤|levels| rows, then a collapse —
    * the [[aucExact]] collapsed-frame discipline.
    */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      labelCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perLevel = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("long").as("_s"),
        col(labelCol).cast("long").as("_y"))
      .groupBy("_s")
      .agg(count(lit(1)).as("ni"), sum(col("_y")).as("n1i"))
    perLevel
      .agg(sum(col("ni")).as("n"), sum(col("n1i")).as("n_pos"),
        count(lit(1)).as("n_levels"),
        sum(dec(col("_s")) * dec(col("ni"))).as("_sn"),
        sum(dec(col("_s")) * dec(col("_s")) * dec(col("ni"))).as("_s2n"),
        sum(dec(col("_s")) * dec(col("n1i"))).as("_sy"))
      .select(col("n"), col("n_pos"), col("n_levels"),
        round(when(col("n_pos") === 0 || col("n_pos") === col("n") ||
            col("n_levels") < 2, lit(null).cast("double"))
          .otherwise {
            val pbar = col("n_pos").cast("double") / col("n").cast("double")
            val t = col("_sy").cast("double") - pbar * col("_sn").cast("double")
            val v = pbar * (lit(1.0) - pbar) *
              (col("_s2n").cast("double") -
                col("_sn").cast("double") * col("_sn").cast("double") /
                  col("n").cast("double"))
            t / sqrt(v)
          }, 6).as("z_trend"))
  }

  /** EXACT ROC-AUC via the rank-sum (Mann–Whitney) identity with
    * midrank tie handling, in pure integer arithmetic: for a score
    * value whose tie group ends at cumulative count c with k members,
    * twice the average rank is `2c − k + 1` (integral), so
    * `S2 = Σ_pos n_pos_v · (2c − k + 1)` and
    * `auc_ppm = 1e6 · (S2 − n_pos(n_pos+1)) / (2 n_pos n_neg)` — no
    * float ever enters, so the classifier eval is bit-identical on any
    * engine (a sampled/approximate AUC drifts run to run; an eval gate
    * must not). One hash agg to per-VALUE counts (bounded by distinct
    * scores), one cumulative window over that bounded frame, one total.
    * At petabyte row counts the ppm multiply wants DecimalType headroom
    * — the formula is unchanged.
    * Output one row: (n_pos, n_neg, auc_ppm).
    */
  def aucExact(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val byValue = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("v"), col(labelCol).cast("long").as("_y"))
      .groupBy("v").agg(count(lit(1)).as("k"), sum(col("_y")).as("kp"))
      .withColumn("c", sum(col("k")).over(w))
    byValue.agg(
        sum(col("kp")).as("n_pos"),
        sum(col("k") - col("kp")).as("n_neg"),
        sum(col("kp") * (lit(2L) * col("c") - col("k") + 1L)).as("_s2"))
      .select(col("n_pos"), col("n_neg"),
        // single-class input (no positives or no negatives) has no
        // defined AUC — NULL, never an ANSI divide-by-zero
        expr("CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL " +
          "ELSE ((_s2 - n_pos * (n_pos + 1L)) * 1000000L) div " +
          "(2L * n_pos * n_neg) END").as("auc_ppm"))
  }

  /** Krippendorff's alpha (nominal) for a complete rating design —
    * `m` raters per unit, long format (unit, rater, value) — in EXACT
    * integer arithmetic: with per-unit value counts n_uc,
    * `Do·(m−1)·n = Σ_u (m² − Σ_c n_uc²)` (off-diagonal coincidences ×
    * the constant per-unit denominator) and
    * `De·n(n−1) = n² − Σ_c n_c²`, so
    * `alpha_ppm = 1e6 − (1e6 · Do_s · (n−1)) / ((m−1) · De_s)` — the
    * single integer division is the only rounding, and the subtraction
    * never floor-divides a negative. Units without exactly `m` ratings
    * are EXCLUDED (and counted in the output) — the exactness contract;
    * the general unequal-m estimator needs per-unit rationals that no
    * fixed integer scale clears. Three bounded aggs.
    * Output one row: (n_units, n_dropped_units, n_ratings, alpha_ppm).
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String, raterCol: String,
                        valueCol: String, ratersPerUnit: Int): DataFrame = {
    require(ratersPerUnit >= 2, "alpha needs >= 2 raters per unit")
    val m = ratersPerUnit.toLong
    val uc0 = df.filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("u"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("nuc"))
    // materialize ONCE: uc feeds perUnit (twice, via the dropped-units
    // broadcast) and the marginal join, so the rating synthesis below it
    // ran ~3x per pass (broadcast subtrees share nothing with the main
    // path). One narrow row per (unit, value).
    val uc = Checkpoints.stage(uc0)
    val perUnit = uc.groupBy("u").agg(sum(col("nuc")).as("mu"),
      sum(col("nuc") * col("nuc")).as("ss"))
    val complete = perUnit.filter(col("mu") === m).cache()
    val dropped = perUnit.filter(col("mu") =!= m)
      .agg(count(lit(1)).as("n_dropped_units"))
    val doS = complete.agg(count(lit(1)).as("n_units"),
      sum(lit(m * m) - col("ss")).as("_do_s"))
    val marg = uc.join(complete.select("u"), "u")
      .groupBy("v").agg(sum(col("nuc")).as("nc"))
      .agg(sum(col("nc")).as("_n"), sum(col("nc") * col("nc")).as("_ssc"))
    doS.join(broadcast(dropped)).join(broadcast(marg))
      .select(col("n_units"), col("n_dropped_units"), col("_n").as("n_ratings"),
        // perfect agreement (every rating the same value) gives De=0:
        // alpha is undefined — NULL, never an ANSI divide-by-zero
        expr(s"CASE WHEN _n * _n = _ssc THEN NULL " +
          s"ELSE 1000000L - (_do_s * (_n - 1L) * 1000000L) div " +
          s"((${m - 1}L) * (_n * _n - _ssc)) END").as("alpha_ppm"))
  }

  /** Disparate-impact audit for a selection step (a quality filter, a
    * dedup keep-rule): per group, the keep rate in integer ppm and its
    * ratio to the OVERALL keep rate, flagged by the four-fifths rule
    * (ratio < 0.8) — the audit that catches a "quality" filter
    * silently dropping a minority language or source. One group agg +
    * a 1-row overall crossJoin; exact integers throughout.
    * Output: (group, n_docs, n_keep, keep_ppm, impact_ratio_ppm,
    * at_risk).
    */
  def selectionImpact(df: DataFrame, groupCol: String,
                      keepCol: String): DataFrame = {
    val g0 = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(keepCol).cast("long")).as("n_keep"))
    // materialize the (one row per group) aggregate ONCE: `g` feeds both
    // the broadcast total and the main join, and a broadcast subtree is
    // not shared with the main path — with a heavy verdict producer
    // (q_filter_impact's per-doc C4 chain) the whole chain ran twice
    val g = Checkpoints.stage(g0)
    val overall = g.agg(sum("n_docs").as("_nd"), sum("n_keep").as("_nk"))
    g.join(broadcast(overall))
      .withColumn("keep_ppm", expr("(n_keep * 1000000L) div n_docs"))
      // ratio of rates as exact cross-multiplied integers: group_rate /
      // overall_rate = (n_keep·_nd) / (n_docs·_nk)
      .withColumn("impact_ratio_ppm",
        expr("CASE WHEN _nk = 0 THEN 1000000L " +
          "ELSE (n_keep * _nd * 1000000L) div (n_docs * _nk) END"))
      .select(col("group"), col("n_docs"), col("n_keep"), col("keep_ppm"),
        col("impact_ratio_ppm"),
        (col("impact_ratio_ppm") < 800000L).as("at_risk"))
  }

  /** Welch two-sample z-test for an A/B experiment with DETERMINISTIC
    * unit assignment: variant = md5-parity of the unit key (the
    * engine-portable hash idiom — any system, or the DuckDB oracle,
    * re-derives who was in which arm; a `rand()` split is neither
    * reproducible nor auditable). The per-unit metric must be an exact
    * integer (cents, counts), so n/Σx/Σx² are exact BIGINTs and mean,
    * Welch variance, and z are doubles derived through one fixed tree —
    * cross-engine bit-identical with sqrt's IEEE guarantee, no
    * rounding.
    *
    * Σx² stays in BIGINT: callers must bound the per-unit metric to
    * ~3e9 so the squared sum clears ANSI overflow at ~1e18 (here:
    * cents-per-user against a 9.2e18 ceiling — fine through ~1e5× this
    * corpus; beyond that, bucket the metric).
    *
    * Arms with fewer than 2 units mask var/z to NULL. Output is ONE
    * row: (n_control, n_treat, mean_control, mean_treat, var_control,
    * var_treat, z).
    *
    * Scale posture: one per-unit agg over the log (map-side
    * combinable), then a 2-row agg; the z math runs on two 1-row
    * frames. Nothing after the first exchange is data-sized.
    */
  /** Difference-in-differences estimate over an event log — the
    * workhorse quasi-experimental design when treatment switched ON at
    * a known cutover: the treated arm's pre→post change minus the
    * control arm's pre→post change nets out the shared time trend a
    * naive before/after comparison absorbs. Arms are the
    * [[welchZ]] md5-parity split (re-derivable by any engine); periods
    * split at `cutoverTs`; the per-(unit, period) metric must be
    * integral, so all four cell means are exact-BIGINT ratios and
    * `did` is one fixed double tree — raw cross-engine parity.
    *
    * Output is ONE row: per-cell unit counts and means
    * (n/mean × {c,t} × {pre,post}) and
    * `did = (mean_t_post − mean_t_pre) − (mean_c_post − mean_c_pre)`.
    * A unit active in both periods contributes to both cells (the
    * standard repeated-cross-section form). Any empty cell masks
    * `did` to NULL.
    *
    * Scale posture: one per-(unit, period) agg over the log, then a
    * 4-row cell agg collapsed by conditional aggregates into the
    * single output row — no joins at all past the first exchange.
    */
  def diffInDiff(df: DataFrame, unitCol: String, tsCol: String,
                 metric: Column, cutoverTs: String): DataFrame = {
    val per = df.filter(col(unitCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("_p", (col(tsCol) >= to_timestamp(lit(cutoverTs))).cast("int"))
      .groupBy(col(unitCol).as("_u"), col("_p"))
      .agg(sum(metric).cast("long").as("_x"))
    val cells = per.select(
        Sampling.hashBucket(col("_u"), 2).as("_v"), col("_p"), col("_x"))
      .groupBy("_v", "_p")
      .agg(count(lit(1)).as("_n"), sum(col("_x")).cast("long").as("_s"))
      .withColumn("_mean", col("_s").cast("double") / col("_n").cast("double"))
    def pick(v: Int, p: Int, c: Column) =
      max(when(col("_v") === v && col("_p") === p, c))
    val row = cells.agg(
      coalesce(pick(0, 0, col("_n")), lit(0L)).as("n_c_pre"),
      coalesce(pick(0, 1, col("_n")), lit(0L)).as("n_c_post"),
      coalesce(pick(1, 0, col("_n")), lit(0L)).as("n_t_pre"),
      coalesce(pick(1, 1, col("_n")), lit(0L)).as("n_t_post"),
      pick(0, 0, col("_mean")).as("mean_c_pre"),
      pick(0, 1, col("_mean")).as("mean_c_post"),
      pick(1, 0, col("_mean")).as("mean_t_pre"),
      pick(1, 1, col("_mean")).as("mean_t_post"))
    row.withColumn("did",
      (col("mean_t_post") - col("mean_t_pre")) -
        (col("mean_c_post") - col("mean_c_pre")))
  }

  def welchZ(df: DataFrame, unitCol: String, metric: Column): DataFrame = {
    val per = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(sum(metric).cast("long").as("_x"))
    val g = per.select(Sampling.hashBucket(col("_u"), 2).as("_v"), col("_x"))
      .groupBy("_v")
      .agg(count(lit(1)).as("_n"), sum(col("_x")).cast("long").as("_s"),
        sum(col("_x") * col("_x")).cast("long").as("_s2"))
    val m = g.select(col("_v"), col("_n"),
      (col("_s").cast("double") / col("_n").cast("double")).as("_mean"),
      when(col("_n") < 2, lit(null).cast("double"))
        .otherwise((col("_s2").cast("double") -
          col("_s").cast("double") * col("_s").cast("double") /
            col("_n").cast("double")) /
          (col("_n") - 1).cast("double")).as("_var"))
      .cache() // 2 rows; consumed by both arm legs — without it the
               // data-sized per-unit agg plans twice
    val c = m.filter(col("_v") === 0)
      .select(col("_n").as("n_control"), col("_mean").as("mean_control"),
        col("_var").as("var_control"))
    val t = m.filter(col("_v") === 1)
      .select(col("_n").as("n_treat"), col("_mean").as("mean_treat"),
        col("_var").as("var_treat"))
    c.crossJoin(t).select(
      col("n_control"), col("n_treat"), col("mean_control"), col("mean_treat"),
      col("var_control"), col("var_treat"),
      when(col("var_control").isNull || col("var_treat").isNull,
        lit(null).cast("double"))
        .otherwise((col("mean_treat") - col("mean_control")) /
          sqrt(col("var_treat") / col("n_treat").cast("double") +
            col("var_control") / col("n_control").cast("double"))).as("z"))
  }

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * Sensitivity of Online Controlled Experiments by Utilizing
    * Pre-Experiment Data") — the standard A/B precision lever: regress
    * the experiment metric on a PRE-period covariate and shift each
    * arm mean by θ·(arm covariate mean − pooled covariate mean),
    * cutting readout variance by the squared correlation ρ² without
    * touching the randomization. Units are the [[welchZ]] md5-parity
    * arms; per unit `x` is the pre-cutover metric sum and `y` the
    * post-cutover sum (0 when the unit has no rows in a period —
    * absence is the signal, not a missing value). θ = cov(x,y)/var(x)
    * is pooled over BOTH arms: randomization makes θ
    * treatment-independent, and pooling avoids an arm-specific fit
    * biasing the contrast.
    *
    * Determinism: n/Σx/Σy/Σxy/Σx²/Σy² are exact BIGINTs (ANSI bound:
    * per-unit sums ≲ 3e9 keep Σx² inside BIGINT at 1e12 units — same
    * envelope as [[welchZ]]); θ, the adjusted means, `adj_lift`, and
    * `var_reduction` = ρ² flow through one fixed double tree → raw
    * cross-engine parity. A degenerate covariate (all x tied, e.g. a
    * cutover before any data) masks θ-dependent outputs to NULL via
    * the DISCRETE min(x)=max(x) guard; `var_reduction` additionally
    * masks on exact-int-derived varYN = 0 (identical both engines —
    * unlike the ln-fed residual zipfFit had to avoid).
    *
    * Scale posture: one per-unit conditional agg over the log
    * (map-side combinable), then a 2-row arm agg and a 1-row pooled
    * tree; nothing after the first exchange is data-sized.
    */
  def cuped(df: DataFrame, unitCol: String, tsCol: String,
            metric: Column, cutoverTs: String): DataFrame = {
    val cut = to_timestamp(lit(cutoverTs))
    val per = df.filter(col(unitCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(coalesce(sum(when(col(tsCol) < cut, metric)), lit(0L))
             .cast("long").as("_x"),
           coalesce(sum(when(col(tsCol) >= cut, metric)), lit(0L))
             .cast("long").as("_y"))
      .cache() // |units| rows; both the arm agg and the pooled stats
               // consume it — without it the data-sized per-unit agg
               // over the log plans twice (the welchZ cache lesson)
    val arms = per.select(Sampling.hashBucket(col("_u"), 2).as("_v"),
        col("_x"), col("_y"))
      .groupBy("_v")
      .agg(count(lit(1)).as("_n"),
        sum(col("_x")).cast("long").as("_sx"),
        sum(col("_y")).cast("long").as("_sy"))
      .cache() // 2 rows; consumed by both arm legs
    val pooled = per.agg(count(lit(1)).as("_n"),
      sum(col("_x")).cast("long").as("_sx"),
      sum(col("_y")).cast("long").as("_sy"),
      sum(col("_x") * col("_x")).cast("long").as("_sxx"),
      sum(col("_x") * col("_y")).cast("long").as("_sxy"),
      sum(col("_y") * col("_y")).cast("long").as("_syy"),
      min(col("_x")).as("_xmin"), max(col("_x")).as("_xmax"))
    val n = col("_n").cast("double")
    val covN = n * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val varXN = n * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val varYN = n * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    val p = pooled.select(
      when(col("_xmin") === col("_xmax"), lit(null).cast("double"))
        .otherwise(covN / varXN).as("_theta"),
      (col("_sx").cast("double") / n).as("_mx"),
      when(col("_xmin") === col("_xmax") || varYN === 0.0,
           lit(null).cast("double"))
        .otherwise(covN * covN / (varXN * varYN)).as("var_reduction"))
    val a = arms.select(col("_v"), col("_n"),
      (col("_sy").cast("double") / col("_n").cast("double")).as("_my"),
      (col("_sx").cast("double") / col("_n").cast("double")).as("_mxa"))
    val c = a.filter(col("_v") === 0).select(col("_n").as("n_control"),
      col("_my").as("_myc"), col("_mxa").as("_mxc"))
    val t = a.filter(col("_v") === 1).select(col("_n").as("n_treat"),
      col("_my").as("_myt"), col("_mxa").as("_mxt"))
    val adjC = col("_myc") - col("_theta") * (col("_mxc") - col("_mx"))
    val adjT = col("_myt") - col("_theta") * (col("_mxt") - col("_mx"))
    c.crossJoin(t).crossJoin(p) // 1x1x1 rows
      .select(col("n_control"), col("n_treat"), col("_theta").as("theta"),
        adjC.as("adj_mean_control"), adjT.as("adj_mean_treat"),
        (adjT - adjC).as("adj_lift"), col("var_reduction"))
  }

  /** Minimum detectable effect + sample-ratio-mismatch — the two
    * pre-readout health numbers of every experiment. From the
    * [[welchZ]] arm sufficient stats: `mde_abs` is the two-sided
    * α=0.05 / power-0.8 detectable lift
    * `(z₀.₉₇₅ + z₀.₈)·sqrt(var_c/n_c + var_t/n_t)` — the z's are
    * correctly-rounded double LITERALS, so no erf/quantile function
    * runs at query time — and `srm_z = (n_t − n_c)/sqrt(n_c + n_t)`
    * scores the realized split against the designed 50/50, alarming
    * at |z| > 3 (an SRM means the bucketing itself is broken and no
    * metric readout downstream can be trusted — the first dashboard
    * any experimentation platform checks). sqrt is IEEE-exact →
    * both outputs raw-parity; an arm with < 2 units masks `mde_abs`
    * to NULL (variance undefined), never the SRM fields.
    *
    * Scale posture: identical to [[welchZ]] — one map-side-combinable
    * per-unit agg, a 2-row arm agg, 1-row math.
    */
  def experimentHealth(df: DataFrame, unitCol: String, metric: Column): DataFrame = {
    // one source of truth for the md5 split and the Bessel variance
    // tree: everything MDE/SRM needs is already on welchZ's output row
    val w = welchZ(df, unitCol, metric)
    val zsum = lit(1.9599639845400545) + lit(0.8416212335729143)
    val srmZ = (col("n_treat") - col("n_control")).cast("double") /
      sqrt((col("n_control") + col("n_treat")).cast("double"))
    w.select(
      col("n_control"), col("n_treat"),
      (zsum * sqrt(col("var_control") / col("n_control").cast("double") +
        col("var_treat") / col("n_treat").cast("double"))).as("mde_abs"),
      srmZ.as("srm_z"), (abs(srmZ) > 3.0).as("srm_alarm"))
  }

  /** Benford first-significant-digit audit — the fabricated-numbers
    * screen: naturally-occurring multiplicative quantities (prices,
    * balances, populations) put ~30.1% of first digits at 1 tapering
    * to 4.6% at 9; invented, capped, or constructed data does not.
    * Digit extraction is INTEGER-string based (first char of the
    * positive BIGINT's decimal form — no float formatting, no log10
    * at runtime); expected shares are hardcoded correctly-rounded
    * log10(1+1/d) double literals (identical decimal→double parses on
    * every engine). Output ≤ 9 rows: (digit, n_obs, share, benford_p,
    * excess) — share is an exact-int ratio, excess one subtraction:
    * raw parity. Wholly map-side into a ≤9-row agg.
    */
  def benfordDigits(df: DataFrame, metric: Column): DataFrame = {
    val benfordP: Seq[(Int, Double)] = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514)
    val pCol = benfordP.foldLeft(lit(null).cast("double")) {
      case (acc, (d, pr)) => when(col("digit") === d, lit(pr)).otherwise(acc)
    }
    val counts = df.select(metric.as("_m")).filter(col("_m") > 0)
      .select(substring(col("_m").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum(col("n_obs")).cast("long").as("_t"))
    val share = col("n_obs").cast("double") / col("_t").cast("double")
    counts.crossJoin(tot) // <=9 x 1 rows
      .select(col("digit"), col("n_obs"), share.as("share"),
        pCol.as("benford_p"), (share - pCol).as("excess"))
  }

  /** Gini index of a nonnegative integral metric per group — the
    * concentration number behind "10% of users generate 90% of
    * plays" and "three sources dominate the training mix". Exact
    * integer identity over the ascending sort:
    * `G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)` with i = 1..n ranked by
    * (x, id) — the deterministic tie-break makes Σ i·x₍ᵢ₎ invariant
    * (tied x share the same value, so rank permutation within a tie
    * moves nothing). Numerators are BIGINT-exact (i·x ≤ n·xmax; ANSI
    * bound n·xmax ≲ 9e18 documented); the single division is raw
    * parity. All-zero groups mask to NULL (concentration of nothing).
    *
    * Scale posture: one per-(group,id) agg, one per-group rank window
    * (the only data-sized exchange beyond the agg), one per-group
    * fold. Skew ceiling is rows-per-group in the window sort.
    */
  def giniIndex(df: DataFrame, groupCol: String, idCol: String,
                metric: Column): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull && col(idCol).isNotNull)
      .groupBy(col(groupCol).as("_g"), col(idCol).as("_id"))
      .agg(sum(metric).cast("long").as("_x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_g").orderBy(col("_x"), col("_id"))
    val ranked = per.withColumn("_i", row_number().over(w).cast("long"))
    ranked.groupBy("_g")
      .agg(count(lit(1)).as("n_units"),
        sum(col("_x")).cast("long").as("_sx"),
        sum(col("_i") * col("_x")).cast("long").as("_six"))
      .select(col("_g").as(groupCol), col("n_units"),
        when(col("_sx") === 0, lit(null).cast("double"))
          .otherwise((lit(2.0) * col("_six").cast("double") -
            (col("n_units") + 1).cast("double") * col("_sx").cast("double")) /
            (col("n_units").cast("double") * col("_sx").cast("double")))
          .as("gini"))
  }

  /** Spearman rank correlation per group — Pearson's monotone sibling,
    * the robust dependence check when the relation is nonlinear or the
    * scales are ordinal. Ranks are DOUBLED average ranks, which are
    * integers even under ties (`2·avgrank = 2·rank_min + tiecount − 1`),
    * so every sufficient statistic is an exact integer: n/Σu/Σv in
    * BIGINT; Σuv/Σu²/Σv² accumulate through DECIMAL(38,0) (exact
    * 128-bit sums — the BIGINT ceiling is n³-shaped and a 10× corpus
    * already clears it) and convert to double once (round-to-nearest of
    * the same exact integer on every engine). The correlation tree is
    * then fixed and raw-parity; output rounds at 6 dp (house corr
    * style). Degenerate sides (all x tied or all y tied) mask via
    * DISCRETE min=max guards — the fp-residual-zero trap zipfFit hit.
    *
    * Scale posture: two rank windows per group (the data-sized
    * exchanges, skew-bounded by rows-per-group) + one per-group agg.
    */
  /** Kendall's τ-b per group between two integer-valued columns — the
    * concordance-based rank correlation that [[spearman]] approximates:
    * robust to monotone transforms, with the b-variant tie correction
    * so heavily-tied integer data (counts, cents) stays in [-1, 1].
    *
    *   τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂))
    *
    * with n₀ = n(n−1)/2, n₁/n₂ = Σ t(t−1)/2 over x/y tie groups. C − D,
    * n₀, n₁, n₂ are exact BIGINTs (one pairwise sign sum + two tie
    * aggs); τ-b is one fixed double tree over them, shipped raw. NULL
    * when either tie-corrected denominator term is 0 (a constant
    * column — concordance undefined, the [[spearman]] masking rule).
    *
    * Scale posture: the pairwise join is over the PRE-COLLAPSED input
    * (callers pass a bounded per-group frame — daily aggregates, not
    * events; the [[graft.ops.TimeSeries.theilSen]] contract); tie
    * counts are two hash aggs on the same frame.
    * Output: (group, n, concordant_minus_discordant, tau_b).
    */
  def kendallTau(df: DataFrame, groupCol: String, xCol: Column,
                 yCol: Column): DataFrame = {
    val base = Checkpoints.stage(df.filter(col(groupCol).isNotNull &&
        xCol.isNotNull && yCol.isNotNull)
      .select(col(groupCol).as("_g"), metricLong(xCol).as("_x"),
        metricLong(yCol).as("_y")))
    val l = base.select(col("_g"), col("_x").as("_x1"), col("_y").as("_y1"))
    val r = base.select(col("_g"), col("_x").as("_x2"), col("_y").as("_y2"))
    // every unordered pair once: join on group, keep one orientation by
    // the (x, y) lexicographic key with a stable arbitrary-but-total
    // order; equal (x, y) pairs contribute 0 either way so halving the
    // double-counted diagonal-free join is exact
    val s = l.join(r, Seq("_g"))
      .select(col("_g"),
        (signum((col("_x2") - col("_x1")).cast("double")) *
          signum((col("_y2") - col("_y1")).cast("double"))).cast("long").as("_cd"))
      .groupBy("_g")
      // the full ordered-pair sum counts each unordered pair twice
      .agg((sum(col("_cd")) / lit(2)).cast("long").as("c_minus_d"))
    def tieTerm(c: String, out: String) =
      base.groupBy(col("_g"), col(c)).agg(count(lit(1)).as("_t"))
        .groupBy("_g")
        .agg(sum(col("_t")).cast("long").as(s"_n$out"),
          sum(col("_t") * (col("_t") - 1) / lit(2)).cast("long").as(out))
    val tx = tieTerm("_x", "n1")
    val ty = tieTerm("_y", "n2").withColumnRenamed("_nn2", "_drop")
    val joined = tx.join(ty.drop("_drop"), Seq("_g")).join(s, Seq("_g"))
    val n = col("_nn1")
    val n0 = (n * (n - 1) / lit(2)).cast("long")
    val d1 = n0 - col("n1")
    val d2 = n0 - col("n2")
    joined.select(col("_g").as(groupCol), n.as("n"), col("c_minus_d"),
      when(d1 <= 0 || d2 <= 0, lit(null).cast("double"))
        .otherwise(col("c_minus_d").cast("double") /
          sqrt(d1.cast("double") * d2.cast("double")))
        .as("tau_b"))
  }

  def spearman(df: DataFrame, groupCol: String, xCol: Column,
               yCol: Column): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull &&
        xCol.isNotNull && yCol.isNotNull)
      .select(col(groupCol).as("_g"), metricLong(xCol).as("_x"),
        metricLong(yCol).as("_y"))
    import org.apache.spark.sql.expressions.Window
    def doubledRank(c: String) =
      lit(2) * rank().over(Window.partitionBy("_g").orderBy(c)) +
        count(lit(1)).over(Window.partitionBy("_g", c)) - 1
    val ranked = base
      .withColumn("_u", doubledRank("_x").cast("long"))
      .withColumn("_v", doubledRank("_y").cast("long"))
    val agg0 = ranked.groupBy("_g").agg(
      count(lit(1)).as("n"),
      min(col("_x")).as("_xmin"), max(col("_x")).as("_xmax"),
      min(col("_y")).as("_ymin"), max(col("_y")).as("_ymax"),
      sum(col("_u")).cast("long").as("_su"),
      sum(col("_v")).cast("long").as("_sv"),
      sum(decMul(col("_u"), col("_v"))).as("_suv"),
      sum(decMul(col("_u"), col("_u"))).as("_suu"),
      sum(decMul(col("_v"), col("_v"))).as("_svv"))
    val n = col("n").cast("double")
    val su = col("_su").cast("double"); val sv = col("_sv").cast("double")
    val covN = n * col("_suv").cast("double") - su * sv
    val varU = n * col("_suu").cast("double") - su * su
    val varV = n * col("_svv").cast("double") - sv * sv
    agg0.select(col("_g").as(groupCol), col("n"),
      when(col("n") < 2 || col("_xmin") === col("_xmax") ||
           col("_ymin") === col("_ymax"), lit(null).cast("double"))
        .otherwise(round(covN / (sqrt(varU) * sqrt(varV)), 6))
        .as("spearman_rho"))
  }

  /** Split-conformal regression interval — distribution-free predictive
    * uncertainty with a finite-sample coverage GUARANTEE (Vovk et al.;
    * Lei et al. 2018): fit on a train split, take the
    * ⌈(n+1)(1−α)⌉-th smallest absolute residual on a held-out
    * calibration split, and y ± that quantile covers a fresh point
    * with probability ≥ 1−α under exchangeability alone — no
    * distributional assumption, which is why it's the standard
    * model-shipping uncertainty wrapper. Empirical coverage on a third
    * split is reported as the self-check.
    *
    * Splits are md5-bucket deterministic (train 0–89, cal 90–94,
    * test 95–99 of 100). The OLS fit flows from exact LONG sums
    * (UNROUNDED slope/intercept — identical doubles both engines);
    * residuals are then identical doubles, the calibration order
    * statistic is an exact (residual, id)-ordered pick at the pure-
    * integer index `(9·(n_cal+1)+9) div 10`, and coverage is an exact
    * ppm ratio. Output ONE row: (n_train, n_cal, n_test, slope,
    * intercept, q90, coverage_ppm).
    *
    * Scale posture: the fit is one map-side-combinable agg; the
    * calibration sort is ONE bounded split (5% by construction — the
    * q_ppl_select sample-sort precedent: conformal validity needs
    * exchangeability, not the full corpus, so the cal split IS the
    * knob that keeps the global order statistic cheap); the coverage
    * pass is map-side against the broadcast 1-row fit/quantile frame.
    */
  def conformalInterval(df: DataFrame, idCol: Column, xCol: Column,
                        yCol: Column): DataFrame = {
    val base0 = df.filter(idCol.isNotNull && xCol.isNotNull && yCol.isNotNull)
      .select(idCol.cast("string").as("_id"), metricLong(xCol).as("_x"),
        metricLong(yCol).as("_y"))
      .withColumn("_b", Sampling.hashBucket(col("_id"), 100))
    // Materialize the bucketed base ONCE (eager localCheckpoint): the
    // split-conformal recipe consumes it ~6 ways (fit, the calibration
    // residuals twice — count + rank —, the test pass, and `fit`/`q`
    // re-nested under crossJoin broadcasts), and the chain has NO
    // exchange, so nothing is reused — every consumer re-scanned the
    // input and re-hashed every id (md5 per row x6; q_conformal ~2.5 s
    // isolated for a ~0.4 s pass). The frame is 4 narrow columns.
    val base = Checkpoints.stage(base0)
    val train = base.filter(col("_b") < 90)
    val fit = train.agg(count(lit(1)).as("n_train"),
        sum(col("_x")).cast("long").as("_sx"),
        sum(col("_y")).cast("long").as("_sy"),
        sum(col("_x") * col("_x")).cast("long").as("_sxx"),
        sum(col("_x") * col("_y")).cast("long").as("_sxy"))
      .select(col("n_train"),
        ((col("n_train").cast("double") * col("_sxy").cast("double") -
          col("_sx").cast("double") * col("_sy").cast("double")) /
         (col("n_train").cast("double") * col("_sxx").cast("double") -
          col("_sx").cast("double") * col("_sx").cast("double"))).as("slope"),
        col("_sx").cast("double").as("_sxd"),
        col("_sy").cast("double").as("_syd"))
      .select(col("n_train"), col("slope"),
        ((col("_syd") - col("slope") * col("_sxd")) /
          col("n_train").cast("double")).as("intercept"))
    def resid = abs(col("_y").cast("double") -
      (col("intercept") + col("slope") * col("_x").cast("double")))
    val cal = base.filter(col("_b") >= 90 && col("_b") < 95)
      .crossJoin(fit).withColumn("_r", resid)
    import org.apache.spark.sql.expressions.Window
    val calN = cal.agg(count(lit(1)).as("n_cal"))
    // rank index clamped to n_cal: with fewer than 9 calibration
    // points the ceil-rank ⌈0.9(n+1)⌉ exceeds n_cal and the split-
    // conformal 90% coverage guarantee does NOT hold (the interval
    // degrades to "widest observed residual") — callers wanting the
    // guarantee need n_cal ≥ 9; the clamp keeps small inputs total
    // instead of silently emitting an all-NULL row with n_test=0.
    val q = cal.withColumn("_rn",
        row_number().over(Window.orderBy(col("_r"), col("_id"))))
      .crossJoin(calN)
      .filter(col("_rn") === expr("LEAST((9 * (n_cal + 1) + 9) div 10, n_cal)"))
      .select(col("n_cal"), col("_r").as("q90"))
    val test = base.filter(col("_b") >= 95).crossJoin(fit).crossJoin(q)
    test.agg(count(lit(1)).as("n_test"),
        sum(when(resid <= col("q90"), 1L).otherwise(0L)).cast("long").as("_cov"),
        first(col("n_train")).as("n_train"), first(col("n_cal")).as("n_cal"),
        first(col("slope")).as("slope"), first(col("intercept")).as("intercept"),
        first(col("q90")).as("q90"))
      .select(col("n_train"), col("n_cal"), col("n_test"), col("slope"),
        col("intercept"), col("q90"),
        when(col("n_test") === 0, lit(null).cast("long"))
          .otherwise(expr("_cov * 1000000L div n_test")).as("coverage_ppm"))
  }

  /** Hill tail-index estimator over the top-k order statistics — the
    * heavy-tail audit: α̂ ≈ 1 means plan for extreme outliers (no
    * finite variance; sampling/quota logic must cap), α̂ > 2 means
    * variance exists and mean-based sizing is safe. Classic Hill:
    * `α̂ = k / Σ_{i=1..k} ln(x_(i) / x_(k+1))` over the k largest
    * values with x_(k+1) the threshold order stat. The top-(k+1)
    * MULTISET of an integral metric is deterministic under ties, the
    * per-term ratio is exact-int division, and the fold runs over the
    * value-sorted array; ln feeds the fold, so the output rounds at
    * 6 dp (the zipfFit ln-ulp rule). All-tied top values sum to
    * exactly 0.0 on both engines (ln 1) and mask to NULL.
    *
    * Scale posture: the only data-sized work is a distributed top-k
    * (TakeOrdered — no global sort); the fold is a ≤k-element array
    * in one row.
    */
  def hillTailIndex(df: DataFrame, metric: Column, k: Int = 200): DataFrame = {
    require(k >= 10 && k <= 10000, "10 <= k <= 10000")
    val v = df.select(metricLong(metric).as("_v")).filter(col("_v") > 0)
    val top = v.orderBy(col("_v").desc).limit(k + 1)
    val folded = top.agg(array_sort(collect_list(col("_v"))).as("_a"),
      count(lit(1)).as("_n"))
    val thr = element_at(col("_a"), 1)
    val lnSum = aggregate(expr("slice(_a, 2, size(_a) - 1)"),
      lit(0.0), (acc, x) => acc + log(x.cast("double") / thr.cast("double")))
    folded.select((col("_n") - 1).cast("long").as("k"),
      thr.cast("long").as("threshold"),
      when(col("_n") < 2 || lnSum === 0.0, lit(null).cast("double"))
        .otherwise(round((col("_n") - 1).cast("double") / lnSum, 6))
        .as("hill_alpha"))
  }

  /** Delete-one-bucket jackknife standard error for a ratio-of-sums
    * metric θ = Σy/Σw — the honest uncertainty for per-unit ratios
    * (revenue per item, clicks per session) where the naive SE
    * ignores the denominator's variance. Units hash into B md5
    * buckets (the [[welchZ]] split idiom); each leave-one-out
    * replicate θ₍ᵢ₎ = (Sy−yᵢ)/(Sw−wᵢ) is one division of exact
    * integer sums, and SE² = (B−1)/B · Σ(θ₍ᵢ₎−θ̄)² folds over the
    * bucket-sorted replicate array. Every double is derived from
    * identical exact-int operands through one fixed tree (no ln), so
    * the output is raw-parity — no rounding. Output ONE row:
    * (n_units, b, theta, jk_se).
    *
    * Scale posture: one map-side-combinable agg collapses the data to
    * ≤B rows; the fold is a ≤B-element array in one row.
    */
  def jackknifeRatio(df: DataFrame, unitKey: Column, y: Column, w: Column,
                     b: Int = 100): DataFrame = {
    require(b >= 10 && b <= 10000, "10 <= b <= 10000")
    // collapse to UNITS first: n_units must count resampling units,
    // not input rows (a unit key spanning several rows — an order over
    // its line items — would otherwise inflate the reported n)
    val bucketed = df
      .select(unitKey.cast("string").as("_k"), y.cast("long").as("_y"),
        w.cast("long").as("_w"))
      .filter(col("_k").isNotNull && col("_y").isNotNull && col("_w").isNotNull)
      .groupBy("_k")
      .agg(sum(col("_y")).cast("long").as("_yu"),
        sum(col("_w")).cast("long").as("_wu"))
      .withColumn("_b", Sampling.hashBucket(col("_k"), b))
      .groupBy("_b")
      .agg(count(lit(1)).as("_n"), sum(col("_yu")).cast("long").as("_yb"),
        sum(col("_wu")).cast("long").as("_wb"))
    val tot = bucketed
      .agg(sum(col("_n")).cast("long").as("n_units"),
        count(lit(1)).cast("long").as("b"),
        sum(col("_yb")).cast("long").as("_sy"),
        sum(col("_wb")).cast("long").as("_sw"),
        array_sort(collect_list(struct(col("_b"), col("_yb"), col("_wb"))))
          .as("_a"))
    // θ̄ over replicates, then the squared-deviation fold — two passes
    // over the same ≤B-element array, one row
    val rep = (s: Column) =>
      (col("_sy") - s.getField("_yb")).cast("double") /
        (col("_sw") - s.getField("_wb")).cast("double")
    val thetaBar = aggregate(col("_a"), lit(0.0), (acc, s) => acc + rep(s)) /
      col("b").cast("double")
    val ssq = aggregate(col("_a"), lit(0.0), (acc, s) =>
      acc + (rep(s) - thetaBar) * (rep(s) - thetaBar))
    tot.select(col("n_units"), col("b"),
      (col("_sy").cast("double") / col("_sw").cast("double")).as("theta"),
      when(col("b") < 2, lit(null).cast("double"))
        .otherwise(sqrt(((col("b") - 1).cast("double") / col("b").cast("double"))
          * ssq))
        .as("jk_se"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between md5-parity arms
    * on an integral metric: D = max|F₀−F₁| — "did the whole
    * DISTRIBUTION move?", catching variance/shape shifts that the
    * mean-based [[welchZ]] misses entirely. The sup runs over the
    * merged distinct-value frame with the difference held as the
    * EXACT integer |cum₀·n₁ − cum₁·n₀| (DECIMAL — no float CDF
    * exists to disagree), the argmax is a lexicographic struct max
    * with the value as tiebreak (ties → largest value), and D is one
    * division of exact operands — raw double parity.
    * Output ONE row: (n_a, n_b, ks_d, ks_at_value).
    *
    * Scale posture: one (value)-keyed conditional agg collapses the
    * data; the cumulative window runs on the distinct-value frame.
    */
  def ksTest(df: DataFrame, unitCol: String, metric: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.filter(col(unitCol).isNotNull)
      .select(Sampling.hashBucket(col(unitCol).cast("string"), 2)
        .cast("int").as("_arm"), metricLong(metric).as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy("_v")
      .agg(sum(when(col("_arm") === 0, 1L).otherwise(0L)).as("_c0"),
        sum(when(col("_arm") === 1, 1L).otherwise(0L)).as("_c1"))
    val wCum = Window.orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("_cum0", sum(col("_c0")).over(wCum).cast("long"))
      .withColumn("_cum1", sum(col("_c1")).over(wCum).cast("long"))
      .withColumn("_n0", sum(col("_c0")).over(Window.partitionBy()).cast("long"))
      .withColumn("_n1", sum(col("_c1")).over(Window.partitionBy()).cast("long"))
      .withColumn("_diff",
        abs(col("_cum0").cast("decimal(19,0)") * col("_n1")
          - col("_cum1").cast("decimal(19,0)") * col("_n0")))
    cum.agg(first(col("_n0")).as("n_a"), first(col("_n1")).as("n_b"),
      max(struct(col("_diff"), col("_v"))).as("_best"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("double"))
          .otherwise(col("_best._diff").cast("double") /
            (col("n_a").cast("decimal(19,0)") * col("n_b")).cast("double"))
          .as("ks_d"),
        col("_best._v").as("ks_at_value"))
  }

  /** Wilson 95% score interval per md5-parity arm for a binary
    * per-unit outcome (did the unit ever satisfy `successCond`) — the
    * proportion CI that stays honest at small n and extreme rates,
    * where the Wald interval [[welchZ]]-style math would collapse or
    * escape [0,1]. z is pinned at 1.96 and spelled as the LITERAL
    * PRODUCT 1.96·1.96 in one fixed tree on both engines; every other
    * operand is an exact integer count, so lo/hi are raw-parity
    * doubles (sqrt is correctly rounded — no rounding applied).
    * Output per arm: (arm, n_units, n_success, p_hat, wilson_lo,
    * wilson_hi).
    *
    * Scale posture: one per-unit agg (the only data-sized shuffle)
    * then a 2-row arm agg; the interval math is constant work.
    */
  def wilsonCi(df: DataFrame, unitCol: String,
               successCond: Column): DataFrame = {
    val units = df.filter(col(unitCol).isNotNull)
      .select(col(unitCol).cast("string").as("_k"),
        when(successCond, 1L).otherwise(0L).as("_s"))
      .groupBy("_k").agg(max(col("_s")).as("_succ"))
      .select(Sampling.hashBucket(col("_k"), 2).cast("int").as("arm"),
        col("_succ"))
    val arms = units.groupBy("arm")
      .agg(count(lit(1)).cast("long").as("n_units"),
        sum(col("_succ")).cast("long").as("n_success"))
    val zz = lit(1.96) * lit(1.96)
    val nD = col("n_units").cast("double")
    val kD = col("n_success").cast("double")
    val phat = kD / nD
    val denom = lit(1.0) + zz / nD
    val center = (phat + zz / (lit(2.0) * nD)) / denom
    val half = (lit(1.96) * sqrt(phat * (lit(1.0) - phat) / nD +
      zz / (lit(4.0) * nD * nD))) / denom
    arms.select(col("arm"), col("n_units"), col("n_success"),
      phat.as("p_hat"), (center - half).as("wilson_lo"),
      (center + half).as("wilson_hi"))
  }

  /** Decile concentration table for a per-unit metric — the Lorenz
    * curve [[gini]] summarizes, materialized as "the top 10% of
    * customers carry X% of revenue" rows. Deciles assign by the
    * all-integer tie-consistent rule d = ⌈10·cum/n⌉ over the
    * distinct-value frame (units tied on the metric always land in
    * the same decile; no global row sort, no ntile). All outputs are
    * exact integers; share is ppm via the `·1000000 div` idiom
    * (exact while decile totals stay under ~9.2e12 — the long-multiply
    * regime every ppm column in this engine documents).
    * Output: (decile, n_units, value_cents, share_ppm), decile 1 = top.
    *
    * Scale posture: the per-unit agg is the only data-sized shuffle;
    * the cumulative window runs on the distinct-value frame.
    */
  def decileShare(df: DataFrame, unitCol: String, metric: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(sum(coalesce(metricLong(metric), lit(0L))).cast("long").as("_v"))
    val cells = per.groupBy("_v")
      .agg(count(lit(1)).as("_c"), sum(col("_v")).cast("long").as("_sv"))
    val cum = cells
      .withColumn("_cum", sum(col("_c")).over(
        Window.orderBy(col("_v").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy()))
      .withColumn("_tot", sum(col("_sv")).over(Window.partitionBy()))
    cum
      .groupBy(expr("(10 * _cum + _n - 1) div _n").as("decile"))
      .agg(sum(col("_c")).cast("long").as("n_units"),
        sum(col("_sv")).cast("long").as("value_cents"),
        first(col("_tot")).as("_t"))
      .select(col("decile"), col("n_units"), col("value_cents"),
        // an all-zero metric has no shares to apportion — NULL, never
        // an ANSI divide-by-zero (mirrors giniIndex's all-zero mask)
        expr("CASE WHEN _t = 0 THEN NULL " +
          "ELSE value_cents * 1000000L div _t END").as("share_ppm"))
  }

  /** Matched-cohort uplift (coarsened-exact-matching flavor): units
    * stratify on an exact pre-period activity level, and the treated
    * arm's effect is the stratum-size-weighted difference of post-
    * period outcome means — the selection-bias-aware alternative to
    * [[welchZ]]'s raw arm difference when assignment correlates with
    * prior activity. Strata missing either arm are excluded (that is
    * the matching); the match rate is reported so a low-overlap
    * read is visible.
    *
    * ATT = Σ_s (nt_s/NT)·(ȳt_s − ȳc_s) — every term is a division of
    * exact integer sums, folded over the stratum-sorted array through
    * one fixed tree; raw double parity, no rounding. Arm = md5(unit)
    * parity (1 = treated), stratum = LEAST(pre, cap): exact integer
    * coarsening, no ln/ntile (floor(log2) through doubles flips on
    * exact powers across engines). Pre/post split at the integer
    * midpoint of the observed epoch-microsecond span. Output ONE row:
    * (n_units, n_strata_matched, matched_ppm, att).
    *
    * Scale posture: one per-unit agg collapses the events; strata
    * (≤cap+1 rows) and the fold are driver-free single-row work.
    */
  def matchedUplift(df: DataFrame, unitCol: String, tsCol: String, y: Column,
                    preCap: Int = 20): DataFrame = {
    require(preCap >= 1 && preCap <= 1000, "1 <= preCap <= 1000")
    val base = df
      .filter(col(unitCol).isNotNull && col(tsCol).isNotNull)
      .select(col(unitCol).cast("string").as("_k"),
        unix_micros(col(tsCol)).as("_us"), y.cast("long").as("_y"))
    val span = base.agg(min(col("_us")).as("_lo"), max(col("_us")).as("_hi"))
      .select(expr("(_lo + _hi) div 2").as("_mid"))
    val units = base.crossJoin(broadcast(span))
      .groupBy("_k")
      .agg(sum(when(col("_us") < col("_mid"), 1L).otherwise(0L)).as("_pre"),
        sum(when(col("_us") >= col("_mid"), coalesce(col("_y"), lit(0L)))
          .otherwise(0L)).cast("long").as("_post"))
      .select(col("_k"),
        least(col("_pre"), lit(preCap.toLong)).as("_s"),
        Sampling.hashBucket(col("_k"), 2).cast("int").as("_arm"),
        col("_post"))
    val strata = units.groupBy("_s")
      .agg(sum(when(col("_arm") === 1, 1L).otherwise(0L)).as("_nt"),
        sum(when(col("_arm") === 0, 1L).otherwise(0L)).as("_nc"),
        sum(when(col("_arm") === 1, col("_post")).otherwise(0L))
          .cast("long").as("_yt"),
        sum(when(col("_arm") === 0, col("_post")).otherwise(0L))
          .cast("long").as("_yc"))
    val folded = strata
      .agg(sum(col("_nt") + col("_nc")).cast("long").as("n_units"),
        sum(when(col("_nt") > 0 && col("_nc") > 0, 1L).otherwise(0L))
          .cast("long").as("n_strata_matched"),
        sum(when(col("_nt") > 0 && col("_nc") > 0, col("_nt")).otherwise(0L))
          .cast("long").as("_ntm"),
        sum(when(col("_nt") > 0 && col("_nc") > 0,
          col("_nt") + col("_nc")).otherwise(0L)).cast("long").as("_nm"),
        array_sort(collect_list(when(col("_nt") > 0 && col("_nc") > 0,
          struct(col("_s"), col("_nt"), col("_nc"), col("_yt"), col("_yc")))))
          .as("_a"))
    val att = aggregate(col("_a"), lit(0.0), (acc, s) =>
      acc + (s.getField("_nt").cast("double") / col("_ntm").cast("double")) *
        (s.getField("_yt").cast("double") / s.getField("_nt").cast("double")
          - s.getField("_yc").cast("double") / s.getField("_nc").cast("double")))
    folded.select(col("n_units"), col("n_strata_matched"),
      expr("_nm * 1000000L div n_units").as("matched_ppm"),
      when(col("n_strata_matched") === 0, lit(null).cast("double"))
        .otherwise(att).as("att"))
  }

  /** Empirical-Bayes beta-binomial rate shrinkage — the CTR/conversion
    * smoothing every per-key rate ranking needs: a key with 1/1
    * successes must not outrank one with 90/100, so each raw rate is
    * shrunk toward the corpus prior with strength proportional to the
    * prior's confidence. The prior (α, β) comes from the standard
    * equal-weight rate method of moments (Morris 1983 lineage):
    *
    *   m = mean(rᵢ),  v = popvar(rᵢ)   over per-key rates rᵢ = xᵢ/nᵢ
    *   s = (m(1−m) − v)/v,  α = m·s, β = (1−m)·s
    *   shrunk_i = (xᵢ + α) / (nᵢ + s)
    *
    * Determinism: rates are integer ppm (xᵢ·10⁶ div nᵢ); Σr and Σr²
    * are exact DECIMAL(38) sums, so m and v flow through one fixed
    * double tree — no data-sized double accumulation. `shrunk_ppm` is
    * floor((x+α)/(n+s)·10⁶) — floor, not round, so the integer is
    * identically derived on both engines. Degenerates mask shrunk_ppm
    * to NULL: fewer than 2 keys, all rates tied (v = 0 — decided on
    * exact ints: k·Σr² = (Σr)²), or over-dispersion m(1−m) ≤ v (the
    * beta MoM has no valid prior; shrinking with a fabricated one
    * would be worse than reporting none).
    *
    * Output: (key, n, x, raw_ppm, shrunk_ppm).
    *
    * Scale posture: one map-side-combinable per-key agg, a 1-row prior
    * frame broadcast back onto the |keys| frame. Nothing data-sized
    * after the first exchange.
    */
  def ebShrinkage(df: DataFrame, keyCol: String, trials: Column,
                  successes: Column): DataFrame = {
    val per = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(sum(trials).cast("long").as("n"),
        sum(successes).cast("long").as("x"))
      .filter(col("n") > 0 && col("x") >= 0 && col("x") <= col("n"))
      .withColumn("raw_ppm", expr("x * 1000000L div n"))
      .cache() // |keys| rows; feeds the prior agg AND the output
    val prior = per.agg(count(lit(1)).as("_k"),
      sum(col("raw_ppm").cast("decimal(38,0)")).as("_sr"),
      sum(decMul(col("raw_ppm"), col("raw_ppm"))).as("_sr2"))
    val kD = col("_k").cast("double")
    val mRate = col("_sr").cast("double") / kD / lit(1e6)
    val vRate = (col("_sr2").cast("double") / kD -
      (col("_sr").cast("double") / kD) * (col("_sr").cast("double") / kD)) /
      lit(1e12)
    val degenerate = col("_k") < 2 ||
      col("_k").cast("decimal(38,0)") * col("_sr2") === col("_sr") * col("_sr")
    val s = when(degenerate, lit(null).cast("double"))
      .otherwise((mRate * (lit(1.0) - mRate) - vRate) / vRate)
    val priorRow = prior.select(
      when(s <= 0.0, lit(null).cast("double")).otherwise(s).as("_s"),
      when(s <= 0.0, lit(null).cast("double")).otherwise(mRate).as("_m"))
    per.crossJoin(broadcast(priorRow))
      .select(col("key"), col("n"), col("x"), col("raw_ppm"),
        when(col("_s").isNull, lit(null).cast("long"))
          .otherwise(floor((col("x").cast("double") + col("_m") * col("_s")) /
            (col("n").cast("double") + col("_s")) * lit(1e6)).cast("long"))
          .as("shrunk_ppm"))
  }

  /** Benjamini–Hochberg FDR control (Benjamini & Hochberg 1995) over a
    * family of tests — the multiple-testing gate a metrics sweep needs:
    * run one test per segment/metric and the expected share of false
    * "significant" calls among the winners is held at `alpha`, where
    * per-test thresholds would let it grow with the family size.
    *
    * Input is ONE ROW PER TEST — a frame bounded by the experiment
    * design (segments × metrics), never data-sized; the windows below
    * run on that tiny frame by construction (the chiSquare contingency
    * precedent). p-values should be exact rationals
    * ([[Bootstrap.permutationTest]]) or ROUND(…, 6) statistics so the
    * rank order is engine-stable; ties break by test id.
    *
    *   rank i by (p asc, id asc);  k* = max{ i : p_i ≤ α·i/m }
    *   rejected_i = (i ≤ k*);      q_i = min_{j ≥ i} min(1, p_j·m/j)
    *
    * Output: (test_id, p, rank, q_value, rejected) — `q_value` is the
    * standard BH-adjusted p (monotone step-up envelope), ROUND(…, 6).
    * NULL p-values are excluded from the family (m counts tests with a
    * p), emitted with NULL rank/q/rejected.
    */
  def bhFdr(tests: DataFrame, idCol: String, pCol: String,
            alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "0 < alpha < 1")
    import org.apache.spark.sql.expressions.Window
    // Materialize the (bounded-by-design: one row per test) input ONCE.
    // The BH step-up needs the family four ways — the m count, the ranked
    // frame, the k* scan and the null-p branch — and neither ReuseExchange
    // nor AQE stage reuse dedupes a subtree consumed under different
    // broadcast parents, so a data-sized p-producer (q_fdr_bh's
    // permutation test) was executed ~4x per run (measured: q_fdr_bh
    // exec 8-12 s vs q_perm_test ~1 s). An eager localCheckpoint runs the
    // producer once and gives every consumer an m-row leaf; it also
    // truncates the 4x-duplicated plan the optimizer was re-walking.
    // (Streaming frames can't checkpoint; p-values-per-test is a batch
    // surface, and the bounded contract makes the materialization ≤ the
    // experiment design size.)
    val base0 = tests.select(col(idCol).as("test_id"),
      col(pCol).cast("double").as("p"))
    val base = Checkpoints.stage(base0)
    val withP = base.filter(col("p").isNotNull)
    val m = withP.agg(count(lit(1)).as("_m"))
    val wRank = Window.orderBy(col("p"), col("test_id"))
    val wRev = Window.orderBy(col("p").desc, col("test_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = withP.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("_adj", least(lit(1.0),
        col("p") * col("_m").cast("double") / col("rank").cast("double")))
      .withColumn("_q", min(col("_adj")).over(wRev))
      .withColumn("_pass",
        col("p") <= lit(alpha) * col("rank").cast("double") /
          col("_m").cast("double"))
    // NO cache here (r13 optimization): `ranked` IS consumed by both k*
    // and the output, but caching it made the plan slower, not faster —
    // the InMemoryRelation canonicalizes differently from the raw chain,
    // so the broadcast-m subtree, the cache fill and the null-p branch
    // each re-ran the (possibly data-sized) p-producer from scratch
    // (~3x; q_fdr_bh cold 4.5-5.8 s). Uncached, all four consumers share
    // the producer's exchanges via ReuseExchange/AQE stage reuse and only
    // the m-row post-exchange tails re-run (measured: see
    // OPTIMIZATION_r13.md "bhFdr").
    val kStar = ranked.agg(
      coalesce(max(when(col("_pass"), col("rank"))), lit(0L)).as("_k"))
    val scored = ranked.crossJoin(broadcast(kStar))
      .select(col("test_id"), col("p"), col("rank"),
        round(col("_q"), 6).as("q_value"),
        (col("rank") <= col("_k")).as("rejected"))
    val nullP = base.filter(col("p").isNull)
      .select(col("test_id"), col("p"), lit(null).cast("long").as("rank"),
        lit(null).cast("double").as("q_value"),
        lit(null).cast("boolean").as("rejected"))
    scored.unionAll(nullP)
  }

  /** One-way Welch ANOVA (Welch 1951) — "did the metric mean move
    * across k groups?" without the equal-variance assumption the
    * classic F-test needs (segment sizes and variances differ wildly
    * in real telemetry, which is exactly when pooled-variance ANOVA
    * lies). The k-group generalization of [[welchZ]]:
    *
    *   w_i = n_i/s_i²,  W = Σw_i,  x̄ = Σw_i·x̄_i / W
    *   F = [Σw_i(x̄_i−x̄)²/(k−1)] / [1 + 2(k−2)/(k²−1)·C],
    *   C = Σ(1−w_i/W)²/(n_i−1),  df1 = k−1,  df2 = (k²−1)/(3C)
    *
    * Determinism: per-group n/Σx/Σx² are exact integers (Σx² in
    * DECIMAL(38) — the spearman 128-bit-product discipline, so the
    * envelope is ~1e12 rows of 1e6-scale metrics per group, not the
    * BIGINT 9e18 line); every cross-group sum folds over the ONE
    * group-sorted array (k rows) in a fixed double tree. Degenerates
    * mask to NULL: k < 2, any n_i < 2, or any s_i² = 0 (the exact
    * integer test n·Σx² = (Σx)² — decided identically on both engines,
    * never a double ≈ 0 probe).
    *
    * Output is ONE row: (k, n_total, f_stat, df1, df2).
    *
    * Scale posture: one map-side-combinable hash agg collapses the data
    * to k rows; everything after is a 1-row fold. Nothing downstream of
    * the first exchange is data-sized.
    */
  def welchAnova(df: DataFrame, groupCol: String, metric: Column): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(metric.cast("decimal(38,0)")).as("_s"),
        sum(decMul(metric, metric)).as("_s2"))
    val folded = per
      .agg(count(lit(1)).as("k"), sum(col("_n")).cast("long").as("n_total"),
        max(when(col("_n") < 2, 1)).as("_tiny"),
        // exact-integer zero-variance probe: n·Σx² == (Σx)²
        max(when(col("_n") >= 2 &&
          col("_n").cast("decimal(38,0)") * col("_s2") === col("_s") * col("_s"),
          1)).as("_zerovar"),
        array_sort(collect_list(struct(col("_g").cast("string").as("_g"),
          col("_n"), col("_s"), col("_s2")))).as("_a"))
    def nD(s: Column) = s.getField("_n").cast("double")
    def meanOf(s: Column) =
      s.getField("_s").cast("double") / nD(s)
    def varOf(s: Column) =
      (s.getField("_s2").cast("double") -
        s.getField("_s").cast("double") * s.getField("_s").cast("double") /
          nD(s)) / (nD(s) - lit(1.0))
    def wOf(s: Column) = nD(s) / varOf(s)
    // degenerates short-circuit BEFORE any fold evaluates: a zero-variance
    // or n=1 group would divide by zero inside the fold under ANSI
    val deg =
      col("k") < 2 || col("_tiny").isNotNull || col("_zerovar").isNotNull
    def guarded(c: Column) = when(deg, lit(null).cast("double")).otherwise(c)
    val bigW = aggregate(col("_a"), lit(0.0), (a, s) => a + wOf(s))
    val wMeanSum = aggregate(col("_a"), lit(0.0), (a, s) => a + wOf(s) * meanOf(s))
    val withW = folded
      .withColumn("_W", guarded(bigW))
      .withColumn("_xbar", guarded(wMeanSum / col("_W")))
    val aNum = aggregate(col("_a"), lit(0.0), (a, s) => {
      val d = meanOf(s) - col("_xbar")
      a + wOf(s) * d * d
    })
    val cSum = aggregate(col("_a"), lit(0.0), (a, s) => {
      val r = lit(1.0) - wOf(s) / col("_W")
      a + r * r / (nD(s) - lit(1.0))
    })
    val kD = col("k").cast("double")
    withW
      .withColumn("_C", guarded(cSum))
      .select(col("k"), col("n_total"),
        guarded(round((aNum / (kD - lit(1.0))) /
          (lit(1.0) + lit(2.0) * (kD - lit(2.0)) / (kD * kD - lit(1.0)) *
            col("_C")), 6)).as("f_stat"),
        (col("k") - 1).cast("long").as("df1"),
        guarded(round((kD * kD - lit(1.0)) / (lit(3.0) * col("_C")), 6))
          .as("df2"))
  }

  /** Kruskal–Wallis H test — the rank-based k-group location test
    * (non-parametric one-way ANOVA). The standard "did the metric
    * distribution differ across variants?" test when normality can't
    * be assumed — the k-group generalization of Mann–Whitney, with
    * the tie-corrected statistic
    *
    *   H = [ 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1) ] / (1 − ΣT/(N³−N))
    *
    * where R_g is the group's midrank sum and T = Σ_v (t_v³ − t_v)
    * over tied values.
    *
    * GLOBAL midranks never sort the data: the distinct-VALUE frame
    * carries tie counts, a cumulative window over that collapsed frame
    * yields each value's doubled midrank `2·below + t + 1` exactly
    * (the q_ks_test distinct-value-cum-frame idiom — |V| rows, not N),
    * and group rank sums come from the (group,value) count frame
    * joined against it. All sufficient statistics are exact integers
    * (doubled ranks; decimal(38,0) squares); the only doubles are the
    * final one-row fold over the array_sort'd k-group array, stated
    * identically in the oracle. Degenerates (k<2, N<2, single distinct
    * value → tie correction 0) mask to NULL before any division.
    * Output: ONE row (k, n_total, h_stat, df).
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    metric: Column): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .select(col(groupCol).as("_g"), metricLong(metric).as("_x"))
    import org.apache.spark.sql.expressions.Window
    val vals = base.groupBy("_x").agg(count(lit(1)).as("_t"))
    val below = Window.orderBy("_x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals
      .withColumn("_u",
        (lit(2) * coalesce(sum(col("_t")).over(below), lit(0L)) +
          col("_t") + 1).cast("long"))
    val gv = base.groupBy("_g", "_x").agg(count(lit(1)).as("_c"))
    val per = gv.join(ranked, "_x")
      .groupBy("_g")
      .agg(sum(col("_c")).cast("long").as("_n"),
        sum(decMul(col("_c"), col("_u"))).as("_su"))
    val ties = vals.agg(
      sum((decMul(col("_t"), col("_t")) * col("_t").cast("decimal(19,0)") -
          col("_t").cast("decimal(19,0)")).cast("decimal(38,0)")).as("_tt"),
      count(lit(1)).as("_nv"))
    val folded = per.agg(count(lit(1)).as("k"),
        sum(col("_n")).cast("long").as("n_total"),
        array_sort(collect_list(struct(col("_g").cast("string").as("_g"),
          col("_n"), col("_su")))).as("_a"))
      .crossJoin(broadcast(ties))
    val nD = col("n_total").cast("double")
    val sr = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + s.getField("_su").cast("double") * s.getField("_su").cast("double") /
        (lit(4.0) * s.getField("_n").cast("double")))
    val h = lit(12.0) / (nD * (nD + lit(1.0))) * sr -
      lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - col("_tt").cast("double") / (nD * nD * nD - nD)
    val deg = col("k") < 2 || col("n_total") < 2 || col("_nv") < 2
    folded.select(col("k"), col("n_total"),
      when(deg, lit(null).cast("double"))
        .otherwise(round(h / corr, 6)).as("h_stat"),
      (col("k") - 1).cast("long").as("df"))
  }

  /** Dunn's post-hoc test — the pairwise follow-up a significant
    * [[kruskalWallis]] H demands ("WHICH groups differ?"): for every
    * group pair, z_ij = (R̄_i − R̄_j) / √(σ²·(1/n_i + 1/n_j)) on the
    * GLOBAL midranks, with the tie-corrected variance
    * σ² = N(N+1)/12 − ΣT/(12(N−1)). Running pairwise Mann–Whitney
    * instead (each pair re-ranked on its own subset) is the classic
    * post-hoc mistake — Dunn keeps the joint ranking. (Multiplicity
    * control composes downstream: feed |z| through [[bhFdr]] or a
    * Bonferroni cut; this emits the raw statistics.)
    *
    * Same exact-integer spine as kruskalWallis (doubled global
    * midranks from the distinct-value cum frame; decimal rank sums);
    * the pair grid is the k-row group-summary self-join on g1 < g2
    * ([[pairwiseContrasts]] shape). Degenerates (N < 2, a single
    * distinct value → σ² = 0) mask z to NULL.
    * Output: one row per pair (g1, g2, n1, n2, z_stat).
    */
  def dunnPosthoc(df: DataFrame, groupCol: String,
                  metric: Column): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .select(col(groupCol).cast("string").as("_g"), metricLong(metric).as("_x"))
    import org.apache.spark.sql.expressions.Window
    val vals = base.groupBy("_x").agg(count(lit(1)).as("_t"))
    val below = Window.orderBy("_x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals.withColumn("_u",
      (lit(2) * coalesce(sum(col("_t")).over(below), lit(0L)) +
        col("_t") + 1).cast("long"))
    val gv = base.groupBy("_g", "_x").agg(count(lit(1)).as("_c"))
    val per = gv.join(ranked, "_x")
      .groupBy("_g")
      .agg(sum(col("_c")).cast("long").as("_n"),
        sum(decMul(col("_c"), col("_u"))).as("_su"))
    val ties = vals.agg(
      sum((decMul(col("_t"), col("_t")) * col("_t").cast("decimal(19,0)") -
          col("_t").cast("decimal(19,0)")).cast("decimal(38,0)")).as("_tt"),
      count(lit(1)).as("_nv"),
      sum(col("_t")).cast("long").as("_nn"))
    val l = per.select(col("_g").as("g1"), col("_n").as("_n1"),
      col("_su").as("_su1"))
    val r = per.select(col("_g").as("g2"), col("_n").as("_n2"),
      col("_su").as("_su2"))
    val pairs = l.join(r, col("g1") < col("g2"))
      .crossJoin(broadcast(ties))
    val nD = col("_nn").cast("double")
    val n1D = col("_n1").cast("double"); val n2D = col("_n2").cast("double")
    // doubled midranks: R̄ = su/(2n)
    val r1 = col("_su1").cast("double") / (lit(2.0) * n1D)
    val r2 = col("_su2").cast("double") / (lit(2.0) * n2D)
    val s2 = nD * (nD + lit(1.0)) / lit(12.0) -
      col("_tt").cast("double") / (lit(12.0) * (nD - lit(1.0)))
    val deg = col("_nn") < 2 || col("_nv") < 2
    pairs.select(col("g1"), col("g2"),
      col("_n1").as("n1"), col("_n2").as("n2"),
      when(deg, lit(null).cast("double"))
        .otherwise(round((r1 - r2) /
          sqrt(s2 * (lit(1.0) / n1D + lit(1.0) / n2D)), 6)).as("z_stat"))
  }

  /** Brown–Forsythe test (Levene's test with the median center) —
    * equality of VARIANCES across k groups, the robust pre-check
    * before pooling or before trusting an equal-variance ANOVA:
    * one-way ANOVA F on z_ij = |x_ij − median_g|.
    *
    * Exact-integer spine: the per-group median is the DOUBLED order
    * statistic x_(⌊(n+1)/2⌋) + x_(⌈(n+1)/2⌉) (two row_number picks on
    * the group-partitioned sort — no percentile_approx), so
    * 2z = |2x − med2| stays a LONG; group sums of 2z and (2z)² are
    * decimal(38,0); the F ratio's factor-of-4 scale cancels between
    * numerator and denominator. The within-group zero-variance
    * degenerate is decided on exact integers (Σ_g n_g·S2_g − S1_g² = 0)
    * before the double fold evaluates. Output: ONE row
    * (k, n_total, f_stat, df1, df2).
    */
  def brownForsythe(df: DataFrame, groupCol: String,
                    metric: Column): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .select(col(groupCol).as("_g"), metricLong(metric).as("_x"))
    import org.apache.spark.sql.expressions.Window
    val wg = Window.partitionBy("_g").orderBy("_x")
    val med = base
      .withColumn("_rn", row_number().over(wg))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_g")))
      .groupBy("_g")
      .agg((sum(when(col("_rn") === expr("(_n + 1) div 2"), col("_x"))) +
            sum(when(col("_rn") === expr("(_n + 2) div 2"), col("_x"))))
        .cast("long").as("_med2"))
    val per = base.join(broadcast(med), "_g")
      .withColumn("_z", abs(lit(2) * col("_x") - col("_med2")).cast("long"))
      .groupBy("_g")
      .agg(count(lit(1)).as("_n"),
        sum(col("_z").cast("decimal(38,0)")).as("_s"),
        sum(decMul(col("_z"), col("_z"))).as("_s2"))
    val folded = per.agg(count(lit(1)).as("k"),
      sum(col("_n")).cast("long").as("n_total"),
      max(when(col("_n") < 2, 1)).as("_tiny"),
      sum(col("_n").cast("decimal(38,0)") * col("_s2") - col("_s") * col("_s"))
        .as("_wss"),
      array_sort(collect_list(struct(col("_g").cast("string").as("_g"),
        col("_n"), col("_s"), col("_s2")))).as("_a"))
    val nD = col("n_total").cast("double")
    val kD = col("k").cast("double")
    val deg = col("k") < 2 || col("n_total") <= col("k") ||
      col("_tiny").isNotNull || col("_wss") === lit(0).cast("decimal(38,0)")
    def guarded(c: Column) = when(deg, lit(null).cast("double")).otherwise(c)
    val grand = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + s.getField("_s").cast("double")) / nD
    val withG = folded.withColumn("_grand", guarded(grand))
    val num = aggregate(col("_a"), lit(0.0), (a, s) => {
      val m = s.getField("_s").cast("double") / s.getField("_n").cast("double")
      val d = m - col("_grand")
      a + s.getField("_n").cast("double") * d * d
    })
    val den = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + s.getField("_s2").cast("double") -
        s.getField("_s").cast("double") * s.getField("_s").cast("double") /
          s.getField("_n").cast("double"))
    withG.select(col("k"), col("n_total"),
      guarded(round((nD - kD) / (kD - lit(1.0)) * num / den, 6)).as("f_stat"),
      (col("k") - 1).cast("long").as("df1"),
      (col("n_total") - col("k")).cast("long").as("df2"))
  }

  /** McNemar's test for paired binary outcomes — "did the same units
    * flip between condition A and condition B?" (pre/post feature
    * launch conversion, two model versions' per-example pass/fail).
    * Only the DISCORDANT pairs carry signal:
    *
    *   χ² = (b₁₀ − b₀₁)² / (b₁₀ + b₀₁)
    *
    * plus the Edwards continuity-corrected variant
    * (|b₁₀−b₀₁| − 1)² / (b₁₀+b₀₁), floored at 0. One per-unit agg
    * (max-of-indicator collapses each unit's events to its two binary
    * flags) + one 1-row count agg — fully map-side-combinable, no
    * window, no join. Zero discordant pairs masks both statistics to
    * NULL. Output: ONE row (n_units, b10, b01, chi2, chi2_cc).
    */
  def mcnemar(df: DataFrame, unitCol: String, aCond: Column,
              bCond: Column): DataFrame = {
    val per = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(max(when(aCond, 1L).otherwise(0L)).as("_a"),
        max(when(bCond, 1L).otherwise(0L)).as("_b"))
    val agg0 = per.agg(count(lit(1)).as("n_units"),
      sum(when(col("_a") === 1 && col("_b") === 0, 1L).otherwise(0L))
        .cast("long").as("b10"),
      sum(when(col("_a") === 0 && col("_b") === 1, 1L).otherwise(0L))
        .cast("long").as("b01"))
    val disc = (col("b10") + col("b01")).cast("double")
    val d = (col("b10") - col("b01")).cast("double")
    val dc = greatest(abs(d) - lit(1.0), lit(0.0))
    val deg = col("b10") + col("b01") === 0
    agg0.select(col("n_units"), col("b10"), col("b01"),
      when(deg, lit(null).cast("double"))
        .otherwise(round(d * d / disc, 6)).as("chi2"),
      when(deg, lit(null).cast("double"))
        .otherwise(round(dc * dc / disc, 6)).as("chi2_cc"))
  }

  /** Mixture-SPRT always-valid p-value over a daily A/B stream
    * (Johari et al., "Peeking at A/B tests") — the sequential-testing
    * answer to "can I look at the dashboard every day?": a mixture
    * likelihood ratio Λ_d that is a supermartingale under H₀, so
    * p_d = min(1, 1/max Λ) is valid at EVERY stopping time, unlike the
    * fixed-horizon z-test peeking destroys.
    *
    * Arms are md5-parity deterministic ([[Sampling.hashBucket]]);
    * per-day arm counts are exact integers, cumulated by one ordered
    * window over the |days|-row frame. The Gaussian-mixture ratio is
    * reported in LOG domain (`ln` has cross-engine parity precedent;
    * `exp` does not):
    *
    *   ln Λ_d = ½·ln(V/(V+τ²)) + Z²τ² / (2V(V+τ²))
    *
    * with Z the proportion difference and V the pooled binomial
    * variance — per-row doubles from exact integer sums, so the
    * running max (order-independent) is engine-identical. neg_log_p =
    * max(0, running max ln Λ); p = exp(−neg_log_p) client-side. Days
    * where either arm is empty or pooled variance is exactly zero
    * (decided on integers) mask to NULL and are skipped by the running
    * max. Output per day: (day, n_t, s_t, n_c, s_c, log_lambda,
    * neg_log_p).
    */
  def alwaysValidP(df: DataFrame, unitCol: String, tsCol: String,
                   success: Column, tauSq: Double = 0.01): DataFrame = {
    val base = df.filter(col(unitCol).isNotNull && col(tsCol).isNotNull)
      .select(date_trunc("day", col(tsCol)).as("day"),
        (Sampling.hashBucket(col(unitCol), 2) === 1).as("_t"),
        when(success, 1L).otherwise(0L).as("_x"))
    val daily = base.groupBy("day").agg(
      sum(when(col("_t"), 1L).otherwise(0L)).cast("long").as("_nt"),
      sum(when(col("_t"), col("_x")).otherwise(0L)).cast("long").as("_st"),
      sum(when(!col("_t"), 1L).otherwise(0L)).cast("long").as("_nc"),
      sum(when(!col("_t"), col("_x")).otherwise(0L)).cast("long").as("_sc"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("day"),
      sum("_nt").over(w).cast("long").as("n_t"),
      sum("_st").over(w).cast("long").as("s_t"),
      sum("_nc").over(w).cast("long").as("n_c"),
      sum("_sc").over(w).cast("long").as("s_c"))
    val nt = col("n_t").cast("double"); val nc = col("n_c").cast("double")
    val s = (col("s_t") + col("s_c")).cast("double")
    val n = (col("n_t") + col("n_c")).cast("double")
    val pPool = s / n
    val z = col("s_t").cast("double") / nt - col("s_c").cast("double") / nc
    val v = pPool * (lit(1.0) - pPool) * (lit(1.0) / nt + lit(1.0) / nc)
    val tau = lit(tauSq)
    val logLam = lit(0.5) * log(v / (v + tau)) +
      z * z * tau / (lit(2.0) * v * (v + tau))
    // degenerate days decided on exact integers BEFORE any division
    val deg = col("n_t") === 0 || col("n_c") === 0 ||
      col("s_t") + col("s_c") === 0 ||
      col("s_t") + col("s_c") === col("n_t") + col("n_c")
    val staged = cum.withColumn("_ll", when(deg, lit(null).cast("double"))
      .otherwise(logLam))
    staged.select(col("day"), col("n_t"), col("s_t"), col("n_c"), col("s_c"),
      round(col("_ll"), 6).as("log_lambda"),
      when(max(col("_ll")).over(w).isNull, lit(null).cast("double"))
        .otherwise(round(greatest(lit(0.0), max(col("_ll")).over(w)), 6))
        .as("neg_log_p"))
  }

  /** Cochran's Q test — the k-treatment generalization of [[mcnemar]]
    * for matched binary outcomes ("did the same users convert under
    * all k exposures?"). With row totals R_i per unit and column
    * totals C_j per treatment:
    *
    *   Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)
    *
    * — BOTH numerator and denominator are exact integers (one per-unit
    * indicator agg, one 1-row fold; k is a compile-time constant), so
    * the only double is the final division. All-concordant data
    * (denominator exactly 0) masks to NULL. Output: ONE row
    * (k, n_units, q_stat, df).
    */
  def cochranQ(df: DataFrame, unitCol: String,
               treatments: Seq[Column]): DataFrame = {
    val k = treatments.size
    require(k >= 2, "need at least 2 treatments")
    val inds = treatments.zipWithIndex.map { case (c, i) =>
      max(when(c, 1L).otherwise(0L)).as(s"_x$i")
    }
    val per = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(inds.head, inds.tail: _*)
      .withColumn("_r",
        treatments.indices.map(i => col(s"_x$i")).reduce(_ + _))
    val aggs =
      treatments.indices.map(i =>
        sum(col(s"_x$i")).cast("decimal(38,0)").as(s"_c$i")) ++
      Seq(count(lit(1)).as("n_units"),
        sum(col("_r")).cast("decimal(38,0)").as("_n"),
        sum(decMul(col("_r"), col("_r"))).as("_r2"))
    val agg0 = per.agg(aggs.head, aggs.tail: _*)
    val sumC2 = treatments.indices
      .map(i => col(s"_c$i") * col(s"_c$i"))
      .reduce(_ + _)
    val num = lit(k - 1) * (lit(k) * sumC2 - col("_n") * col("_n"))
    val den = lit(k) * col("_n") - col("_r2")
    agg0.select(lit(k.toLong).as("k"), col("n_units"),
      when(den === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as("q_stat"),
      lit((k - 1).toLong).as("df"))
  }

  /** Friedman test — the rank-based k-treatment test over MATCHED
    * blocks ([[kruskalWallis]] is unmatched groups; [[cochranQ]] is
    * matched BINARY): rank the k per-treatment values WITHIN each
    * block, then test whether treatment rank sums diverge. The
    * general tie-handling form, stated in DOUBLED midranks u = 2r so
    * every sufficient statistic is an exact integer (the ×4 scale
    * cancels between numerator and denominator):
    *
    *   χ²_F = (k−1)·(Σ_j U_j² − n²k(k+1)²) / (Σ_ij u_ij² − nk(k+1)²)
    *
    * Blocks are COMPLETE by construction: each unit's k treatment
    * values come from one conditional-count agg (a missing exposure is
    * a 0 count — the matched-design contract), exploded to long form
    * and midranked by a block-partitioned window. All-tied-everywhere
    * data (denominator exactly 0) masks to NULL. Output: ONE row
    * (k, n_blocks, chi2_f, df).
    */
  def friedman(df: DataFrame, unitCol: String,
               treatments: Seq[Column]): DataFrame = {
    val k = treatments.size
    require(k >= 2, "need at least 2 treatments")
    val cnts = treatments.zipWithIndex.map { case (c, i) =>
      sum(when(c, 1L).otherwise(0L)).cast("long").as(s"_v$i")
    }
    val per = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(cnts.head, cnts.tail: _*)
    val long = per.select(col("_u"),
      explode(array(treatments.indices.map(i =>
        struct(lit(i.toLong).as("_j"), col(s"_v$i").as("_v"))): _*)).as("_s"))
      .select(col("_u"), col("_s").getField("_j").as("_j"),
        col("_s").getField("_v").as("_v"))
    import org.apache.spark.sql.expressions.Window
    val u = (lit(2) * rank().over(Window.partitionBy("_u").orderBy("_v")) +
      count(lit(1)).over(Window.partitionBy("_u", "_v")) - 1).cast("long")
    val ranked = long.withColumn("_r", u)
    val perJ = ranked.groupBy("_j")
      .agg(sum(col("_r")).cast("decimal(38,0)").as("_uj"),
        sum(decMul(col("_r"), col("_r"))).as("_u2"),
        count(lit(1)).as("_n"))
    val folded = perJ.agg(
      first(col("_n")).as("n_blocks"),
      sum(col("_uj") * col("_uj")).as("_su2"),
      sum(col("_u2")).as("_uu"))
    val kL = lit(k.toLong).cast("decimal(38,0)")
    val nDec = col("n_blocks").cast("decimal(38,0)")
    val kp1sq = lit((k + 1).toLong * (k + 1)).cast("decimal(38,0)")
    val num = lit(k - 1) * (col("_su2") - nDec * nDec * kL * kp1sq)
    val den = col("_uu") - nDec * kL * kp1sq
    folded.select(lit(k.toLong).as("k"), col("n_blocks"),
      when(den === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as("chi2_f"),
      lit((k - 1).toLong).as("df"))
  }

  /** Classic one-way ANOVA F (equal-variance pooling) — the textbook
    * k-group mean test completing the family: [[welchAnova]] drops the
    * equal-variance assumption, [[brownForsythe]] TESTS that
    * assumption, [[kruskalWallis]] drops normality; this is the
    * baseline the others are judged against (and the right test when
    * variances genuinely pool).
    *
    * Same spine as [[brownForsythe]] without the median centering:
    * exact decimal(38,0) per-group sums, integer-decided degenerates,
    * one sorted k-group fold for the double ratio. Output: ONE row
    * (k, n_total, f_stat, df1, df2).
    */
  def anovaF(df: DataFrame, groupCol: String, metric: Column): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(metric.cast("decimal(38,0)")).as("_s"),
        sum(decMul(metric, metric)).as("_s2"))
    val folded = per.agg(count(lit(1)).as("k"),
      sum(col("_n")).cast("long").as("n_total"),
      sum(col("_n").cast("decimal(38,0)") * col("_s2") - col("_s") * col("_s"))
        .as("_wss"),
      array_sort(collect_list(struct(col("_g").cast("string").as("_g"),
        col("_n"), col("_s"), col("_s2")))).as("_a"))
    val nD = col("n_total").cast("double")
    val kD = col("k").cast("double")
    val deg = col("k") < 2 || col("n_total") <= col("k") ||
      col("_wss") === lit(0).cast("decimal(38,0)")
    def guarded(c: Column) = when(deg, lit(null).cast("double")).otherwise(c)
    val grand = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + s.getField("_s").cast("double")) / nD
    val withG = folded.withColumn("_grand", guarded(grand))
    val num = aggregate(col("_a"), lit(0.0), (a, s) => {
      val m = s.getField("_s").cast("double") / s.getField("_n").cast("double")
      val d = m - col("_grand")
      a + s.getField("_n").cast("double") * d * d
    })
    val den = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + s.getField("_s2").cast("double") -
        s.getField("_s").cast("double") * s.getField("_s").cast("double") /
          s.getField("_n").cast("double"))
    withG.select(col("k"), col("n_total"),
      guarded(round((nD - kD) / (kD - lit(1.0)) * num / den, 6)).as("f_stat"),
      (col("k") - 1).cast("long").as("df1"),
      (col("n_total") - col("k")).cast("long").as("df2"))
  }

  /** Odds ratio with the Woolf (log-scale) confidence interval — the
    * effect-size report for a 2×2 exposure/outcome table ([[chiSquare]]
    * says WHETHER they associate; this says HOW STRONGLY, in the units
    * clinicians and growth teams quote). Kept entirely in LN domain
    * (ln has cross-engine parity precedent; exp does not):
    *
    *   ln OR = ln(ad/bc),  SE = √(1/a+1/b+1/c+1/d),
    *   CI = ln OR ± 1.96·SE
    *
    * One per-unit indicator agg + one 1-row cell count — both
    * map-side. Any zero cell masks the ratio outputs (the Haldane
    * +0.5 correction is a documented caller-side variant, not a
    * silent default). Output: ONE row
    * (n_units, a, b, c, d, ln_or, se, ci_lo, ci_hi).
    */
  def oddsRatio(df: DataFrame, unitCol: String, exposed: Column,
                outcome: Column): DataFrame = {
    val per = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(max(when(exposed, 1L).otherwise(0L)).as("_e"),
        max(when(outcome, 1L).otherwise(0L)).as("_o"))
    val cells = per.agg(count(lit(1)).as("n_units"),
      sum(when(col("_e") === 1 && col("_o") === 1, 1L).otherwise(0L))
        .cast("long").as("a"),
      sum(when(col("_e") === 1 && col("_o") === 0, 1L).otherwise(0L))
        .cast("long").as("b"),
      sum(when(col("_e") === 0 && col("_o") === 1, 1L).otherwise(0L))
        .cast("long").as("c"),
      sum(when(col("_e") === 0 && col("_o") === 0, 1L).otherwise(0L))
        .cast("long").as("d"))
    val lnOr = log(col("a").cast("double") * col("d").cast("double") /
      (col("b").cast("double") * col("c").cast("double")))
    val se = sqrt(lit(1.0) / col("a").cast("double") +
      lit(1.0) / col("b").cast("double") +
      lit(1.0) / col("c").cast("double") +
      lit(1.0) / col("d").cast("double"))
    val deg = col("a") === 0 || col("b") === 0 || col("c") === 0 ||
      col("d") === 0
    def guarded(x: Column) = when(deg, lit(null).cast("double")).otherwise(x)
    cells.select(col("n_units"), col("a"), col("b"), col("c"), col("d"),
      guarded(round(lnOr, 6)).as("ln_or"),
      guarded(round(se, 6)).as("se"),
      guarded(round(lnOr - lit(1.96) * se, 6)).as("ci_lo"),
      guarded(round(lnOr + lit(1.96) * se, 6)).as("ci_hi"))
  }

  /** Cumulative gains table — the model-eval staple "if we target the
    * top d deciles by score, what share of all positives do we
    * capture?" (the discrete Lorenz/lift view product teams read).
    * Deciles come from the exact cumulative rule on the score's
    * DISTINCT-VALUE frame (`10·below div n` — the RFM discipline:
    * ties share a decile, no row-order `ntile`), cumulation runs from
    * the TOP decile down, and capture is exact integer ppm. Output:
    * one row per non-empty decile
    * (decile, n_units, n_pos, cum_pos, capture_ppm).
    */
  def gainsTable(df: DataFrame, unitCol: String, score: Column,
                 outcome: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(sum(when(score.isNotNull, score).otherwise(lit(0L)))
        .cast("long").as("_s"),
        max(when(outcome, 1L).otherwise(0L)).as("_y"))
    val vals = per.groupBy("_s").agg(count(lit(1)).as("_t"))
    val below = Window.orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dec = vals
      .withColumn("_below", coalesce(sum(col("_t")).over(below), lit(0L)))
      .withColumn("_n", sum(col("_t")).over(tot))
      .select(col("_s"), expr("(10 * _below) div _n").cast("long").as("decile"))
    val byDec = per.join(broadcast(dec), Seq("_s"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_units"),
        sum(col("_y")).cast("long").as("n_pos"))
    val wTop = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byDec
      .withColumn("cum_pos", sum(col("n_pos")).over(wTop).cast("long"))
      .withColumn("_tp", sum(col("n_pos")).over(wAll).cast("long"))
      .select(col("decile"), col("n_units"), col("n_pos"), col("cum_pos"),
        when(col("_tp") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * cum_pos) div _tp")).as("capture_ppm"))
  }

  /** One-way random-effects variance components + intraclass
    * correlation — "how much of this metric's variance is BETWEEN
    * groups vs within?" (the ANOVA estimates σ̂²_b, σ̂²_w; ICC is the
    * reliability / clustering-strength number that decides whether
    * group-level modeling, clustered standard errors, or per-group
    * baselines are warranted):
    *
    *   MSW = SSW/(N−k),  MSB = SSB/(k−1),
    *   k₀ = (N − Σn_g²/N)/(k−1),  σ̂²_b = max(0, (MSB−MSW)/k₀),
    *   ICC = σ̂²_b / (σ̂²_b + MSW)
    *
    * [[anovaF]]'s exact-sum spine plus one Σn² column; every named
    * quantity is one fixed double tree from the integers. Degenerates
    * (k<2, N≤k, all-zero within variance) mask to NULL. Output: ONE
    * row (k, n_total, ms_between, ms_within, sigma2_between, icc).
    */
  def varianceComponents(df: DataFrame, groupCol: String,
                         metric: Column): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(metric.cast("decimal(38,0)")).as("_s"),
        sum(decMul(metric, metric)).as("_s2"))
    val folded = per.agg(count(lit(1)).as("k"),
      sum(col("_n")).cast("long").as("n_total"),
      sum(decMul(col("_n"), col("_n"))).as("_nn"),
      sum(col("_n").cast("decimal(38,0)") * col("_s2") - col("_s") * col("_s"))
        .as("_wss"),
      array_sort(collect_list(struct(col("_g").cast("string").as("_g"),
        col("_n"), col("_s"), col("_s2")))).as("_a"))
    val nD = col("n_total").cast("double")
    val kD = col("k").cast("double")
    val deg = col("k") < 2 || col("n_total") <= col("k") ||
      col("_wss") === lit(0).cast("decimal(38,0)")
    def guarded(c: Column) = when(deg, lit(null).cast("double")).otherwise(c)
    val grand = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + s.getField("_s").cast("double")) / nD
    val withG = folded.withColumn("_grand", guarded(grand))
    val ssb = aggregate(col("_a"), lit(0.0), (a, s) => {
      val m = s.getField("_s").cast("double") / s.getField("_n").cast("double")
      val d = m - col("_grand")
      a + s.getField("_n").cast("double") * d * d
    })
    val ssw = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + s.getField("_s2").cast("double") -
        s.getField("_s").cast("double") * s.getField("_s").cast("double") /
          s.getField("_n").cast("double"))
    val msb = ssb / (kD - lit(1.0))
    val msw = ssw / (nD - kD)
    val k0 = (nD - col("_nn").cast("double") / nD) / (kD - lit(1.0))
    val s2b = greatest(lit(0.0), (msb - msw) / k0)
    withG.select(col("k"), col("n_total"),
      guarded(round(msb, 6)).as("ms_between"),
      guarded(round(msw, 6)).as("ms_within"),
      guarded(round(s2b, 6)).as("sigma2_between"),
      guarded(round(s2b / (s2b + msw), 6)).as("icc"))
  }

  /** Mann–Whitney U test (Wilcoxon rank-sum) with the tie-corrected
    * normal approximation — the TWO-group member of the rank family
    * ([[kruskalWallis]] generalizes it to k; [[aucExact]] reports the
    * same U as a probability). Reported as both the U statistic and
    * the z-score so callers can gate on either:
    *
    *   U = R₁ − n₁(n₁+1)/2,  z = (U − n₁n₂/2) / σ,
    *   σ² = n₁n₂/12 · [(n+1) − ΣT/(n(n−1))]
    *
    * Global midranks from the distinct-value cum frame (the
    * kruskalWallis |V|-row idiom, never a data sort); U's half-integer
    * arithmetic stays exact in doubled-rank LONGs until the final two
    * divisions. Empty side or all-tied input masks to NULL. Output:
    * ONE row (n1, n2, u_stat, z).
    */
  def mannWhitney(df: DataFrame, cond: Column, metric: Column): DataFrame = {
    val base = df.filter(metric.isNotNull)
      .select(when(cond, lit(1)).otherwise(lit(0)).as("_g"),
        metricLong(metric).as("_x"))
    import org.apache.spark.sql.expressions.Window
    val vals = base.groupBy("_x").agg(count(lit(1)).as("_t"))
    val below = Window.orderBy("_x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals.withColumn("_u",
      (lit(2) * coalesce(sum(col("_t")).over(below), lit(0L)) +
        col("_t") + 1).cast("long"))
    val gv = base.groupBy("_g", "_x").agg(count(lit(1)).as("_c"))
    val per = gv.join(ranked, "_x").agg(
      sum(when(col("_g") === 1, col("_c")).otherwise(0L)).cast("long")
        .as("n1"),
      sum(when(col("_g") === 0, col("_c")).otherwise(0L)).cast("long")
        .as("n2"),
      sum(when(col("_g") === 1, decMul(col("_c"), col("_u")))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("_su1"))
    val ties = vals.agg(
      sum((decMul(col("_t"), col("_t")) * col("_t").cast("decimal(19,0)") -
          col("_t").cast("decimal(19,0)")).cast("decimal(38,0)")).as("_tt"),
      count(lit(1)).as("_nv"))
    val j = per.crossJoin(broadcast(ties))
    val n1D = col("n1").cast("double"); val n2D = col("n2").cast("double")
    val nD = n1D + n2D
    // doubled ranks: R1 = su1/2, so U = (su1 − 2·n1(n1+1)/2) / 2
    val u = (col("_su1").cast("double") -
      n1D * (n1D + lit(1.0))) / lit(2.0)
    val mu = n1D * n2D / lit(2.0)
    val sig2 = n1D * n2D / lit(12.0) *
      ((nD + lit(1.0)) - col("_tt").cast("double") / (nD * (nD - lit(1.0))))
    val deg = col("n1") === 0 || col("n2") === 0 || col("_nv") < 2
    j.select(col("n1"), col("n2"),
      when(deg, lit(null).cast("double")).otherwise(round(u, 6)).as("u_stat"),
      when(deg, lit(null).cast("double"))
        .otherwise(round((u - mu) / sqrt(sig2), 6)).as("z"))
  }

  /** Two-sample Cramér–von Mises statistic — the whole-distribution
    * companion to [[ksTest]]: KS reacts to the single largest CDF gap,
    * CvM integrates EVERY gap, so it catches broad mild shifts KS
    * misses (the classic pairing on a drift dashboard). On the
    * distinct-value cum frame with tie weights t_k:
    *
    *   T = Σ_k t_k·(n₂·F̂₁ₖ − n₁·F̂₂ₖ)² / (N²·n₁·n₂)
    *
    * where the inner difference is the CROSS-MULTIPLIED integer
    * (c1cum·n₂ − c2cum·n₁) — the whole sum is ONE exact decimal, and
    * the only double is the final division. Same |V|-row frame as
    * [[mannWhitney]], never a data sort. Empty side masks to NULL.
    * Output: ONE row (n1, n2, t_stat).
    *
    * Scale note: the integer numerator grows as N⁴·|V| — beyond ~10⁹
    * rows shard the metric domain upstream and combine the per-shard
    * sums (decimal(38) holds to ~10⁹ comfortably).
    */
  def cramerVonMises(df: DataFrame, cond: Column, metric: Column): DataFrame = {
    val base = df.filter(metric.isNotNull)
      .select(when(cond, lit(1)).otherwise(lit(0)).as("_g"),
        metricLong(metric).as("_x"))
    import org.apache.spark.sql.expressions.Window
    val vals = base.groupBy("_x").agg(
      sum(when(col("_g") === 1, 1L).otherwise(0L)).cast("long").as("_c1"),
      sum(when(col("_g") === 0, 1L).otherwise(0L)).cast("long").as("_c2"))
    val w = Window.orderBy("_x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals
      .withColumn("_f1", sum(col("_c1")).over(w).cast("long"))
      .withColumn("_f2", sum(col("_c2")).over(w).cast("long"))
    val tot = vals.agg(sum(col("_c1")).cast("long").as("n1"),
      sum(col("_c2")).cast("long").as("n2"))
    val num = cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        ((col("_c1") + col("_c2")).cast("decimal(38,0)") *
          (col("_f1").cast("decimal(38,0)") * col("n2") -
           col("_f2").cast("decimal(38,0)") * col("n1")) *
          (col("_f1").cast("decimal(38,0)") * col("n2") -
           col("_f2").cast("decimal(38,0)") * col("n1"))).as("_term"))
      .groupBy("n1", "n2")
      .agg(sum(col("_term")).as("_num"))
    val nD = (col("n1") + col("n2")).cast("double")
    val deg = col("n1") === 0 || col("n2") === 0
    num.select(col("n1"), col("n2"),
      when(deg, lit(null).cast("double"))
        .otherwise(round(col("_num").cast("double") /
          (nD * nD * col("n1").cast("double") * col("n2").cast("double")),
          6)).as("t_stat"))
  }

  /** Bartlett's test for variance homogeneity — the parametric,
    * more-powerful-under-normality sibling of [[brownForsythe]]
    * (Bartlett is the right screen when the data IS near-normal; BF
    * when robustness matters — shipping both mirrors the classic
    * toolbox):
    *
    *   χ² = [(N−k)·ln Sp² − Σ(nᵢ−1)·ln Sᵢ²] / C,
    *   C = 1 + (Σ 1/(nᵢ−1) − 1/(N−k)) / (3(k−1))
    *
    * Variances flow from exact decimal sums; `ln` has cross-engine
    * parity precedent (the fs_linkage/dist_shift discipline). One
    * group agg → one sorted k-row fold. Degenerates (k<2, any n<2,
    * any exact-integer zero variance) mask before any log evaluates.
    * Output: ONE row (k, n_total, chi2, df).
    */
  def bartlett(df: DataFrame, groupCol: String, metric: Column): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(metric.cast("decimal(38,0)")).as("_s"),
        sum(decMul(metric, metric)).as("_s2"))
    val folded = per.agg(count(lit(1)).as("k"),
      sum(col("_n")).cast("long").as("n_total"),
      max(when(col("_n") < 2, 1)).as("_tiny"),
      max(when(col("_n") >= 2 &&
        col("_n").cast("decimal(38,0)") * col("_s2") === col("_s") * col("_s"),
        1)).as("_zerovar"),
      array_sort(collect_list(struct(col("_g").cast("string").as("_g"),
        col("_n"), col("_s"), col("_s2")))).as("_a"))
    val nD = col("n_total").cast("double")
    val kD = col("k").cast("double")
    val deg = col("k") < 2 || col("_tiny").isNotNull ||
      col("_zerovar").isNotNull
    def guarded(c: Column) = when(deg, lit(null).cast("double")).otherwise(c)
    def nI(s: Column) = s.getField("_n").cast("double")
    def varI(s: Column) =
      (s.getField("_s2").cast("double") -
        s.getField("_s").cast("double") * s.getField("_s").cast("double") /
          nI(s)) / (nI(s) - lit(1.0))
    val pooledNum = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + (nI(s) - lit(1.0)) * varI(s))
    val lnSum = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + (nI(s) - lit(1.0)) * log(varI(s)))
    val invSum = aggregate(col("_a"), lit(0.0), (a, s) =>
      a + lit(1.0) / (nI(s) - lit(1.0)))
    val withP = folded.withColumn("_sp2", guarded(pooledNum / (nD - kD)))
    val num = (nD - kD) * log(col("_sp2")) - lnSum
    val c = lit(1.0) + (invSum - lit(1.0) / (nD - kD)) /
      (lit(3.0) * (kD - lit(1.0)))
    withP.select(col("k"), col("n_total"),
      guarded(round(num / c, 6)).as("chi2"),
      (col("k") - 1).cast("long").as("df"))
  }

  /** Pairwise post-hoc contrasts — after a k-group test rejects, WHICH
    * pairs differ? One row per unordered group pair with the pooled-SE
    * two-sample t (the Fisher-LSD contrast; feed the t's into
    * [[bhFdr]] for multiplicity control — the composable-building-
    * block discipline). The k-row exact-sum frame self-joins on
    * g1 < g2 — k(k−1)/2 rows, never touching the data again.
    * Degenerate pairs (either n<2, pooled variance exactly 0) mask to
    * NULL. Output: (g1, g2, n1, n2, mean_diff, t_stat, df).
    */
  def pairwiseContrasts(df: DataFrame, groupCol: String,
                        metric: Column): DataFrame = {
    val per = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .groupBy(col(groupCol).cast("string").as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(metric.cast("decimal(38,0)")).as("_s"),
        sum(decMul(metric, metric)).as("_s2"))
    val l = per.select(col("_g").as("g1"), col("_n").as("_n1"),
      col("_s").as("_s1"), col("_s2").as("_s21"))
    val r = per.select(col("_g").as("g2"), col("_n").as("_n2"),
      col("_s").as("_s2b"), col("_s2").as("_s22"))
    val pairs = l.join(broadcast(r), col("g1") < col("g2"))
    val n1 = col("_n1").cast("double"); val n2 = col("_n2").cast("double")
    val m1 = col("_s1").cast("double") / n1
    val m2 = col("_s2b").cast("double") / n2
    val ss1 = col("_s21").cast("double") -
      col("_s1").cast("double") * col("_s1").cast("double") / n1
    val ss2 = col("_s22").cast("double") -
      col("_s2b").cast("double") * col("_s2b").cast("double") / n2
    val sp2 = (ss1 + ss2) / (n1 + n2 - lit(2.0))
    // pooled variance exactly zero ⇔ both groups' integer sums are
    // degenerate: n·Σx² == (Σx)² on each side
    val zerovar =
      col("_n1").cast("decimal(38,0)") * col("_s21") ===
        col("_s1") * col("_s1") &&
      col("_n2").cast("decimal(38,0)") * col("_s22") ===
        col("_s2b") * col("_s2b")
    val deg = col("_n1") < 2 || col("_n2") < 2 || zerovar
    pairs.select(col("g1"), col("g2"),
      col("_n1").as("n1"), col("_n2").as("n2"),
      round(m1 - m2, 6).as("mean_diff"),
      when(deg, lit(null).cast("double"))
        .otherwise(round((m1 - m2) /
          sqrt(sp2 * (lit(1.0) / n1 + lit(1.0) / n2)), 6)).as("t_stat"),
      (col("_n1") + col("_n2") - 2).cast("long").as("df"))
  }

  /** Grubbs' test statistic per group — the classic single-outlier
    * screen G = max|x − x̄| / s, with the suspect value itself, so a
    * metrics-quality audit can both rank series by outlier severity
    * and name the offending observation.
    *
    * Two passes over the data (group sums, then the deviation argmax
    * against the broadcast k-row sums frame) — no window over the raw
    * rows. The argmax is exact-integer: |n·x − Σx| as decimal, struct
    * max tie-broken by the larger value. G's doubles divide exact
    * sums only at the end; n<3 or exact zero variance (n·Σx² = (Σx)²)
    * masks to NULL. Output: one row per group
    * (group, n, suspect_value, g_stat).
    */
  def grubbs(df: DataFrame, groupCol: String, metric: Column): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && metric.isNotNull)
      .select(col(groupCol).as("_g"), metricLong(metric).as("_x"))
    // The suspect is argmax over x of dev = |x·n − s| = n·|x − mean|,
    // which is V-shaped in x: the per-group argmax is ALWAYS the group
    // MIN or MAX. So the two-pass shape (sum agg + broadcast join back +
    // argmax re-agg — source scanned twice, DupScan-flagged) collapses
    // to ONE aggregation carrying min/max (r14, guide §2.3). Tie on dev
    // picks the larger x — exactly the old max(struct(_dev, _x)) and the
    // oracle's ORDER BY dev DESC, x DESC.
    val agg = base.groupBy("_g").agg(count(lit(1)).as("n"),
      sum(col("_x").cast("decimal(38,0)")).as("_s"),
      sum(decMul(col("_x"), col("_x"))).as("_s2"),
      min(col("_x")).as("_mn"), max(col("_x")).as("_mx"))
    def dev(x: Column) = abs(x.cast("decimal(38,0)") * col("n") - col("_s"))
    val suspect = when(dev(col("_mx")) >= dev(col("_mn")), col("_mx"))
      .otherwise(col("_mn"))
    val topDev = greatest(dev(col("_mx")), dev(col("_mn")))
    val nD = col("n").cast("double")
    val sd = sqrt((col("_s2").cast("double") -
      col("_s").cast("double") * col("_s").cast("double") / nD) /
      (nD - lit(1.0)))
    val deg = col("n") < 3 ||
      col("n").cast("decimal(38,0)") * col("_s2") === col("_s") * col("_s")
    agg.select(col("_g").as(groupCol), col("n"),
      suspect.as("suspect_value"),
      when(deg, lit(null).cast("double"))
        .otherwise(round(topDev.cast("double") / nD / sd, 6)).as("g_stat"))
  }
}
