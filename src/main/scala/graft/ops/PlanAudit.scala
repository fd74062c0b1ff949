package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType}
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
  *     scalar, a trained codebook) — both enumerated per-query in the
  *     audit spec's allowlist, everything else fails.
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

  /** query -> why an O(n*m) join node is acceptable in that entry's plan
    * (the audit allowlist enforced by `PlanAuditSpec`, surfaced in the
    * generated OPERATORS.md index).
    */
  val allowForbidden: Map[String, String] = Map(
    // exact=true / brute-force oracle baselines — quadratic BY DESIGN,
    // each paired with an audited banded/indexed twin that ships
    // (q_semdedup/q_semdedup_lsh need no entry: their CC iteration runs at
    // frame-construction time, so the audited final plan is a checkpoint
    // leaf — their pair-generation plans are exactly q_embed_dup's (exact,
    // allowlisted) and q_embed_dup_lsh's (banded, audited clean).)
    "q_embed_dup"  -> "exact=true all-pairs oracle baseline (banded twin q_embed_dup_lsh is audited)",
    "q_knn"        -> "brute-force kNN baseline (scale twins q_knn_ivf/q_knn_pq are audited)",
    "q_knn_topk_agg" -> "brute-force scoring with bounded-heap agg; pins the heap against the window plan",
    "q_knn_label_noise" -> "brute all-pairs scoring through the bounded heap (k rows/query reach the shuffle); scale path routes candidates through knnIvf cells like hardNegatives",
    "q_bitext_mine" -> "exact cross-corpus scoring regime (the oracle baseline); at scale candidates come from knnIvf/signBuckets banding per side, same margin + mutual-top-1 tail",
    "q_hard_negatives" -> "brute per-anchor scoring vs a DIFFERENT-label corpus; scale path is routing anchors through knnIvf cells first",
    "q_sem_contamination" -> "eval-set x corpus scoring; the eval set is broadcast-small by contract (thousands of rows, not corpus-scale)",
    // bounded broadcast: build side is O(1)..O(k) rows by construction,
    // so the nested loop is a map-side lookup, total volume O(n*k)
    "q_tfidf"      -> "1-row corpus-total (N docs) crossJoin for the IDF term",
    "q_keywords"   -> "1-row corpus-total crossJoin inherited from the tfIdf chain",
    "q_bm25"       -> "1-row corpus-total (N, avgdl) crossJoin",
    "q_unigram_score" -> "1-row LM-normalizer crossJoin",
    "q_bigram_lm"  -> "1-row vocab-size (Laplace denominator) crossJoin",
    "q_ppl_select" -> "1-row sample-count + (buckets-1)-row threshold crossJoins over the bigram-LM chain",
    "q_assoc_rules" -> "1-row basket-total crossJoin for support/lift",
    "q_collocations" -> "1-row token-total crossJoins (PMI normalizers)",
    "q_composition" -> "1-row corpus-total crossJoin for share-of-corpus",
    "q_chi2"       -> "1-row global-total crossJoin (contingency normalizer)",
    "q_kruskal"    -> "1-row tie-correction crossJoin (Σt³−t over the value frame)",
    "q_mann_whitney" -> "1-row tie-correction crossJoin (kruskal's Σt³−t frame at k=2)",
    "q_avg_precision" -> "1-row per-query relevant-total crossJoin (the AP denominator)",
    "q_eb_shrinkage" -> "1-row beta-prior frame (m, s from the rate MoM) crossJoined onto per-key rates",
    "q_fdr_bh" -> "1-row test-count crossJoin (the BH step-up denominator m)",
    "q_fs_linkage" -> "three 1-row u-probability frames (per-field agreement priors) broadcast onto the blocked candidate pairs",
    "q_logrank" -> "1-row totals + at-risk normalizer frames crossJoined onto the |event-times|-bounded hazard table",
    "q_pairwise_contrasts" -> "k-row group-summary self-join on g1<g2 (the k(k-1)/2 contrast grid; k = distinct groups, single digits)",
    "q_cvm" -> "1-row arm-totals crossJoin onto the distinct-value cum frame",
    "q_modularity" -> "1-row edge-count crossJoin (the 2m normalizer) onto the per-community frame",
    "q_keyness"    -> "1-row corpus-totals crossJoin (log-odds prior normalizers)",
    "q_filter_funnel" -> "1-row corpus-total crossJoin over a 6-row stage frame",
    "q_mutual_info" -> "1-row global-total crossJoin (MI normalizer)",
    "q_t_closeness" -> "m-row ordered-value frame + 1-row totals broadcast crossJoins (dense EMD grid; m = |sensitive domain|, single digits)",
    "q_kripp_alpha" -> "two 1-row frames (dropped-unit count, marginal totals) broadcast onto the 1-row coincidence aggregate",
    "q_filter_impact" -> "1-row overall-totals broadcast crossJoin (the four-fifths denominator)",
    "q_survival" -> "three 1-row broadcasts (horizon, user total, sorted hazard-term array) onto calendar-bounded frames",
    "q_jl_project" -> "k-row (16) sign-matrix broadcast — the projection is a map-side lookup, O(n*k) by construction",
    "q_jl_audit" -> "inherits the k-row sign-matrix broadcast from the jlProject chain",
    "q_ab_ztest" -> "two 1-row arm-summary frames crossJoined into the single output row",
    "q_kappa"      -> "1-row rater-total crossJoin (expected-agreement term)",
    "q_dsir"       -> "1-row per-corpus LM-normalizer crossJoin",
    "q_dist_shift" -> "1-row per-period total crossJoins (JS-divergence terms)",
    "q_mixture"    -> "1-row capacity frame crossJoin (Sampling.scala:235)",
    "q_temperature_mix" -> "1-row Σweights crossJoin (Sampling.temperatureMix)",
    "q_hybrid_rrf" -> "1-row query-vector broadcast (kNN leg) + 1-row corpus-total crossJoin (BM25 leg); fusion itself is union+agg, join-free",
    "q_rank_metrics" -> "10-row query-vector broadcast in the kNN ranking leg; the metrics themselves are equi-joins + per-query aggs",
    "q_balance_classes" -> "1-row min-class-size crossJoin (Sampling.scala:364)",
    "q_neg_sample" -> "broadcast candidate pool, |labels| rows of bounded per-label lists by contract (Sampling.scala:496)",
    "q_knn_pq"     -> "m x kCent codebook crossJoin (128 rows, constant)",
    "q_kmv_overlap" -> "pairwise join of |groups|-row KMV sketch frames — kilobytes by design, never the corpus (Sketch.scala:225)",
    "q_rolling_distinct" -> "range join over per-(key,day) KMV sketch frames, 7-day window bound — pre-aggregated, not row-scale",
    "q_kneser_ney" -> "1-row distinct-bigram-type total (continuation denominator) crossJoin",
    "q_cuped" -> "two 1-row arm frames + 1-row pooled-theta frame crossJoined into the single output row (the q_ab_ztest shape)",
    "q_exp_health" -> "two 1-row arm-summary frames crossJoined into the single output row (the q_ab_ztest shape)",
    "q_benford" -> "1-row digit-total crossJoin onto the <=9-row digit frame",
    "q_conformal" -> "1-row fit / quantile / count frames broadcast onto the split scans (cal sort is a bounded 5% sample by construction)",
    "q_matched_uplift" -> "1-row epoch-midpoint frame broadcast onto the per-unit scan (bounded-broadcast category)",
    "q_term_drift" -> "1-row per-half doc-count frame broadcast onto the term-df agg (bounded-broadcast category)",
    // r10 additions, all the same 1-row-normalizer shape
    "q_anisotropy" -> "1-row centroid-norm (ΣS²) crossJoin onto the per-vector agg",
    "q_pps_sample" -> "1-row size-total (the PPS denominator S) crossJoin onto the map-side draw",
    "q_burstiness" -> "1-row corpus doc-count (the Fano N) crossJoin onto the term agg",
    "q_neyman" -> "1-row Σweights crossJoin onto the |strata|-row quota frame (the temperatureMix shape)",
    // r11 additions, same 1-row-normalizer / k-row-grid shapes
    "q_fleiss_kappa" -> "1-row item-panel totals (N, Σs²) crossJoin onto the 1-row category fold",
    "q_query_likelihood" -> "1-row corpus-total (Σdl) crossJoin for the Dirichlet prior (the q_bm25 shape)",
    "q_mmr_select" -> "brute-force kNN candidate generation (broadcast 10-query side — the q_knn baseline); the MMR steps themselves are per-row array math",
    "q_dunn" -> "k-row group-summary self-join on g1<g2 + 1-row tie-frame crossJoin (the q_pairwise_contrasts shape)",
    // r13 additions, the same bounded-broadcast shapes
    "q_rr_freq" -> "k-row domain-size + 1-row corpus-total crossJoins (the LDP channel normalizers; k = |categories|, single digits)",
    "q_dp_quantile" -> "1-row total-count crossJoin onto the 64-row bin frame + 1-row true-bin crossJoin into the single output row",
    "q_e2lsh" -> "nTables-row (8) sign-matrix broadcast crossJoin — the q_jl_project shape, planned once per self-join side; the corpus join itself is the audited (table, cell) equi-join",
    "q_tail_dep" -> "two 1-row rank-threshold frames + the 1-row total broadcast onto the per-order frame (the bounded-broadcast category)"
  )


  /** query -> why a small-estimate shuffle join is acceptable there. */
  val allowMissedBroadcast: Map[String, String] = Map.empty

  /** Dense-stage width pins (r12 verdict #1, enforced by
    * `WidthAuditSpec`): for each registry entry whose construction
    * against a SINGLE-row-group fixture fires `Par.spreadToShuffleWidth`
    * round-robin spreads, the exact number it must fire. Dropping a
    * guard wrap from any operator on the entry's path lowers the count
    * and fails the audit; a new dense stage raises it and needs an
    * explicit pin raise. An entry's count is the `width_spreads` field
    * of its `graft.QueryProfile` record against the single-row-group
    * copy `WidthAuditSpec` writes (run with SPARK_GRAFT_CPUS=4 to match
    * the test session).
    */
  val widthGuardPins: Map[String, Int] = Map(
    "q_abtt" -> 3, "q_anisotropy" -> 1, "q_avg_precision" -> 1,
    "q_bigram_lm" -> 1, "q_bitext_mine" -> 1, "q_bitext_mine_ivf" -> 2,
    "q_containment" -> 1, "q_containment_maxdf" -> 1, "q_contamination" -> 2,
    "q_dedup_agreement" -> 2,
    "q_dedup_canonical" -> 1, "q_dedup_cluster_sizes" -> 1, "q_dedup_clusters" -> 1,
    "q_dedup_incremental" -> 1, "q_dedup_minhash" -> 1, "q_dedup_pairs" -> 1,
    "q_dedup_pairs_maxdf" -> 1, "q_dedup_pairs_prefix" -> 1, "q_dup_ngrams" -> 1,
    "q_char_entropy" -> 1,
    "q_dup_spans" -> 1, "q_e2lsh" -> 1, "q_editdist_pairs" -> 1,
    "q_embed_dup_ivf" -> 1,
    "q_editdist_seg" -> 2,
    "q_embed_dup" -> 1, "q_embed_dup_lsh" -> 1, "q_embed_dup_prod" -> 1,
    "q_er_clusters" -> 1, "q_fs_linkage" -> 1, "q_hard_negatives" -> 1,
    "q_hybrid_rrf" -> 1, "q_jw_match" -> 1, "q_knn" -> 1,
    "q_knn_ivf" -> 1, "q_knn_label_noise" -> 1, "q_knn_label_noise_ivf" -> 1,
    "q_mmr_select" -> 1, "q_overlap_matrix" -> 1, "q_pca_top" -> 2,
    "q_ppl_select" -> 1, "q_query_likelihood" -> 1, "q_rank_metrics" -> 1,
    "q_sem_contamination" -> 1, "q_semdedup" -> 1, "q_semdedup_lsh" -> 1,
    "q_semdedup_prod" -> 1, "q_simhash_pairs" -> 1, "q_span_dedup" -> 1,
    "q_split_leakage" -> 1)

  /** file -> distinct guarded call sites that must fire across the
    * whole pinned-entry sweep (coarser companion to [[widthGuardPins]]:
    * catches a dropped wrap even when entry counts could compensate).
    * `TextAnalysis.winnowed`'s guard is the one site no registry entry
    * routes through (q_winnow uses `Dedup.winnowFingerprints`); it is
    * covered by the spec's direct family-representative runtime test.
    */
  val widthGuardSites: Map[String, Int] = Map(
    "Dedup.scala" -> 5, "Pca.scala" -> 2, "Similarity.scala" -> 11,
    "TextAnalysis.scala" -> 6)

  /** Pinned shuffle budgets for headline queries (measured by
    * `Bucketing.shuffleCount`, the `exchanges` field of a
    * `graft.QueryProfile` record): a NEW Exchange in one of these plans is a
    * regression a human signs off on by raising the pin, never a silent
    * diff. Every groupBy/join/window costs a shuffle at 100 TB — these
    * numbers ARE the scale story of the flagship paths (q_bpe_tokens at
    * 0 proves the whole BPE chain is map-side).
    */
  val shuffleBudget: Map[String, Int] = Map(
    "kpi_user" -> 1, "kpi_genre_daily" -> 2, "kpi_genre_top_songs" -> 2,
    "kpi_genre_top_genres" -> 3, "kpi_trending" -> 4,
    // canonical raised 5 → 10 in r9: the count-prune candidate tier adds
    // the per-doc bounded-count agg + two doc-stats joins — all ≤|docs|-row
    // frames, traded for the ~1000× cut in full-array verify volume
    "q_dedup_exact" -> 1, "q_dedup_canonical" -> 10,
    "q_bpe_tokens" -> 0, "q_token_counts" -> 0,
    "q_boilerplate" -> 3, "q_sample_stratified" -> 1,
    "q_top_paths" -> 2, "q_sessions" -> 1, "q_asof_join" -> 1,
    // curation family: canonicalization MUST stay map-side; the caps/
    // manifest are one per-group window each; block gate is the
    // suffix-semi + anti pair; mixture/fusion budgets include their
    // tiny-frame (≤|sources|-row / ≤|lists|-row) exchanges
    "q_url_canon" -> 0, "q_domain_cap" -> 1, "q_shard_manifest" -> 1,
    "q_epoch_shuffle" -> 1,
    "q_domain_block" -> 2, "q_temperature_mix" -> 4, "q_hybrid_rrf" -> 8,
    "q_html_strip" -> 0, "q_sentences" -> 0, "q_standardize" -> 1,
    // bigram_lm 10 → 11 (r13): histCnt now derives from the distinct-
    // bigram frame instead of a third corpus pass — one more STATIC
    // exchange reference (bgCnt feeds histCnt AND the per-doc join) that
    // ReuseExchange shares at runtime; corpus passes 4 → 3
    "q_bigram_lm" -> 11, "q_rank_metrics" -> 3, "q_http_parse" -> 0,
    // r9 pins (the r8 verdict's drift watchlist): triangles is 4 AFTER
    // the edge-set cache (was 24 — the whole co-occurrence derivation
    // planned three times); the maxdf pair is the count-prune tier
    "q_triangles" -> 4, "q_serve_ids" -> 9, "q_overlap_matrix" -> 9,
    "q_dedup_pairs_maxdf" -> 8, "q_containment_maxdf" -> 8,
    // JL projection is the data-independent-sketch contract: 0 shuffles
    // (sign matrix broadcast, fold map-side); the audit adds one
    // per-vector agg; survival's visible shuffle is the per-user agg
    // (the two tiny cached frames truncate the rest)
    "q_jl_project" -> 0, "q_jl_audit" -> 1, "q_survival" -> 1,
    // attribution = bucketed range join + per-conversion window + channel
    // agg; the z-test's visible plan is cache-truncated to the 1-row math
    "q_attribution" -> 2, "q_ab_ztest" -> 0,
    // bootstrap = per-unit agg + replicate agg (the B-way explode is
    // map-side between them); bot-score = one per-actor lag window;
    // template dedup = one fingerprint agg off the scan
    "q_bootstrap_ci" -> 2, "q_bot_score" -> 1, "q_template_dedup" -> 1,
    // did = per-(unit,period) agg + 4-cell agg + the cell pivot exchange;
    // zipf = token agg + per-source rank window (top-200 cut keeps the
    // regression fold's frame bounded)
    "q_did" -> 3, "q_zipf" -> 2,
    // cuped/exp_health collapse to per-unit aggs then 1-2-row math
    // (health's visible plan is cache-truncated like q_ab_ztest);
    // benford = digit agg + 1-row total + broadcast; gini = per-unit
    // agg + per-group rank window; cusum = daily agg + tot + 2 windows
    "q_cuped" -> 1, "q_exp_health" -> 0, "q_benford" -> 3,
    "q_gini" -> 2, "q_cusum" -> 4,
    // jw-match's block self-join broadcasts (part is dim-sized);
    // mojibake is one map-side agg; ref-integrity is 6 independent
    // agg→anti→agg relations; hits' rounds are checkpoint leaves
    "q_jw_match" -> 1, "q_mojibake" -> 1, "q_ref_integrity" -> 18,
    "q_hits" -> 2,
    // spearman's two per-group rank windows share one exchange (AQE
    // reuse); dow-profile = (series,dow) agg + per-series window;
    // conformal = three split aggs + the bounded 5%-sample sort;
    // er_clusters' CC rounds are checkpoint leaves
    "q_spearman" -> 1, "q_dow_profile" -> 2, "q_conformal" -> 5,
    "q_er_clusters" -> 0,
    // r10 rank/robust tests: kruskal's 7 are all collapsed-frame aggs
    // (value frame, its single-partition cum window, (g,v) frame, k-row
    // folds); brown–forsythe = group sort + z agg + 1-row fold; the
    // paired/argmax tests are two-agg map-side chains
    "q_kruskal" -> 7, "q_brown_forsythe" -> 3, "q_mcnemar" -> 2,
    "q_grubbs" -> 2,
    // r10 graph batch: lcc = cached-edge wedge join + ONE exploded
    // member agg + degree agg (explode, never unionAll — 14→6 when the
    // tri frame stopped being planned per branch); assortativity = deg
    // agg + two deg joins + 1-row fold; LPA's visible plan is
    // checkpoint leaves (er_clusters precedent)
    "q_local_clustering" -> 6, "q_assortativity" -> 5,
    "q_label_prop" -> 0,
    // sequential/matched tests: daily agg + |days|-frame window;
    // per-unit indicator agg + 1-row fold
    "q_msprt" -> 2, "q_cochran_q" -> 2,
    // jsd = term agg + 1-row fold; friedman = per-unit agg + block
    // rank window + k-row fold; anova_f = group agg + 1-row fold
    "q_js_div" -> 2, "q_friedman" -> 3, "q_anova_f" -> 2,
    // code detection is the map-side contract (0 — like q_html_strip);
    // bartlett/contrasts are group agg + k-row folds/self-join
    "q_code_detect" -> 0, "q_bartlett" -> 2, "q_pairwise_contrasts" -> 2,
    // granger = daily agg + |days|-frame lag window/1-row fold
    "q_granger" -> 2,
    // acf = (series,day) agg + shared lead-window sort + per-series agg;
    // mann-whitney inherits kruskal's collapsed-frame chain at k=2
    "q_acf" -> 3, "q_mann_whitney" -> 6,
    // cvm = value frame + cum window + totals; rfm = per-unit agg +
    // three cached quintile branches; jaccard_link = RA's wedge chain;
    // chrf is the per-row-kernel MAP-SIDE contract (0 — was 21 s as an
    // 18M-row exploded lattice)
    "q_cvm" -> 4, "q_rfm" -> 6, "q_jaccard_link" -> 8, "q_chrf" -> 0,
    // reg_diag = group-sums agg + broadcast-back + top-k window;
    // dp_sum = per-unit clip agg + cohort agg; embed_norms = per-row
    // fold + bucket agg
    "q_reg_diag" -> 2, "q_dp_sum" -> 2, "q_embed_norms" -> 1,
    // cluster_terms = id join + (cluster,term) agg + term agg + top-k
    // window; var_components = group agg + 1-row fold; modularity =
    // cached-edge LPA leaves + e_in/deg/d_tot aggs
    "q_cluster_terms" -> 5, "q_var_components" -> 2, "q_modularity" -> 6,
    // richness/odds = two-agg map-side chains; gains = per-unit agg +
    // score frame windows + decile rollup windows
    "q_vocab_richness" -> 2, "q_odds_ratio" -> 2, "q_gains" -> 6,
    // pacf rides the acf chain; trimmed mean = value frame + cum
    // windows + per-group rollup
    "q_pacf" -> 3, "q_trimmed_mean" -> 2,
    // autocorr = (series,day) agg + per-series tot agg/join + lag
    // window; tail_index is a distributed TakeOrdered (0 exchanges);
    // markov = per-user lag window + cell agg + cell-frame window + agg
    "q_autocorr" -> 3, "q_tail_index" -> 0, "q_markov_entropy" -> 4,
    // seasonal = daily agg + shared window exchange on the collapsed
    // frame (events scanned once); jackknife = bucket agg + 1-row agg;
    // uplift = per-unit agg + stratum agg + 1-row span broadcast + agg
    // jackknife = unit agg + bucket agg + 1-row agg (review pass: rows
    // are not resampling units — the unit collapse is semantic)
    "q_seasonal_strength" -> 2, "q_jackknife" -> 3, "q_matched_uplift" -> 4,
    // trigrams = per-user window + cell agg (rank rides the topK cut);
    // stage_latency = per-user window+agg, distinct-gap cum frame;
    // heaps = (group,term) two-level distinct agg + 1-row fold
    "q_event_trigrams" -> 2, "q_stage_latency" -> 3, "q_heaps_fit" -> 3,
    // item_cooc = incidence distinct + size semi-join + per-item window
    // riding the pairing self-join (counts flow THROUGH the join — no
    // separate count branch); freshness/decile collapse then window
    "q_item_cooc" -> 8, "q_freshness" -> 2, "q_decile_share" -> 3,
    // diversity = shingle explode into (group,shingle) agg + group agg;
    // dispersion = (series,day) agg + window; wilson = unit agg + arm agg
    "q_ngram_diversity" -> 2, "q_dispersion" -> 2, "q_wilson_ci" -> 2,
    // cohort_ltv = (user,period) agg + user window + (cohort,age) agg +
    // cohort window, single lineage; embed_drift = posexplode into a
    // dims agg + 1-row agg; changepoint = daily agg + prefix windows
    "q_cohort_ltv" -> 4, "q_embed_drift" -> 2, "q_changepoint" -> 2,
    // all three collapse to distinct-value/daily frames before windows
    "q_dow_anomalies" -> 2, "q_ks_test" -> 2, "q_runs_test" -> 2,
    // mann_kendall joins the CACHED daily frame (pairs bounded by
    // days², cache kills the triple scan); conv_windows/mase collapse
    "q_mann_kendall" -> 3, "q_conv_windows" -> 2, "q_mase" -> 2,
    // prefix_dup is map-side into ONE agg; term_drift = explode agg +
    // 1-row count broadcast (TakeOrdered cut); cluster_sizes rides the
    // checkpointed CC output with two counting aggs
    "q_prefix_dup" -> 1, "q_term_drift" -> 2, "q_dedup_cluster_sizes" -> 2,
    // r9 additions: the winnow index is MAP-SIDE (0 shuffles — that is
    // its whole point vs shingle postings); profile/readability ride
    // the scan; curriculum is one position window
    // q_winnow_pairs: 3 = fp-posting collapse + identical-list dedupe +
    // pair agg (the collapsed pairing trades the old single-exchange
    // self-join for three SMALL aggs — the join's m² hot-key expansion
    // was the real cost, not the exchanges)
    "q_winnow" -> 0, "q_winnow_pairs" -> 3, "q_readability" -> 0,
    "q_script_profile" -> 0, "q_curriculum" -> 1, "q_calibration" -> 1,
    "q_split_leakage" -> 2,
    "q_domain_stats" -> 2, "q_bpe_fertility" -> 1, "q_keywords" -> 4,
    // r9 chat/preference/lang-mix batch: each op shuffles on its group
    // key only (conversation / prompt / doc); nfc_normalize is the
    // map-side canonicalization kernel and MUST stay shuffle-free
    "q_chat_validate" -> 1, "q_chat_flatten" -> 1, "q_chat_truncate" -> 2,
    "q_pref_contradictions" -> 2, "q_pref_cycles" -> 3,
    "q_pref_winrates" -> 1, "q_lang_mix" -> 2, "q_nfc_normalize" -> 0,
    // ranking/sketch/EMD batch: BT is 4 POST-CACHE (the bounded pairs/
    // stats frames are materialized once; uncached the 2-round lineage
    // planned 81 exchanges); countmin is the sketch agg + exact agg
    // (the probe join is broadcast); tCloseness is histogram aggs +
    // bounded-grid windows
    "q_pref_length_bias" -> 1, "q_pref_copeland" -> 8, "q_pref_bt" -> 4,
    "q_countmin" -> 2, "q_t_closeness" -> 6,
    // eval/agreement/impact: AUC is the score agg + the bounded
    // per-value cum window; alpha/impact are histogram aggs + 1-row
    // normalizer broadcasts
    "q_auc" -> 2, "q_kripp_alpha" -> 7, "q_filter_impact" -> 7,
    // per-token homoglyph audit MUST stay map-side (HOF filter on the scan)
    "q_mixed_script" -> 0,
    // quantization audit is per-row vector math: nothing may shuffle
    "q_quant_int8" -> 0,
    // robots: line-window parse + star semi-join + match agg + gate join;
    // nfc dedup is ONE fingerprint agg over the canonicalized union
    "q_robots_txt" -> 4, "q_dedup_canon_nfc" -> 1,
    // eval-metrics batch: the whole gram lattice (n=1..4, cand+ref)
    // explodes in ONE pass — one (id,n,gram) agg, one (id,n) roll-up,
    // one scaffold join; corpus BLEU adds the 1-row pooled agg.
    // decay trend is the daily agg + per-key series fold, window-free
    // r10: the eval family went map-side (ClippedTokenGramCounts kernel
    // — the pair lives on one row; the old exploded lattice shuffled
    // ~8 gram slots/token): bleu/rouge 0, corpus-pooled bleu 1
    "q_bleu" -> 0, "q_bleu_corpus" -> 1, "q_rouge" -> 0,
    "q_kneser_ney" -> 9, "q_decay_trend" -> 2,
    // hll = 2 key-kinds × (register agg + bucket-sorted estimate agg +
    // 2-phase exact countDistinct leg); pca/abtt AUDITED plans are
    // map-side — the bounded power-iteration prep runs at construction
    // (codebook precedent), driver state is d doubles per round
    "q_hll" -> 8, "q_pca_top" -> 0, "q_abtt" -> 1,
    // r10 pins (the r9 verdict's drift watchlist): winsorize is the
    // percentile agg + map-side clamp; trending_exact is the daily agg +
    // the shared range-frame window exchange; token_budget is the
    // per-doc token agg + source roll-up + cum-window on the bounded
    // per-source frame. All three re-measured isolated (PERF.md r10) —
    // the r9 drift was whole-bench jitter, not plan growth.
    "q_winsorize" -> 1, "q_trending_exact" -> 2, "q_token_budget" -> 3,
    // r11 pins (r10 verdict #6 — everything >1.5 s in-suite now fails
    // PlanAuditSpec on plan growth instead of surfacing as bench drift):
    // prefix-filter dedup = df-order agg + prefix-posting agg + pair agg
    // + verify join; editdist_seg rides the blocked pair join; fdr_bh =
    // per-test p-value chain + the tiny BH frame; pagerank/bfs/semdedup/
    // embed-dup plans are checkpoint/cache-truncated leaves (the rounds
    // and CC iteration run at frame-construction time — er_clusters
    // precedent); IVF twins = codebook-broadcast assign + probe-cell
    // equi-join (+ per-side margin frames for bitext)
    "q_dedup_pairs_prefix" -> 4, "q_pagerank" -> 0, "q_editdist_seg" -> 5,
    "q_fdr_bh" -> 5, "q_semdedup_prod" -> 0, "q_embed_dup_prod" -> 2,
    "q_embed_dup_lsh" -> 2, "q_knn_label_noise_ivf" -> 4,
    "q_bitext_mine_ivf" -> 25, "q_knn_ivf" -> 2, "q_bfs_hops" -> 0,
    // r11 operator batch: fleiss = panel window + cell agg + squares/
    // totals aggs off the cached cell frame; cliffs rides the
    // mann-whitney collapsed-value spine; dominant period = acf chain +
    // the bounded-frame argmax window; stable histogram = unit distinct
    // + per-unit cap window + category agg
    "q_fleiss_kappa" -> 4, "q_cliffs_delta" -> 4,
    "q_dominant_period" -> 3, "q_stable_histogram" -> 3,
    // QL = tf/ctf aggs + matched fold + the all-docs left join; rbo =
    // two collapsed rank frames; dunn = kruskal's 7-exchange spine +
    // the k-row pair grid
    "q_query_likelihood" -> 8, "q_rbo" -> 2, "q_dunn" -> 10,
    // pass@k = one (task) hash agg; reweight = domain agg + 1-row fold
    "q_pass_at_k" -> 1, "q_mixture_reweight" -> 2,
    // mmr = the brute-kNN candidate frame + one per-query pack agg;
    // the k greedy steps are per-row array expressions (barriered)
    "q_mmr_select" -> 2,
    // srm = unit distinct + the 1-row conditional agg; shard balance =
    // per-shard agg + 1-row fold
    "q_srm" -> 2, "q_shard_balance" -> 2,
    // r12 sweep (r11 verdict #3): every remaining >2 s-in-suite entry
    // now carries a pin. kcore's visible plan is the checkpoint-
    // truncated final peel (the convergence rounds run at frame-
    // construction time — q_pagerank precedent); resource_alloc =
    // degree agg + two neighbor joins + pair agg; the dedup/span/
    // containment family plans are cache-truncated at their shared
    // shingle/pair stores (the cold cost is IN the store build, audited
    // via q_dedup_pairs_maxdf's un-truncated 8); ppl_select's 19 and
    // assoc_rules' 26 ride documented bounded-frame chains (bigram-LM
    // thresholds / itemset lattice): wide but every frame is
    // vocabulary- or lattice-bounded, never corpus-row-scale
    "q_kcore" -> 1, "q_resource_alloc" -> 5,
    "q_editdist_pairs" -> 1, "q_dedup_clusters" -> 0,
    "q_span_dedup" -> 8, "q_containment" -> 1, "q_dup_spans" -> 5,
    "q_dedup_pairs" -> 1, "q_ppl_select" -> 31, "q_dup_ngrams" -> 6,
    "q_assoc_rules" -> 26, "q_bpe_budget" -> 3,
    "q_semdedup_lsh" -> 0, "q_knn_label_noise" -> 3,
    // r12 verify-parallelism guard: the editdist/jw probe sides gain
    // one round-robin exchange each when the scan under-partitions
    // (editdist_seg: probes + the short branch planned twice = +3);
    // fs_linkage newly pinned with its blocked-join spread included
    "q_fs_linkage" -> 7,
    // r12: PPS sampler = the one exact-long size agg; draw is map-side
    "q_pps_sample" -> 1,
    // r13 batch: brier = the bin agg + 1-row collapse; rr_freq's 12 are
    // all k-/1-row domain-frame aggs and the report agg (corpus shuffles
    // only on the k-bounded report key); dp_quantile's 8 ride the ≤64-row
    // bin scaffold (cum window + two TakeOrdered legs); ewma = daily agg
    // + the per-key series collapse; matryoshka's successor join
    // broadcasts at audit SF (0 exchanges — map-side pair math)
    "q_brier" -> 2, "q_rr_freq" -> 12, "q_dp_quantile" -> 8,
    "q_ewma_chart" -> 2, "q_matryoshka" -> 0,
    // e2lsh = cell equi-join + pair distinct (+ the width spread at
    // narrow scan); harmonic's rounds are checkpoint leaves (bfs
    // precedent) leaving the final per-node agg; mauve = cell-slice
    // agg + the 1-row collapse (assignment is map-side)
    // e2lsh raised 5 -> 7 with the narrow candidates-then-fetch shape:
    // the two id-keyed vector re-fetch joins replace carrying 64-dim
    // arrays through the bucket join + distinct (warm 7.8 -> 1.8 s)
    "q_e2lsh" -> 7, "q_harmonic" -> 1, "q_mauve_js" -> 2,
    // char-entropy = gram agg + per-doc collapse (+ the width spread
    // at narrow scan); trend test = level agg + 1-row collapse
    "q_char_entropy" -> 3, "q_trend_test" -> 2,
    // embed_dup_ivf = cell equi-join + pair distinct + the two vector
    // fetch joins (assignment is one map-side kernel); ppr's rounds
    // are checkpoint leaves (q_pagerank precedent); tail_dep's 12 are
    // all collapsed value-frame aggs + cum windows + 1-row thresholds
    "q_embed_dup_ivf" -> 3, "q_ppr" -> 0, "q_tail_dep" -> 12,
    // agreement = the two pair generators' aggs + the pair-key full
    // outer + 1-row collapse
    "q_dedup_agreement" -> 4)
    // (r12) the vector-family pins above include the Par
    // spreadToShuffleWidth round-robin exchanges — one per dense
    // per-row stage (centroid assign, signature fold, projection,
    // all-pairs verify) when the scan under-partitions; bitext's +8 is
    // its fwd/bwd ivfTopK lineages re-planned by the margin tail
    // (identical exchanges dedupe at execution via ReuseExchange)

}
