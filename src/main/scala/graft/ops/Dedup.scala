package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact duplicates, n-gram-Jaccard near-dups via an inverted shingle
  * index, and MinHash+LSH banded near-dups (the 100 TB path).
  *
  * All three are pure DataFrame/Column programs — no UDFs, no driver
  * loops. The pair generators never do an all-pairs cross join: exact
  * near-dup candidates come from a shingle inverted index (docs sharing
  * at least one shingle — complete for any Jaccard > 0, so the
  * τ-threshold answer is exact), and the MinHash path replaces even that
  * with banded signature buckets whose size is independent of corpus
  * size. Hot shingles/buckets are the skew risk at scale: `maxDf` drops
  * shingles present in more than a fraction/count of docs (stopword-like
  * n-grams), which is what bounds the inverted-index fanout on 10^9 docs.
  */
object Dedup {

  /** Verify-stage parallelism guard (r12 sf1-probe finding): the
    * blocked/segmented candidate joins broadcast their index side, so
    * the expensive per-pair verification (banded levenshtein, Jaro–
    * Winkler) runs at the PROBE side's partitioning — the scan's.
    * See [[Par.spreadToShuffleWidth]] for the full mechanism.
    */
  private def spreadToShuffleWidth(probe: DataFrame, input: DataFrame): DataFrame =
    Par.spreadToShuffleWidth(probe, input)

  /** Exact duplicate groups by canonical fingerprint (md5 of the sorted
    * distinct token set — catches reorderings/repetitions; use
    * `md5(text)` semantics via `byRawText=true` for byte-exact groups).
    * Output: one row per duplicate *group* with ≥2 members.
    */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String,
                           byRawText: Boolean = false): DataFrame = {
    val key = if (byRawText) md5(col(textCol).cast("binary"))
              else TextAnalysis.fingerprint(col(textCol))
    docs.select(col(idCol).as("doc_id"), key.as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), array_sort(collect_list("doc_id")).as("doc_ids"))
      .filter(col("n_docs") >= 2)
  }

  /** Template-fingerprint duplicate groups: docs that are the same
    * TEMPLATE instantiated with different values — "Order #123
    * shipped" vs "Order #456 shipped" — which byte-exact dedup misses
    * and shingle dedup only catches at high n-gram cost. The key is
    * md5 of the text with every digit run collapsed to `#`, whitespace
    * collapsed, lowercased — word ORDER preserved (unlike
    * [[graft.ops.TextAnalysis.fingerprint]]'s order-free token set).
    * Templated boilerplate (receipts, log lines, form letters) is a
    * dominant dup class in crawled training data; an instruction
    * corpus full of "what is 2+3" variants is one template, not a
    * thousand examples.
    *
    * Wholly map-side until the one fingerprint agg. Output:
    * (template_fp, n_docs, canonical_id = smallest member id), groups
    * of ≥ `minGroup` (default 2 — the dup report; 1 = the full
    * template profile, which is what the oracle entry gates so every
    * fingerprint value is checked, not just the collapsed few).
    */
  def templateDuplicateGroups(docs: DataFrame, idCol: String,
                              textCol: String, minGroup: Int = 2): DataFrame = {
    require(minGroup >= 1, "minGroup >= 1")
    val tpl = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[0-9]+", "#"), "\\s+", " "))
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("_id"), md5(tpl.cast("binary")).as("template_fp"))
      .groupBy("template_fp")
      .agg(count(lit(1)).as("n_docs"), min(col("_id")).as("canonical_id"))
      .filter(col("n_docs") >= minGroup)
  }

  /** Canonical-document selection — the KEEP side of exact dedup: every
    * fingerprint group (including singletons) emits exactly the one doc
    * with the highest `scoreCol` (ties broken by smallest doc id), plus
    * the group's multiplicity. The output IS the deduplicated corpus
    * with provenance — [[exactDuplicateGroups]] reports what was
    * duplicated; this materializes what survives, keeping the BEST copy
    * rather than an arbitrary one (near-copies differ in truncation /
    * boilerplate; keeping the longest or highest-quality copy is the
    * standard curation rule).
    *
    * Scale posture: ONE hash aggregation — the argmax rides a single
    * `max(struct(score, -id, id))` agg buffer per group (constant
    * state), not a rank window; no sort, no second pass, map-side
    * combinable. Output: (doc_id, fingerprint, n_dups, score).
    */
  def keepBestPerExactGroup(docs: DataFrame, idCol: String, textCol: String,
                            scoreCol: String): DataFrame =
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.fingerprint(col(textCol)).as("fingerprint"),
        col(scoreCol).as("_score"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_dups"),
        // argmax by (score, then SMALLEST id): id negated inside the
        // struct so lexicographic max picks the min id on score ties
        max(struct(col("_score").as("s"), negate(col("doc_id")).as("nid")))
          .as("_best"))
      .select(negate(col("_best.nid")).as("doc_id"), col("fingerprint"),
        col("n_dups"), col("_best.s").as("score"))

  /** (doc_id, shingles, n_shingles) — distinct word n-grams per doc.
    * Tokenizes into a bound column FIRST so the shingle lambda reads an
    * attribute, not an inline split (see
    * [[TextAnalysis.shinglesFromToks]] for why that matters), and
    * filters on the CHEAP precondition `size(toks) >= n` (equivalent to
    * `n_shingles > 0`) BEFORE the shingle projection — a filter on
    * `n_shingles` gets predicate-pushed below the projection with the
    * whole shingle expression substituted inline, which re-splits the
    * document per lambda element inside the filter (measured: the
    * pushed filter alone was ~30 s over 4,500 docs at n = 8).
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Par.spreadToShuffleWidth(docs, docs) // whole-doc tokenize+shingle per row
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col("doc_id"),
        TextAnalysis.shinglesFromToks(col("_toks"), n).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, the
    * MOSS algorithm): hash every POSITIONAL word `n`-gram, slide a
    * window of `w` consecutive gram hashes, and keep each window's
    * minimum — the classic index-size reduction for substring-level
    * duplicate detection. Guarantee: any shared token run of at least
    * `w + n − 1` tokens selects at least one COMMON fingerprint in
    * both documents (the shared run contains a full window, and both
    * sides pick that window's minimum), so fingerprint collisions are
    * a complete candidate generator for long matches while the index
    * holds ~2/(w+1) of the gram volume — the knob that keeps a 10⁹-doc
    * substring-dedup index affordable where full shingle postings are
    * not.
    *
    * Hashes are the engine-portable md5-prefix idiom (first 15 hex
    * chars → 60-bit positive BIGINT — never Spark-seeded Murmur3), so
    * the fingerprint SETS are bit-identical on any engine. Documents
    * with fewer than `w` grams degrade to one global-minimum
    * fingerprint (the degenerate whole-doc window). Ties inside a
    * window need no rule: set semantics only care about the minimum
    * VALUE. Pure map-side — one projection, no shuffle before the
    * final explode.
    *
    * Output: (doc_id, fp), distinct per doc.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 1 && w >= 1, "need n >= 1 and w >= 1")
    val gramHash = (g: Column) =>
      conv(substring(md5(g.cast("binary")), 1, 15), 16, 10).cast("long")
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, size(_toks) - $n)," +
          s" i -> array_join(slice(_toks, i + 1, $n), ' '))").as("_g"))
      .select(col("doc_id"), transform(col("_g"), gramHash).as("_h"))
      .select(col("doc_id"),
        explode(when(size(col("_h")) >= w,
          array_distinct(transform(sequence(lit(0), size(col("_h")) - w),
            i => array_min(slice(col("_h"), i + lit(1), lit(w))))))
          .otherwise(array(array_min(col("_h"))))).as("fp"))
  }

  /** Candidate near-dup/containment pairs from shared winnowing
    * fingerprints: documents sharing at least `minShared` fingerprints,
    * with the shared count. The winnowing guarantee makes this the
    * scale path for "which documents share long verbatim runs" — the
    * posting list is the FINGERPRINT index (~2/(w+1) of the shingle
    * index), the join is the same equi-join shape as
    * [[nearDupPairsExact]], and `maxDf` bounds hot-fingerprint fanout
    * exactly as there (boilerplate selected everywhere goes hot; the
    * cap trades those candidates away explicitly). Downstream exact
    * verification ([[containmentPairs]], [[TextAnalysis.duplicatedSpans]])
    * restores exactness per surviving pair.
    *
    * Output: (a_id, b_id, n_shared_fp), a_id < b_id.
    */
  def winnowCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, w: Int = 4, minShared: Int = 2,
                           maxDf: Option[Int] = None): DataFrame = {
    require(minShared >= 1, "minShared must be positive")
    val fps = winnowFingerprints(docs, idCol, textCol, n, w)
    val posting = maxDf match {
      case Some(d) =>
        val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= d).select("fp")
        fps.join(keep, "fp")
      case None => fps
    }
    // collapsed pairing (the boundedIndexCandidates shape, measured
    // faster in ScratchPerf pairs:selfjoin vs pairs:collapse): group
    // each fingerprint's posting into a sorted doc list, dedupe
    // IDENTICAL lists with a weight, explode pairs once per distinct
    // list — boilerplate fingerprints shared by the same m docs cost
    // one m²/2 expansion total instead of one per fingerprint
    posting
      .groupBy("fp").agg(sort_array(collect_list(col("doc_id"))).as("_docs"))
      .filter(size(col("_docs")) >= 2)
      .groupBy("_docs").agg(count(lit(1)).as("_w"))
      .select(explode(col("_docs")).as("a_id"), col("_docs"), col("_w"))
      .select(col("a_id"), col("_w"),
        explode(filter(col("_docs"), b => b > col("a_id"))).as("b_id"))
      .groupBy("a_id", "b_id").agg(sum(col("_w")).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Train/val/test LEAKAGE audit: given near-dup pairs (from any of
    * this family's generators) and a split assignment, report how many
    * pairs land within vs ACROSS splits — the "your eval set leaks into
    * train through near-duplicates" report that decides whether a split
    * is publishable. Same bounded shape as [[sourceOverlapMatrix]]: two
    * id-keyed joins against the assignment, one agg to ≤ |splits|²
    * rows; the diagonal (within-split duplication) rides along for
    * context, `is_leak` marks the off-diagonal rows that matter.
    *
    * `pairs` needs (a_id, b_id); `assign` maps `idCol` → `splitCol`
    * (one row per doc — the [[Sampling]] split ops' contract).
    * Output: (split_a, split_b, n_pairs, is_leak), split_a ≤ split_b.
    */
  def splitLeakage(pairs: DataFrame, assign: DataFrame,
                   idCol: String = "doc_id",
                   splitCol: String = "split"): DataFrame = {
    val a = assign.select(col(idCol).as("a_id"), col(splitCol).as("_sa"))
    val b = assign.select(col(idCol).as("b_id"), col(splitCol).as("_sb"))
    pairs.select("a_id", "b_id")
      .join(a, "a_id").join(b, "b_id")
      .select(least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
  }

  /** Exact-Jaccard verification of candidate pairs against the FULL
    * shingle sets: whatever generated the candidates (bounded inverted
    * index, LSH bands), the emitted jaccard is the true full-set value —
    * false positives impossible, candidate generation only affects recall.
    * `cands` needs (a_id, b_id); `sets` is a [[shingleSets]] frame.
    */
  private[graft] def verifyExactJaccard(cands: DataFrame, sets: DataFrame,
                                        tau: Double): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("shingles").as("sh_a"),
        col("n_shingles").as("n_a")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("shingles").as("sh_b"),
        col("n_shingles").as("n_b")), "b_id")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))

  /** Cross-source near-duplicate overlap matrix: for every unordered
    * source pair (including a source with itself), the number of
    * near-dup document pairs spanning it — the corpus curator's "which
    * sources copy each other" view that decides where mixture weights
    * double-count and which source to dedup against which. Sources
    * order lexicographically within a pair, so the matrix is the upper
    * triangle (plus diagonal) with no mirrored rows.
    * Output: (source_a, source_b, n_pairs).
    *
    * Scale posture: pair generation is [[nearDupPairsExact]]'s
    * inverted-index path (pass `maxDf` for the 10⁹-doc regime); the
    * source attach is two doc-keyed equi-joins of a 2-column
    * projection, and the matrix agg is ≤ |sources|² rows.
    */
  def sourceOverlapMatrix(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, n: Int = 3, tau: Double = 0.3,
                          maxDf: Option[Int] = None): DataFrame = {
    val pairs = nearDupPairsExact(docs, idCol, textCol, n, tau, maxDf)
    val src = docs.filter(col(idCol).isNotNull && col(sourceCol).isNotNull)
      .select(col(idCol).as("_id"), col(sourceCol).as("_src"))
    pairs
      .join(src.select(col("_id").as("a_id"), col("_src").as("_sa")), "a_id")
      .join(src.select(col("_id").as("b_id"), col("_src").as("_sb")), "b_id")
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Candidate (a_id, b_id) pairs from a df-bounded inverted index,
    * PRUNED by an exact intersection upper bound before the expensive
    * full-set verification. Two tiers of cost control:
    *
    * 1. Posting-list collapse: grams contained in exactly the same
    *    documents produce exactly the same pairs (a shared 100-token
    *    license header yields ~96 5-grams, every one posted to the same
    *    doc set), so pairs are generated once per DISTINCT list with a
    *    multiplicity weight, never once per gram.
    * 2. Count-based prune: the per-pair weight sum is the EXACT count
    *    of shared bounded grams (shingle sets are distinct), and the
    *    intersection hidden by the df cut is at most
    *    `min(dropped_a, dropped_b)` (each doc's count of grams the
    *    bound removed) — so `n_shared + min(drop_a, drop_b)`, clamped
    *    to `min(n_a, n_b)`, upper-bounds the true intersection. Any
    *    pair whose score upper bound (Jaccard or containment, both
    *    monotone in the intersection) misses the threshold is dropped
    *    BEFORE its full shingle arrays ever ship to the verifier. At
    *    the r8 corpus-relative bound (df ≤ |docs|/100) this collapses
    *    the verify stage from ~10⁶ candidate pairs to the few hundred
    *    genuine near-dups — the r8 bench's two slowest entries were
    *    exactly this path.
    *
    * Recall contract unchanged: the bound is sound, so every pair the
    * unpruned path would emit survives; the final scores still come
    * from full-set verification, bit-identical either way.
    *
    * `keepIf(interUpperBound, n_a, n_b)` builds the prune predicate;
    * it must be MONOTONE in its first argument (true at the bound ⇒
    * true at any larger intersection).
    */
  private def boundedIndexCandidates(posting: DataFrame, sets: DataFrame, d: Int,
      keepIf: (Column, Column, Column) => Column): DataFrame = {
    val keep = posting.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= d).select("sh")
    val bounded = posting.join(keep, "sh")
    val lists = bounded
      .groupBy("sh").agg(sort_array(collect_list(col("doc_id"))).as("_docs"))
      .filter(size(col("_docs")) >= 2)
      .groupBy("_docs").agg(count(lit(1)).as("_w"))
    val shared = lists
      .select(explode(col("_docs")).as("a_id"), col("_docs"), col("_w"))
      .select(col("a_id"), col("_w"),
        explode(filter(col("_docs"), b => b > col("a_id"))).as("b_id"))
      .groupBy("a_id", "b_id").agg(sum(col("_w")).as("_n_shared"))
    val nBound = bounded.groupBy("doc_id").agg(count(lit(1)).as("_nbound"))
    val docStats = sets.select(col("doc_id"), col("n_shingles"))
      .join(nBound, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        (col("n_shingles") - coalesce(col("_nbound"), lit(0L))).as("_ndrop"))
    val withStats = shared
      .join(docStats.select(col("doc_id").as("a_id"),
        col("n_shingles").as("_n_a"), col("_ndrop").as("_drop_a")), "a_id")
      .join(docStats.select(col("doc_id").as("b_id"),
        col("n_shingles").as("_n_b"), col("_ndrop").as("_drop_b")), "b_id")
    val interUb = least(
      col("_n_shared") + least(col("_drop_a"), col("_drop_b")),
      col("_n_a"), col("_n_b"))
    withStats.filter(keepIf(interUb, col("_n_a"), col("_n_b")))
      .select("a_id", "b_id")
  }

  /** Near-duplicate pairs with exact n-gram Jaccard ≥ `tau`, candidates
    * from the shingle inverted index. Complete (no false negatives) as
    * long as `maxDf` is None: any pair with Jaccard > 0 shares a shingle.
    * With `maxDf = Some(d)` shingles occurring in > d docs are dropped
    * from the index, which is then CANDIDATE GENERATION ONLY — every
    * surviving pair is re-verified against its full shingle sets
    * ([[verifyExactJaccard]]), so reported jaccard values are exact
    * either way. The standard scale trade: a pair sharing only
    * stopword-grams can be missed, everything else is found with its
    * true score.
    *
    * Output: (a_id, b_id, jaccard), a_id < b_id.
    */
  def nearDupPairsExact(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, tau: Double = 0.5,
                        maxDf: Option[Int] = None): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, n).cache()
    val posting = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
    maxDf match {
      case Some(d) =>
        // count-bounded inverted index: drop stopword-like shingles, then
        // score candidates on FULL sets (the index undercounts n_inter).
        // Prune bound: J(inter) = inter/(n_a+n_b-inter) is increasing in
        // inter, so J(interUb) < tau proves the pair fails; the 1e-9
        // slack covers double rounding (the exact verify decides τ).
        val cands = boundedIndexCandidates(posting, sets, d,
          (ub, na, nb) => ub / (na + nb - ub) >= lit(tau - 1e-9))
        verifyExactJaccard(cands, sets, tau)
      case None =>
        // full index: the shared-shingle count IS the intersection size
        // (shingle sets are distinct), no second pass over the sets needed
        val a = posting.select(col("sh"), col("doc_id").as("a_id"))
        val b = posting.select(col("sh"), col("doc_id").as("b_id"))
        val inter = a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
        val sizes = sets.select(col("doc_id"), col("n_shingles"))
        inter
          .join(sizes.withColumnsRenamed(Map("doc_id" -> "a_id", "n_shingles" -> "n_a")), "a_id")
          .join(sizes.withColumnsRenamed(Map("doc_id" -> "b_id", "n_shingles" -> "n_b")), "b_id")
          .withColumn("jaccard",
            col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .filter(col("jaccard") >= tau)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** Near-duplicate pairs with exact n-gram Jaccard ≥ `tau`, candidates
    * from the PREFIX-FILTER index (AllPairs / PPJoin — Bayardo, Ma &
    * Srikant, WWW 2007; Xiao, Wang, Lin & Yu, WWW 2008): order every
    * document's shingle set by ascending corpus df (rarest first,
    * shingle-lexicographic tiebreak — a per-doc `array_sort`, NO global
    * rank assignment), index only the first `|x| − ⌈τ·|x|⌉ + 1`
    * shingles, and generate candidates from prefix-prefix collisions.
    *
    * Why this beats the df-bounded index at 100 TB: `maxDf` trades
    * recall for fanout (a pair sharing only hot shingles is lost);
    * the prefix filter is LOSSLESS — if J(x,y) ≥ τ then the overlap is
    * ≥ ⌈τ·|x|⌉ on each side, so dropping the last ⌈τ·|x|⌉ − 1 ordered
    * shingles cannot remove every common one, and both prefixes retain
    * a shared entry. Hot shingles sit LAST in the df order, so they
    * fall out of almost every prefix and the index sheds exactly the
    * posting lists that explode — same skew cure, zero recall cost.
    * Candidates then pass three sound prunes before the full-set
    * verify: the symmetric length filter (τ·|x| ≤ |y|), the required-
    * overlap bound t = ⌈τ·(|x|+|y|)/(1+τ)⌉, and PPJoin's positional
    * bound — for a shared prefix shingle at 0-based ordered positions
    * (pa, pb), common elements globally before it number ≤ min(pa, pb)
    * and after it ≤ min(|x|−1−pa, |y|−1−pb), so
    * `overlap ≤ min(pa,pb) + min(|x|−1−pa, |y|−1−pb) + 1`; the pair
    * keeps its TIGHTEST bound across shared prefix shingles.
    *
    * Output: (a_id, b_id, jaccard), a_id < b_id — identical contract
    * (and oracle) to [[nearDupPairsExact]] with `maxDf = None`.
    */
  def nearDupPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "0 < tau <= 1")
    val sets = shingleSets(docs, idCol, textCol, n).cache()
    val posting = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val dfCounts = posting.groupBy("sh").agg(count(lit(1)).as("_df"))
    // Candidate keys stay STRINGS — both integer-key variants measured
    // or rejected (r13/r14): hashing grams is collision-UNSOUND (a 64-bit
    // collision makes the per-doc sort order inconsistent across docs and
    // can tighten the positional bound below a true pair's overlap —
    // exact recall breaks); a collision-free dense-id dictionary
    // (zipWithIndex over the (df, sh)-sorted vocabulary, staged, joined
    // back) was BUILT AND MEASURED in r14 and lost 3×: med 14.7 s vs
    // 5.0 s at sf0.1/32c — the dictionary's global sort + RDD round-trip
    // + re-materialization of the VOCABULARY (this op's largest frame)
    // costs far more than 8-byte join keys save downstream
    // (OPTIMIZATION_r14.md).
    // Per-doc df-ordered shingle array; the order is (df, sh) so every
    // document sorts by the SAME global order without materializing it.
    val ordered = posting.join(dfCounts, "sh")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("_df"), col("sh")))).as("_osh"),
        count(lit(1)).as("n"))
    // prefix length |x| − ⌈τ·|x|⌉ + 1; posexplode keeps the 0-based
    // ordered position the positional bound needs
    val pfx = ordered
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("_osh"), lit(1),
          col("n") - ceil(col("n") * lit(tau)).cast("int") + 1)))
      .select(col("doc_id"), col("n"), col("pos"), col("col.sh").as("_k"))
    val a = pfx.select(col("_k"), col("doc_id").as("a_id"),
      col("n").as("n_a"), col("pos").as("pa"))
    val b = pfx.select(col("_k"), col("doc_id").as("b_id"),
      col("n").as("n_b"), col("pos").as("pb"))
    val cands = a.join(b, Seq("_k"))
      .filter(col("a_id") < col("b_id") &&
        // symmetric length filter: τ·n_a ≤ n_b and τ·n_b ≤ n_a
        col("n_b") >= col("n_a") * lit(tau - 1e-9) &&
        col("n_a") >= col("n_b") * lit(tau - 1e-9))
      .withColumn("_ub",
        least(col("pa"), col("pb")) +
          least(col("n_a") - 1 - col("pa"), col("n_b") - 1 - col("pb")) + 1)
      .groupBy("a_id", "b_id")
      .agg(min(col("_ub")).as("_ub"), first(col("n_a")).as("n_a"),
        first(col("n_b")).as("n_b"))
      // required overlap t = ⌈τ(n_a+n_b)/(1+τ)⌉; 1e-9 slack covers
      // double rounding (the exact verify decides τ)
      .filter(col("_ub") >=
        ceil((col("n_a") + col("n_b")) * lit(tau / (1.0 + tau) - 1e-9)))
      .select(col("a_id"), col("b_id"))
    verifyExactJaccard(cands, sets, tau)
  }

  /** Exact-collapse-first near-dup — the composition a production corpus
    * pipeline actually ships: collapse byte/token-identical copies to one
    * canonical doc per fingerprint group (smallest id), THEN run the
    * shingle near-dup only over the unique texts, carrying each side's
    * group multiplicity. On a corpus where duplication is dominated by
    * exact copies (re-crawls, mirrors — the common case at 100 TB), pair
    * generation cost scales with |unique texts|, not raw volume, and the
    * quadratic-in-group-size pair explosion of running near-dup directly
    * on the raw corpus (g copies → g·(g−1)/2 identical-text pairs per
    * group, measured 100× probe: 209 s vs seconds) never happens —
    * exact groups are collapsed by ONE hash agg before any pair exists.
    *
    * Output: (a_id, b_id, jaccard, a_dups, b_dups) — canonical ids,
    * a_id < b_id, each with its group's copy count.
    */
  def nearDupPairsCanonical(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, tau: Double = 0.5,
                            maxDf: Option[Int] = None): DataFrame = {
    // id keeps its source type — a string id casts to null under "long"
    // and would silently empty the joins below; min(struct) orders any
    // orderable id type, so "smallest id" means the column's natural order
    val canon0 = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"),
        TextAnalysis.fingerprint(col(textCol)).as("_fp"))
      .groupBy("_fp")
      .agg(count(lit(1)).as("n_dups"),
        // argmin by id; the canonical TEXT rides the same struct so the
        // shingles come from the kept doc, not an arbitrary group member
        min(struct(col("doc_id"), col("_text"))).as("_c"))
      .select(col("_c.doc_id").as("doc_id"), col("_c._text").as("text"),
        col("n_dups"))
    // Materialize the collapse ONCE (eager localCheckpoint): it is
    // consumed three ways (the shingle-set cache fill plus both
    // multiplicity joins), and each extra consumer re-ran the final
    // text-carrying min(struct) aggregation over the fingerprint
    // exchange (~3x; r13 measurement). The checkpointed frame IS the
    // exact-deduped corpus — the collapse-first contract's working set.
    val canon = Checkpoints.stage(canon0)
    val sizes = canon.select(col("doc_id"), col("n_dups"))
    nearDupPairsExact(canon, "doc_id", "text", n, tau, maxDf)
      .join(sizes.select(col("doc_id").as("a_id"), col("n_dups").as("a_dups")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_dups").as("b_dups")), "b_id")
      .select("a_id", "b_id", "jaccard", "a_dups", "b_dups")
  }

  /** Directed n-gram containment — the quote / sub-document detector
    * Jaccard cannot be: containment(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| is
    * 1.0 when a short doc A is quoted whole inside a long B even though
    * their Jaccard is near 0 (B's extra shingles dilute the union but
    * not A's coverage). This is the dedup primitive for "doc X is a
    * fragment of doc Y" — boilerplate extraction, quote chains,
    * truncated re-crawls.
    *
    * Scores are integer ppm (`n_inter·10⁶ div n_src` — BIGINT div, no
    * float in the hash surface); one unordered intersection count feeds
    * BOTH directions, so the pair join runs once. With `maxDf` the
    * inverted index is candidate generation only and every survivor is
    * re-verified against full sets (exact ppm either way, same contract
    * as [[nearDupPairsExact]]).
    *
    * Output: (src_id, dst_id, containment_ppm), src_id ≠ dst_id, every
    * DIRECTED pair with containment ≥ `tauPpm` — a fully-contained A in
    * B yields (A,B,1000000) and typically no (B,A,·) row.
    *
    * Scale posture: identical to [[nearDupPairsExact]] — posting-list
    * self-join on the shingle key (never all-pairs), `maxDf` bounds
    * hot-shingle fanout at the 10⁹-doc regime; the directed expansion is
    * a map-side explode of the unordered pair frame (2 rows per pair,
    * no extra shuffle).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, tauPpm: Long = 800000L,
                       maxDf: Option[Int] = None): DataFrame = {
    require(tauPpm >= 1 && tauPpm <= 1000000L, "tauPpm in [1, 1e6]")
    val sets = shingleSets(docs, idCol, textCol, n).cache()
    val posting = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val unordered = maxDf match {
      case Some(d) =>
        // bounded index undercounts n_inter: recount on the full sets;
        // candidates come from the pruned tier (boundedIndexCandidates).
        // Prune bound: the best direction is src = the smaller set, and
        // `inter·10⁶ div n_src` is monotone in inter, so the pair can
        // only reach tauPpm if the upper bound does — pure BIGINT test.
        boundedIndexCandidates(posting, sets, d,
          (ub, na, nb) => ub * lit(1000000L) >= lit(tauPpm) * least(na, nb))
          .join(sets.select(col("doc_id").as("a_id"), col("shingles").as("sh_a"),
            col("n_shingles").as("n_a")), "a_id")
          .join(sets.select(col("doc_id").as("b_id"), col("shingles").as("sh_b"),
            col("n_shingles").as("n_b")), "b_id")
          .select(col("a_id"), col("b_id"),
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"),
            col("n_a"), col("n_b"))
      case None =>
        val a = posting.select(col("sh"), col("doc_id").as("a_id"))
        val b = posting.select(col("sh"), col("doc_id").as("b_id"))
        val inter = a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
        val sizes = sets.select(col("doc_id"), col("n_shingles"))
        inter
          .join(sizes.withColumnsRenamed(Map("doc_id" -> "a_id", "n_shingles" -> "n_a")), "a_id")
          .join(sizes.withColumnsRenamed(Map("doc_id" -> "b_id", "n_shingles" -> "n_b")), "b_id")
    }
    unordered
      .select(explode(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          expr("(n_inter * 1000000L) div n_a").as("containment_ppm")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          expr("(n_inter * 1000000L) div n_b").as("containment_ppm")))).as("_e"))
      .select(col("_e.src_id"), col("_e.dst_id"), col("_e.containment_ppm"))
      .filter(col("containment_ppm") >= tauPpm)
  }

  private[graft] val MersennePrime = (1L << 61) - 1

  /** Deterministic affine hash family over a base xxhash64 of the
    * shingle. Coefficients from a fixed LCG seed — stable across runs
    * and executors (no Random at plan time).
    */
  private[graft] def hashCoeffs(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    // a ∈ [1, 2^31): with the base hash reduced to [0, 2^31), a*x < 2^62
    // and a*x + b < 2^63 — no ANSI long overflow anywhere.
    val as = Array.fill(numHashes)(math.abs(next()) % ((1L << 31) - 1) + 1)
    val bs = Array.fill(numHashes)(math.abs(next()) % MersennePrime)
    (as, bs)
  }

  /** MinHash signatures: (doc_id, sig[numHashes]). One expression tree —
    * `sig[j] = min over shingles of ((a_j * xxhash64(s) + b_j) mod P)`
    * (64-bit wrap on the multiply; irrelevant for min-hashing, which only
    * needs a deterministic pseudo-uniform family).
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 64, seed: Long = 42L): DataFrame =
    minHashFromSets(shingleSets(docs, idCol, textCol, n), numHashes, seed)

  /** Signatures from a precomputed (possibly cached) shingle-set frame —
    * lets the LSH pipeline reuse ONE tokenization/shingling pass for both
    * the signatures and the exact-Jaccard verification instead of
    * re-deriving shingles per stage.
    */
  def minHashFromSets(sets: DataFrame, numHashes: Int = 64, seed: Long = 42L): DataFrame = {
    val (as, bs) = hashCoeffs(numHashes, seed)
    sets
      .withColumn("xs", transform(col("shingles"), s => pmod(xxhash64(s), lit(1L << 31))))
      .withColumn("sig",
        graft.functions.VectorExpressions.minhashSig(col("xs"), as, bs, MersennePrime))
      .select(col("doc_id"), col("sig"))
  }

  /** LSH banding: explode each signature into `bands` bucket keys of
    * `rowsPerBand` values; docs sharing any (band, bucket) are candidate
    * pairs. Bucket cardinality, not corpus cardinality, bounds the join.
    */
  def lshCandidatePairs(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = signatures.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("doc_id", "band", "bucket")
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    a.join(b, Seq("band", "bucket")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** MinHash+LSH near-dup pipeline: banded candidates, then *exact*
    * Jaccard verification of each candidate (so false positives are
    * impossible; recall is the banding probability, ≈1 for near-identical
    * docs at 64 hashes / 16 bands).
    * Output matches [[nearDupPairsExact]]: (a_id, b_id, jaccard).
    */
  def nearDupPairsMinHash(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, tau: Double = 0.5,
                          numHashes: Int = 64, bands: Int = 16,
                          seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sets = shingleSets(docs, idCol, textCol, n).cache()
    val sigs = minHashFromSets(sets, numHashes, seed)
    val cands = lshCandidatePairs(sigs, bands, numHashes / bands)
    verifyExactJaccard(cands, sets, tau)
  }

  /** SimHash (64-bit) per doc: sign-aggregated token-hash bits packed
    * into a long. Near-dup candidates = equal 16-bit quadrant keys
    * (docs within Hamming distance 3 must share a quadrant — pigeonhole).
    *
    * The 64-bit token hash is md5-derived (top/bottom 32 hex-bit halves
    * recombined bitwise) rather than xxhash64: md5 is the one hash both
    * Spark and DuckDB compute identically, which makes the whole
    * operator independently verifiable against a SQL oracle
    * (`SparkEntry.oracleSql("q_simhash_pairs")`). Any pseudo-uniform
    * 64-bit family gives equivalent SimHash semantics; bitwise ops only,
    * so no ANSI overflow.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spreadToShuffleWidth(docs, docs) // whole-doc hash fold per row
      .select(col(idCol).as("doc_id"),
        graft.functions.VectorExpressions.simhashSig(tokenHashes(col(textCol)))
          .as("simhash"))

  /** 64-bit md5-derived hash per token (two 32-bit hex halves packed) —
    * the same engine-portable hash the SQL oracle reproduces.
    */
  private[graft] def tokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(lower(text)), t => {
      val hex = md5(t.cast("binary"))
      shiftleft(conv(substring(hex, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(hex, 9, 8), 16, 10).cast("long"))
    })

  /** Declarative reference rendering of [[simHash]] (64 per-bit
    * `aggregate` folds). Kept ONLY as the equivalence oracle for the
    * codegen'd `SimHashSig` kernel (`DedupSpec`): interpreted HOFs make
    * it ~25× slower at sf0.1 — never use it in a dataflow path.
    */
  private[graft] def simHashReference(docs: DataFrame, idCol: String,
                                      textCol: String): DataFrame = {
    def shr(x: Column, j: Column): Column = call_function("shiftright", x, j)
    val xs = col("_xs")
    val bits = transform(sequence(lit(0), lit(63)), j =>
      when(aggregate(xs, lit(0L),
        (acc, x) => acc + when(shr(x, j).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
        lit(1L)).otherwise(lit(0L)))
    docs.select(col(idCol).as("doc_id"), tokenHashes(col(textCol)).as("_xs"))
      .select(col("doc_id"),
        aggregate(zip_with(bits, sequence(lit(0), lit(63)),
          (bit, j) => call_function("shiftleft", bit, j)),
          lit(0L), (acc, v) => acc.bitwiseOR(v)).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` (≤ 3 for the 4-quadrant
    * scheme to be complete), candidates from quadrant buckets.
    */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-quadrant banding is only complete for hamming <= 3")
    val sh = simHash(docs, idCol, textCol).cache()
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        q => call_function("shiftright", col("simhash"), q * 16).bitwiseAND(0xFFFFL))))
      .toDF("doc_id", "simhash", "quad", "key")
    val a = banded.select(col("quad"), col("key"), col("doc_id").as("a_id"),
      col("simhash").as("sh_a"))
    val b = banded.select(col("quad"), col("key"), col("doc_id").as("b_id"),
      col("simhash").as("sh_b"))
    a.join(b, Seq("quad", "key")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------------
  // Incremental dedup: new batch vs a persisted corpus store
  // ------------------------------------------------------------------

  /** The persistable dedup sidecar for a corpus: one row per doc with
    * its exact-dup fingerprint and shingle set. Built once, written as
    * parquet (bucketable by doc_id), and JOINED — never recomputed —
    * when the next batch arrives. At 100 TB this is what turns daily
    * dedup from O(corpus²) into O(batch · collisions): the corpus text
    * is not even read on the incremental path.
    */
  def dedupStore(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, withFingerprint: Boolean = true): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"),
      TextAnalysis.tokens(lower(col(textCol))).as("_toks"))
    val fp = if (withFingerprint)
      Seq(TextAnalysis.fingerprint(col("_text")).as("fingerprint"))
    else Seq.empty
    base.select((col("doc_id") +: fp :+
        TextAnalysis.shinglesFromToks(col("_toks"), n).as("shingles")): _*)
      .withColumn("n_shingles", size(col("shingles")))
  }

  /** Near-duplicate pairs INVOLVING the new batch: new-vs-corpus and
    * new-vs-new, with exact full-set Jaccard ≥ tau. The corpus appears
    * only through its [[dedupStore]] — the quadratic corpus-vs-corpus
    * work never happens (it was done, incrementally, in the batches
    * that built the store).
    *
    * Output: (a_id, b_id, jaccard, pair_type) with a_id < b_id and
    * pair_type ∈ {new_new, new_corpus}. `maxDf` bounds hot-shingle
    * fanout exactly as in [[nearDupPairsExact]] (candidate generation
    * only; scores stay full-set exact).
    *
    * Caching contract: the batch and store shingle-set frames are
    * `cache()`d here (each is read twice — postings and sizes — and
    * recomputing shingling doubles the dominant cost). They stay
    * registered after the result is consumed, because the result is
    * lazy — this method cannot know when the caller has materialized
    * it. The caller owns the unpersist (graft's mains Bench and Verify
    * clear caches between queries).
    */
  def incrementalNearDupPairs(newDocs: DataFrame, store: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 3, tau: Double = 0.5,
                              maxDf: Option[Int] = None): DataFrame = {
    val newSets = shingleSets(newDocs, idCol, textCol, n).cache()
    // the store is normally MATERIALIZED (parquet written by a previous
    // batch); cache() makes a computed store frame behave the same way
    // here — it is read twice below (postings + sizes), and without
    // materialization both reads would re-run the shingling
    val storeSets = store.select(col("doc_id"), col("shingles"), col("n_shingles")).cache()
    val newIds = newSets.select(col("doc_id"))

    val postNew = newSets.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val postStore = storeSets.select(col("doc_id"), explode(col("shingles")).as("sh"))

    val scored: DataFrame = maxDf match {
      case Some(d) =>
        // bound by NEW-batch df: the batch is what drives fanout here,
        // and the store's df for a shingle is unknowable without a
        // corpus-wide count (exactly the pass this path avoids). The
        // bounded candidate set is small, so full-set re-verification
        // (array_intersect) is affordable and restores exact scores.
        val keep = postNew.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= d).select("sh")
        val pn = postNew.join(keep, "sh")
        val ps = postStore.join(keep, "sh")
        val nn = pn.select(col("sh"), col("doc_id").as("a_id"))
          .join(pn.select(col("sh"), col("doc_id").as("b_id")), Seq("sh"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        val nc = pn.select(col("sh"), col("doc_id").as("n_id"))
          .join(ps.select(col("sh"), col("doc_id").as("c_id")), Seq("sh"))
          .filter(col("n_id") =!= col("c_id"))
          .select(least(col("n_id"), col("c_id")).as("a_id"),
            greatest(col("n_id"), col("c_id")).as("b_id"))
          .distinct()
        val allSets = newSets.select("doc_id", "shingles", "n_shingles")
          .unionAll(storeSets)
          .groupBy("doc_id") // a doc may be in both (re-submission): keep one
          .agg(first("shingles").as("shingles"), first("n_shingles").as("n_shingles"))
        verifyExactJaccard(nn.unionAll(nc).distinct(), allSets, tau)
      case None =>
        // unbounded index: the shared-shingle JOIN COUNT is the exact
        // intersection size (sets are distinct), so no array
        // re-verification and no distinct() over the collision volume —
        // one counting aggregation, mirroring nearDupPairsExact's shape
        val nnInter = postNew.select(col("sh"), col("doc_id").as("a_id"))
          .join(postNew.select(col("sh"), col("doc_id").as("b_id")), Seq("sh"))
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
        val ncInter = postNew.select(col("sh"), col("doc_id").as("n_id"))
          .join(postStore.select(col("sh"), col("doc_id").as("c_id")), Seq("sh"))
          .filter(col("n_id") =!= col("c_id"))
          .select(least(col("n_id"), col("c_id")).as("a_id"),
            greatest(col("n_id"), col("c_id")).as("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
        // a re-submitted doc yields the same pair via both routes with
        // equal counts — max() collapses the duplicate
        val inter = nnInter.unionAll(ncInter)
          .groupBy("a_id", "b_id").agg(max("n_inter").as("n_inter"))
        // sizes: prefer the new batch's entry on re-submission
        val sizes = newSets.select(col("doc_id"), col("n_shingles"))
          .unionAll(storeSets.select(col("doc_id"), col("n_shingles"))
            .join(newIds, Seq("doc_id"), "left_anti"))
        inter
          .join(sizes.withColumnsRenamed(Map("doc_id" -> "a_id", "n_shingles" -> "n_a")), "a_id")
          .join(sizes.withColumnsRenamed(Map("doc_id" -> "b_id", "n_shingles" -> "n_b")), "b_id")
          .withColumn("jaccard",
            col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .filter(col("jaccard") >= tau)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
    }
    scored
      .join(newIds.select(col("doc_id").as("a_id"), lit(1).as("_an")), Seq("a_id"), "left")
      .join(newIds.select(col("doc_id").as("b_id"), lit(1).as("_bn")), Seq("b_id"), "left")
      .withColumn("pair_type",
        when(col("_an").isNotNull && col("_bn").isNotNull, lit("new_new"))
          .otherwise(lit("new_corpus")))
      .select("a_id", "b_id", "jaccard", "pair_type")
  }

  /** Benchmark-contamination check: which TRAINING docs share at least
    * `minShared` word n-grams with any EVAL doc — the decontamination
    * pass an LLM data pipeline runs before training (long n-grams,
    * n ≈ 8–13, are the standard signal: prose rarely repeats an 8-gram
    * by chance, so sharing several means the benchmark leaked).
    *
    * Same inverted-index shape as [[nearDupPairsExact]]: the eval set
    * is tiny next to the corpus, so the join is bounded by eval-side
    * postings × colliding train postings — never corpus×corpus. The
    * shared count from the join IS the exact intersection size
    * (shingle sets are distinct).
    * Output: (train_id, eval_id, shared_ngrams).
    */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 8, minShared: Int = 2): DataFrame = {
    val tPost = shingleSets(train, idCol, textCol, n)
      .select(col("doc_id").as("train_id"), explode(col("shingles")).as("sh"))
    val ePost = shingleSets(eval, idCol, textCol, n)
      .select(col("doc_id").as("eval_id"), explode(col("shingles")).as("sh"))
    tPost.join(ePost, Seq("sh"))
      .filter(col("train_id") =!= col("eval_id"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Connected components over a near-duplicate PAIR graph: every doc in
    * a pair gets `cluster_id` = the minimum doc id reachable through the
    * pair relation. Pairs → clusters is the step an actual dedup
    * pipeline needs (keep one canonical doc per component, drop the
    * rest); pairwise output alone under-deletes whenever A~B and B~C
    * but A!~C.
    *
    * Algorithm: distributed min-label propagation. Each round every
    * vertex takes the min of its own label and its neighbors' labels —
    * one equi-join + one hash aggregation per round, converging in
    * O(component diameter) rounds (near-dup components are shallow:
    * duplicates of a page link through it, not through chains). Labels
    * are materialized each round ([[Checkpoints.iterate]]) so the plan
    * doesn't accumulate `maxIter` joins of lineage. Convergence detection
    * costs NO extra job: the round's aggregation carries the previous
    * label alongside the new minimum (the self branch of the union is
    * tagged, so `first(label where self)` recovers it), and an
    * `observe()` metric counts changed labels on the SAME action that
    * materializes the round — r11 change; the previous rendering
    * re-joined next against prev for a count() every round, a |V|-row
    * join per round that existed only for the driver's loop condition.
    * This is the DataFrame rendering of the classic MapReduce CC approach
    * (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    * label propagation variant); no driver-side graph state. The
    * RETURNED frame keeps its final round's blocks; the caller owns them.
    *
    * Input needs columns (`aCol`, `bCol`); output (doc_id, cluster_id),
    * one row per distinct doc appearing in any pair. Docs in no pair are
    * singletons by definition and are not emitted.
    */
  def nearDupClusters(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                      maxIter: Int = 25): DataFrame = Checkpoints.iterate { it =>
    // Both orientations via ONE explode, not a self-unionAll: the pair
    // frame is typically an unpersisted candidate-generation lineage
    // (banded LSH join + exact verify), and a unionAll of two selects
    // over it PLANS THE PAIR GENERATION TWICE — at sf0.1 that doubled
    // q_semdedup_prod's cost (the r10→r11 drift); at corpus scale it
    // doubles the dominant stage of every CC consumer.
    val edges = it.persist(pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .distinct())
    val init = edges.groupBy("src")
      .agg(least(min(col("dst")), col("src")).as("cluster_id"))
      .select(col("src").as("doc_id"), col("cluster_id"))
    it.until(init, maxIter, "nearDupClusters") { (labels, obs) =>
      // neighbor minimum in one join+agg; keep own label via the union.
      // The self branch is tagged so the agg recovers the PREVIOUS
      // label (exactly one self row per vertex) next to the new min.
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("cluster_id"),
          lit(false).as("_self"))
      viaNeighbors
        .unionAll(labels.withColumn("_self", lit(true)))
        .groupBy("doc_id")
        .agg(min("cluster_id").as("cluster_id"),
          min(when(col("_self"), col("cluster_id"))).as("_prev"))
        .observe(obs,
          sum(when(col("cluster_id") =!= col("_prev"), 1L)
            .otherwise(0L)).as("changed"))
        .select(col("doc_id"), col("cluster_id"))
    }(_("changed").asInstanceOf[Long] == 0L)
  }

  /** PassJoin-style segment-indexed edit-distance pairs — same result
    * as [[editDistancePairs]], candidates from an EXACT-substring
    * inverted index instead of a length-bucket cross join.
    *
    * Pigeonhole (Li/Deng/Feng, PassJoin, VLDB 2011): partition every
    * string into `maxDist+1` segments (short segments first); if
    * `ed(s,t) ≤ maxDist`, at least one segment of `s` survives all
    * edits and appears in `t` EXACTLY, at a start position shifted by
    * at most `maxDist`. So: the index side emits its `maxDist+1`
    * segments keyed by (block, len, segIdx, content); the probe side
    * emits, for every candidate indexed length `l ∈ [len(t)−maxDist,
    * len(t)]`, the substrings of `t` at the segment's position window
    * `±maxDist` — only strings sharing an aligned exact segment ever
    * meet. Probing only DOWNWARD lengths (plus an id tiebreak at equal
    * length) gives each unordered pair one direction; bounded
    * `levenshtein` then verifies exactly.
    *
    * Regime honesty (measured, sf0.1): this does NOT beat
    * [[editDistancePairs]] on either driver corpus — part names are
    * too short for segments to be selective (5.4 s vs 3.4 s blocked,
    * 104 s vs 70 s unblocked), and document texts have such diverse
    * lengths that the bucket variant's |len diff| ≤ maxDist filter is
    * already near-perfect (5.4 s vs 1.3 s). The segment index wins
    * when strings are LONG and length-CONCENTRATED (fixed-width
    * payloads: hashes, URLs, normalized addresses, k-mers), where
    * length filtering prunes nothing and segments of len/(maxDist+1)
    * chars are near-unique join keys. Exactness is corpus-independent
    * (equivalence property spec + shared oracle); pick per data shape.
    *
    * Crossover (measured, round 6, 10× key-shifted part = 200k names):
    * as blocks deepen the ranking INVERTS — segments 340 s vs bucket
    * 550 s (scaling ≈n^1.8 vs ≈n^2.2 from sf0.1), and the gap widens
    * with n. Rule of thumb: below ~10⁴ strings per block use the
    * bucket variant; above it, this one. Both are quadratic WITHIN a
    * block, so at 100 TB the real obligation is a block key whose
    * groups stay bounded (a 25-value key like p_brand is itself the
    * scale bug); see PERF.md "10× scale validation, round 6".
    * Probe cost: ~(maxDist+1)²·(2·maxDist+1) rows per string. Strings
    * shorter than `maxDist+1` chars would produce empty segments
    * (which match everywhere); they are routed through the plain
    * bucket join instead, so the result stays exact for ANY input.
    */
  def editDistancePairsSegmented(df: DataFrame, idCol: String, textCol: String,
                                 blockCol: String, maxDist: Int): DataFrame = {
    val k = maxDist + 1
    val base = df.select(col(blockCol).as("_blk"), col(idCol).as("_id"),
      col(textCol).as("_t"), length(col(textCol)).as("_l"))
    val long = base.filter(col("_l") >= k)
    val short = base.filter(col("_l") < k)

    // segment geometry as pure arithmetic on (l, i):
    //   base_ = l div k, rem = l mod k; first (k - rem) segments have
    //   length base_, the rest base_+1; pos is 1-based.
    def segLen(l: Column, i: Column): Column = {
      val b = floor(l / k).cast("int"); val rem = pmod(l, lit(k))
      b + when(i >= lit(k) - rem, 1).otherwise(0)
    }
    def segPos(l: Column, i: Column): Column = {
      val b = floor(l / k).cast("int"); val rem = pmod(l, lit(k))
      lit(1) + i * b + greatest(lit(0), i - (lit(k) - rem))
    }

    val idx = long.select(col("_blk"), col("_id"), col("_t"), col("_l"),
        explode(sequence(lit(0), lit(maxDist))).as("_i"))
      .select(col("_blk"), col("_id").as("_iid"), col("_t").as("_it"),
        col("_l").as("_il"), col("_i"),
        col("_t").substr(segPos(col("_l"), col("_i")), segLen(col("_l"), col("_i")))
          .as("_content"))

    // probe: for each candidate indexed length l (descending probe:
    // l <= len(t)), each segment index, each start in the ±maxDist
    // window (clamped to t's bounds)
    val probes = long
      .select(col("_blk"), col("_id"), col("_t"), col("_l"),
        explode(sequence(greatest(lit(k), col("_l") - maxDist), col("_l"))).as("_il"))
      .select(col("_blk"), col("_id"), col("_t"), col("_l"), col("_il"),
        explode(sequence(lit(0), lit(maxDist))).as("_i"))
      .select(col("_blk"), col("_id"), col("_t"), col("_l"), col("_il"), col("_i"),
        explode(sequence(
          greatest(lit(1), segPos(col("_il"), col("_i")) - maxDist),
          least(col("_l") - segLen(col("_il"), col("_i")) + 1,
            segPos(col("_il"), col("_i")) + maxDist))).as("_p"))
      .select(col("_blk"), col("_id"), col("_t"), col("_l"), col("_il"), col("_i"),
        col("_t").substr(col("_p"), segLen(col("_il"), col("_i"))).as("_content"))

    // No candidate-level distinct: a pair can surface from several
    // matching segments, but deduplicating BEFORE verification would
    // shuffle candidate rows carrying both full texts. The bounded DP
    // is cheap enough to run per duplicate; the distinct runs on the
    // verified (a_id, b_id, dist) triples — the smallest frame in the
    // pipeline.
    val longPairs = spreadToShuffleWidth(probes, df)
      .join(idx, Seq("_blk", "_il", "_i", "_content"))
      .filter(col("_iid") =!= col("_id") &&
        (col("_il") < col("_l") || col("_iid") < col("_id")))
      .withColumn("dist", levenshtein(col("_it"), col("_t"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(least(col("_iid"), col("_id")).as("a_id"),
        greatest(col("_iid"), col("_id")).as("b_id"),
        col("dist").cast("long").as("dist"))
      .distinct()

    // short strings (< k chars): bucket join among themselves AND
    // against everything within maxDist of their length, via the
    // bucket variant; the semi filter keeps only pairs with a short
    // side, so the two pair sets are disjoint by construction (no
    // final distinct needed). An all-long input makes this branch an
    // empty, near-free plan.
    val nearShort = base.filter(col("_l") < k + maxDist)
    val allNearShortPairs = editDistancePairs(
      nearShort.select(col("_blk").as(blockCol), col("_id").as(idCol),
        col("_t").as(textCol)),
      idCol, textCol, blockCol, maxDist)
    // keep pairs with ≥1 short side as two EQUI semi joins (an OR-
    // predicate semi join would plan as a nested loop over every pair ×
    // every short id); both-short pairs match both branches, so dedup.
    // NO broadcast hint: on a typical corpus shortIds is tiny and AQE
    // broadcasts it anyway, but a corpus DOMINATED by sub-(k+maxDist)
    // strings makes shortIds ≈ the whole id set — a forced broadcast
    // there is driver-memory-bounded, while AQE degrades gracefully to
    // a shuffled semi join (and such a corpus belongs on the plain
    // bucketed variant to begin with — the segment index prunes nothing
    // when most strings take the short path).
    val shortIds = short.select(col("_id").as("_sid"))
    val shortPairs = allNearShortPairs
      .join(shortIds, col("a_id") === col("_sid"), "left_semi")
      .unionAll(allNearShortPairs
        .join(shortIds, col("b_id") === col("_sid"), "left_semi"))
      .distinct()
    longPairs.unionAll(shortPairs)
  }

  /** Blocked edit-distance near-dup pairs: same `blockCol` value,
    * length difference ≤ `maxDist` (a lower bound on edit distance),
    * then exact `levenshtein ≤ maxDist`. Output (a_id, b_id, dist),
    * a_id < b_id.
    *
    * Scale posture, two structural bounds:
    *   - The length constraint is folded INTO the join key: texts
    *     bucket by `floor(len / (maxDist+1))`, the left side is
    *     replicated into its own and the next bucket, and only
    *     adjacent-bucket rows ever join — length-incompatible pairs
    *     never materialize (a residual abs-diff filter handles the
    *     within-two-buckets stragglers). Join fanout is bounded per
    *     (block × length-window) group, not per block.
    *   - The DP kernel is Spark's BOUNDED levenshtein (threshold arg):
    *     banded O(len·maxDist) with early exit, identical distances
    *     for every surviving pair.
    * Each unordered pair joins exactly once: equal-bucket matches keep
    * `id_left < id_right`; cross-bucket matches only exist with the
    * left row in the lower bucket.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, maxDist: Int): DataFrame = {
    val w = maxDist + 1
    val base = df.select(col(blockCol).as("_blk"), col(idCol).as("_id"),
      col(textCol).as("_t"),
      floor(length(col(textCol)).cast("long") / w).as("_kb"))
    val left = spreadToShuffleWidth(
      base.select(col("_blk"), col("_id"), col("_t"), col("_kb"),
        explode(array(col("_kb"), col("_kb") + 1)).as("_k")), df)
    val right = base.select(col("_blk"), col("_id").as("_rid"),
      col("_t").as("_rt"), col("_kb").as("_k"))
    left.join(right, Seq("_blk", "_k"))
      .filter(
        when(col("_k") === col("_kb"), col("_id") < col("_rid"))
          .otherwise(col("_id") =!= col("_rid")) &&
        abs(length(col("_t")) - length(col("_rt"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_t"), col("_rt"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(least(col("_id"), col("_rid")).as("a_id"),
        greatest(col("_id"), col("_rid")).as("b_id"),
        col("dist").cast("long").as("dist"))
  }

  /** Blocked fuzzy-match pairs by Jaro–Winkler — the record-linkage
    * primitive (names, titles, labels) where byte/template dedup
    * misses transpositions and shingle cosine is too heavy for short
    * strings. Candidates come ONLY from equality on `blockCols` (the
    * standard blocking discipline: the pair generator is an
    * equi-self-join, never an all-pairs scan); each candidate scores
    * through the codegen'd
    * [[graft.functions.StringExpressions.JaroWinkler]] kernel and
    * survives at `minSim` or above. Pair cost is Σ_blocks |block|² —
    * the blocking key's selectivity is the caller's scale lever (add a
    * prefix/length bucket to tighten; same game as
    * [[editDistancePairs]]'s blocks).
    *
    * Output: (a_id, b_id, a_val, b_val, jw), a_id < b_id.
    */
  def fuzzyMatchPairs(df: DataFrame, idCol: String, valCol: String,
                      blockCols: Seq[String], minSim: Double): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0, "0 <= minSim <= 1")
    require(blockCols.nonEmpty, "blocking columns required (no all-pairs)")
    val base = df.filter(col(idCol).isNotNull && col(valCol).isNotNull &&
        blockCols.map(col(_).isNotNull).reduce(_ && _))
    val l = base.select(blockCols.map(col) :+ col(idCol).as("a_id") :+
      col(valCol).as("a_val"): _*)
    val r = base.select(blockCols.map(col) :+ col(idCol).as("b_id") :+
      col(valCol).as("b_val"): _*)
    spreadToShuffleWidth(l, df).join(r, blockCols)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_val"), col("b_val"),
        graft.functions.StringExpressions.jaroWinkler(col("a_val"), col("b_val"))
          .as("jw"))
      .filter(col("jw") >= minSim)
  }

  /** Fellegi–Sunter record-linkage scoring (Fellegi & Sunter 1969)
    * over blocked candidate pairs — the probabilistic layer above
    * [[fuzzyMatchPairs]]'s single-field gate: each comparison field
    * contributes an agreement weight log₂(m/u) or a disagreement
    * weight log₂((1−m)/(1−u)), and the summed weight ranks candidates
    * by match evidence. u is FIELD-level (the base Fellegi–Sunter
    * form): agreement on a high-cardinality field (name) earns more
    * than on a 25-value brand code, because two random records agree
    * on the former far less often — that is exactly what u encodes.
    * (The per-VALUE frequency refinement — rare names counting more
    * than common ones — is the documented extension, not this op.)
    *
    * u-probabilities (chance agreement between two RANDOM records) are
    * computed EXACTLY from value frequencies: u_f = Σ_v n_v² / N² —
    * the numerator an exact DECIMAL(38) sum of squared counts, one
    * tiny agg per field. m (agreement probability among true matches)
    * is a fixed caller parameter — estimating it needs labeled matches
    * or EM; the standard deployment starts at m ≈ 0.9 and calibrates.
    * Comparison fields are the `fieldCols` plus exact `valCol`
    * equality ("name"); NULL field values compare as the empty string
    * (synthetic sentinel, documented). Candidates come from
    * [[fuzzyMatchPairs]] at `candSim` — the blocking discipline and
    * its scale lever are unchanged.
    *
    * Output: (a_id, b_id, jw, pattern, n_agree, weight) — `pattern` is
    * the 0/1 agreement string in (fieldCols :+ name) order, `weight`
    * the ROUND(…, 6) summed log₂ weight (ln-fed → rounded, the
    * rank-metrics discipline).
    *
    * Scale posture: the pair generator is the blocked equi-join; field
    * attachment is two id-keyed equi-joins of a narrow projection; the
    * u frame is ONE row (per-field scalars) broadcast onto the pairs.
    */
  def fsLinkage(df: DataFrame, idCol: String, valCol: String,
                fieldCols: Seq[String], blockCols: Seq[String],
                candSim: Double = 0.75, m: Double = 0.9): DataFrame = {
    require(fieldCols.nonEmpty, "comparison fields required")
    require(m > 0.0 && m < 1.0, "0 < m < 1")
    val cands = fuzzyMatchPairs(df, idCol, valCol, blockCols, candSim)
      .select(col("a_id"), col("b_id"), col("jw"))
    val allFields = fieldCols :+ valCol
    val proj = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_id") +:
        allFields.zipWithIndex.map { case (f, i) =>
          coalesce(col(f).cast("string"), lit("")).as(s"_f$i")
        }: _*)
      .cache() // narrow |records| frame; feeds the u aggs AND both sides
    val n = proj.count()
    // exact per-field chance-agreement numerators: Σ_v n_v²
    val uNums = allFields.indices.map { i =>
      proj.groupBy(col(s"_f$i")).agg(count(lit(1)).as("_c"))
        .agg(sum(Stats.decMul(col("_c"), col("_c"))).as(s"_u$i"))
    }
    val u = uNums.reduce(_ crossJoin _)
    val a = proj.select(col("_id").as("a_id") +:
      allFields.indices.map(i => col(s"_f$i").as(s"_a$i")): _*)
    val b = proj.select(col("_id").as("b_id") +:
      allFields.indices.map(i => col(s"_f$i").as(s"_b$i")): _*)
    val ln2 = lit(math.log(2.0))
    val withFields = cands.join(a, "a_id").join(b, "b_id")
      .crossJoin(broadcast(u))
    val agrees = allFields.indices.map(i => col(s"_a$i") === col(s"_b$i"))
    def uF(i: Int) = col(s"_u$i").cast("double") /
      (lit(n.toDouble) * lit(n.toDouble))
    val weight = allFields.indices.map { i =>
      when(agrees(i), log(lit(m) / uF(i)) / ln2)
        .otherwise(log(lit(1.0 - m) / (lit(1.0) - uF(i))) / ln2)
    }.reduce(_ + _)
    val pattern = concat(allFields.indices.map(i =>
      when(agrees(i), lit("1")).otherwise(lit("0"))): _*)
    val nAgree = allFields.indices.map(i =>
      when(agrees(i), lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    withFields.select(col("a_id"), col("b_id"), col("jw"),
      pattern.as("pattern"), nAgree.as("n_agree"),
      round(weight, 6).as("weight"))
  }

  /** Shared-opening duplicate groups: documents whose first `k`
    * tokens are identical — the crawl signature of templated page
    * openings, licence headers, and syndication lead-ins that
    * full-document fingerprints miss once the bodies diverge. Docs
    * shorter than `k` tokens fingerprint their whole token stream
    * (they group with exact-prefix copies of themselves). Only
    * groups with ≥ 2 docs are emitted: (prefix_md5, n_docs,
    * min_doc_id).
    *
    * Scale posture: wholly map-side fingerprinting into one hash
    * agg — the dedup family's cheapest shape.
    */
  def prefixDupGroups(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 32): DataFrame = {
    require(k >= 1 && k <= 4096, "1 <= k <= 4096")
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        md5(array_join(slice(TextAnalysis.tokens(lower(col(textCol))), 1, k),
          " ").cast("binary")).as("prefix_md5"))
      .groupBy("prefix_md5")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") >= 2)
  }

  /** Cluster-size histogram over [[nearDupClusters]] output — the
    * "is duplication long-tail pairs or a few mega-clusters" read
    * that decides whether keep-one-per-cluster dedup meaningfully
    * shrinks the corpus. Output: (cluster_size, n_clusters).
    */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame = {
    clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .select(col("cluster_size").cast("long").as("cluster_size"),
        col("n_clusters"))
  }

  /** Agreement audit between two near-duplicate PAIR definitions —
    * the calibration read every dedup deployment needs before picking
    * a detector: how much do (say) shingle-Jaccard pairs and
    * SimHash-Hamming pairs agree on THIS corpus? Pairs normalize to
    * unordered (least, greatest) keys, the two sets full-outer join,
    * and the release is the overlap bookkeeping plus the pair-set
    * Jaccard in integer ppm. A low number is not "a bug in one
    * detector" — it localizes WHERE the definitions diverge (length
    * regime, token distribution) and is the denominator for choosing
    * thresholds that make them converge.
    * Output one row: (n_left, n_right, n_both, jaccard_ppm).
    *
    * Scale posture: two pair-frame distincts + one full-outer
    * equi-join on the pair key + a 1-row collapse — pair-set-sized,
    * never corpus-sized; inherits each generator's own scale path.
    */
  def pairSetAgreement(left: DataFrame, la: String, lb: String,
                       right: DataFrame, ra: String, rb: String): DataFrame = {
    def norm(df: DataFrame, a: String, b: String, tag: String) =
      df.filter(col(a).isNotNull && col(b).isNotNull)
        .select(least(col(a), col(b)).as("x"), greatest(col(a), col(b)).as("y"))
        .distinct().withColumn(tag, lit(1L))
    norm(left, la, lb, "_l")
      .join(norm(right, ra, rb, "_r"), Seq("x", "y"), "full")
      .agg(sum(coalesce(col("_l"), lit(0L))).as("n_left"),
        sum(coalesce(col("_r"), lit(0L))).as("n_right"),
        sum(coalesce(col("_l"), lit(0L)) * coalesce(col("_r"), lit(0L)))
          .as("n_both"))
      .withColumn("jaccard_ppm",
        when(col("n_left") + col("n_right") - col("n_both") > 0,
          expr("(n_both * 1000000L) div (n_left + n_right - n_both)")))
  }
}
