package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three tiers, same result contract:
  *   - [[knnBruteForce]]: exact top-k, broadcast query set — the
  *     correctness baseline. One scan of the corpus, no corpus-side
  *     shuffle; cost O(|corpus|·|queries|·dim) spread across partitions.
  *   - [[topKPerQuery]]: the same exact result through a bounded-heap
  *     `Aggregator` — replaces the rank-window's full per-query sort
  *     with map-side partial heaps of size k (what survives a 10^9-row
  *     corpus, where sorting |corpus| rows per query does not).
  *   - [[signBuckets]]/[[knnLshBucketed]]: approximate — random
  *     hyperplane signatures bucket the corpus so each query only scans
  *     candidates sharing a band; recall measured in tests, not assumed.
  *
  * All dot products cast to double before multiplying: float
  * accumulation is neither associative enough for cross-engine parity
  * nor stable across partition orders.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact cosine top-k per query vector. Queries must be small enough to
    * broadcast (they are, by construction of a query workload); the
    * corpus is scanned once, map-side, and only (queries × k) rows reach
    * the final per-query ordering.
    * Output: (query_id, neighbor_id, rn, sim), rn 1..k by (sim desc, id).
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = Par.spreadToShuffleWidth( // dense per-pair math below (Par scaladoc)
      corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"),
        norm(col(vecCol)).as("cn")), corpus)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        graft.functions.VectorExpressions.dotD(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("sim"), 6).as("sim"))
  }

  /** Bounded min-heap top-k aggregator: state is never larger than k, and
    * partial aggregation runs map-side before the per-query shuffle —
    * the 100 TB replacement for rank-window top-k (SURVEY §7.3).
    */
  class TopKAgg(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private def ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long) // best first
    override def zero: Seq[(Double, Long)] = Vector.empty
    override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] =
      trim(buf :+ in)
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      trim(a ++ b)
    private def trim(xs: Seq[(Double, Long)]): Seq[(Double, Long)] =
      xs.sorted(ord).take(k)
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r.sorted(ord)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Exact top-k via the bounded-heap aggregator; result contract matches
    * [[knnBruteForce]] (modulo it being an aggregation, not a window).
    */
  def topKPerQuery(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"),
      norm(col(vecCol)).as("cn"))
    val topk = udaf(new TopKAgg(k), org.apache.spark.sql.Encoders.product[(Double, Long)])
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        (graft.functions.VectorExpressions.dotD(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("s"),
        col("neighbor_id").cast("long").as("nid"))
      .groupBy("query_id")
      .agg(topk(col("s"), col("nid")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rn"),
        col("col._2").as("neighbor_id"), round(col("col._1"), 6).as("sim"))
  }

  /** kNN label-noise audit: for every labeled vector, the share of its
    * k nearest labeled neighbors (cosine) that AGREE with its own label
    * — the classic mislabel detector (Confident-Learning-style neighbor
    * vote): a point whose neighborhood votes against it is a labeling
    * suspect, and the suspect list is what a re-annotation queue
    * consumes. Scoring rides the bounded-heap [[TopKAgg]] (map-side
    * partial heaps, k rows per query reach the shuffle — never the
    * n² scored frame); neighbor labels re-attach via one broadcast
    * equi-join on the k·n survivor rows. The all-pairs scoring itself
    * is the exact-oracle regime; at corpus scale route candidate
    * generation through [[knnIvf]] cells first (same contract as
    * [[hardNegatives]]).
    * Output: (vec_id, label, n_agree, n_neighbors, agreement_ppm,
    * is_suspect), one row per labeled vector.
    */
  def labelNoise(vectors: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, k: Int = 10,
                 suspectBelowPpm: Long = 500000L): DataFrame = {
    require(k >= 1, "k must be positive")
    val v = vectors.filter(col(idCol).isNotNull && col(labelCol).isNotNull &&
      col(vecCol).isNotNull)
    val q = v.select(col(idCol).as("vec_id"), col(labelCol).cast("long").as("label"),
      asDouble(col(vecCol)).as("qv"), norm(col(vecCol)).as("qn"))
    val c = Par.spreadToShuffleWidth( // dense per-pair math below (Par scaladoc)
      v.select(col(idCol).as("_nid"), asDouble(col(vecCol)).as("cv"),
        norm(col(vecCol)).as("cn")), v)
    val topk = udaf(new TopKAgg(k), org.apache.spark.sql.Encoders.product[(Double, Long)])
    val top = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("_nid"))
      .select(col("vec_id"), col("label"),
        (graft.functions.VectorExpressions.dotD(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("s"),
        col("_nid").cast("long").as("nid"))
      .groupBy("vec_id", "label")
      .agg(topk(col("s"), col("nid")).as("top"))
      .select(col("vec_id"), col("label"), explode(col("top._2")).as("_nid"))
    val nl = v.select(col(idCol).cast("long").as("_nid"),
      col(labelCol).cast("long").as("_nl"))
    val queries = v.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"))
    neighborVote(queries, top, nl, suspectBelowPpm)
  }

  /** The shared agreement-vote tail of [[labelNoise]] /
    * [[labelNoiseApprox]]: k neighbor ids per labeled query →
    * agreement ppm + suspect flag.
    *
    * `queries` is the FULL (vec_id, label) set being audited: the
    * contract is one output row per labeled vector, so a query whose
    * candidate generation returned nothing (an outlier alone in its
    * probed IVF cells — precisely the audit's target) is emitted with
    * zero support and `is_suspect = true` rather than silently
    * dropped. The exhaustive regimes always have neighbors (any
    * corpus of ≥ 2 vectors), so the gated oracle is unaffected.
    */
  private def neighborVote(queries: DataFrame, top: DataFrame, nl: DataFrame,
                           suspectBelowPpm: Long): DataFrame = {
    val voted = top.join(broadcast(nl), Seq("_nid"))
      .groupBy("vec_id", "label")
      .agg(sum(when(col("_nl") === col("label"), 1L).otherwise(0L)).as("n_agree"),
        count(lit(1)).as("n_neighbors"))
      .withColumn("agreement_ppm",
        expr("(n_agree * 1000000L) div n_neighbors"))
    queries.join(voted, Seq("vec_id", "label"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        coalesce(col("agreement_ppm"), lit(0L)).as("agreement_ppm"))
      .withColumn("is_suspect", col("agreement_ppm") < suspectBelowPpm)
      .select("vec_id", "label", "n_agree", "n_neighbors", "agreement_ppm",
        "is_suspect")
  }

  /** [[labelNoise]]'s scale twin: neighbor candidates come from the
    * IVF index ([[knnIvf]] cells) instead of the all-pairs scorer, so
    * scored volume is ~`n² · nprobe / nlist` and drops with the list
    * count — the path a corpus-scale audit takes. At `nprobe = nlist`
    * the probe is exhaustive and the result equals [[labelNoise]]
    * exactly (the q_knn_ivf gating discipline); below that it is the
    * usual ANN recall trade, measured in `SimilaritySpec`. Coverage
    * is still total: a labeled vector whose probed cells return no
    * candidates is emitted with zero support and `is_suspect = true`
    * (see [[neighborVote]]) instead of vanishing from the audit.
    */
  def labelNoiseApprox(vectors: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, k: Int = 10,
                       nlist: Int = 16, nprobe: Int = 4,
                       suspectBelowPpm: Long = 500000L): DataFrame = {
    require(k >= 1, "k must be positive")
    val v = vectors.filter(col(idCol).isNotNull && col(labelCol).isNotNull &&
      col(vecCol).isNotNull)
    val top = ivfTopK(v, v, idCol, vecCol, k, nlist, nprobe)
      .join(v.select(col(idCol).as("query_id"),
        col(labelCol).cast("long").as("label")), Seq("query_id"))
      .select(col("query_id").as("vec_id"), col("label"),
        col("neighbor_id").cast("long").as("_nid"))
    val nl = v.select(col(idCol).cast("long").as("_nid"),
      col(labelCol).cast("long").as("_nl"))
    val queries = v.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"))
    neighborVote(queries, top, nl, suspectBelowPpm)
  }

  /** Margin-based bitext mining (the CCMatrix/LASER alignment rule):
    * score every (left, right) candidate by RATIO MARGIN — cosine
    * divided by the mean of the two endpoints' top-`k` neighborhood
    * cosines — and keep pairs that are each other's best margin match
    * (mutual top-1) above `minMarginPpm`. The margin normalizes away
    * hubness: a pair only aligns when it stands OUT of both local
    * neighborhoods, which is what makes mined parallel corpora clean
    * at low absolute cosine.
    *
    * Determinism contract: neighborhood means fold over a SORTED sim
    * array (bit-identical across engines), margins integerize to ppm
    * BEFORE ranking, and every rank tie-breaks by id. Scoring here is
    * the exact all-pairs regime (the oracle baseline, same as
    * [[knnBruteForce]]); at corpus scale generate candidates per side
    * with [[knnIvf]]/[[signBuckets]] banding first and feed the same
    * margin + mutual-top-1 tail.
    *
    * Output: (left_id, right_id, sim, margin_ppm), one row per aligned
    * pair.
    */
  def bitextMine(left: DataFrame, right: DataFrame, idCol: String,
                 vecCol: String, k: Int = 4,
                 minMarginPpm: Long = 1060000L): DataFrame = {
    require(k >= 1, "k must be positive")
    val a = left.select(col(idCol).as("left_id"), asDouble(col(vecCol)).as("av"),
      norm(col(vecCol)).as("an"))
    val b = right.select(col(idCol).as("right_id"), asDouble(col(vecCol)).as("bv"),
      norm(col(vecCol)).as("bn"))
    val scored = Par.spreadToShuffleWidth(a, left).crossJoin(b)
      .select(col("left_id"), col("right_id"),
        (graft.functions.VectorExpressions.dotD(col("av"), col("bv")) /
          (col("an") * col("bn"))).as("sim"))
    val wf = Window.partitionBy("left_id").orderBy(col("sim").desc, col("right_id"))
    val wb = Window.partitionBy("right_id").orderBy(col("sim").desc, col("left_id"))
    val ranked = scored
      .withColumn("rnf", row_number().over(wf))
      .withColumn("rnb", row_number().over(wb))
      .filter(col("rnf") <= k || col("rnb") <= k)
    marginMutualTail(
      ranked.filter(col("rnf") <= k).select("left_id", "right_id", "sim"),
      ranked.filter(col("rnb") <= k).select("left_id", "right_id", "sim"),
      minMarginPpm)
  }

  /** [[bitextMine]]'s scale twin: each side's top-k neighborhoods come
    * from the IVF index instead of the all-pairs scorer (two
    * [[knnIvf]]-cell passes, one per direction), then the identical
    * margin + mutual-top-1 tail. At `nprobe = nlist` the probes are
    * exhaustive and the result EQUALS [[bitextMine]] bit-for-bit (same
    * raw sims, same denominators); below that, missed neighbors are
    * the standard ANN recall trade, measured in `SimilaritySpec`.
    * Caveat shared with any cross-corpus ANN: ids must be disjoint
    * across sides (an id present in both is treated as the same item
    * and never pairs with itself).
    */
  def bitextMineIvf(left: DataFrame, right: DataFrame, idCol: String,
                    vecCol: String, k: Int = 4, nlist: Int = 16,
                    nprobe: Int = 4, minMarginPpm: Long = 1060000L): DataFrame = {
    require(k >= 1, "k must be positive")
    val fwd = ivfTopK(right, left, idCol, vecCol, k, nlist, nprobe)
      .select(col("query_id").as("left_id"), col("neighbor_id").as("right_id"),
        col("sim"))
    val bwd = ivfTopK(left, right, idCol, vecCol, k, nlist, nprobe)
      .select(col("neighbor_id").as("left_id"), col("query_id").as("right_id"),
        col("sim"))
    marginMutualTail(fwd, bwd, minMarginPpm)
  }

  /** Shared tail of [[bitextMine]] / [[bitextMineIvf]]: given each
    * side's top-k neighborhood edges (left_id, right_id, sim — RAW
    * sims), compute sorted-fold neighborhood means, ppm-integerized
    * ratio margins, and keep mutual best matches above the threshold.
    * A pair present in both directions carries the same sim bits (the
    * dot fold is index-ordered, so a·b ≡ b·a), so the max-collapse is
    * exact.
    */
  private def marginMutualTail(fwd0: DataFrame, bwd0: DataFrame,
                               minMarginPpm: Long): DataFrame = {
    // Materialize each direction's top-k edge frame ONCE (eager
    // localCheckpoint): the tail consumes each side twice (merge +
    // neighborhood-mean denominator) and the margin frame twice more
    // (both mutual-best windows), and every extra consumer re-planned and
    // re-executed the whole candidate generator upstream (brute/IVF
    // scoring + window — no exchange reuse fires across the diverging
    // group keys; q_bitext_mine_ivf's static plan carried the generator
    // 4x). The checkpointed frames are k rows per query — the
    // lightweight-proxy shape of guide §8; generators now run exactly
    // once per direction.
    val fwd = Checkpoints.stage(fwd0)
    val bwd = Checkpoints.stage(bwd0)
    def denom(df: DataFrame, key: String, out: String) = df.groupBy(key)
      .agg(array_sort(collect_list(col("sim"))).as("_ss"))
      .select(col(key),
        (aggregate(col("_ss"), lit(0.0), (acc, x) => acc + x) / size(col("_ss")))
          .as(out))
    val cands = fwd.select(col("left_id"), col("right_id"), col("sim"),
        lit(1).as("_f"), lit(0).as("_b"))
      .unionAll(bwd.select(col("left_id"), col("right_id"), col("sim"),
        lit(0).as("_f"), lit(1).as("_b")))
      .groupBy("left_id", "right_id")
      .agg(max(col("sim")).as("sim"), max(col("_f")).as("_f"),
        max(col("_b")).as("_b"))
    val m = cands
      .join(denom(fwd, "left_id", "_dx"), Seq("left_id"))
      .join(denom(bwd, "right_id", "_dy"), Seq("right_id"))
      // ratio margin is only meaningful against POSITIVE neighborhood
      // mass: a non-positive _dx+_dy would flip the inequality's sense
      // (negative/negative ratios rank anti-correlated pairs as
      // aligned) or divide by zero — such pairs cannot stand out of
      // both neighborhoods, so they get a sentinel that fails any
      // positive minMarginPpm and ranks last in the mutual-best windows
      .withColumn("margin_ppm",
        when(col("_dx") + col("_dy") > 0,
          floor(lit(2000000.0) * col("sim") / (col("_dx") + col("_dy"))))
          .otherwise(lit(-1000000000L)).cast("long"))
    val fwBest = Window.partitionBy("left_id").orderBy(col("margin_ppm").desc, col("right_id"))
    val bwBest = Window.partitionBy("right_id").orderBy(col("margin_ppm").desc, col("left_id"))
    val fw = m.filter(col("_f") === 1)
      .withColumn("_bf", row_number().over(fwBest)).filter(col("_bf") === 1)
      .select("left_id", "right_id", "sim", "margin_ppm")
    val bw = m.filter(col("_b") === 1)
      .withColumn("_bb", row_number().over(bwBest)).filter(col("_bb") === 1)
      .select("left_id", "right_id")
    fw.join(bw, Seq("left_id", "right_id"))
      .filter(col("margin_ppm") >= minMarginPpm)
      .select(col("left_id"), col("right_id"), round(col("sim"), 6).as("sim"),
        col("margin_ppm"))
  }

  /** Deterministic pseudo-random hyperplanes (LCG-seeded, unit-free —
    * sign tests don't need normalization). One row per plane.
    */
  private def planes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    var x = seed
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Array.fill(nPlanes)(Array.fill(dim)(next()))
  }

  /** Random-hyperplane signature: bit i = sign(v · r_i), packed into
    * `nPlanes / bandBits` band keys for bucketing.
    */
  def signBuckets(df: DataFrame, vecCol: String, dim: Int, nPlanes: Int = 16,
                  bandBits: Int = 8, seed: Long = 7L): DataFrame = {
    require(nPlanes % bandBits == 0, "nPlanes must divide into bands")
    val ps = planes(dim, nPlanes, seed)
    // ONE kernel node with the plane matrix as a reference object. The
    // previous rendering (nPlanes `dotD` nodes, each with a dim-literal
    // plane array) put nPlanes·dim literals into the plan, and analysis
    // + codegen of that tree dominated every banded query's wall time
    // at bench scale (see SignBandKeys's scaladoc). Key arithmetic is
    // bit-identical: same left-to-right dot fold, same `>= 0` sign,
    // same little-endian bit packing per band.
    val bandsN = nPlanes / bandBits
    val keys = graft.functions.VectorExpressions
      .signBandKeys(asDouble(col(vecCol)), ps, bandBits)
    // nPlanes dot folds per row: dense enough to warrant the spread
    Par.spreadToShuffleWidth(df, df).withColumn("_keys_sig", keys)
      .withColumn("_bands",
        transform(sequence(lit(0), lit(bandsN - 1)),
          i => struct(i.as("band"),
            element_at(col("_keys_sig"), i + 1).as("key"))))
      .drop("_keys_sig")
  }

  /** Approximate top-k: candidates share at least one signature band with
    * the query; exact cosine + rank within candidates. Each bucket join
    * key is (band, key) — bucket size, not corpus size, bounds the work.
    */
  def knnLshBucketed(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, dim: Int, k: Int,
                     nPlanes: Int = 16, bandBits: Int = 8, seed: Long = 7L): DataFrame = {
    def banded(df: DataFrame, prefix: String) =
      signBuckets(df, vecCol, dim, nPlanes, bandBits, seed)
        .select(col(idCol).as(s"${prefix}_id"), asDouble(col(vecCol)).as(s"${prefix}v"),
          norm(col(vecCol)).as(s"${prefix}n"), explode(col("_bands")).as("b"))
        .select(col(s"${prefix}_id"), col(s"${prefix}v"), col(s"${prefix}n"),
          col("b.band").as("band"), col("b.key").as("key"))
    val cands = banded(corpus, "neighbor").join(banded(queries, "query"), Seq("band", "key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "queryv", "neighborv", "queryn", "neighborn")
      .distinct()
      .withColumn("sim",
        graft.functions.VectorExpressions.dotD(col("queryv"), col("neighborv")) /
          (col("queryn") * col("neighborn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rn"), round(col("sim"), 6).as("sim"))
  }

  /** Cast to array<double> once per VECTOR, before any pair join — the
    * pair kernel (a codegen'd primitive loop, [[graft.functions
    * .VectorExpressions.dotD]]) then does no casts and no allocations.
    */
  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Int8 symmetric scalar-quantization audit — the 4× memory cut an
    * embedding store takes before serving (float32 → int8 with one
    * per-vector scale), with the loss it costs measured EXACTLY:
    * `q_i = round(x_i·127/s)`, `s = max|x_i|` (never clips, ±127 hit
    * by the max component), reconstruction `q_i·s/127`, and per vector
    * the squared error plus the original↔reconstruction cosine in
    * integer ppm (the retrieval-facing metric: rank order under cosine
    * survives iff this stays ≈1e6). Wholly map-side: every column is a
    * per-row HOF/kernel over the vector — 0 shuffles. All doubles ride
    * identical expression trees (fold-ordered sums, correctly-rounded
    * sqrt, integral round), so the audit is bit-reproducible on any
    * engine. Zero vectors quantize to zero with cos_ppm pinned 1e6.
    * Output: (vec_id, dim, scale, sq_err, cos_ppm).
    */
  def quantizeInt8Audit(emb: DataFrame, idCol: String,
                        vecCol: String): DataFrame = {
    val x = asDouble(col(vecCol))
    val scale = aggregate(x, lit(0.0), (acc, v) => greatest(acc, abs(v)))
    val base = emb.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), x.as("_x"), scale.as("scale"))
    val recon = transform(col("_x"), v =>
      when(col("scale") === 0.0, lit(0.0))
        .otherwise(round(v * lit(127.0) / col("scale")) * col("scale")
          / lit(127.0)))
    val sqErr = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (p, q) => (p - q) * (p - q)),
        lit(0.0), (acc, v) => acc + v)
    base.withColumn("_r", recon)
      .select(col("vec_id"), size(col("_x")).cast("long").as("dim"),
        col("scale"), sqErr(col("_x"), col("_r")).as("sq_err"),
        when(col("scale") === 0.0, lit(1000000L))
          .otherwise(floor(
            graft.functions.VectorExpressions.dotD(col("_x"), col("_r")) /
              (sqrt(graft.functions.VectorExpressions.dotD(col("_x"), col("_x"))) *
                sqrt(graft.functions.VectorExpressions.dotD(col("_r"), col("_r")))) *
              lit(1000000.0)).cast("long")).as("cos_ppm"))
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: k-means coarse quantizer + probed buckets
  // ------------------------------------------------------------------

  /** Train `nlist` coarse-quantizer centroids with Lloyd iterations over
    * a BOUNDED, deterministic training sample (the `nlist * samplePerList`
    * lowest-id vectors — standard IVF practice: the quantizer trains on a
    * sample, only the assignment pass sees the full corpus). The sample
    * is the single driver-side materialization in the IVF path and its
    * size is a constant set here, not a function of corpus size.
    * Returns (centroid, norm) pairs; deterministic: lowest-id seeds,
    * fixed iteration count, ties to the lower cluster index.
    */
  private[graft] def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                                    nlist: Int, iters: Int = 5,
                                    samplePerList: Int = 40): Array[(Array[Double], Double)] = {
    val train: Array[Array[Double]] = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .orderBy(col(idCol)).limit(nlist * samplePerList)
      .collect().map(_.getSeq[Double](1).toArray)
    require(train.length >= nlist, s"need >= $nlist training vectors, got ${train.length}")
    var cents = train.take(nlist).map(_.clone())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) -1.0 else d / math.sqrt(na * nb)
    }
    (1 to iters).foreach { _ =>
      val assign = train.map(v => cents.indices.maxBy(j => (cos(v, cents(j)), -j)))
      cents = cents.indices.map { j =>
        val members = train.indices.filter(assign(_) == j)
        if (members.isEmpty) cents(j) // empty cluster keeps its centroid
        else {
          val m = new Array[Double](train(0).length)
          members.foreach { t => var i = 0; while (i < m.length) { m(i) += train(t)(i); i += 1 } }
          var i = 0; while (i < m.length) { m(i) /= members.size; i += 1 }
          m
        }
      }.toArray
    }
    cents.map(c => (c, math.sqrt(c.map(x => x * x).sum)))
  }

  /** Column: index of the centroid with max cosine to `v` (ties to the
    * lower index). A pure expression — nlist codegen'd dot kernels per
    * row, no shuffle, no join — so corpus bucketing stays map-side.
    */
  private def nearestCentroid(v: Column, n: Column,
                              cents: Array[(Array[Double], Double)]): Column = {
    val sims: Seq[Column] = cents.toIndexedSeq.map { case (c, cn) =>
      graft.functions.VectorExpressions.dotD(v,
        array(c.toIndexedSeq.map(lit(_)): _*)) / (n * lit(cn))
    }
    if (sims.size == 1) lit(0)
    else {
      // argmax via array_max + first-position — each centroid similarity
      // is evaluated ONCE (the previous greatest + when-chain rendering
      // evaluated every sim twice); ties resolve to the lower index,
      // matching trainCentroids' driver-side assignment.
      val arr = array(sims: _*)
      (array_position(arr, array_max(arr)) - 1).cast("int")
    }
  }

  /** Fixed-centroid cluster assignment — the serving half of k-means
    * curation (cluster-balanced sampling, per-cluster quotas, SemDeDup's
    * within-cluster scoping): centroids are a CONSTANT (trained offline
    * or by [[trainCentroids]]'s bounded sample), so the whole assignment
    * is a map-side expression — nlist codegen'd dot kernels per row, no
    * join, no shuffle, embarrassingly parallel at any corpus size.
    * Ties resolve to the lower cluster index.
    * Output: (idCol, cluster, sim) — sim is the winning cosine, 6 dp.
    */
  def assignToCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cents = centroids.map(c =>
      (c.toArray, math.sqrt(c.map(x => x * x).sum))).toArray
    val v = asDouble(col(vecCol))
    val n = norm(col(vecCol))
    val sims: Seq[Column] = cents.toIndexedSeq.map { case (c, cn) =>
      graft.functions.VectorExpressions.dotD(v,
        array(c.toIndexedSeq.map(lit(_)): _*)) / (n * lit(cn))
    }
    val arr = array(sims: _*)
    embeddings
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol),
        (array_position(arr, array_max(arr)) - 1).cast("long").as("cluster"),
        round(array_max(arr), 6).as("sim"))
  }

  /** Cluster↔label agreement (purity): per cluster, the majority label
    * and its share — the eval that tells you whether an embedding
    * clustering (e.g. [[assignToCentroids]] cells feeding SemDeDup or
    * mixture routing) lines up with known labels. Argmax rides one
    * struct max (count desc, label asc tie-break) — no window, two
    * hash aggs, output bounded by |clusters|.
    * Output: (cluster, n_vectors, majority_label, n_majority,
    * purity_ppm).
    */
  def clusterPurity(assigned: DataFrame, clusterCol: String,
                    labelCol: String): DataFrame = {
    val cl = assigned.filter(col(labelCol).isNotNull)
      .groupBy(col(clusterCol).as("cluster"), col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).as("c"))
    cl.groupBy("cluster")
      .agg(sum(col("c")).as("n_vectors"),
        max(struct(col("c"), (-col("label")).as("_neg"), col("label"))).as("_b"))
      .select(col("cluster"), col("n_vectors"),
        col("_b.label").as("majority_label"), col("_b.c").as("n_majority"),
        expr("(_b.c * 1000000L) div n_vectors").as("purity_ppm"))
  }

  /** IVF approximate top-k: corpus rows bucket under their nearest
    * centroid (map-side expression), each query probes its `nprobe`
    * closest centroid lists, and candidates re-rank by exact cosine.
    * Output contract matches [[knnBruteForce]].
    *
    * The 100 TB shape: the corpus is touched by exactly one scan that
    * computes a bucket id per row; the probe table is (queries × nprobe)
    * rows and broadcasts; the candidate join is an equi-join on the
    * bucket id — work scales with probed-list volume (≈ corpus ·
    * nprobe / nlist per query), never all-pairs. `nprobe = nlist`
    * degenerates to exhaustive search — equal to [[knnBruteForce]] by
    * construction, which is what the oracle entry pins; recall at
    * realistic `nprobe << nlist` is measured in `SimilaritySpec`, not
    * assumed.
    */
  def knnIvf(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nlist: Int = 16, nprobe: Int = 4,
             iters: Int = 5): DataFrame =
    ivfTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, iters)
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("sim"), 6).as("sim"))

  /** [[knnIvf]] with the RAW (un-rounded) cosine — the internal layer
    * composite ops ([[labelNoiseApprox]], [[bitextMineIvf]]) build on,
    * so their downstream arithmetic sees the same bits the exact path
    * would produce.
    */
  private def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, nlist: Int, nprobe: Int,
                      iters: Int = 5): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist, "need 1 <= nprobe <= nlist")
    require(nlist <= 256, "coarse quantizer is an inline expression; keep nlist <= 256")
    val cents = trainCentroids(corpus, idCol, vecCol, nlist, iters)

    // O(nlist·d) assignment per row: spread before the dense stage
    val c = Par.spreadToShuffleWidth(
        corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"),
          norm(col(vecCol)).as("cn")), corpus)
      .withColumn("list_id", nearestCentroid(col("cv"), col("cn"), cents))

    // per-query probe set: rank centroids by cosine, keep nprobe —
    // all columnar (array of (sim, j) structs, sorted desc, sliced)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
      norm(col(vecCol)).as("qn"))
    val centSims = array(cents.toIndexedSeq.zipWithIndex.map { case ((cvec, cn), j) =>
      struct(
        (graft.functions.VectorExpressions.dotD(col("qv"),
          array(cvec.toIndexedSeq.map(lit(_)): _*)) / (col("qn") * lit(cn))).as("sim"),
        lit(j).as("j"))
    }: _*)
    val probes = q
      .withColumn("_probe", slice(reverse(array_sort(centSims)), 1, nprobe))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("_probe")).as("p"))
      .select(col("query_id"), col("qv"), col("qn"), col("p.j").as("list_id"))

    val scored = c.join(broadcast(probes), "list_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        graft.functions.VectorExpressions.dotD(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rn"), col("sim"))
  }

  // ------------------------------------------------------------------
  // PQ (product quantization) ANN: 8-byte codes + ADC scoring
  // ------------------------------------------------------------------

  /** Train per-subspace L2 codebooks on a bounded deterministic sample
    * (lowest-id vectors — same discipline as [[trainCentroids]]).
    * Returns the `[m][k][dsub]`-flattened codebook for
    * [[graft.functions.PqExpressions.PqEncode]].
    */
  private[graft] def trainPqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                                     dim: Int, m: Int, k: Int, iters: Int = 8,
                                     samplePerCent: Int = 40): Array[Double] = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m
    val train: Array[Array[Double]] = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .orderBy(col(idCol)).limit(k * samplePerCent)
      .collect().map(_.getSeq[Double](1).toArray)
    require(train.length >= k, s"need >= $k training vectors, got ${train.length}")
    val out = new Array[Double](m * k * dsub)
    for (mi <- 0 until m) {
      val sub = train.map(v => java.util.Arrays.copyOfRange(v, mi * dsub, (mi + 1) * dsub))
      var cents = sub.take(k).map(_.clone())
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      (1 to iters).foreach { _ =>
        val assign = sub.map(v => cents.indices.minBy(j => (d2(v, cents(j)), j)))
        cents = cents.indices.map { j =>
          val members = sub.indices.filter(assign(_) == j)
          if (members.isEmpty) cents(j)
          else {
            val c = new Array[Double](dsub)
            members.foreach { t => var i = 0; while (i < dsub) { c(i) += sub(t)(i); i += 1 } }
            var i = 0; while (i < dsub) { c(i) /= members.size; i += 1 }
            c
          }
        }.toArray
      }
      for (ki <- 0 until k; di <- 0 until dsub)
        out((mi * k + ki) * dsub + di) = cents(ki)(di)
    }
    out
  }

  /** PQ ANN top-k with exact re-ranking: the corpus is ONE scan that
    * emits an 8-byte code + the exact norm per row (the 100 TB move —
    * candidate generation shuffles codes, never vectors); each query
    * builds its ADC lookup table once (m·k partial dots), candidates
    * score in `m` table lookups each, and the top `k·rerank` per query
    * re-rank by exact cosine so the emitted similarities are exact.
    * Recall is measured in `SimilaritySpec`, not assumed; `rerank`
    * trades a small exact-scoring pass for recall.
    */
  def knnPq(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
            dim: Int, k: Int, m: Int = 8, kCent: Int = 16,
            rerank: Int = 4, iters: Int = 8): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m
    val cb = trainPqCodebook(corpus, idCol, vecCol, dim, m, kCent, iters)

    val enc = corpus.select(col(idCol).as("neighbor_id"),
      graft.functions.PqExpressions.pqEncode(asDouble(col(vecCol)), cb, m, kCent, dsub).as("code"),
      norm(col(vecCol)).as("cn"))

    val lutEntries: Seq[Column] =
      for (mi <- 0 until m; ki <- 0 until kCent) yield {
        val cent = array((0 until dsub).map(di =>
          lit(cb((mi * kCent + ki) * dsub + di))): _*)
        graft.functions.VectorExpressions.dotD(
          slice(col("qv"), mi * dsub + 1, dsub), cent)
      }
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
        norm(col(vecCol)).as("qn"))
      .withColumn("lut", array(lutEntries: _*))

    val scored = enc.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("s_approx",
        graft.functions.PqExpressions.pqAdcDot(col("lut"), col("code"), m, kCent) /
          (col("qn") * col("cn")))
    val wA = Window.partitionBy("query_id").orderBy(col("s_approx").desc, col("neighbor_id"))
    val cands = scored
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= k * rerank)
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qn"))

    val cv = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"),
      norm(col(vecCol)).as("cn"))
    val exact = cands.join(cv, "neighbor_id")
      .withColumn("sim",
        graft.functions.VectorExpressions.dotD(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("sim"), 6).as("sim"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — diversity-aware top-k selection over a bounded
    * per-query candidate set: greedily pick the candidate maximizing
    *
    *   λ·rel(c) − (1−λ)·max_{s ∈ selected} cos(c, s)
    *
    * (pure-relevance argmax seeds the set). The training-data use is
    * example selection: pulling k demonstrations / hard cases per
    * query that are relevant WITHOUT being near-duplicates of each
    * other — plain top-k by similarity returns k copies of the same
    * neighborhood.
    *
    * Input contract: `candidates` is ALREADY a bounded per-query
    * frame (the output of [[knnBruteForce]]/[[knnIvf]] joined back to
    * its vectors — tens of rows per query, never a corpus). Queries
    * with fewer than `k` candidates are excluded (the greedy is
    * undefined short).
    *
    * Determinism: candidates pack into an ID-SORTED array per query;
    * every selection step is an argmax over a struct array ordered by
    * (score, −id) — ties break to the smaller id by construction, and
    * the score trees (in-order dot folds, pre-materialized norms,
    * λ-constants) are stated identically in the oracle, so the argmax
    * compares bit-identical doubles on both engines.
    *
    * Scale posture: one hash agg packs candidates per query;
    * the k unrolled selection steps are per-row array expressions over
    * the bounded candidate array — nothing data-sized shuffles beyond
    * the per-query agg. Output: (queryCol, rn, idCol, mmr_score).
    */
  def mmrSelect(candidates: DataFrame, queryCol: String, idCol: String,
                relCol: String, vecCol: String, k: Int,
                lambda: Double): DataFrame = {
    require(k >= 1, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val cand = candidates
      .filter(col(queryCol).isNotNull && col(idCol).isNotNull &&
        col(relCol).isNotNull && col(vecCol).isNotNull)
      .select(col(queryCol).as("_q"),
        struct(col(idCol).cast("long").as("id"),
          col(relCol).cast("double").as("rel"),
          transform(col(vecCol), _.cast("double")).as("v"),
          norm(col(vecCol)).as("n")).as("_c"))
    val packed = cand.groupBy("_q")
      .agg(array_sort(collect_list(col("_c"))).as("_cands"))
      .filter(size(col("_cands")) >= k)
    def dotF(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    def simC(c: Column, s: Column) =
      dotF(c.getField("v"), s.getField("v")) /
        (c.getField("n") * s.getField("n"))
    val lam = lit(lambda); val oneMinus = lit(1.0 - lambda)
    // argmax by (score, −id): the struct max picks the highest score,
    // ties to the SMALLEST id; the chosen candidate is rebuilt from the
    // id-sorted base array with its selection score attached
    def pick(scored: Column, cands: Column): Column = {
      val best = array_max(scored)
      val base = element_at(
        filter(cands, c => c.getField("id") === -best.getField("negid")), 1)
      struct(base.getField("id").as("id"), base.getField("rel").as("rel"),
        base.getField("v").as("v"), base.getField("n").as("n"),
        best.getField("score").as("score"))
    }
    // Each step goes through a Generate barrier (explode(array(expr))):
    // the selected-set array is referenced several times by the next
    // step, and without the barrier CollapseProject re-inlines the
    // whole prior step PER REFERENCE — the plan grows ~3^k and the
    // optimizer chokes (the ClippedGramCounts lesson, EvalMetrics).
    val seedScored = transform(col("_cands"), c =>
      struct(c.getField("rel").as("score"), (-c.getField("id")).as("negid")))
    var df = packed.select(col("_q"), col("_cands"),
      explode(array(array(pick(seedScored, col("_cands"))))).as("_sel"))
    for (t <- 2 to k) {
      val prev = col("_sel")
      val rem = filter(col("_cands"), c =>
        !exists(prev, s => s.getField("id") === c.getField("id")))
      val scored = transform(rem, c =>
        struct((lam * c.getField("rel") - oneMinus *
          array_max(transform(prev, s => simC(c, s)))).as("score"),
          (-c.getField("id")).as("negid")))
      df = df.select(col("_q"), col("_cands"),
        explode(array(concat(prev, array(pick(scored, col("_cands"))))))
          .as("_sel"))
    }
    df.select(col("_q").as(queryCol), posexplode(col("_sel")))
      .select(col(queryCol), (col("pos") + 1).cast("long").as("rn"),
        col("col.id").as(idCol), round(col("col.score"), 6).as("mmr_score"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ tau, (a_id, b_id, sim).
    *
    * Default path (`exact = false`): sign-LSH banded candidate
    * generation + exact cosine verification. The plan is a shuffled
    * equi-join on (band, key) — never a `CartesianProduct` — and false
    * positives are impossible (every candidate is re-scored exactly);
    * band parameters only set recall. The per-pair miss probability is
    * `(1 - p^bandBits)^bands` with `p = 1 - acos(tau)/π`; the defaults
    * (32 bands × 2 bits) give < 1e-7 even at tau = 0.45 (p ≈ 0.65).
    *
    * Honest scale note: LOW thresholds are LSH-hostile — at tau ≈ 0.45
    * a random pair still collides in some band with probability ≈ 1, so
    * candidate volume approaches all-pairs and the win over `exact=true`
    * is only the plan shape (shuffle-partitioned equi-join instead of a
    * broadcast nested loop, so it spreads and spills instead of OOMing
    * one executor). The regime where banding genuinely bounds work is
    * real near-duplication, tau ≥ 0.8: there `bandBits = 8, bands = 16`
    * keeps recall ≥ 0.996 while a random pair collides in < 7% of
    * bands — bucket size, not corpus size, bounds the join.
    *
    * `exact = true` keeps the all-pairs cross join: exact recall by
    * construction, O(n²) — the sf-test oracle baseline, not a 10^8-row
    * plan.
    */
  def nearDupCosine(embeddings: DataFrame, idCol: String, vecCol: String,
                    tau: Double, dim: Int = 64, exact: Boolean = false,
                    nPlanes: Int = 64, bandBits: Int = 2,
                    seed: Long = 7L, allowLowTau: Boolean = false): DataFrame = {
    // Regime guard (round-5 verdict task 5): below tau ≈ 0.6 sign-LSH
    // banding with near-1 recall MUST collide on ~every pair — the
    // candidate volume approaches all-pairs and the banded plan's only
    // remaining value is its SHAPE (shuffle-partitioned equi-join that
    // spreads and spills instead of OOMing a broadcast NL join). That is
    // a deliberate trade a caller must opt into, not a default they can
    // stumble into at 10^8 rows.
    require(exact || tau >= 0.6 || allowLowTau,
      s"nearDupCosine(tau=$tau): banded sign-LSH cannot prune below tau≈0.6 " +
        "— candidate volume approaches all-pairs. Either (a) use exact=true " +
        "for small corpora, (b) route through annIvf (coarse-quantized " +
        "candidates) for low-tau similarity at scale, or (c) pass " +
        "allowLowTau=true to keep the banded plan for its shuffle-partitioned " +
        "shape, accepting ~O(n^2) candidate volume.")
    val withN = embeddings.select(col(idCol), asDouble(col(vecCol)).as("_v"),
      norm(col(vecCol)).as("_n"))
    val scored =
      if (exact) {
        val a = withN.select(col(idCol).as("a_id"), col("_v").as("av"), col("_n").as("an"))
        val b = withN.select(col(idCol).as("b_id"), col("_v").as("bv"), col("_n").as("bn"))
        Par.spreadToShuffleWidth(a, embeddings).crossJoin(b)
          .filter(col("a_id") < col("b_id"))
      } else {
        // candidates carry ids + the full signature PACKED INTO ONE
        // BIGINT (bands × bandBits ≤ 64 bits) — never the vectors;
        // exact verification re-joins vectors once per surviving pair.
        // A pair colliding in many bands (the norm at low tau) is
        // emitted ONCE, from its FIRST matching band: the join filter
        // xors the packed signatures and takes the lowest all-zero
        // band — pure codegen'd long arithmetic per joined row. This
        // replaces a distinct() over the full collision volume (bands ×
        // pairs rows through a second shuffle); the collision volume
        // never leaves the join operator.
        require(nPlanes <= 64, "banded path packs the signature into one long")
        val packed = aggregate(col("_bands"), lit(0L), (acc, b) =>
          acc.bitwiseOR(call_function("shiftleft", b.getField("key").cast("long"),
            b.getField("band") * lit(bandBits))))
        val banded = signBuckets(embeddings, vecCol, dim, nPlanes, bandBits, seed)
          .withColumn("_sig", packed) // once per vector, pre-explode
          .select(col(idCol).as("id"), col("_sig"), explode(col("_bands")).as("b"))
          .select(col("id"), col("_sig"), col("b.band").as("band"), col("b.key").as("key"))
        val bandsN = nPlanes / bandBits
        // "This band is the FIRST agreeing band" in O(1) long arithmetic
        // (the previous rendering was a bandsN-deep when-chain — ~100
        // branch ops per joined row, and the joined volume here is the
        // whole collision volume). The join key equality already forces
        // the xor's group AT `band` to zero, so the only residual check
        // is "no group strictly below `band` is all-zero":
        //   fold each bandBits-wide group's OR down to its lowest bit,
        //   mask to the groups below `band`, and require all of them set.
        def noZeroGroupBelow(x: Column, bandCol: Column): Column = {
          var y = x
          var s = 1
          while (s < bandBits) { // bit i*w := OR of bits i*w .. i*w+w-1
            y = y.bitwiseOR(call_function("shiftright", y, lit(s)))
            s <<= 1
          }
          val pattern = (0 until bandsN).map(i => 1L << (i * bandBits)).reduce(_ | _)
          val below = call_function("shiftleft", lit(1L), bandCol * lit(bandBits)) - lit(1L)
          val want = lit(pattern).bitwiseAND(below)
          y.bitwiseAND(want) === want
        }
        val cands = banded.select(col("band"), col("key"),
            col("id").as("a_id"), col("_sig").as("_sa"))
          .join(banded.select(col("band"), col("key"),
            col("id").as("b_id"), col("_sig").as("_sb")),
            Seq("band", "key"))
          .filter(col("a_id") < col("b_id") &&
            noZeroGroupBelow(col("_sa").bitwiseXOR(col("_sb")), col("band")))
          .select("a_id", "b_id")
        cands
          .join(withN.select(col(idCol).as("a_id"), col("_v").as("av"), col("_n").as("an")), "a_id")
          .join(withN.select(col(idCol).as("b_id"), col("_v").as("bv"), col("_n").as("bn")), "b_id")
      }
    scored
      .withColumn("sim",
        graft.functions.VectorExpressions.dotD(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("sim") >= tau)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
  }

  /** Embedding near-duplicate pairs via IVF cell routing — the
    * CORPUS-SCALE twin of [[nearDupCosine]]'s banded path: vectors
    * bucket under their `nprobe` nearest coarse-quantizer cells (one
    * map-side [[graft.functions.VectorExpressions.ivfCells]] kernel —
    * the centroid matrix is a reference object, so `nlist` scales with
    * the corpus without plan bloat), candidates share a cell, and
    * every candidate re-verifies by exact cosine ≥ `tau` — false
    * positives impossible, cell routing only sets recall.
    *
    * WHY this exists (the r13 fair-100× finding): sign-banded LSH at a
    * FIXED (bands × bandBits) config has a corpus-size-independent
    * random-collision rate (≈ bands·2^−bandBits), so candidate volume
    * grows as n² times a constant — at 200k random vectors the 8×8
    * config emits ~6·10⁸ candidates and the verify join spills the
    * disk. Recall at τ=0.9 caps how far bandBits can stretch, so the
    * published fix is not wider bands but CELL ROUTING: per-cell pair
    * volume is Σ|cell|² ≈ n²/nlist, and `nlist` scales with n (keep
    * `n/nlist` ≈ a few hundred). Scale-invariant twins (same direction)
    * land in identical cells by construction; borderline-τ pairs are
    * covered by multi-probe (`nprobe` ≥ 2).
    * Output: (a_id, b_id, sim) — [[nearDupCosine]]'s contract, same
    * exact all-pairs oracle.
    */
  def nearDupIvf(embeddings: DataFrame, idCol: String, vecCol: String,
                 tau: Double, nlist: Int, nprobe: Int = 2,
                 iters: Int = 5, samplePerList: Int = 8): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau in (0, 1]")
    val cents = trainCentroids(embeddings, idCol, vecCol, nlist, iters, samplePerList)
    val centArr = cents.map(_._1)
    val centNorm = cents.map(_._2)
    val base = embeddings.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("_v"),
        norm(col(vecCol)).as("_n"))
    // nlist d-wide dots per row: dense — spread on a narrow scan; the
    // cell frame is NARROW (id, cell), vectors never ride the join
    val cells = Par.spreadToShuffleWidth(base, embeddings)
      .select(col("vec_id"), explode(graft.functions.VectorExpressions
        .ivfCells(col("_v"), centArr, centNorm, nprobe)).as("_cell"))
    val cand = cells
      .join(cells.select(col("vec_id").as("b_id"), col("_cell")), Seq("_cell"))
      .filter(col("vec_id") < col("b_id"))
      .select(col("vec_id").as("a_id"), col("b_id"))
      .distinct()
    cand
      .join(base.select(col("vec_id").as("a_id"), col("_v").as("av"),
        col("_n").as("an")), "a_id")
      .join(base.select(col("vec_id").as("b_id"), col("_v").as("bv"),
        col("_n").as("bn")), "b_id")
      .withColumn("sim",
        graft.functions.VectorExpressions.dotD(col("av"), col("bv")) /
          (col("an") * col("bn")))
      .filter(col("sim") >= tau)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
  }

  /** SemDeDup-style semantic dedup drop list (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): documents whose embedding sits within cosine
    * `tau` of another document's, resolved to connected components,
    * keeping the minimum-id member of each component as the
    * representative and emitting every other member as a drop. The
    * end-to-end semantic-dedup stage, composed from the two audited
    * primitives: [[nearDupCosine]] for the pair set and
    * [[graft.ops.Dedup.nearDupClusters]] for the components (min-label
    * propagation converges to the component minimum, so the
    * representative IS the cluster id — no extra ranking pass).
    *
    * SemDeDup proper clusters first (k-means) and only compares within
    * clusters — an approximation that trades recall near cluster
    * boundaries for candidate volume. Here the candidate policy is
    * [[nearDupCosine]]'s (exact all-pairs for oracle baselines, banded
    * sign-LSH for scale; the paper's k-means pre-partition corresponds
    * to running this per IVF cell). Docs in no pair are implicit keeps.
    * Output: (dropped_id, rep_id).
    *
    * Scale posture: pair generation is the dominant cost and follows
    * the `exact` flag (see [[nearDupCosine]]'s regime guard); the CC
    * pass is O(diameter) rounds over the PAIR set (near-dup components
    * are tiny — diameter is small by construction), and the final
    * filter/projection is map-side.
    */
  def semDedupDrops(embeddings: DataFrame, idCol: String, vecCol: String,
                    tau: Double, dim: Int = 64, exact: Boolean = false,
                    nPlanes: Int = 64, bandBits: Int = 2,
                    seed: Long = 7L, allowLowTau: Boolean = false): DataFrame = {
    val pairs = nearDupCosine(embeddings, idCol, vecCol, tau, dim, exact,
      nPlanes, bandBits, seed, allowLowTau)
    graft.ops.Dedup.nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("dropped_id"), col("cluster_id").as("rep_id"))
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the `k` corpus vectors MOST similar to it among those with a
    * DIFFERENT label — the negatives that actually teach a metric
    * model (random negatives are trivially separable; the hard ones
    * sit just across the decision boundary). Same bounded-heap
    * contract as [[topKPerQuery]]: the label-mismatch filter runs
    * before aggregation, so self-pairs (same label) never reach the
    * heap.
    *
    * Output: (anchor_id, rn, neg_id, sim), rn 1..k by (sim desc, id).
    *
    * Scale posture: anchors broadcast (a training batch / probe set —
    * small by construction); the corpus scans ONCE map-side; heap
    * state is ≤ k per (anchor × task) and partial-aggregates before
    * the per-anchor shuffle, so only anchors × k rows cross the
    * exchange. For all-corpus anchors route candidates through
    * [[signBuckets]] banding or IVF cells first — the heap agg
    * consumes any candidate frame.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = anchors.select(col(idCol).as("anchor_id"), col(labelCol).as("_al"),
      asDouble(col(vecCol)).as("qv"), norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neg_id"), col(labelCol).as("_cl"),
      asDouble(col(vecCol)).as("cv"), norm(col(vecCol)).as("cn"))
    val topk = udaf(new TopKAgg(k), org.apache.spark.sql.Encoders.product[(Double, Long)])
    Par.spreadToShuffleWidth(c, corpus).crossJoin(broadcast(q))
      .filter(col("_cl") =!= col("_al"))
      .select(col("anchor_id"),
        (graft.functions.VectorExpressions.dotD(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("s"),
        col("neg_id").cast("long").as("nid"))
      .groupBy("anchor_id")
      .agg(topk(col("s"), col("nid")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")))
      .select(col("anchor_id"), (col("pos") + 1).cast("long").as("rn"),
        col("col._2").as("neg_id"), round(col("col._1"), 6).as("sim"))
  }

  /** Semantic decontamination: corpus vectors within cosine `tau` of
    * ANY eval-set vector, each with its best-matching eval item — the
    * embedding-space sibling of the n-gram contamination gate
    * (`Dedup.contamination`), catching paraphrased benchmark leakage
    * that exact n-grams miss.
    *
    * Output: (doc_id, eval_id, sim) — one row per contaminated corpus
    * vector, eval_id = its highest-similarity eval item (ties by min
    * id via the [[TopKAgg]] ordering).
    *
    * Scale posture: the EVAL side is small by construction (a
    * benchmark suite) — it broadcasts whole (`exact = true`: one
    * map-side corpus scan, |corpus|·|eval| comparisons, heap state 1
    * per doc) or as banded signatures (`exact = false`: sign-LSH
    * band/key equi-join prunes the comparison set; survivors verify
    * with the exact kernel, so reported sims are exact and a pair's
    * flag never rests on the approximation — recall follows the
    * banding config, see [[nearDupCosine]]'s regime note).
    */
  def semanticContamination(corpus: DataFrame, evals: DataFrame,
                            idCol: String, vecCol: String, tau: Double,
                            exact: Boolean = true, dim: Int = 64,
                            nPlanes: Int = 64, bandBits: Int = 2,
                            seed: Long = 7L): DataFrame = {
    val c = corpus.select(col(idCol).as("doc_id"), asDouble(col(vecCol)).as("cv"),
      norm(col(vecCol)).as("cn"))
    val e = evals.select(col(idCol).as("eval_id"), asDouble(col(vecCol)).as("ev"),
      norm(col(vecCol)).as("en"))
    val pairs =
      if (exact) Par.spreadToShuffleWidth(c, corpus).crossJoin(broadcast(e))
      else {
        val cb = signBuckets(corpus, vecCol, dim, nPlanes, bandBits, seed)
          .select(col(idCol).as("doc_id"), explode(col("_bands")).as("b"))
          .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
        val eb = signBuckets(evals, vecCol, dim, nPlanes, bandBits, seed)
          .select(col(idCol).as("eval_id"), explode(col("_bands")).as("b"))
          .select(col("eval_id"), col("b.band").as("band"), col("b.key").as("key"))
        cb.join(broadcast(eb), Seq("band", "key"))
          .select("doc_id", "eval_id").distinct()
          .join(c, "doc_id").join(broadcast(e), "eval_id")
      }
    val top1 = udaf(new TopKAgg(1), org.apache.spark.sql.Encoders.product[(Double, Long)])
    pairs
      .select(col("doc_id"),
        (graft.functions.VectorExpressions.dotD(col("cv"), col("ev")) /
          (col("cn") * col("en"))).as("s"),
        col("eval_id").cast("long").as("eid"))
      .groupBy("doc_id")
      .agg(top1(col("s"), col("eid")).as("best"))
      .select(col("doc_id"), col("best").getItem(0).as("b"))
      .filter(col("b._1") >= tau)
      .select(col("doc_id"), col("b._2").as("eval_id"),
        round(col("b._1"), 6).as("sim"))
  }

  /** Per-label mean embedding (class centroids), exploded to
    * (label, dim, centroid, n_vectors) rows. The standard prototype
    * step — cluster summaries, class prototypes for nearest-centroid
    * classification, candidate seeds for IVF training.
    *
    * Determinism discipline: float components are scaled to exact
    * integer MICROS (×10⁶, round, long) before summation, so the
    * per-dimension sums are partition-order independent LONG adds; the
    * single division back to a double happens once per output cell.
    * Plain `avg(double)` would fold in partition order and drift
    * across engines/cluster sizes (see the `graft-parity-tricks`
    * discipline used by `minutesFromDurationSum`).
    *
    * Scale posture: posexplode → one map-side-combined hash agg on
    * (label, dim) — |labels|·dim output cells regardless of corpus
    * size. No collect, no window.
    */
  /** Embedding-distribution drift monitor: cosine between the
    * quantized centroids of two md5-halves of the corpus — the cheap
    * canary that an embedding model change, a re-ingest, or a corrupt
    * batch shifted the representation space (stable pipelines read
    * ≈ 1.0; anything persistently lower says the halves no longer
    * come from the same distribution — split by ingest batch instead
    * of a hash for a real before/after read). Floats quantize to
    * round(1e6·x) BEFORE summation so the per-(half,dim) centroid
    * numerators are EXACT integers (a raw float sum would be
    * partition-order dependent); the cosine is dot/(√n0·√n1) over
    * DECIMAL-exact dim sums — raw double parity, no rounding.
    * Output ONE row: (n_a, n_b, centroid_cosine).
    *
    * Scale posture: one posexplode into a (half,dim)-keyed agg
    * (2·dims cells), then a dims-sized conditional agg — no pair
    * joins, no driver materialization.
    */
  def embedDrift(embeddings: DataFrame, idCol: String,
                 vecCol: String): DataFrame = {
    val dims = embeddings
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(Sampling.hashBucket(col(idCol), 2).cast("int").as("_h"),
        posexplode(col(vecCol)).as(Seq("_d", "_x")))
      .withColumn("_q", round(col("_x").cast("double") * 1000000).cast("long"))
    // per-half vec counts ride the same cells agg (identical at every
    // dim, folded back out with max) — one scan, no second branch
    val cells = dims.groupBy("_d")
      .agg(sum(when(col("_h") === 0, col("_q")).otherwise(0L))
        .cast("decimal(19,0)").as("_c0"),
        sum(when(col("_h") === 1, col("_q")).otherwise(0L))
          .cast("decimal(19,0)").as("_c1"),
        sum(when(col("_h") === 0, 1L).otherwise(0L)).as("_cnt0"),
        sum(when(col("_h") === 1, 1L).otherwise(0L)).as("_cnt1"))
    cells
      .agg(max(col("_cnt0")).cast("long").as("n_a"),
        max(col("_cnt1")).cast("long").as("n_b"),
        sum(col("_c0") * col("_c1")).as("_dot"),
        sum(col("_c0") * col("_c0")).as("_n0"),
        sum(col("_c1") * col("_c1")).as("_n1"))
      .select(col("n_a"), col("n_b"),
        when(col("_n0") === 0 || col("_n1") === 0, lit(null).cast("double"))
          .otherwise(col("_dot").cast("double") /
            (sqrt(col("_n0").cast("double")) * sqrt(col("_n1").cast("double"))))
          .as("centroid_cosine"))
  }

  /** Embedding-anisotropy audit: every vector's cosine to the CORPUS
    * CENTROID — the "all-but-the-top" diagnostic (Mu–Viswanath): an
    * anisotropic embedding space has a dominant common direction, and
    * vectors hugging it (cos → 1) carry little discriminative signal;
    * the per-vector score both measures the pathology corpus-wide and
    * flags the worst offenders for the [[graft.ops.Pca.projections]]
    * correction.
    *
    * Exactness: components integerize to micros
    * (`round(x·10⁶)` — the [[embedDrift]] discipline), the centroid is
    * the exact BIGINT per-dim sum (cosine is scale-invariant, so the
    * un-divided sum IS the centroid direction — no mean division, no
    * rational drift), and dot/norm accumulate in DECIMAL(38,0); the
    * cosine is one fixed double tree over exact operands, shipped raw.
    *
    * Plan: one posexplode pass; the d-row centroid frame broadcasts
    * back onto the same exploded frame; one per-vector agg. No joins
    * at corpus volume, no driver state.
    * Output: (vec_id, cos_centroid), one row per vector.
    */
  def anisotropy(embeddings: DataFrame, idCol: String,
                 vecCol: String): DataFrame = {
    val dims = Par.spreadToShuffleWidth(embeddings
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull), embeddings)
      .select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("_d", "_x")))
      .withColumn("_q", round(col("_x").cast("double") * 1000000).cast("long"))
    val centroid = dims.groupBy("_d")
      .agg(sum(col("_q")).cast("decimal(38,0)").as("_s"))
    val scored = dims.join(broadcast(centroid), Seq("_d"))
      .groupBy("vec_id")
      .agg(sum(col("_q").cast("decimal(38,0)") * col("_s")).as("_dot"),
        sum(col("_q").cast("decimal(38,0)") * col("_q")).as("_vv"))
    val cc = centroid.agg(sum(col("_s") * col("_s")).as("_cc"))
    scored.crossJoin(broadcast(cc))
      .select(col("vec_id"),
        when(col("_vv") === 0 || col("_cc") === 0, lit(null).cast("double"))
          .otherwise(col("_dot").cast("double") /
            (sqrt(col("_vv").cast("double")) * sqrt(col("_cc").cast("double"))))
          .as("cos_centroid"))
  }

  /** Cluster labeling: the top-k most DISTINCTIVE terms per embedding
    * cluster — the human-readable answer to "what did the clustering
    * find?" (cluster-balanced curation and mixture design both need
    * named clusters, not ids). Distinctiveness is cluster-df² / corpus-
    * df (a χ²-flavored lift: frequent-in-cluster AND concentrated —
    * plain cluster-df surfaces stopwords, plain lift surfaces
    * singletons). Per-doc DISTINCT terms (df semantics, not tf), exact
    * integer counts, the score one double division, top-k by the
    * deterministic (score desc, term) window.
    * Output: (cluster, term, cdf, df, score, rank).
    */
  def clusterTopTerms(assign: DataFrame, idCol: String, clusterCol: String,
                      docs: DataFrame, docIdCol: String, textCol: String,
                      k: Int = 5): DataFrame = {
    require(k >= 1, "k must be positive")
    val a = assign.filter(col(idCol).isNotNull && col(clusterCol).isNotNull)
      .select(col(idCol).as("_id"), col(clusterCol).as("cluster"))
    val d = docs.filter(col(docIdCol).isNotNull && col(textCol).isNotNull)
      .select(col(docIdCol).as("_id"), col(textCol).as("_text"))
    val terms = a.join(d, "_id")
      .select(col("cluster"),
        explode(array_distinct(TextAnalysis.tokens(lower(col("_text")))))
          .as("term"))
    val cdf = terms.groupBy("cluster", "term").agg(count(lit(1)).as("cdf"))
    val dfG = cdf.groupBy("term").agg(sum(col("cdf")).cast("long").as("df"))
    val scored = cdf.join(dfG, "term")
      .withColumn("score", col("cdf").cast("double") *
        col("cdf").cast("double") / col("df").cast("double"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cluster"), col("term"), col("cdf"), col("df"),
        round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
  }

  /** Per-vector L2-norm histogram — the embedding-health screen run
    * before any cosine machinery is trusted: norm collapse (a spike at
    * ~0) means dead vectors, a bimodal profile means two incompatible
    * encoder versions in one table, heavy right tail means un-normalized
    * rows that will dominate dot products. One map-side per-row fold
    * (each vector's own array — order fixed, engine-deterministic) over
    * the [[anisotropy]] micro-quantized integers, then a tiny
    * 0.1-bucket count agg. Output: (norm_bucket, n_vecs).
    */
  def embedNorms(embeddings: DataFrame, idCol: String,
                 vecCol: String): DataFrame = {
    def q(x: Column) = round(x.cast("double") * 1000000).cast("long")
    embeddings
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(aggregate(col(vecCol), lit(0L), (a, x) => a + q(x) * q(x))
        .as("_ss"))
      .withColumn("norm_bucket",
        round(sqrt(col("_ss").cast("double")) / lit(1000000.0), 1))
      .groupBy("norm_bucket")
      .agg(count(lit(1)).as("n_vecs"))
  }

  def labelCentroids(embeddings: DataFrame, labelCol: String,
                     vecCol: String): DataFrame = {
    embeddings
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .withColumn("_micros", round(col("_x").cast("double") * 1000000).cast("long"))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(sum("_micros").as("_s"), count(lit(1)).as("n_vectors"))
      .select(col("label"), col("dim"),
        // UNROUNDED: both divisions consume exact integers, so the
        // double is bit-identical cross-engine; round-to-6 was the only
        // divergence point (decimal half boundary, 1 cell in 640 at
        // sf0.1 — found by the round-8 sf0.1 oracle sweep)
        (col("_s") / 1000000.0 / col("n_vectors")).as("centroid"),
        col("n_vectors"))
  }

  /** Euclidean near-dup pairs via E2LSH bucketing (Datar et al. 2004
    * with the repo's engine-portable twist): each of `nTables` hash
    * tables is `projPerTable` (m) CONCATENATED sign projections
    * ([[graft.ops.Projection.signFrame]]'s md5-±1 matrix — regenerable
    * symbolically by any engine, where a Gaussian matrix would need
    * shipped state), each quantized to width-`w` cells with a seeded
    * offset: `g_l(v) = (⌊(v·s_{l,1} + b_{l,1})/w⌋, …, ⌊…_{l,m}⌋)`.
    * Candidates share a whole (table, m-cell key); then verify EXACT
    * L2 ≤ `r`. Sign projections are the JL variant of p-stable: a
    * distance-`d` pair's projected gap concentrates at `±d`, so a far
    * pair (d ≫ w) matches all m slots of one table with probability
    * ~`(w/d)^m` (the knob that keeps candidate volume near-linear),
    * while a twin at `d ≪ w` splits somewhere in a table with
    * probability ≈ `m·d/w` and misses ALL `nTables` independent
    * offset sets with probability ≈ `(m·d/w)^L` — at the shipped
    * config (`d ≤ r = w/5`, m = 4, L = 8) below 1e-3·…·≈1e-9 per
    * pair, which is what lets the exact all-pairs oracle gate the
    * banded plan (the `q_embed_dup_prod` precedent: banding sets
    * recall, the verify sets precision).
    *
    * Determinism: projections fold in dim order (raw-parity doubles →
    * identical cells on both engines), offsets are the seeded md5
    * uniforms, the verify distance is one in-order fold + sqrt.
    * Output: (a_id, b_id, dist), dist rounded 6.
    *
    * Scale posture: the sign matrix is `nTables·m` broadcast rows,
    * regrouped to `nTables`; the projection+cell stage is map-side
    * (dense per-row — width-guarded) and emits a NARROW (id, table,
    * key) frame, so the bucket equi-join never shuffles vectors; the
    * verify stage re-fetches the two vectors by id (the standard
    * candidates-then-fetch shape). No all-pairs anywhere.
    */
  def e2lshPairs(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                 r: Double, w: Double = 0.5, nTables: Int = 8,
                 projPerTable: Int = 4, seed: Long = 7L): DataFrame = {
    require(r > 0.0 && w > 0.0, "r, w must be positive")
    require(nTables >= 1 && nTables <= 64, "1 <= nTables <= 64")
    require(projPerTable >= 1 && projPerTable <= 16, "1 <= projPerTable <= 16")
    val spark = emb.sparkSession
    val base = emb.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"), asDouble(col(vecCol)).as("_v"))
    val uL = { // per-projection offset: the seeded md5 uniform on (slot, seed)
      val key = concat_ws("", col("comp").cast("string"), lit(seed.toString))
      val h = conv(substring(md5(key.cast("binary")), 1, 13), 16, 10).cast("long")
      (h + lit(0.5)) / lit(4503599627370496.0)
    }
    // m cell coordinates CONCATENATED per table (classic E2LSH g =
    // (h_1..h_m)): random collisions fall as ~(w/d)^m while a d << w
    // twin still matches all m slots of some table
    val signs = graft.ops.Projection.signFrame(spark, nTables * projPerTable, dim)
      .withColumn("_b", uL * w)
      .withColumn("_tbl", (col("comp") / projPerTable).cast("long"))
      .groupBy("_tbl")
      .agg(array_sort(collect_list(struct(col("comp"), col("_s"), col("_b"))))
        .as("_ps"))
    // nTables*m d-wide folds per row: dense — spread on a narrow scan.
    // The cell frame is NARROW (id, table, m-long key): vectors never
    // travel through the bucket join; the verify stage re-fetches them.
    val cells = Par.spreadToShuffleWidth(base, emb)
      .crossJoin(broadcast(signs))
      .select(col("vec_id"), col("_tbl"),
        transform(col("_ps"), p =>
          floor((aggregate(zip_with(col("_v"), p.getField("_s"), (x, s) => x * s),
            lit(0.0), (a, t) => a + t) + p.getField("_b")) / lit(w)))
          .as("_cell"))
    val cand = cells.alias("a")
      .join(cells.select(col("vec_id").as("b_id"), col("_tbl"), col("_cell")),
        Seq("_tbl", "_cell"))
      .filter(col("vec_id") < col("b_id"))
      .select(col("vec_id").as("a_id"), col("b_id"))
      .distinct()
    val dist = sqrt(aggregate(zip_with(col("_v"), col("_w"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (a, t) => a + t))
    cand
      .join(base.select(col("vec_id").as("a_id"), col("_v")), "a_id")
      .join(base.select(col("vec_id").as("b_id"), col("_v").as("_w")), "b_id")
      .withColumn("_d", dist)
      .filter(col("_d") <= r)
      .select(col("a_id"), col("b_id"), round(col("_d"), 6).as("dist"))
  }

  /** Quantized-distribution divergence between two corpus slices — a
    * MAUVE-flavored eval primitive: assign every vector to its nearest
    * pinned centroid ([[assignToCentroids]]'s map-side argmax), build
    * the two slices' cell histograms, and release the Jensen–Shannon
    * divergence between them (0 = indistinguishable through the
    * quantizer, ln 2 = disjoint support). The practical question it
    * answers at 100 TB: did generation/filtering shift WHERE the
    * embedding mass sits, summarized through a k-cell codebook instead
    * of an intractable density.
    *
    * Determinism: cell counts are exact longs; the JS fold runs over
    * the ≤k-row cell frame in cell order (collapsed-frame discipline),
    * `0·ln 0 = 0` handled explicitly. Output one row:
    * (n_a, n_b, js_div).
    *
    * Scale posture: map-side assignment (0 shuffles), one hash agg to
    * (cell, slice) counts, then tiny-frame math — corpus never
    * shuffles on anything wider than the k-bounded cell key.
    */
  def quantizedJsDivergence(emb: DataFrame, idCol: String, vecCol: String,
                            sliceCol: Column,
                            centroids: Seq[Seq[Double]]): DataFrame = {
    val assigned = assignToCentroids(emb, idCol, vecCol, centroids)
      .select(col("vec_id"), col("cluster"))
      .join(emb.select(col(idCol).as("vec_id"), sliceCol.as("_slice")), "vec_id")
    val cellCounts = assigned.groupBy("cluster")
      .agg(sum(when(col("_slice"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("_slice"), 0L).otherwise(1L)).as("cb"))
    cellCounts
      .agg(array_sort(collect_list(struct(col("cluster"), col("ca"), col("cb"))))
        .as("_c"))
      .select(expr("aggregate(_c, 0L, (a, s) -> a + s.ca)").as("n_a"),
        expr("aggregate(_c, 0L, (a, s) -> a + s.cb)").as("n_b"), col("_c"))
      // JS = 0.5*KL(P||M) + 0.5*KL(Q||M), folded per cell in cluster
      // order; p or q = 0 contributes its x*ln(2x/(x+y)) term as 0
      .select(col("n_a"), col("n_b"),
        // per-cell term = (P-leg + Q-leg) grouped BEFORE joining the
        // accumulator, mirroring DuckDB's list_sum over per-element
        // sums — addition grouping is part of the parity contract
        round(expr("""aggregate(_c, cast(0.0 as double), (acc, s) ->
            acc + (
              (CASE WHEN s.ca = 0 THEN cast(0.0 as double) ELSE
                0.5 * (cast(s.ca as double) / cast(n_a as double)) *
                ln(2.0 * (cast(s.ca as double) / cast(n_a as double)) /
                   (cast(s.ca as double) / cast(n_a as double)
                    + cast(s.cb as double) / cast(n_b as double))) END)
              +
              (CASE WHEN s.cb = 0 THEN cast(0.0 as double) ELSE
                0.5 * (cast(s.cb as double) / cast(n_b as double)) *
                ln(2.0 * (cast(s.cb as double) / cast(n_b as double)) /
                   (cast(s.ca as double) / cast(n_a as double)
                    + cast(s.cb as double) / cast(n_b as double))) END)))"""), 6)
          .as("js_div"))
  }

  /** Matryoshka (MRL) truncation-fidelity audit: how much cosine
    * similarity drifts when vectors are cut to a prefix of their
    * dimensions — the measurement behind serving a 1/4-width embedding
    * index (Kusupati et al. 2022: MRL-trained models pack meaning into
    * prefixes; this audit tells you whether YOURS did). Over a
    * deterministic pair frame (each vector vs its id-successor — a
    * corpus-wide unbiased pair sample with no sampling state), emit
    * per (pair, prefix): the truncated-prefix cosine, the full cosine,
    * and the absolute error.
    *
    * Determinism: prefix dots/norms are in-order folds over
    * `slice(vec, 1, p)` (same left-to-right order both engines — the
    * [[graft.ops.Projection.jlProject]] discipline), zero-norm
    * prefixes emit null (0/0 disagreement), doubles rounded at the
    * edge.
    * Output: (vec_id, prefix, cos_trunc, cos_full, abs_err).
    *
    * Scale posture: ONE id-successor equi-join (shuffle on id), then
    * map-side per-pair math; prefixes multiply per-row cost, not rows
    * shuffled. No corpus-scale state.
    */
  def matryoshkaAudit(embeddings: DataFrame, idCol: String, vecCol: String,
                      prefixes: Seq[Int]): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(_ >= 1), "prefixes >= 1")
    val base = embeddings.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"), asDouble(col(vecCol)).as("_v"))
    val pairs = base.alias("a")
      .join(base.select((col("vec_id") - 1L).as("vec_id"), col("_v").as("_w")), "vec_id")
    def dotP(a: Column, b: Column, p: Int) =
      aggregate(zip_with(slice(a, 1, p), slice(b, 1, p), (x, y) => x * y),
        lit(0.0), (acc, t) => acc + t)
    def cosP(p: Int) = {
      val d = dotP(col("_v"), col("_w"), p)
      val na = sqrt(dotP(col("_v"), col("_v"), p))
      val nb = sqrt(dotP(col("_w"), col("_w"), p))
      when(na === 0.0 || nb === 0.0, lit(null).cast("double"))
        .otherwise(d / (na * nb))
    }
    val full = graft.functions.VectorExpressions.dotD(col("_v"), col("_w")) /
      (sqrt(graft.functions.VectorExpressions.dotD(col("_v"), col("_v"))) *
        sqrt(graft.functions.VectorExpressions.dotD(col("_w"), col("_w"))))
    val fullSafe = when(
      graft.functions.VectorExpressions.dotD(col("_v"), col("_v")) === 0.0 ||
        graft.functions.VectorExpressions.dotD(col("_w"), col("_w")) === 0.0,
      lit(null).cast("double")).otherwise(full)
    pairs
      .withColumn("_cf", fullSafe)
      .select(col("vec_id"), col("_cf"), explode(array(prefixes.map(p =>
        struct(lit(p.toLong).as("prefix"), cosP(p).as("ct"))): _*)).as("_e"))
      .select(col("vec_id"), col("_e.prefix").as("prefix"),
        round(col("_e.ct"), 6).as("cos_trunc"),
        round(col("_cf"), 6).as("cos_full"),
        round(abs(col("_e.ct") - col("_cf")), 6).as("abs_err"))
  }
}
