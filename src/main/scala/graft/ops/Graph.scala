package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Co-occurrence graph analytics over basket-shaped data: association
  * rules (support / confidence / lift) and triangle enumeration on the
  * co-occurrence edge set. The baskets here are orders (items = parts,
  * the reference's star schema re-used as a market-basket corpus); the
  * same shapes serve session→track baskets or doc→shingle incidence.
  *
  * Scale discipline shared by the family:
  *
  *  - The pair explosion is C(k,2) PER BASKET, so the one thing that
  *    must never reach the exchange is a mega-basket: `maxBasketSize`
  *    drops baskets above the bound BEFORE pairing (the standard
  *    frequent-itemset hygiene step — a 10⁵-item basket contributes
  *    5·10⁹ pairs and zero statistical signal). With the bound, pair
  *    volume is ≤ (maxBasketSize−1)/2 × input rows — linear.
  *  - `minSupport` is applied in the FIRST aggregation after pairing,
  *    so downstream joins (rule stats, triangle closure) see only the
  *    support-filtered edge set, which is orders of magnitude smaller
  *    than the raw pair multiset.
  *  - Per-item counts are a tiny frame (≤ |vocabulary| rows) and are
  *    broadcast; the pair→rule join never shuffles the big side twice.
  *
  * Ratio outputs (confidence, lift) are emitted as integer PPM
  * (`round(1e6·x)` → BIGINT) so results hash-match a DuckDB oracle
  * bit-for-bit: long→double casts are exact under 2^53, the division
  * tree is written identically on both engines, and `round()` is
  * half-away-from-zero in both.
  */
object Graph {

  /** Distinct (basket, item) incidence with the mega-basket guard
    * applied. Null baskets/items are dropped (they identify nothing).
    */
  private def incidence(df: DataFrame, basketCol: String, itemCol: String,
                        maxBasketSize: Int): DataFrame = {
    val b = col(basketCol); val i = col(itemCol)
    // ONE full-data exchange (r13): cluster the raw rows by basket, then
    // let every downstream operator satisfy its distribution from that
    // single shuffle — the (basket, item) dedupe groups by a SUPERSET of
    // the partitioning key, the size guard and its semi-join cluster by
    // basket itself, and the pairing self-join in [[cooccurrenceEdges]]
    // joins on basket (both sides read the same reused exchange). The
    // previous shape shuffled the fact data twice: distinct() exchanged
    // by (basket, item), then the semi-join re-exchanged everything by
    // basket. Skew note: a pathological mega-basket now dedupes in one
    // task instead of spreading by (basket, item) — bounded in practice
    // by the same `maxBasketSize` contract that discards it, and the
    // dedupe is a streaming hash-agg, not an array materialization.
    val inc = df.filter(b.isNotNull && i.isNotNull)
      .select(b.as("basket"), i.as("item"))
      .repartition(col("basket"))
      .distinct()
    val sizes = inc.groupBy("basket").agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxBasketSize)
      .select("basket")
    // sizes is one row per surviving basket — at most |baskets|, and the
    // join key is the incidence frame's own shuffle key, so this is a
    // cheap semi-join that co-partitions with the pairing self-join below
    inc.join(sizes, Seq("basket"), "left_semi")
  }

  /** Co-occurrence edges: unordered item pairs (a < b) that share a
    * basket, with the number of shared baskets as `pair_cnt`, kept when
    * `pair_cnt >= minSupport`. One self-join on the basket key — both
    * sides hash-partition on `basket`, so the join is co-located after
    * a single exchange of the (deduplicated, bounded) incidence frame.
    * Output: (a, b, pair_cnt).
    */
  def cooccurrenceEdges(df: DataFrame, basketCol: String, itemCol: String,
                        minSupport: Long = 2L,
                        maxBasketSize: Int = 1000): DataFrame = {
    val inc = incidence(df, basketCol, itemCol, maxBasketSize)
    val l = inc.select(col("basket"), col("item").as("a"))
    val r = inc.select(col("basket"), col("item").as("b"))
    l.join(r, Seq("basket"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minSupport)
  }

  /** Association rules from co-occurring pairs, both directions per
    * edge. For the rule a→b with `sup` shared baskets, `cnt_a` baskets
    * containing a, `cnt_b` containing b, and `n` total baskets:
    *
    *   confidence = sup / cnt_a            (emitted as conf_ppm)
    *   lift       = sup·n / (cnt_a·cnt_b)  (emitted as lift_ppm)
    *
    * Output: (antecedent, consequent, support, cnt_ante, conf_ppm,
    * lift_ppm), support >= minSupport.
    *
    * Plan shape: the edge set is already support-filtered (small); the
    * per-item basket counts and the total-basket count are broadcast,
    * so rule scoring adds no shuffle beyond [[cooccurrenceEdges]]'s.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Long = 2L,
                       maxBasketSize: Int = 1000): DataFrame = {
    val inc = incidence(df, basketCol, itemCol, maxBasketSize)
    val itemCnt = inc.groupBy(col("item")).agg(count(lit(1)).as("item_cnt"))
    val nBaskets = inc.select(countDistinct(col("basket")).as("n_baskets"))
    val edges = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
    // both directions via ONE explode — (a→b) and (b→a) share support but
    // not confidence; a self-unionAll would plan and re-run the pair
    // generation twice (the nearDupClusters lesson)
    val directed = edges.select(explode(array(
        struct(col("a").as("antecedent"), col("b").as("consequent"),
          col("pair_cnt").as("support")),
        struct(col("b").as("antecedent"), col("a").as("consequent"),
          col("pair_cnt").as("support")))).as("_d"))
      .select(col("_d.antecedent").as("antecedent"),
        col("_d.consequent").as("consequent"), col("_d.support").as("support"))
    directed
      .join(broadcast(itemCnt.withColumnRenamed("item", "antecedent")
        .withColumnRenamed("item_cnt", "cnt_ante")), Seq("antecedent"))
      .join(broadcast(itemCnt.withColumnRenamed("item", "consequent")
        .withColumnRenamed("item_cnt", "cnt_cons")), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .select(
        col("antecedent"), col("consequent"), col("support"), col("cnt_ante"),
        round(lit(1000000.0) * (col("support").cast("double") / col("cnt_ante").cast("double")))
          .cast("long").as("conf_ppm"),
        round(lit(1000000.0) * ((col("support") * col("n_baskets")).cast("double")
          / (col("cnt_ante") * col("cnt_cons")).cast("double")))
          .cast("long").as("lift_ppm"))
  }

  /** Top-k item-item cosine similarity over basket co-occurrence —
    * the classic "customers who bought X also bought Y" scoring:
    * cos(a,b) = pair_cnt / √(cnt_a·cnt_b) down-weights promiscuous
    * items that [[associationRules]]' raw support over-ranks. The
    * cosine is one division/sqrt of exact integer counts (sqrt is
    * IEEE-correctly-rounded everywhere — raw double parity), and the
    * cut is a deterministic (cosine DESC, a, b) top-k.
    * Output: (a, b, pair_cnt, cnt_a, cnt_b, cosine).
    *
    * Plan shape: [[cooccurrenceEdges]]' single co-located self-join is
    * the only data-sized work; per-item counts broadcast onto the
    * support-filtered edge set; the cut plans as TakeOrdered (no
    * global sort).
    */
  def itemCosine(df: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long = 2L, topK: Int = 50,
                 maxBasketSize: Int = 1000): DataFrame = {
    require(topK >= 1 && topK <= 100000, "1 <= topK <= 100000")
    import org.apache.spark.sql.expressions.Window
    // per-item basket counts ride the incidence frame as a window and
    // flow THROUGH the pairing join — no separate count branch, so the
    // incidence lineage is derived once per join side, same as
    // cooccurrenceEdges itself
    val inc = incidence(df, basketCol, itemCol, maxBasketSize)
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("item"))))
    val l = inc.select(col("basket"), col("item").as("a"),
      col("cnt").as("cnt_a"))
    val r = inc.select(col("basket"), col("item").as("b"),
      col("cnt").as("cnt_b"))
    l.join(r, Seq("basket"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b", "cnt_a", "cnt_b")
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minSupport)
      .select(col("a"), col("b"), col("pair_cnt"), col("cnt_a"), col("cnt_b"),
        (col("pair_cnt").cast("double") /
          sqrt(col("cnt_a").cast("double") * col("cnt_b").cast("double")))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Triangles of the co-occurrence graph: ordered triples a < b < c
    * where all three edges clear `minSupport`. Two hash joins over the
    * support-filtered edge set E: E(a,b) ⋈ E(b,c) ⋈ E(a,c) — the a<b<c
    * orientation means each triangle is enumerated exactly once and the
    * wedge join (on b) only extends forward, the standard compact
    * enumeration. Output: (a, b, c).
    *
    * Scale posture: work is Σ_b d⁺(b)² over FORWARD degrees — bounded
    * by the support filter, never the raw pair multiset. For skewed
    * degree distributions the classic refinement (orient edges from
    * low to high TOTAL degree instead of by id) drops the bound to
    * O(|E|^1.5); at the moderate supports this engine targets, the
    * id orientation keeps the oracle's ordering semantics and AQE
    * handles residual wedge skew.
    */
  def triangles(df: DataFrame, basketCol: String, itemCol: String,
                minSupport: Long = 2L,
                maxBasketSize: Int = 1000): DataFrame = {
    // The edge set is referenced THREE times below (e1/e2/e3); without
    // materialization the whole co-occurrence derivation (explode →
    // pair join → support agg) is planned and EXECUTED three times —
    // measured as 24 planned exchanges and the r8 bench's 2.3× drift.
    // Support-filtered edges are small relative to the corpus (that is
    // the filter's job), so one MEMORY_AND_DISK cache is the scale-safe
    // shape, same discipline as Dedup.shingleSets.
    val e = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
      .select("a", "b").cache()
    val e1 = e
    val e2 = e.select(col("a").as("b"), col("b").as("c"))
    val e3 = e.select(col("a"), col("b").as("c"))
    e1.join(e2, Seq("b"))
      .join(e3, Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }

  /** Resource-Allocation link prediction (Zhou–Lü–Zhang) over the
    * co-occurrence graph: for every NON-adjacent pair (a < b) with at
    * least one common neighbor, `ra = Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z)` —
    * the common-neighbor score family's exact-arithmetic member (its
    * cousin Adamic–Adar needs `1/ln(deg)`, and `ln` is not guaranteed
    * correctly rounded cross-engine; RA's reciprocal integerizes
    * exactly: each z contributes `10⁹ div deg(z)` in BIGINT — the
    * [[pageRank]] spec-not-accident floor discipline).
    *
    * Plan: degrees are one agg on the directed edge view; wedges join
    * the z→a view with the z→b view (work Σ_z deg(z)² — bounded by the
    * support filter like [[triangles]]); existing edges leave via one
    * anti-join. The edge set is cached once (the triangles r9 lesson:
    * three uncached references re-execute the whole pair derivation).
    * Output: (a, b, n_common, ra_nano).
    */
  def resourceAllocation(df: DataFrame, basketCol: String, itemCol: String,
                         minSupport: Long = 2L,
                         maxBasketSize: Int = 1000): DataFrame = {
    val e = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
      .select("a", "b").cache()
    val directed = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst")
    val deg = directed.groupBy(col("src").as("_z")).agg(count(lit(1)).as("_deg"))
    val w = deg.select(col("_z"),
      // integral `div`, NOT `/`: long / long is a DOUBLE division in
      // Spark, and trunc(1e9/d as double) can land one off floor(1e9/d)
      // for large d — the scaladoc's `10⁹ div deg(z)` is the contract
      expr("1000000000L div _deg").as("_w"))
    val za = directed.select(col("src").as("_z"), col("dst").as("a"))
    val zb = directed.select(col("src").as("_z"), col("dst").as("b"))
    za.join(zb, Seq("_z"))
      .filter(col("a") < col("b"))
      .join(w, Seq("_z"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("_w")).as("ra_nano"))
      .join(e, Seq("a", "b"), "left_anti") // predict NEW links only
  }

  /** Jaccard-coefficient link prediction over the co-occurrence graph —
    * [[resourceAllocation]]'s normalized sibling: for every
    * non-adjacent pair (a < b) with a common neighbor,
    * `jaccard = |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)|`, integerized exactly as
    * `10⁶·common div (deg(a)+deg(b)−common)` (RA weights rare hubs,
    * Jaccard normalizes by combined neighborhoods — ship both, the
    * standard link-prediction panel). Same wedge-join plan as RA with
    * degrees joined per ENDPOINT instead of per witness.
    * Output: (a, b, n_common, jaccard_ppm).
    */
  def jaccardLinks(df: DataFrame, basketCol: String, itemCol: String,
                   minSupport: Long = 2L,
                   maxBasketSize: Int = 1000): DataFrame = {
    val e = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
      .select("a", "b").cache()
    val directed = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst")
    val deg = directed.groupBy(col("src").as("_n"))
      .agg(count(lit(1)).as("_d"))
    val za = directed.select(col("src").as("_z"), col("dst").as("a"))
    val zb = directed.select(col("src").as("_z"), col("dst").as("b"))
    za.join(zb, Seq("_z"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"))
      .join(e, Seq("a", "b"), "left_anti")
      .join(deg.select(col("_n").as("a"), col("_d").as("_da")), Seq("a"))
      .join(deg.select(col("_n").as("b"), col("_d").as("_db")), Seq("b"))
      .select(col("a"), col("b"), col("n_common"),
        expr("(1000000 * n_common) div (_da + _db - n_common)")
          .as("jaccard_ppm"))
  }

  /** Newman modularity of the [[labelPropagation]] communities over the
    * co-occurrence graph — the quality number for a community
    * partition: Q = Σ_c [ e_c/m − (d_c/2m)² ]. Reported per community
    * (which clusters are real vs degree-artifact) with the exact
    * integer numerator (4·m·e_c − d_c²) divided once in doubles —
    * engine-deterministic, no integral division on a possibly-negative
    * numerator (Spark `div` truncates, DuckDB `//` floors).
    *
    * One cached edge set feeds LPA's rounds, the intra-community edge
    * count, and the degree sums — the single-lineage discipline.
    * Output: (lab, n_nodes, e_in, d_tot, q_contrib).
    */
  def communityModularity(df: DataFrame, basketCol: String, itemCol: String,
                          minSupport: Long = 2L, rounds: Int = 2,
                          maxBasketSize: Int = 1000): DataFrame = {
    val e = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
      .select("a", "b").cache()
    val digraph = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val labs = labelPropagation(digraph, "src", "dst", rounds)
    val m = e.agg(count(lit(1)).as("_m"))
    val la = labs.select(col("node").as("a"), col("lab").as("_la"))
    val lb = labs.select(col("node").as("b"), col("lab").as("_lb"))
    val eIn = e.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("_la") === col("_lb"))
      .groupBy(col("_la").as("lab"))
      .agg(count(lit(1)).as("e_in"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("_d"))
    val dTot = deg.join(labs, Seq("node"))
      .groupBy("lab")
      .agg(sum(col("_d")).cast("long").as("d_tot"), count(lit(1)).as("n_nodes"))
    val mD = col("_m").cast("double")
    dTot.join(eIn, Seq("lab"), "left")
      .select(col("lab"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"))
      .crossJoin(broadcast(m))
      .select(col("lab"), col("n_nodes"), col("e_in"), col("d_tot"),
        // `+ 0.0` normalizes IEEE negative zero (ROUND of a negative tiny
        // value is -0.0 in some engines, +0.0 in others; -0.0 + 0.0 = +0.0)
        // so the per-row hash matches the DuckDB oracle bit-for-bit.
        (round((lit(4.0) * mD * col("e_in").cast("double") -
          col("d_tot").cast("double") * col("d_tot").cast("double")) /
          (lit(4.0) * mD * mD), 6) + lit(0.0)).as("q_contrib"))
  }

  /** Undirected co-occurrence edge set rendered as a DIRECTED edge list
    * (both orientations), the input shape [[pageRank]] wants. */
  def cooccurrenceDigraph(df: DataFrame, basketCol: String, itemCol: String,
                          minSupport: Long = 2L,
                          maxBasketSize: Int = 1000): DataFrame = {
    val e = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
    // both orientations via ONE explode, not a self-unionAll: two union
    // arms over `e` plan (and post-exchange, re-run) the pair generation
    // twice — the nearDupClusters lesson, applied to every digraph
    // consumer (pagerank/ppr/hits/label_prop/harmonic)
    e.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
  }

  /** PageRank in EXACT integer (ppm) arithmetic — every step is BIGINT
    * add / multiply / integer-divide, so the result is bit-identical on
    * any engine and any partitioning (integer sums commute; there are no
    * floating-point partial sums to reorder). With rank mass in ppm
    * units (each node starts at 1 000 000) and damping d as `dampingPpm`:
    *
    *   r₀(v)    = 1 000 000
    *   rₖ₊₁(v)  = (10⁶ − dampingPpm)
    *            + (Σ_{u→v} (rₖ(u) div out(u))) · dampingPpm div 10⁶
    *
    * `div` is integer division on both engines (Spark `div`, DuckDB
    * `//`), so the floor-rounding is part of the SPEC, not an
    * implementation accident — the oracle unrolls the same recurrence.
    *
    * Dangling nodes (no out-edges) receive rank but redistribute none —
    * their mass leaks, the standard simplification; on the symmetric
    * co-occurrence digraph every node has out-degree ≥ 1 so the case
    * never arises there. Duplicate (src,dst) rows are collapsed first
    * (unweighted graph).
    *
    * Scale posture: one iteration = one equi-join of the rank frame
    * (|V| rows) against the edge list on `src` + one hash agg on `dst`
    * + one left join back to the node set — all co-partitioned on the
    * node key after the first exchange. Overflow: total rank mass is
    * ≤ 10⁶·|V| plus leak-free damping, and the one multiply is by
    * dampingPpm ≤ 10⁶, so values stay < 2⁶³ for any |V| < ~9·10⁹ nodes.
    *
    * Output: (node, rank_ppm) — one row per node appearing in any edge.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, dampingPpm: Long = 850000L): DataFrame =
    rank(edges, srcCol, dstCol, None, iters, dampingPpm)

  /** Personalized PageRank — [[pageRank]] with the restart mass pinned
    * to a SEED set instead of the uniform vector: the random surfer
    * teleports only to seeds, so stationary mass measures proximity to
    * the seed set (the recommendation/expansion primitive: "what else
    * is structurally close to THESE nodes"). Same exact-ppm integer
    * arithmetic; seeds start at 1e6 ppm and receive the `1 − damping`
    * restart each round, non-seeds accumulate only propagated mass
    * (total mass ≈ |seeds|·1e6 — ranks are relative, as PPR's are).
    * Output: (node, rank_ppm), every node.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 3,
                           dampingPpm: Long = 850000L): DataFrame =
    rank(edges, srcCol, dstCol,
      Some(seeds.filter(col(seedCol).isNotNull).select(col(seedCol).as("node")).distinct()),
      iters, dampingPpm)

  /** The rank core of [[pageRank]] and [[personalizedPageRank]]: each
    * node's restart weight is 1 if it is a seed, else 0. With no seed set
    * every node is a seed, the weight is the literal 1, and the plan and
    * arithmetic are exactly PageRank's.
    */
  private def rank(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: Option[DataFrame], iters: Int, dampingPpm: Long): DataFrame = {
    require(iters >= 1 && iters <= 100, "1 <= iters <= 100")
    require(dampingPpm >= 0L && dampingPpm <= 1000000L, "dampingPpm in [0, 1e6]")
    val basePpm = 1000000L - dampingPpm
    Checkpoints.iterate { it =>
      val e = edgeList(it, edges, srcCol, dstCol)
      val (nodes, seed) = seeds match {
        case None => (it.share(nodesOf(e)), lit(1L))
        case Some(s) =>
          (it.share(nodesOf(e).join(s.withColumn("_seed", lit(1L)), Seq("node"), "left")
            .select(col("node"), coalesce(col("_seed"), lit(0L)).as("is_seed"))),
            col("is_seed"))
      }
      val eDeg = it.share(e.join(e.groupBy("src").agg(count(lit(1)).as("out_deg")), Seq("src")))
      it.rounds(nodes.select(col("node"), (seed * 1000000L).as("rank_ppm")), iters) { r =>
        val contrib = r.join(eDeg, r("node") === eDeg("src"))
          .select(col("dst").as("node"),
            expr("rank_ppm div out_deg").as("c"))
          .groupBy("node").agg(sum(col("c")).as("in_ppm"))
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (seed * basePpm +
              expr(s"(coalesce(in_ppm, 0L) * ${dampingPpm}L) div 1000000L"))
              .as("rank_ppm"))
      }
    }
  }

  /** `edges` as the directed edge list (src, dst), null endpoints
    * dropped and duplicates collapsed (unweighted), shared by the loop
    * `it`: otherwise the construction behind `edges` — a co-occurrence
    * pair join in every registry caller — re-runs once per frame derived
    * from it (~2x; the r13 PlanTime probe: q_pagerank construction 4-7.5 s).
    */
  private def edgeList(it: Checkpoints.Loop, edges: DataFrame,
                       srcCol: String, dstCol: String): DataFrame =
    it.share(edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())

  /** Every node of the edge list `e`, once. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** k-core decomposition membership: iteratively peel nodes of degree
    * < `k` (and their edges) until a fixed point — the standard
    * densest-region extractor (2-core strips pendant tails before
    * community detection; higher k isolates the cohesive cores that
    * survive support thresholds). Each round is one degree agg + a
    * double semi-join on the shrinking edge frame; rounds are bounded by
    * the peel DEPTH (the longest pendant chain), not by |V| — single
    * digits on co-occurrence graphs. Convergence is exact (edge count
    * fixed point). Input: undirected unique pairs (aCol, bCol). Output:
    * (node, core_deg) for k-core members, core_deg = degree inside
    * the core.
    */
  def kCore(edges: DataFrame, aCol: String = "a", bCol: String = "b",
            k: Int = 2, maxIter: Int = 50): DataFrame = {
    require(k >= 1, "k must be positive")
    // both orientations via ONE explode (the nearDupClusters lesson): a
    // self-unionAll would plan and post-exchange re-run the caller's
    // (typically co-occurrence) pair generation twice
    val first = Observation()
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .distinct()
      .observe(first, count(lit(1)).as("n"))
    // the edge count of the current core: the input's rides its own
    // materialization, each round's the round's
    var n = -1L
    Checkpoints.iterate { it =>
      it.until(und, maxIter, "kCore") { (cur, obs) =>
        val keep = cur.groupBy("src").agg(count(lit(1)).as("_d"))
          .filter(col("_d") >= k).select("src")
        cur.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .observe(obs, count(lit(1)).as("n"))
      } { m =>
        val before = if (n < 0) first.get("n").asInstanceOf[Long] else n
        n = m("n").asInstanceOf[Long]
        n == before
      }.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    }
  }

  /** HITS hubs & authorities (Kleinberg's link-analysis pair) over a
    * DIRECTED edge set — the mutually-reinforcing centralities one
    * PageRank score can't express: a good HUB points at good
    * authorities, a good AUTHORITY is pointed at by good hubs. On a
    * bipartite frame (buyer → product, user → track) the two sides
    * get genuinely different rankings; on a symmetric digraph they
    * coincide — feed it real direction.
    *
    * Integer ppm arithmetic throughout (as [[pageRank]]): each
    * half-step is a sum-push along edges then MAX-normalization
    * `raw * 1e6 div max(raw)` — exact BIGINT, engine-bit-identical.
    * The textbook's L2 norm is irrelevant to RANKING semantics and
    * would break exactness. Overflow: raw ≤ deg·1e6 and raw·1e6 must
    * stay < 2⁶³ ⇒ deg ≲ 9.2e6 — far above any support-filtered or
    * per-key-capped edge frame (document, don't assert).
    *
    * Output: (node, hub_ppm, auth_ppm); 0 on the side a node never
    * scores (a pure sink has no hub mass). A round's state is its hub
    * scores; its authority scores are materialized beside them.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 50, "1 <= iters <= 50")
    Checkpoints.iterate { it =>
      val e = edgeList(it, edges, srcCol, dstCol)
      // one half-step: push `score` from the `from` end of each edge to
      // its `to` end, then max-normalize
      def push(s: DataFrame, from: String, to: String, score: String, out: String) = {
        val raw = e.join(s, e(from) === s("node"))
          .groupBy(e(to).as("node")).agg(sum(col(score)).as("_raw"))
        raw.crossJoin(raw.agg(max(col("_raw")).as("_mx")))
          .select(col("node"), expr("_raw * 1000000L div _mx").as(out))
      }
      var a = Option.empty[DataFrame]
      val h = it.rounds(e.select(col("src").as("node")).distinct()
          .withColumn("h_ppm", lit(1000000L)), iters) { h =>
        val auth = it.carry(push(h, "src", "dst", "h_ppm", "a_ppm"))
        a = Some(auth)
        push(auth, "dst", "src", "a_ppm", "h_ppm")
      }
      h.join(a.get, Seq("node"), "full")
        .select(col("node"), coalesce(col("h_ppm"), lit(0L)).as("hub_ppm"),
          coalesce(col("a_ppm"), lit(0L)).as("auth_ppm"))
    }
  }

  /** Bounded-hop multi-source BFS: the minimum hop distance from any
    * `sources` node, explored to `maxHops` rounds — the blast-radius /
    * related-items primitive ("everything within 3 co-purchase hops of
    * the recalled SKUs") that an unbounded shortest-path would answer
    * at unbounded cost. Frontier-relaxation form: one round is ONE
    * equi-join of the current distance frame against the edge list +
    * one min-agg — dist_{k+1}(v) = min(dist_k(v), 1 + min_{u→v}
    * dist_k(u)) — so round cost is |reached|·deg, never paths (a naive
    * path-enumerating recursion is exponential on a dense co-purchase
    * graph; the per-node min IS the algorithm). All distances are
    * exact integers; the oracle unrolls the same rounds.
    *
    * Output: (node, dist) for every node within `maxHops` of a source
    * (sources themselves at 0). Unreached nodes are absent.
    *
    * Scale posture: `maxHops` joins co-partitioned on the node key,
    * each frame ≤ |V| rows.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, sourceCol: String,
              maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16, "1 <= maxHops <= 16")
    Checkpoints.iterate { it =>
      val e = edgeList(it, edges, srcCol, dstCol)
      it.rounds(sources.filter(col(sourceCol).isNotNull)
        .select(col(sourceCol).as("node")).distinct()
        .withColumn("dist", lit(0L)), maxHops)(relax(e, Nil))
    }
  }

  /** One frontier-relaxation round of the hop-distance state `dist`,
    * keyed by `keys` and `node`, along the edge list `e`: a node's
    * distance becomes the least of its own and 1 + its in-neighbors'.
    */
  private def relax(e: DataFrame, keys: Seq[String])(dist: DataFrame): DataFrame = {
    val relaxed = dist.join(e, dist("node") === e("src"))
      .groupBy(keys.map(col) :+ col("dst").as("node"): _*)
      .agg((min(col("dist")) + 1L).as("_d2"))
    dist.join(relaxed, keys :+ "node", "full")
      .select(keys.map(col) ++ Seq(col("node"),
        least(coalesce(col("dist"), lit(Long.MaxValue)),
          coalesce(col("_d2"), lit(Long.MaxValue))).as("dist")): _*)
  }

  /** Hop-capped harmonic centrality from a landmark set — the
    * practical distributed stand-in for closeness centrality (exact
    * closeness needs all-pairs shortest paths; the standard estimator
    * runs BFS from k landmarks and harmonic weighting handles
    * disconnection gracefully where classic closeness diverges):
    * `H(v) = Σ_landmarks 1/d(l, v)` over landmarks within `maxHops`.
    *
    * Same per-round frontier relaxation as [[bfsHops]], but the state
    * carries the LANDMARK key so distances stay per-source:
    * (landmark, node, dist) — state is `O(landmarks × reachable)`,
    * landmark count is the caller's budget knob. The harmonic sum is
    * EXACT integer arithmetic: each 1/d term is scaled by
    * lcm(1..maxHops) (`maxHops ≤ 4` → lcm ≤ 12), summed as longs, and
    * divided once at the edge — no order-dependent double
    * accumulation, engine-bit-identical. Landmarks do not count
    * themselves (d = 0 excluded).
    * Output: (node, n_reached_from, harmonic) — `n_reached_from` =
    * landmarks reaching the node within the cap.
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         landmarks: DataFrame, landmarkCol: String,
                         maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 4, "1 <= maxHops <= 4 (lcm stays tiny)")
    val lcm = Seq(1L, 1L, 2L, 6L, 12L)(maxHops)
    Checkpoints.iterate { it =>
      val e = edgeList(it, edges, srcCol, dstCol)
      it.rounds(landmarks.filter(col(landmarkCol).isNotNull)
        .select(col(landmarkCol).as("lm")).distinct()
        .select(col("lm"), col("lm").as("node"), lit(0L).as("dist")), maxHops)(relax(e, Seq("lm")))
        .filter(col("dist") >= 1L)
        .groupBy("node")
        .agg(count(lit(1)).as("n_reached_from"),
          // `div`, not `/`: Spark's Divide widens longs to double — the
          // lcm scaling exists precisely to keep this an integer sum
          sum(expr(s"$lcm div dist")).as("_h"))
        .select(col("node"), col("n_reached_from"),
          round(col("_h").cast("double") / lcm.toDouble, 6).as("harmonic"))
    }
  }

  /** Per-node local clustering coefficient over the co-occurrence
    * graph: C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) where T(v) counts
    * triangles through v — the node-level cohesion profile (global
    * [[triangles]] says how clustered the graph is; THIS says which
    * nodes sit in cliques vs stars, the standard bot/bridge screen).
    *
    * One cached support-filtered edge set feeds both the triangle
    * enumeration (the [[triangles]] wedge join, each triangle once as
    * a<b<c, exploded to its three member nodes) and the degree agg —
    * the r9 q_triangles lesson: never re-derive the pair join per
    * reference. The coefficient integerizes exactly as
    * `(2·10⁶·T) div (d·(d−1))` ppm; deg<2 masks to NULL. Output:
    * (node, degree, n_tri, lcc_ppm).
    */
  def localClustering(df: DataFrame, basketCol: String, itemCol: String,
                      minSupport: Long = 2L,
                      maxBasketSize: Int = 1000): DataFrame = {
    val e = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
      .select("a", "b").cache()
    val e2 = e.select(col("a").as("b"), col("b").as("c"))
    val e3 = e.select(col("a"), col("b").as("c"))
    val tri = e.join(e2, Seq("b"))
      .join(e3, Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    // explode, never unionAll: three unionAll branches over `tri` would
    // re-plan (and re-EXECUTE) the wedge join once per branch — the
    // q_triangles triple-lineage lesson one level up
    val triCnt = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("_t"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(triCnt, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("_t"), lit(0L)).as("n_tri"))
      .withColumn("lcc_ppm",
        when(col("degree") < 2, lit(null).cast("long"))
          .otherwise(expr("(2000000 * n_tri) div (degree * (degree - 1))")))
  }

  /** Degree assortativity of the co-occurrence graph: the Pearson
    * correlation of (deg(src), deg(dst)) over the DIRECTED edge view
    * (both orientations of each undirected edge — Newman's r).
    * Positive = hubs attach to hubs (social shape), negative = hubs
    * attach to leaves (star/broadcast shape) — the one-number summary
    * of whether co-purchase structure is clique-like or hub-and-spoke.
    *
    * Degrees are one agg on the cached edge set; the edge frame joins
    * the |V|-row degree frame twice (src then dst — broadcast-sized
    * for support-filtered graphs); all five correlation sufficient
    * statistics are exact decimal(38,0) sums, with zero-variance
    * degenerates decided on exact integers before the double ratio.
    * Output: ONE row (n_edges, assortativity).
    */
  def degreeAssortativity(df: DataFrame, basketCol: String, itemCol: String,
                          minSupport: Long = 2L,
                          maxBasketSize: Int = 1000): DataFrame = {
    val e = cooccurrenceEdges(df, basketCol, itemCol, minSupport, maxBasketSize)
      .select("a", "b").cache()
    val directed = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst")
    val deg = directed.groupBy(col("src").as("_n"))
      .agg(count(lit(1)).as("_d"))
    val xy = directed
      .join(deg.select(col("_n").as("src"), col("_d").as("_x")), Seq("src"))
      .join(deg.select(col("_n").as("dst"), col("_d").as("_y")), Seq("dst"))
    val agg0 = xy.agg(count(lit(1)).as("n_edges"),
      sum(col("_x").cast("decimal(38,0)")).as("_sx"),
      sum(col("_y").cast("decimal(38,0)")).as("_sy"),
      sum((col("_x") * col("_y")).cast("decimal(38,0)")).as("_sxy"),
      sum((col("_x") * col("_x")).cast("decimal(38,0)")).as("_sxx"),
      sum((col("_y") * col("_y")).cast("decimal(38,0)")).as("_syy"))
    val n = col("n_edges").cast("double")
    val cov = n * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val vx = n * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val vy = n * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    val degen = col("n_edges") < 2 ||
      col("n_edges").cast("decimal(38,0)") * col("_sxx") ===
        col("_sx") * col("_sx") ||
      col("n_edges").cast("decimal(38,0)") * col("_syy") ===
        col("_sy") * col("_sy")
    agg0.select(col("n_edges"),
      when(degen, lit(null).cast("double"))
        .otherwise(round(cov / (sqrt(vx) * sqrt(vy)), 6))
        .as("assortativity"))
  }

  /** Synchronous label propagation (Raghavan et al.) with the
    * deterministic tie-break (highest neighbor-label count, then
    * SMALLEST label) for a fixed round budget — the cheap community
    * sketch when connected components are too coarse (CC merges
    * everything touching; LPA respects local density).
    *
    * Every node starts as its own label; each round relabels to the
    * argmax neighbor label. Fixed synchronous rounds + exact argmax =
    * engine-reproducible (asynchronous/random-order LPA is not). Each
    * round is one (node,label) count agg + one per-node struct-min
    * argmax. The oracle unrolls the same rounds (never materializing
    * communities as paths). Output: (node, lab).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "1 <= rounds <= 8")
    Checkpoints.iterate { it =>
      val e = edgeList(it, edges, srcCol, dstCol)
      it.rounds(nodesOf(e).withColumn("lab", col("node")), rounds) { lab =>
        val nbr = lab.join(e, lab("node") === e("src"))
          .groupBy(col("dst").as("node"), col("lab"))
          .agg(count(lit(1)).as("_c"))
        val picked = nbr
          .groupBy("node")
          .agg(min(struct((-col("_c")).as("_nc"), col("lab").as("_l"))).as("_m"))
          .select(col("node"), col("_m").getField("_l").as("_nl"))
        lab.join(picked, Seq("node"), "left")
          .select(col("node"), coalesce(col("_nl"), col("lab")).as("lab"))
      }
    }
  }
}
