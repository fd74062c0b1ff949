package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic top-principal-component extraction over an embedding
  * column, by fixed-round power iteration — the engine side of
  * "all-but-the-top" (Mu & Viswanath 2018) embedding post-processing:
  * dense embedding spaces concentrate a large share of variance in one
  * dominant direction (frequency/length artifacts); removing the
  * projection onto it measurably improves cosine-similarity tasks, so
  * a pipeline that dedups or mines by cosine wants this audit/repair
  * step.
  *
  * Algorithm: mean-center, then `iters` rounds of `w = Σᵢ (xᵢ·v)·xᵢ`,
  * `v ← w/‖w‖`, from the uniform start `v₀ = (2^−⌈log₂√d⌉, …)` — here
  * d = 64 so v₀ = 0.125 exactly. Since w = G·v with G = Σᵢ cᵢcᵢᵀ the
  * centered Gram matrix, the whole iteration is fused into ONE
  * distributed pass (r14): G's d(d+1)/2 upper-triangle sums are
  * computed once, collected (d² doubles — the bounded-codebook driver
  * precedent), and every round then runs on the driver over the d×d
  * matrix. Before the fusion each round was its own distributed job
  * (fresh literals ⇒ fresh codegen ⇒ per-round planning + scheduling
  * that GREW with core count: the bench entry ran 7.2 s at 32 cores vs
  * ~1.5 s at 8 on 2 000 rows), and the centered matrix had to be
  * cached — an O(N·d) executor-storage bill at the 100 TB target.
  * Now: 3 passes total (count, means, Gram), no cache, no per-round
  * jobs. The Gram pass does d/2× the multiplies of one iteration pass
  * in exchange for reading the data once instead of `iters` times —
  * at TB scale the scan, not the FMA, is the bill.
  *
  * Determinism: every per-dim(-pair) sum is a TWO-LEVEL ordered fold —
  * vec-id-sorted within `cells` hash cells, then cell-sorted across
  * partials — so double addition order is fixed without any
  * single-sequence O(N) array (the scalable form of the sorted-fold
  * parity rule; per-group state is N/cells, tune `cells` to the
  * corpus). G is exactly symmetric (G_jk and G_kj fold the SAME
  * products in the SAME id order), so only the upper triangle is
  * computed and mirrored. float→double widening, power-of-two init,
  * and IEEE sqrt are exact; the sign is fixed by dim 0 of the final
  * vector.
  *
  * Oracle parity note: the pinned oracle evaluates w_j per round as a
  * fold over ROWS of (cᵢ·v)·c_ij; the driver-side product re-groups
  * that to a fold over DIMS of v_k·G_jk. Same real number, different
  * double-addition tree (relative deviation ~1e-13 over these inputs)
  * — hash-verified EXACT at the round-6 outputs on sf0.001/0.01/0.1
  * for both q_pca_top and q_abtt (OPTIMIZATION_r14.md).
  */
object Pca {

  /** Per-dim two-level ordered-fold sum of `termCol` over frame
    * (_id, _j, term) → (_j, total). Addition order: vec-id within
    * cell, then cell — deterministic and bounded per group.
    */
  private def dimSums(slots: DataFrame, cells: Int): DataFrame =
    slots
      .groupBy(col("_j"), pmod(col("_id"), lit(cells)).as("_cell"))
      .agg(array_sort(collect_list(struct(col("_id"), col("_t")))).as("_a"))
      .select(col("_j"), col("_cell"),
        expr("aggregate(_a, cast(0.0 as double), (a, s) -> a + s._t)").as("_p"))
      .groupBy(col("_j"))
      .agg(array_sort(collect_list(struct(col("_cell"), col("_p")))).as("_a"))
      .select(col("_j"),
        expr("aggregate(_a, cast(0.0 as double), (a, s) -> a + s._p)").as("total"))

  /** (means, n): per-dim mean as an Array[Double] in dim order. */
  def dimMeans(df: DataFrame, idCol: String, vecCol: String,
               cells: Int = 256): (Array[Double], Long) = {
    val base = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
    val n = base.count()
    // cells key on pmod(_id) and folds sort by id: partitioning-safe
    val slots = Par.spreadToShuffleWidth(base, df)
      .select(col(idCol).as("_id"),
        posexplode(col(vecCol)).as(Seq("_j", "_x")))
      .select(col("_id"), col("_j"), col("_x").cast("double").as("_t"))
    // sort the d rows on the driver: .orderBy here would add a range
    // exchange whose boundary SAMPLING is its own job (r14 — the whole
    // entry is job-count-bound, see the object scaladoc)
    val sums = dimSums(slots, cells).collect()
      .sortBy(r => r.getAs[Number](0).longValue())
    (sums.map(r => r.getDouble(1) / n.toDouble), n)
  }

  /** The centered matrix as (id, cvec) with cvec = x − mean, computed
    * map-side from the injected mean literal (no join).
    */
  private def centered(df: DataFrame, idCol: String, vecCol: String,
                       means: Array[Double]): DataFrame =
    Par.spreadToShuffleWidth( // d-wide per-row math feeds every consumer
      df.filter(col(idCol).isNotNull && col(vecCol).isNotNull), df)
      .select(col(idCol).as("_id"),
        zip_with(col(vecCol), typedlit(means.toSeq),
          (x, mu) => x.cast("double") - mu).as("_cv"))

  private def dot(vec: org.apache.spark.sql.Column, v: Array[Double]) =
    aggregate(zip_with(vec, typedlit(v.toSeq), (a, b) => a * b),
      lit(0.0), (acc, t) => acc + t)

  /** Power-iterate the dominant direction; returns (v, means), both
    * length-d, sign-fixed so v(0) ≥ 0. One distributed Gram pass, then
    * driver-side rounds over the d×d matrix (object scaladoc).
    */
  def topDirection(df: DataFrame, idCol: String, vecCol: String,
                   iters: Int = 3, cells: Int = 256): (Array[Double], Array[Double]) = {
    require(iters >= 1 && iters <= 10, "1 <= iters <= 10")
    val (means, _) = dimMeans(df, idCol, vecCol, cells)
    val d = means.length
    val c = centered(df, idCol, vecCol, means)
    // Upper-triangle Gram, position p ↔ pair (j, k ≥ j) in (j, k)
    // lexicographic order. Whole ROWS fold in id order within each cell
    // (the per-pair addition order is the same two-level id-in-cell/cell
    // tree as dimSums, at 1/d the group count: only n rows shuffle,
    // never n·d² pair slots).
    val nPairs = d * (d + 1) / 2
    val gramRows = c
      .groupBy(pmod(col("_id"), lit(cells)).as("_cell"))
      .agg(array_sort(collect_list(struct(col("_id"), col("_cv")))).as("_a"))
      .select(col("_cell"), expr(
        s"""aggregate(_a,
           |  array_repeat(cast(0.0 as double), $nPairs),
           |  (acc, r) -> zip_with(acc,
           |    flatten(transform(sequence(0, ${d - 1}), j ->
           |      transform(sequence(j, ${d - 1}), k -> r._cv[j] * r._cv[k]))),
           |    (a, t) -> a + t))""".stripMargin).as("_gp"))
      .select(col("_cell"), posexplode(col("_gp")).as(Seq("_p", "_v")))
      .groupBy(col("_p"))
      .agg(array_sort(collect_list(struct(col("_cell"), col("_v")))).as("_a"))
      .select(col("_p"),
        expr("aggregate(_a, cast(0.0 as double), (a, s) -> a + s._v)").as("total"))
      .collect()
    val g = Array.ofDim[Double](d * d)
    gramRows.foreach { r =>
      val p = r.getAs[Number](0).intValue()
      // invert the (j, k ≥ j) lexicographic flatten: row j starts at
      // j·d − j(j−1)/2
      var j = 0
      while ((j + 1) * d - j * (j + 1) / 2 <= p) j += 1
      val k = j + (p - (j * d - j * (j - 1) / 2))
      g(j * d + k) = r.getDouble(1)
      g(k * d + j) = r.getDouble(1) // exact: same products, same fold order
    }
    var v = Array.fill(d)(0.125) // exact for d = 64; any 2^-k works
    for (_ <- 1 to iters) {
      // w_j = fold over k ascending of v_k·G_jk (oracle-parity note in
      // the object scaladoc); norm folds j ascending, IEEE sqrt
      val w = Array.tabulate(d) { j =>
        var a = 0.0; var k = 0
        while (k < d) { a += v(k) * g(j * d + k); k += 1 }
        a
      }
      val norm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
      v = w.map(_ / norm)
    }
    if (v(0) < 0) v = v.map(x => -x)
    (v, means)
  }

  /** Entry surface: the final direction as (dim, loading). */
  def topComponent(spark: SparkSession, df: DataFrame, idCol: String,
                   vecCol: String, iters: Int = 3, cells: Int = 256): DataFrame = {
    val (v, _) = topDirection(df, idCol, vecCol, iters, cells)
    import spark.implicits._
    v.zipWithIndex.map { case (x, j) => (j.toLong, x) }.toSeq
      .toDF("dim", "_l")
      .select(col("dim"), round(col("_l"), 6).as("loading"))
  }

  /** Per-vector projection onto the dominant direction (the quantity
    * "all-but-the-top" subtracts): proj = (x − μ)·v. One map-side
    * pass with v and μ injected as literals. Output: (id, proj).
    */
  def projections(df: DataFrame, idCol: String, vecCol: String,
                  iters: Int = 3, cells: Int = 256): DataFrame = {
    val (v, means) = topDirection(df, idCol, vecCol, iters, cells)
    centered(df, idCol, vecCol, means)
      .select(col("_id").as(idCol), round(dot(col("_cv"), v), 6).as("proj"))
  }
}
