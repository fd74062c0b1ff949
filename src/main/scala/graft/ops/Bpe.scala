package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenization, merge-table driven — the exact-count
  * upgrade over [[TextAnalysis.bpeishTokenCount]]'s regex approximation
  * (which stays as the fast path for budget ops that only need a stable
  * proxy).
  *
  * Reference context: the reference pipeline's validation stage normalizes
  * raw input before aggregation (music-streaming-etl-glue
  * `scripts/validate_data.py`);
  * token accounting with a real merge table is the LLM-data-pipeline
  * generalization (token-budget sampling, contract-exact corpus stats).
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units"): encode = start from characters, apply each
  * learned merge in rank order, replacing every (left-to-right,
  * non-overlapping) adjacent pair occurrence. Token sequences are
  * represented as ONE string of bracket-wrapped units — `"ab c"` →
  * `"<a><b>< ><c>"` — so a merge is a plain `replace(s, "<x><y>", "<xy>")`:
  * the brackets make unit boundaries explicit (no `"ax y" ~ "x y"`
  * substring confusion) and consecutive matches share no characters, so
  * the engine's native left-to-right replace applies ALL occurrences in
  * one pass. The normalized alphabet `[a-z0-9 ]` cannot contain `<`/`>`,
  * so wrappers never collide with content.
  *
  * Scale posture (100 TB): encode is a chain of |merges| codegen'd
  * `StringReplace` expressions over each document — O(|merges| · len)
  * per row, map-side only, no shuffle, no UDF, no driver state. The SAME
  * chain is expressible in ANSI SQL (nested REPLACE), which is what the
  * DuckDB oracle runs — bit-identical token counts by construction.
  * Training is an offline bounded job: `numMerges` iterations over the
  * DISTINCT-WORD frequency table (vocabulary-sized, not corpus-sized),
  * one weighted pair-count aggregation + one single-row argmax collect
  * per iteration — the standard BPE trainer shape.
  */
object Bpe {

  /** Lowercase, strip to `[a-z0-9 ]`, collapse runs of spaces, trim.
    * The normalization contract shared by encode, train, and the oracle.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Normalized text → initial unit string: every char (including the
    * space word-separator) becomes one `<c>` unit.
    */
  def toUnits(norm: Column): Column =
    regexp_replace(norm, "(.)", "<$1>")

  /** Apply a merge table in rank order: one native `replace` per merge. */
  def applyMerges(units: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(units) { case (c, (x, y)) =>
      replace(c, lit(s"<$x><$y>"), lit(s"<$x$y>"))
    }

  /** Token count of an encoded unit string, excluding the `< >`
    * word-separator units (whitespace separates, it is not billed).
    */
  def countUnits(encoded: Column): Column = {
    val total = length(encoded) - length(replace(encoded, lit("<"), lit("")))
    val seps = (length(encoded) - length(replace(encoded, lit("< >"), lit("")))) / 3
    (total - seps).cast("long")
  }

  /** Per-document exact BPE token counts under `merges`.
    * Output: (idCol, n_tokens, n_chars) — n_chars is the normalized
    * character count (spaces excluded), so `n_tokens / n_chars` is the
    * corpus compression ratio the merge table achieves.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val norm = normalize(coalesce(col(textCol), lit("")))
    docs.select(
      col(idCol),
      countUnits(applyMerges(toUnits(norm), merges)).as("n_tokens"),
      length(replace(norm, lit(" "), lit(""))).cast("long").as("n_chars"))
  }

  /** Learn `numMerges` merges from a corpus. Classic trainer: build the
    * distinct-word frequency table once, then per iteration count
    * frequency-weighted adjacent unit pairs, take the most frequent
    * (ties broken lexicographically — deterministic across runs and
    * partitionings), and apply it to the word table. Stops early when no
    * pair occurs at least `minCount` times.
    *
    * The word table is localCheckpoint'd every few iterations so the
    * plan doesn't grow one replace per round forever; superseded
    * checkpoints are freed ([[Checkpoints.free]]).
    *
    * Scale regime (r8 verdict #6): the driver loop runs ONE Spark job
    * per merge (`limit(1).collect()` — a 1-row TakeOrdered, not a data
    * pull), so training cost is `numMerges × (pair-count agg over the
    * DISTINCT-WORD table)`. The corpus size only touches the initial
    * word-frequency agg; every iteration after that is bounded by
    * |vocab|, not |corpus| — measured: a 10× corpus trains 48 merges in
    * the SAME wall time as 1× (PERF.md r9). The regime that hurts is
    * numMerges in the tens of thousands (job-launch overhead × merges);
    * for a production vocab train, batch merges per scan or train on a
    * frequency-capped vocab sample — this trainer's contract is the
    * bounded dev/oracle table ([[graft.BpeTrain]]).
    *
    * Returns merges in rank order.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 1, "numMerges must be positive")

    // `anchor` is always the ROOT checkpoint frame (what Checkpoints.free
    // can release); `words` may be a replace-chain DERIVED from it between
    // re-checkpoints — freeing `words` directly would be a no-op under
    // rddOf's root-only match and the superseded blocks would leak
    var anchor = Checkpoints.stage(docs
      .select(explode(split(normalize(coalesce(col(textCol), lit(""))), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(toUnits(col("w")).as("units"), col("n")))
    var words = anchor

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    var iter = 0
    while (!done && merges.size < numMerges) {
      // adjacent pairs of the unit sequence, weighted by word frequency:
      // "<a><b><c>" → tokens [a,b,c] (outer brackets off, split on "><")
      val toks = split(regexp_replace(col("units"), "^<|>$", ""), "><")
      val best = words
        .filter(length(col("units")) > 0)
        .select(col("n"), toks.as("t"))
        .select(col("n"), col("t"),
          posexplode(slice(col("t"), lit(1), size(col("t")) - 1)).as(Seq("i", "x")))
        .withColumn("y", element_at(col("t"), col("i") + 2))
        .groupBy("x", "y").agg(sum("n").as("c"))
        .orderBy(col("c").desc, col("x").asc, col("y").asc)
        .limit(1).collect()

      if (best.isEmpty || best(0).getLong(2) < minCount) done = true
      else {
        val x = best(0).getString(0)
        val y = best(0).getString(1)
        merges += ((x, y))
        val updated = words.select(
          replace(col("units"), lit(s"<$x><$y>"), lit(s"<$x$y>")).as("units"),
          col("n"))
        iter += 1
        words = if (iter % 8 == 0) {
          // loop state: always materialized, or the replace chain's
          // lineage would grow with every merge
          val next = Checkpoints.materialize(updated)
          Checkpoints.free(anchor)
          anchor = next
          next
        } else updated
      }
    }
    Checkpoints.free(anchor)
    merges.toSeq
  }

  /** The nested-REPLACE oracle chain as ANSI SQL over column `c`, for
    * engines whose regexp_replace is RE2 (DuckDB): same normalization,
    * same unit wrapping, same merge fold as the Spark side — generated
    * from the SAME merge-table constant, so the two sides cannot drift.
    */
  def encodeSql(c: String, merges: Seq[(String, String)]): String = {
    val norm = s"trim(regexp_replace(regexp_replace(lower(coalesce($c, '')), " +
      s"'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val units = s"regexp_replace($norm, '(.)', '<\\1>', 'g')"
    merges.foldLeft(units) { case (s, (x, y)) =>
      s"replace($s, '<$x><$y>', '<$x$y>')"
    }
  }
}
