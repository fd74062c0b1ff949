package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Line-level boilerplate removal — the CCNet/C4 preprocessing step that
  * drops lines (nav menus, cookie banners, footers) occurring verbatim in
  * many documents, as opposed to the *intra-document span* dedup of
  * [[TextAnalysis.removeDuplicatedSpans]]: here the unit is a whole
  * delimiter-separated line and the frequency is counted across DISTINCT
  * documents corpus-wide.
  *
  * Reference behavior: the reference pipeline's validation stage cleans
  * raw input before KPI extraction (music-streaming-etl-glue
  * `scripts/validate_data.py` `process_streams` select/cast gates); this
  * is the corpus-frequency generalization an LLM-data pipeline needs.
  *
  * Scale posture (100 TB): the corpus is exploded once into (doc, pos,
  * line) rows; line frequency is a two-phase hash-agg keyed by the line
  * string (map-side partial `countDistinct` via (line, doc) pre-distinct);
  * the boilerplate set joins back by a shuffled equi-join on the line key
  * — no pairs, no driver state. The hottest lines (empty string, "Home")
  * are exactly the boilerplate — that join key is skewed by construction,
  * so AQE skew-join handles the probe side; the frequent-line build side
  * is |lines with df ≥ minDocs|, which a threshold keeps small. Doc
  * reassembly is one shuffle by doc id with per-doc state bounded by the
  * document's own line count.
  */
object Boilerplate {

  /** Corpus-wide line document-frequency: one row per distinct line,
    * (line, n_docs) where n_docs counts DISTINCT documents containing it.
    */
  def lineFrequencies(docs: DataFrame, idCol: String, textCol: String,
                      delim: String = "\n"): DataFrame =
    exploded(docs, idCol, textCol, delim)
      .select(col("_line"), col("_id")).distinct()
      .groupBy(col("_line").as("line"))
      .agg(count(lit(1)).as("n_docs"))

  /** Remove every line whose document frequency is ≥ `minDocs`, keeping
    * the surviving lines in their original order rejoined with `delim`.
    *
    * Repair-op invariant: every input document comes back exactly once —
    * a doc whose lines are ALL boilerplate returns with `text_clean` = ""
    * (not dropped), and a null-text doc passes through with null stats.
    *
    * Output: (idCol, text_clean, n_lines, n_removed).
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        delim: String = "\n", minDocs: Int = 3,
                        saltBuckets: Int = 1): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would remove every line")
    require(saltBuckets >= 1, "saltBuckets must be positive")
    val lines = exploded(docs, idCol, textCol, delim)
    val boiler = lineFrequencies(docs, idCol, textCol, delim)
      .filter(col("n_docs") >= minDocs)
      .select(col("line").as("_line"), lit(true).as("_b"))
    // left join keeps every line with a removal flag; collect_list skips
    // the nulls `when` leaves on flagged lines, and the struct sort puts
    // survivors back in document order before the single concat.
    //
    // Skew bound: the join key is skewed BY CONSTRUCTION — the hottest
    // lines (empty string, nav text) are exactly the boilerplate being
    // probed. When the frequent-line set outgrows the broadcast threshold
    // the join shuffles on `_line`, and one hot line lands on one task.
    // `saltBuckets > 1` splits it deterministically: probe rows carry
    // `_salt = hash(_id, _pos) mod S` (depends only on the row, never on
    // partitioning), the |boiler|-row build side is replicated S ways, and
    // the join key becomes (_line, _salt) — a hot line's probe rows spread
    // across S tasks at the cost of an S× build side. Results are
    // bit-identical to the unsalted plan (every probe row still meets its
    // build match, exactly once). Leave at 1 when boiler broadcasts.
    val joined =
      if (saltBuckets <= 1) lines.join(boiler, Seq("_line"), "left")
      else {
        val probe = lines.withColumn("_salt",
          pmod(hash(col("_id"), col("_pos")), lit(saltBuckets)))
        val build = boiler.withColumn("_salt",
          explode(sequence(lit(0), lit(saltBuckets - 1))))
        probe.join(build, Seq("_line", "_salt"), "left").drop("_salt")
      }
    val agg = joined
      .groupBy(col("_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_b"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws(delim, transform(
          array_sort(collect_list(when(col("_b").isNull,
            struct(col("_pos").as("p"), col("_line").as("l"))))),
          s => s.getField("l"))).as("text_clean"))
    docs.select(col(idCol), col(textCol))
      .join(agg, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        when(col(textCol).isNotNull, coalesce(col("text_clean"), lit("")))
          .as("text_clean"),
        col("n_lines"), col("n_removed"))
  }

  private def exploded(docs: DataFrame, idCol: String, textCol: String,
                       delim: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("_pos", "_line")))
}
