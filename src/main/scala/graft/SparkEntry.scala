package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kpi.KpiQueries
import graft.TestTables.{oracleBase, table}

/** Driver contract (SURVEY.md §7): the query registry.
  *
  * Each [[SparkEntry.Entry]] exercises a library operator from SURVEY §2
  * over a testdata dir and carries the DuckDB-equivalent SQL the driver
  * hash-compares against. Float aggregates are rounded identically on
  * both sides (2 dp for sums, 4 dp for avgs) so double-summation order
  * cannot flip the hash.
  */
object SparkEntry {

  /** Flagship: full KPI enrichment + user_kpis on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    KpiQueries.userKpis(TestTables.enriched(spark, "/root/testdata/sf0.001"))

  /** One registry entry: the query, the DuckDB SQL that checks it, and
    * every fact the bench and the plan audits hold about it.
    *
    * @param build the entry's DataFrame over a testdata dir.
    * @param oracleSql the DuckDB-equivalent SQL the driver hash-compares
    *   the result against; every entry is DuckDB-gated.
    * @param heavy a gated exact all-pairs ORACLE-BASELINE entry (O(n²)
    *   scoring by design — it exists to pin its production twin's
    *   results, never to run at corpus scale; each carries a documented
    *   scale route: `q_knn_label_noise`→`labelNoiseApprox`,
    *   `q_bitext_mine`→`bitextMineIvf`, `q_embed_dup`/`q_semdedup`→the
    *   banded-LSH twins, and `q_semdedup_lsh`/`q_embed_dup_lsh` are the
    *   deliberate low-τ collision-volume plan regime, `require`-guarded
    *   against production use; their headline production twins are
    *   `q_semdedup_prod` and `q_embed_dup_prod`, the τ=0.9 / 8×8-band
    *   config a 100 TB run ships). [[graft.Bench]] times these every
    *   round but reports them in a separate `heavy_oracle` tier,
    *   excluded from the headline total, so the headline bench reflects
    *   production regimes only (round-9 verdict item 1). They remain
    *   fully oracle-gated in [[Verify]] — the tier changes reporting,
    *   not correctness coverage.
    * @param shufflePin the pinned shuffle budget (measured by
    *   `Bucketing.shuffleCount`, the `exchanges` field of a
    *   `graft.QueryProfile` record, enforced by `PlanAuditSpec`): a NEW
    *   Exchange in a pinned plan is a regression a human signs off on by
    *   raising the pin, never a silent diff. Every groupBy/join/window
    *   costs a shuffle at 100 TB — these numbers ARE the scale story of
    *   the flagship paths (q_bpe_tokens at 0 proves the whole BPE chain
    *   is map-side). (r12) The vector-family pins include the Par
    *   `spreadToShuffleWidth` round-robin exchanges — one per dense
    *   per-row stage (centroid assign, signature fold, projection,
    *   all-pairs verify) when the scan under-partitions.
    * @param planNote why an O(n·m) join node is acceptable in the entry's
    *   plan (the allowlist `PlanAuditSpec` enforces, surfaced in the
    *   generated OPERATORS.md index). Two categories: exact=true /
    *   brute-force oracle baselines — quadratic BY DESIGN, each paired
    *   with an audited banded/indexed twin that ships (q_semdedup/
    *   q_semdedup_lsh need no note: their CC iteration runs at
    *   frame-construction time, so the audited final plan is a
    *   checkpoint leaf — their pair-generation plans are exactly
    *   q_embed_dup's (exact, noted) and q_embed_dup_lsh's (banded,
    *   audited clean)); and bounded broadcast — the build side is
    *   O(1)..O(k) rows by construction, so the nested loop is a map-side
    *   lookup, total volume O(n*k).
    * @param widthPin the dense-stage width pin (r12 verdict #1, enforced
    *   by `WidthAuditSpec`): for an entry whose construction against a
    *   SINGLE-row-group fixture fires `Par.spreadToShuffleWidth`
    *   round-robin spreads, the exact number it must fire. Dropping a
    *   guard wrap from any operator on the entry's path lowers the count
    *   and fails the audit; a new dense stage raises it and needs an
    *   explicit pin raise. An entry's count is the `width_spreads` field
    *   of its `graft.QueryProfile` record against the single-row-group
    *   copy `WidthAuditSpec` writes (run with SPARK_GRAFT_CPUS=4 to match
    *   the test session).
    * @param kpi for the five `kpi_*` entries, the KPI over an enriched
    *   frame: `build` applies it to `TestTables.enriched`, and
    *   [[graft.Bench]] to its one persisted enrichment (SURVEY §4.3).
    */
  final case class Entry(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracleSql: String,
      heavy: Boolean = false,
      shufflePin: Option[Int] = None,
      planNote: Option[String] = None,
      widthPin: Option[Int] = None,
      kpi: Option[DataFrame => DataFrame] = None)

  object Entry {
    /** A `kpi_*` record, its `build` derived from `kpi`. */
    def kpi(name: String, kpi: DataFrame => DataFrame, oracleSql: String,
            shufflePin: Int): Entry =
      Entry(name, (s, dir) => kpi(TestTables.enriched(s, dir)), oracleSql,
        shufflePin = Some(shufflePin), kpi = Some(kpi))
  }

  /** Records keyed by name; a name used twice fails here, not silently. */
  def index(entries: Seq[Entry]): Map[String, Entry] = {
    val repeated = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty, s"repeated registry names: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.map(e => e.name -> e).toMap
  }

  lazy val byName: Map[String, Entry] = index(entries)

  /** Name-keyed views of [[entries]], for callers that look entries up. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = byName.view.mapValues(_.build).toMap
  def oracleSql: Map[String, String] = byName.view.mapValues(_.oracleSql).toMap

  /** Pinned BPE merge table for `q_bpe_tokens` — trained offline from the
    * sf0.01 `documents` corpus by `graft.BpeTrain` (48 merges, rank
    * order). A constant, not per-run training, because the DuckDB oracle
    * SQL is a static string: both the Spark query and the generated
    * oracle derive from THIS list, so the two sides cannot drift.
    */
  val bpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"), ("s", "mall"),
    ("g", "e"), ("l", "ow"), ("mer", "ge"), ("s", "low"), ("c", "t"),
    ("ct", "or"), ("d", "er"), ("e", "ctor"), ("or", "der"),
    ("v", "ector"))

  /** Fixed centroids for `q_kmeans_assign`: 4 × 64-d from the same
    * Knuth-multiplier formula family — a deterministic stand-in for an
    * offline k-means fit; the oracle embeds the SAME values (shortest
    * round-trip `Double.toString` literals, which DuckDB's
    * correctly-rounded parser restores bit-exactly).
    */
  val kmeansCentroids: Seq[Seq[Double]] = Seq.tabulate(4)(j =>
    Seq.tabulate(64)(d =>
      (((j * 64 + d).toLong * 2654435761L) % 2001L - 1000L) / 1000.0))

  /** Hashed-classifier weight table for `q_quality_model`: 256 buckets,
    * ppm weights in [−1e6, 1e6] from a Knuth-multiplier formula — a
    * deterministic stand-in for an offline logistic fit, reproducible in
    * plain SQL so the oracle carries the formula instead of a literal.
    */
  val qualityWeightsPpm: Seq[Long] =
    Seq.tabulate(256)(i => (i.toLong * 2654435761L) % 2000001L - 1000000L)

  /** Deterministic messy-URL fixture for the `Web` ops: the documents
    * table has no URL column, so both engines derive the same
    * crawl-shaped URL from (doc_id, source, lang) — mixed-case
    * scheme/host, scheme-default ports, duplicate slashes, trailing
    * slashes, tracking params, fragments — every rule
    * `Web.canonicalUrl` exists to normalize.
    */
  private def syntheticUrls(docs: DataFrame): DataFrame = {
    val d = docs.filter(col("doc_id").isNotNull && col("source").isNotNull &&
      col("lang").isNotNull)
    val m = pmod(col("doc_id"), lit(4))
    val url = when(m === 0,
        concat(lit("HTTP://WWW."), col("source"), lit(".COM:80/a/b/"),
          col("doc_id"), lit("?utm_source=x&b=2&a=1#frag")))
      .when(m === 1,
        concat(lit("https://cdn."), col("source"), lit(".com:443//x/"),
          col("lang"), lit("/?z=9&utm_campaign=c&fbclid=1")))
      .when(m === 2,
        concat(lit("https://"), col("source"), lit(".com/"), col("lang"),
          lit("/"), col("doc_id"), lit("/")))
      .otherwise(concat(lit("http://"), col("source"), lit(".com")))
    d.select(col("doc_id"), url.as("url"))
  }

  /** Deterministic candidate/reference token pairs for the eval
    * metrics (BLEU/ROUGE): reference = the doc's whitespace tokens
    * (lowercased, ≥ 8 of them); candidate = the reference with every
    * 7th token dropped and every 11th reversed — a synthetic "model
    * output" with real n-gram overlap, misses, and a length delta.
    * Mirrored verbatim in the `evalPairsSql` CTE.
    */
  private def evalPairs(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        graft.ops.TextAnalysis.tokens(lower(col("text"))).as("ref"))
      .filter(size(col("ref")) >= 8)
    // Generate barrier: the cand lambda below reads `ref[i-1]` PER
    // ELEMENT — without the barrier CollapseProject substitutes the
    // full tokens(lower(text)) split into the lambda body and the doc
    // is re-split once per token (the WordShingles lesson; measured as
    // the whole eval family's dominant cost, q_chrf 10.6 → 2.2 s)
    d.select(col("doc_id"), explode(array(col("ref"))).as("ref"))
      .withColumn("cand", expr(
        """filter(transform(sequence(1, size(ref)),
          |  i -> CASE WHEN (i - 1) % 7 = 3 THEN CAST(NULL AS STRING)
          |            WHEN (i - 1) % 11 = 5 THEN reverse(ref[i - 1])
          |            ELSE ref[i - 1] END),
          |  x -> x IS NOT NULL)""".stripMargin))
  }

  /** Deterministic mojibake plant: the synthetic docs are clean, so an
    * encoding audit would gate on all-zeros; each damage class rides
    * its own doc_id residue (mirrored verbatim in the SQL twin), so
    * the DuckDB gate exercises every detector — the round-9 chat
    * fixture's planted-corruption discipline.
    */
  /** Deterministic code-planting fixture: every 13th doc gets a 3-line
    * code snippet appended so the detector's positive path is exercised
    * by the oracle gate (the mojibakeDocs planted-corruption
    * discipline).
    */
  private def codeDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 13 === 0,
        lit("\n  val x = f(1);\n  if (x) { g(x); }\n\treturn x;"))
        .otherwise(lit(""))))

  private def mojibakeDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 23 === 0, lit(" caf\uFFFDe")).otherwise(lit("")),
      when(col("doc_id") % 29 === 0, lit(" caf\u00C3\u00A9")).otherwise(lit("")),
      when(col("doc_id") % 31 === 0, lit(" x\u0085y")).otherwise(lit("")),
      when(col("doc_id") % 37 === 0, lit(" a\u00A0b")).otherwise(lit(""))))

  /** Deterministic conversation fixture synthesized from `documents`
    * (the test tables carry no dialogue, so the chat entries plant
    * one): doc d becomes conv d with `d % 5 + 2` turns; `d % 3 == 0`
    * convs lead with a system turn; `d % 7 == 0` corrupts turn 1 into
    * a double-user; `d % 11 == 0` blanks the final turn. Content is
    * consecutive 5-token slices of the doc text (naturally empty once
    * the doc runs out — short docs exercise the empty-turn check).
    * Mirrored verbatim in the `chatTurnsSql` CTE.
    */
  private def chatTurns(docs: DataFrame): DataFrame = {
    val d = docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        graft.ops.TextAnalysis.tokens(col("text")).as("_toks"),
        (col("doc_id") % 5 + 2).cast("int").as("_k"),
        when(col("doc_id") % 3 === 0, 1).otherwise(0).as("_off"))
    d.select(col("doc_id").as("conv_id"), col("_toks"), col("_k"), col("_off"),
        explode(sequence(lit(0), col("_k") - 1)).as("turn_idx"))
      .select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        // %17 convs corrupt turn 1's role to NULL (listed FIRST so it
        // wins over the %7 double-user corruption on conv 0)
        when(col("conv_id") % 17 === 0 && col("turn_idx") === 1,
          lit(null).cast("string"))
          .when(col("turn_idx") < col("_off"), "system")
          .when(col("conv_id") % 7 === 0 && col("turn_idx") === 1, "user")
          .when((col("turn_idx") - col("_off")) % 2 === 0, "user")
          .otherwise("assistant").as("role"),
        when(col("conv_id") % 11 === 0 && col("turn_idx") === col("_k") - 1,
          lit("  "))
          .otherwise(concat_ws(" ",
            slice(col("_toks"), col("turn_idx") * 5 + 1, lit(5)))).as("content"))
      // %19 convs carry a duplicate turn_idx 0 row — the unorderable
      // corruption keyed_ok exists to catch, now exercised through the
      // DuckDB gate, not just the unit spec
      .unionByName(d.filter(col("doc_id") % 19 === 0)
        .select(col("doc_id").as("conv_id"), lit(0L).as("turn_idx"),
          lit("user").as("role"), lit("dup extra").as("content")))
  }

  /** Deterministic preference-pair fixture (the test tables carry no
    * RLHF data): doc d votes item `k % 7` over `(k % 7 + 1 + k % 5) % 7`
    * for prompt `d % 20`, where `k = d div 20`. Winner and offset both
    * ride k (coprime moduli 7 and 5), while every prompt sees every k —
    * so both-direction pairs (e.g. 0≻2 at k≡21 (35), 2≻0 at k≡9) and
    * 3-cycles (0≻1≻3≻0 at k≡0,1,3) occur in EVERY prompt once the
    * corpus spans k ≥ 22. Mirrored verbatim in `prefPairsSql`.
    */
  private def prefPairs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id").isNotNull)
      .select((col("doc_id") % 20).as("prompt_id"),
        expr("(doc_id div 20) % 7").as("chosen"),
        expr("((doc_id div 20) % 7 + 1 + (doc_id div 20) % 5) % 7").as("rejected"))

  /** DuckDB twin of [[prefPairs]] — shared by the preference oracles. */
  private lazy val prefPairsSql =
    """WITH pp AS (
      |  SELECT doc_id % 20 AS prompt_id,
      |         (doc_id // 20) % 7 AS chosen,
      |         ((doc_id // 20) % 7 + 1 + (doc_id // 20) % 5) % 7 AS rejected
      |  FROM documents WHERE doc_id IS NOT NULL
      |)""".stripMargin

  /** Deterministic response-length fixture for the length-bias audit:
    * each (prompt 0..19, item 0..6) pair carries
    * `(item·37 + prompt·13) mod 23 + 1` tokens — coprime multipliers
    * spread lengths across the domain so every prompt sees longer AND
    * shorter winners. Mirrored in the `q_pref_length_bias` oracle.
    */
  private def prefResponses(s: SparkSession): DataFrame =
    s.range(0, 140).select(
      expr("id div 7").as("prompt_id"),
      (col("id") % 7).as("item"),
      expr("((id % 7) * 37 + (id div 7) * 13) % 23 + 1").as("n_tokens"))

  /** DuckDB twin of [[chatTurns]] — shared by the three chat oracles. */
  private lazy val chatTurnsSql =
    """WITH cd AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
      |         doc_id % 5 + 2 AS k,
      |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS off
      |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |), ct AS (
      |  SELECT doc_id AS conv_id, unnest(range(0, k)) AS turn_idx, toks, k, off
      |  FROM cd
      |), turns AS (
      |  SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
      |    CASE WHEN conv_id % 17 = 0 AND turn_idx = 1 THEN NULL
      |         WHEN turn_idx < off THEN 'system'
      |         WHEN conv_id % 7 = 0 AND turn_idx = 1 THEN 'user'
      |         WHEN (turn_idx - off) % 2 = 0 THEN 'user'
      |         ELSE 'assistant' END AS role,
      |    CASE WHEN conv_id % 11 = 0 AND turn_idx = k - 1 THEN '  '
      |         ELSE COALESCE(array_to_string(toks[turn_idx*5+1 : turn_idx*5+5], ' '), '')
      |    END AS content
      |  FROM ct
      |  UNION ALL
      |  SELECT doc_id, CAST(0 AS BIGINT), 'user', 'dup extra'
      |  FROM cd WHERE doc_id % 19 = 0
      |)""".stripMargin

  /** Corpus-RELATIVE df bound for the maxDf-family dedup entries:
    * `max(5, |docs| / 100)` — the knob is a df FRACTION in production
    * (the `Scale100` probe's discipline), and pinning an absolute value
    * sized for the sf0.01 gate corpus silently loses recall on bigger
    * corpora, where shingle dfs grow with volume (found by the round-8
    * sf0.1 sweep: 10/188 q_dedup_canonical pairs whose every shared
    * trigram had df 8–10 > 5). At sf0.01 (500 docs) this evaluates to
    * the historical 5, so the gate results are unchanged; at sf0.1 it
    * is 50 and recall against the UNBOUNDED oracle is complete again.
    * Memoized per dir — the count is one column-pruned scan.
    */
  private val relMaxDfCache = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def relMaxDf(s: SparkSession, dir: String): Int =
    relMaxDfCache.getOrElseUpdate(dir,
      math.max(5L, table(s, dir, "documents").count() / 100L).toInt)

  /** Committed CSV fixtures (reference-data samples + crafted corrupt
    * rows) exercising the ingest module, relative to the checkout root:
    * the oracle SQL names them so (`tools/check.py` resolves the path
    * against its own checkout), and `oracle_sql.json` is the same from
    * every checkout.
    */
  val FixturesRelDir = "fixtures"

  /** [[FixturesRelDir]], absolute, resolved against the working directory
    * (the repository root: sbt forks tests and `run` there). */
  val FixturesDir: String = java.nio.file.Paths.get(FixturesRelDir).toAbsolutePath.toString

  /** Fixed run timestamp for the serve-stage entries (the reference uses
    * `datetime.now().isoformat()` per load run; pinned for reproducible
    * oracle comparison).
    */
  val ServeRunTs = "2024-07-01T00:00:00"

  /** Deterministic CDC changeset for q_merge_upsert, derived from the
    * base snapshot itself so both engines construct the identical set:
    * key%7==0 → U (price doubled); else key%11==0 → D; else key%13==0 → I
    * (new key = key + 10,000,000, price halved). Classes are disjoint
    * so exactly one change row exists per key. Price factors are exact
    * powers of two: the update is IEEE-exact on both engines, with no
    * re-round whose half-way rule could differ (ROUND(x*1.1, 2)
    * disagreed on ~0.1% of rows — Spark rounds the exact decimal
    * expansion, DuckDB the scaled double).
    */
  private def mergeChangeset(base: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    val u = base.filter(pmod(k, lit(7)) === 0)
      .select(k, (col("price") * 2.0).as("price"),
        col("o_orderstatus"), lit("U").as("op"))
    val d = base.filter(pmod(k, lit(7)) =!= 0 && pmod(k, lit(11)) === 0)
      .select(k, col("price"), col("o_orderstatus"), lit("D").as("op"))
    val i = base.filter(pmod(k, lit(7)) =!= 0 && pmod(k, lit(11)) =!= 0 &&
        pmod(k, lit(13)) === 0)
      .select((k + 10000000L).as("o_orderkey"),
        (col("price") * 0.5).as("price"),
        col("o_orderstatus"), lit("I").as("op"))
    u.unionByName(d).unionByName(i)
  }

  /** The registry in source order, each record's oracle SQL beside the
    * builder it checks. Lazy: the oracle helpers (`docToks`, …) are
    * `val`s declared further down the object.
    */
  lazy val entries: Seq[Entry] = Seq(
    // ---- ingest/validation module (SURVEY §2.1 S1/S2/S7, §2.2 P3/P5/P7, §2.7 U1) ----
    Entry("q_csv_streams", (s, _) =>
      graft.validate.Validator.processStreams(s,
        Seq(s"$FixturesDir/streams_a.csv", s"$FixturesDir/streams_b.csv")),
      // Ingest parity: all-varchar CSV read + explicit try-casts mirror
      // Spark's PERMISSIVE semantics — a row is corrupt (excluded) iff a
      // non-null field fails its declared type/format, null-padded on short
      // arity; `na.drop` maps to the not-null filters.
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('$FixturesRelDir/streams_a.csv',
         |    header=true, null_padding=true, all_varchar=true)
         |  UNION ALL
         |  SELECT * FROM read_csv('$FixturesRelDir/streams_b.csv',
         |    header=true, null_padding=true, all_varchar=true)
         |)
         |SELECT user_id, track_id,
         |       try_strptime(listen_time, '%Y-%m-%d %H:%M:%S') AS listen_time
         |FROM raw
         |WHERE user_id IS NOT NULL AND track_id IS NOT NULL
         |  AND try_strptime(listen_time, '%Y-%m-%d %H:%M:%S') IS NOT NULL""".stripMargin),

    Entry("q_csv_users", (s, _) =>
      graft.validate.Validator.processReferenceData(s, s"$FixturesDir/users.csv")
        .withColumn("created_at", date_format(col("created_at"), "yyyy-MM-dd")),
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('$FixturesRelDir/users.csv',
         |    header=true, null_padding=true, all_varchar=true)
         |)
         |SELECT user_id, user_name, TRY_CAST(user_age AS INTEGER) AS user_age,
         |       user_country,
         |       strftime(try_strptime(created_at, '%Y-%m-%d'), '%Y-%m-%d') AS created_at
         |FROM raw
         |WHERE NOT (user_age IS NOT NULL AND TRY_CAST(user_age AS INTEGER) IS NULL)
         |  AND NOT (created_at IS NOT NULL AND try_strptime(created_at, '%Y-%m-%d') IS NULL)""".stripMargin),

    Entry("q_csv_songs", (s, _) =>
      graft.validate.Validator.processReferenceData(s, s"$FixturesDir/songs.csv")
        .select(col("id"), col("track_id"), col("track_name"),
          col("popularity"), col("duration_ms"), col("explicit"),
          round(col("danceability"), 4).as("danceability"),
          round(col("tempo"), 4).as("tempo"),
          col("time_signature"), col("track_genre")),
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('$FixturesRelDir/songs.csv',
         |    header=true, null_padding=true, all_varchar=true)
         |)
         |SELECT TRY_CAST(id AS INTEGER) AS id, track_id, track_name,
         |       TRY_CAST(popularity AS INTEGER) AS popularity,
         |       TRY_CAST(duration_ms AS BIGINT) AS duration_ms,
         |       TRY_CAST(explicit AS BOOLEAN) AS explicit,
         |       ROUND(TRY_CAST(danceability AS DOUBLE), 4) AS danceability,
         |       ROUND(TRY_CAST(tempo AS DOUBLE), 4) AS tempo,
         |       TRY_CAST(time_signature AS INTEGER) AS time_signature,
         |       track_genre
         |FROM raw""".stripMargin),

    // JSONL corpus ingest (the LLM-training wire format): declared
    // schema, PERMISSIVE parse, corrupt lines (malformed JSON, type
    // errors) quarantined; missing fields null, extra fields ignored
    Entry("q_jsonl_docs", (s, _) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("score", DoubleType)))
      val (clean, _) = graft.io.JsonlSource.readSplit(
        s, schema, Seq(s"$FixturesDir/docs.jsonl"))
      clean.na.drop(Seq("doc_id"))
    },
      // Ingest parity, same discipline as the CSV oracles: all-varchar
      // read + explicit try-casts mirror Spark's PERMISSIVE semantics —
      // ignore_errors drops malformed JSON LINES (arity of corruption:
      // whole line), and a present field that fails its declared type
      // makes the whole ROW corrupt (DuckDB's native typed read would
      // instead null just the field — too lenient)
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$FixturesRelDir/docs.jsonl',
         |    format='newline_delimited',
         |    columns={doc_id: 'VARCHAR', text: 'VARCHAR',
         |             lang: 'VARCHAR', score: 'VARCHAR'},
         |    ignore_errors=true)
         |)
         |SELECT TRY_CAST(doc_id AS BIGINT) AS doc_id, text, lang,
         |       TRY_CAST(score AS DOUBLE) AS score
         |FROM raw
         |WHERE NOT (doc_id IS NOT NULL AND TRY_CAST(doc_id AS BIGINT) IS NULL)
         |  AND NOT (score IS NOT NULL AND TRY_CAST(score AS DOUBLE) IS NULL)
         |  AND doc_id IS NOT NULL""".stripMargin),

    // ---- LLM-data-pipeline operators over documents/embeddings ----
    // canonical-doc selection: the KEEP side of exact dedup — one
    // argmax agg buffer per fingerprint group, no rank window
    Entry("q_dedup_keep_best", (s, dir) =>
      graft.ops.Dedup.keepBestPerExactGroup(
        table(s, dir, "documents"), "doc_id", "text", "n_chars"),
      """WITH fp AS (
        |  SELECT doc_id, n_chars,
        |         md5(COALESCE(array_to_string(list_sort(list_distinct(
        |           list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                       x -> x <> ''))), ' '), '')) AS fingerprint
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL
        |), r AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY fingerprint
        |           ORDER BY n_chars DESC, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY fingerprint) AS n_dups
        |  FROM fp
        |)
        |SELECT doc_id, fingerprint, CAST(n_dups AS BIGINT) AS n_dups,
        |       n_chars AS score
        |FROM r WHERE rn = 1""".stripMargin),

    Entry("q_dedup_exact", (s, dir) =>
      graft.ops.Dedup.exactDuplicateGroups(table(s, dir, "documents"), "doc_id", "text")
        .select(col("fingerprint"), col("n_docs"),
          element_at(col("doc_ids"), 1).as("doc_min"),
          element_at(col("doc_ids"), -1).as("doc_max")),
      s"""$docToks
         |-- COALESCE: array_to_string([]) is NULL in DuckDB, '' via Spark concat_ws
         |SELECT md5(COALESCE(array_to_string(list_sort(list_distinct(toks)), ' '), '')) AS fingerprint,
         |       COUNT(*) AS n_docs, MIN(doc_id) AS doc_min, MAX(doc_id) AS doc_max
         |FROM d GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
      shufflePin = Some(1)),

    // canonicalize-then-dedup composition: every doc gets a decomposed
    // twin (combining marks + extra whitespace); raw-byte md5 would
    // see 2N distinct texts, NFC + whitespace canonicalization pairs
    // every twin — the end-to-end motivation for the nfc kernel
    Entry("q_dedup_canon_nfc", (s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val a = docs.select(col("doc_id"),
        concat(col("text"), lit(" cafe\u0301 ne\u0301e")).as("text"))
      val b = docs.select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit("  caf\u00e9 n\u00e9e ")).as("text"))
      val canon = a.unionAll(b).select(col("doc_id"),
        graft.ops.TextAnalysis.normalizeText(
          graft.functions.StringExpressions.nfc(col("text"))).as("text"))
      graft.ops.Dedup.exactDuplicateGroups(canon, "doc_id", "text",
        byRawText = true)
        .select(col("fingerprint"), col("n_docs"),
          element_at(col("doc_ids"), 1).as("doc_min"),
          element_at(col("doc_ids"), -1).as("doc_max"))
    },
      // chr(769) = combining acute, chr(233) = precomposed é — the same
      // codepoints the Spark fixture spells as \u escapes; DuckDB's
      // built-in nfc_normalize implements the same UAX #15 as the kernel
      """WITH dd AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), u AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' ne' || chr(769) || 'e' AS text
        |  FROM dd
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    text || '  caf' || chr(233) || ' n' || chr(233) || 'e ' AS text
        |  FROM dd
        |), c AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(nfc_normalize(text)), '[\x00-\x1f\x7f]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS t
        |  FROM u
        |)
        |SELECT md5(t) AS fingerprint, COUNT(*) AS n_docs,
        |       MIN(doc_id) AS doc_min, MAX(doc_id) AS doc_max
        |FROM c GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
      // nfc dedup is ONE fingerprint agg over the canonicalized union
      shufflePin = Some(1)),

    Entry("q_dedup_pairs", (s, dir) =>
      graft.ops.Dedup.nearDupPairsExact(
        table(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.5),
      dedupPairsSql,
      // cache-truncated at the shared shingle/pair store (the q_dedup_clusters
      // family)
      shufflePin = Some(1),
      widthPin = Some(1)),

    // which sources duplicate each other: near-dup pair counts per
    // unordered source pair (diagonal = within-source duplication).
    // maxDf bounds hot-shingle fanout — measured 10x: 419 s unbounded
    // vs seconds bounded, hash-identical output (near-dup pairs always
    // share rare shingles; stopword-grams only ever generated noise)
    Entry("q_overlap_matrix", (s, dir) =>
      graft.ops.Dedup.sourceOverlapMatrix(
        table(s, dir, "documents"), "doc_id", "text", "source",
        n = 3, tau = 0.3, maxDf = Some(50)),
      s"""$docToks, s AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM d WHERE len(toks) >= 3
         |), p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |), pr AS (
         |  SELECT a_id, b_id FROM p WHERE ni / (na + nb - ni) >= 0.3
         |), sm AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b
         |  FROM pr
         |  JOIN documents da ON pr.a_id = da.doc_id
         |  JOIN documents db ON pr.b_id = db.doc_id
         |  -- the Scala op drops pairs touching a null-source doc;
         |  -- without this filter least/greatest would skip the NULL and
         |  -- fabricate a same-source row
         |  WHERE da.source IS NOT NULL AND db.source IS NOT NULL
         |)
         |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM sm GROUP BY 1, 2""".stripMargin,
      shufflePin = Some(9),
      widthPin = Some(1)),

    // df-bounded inverted index (the 10^9-doc knob) — must hash-match the
    // same exact oracle: candidates shrink, scores stay full-set exact
    Entry("q_dedup_pairs_maxdf", (s, dir) =>
      graft.ops.Dedup.nearDupPairsExact(
        table(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.5,
        maxDf = Some(relMaxDf(s, dir))),
      dedupPairsSql,
      // r9 pin: the maxdf pair is the count-prune tier
      shufflePin = Some(8),
      widthPin = Some(1)),

    // prefix-filter index (AllPairs/PPJoin): LOSSLESS candidate
    // generation — df-ordered prefixes shed hot shingles without the
    // maxDf recall trade, so this must hash-match the full-index oracle
    Entry("q_dedup_pairs_prefix", (s, dir) =>
      graft.ops.Dedup.nearDupPairsPrefix(
        table(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.5),
      // the prefix filter is lossless: identical contract to the full index
      dedupPairsSql,
      // r11 pin (r10 verdict #6 — everything >1.5 s in-suite now fails
      // PlanAuditSpec on plan growth instead of surfacing as bench drift):
      // prefix-filter dedup = df-order agg + prefix-posting agg + pair agg
      // + verify join
      shufflePin = Some(4),
      widthPin = Some(1)),

    Entry("q_dedup_minhash", (s, dir) =>
      graft.ops.Dedup.nearDupPairsMinHash(
        table(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.5),
      dedupPairsSql,
      widthPin = Some(1)),

    // winnowing fingerprints (MOSS): per-window minimum gram hash —
    // the ~2/(w+1)-density substring-dedup index; md5-prefix hashes so
    // the fingerprint sets are engine-bit-identical
    Entry("q_winnow", (s, dir) =>
      graft.ops.Dedup.winnowFingerprints(
        table(s, dir, "documents"), "doc_id", "text", n = 3, w = 4),
      s"""$winnowSql
         |SELECT doc_id, fp FROM wfp""".stripMargin,
      // r9: the winnow index is MAP-SIDE (0 shuffles — that is its whole
      // point vs shingle postings)
      shufflePin = Some(0)),

    // ...and the candidate generator over the winnow index: docs
    // sharing >= 2 fingerprints (long verbatim runs), equi-join shape
    Entry("q_winnow_pairs", (s, dir) =>
      graft.ops.Dedup.winnowCandidatePairs(
        table(s, dir, "documents"), "doc_id", "text", n = 3, w = 4,
        minShared = 2),
      s"""$winnowSql
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared_fp
         |FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
      // q_winnow_pairs: 3 = fp-posting collapse + identical-list dedupe +
      // pair agg (the collapsed pairing trades the old single-exchange
      // self-join for three SMALL aggs — the join's m² hot-key expansion
      // was the real cost, not the exchanges)
      shufflePin = Some(3)),

    // split-leakage audit: hash 80/10/10 split × exact near-dup pairs →
    // within/cross-split pair matrix (is your eval set clean?)
    Entry("q_split_leakage", (s, dir) => {
      val docs = table(s, dir, "documents")
      val bucket = graft.ops.Sampling.hashBucket(col("doc_id"), 10)
      val assign = docs.filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          when(bucket < 8, lit("train")).when(bucket < 9, lit("val"))
            .otherwise(lit("test")).as("split"))
      val pairs = graft.ops.Dedup.nearDupPairsExact(
        docs, "doc_id", "text", n = 3, tau = 0.5)
      graft.ops.Dedup.splitLeakage(pairs, assign)
    },
      // same shingle/pair CTEs as dedupPairsSql + the md5 hash-split
      s"""$docToks, s AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM d WHERE len(toks) >= 3
         |), p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |), pr AS (
         |  SELECT a_id, b_id FROM p WHERE ni / (na + nb - ni) >= 0.5
         |), asg AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10 < 8
         |         THEN 'train'
         |         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10 < 9
         |         THEN 'val' ELSE 'test' END AS split
         |  FROM documents WHERE doc_id IS NOT NULL
         |)
         |SELECT least(sa.split, sb.split) AS split_a,
         |       greatest(sa.split, sb.split) AS split_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       (least(sa.split, sb.split) <> greatest(sa.split, sb.split)) AS is_leak
         |FROM pr JOIN asg sa ON pr.a_id = sa.doc_id
         |        JOIN asg sb ON pr.b_id = sb.doc_id
         |GROUP BY 1, 2, 4""".stripMargin,
      shufflePin = Some(2),
      widthPin = Some(1)),

    // per-doc keyword extraction: top-3 terms by TF-IDF, rounded-score
    // rank with term tiebreak (two-phase WindowGroupLimit cut)
    Entry("q_keywords", (s, dir) =>
      graft.ops.TextAnalysis.keywords(
        table(s, dir, "documents"), "doc_id", "text", k = 3),
      // the q_tfidf chain (minTf = 1) + rounded-score rank window
      s"""$docToks, x AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM x GROUP BY 1, 2
         |), dfq AS (
         |  SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1
         |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |sc AS (
         |  SELECT tf.doc_id, tf.term,
         |    ROUND(tf.tf * ln(n.n_docs::DOUBLE / dfq.doc_freq::DOUBLE), 6) AS tf_idf
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n
         |), rk AS (
         |  SELECT doc_id, term, tf_idf,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY tf_idf DESC, term) AS BIGINT) AS rank
         |  FROM sc
         |)
         |SELECT doc_id, rank, term, tf_idf FROM rk WHERE rank <= 3""".stripMargin,
      shufflePin = Some(4),
      planNote = Some("1-row corpus-total crossJoin inherited from the tfIdf chain")),

    // tokenizer fertility by language: exact BPE token/char mass per
    // lang and chars-per-token ppm — the "is the tokenizer fair to
    // this language" audit a multilingual mixture needs
    Entry("q_bpe_fertility", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Bpe.tokenCounts(docs, "doc_id", "text", bpeMerges)
        .join(docs.filter(col("lang").isNotNull).select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(sum(col("n_tokens")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
        .withColumn("chars_per_token_ppm",
          when(col("n_tokens") > 0, expr("(n_chars * 1000000L) div n_tokens")))
    },
      // the q_bpe_tokens encode chain + lang join + per-lang mass agg
      {
        val enc = graft.ops.Bpe.encodeSql("text", bpeMerges)
        val norm = "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), " +
          "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
        s"""WITH t AS (
           |  SELECT doc_id, lang,
           |    CAST(length(e) - length(replace(e, '<', ''))
           |      - (length(e) - length(replace(e, '< >', ''))) / 3 AS BIGINT) AS n_tokens,
           |    CAST(length(replace(nm, ' ', '')) AS BIGINT) AS n_chars
           |  FROM (SELECT doc_id, lang, $enc AS e, $norm AS nm FROM documents
           |        WHERE lang IS NOT NULL AND doc_id IS NOT NULL)
           |)
           |SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |  CASE WHEN SUM(n_tokens) > 0
           |       THEN CAST((SUM(n_chars) * 1000000) // SUM(n_tokens) AS BIGINT)
           |  END AS chars_per_token_ppm
           |FROM t GROUP BY 1""".stripMargin
      },
      shufflePin = Some(1)),

    // per-domain reputation stats over the synthetic crawl frame —
    // the blocklist-MINING survey (mirror/SEO farms show as dup_ppm,
    // crawler traps as n_pages >> n_canonical)
    Entry("q_domain_stats", (s, dir) => {
      val docs = table(s, dir, "documents")
      val withUrl = syntheticUrls(docs)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
      graft.ops.Web.domainStats(withUrl, "url", "text")
    },
      // the shared canon CTE + the q_dedup_exact fingerprint idiom
      s"""$urlCanonSql, txt AS (
         |  SELECT c.doc_id, c.domain, c.url_canon, dd2.text
         |  FROM canon c JOIN documents dd2 ON c.doc_id = dd2.doc_id
         |  WHERE dd2.text IS NOT NULL AND c.domain <> ''
         |), fpt AS (
         |  SELECT domain, url_canon,
         |    md5(COALESCE(array_to_string(list_sort(list_distinct(
         |      list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                  x -> x <> ''))), ' '), '')) AS f,
         |    len(regexp_extract_all(text, '\\S+'))::BIGINT AS nt
         |  FROM txt
         |)
         |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_pages,
         |  CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_canonical,
         |  CAST(COUNT(DISTINCT f) AS BIGINT) AS n_distinct_text,
         |  CAST(((COUNT(*) - COUNT(DISTINCT f)) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens
         |FROM fpt GROUP BY 1""".stripMargin,
      shufflePin = Some(2)),

    // Unicode-script profile over a deterministically mixed-script
    // corpus (per-lang foreign-script suffixes make the shares
    // non-vacuous on the all-ASCII test table)
    Entry("q_script_profile", (s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("lang").isNotNull)
        .select(col("doc_id"),
          when(col("lang") === "es", concat(col("text"), lit(" кириллица здесь")))
            .when(col("lang") === "fr", concat(col("text"), lit(" 中文文本")))
            .when(col("lang") === "de", concat(col("text"), lit(" النص العربي")))
            .otherwise(col("text")).as("text"))
      graft.ops.TextAnalysis.scriptProfile(docs, "doc_id", "text")
    },
      // identical char-class ranges (\x{....} — the syntax Java regex and
      // RE2 share), 'g' flags for Spark's replace-all, BIGINT-div ppm
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'es' THEN text || ' кириллица здесь'
        |         WHEN lang = 'fr' THEN text || ' 中文文本'
        |         WHEN lang = 'de' THEN text || ' النص العربي'
        |         ELSE text END AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
        |), c AS (
        |  SELECT doc_id,
        |    (length(t) - length(regexp_replace(t, '[^\s]', '', 'g')))::BIGINT AS n_chars,
        |    (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))::BIGINT AS lat,
        |    (length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')))::BIGINT AS cyr,
        |    (length(t) - length(regexp_replace(t, '[\x{4E00}-\x{9FFF}]', '', 'g')))::BIGINT AS cjk,
        |    (length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]', '', 'g')))::BIGINT AS ar
        |  FROM m
        |)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n_chars > 0 THEN CAST((lat * 1000000) // n_chars AS BIGINT) END AS latin_ppm,
        |  CASE WHEN n_chars > 0 THEN CAST((cyr * 1000000) // n_chars AS BIGINT) END AS cyrillic_ppm,
        |  CASE WHEN n_chars > 0 THEN CAST((cjk * 1000000) // n_chars AS BIGINT) END AS cjk_ppm,
        |  CASE WHEN n_chars > 0 THEN CAST((ar * 1000000) // n_chars AS BIGINT) END AS arabic_ppm
        |FROM c""".stripMargin,
      // the script profile rides the scan
      shufflePin = Some(0)),

    // homoglyph audit: Cyrillic-а and Greek-Α confusables planted into
    // id slices (as \u escapes), plus a pure-Cyrillic negative control
    Entry("q_mixed_script", (s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" p\u0430ypal")))
            .when(col("doc_id") % 13 === 5,
              concat(col("text"), lit(" \u0391pple")))
            .when(col("doc_id") % 13 === 7,
              concat(col("text"), lit(" обычно")))
            .otherwise(col("text")).as("text"))
      graft.ops.TextAnalysis.mixedScriptTokens(docs, "doc_id", "text")
    },
      // chr(1072) = Cyrillic а, chr(913) = Greek Α — the same codepoints
      // the Spark fixture spells as \u escapes
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' p' || chr(1072) || 'ypal'
        |         WHEN doc_id % 13 = 5 THEN text || ' ' || chr(913) || 'pple'
        |         WHEN doc_id % 13 = 7 THEN text || ' обычно'
        |         ELSE text END AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS toks
        |  FROM m
        |), mx AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    list_filter(toks, x ->
        |      (regexp_matches(x, '[A-Za-z]') AND regexp_matches(x, '[\x{0400}-\x{04FF}]'))
        |      OR (regexp_matches(x, '[A-Za-z]') AND regexp_matches(x, '[\x{0370}-\x{03FF}]'))
        |      OR (regexp_matches(x, '[\x{0400}-\x{04FF}]') AND regexp_matches(x, '[\x{0370}-\x{03FF}]'))) AS mixed
        |  FROM tk
        |)
        |SELECT doc_id, n_tokens, len(mixed)::BIGINT AS n_mixed,
        |  CASE WHEN n_tokens > 0
        |       THEN CAST((len(mixed) * 1000000) // n_tokens AS BIGINT)
        |       ELSE 0 END AS mixed_ppm,
        |  COALESCE(list_min(mixed), '') AS first_mixed
        |FROM mx""".stripMargin,
      // per-token homoglyph audit MUST stay map-side (HOF filter on the scan)
      shufflePin = Some(0)),

    // curriculum manifest: shard by hash (unbiased slices), read order
    // walks short-to-long docs — the easy-first training ramp
    Entry("q_curriculum", (s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Sampling.curriculumManifest(docs, "doc_id", "n_tokens", shards = 8)
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
        |    md5(doc_id::VARCHAR) AS h
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |)
        |SELECT doc_id, n_tokens, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |       ORDER BY n_tokens, h, doc_id) AS BIGINT) AS pos
        |FROM t""".stripMargin,
      // curriculum is one position window
      shufflePin = Some(1)),

    // calibration bins of the hashed quality classifier against the
    // lang='en' pseudo-label: does "score 0.8" mean 80%?
    Entry("q_calibration", (s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = graft.ops.TextAnalysis.linearQualityScore(
        docs, "doc_id", "text", qualityWeightsPpm, biasPpm = 250000L)
      val labeled = scored.join(
        docs.filter(col("lang").isNotNull)
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("label")),
        "doc_id")
      graft.ops.Stats.calibrationBins(labeled, "score", "label", bins = 10)
    },
      // the q_quality_model score chain + en-pseudo-label + equal-width bins
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang, len(toks) AS n,
        |    coalesce(list_sum(list_transform(toks, t ->
        |      ((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) * 2654435761)
        |        % 2000001 - 1000000)), 0) AS sp
        |  FROM d
        |), sc AS (
        |  SELECT doc_id,
        |    ROUND(1.0 / (1.0 + exp(-(0.25 +
        |      CASE WHEN n > 0 THEN sp / (n * 1000000.0) ELSE 0.0 END))), 6) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM s WHERE lang IS NOT NULL AND doc_id IS NOT NULL
        |)
        |SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(y) AS BIGINT) AS n_pos,
        |       CAST((SUM(y) * 1000000) // COUNT(*) AS BIGINT) AS pos_rate_ppm
        |FROM sc GROUP BY 1""".stripMargin,
      shufflePin = Some(1)),

    // exact ties-averaged ROC-AUC of the quality classifier against the
    // en-label — the eval gate companion to q_calibration (same frame)
    Entry("q_auc", (s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = graft.ops.TextAnalysis.linearQualityScore(
        docs, "doc_id", "text", qualityWeightsPpm, biasPpm = 250000L)
      val labeled = scored.join(
        docs.filter(col("lang").isNotNull)
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("label")),
        "doc_id")
      graft.ops.Stats.aucExact(labeled, "score", "label")
    },
      // same scoring CTEs as q_calibration, then the integer rank-sum
      // identity over per-VALUE tie groups (2·midrank = 2c − k + 1)
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang, len(toks) AS n,
        |    coalesce(list_sum(list_transform(toks, t ->
        |      ((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) * 2654435761)
        |        % 2000001 - 1000000)), 0) AS sp
        |  FROM d
        |), sc AS (
        |  SELECT doc_id,
        |    ROUND(1.0 / (1.0 + exp(-(0.25 +
        |      CASE WHEN n > 0 THEN sp / (n * 1000000.0) ELSE 0.0 END))), 6) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM s WHERE lang IS NOT NULL AND doc_id IS NOT NULL
        |), bv AS (
        |  SELECT score AS v, CAST(COUNT(*) AS BIGINT) AS k,
        |         CAST(SUM(y) AS BIGINT) AS kp
        |  FROM sc GROUP BY 1
        |), cm AS (
        |  SELECT v, k, kp, CAST(SUM(k) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |  FROM bv
        |)
        |SELECT CAST(SUM(kp) AS BIGINT) AS n_pos,
        |  CAST(SUM(k - kp) AS BIGINT) AS n_neg,
        |  CAST(((SUM(kp * (2 * c - k + 1)) - SUM(kp) * (SUM(kp) + 1)) * 1000000)
        |    // (2 * SUM(kp) * SUM(k - kp)) AS BIGINT) AS auc_ppm
        |FROM cm""".stripMargin,
      // AUC is the score agg + the bounded per-value cum window
      shufflePin = Some(2)),

    // Krippendorff's alpha over a complete 3-rater design synthesized
    // from events (raters b/c perturb deterministic id slices)
    Entry("q_kripp_alpha", (s, dir) =>
      graft.ops.Stats.krippendorffAlpha(
        alphaRatings(table(s, dir, "events")), "unit", "rater", "value",
        ratersPerUnit = 3),
      """WITH e AS (
        |  SELECT event_id AS unit, event_type AS t FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |), r AS (
        |  SELECT unit, 'a' AS rater, t AS value FROM e
        |  UNION ALL
        |  SELECT unit, 'b', CASE WHEN unit % 10 < 8 THEN t
        |    ELSE CASE WHEN t = 'click' THEN 'view'
        |              WHEN t = 'view' THEN 'click' ELSE 'error' END END FROM e
        |  UNION ALL
        |  SELECT unit, 'c', CASE WHEN unit % 7 < 5 THEN t
        |    ELSE CASE WHEN t = 'view' THEN 'error' ELSE 'view' END END FROM e
        |), uc AS (
        |  SELECT unit, value, CAST(COUNT(*) AS BIGINT) AS nuc
        |  FROM r GROUP BY 1, 2
        |), pu AS (
        |  SELECT unit, SUM(nuc) AS mu, SUM(nuc * nuc) AS ss FROM uc GROUP BY 1
        |), comp AS (SELECT unit, ss FROM pu WHERE mu = 3
        |), drp AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped_units
        |  FROM pu WHERE mu <> 3
        |), dos AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |         CAST(SUM(9 - ss) AS BIGINT) AS do_s
        |  FROM comp
        |), marg AS (
        |  SELECT CAST(SUM(nc) AS BIGINT) AS n, CAST(SUM(nc * nc) AS BIGINT) AS ssc
        |  FROM (SELECT value, SUM(nuc) AS nc FROM uc JOIN comp USING (unit)
        |        GROUP BY 1)
        |)
        |SELECT dos.n_units, drp.n_dropped_units, marg.n AS n_ratings,
        |  CAST(1000000 - (dos.do_s * (marg.n - 1) * 1000000)
        |    // (2 * (marg.n * marg.n - marg.ssc)) AS BIGINT) AS alpha_ppm
        |FROM dos CROSS JOIN drp CROSS JOIN marg""".stripMargin,
      // alpha is histogram aggs + 1-row normalizer broadcasts
      shufflePin = Some(7),
      planNote = Some("two 1-row frames (dropped-unit count, marginal totals) broadcast onto the 1-row coincidence aggregate")),

    // four-fifths-rule disparate-impact audit of the C4-style filter
    // verdicts by language — does "quality" silently drop a language?
    Entry("q_filter_impact", (s, dir) => {
      val docs = table(s, dir, "documents")
      val verdicts = graft.ops.TextAnalysis.filterVerdicts(docs, "doc_id", "text")
      graft.ops.Stats.selectionImpact(
        verdicts.join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "lang", "keep")
        .withColumnRenamed("group", "lang")
    },
      s"""$filterVerdictCtes, fv AS (
         |  SELECT v.doc_id, (v.reasons = '') AS keep FROM v
         |), j AS (
         |  SELECT d2.lang, CASE WHEN fv.keep THEN 1 ELSE 0 END AS kq
         |  FROM fv JOIN documents d2 ON d2.doc_id = fv.doc_id
         |  WHERE d2.lang IS NOT NULL
         |), g AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(kq) AS BIGINT) AS n_keep
         |  FROM j GROUP BY 1
         |), o AS (SELECT SUM(n_docs) AS nd, SUM(n_keep) AS nk FROM g)
         |SELECT lang, n_docs, n_keep,
         |  CAST((n_keep * 1000000) // n_docs AS BIGINT) AS keep_ppm,
         |  CAST(CASE WHEN nk = 0 THEN 1000000
         |    ELSE (n_keep * nd * 1000000) // (n_docs * nk) END AS BIGINT)
         |    AS impact_ratio_ppm,
         |  (CASE WHEN nk = 0 THEN 1000000
         |    ELSE (n_keep * nd * 1000000) // (n_docs * nk) END) < 800000
         |    AS at_risk
         |FROM g CROSS JOIN o""".stripMargin,
      // impact is histogram aggs + 1-row normalizer broadcasts
      shufflePin = Some(7),
      planNote = Some("1-row overall-totals broadcast crossJoin (the four-fifths denominator)")),

    // exact-collapse THEN near-dup: the composition that keeps pair
    // generation linear when duplication is dominated by exact copies
    // (the measured 100x pathology of running near-dup on raw volume);
    // df-bounded index on the collapsed set, same exact-jaccard verify
    Entry("q_dedup_canonical", (s, dir) =>
      graft.ops.Dedup.nearDupPairsCanonical(
        table(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.5,
        maxDf = Some(relMaxDf(s, dir))),
      // canonical-first pairs: collapse to the min-id doc per token-set
      // fingerprint (same normalization as q_dedup_exact), all-pairs exact
      // jaccard over the SURVIVORS only, group multiplicities carried
      s"""$docToks, fp AS (
         |  SELECT doc_id, toks,
         |         md5(COALESCE(array_to_string(list_sort(list_distinct(toks)), ' '), '')) AS f
         |  FROM d WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), c AS (
         |  SELECT f, doc_id, toks,
         |         ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn,
         |         COUNT(*) OVER (PARTITION BY f) AS nd
         |  FROM fp
         |), s AS (
         |  SELECT doc_id, nd, list_distinct(list_transform(range(1, len(toks)-1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM c WHERE rn = 1 AND len(toks) >= 3
         |), p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         len(list_intersect(a.sh, b.sh)) AS ni,
         |         len(a.sh) AS na, len(b.sh) AS nb,
         |         a.nd AS a_dups, b.nd AS b_dups
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |)
         |SELECT a_id, b_id, ROUND(ni / (na + nb - ni), 6) AS jaccard,
         |       CAST(a_dups AS BIGINT) AS a_dups, CAST(b_dups AS BIGINT) AS b_dups
         |FROM p WHERE ni / (na + nb - ni) >= 0.5""".stripMargin,
      // canonical raised 5 → 10 in r9: the count-prune candidate tier adds
      // the per-doc bounded-count agg + two doc-stats joins — all ≤|docs|-row
      // frames, traded for the ~1000× cut in full-array verify volume
      shufflePin = Some(10),
      widthPin = Some(1)),

    // 64-bit SimHash quadrant-banded pairs; oracle recomputes the
    // signature from scratch in SQL and does all-pairs exact hamming
    // (the quadrant banding is complete for hamming <= 3 — pigeonhole)
    Entry("q_simhash_pairs", (s, dir) =>
      graft.ops.Dedup.simHashNearDupPairs(
        table(s, dir, "documents"), "doc_id", "text", maxHamming = 3),
      // SimHash from scratch in SQL: identical md5-derived 64-bit token
      // hash (hi/lo 32-bit halves), identical sign-sum bits, then ALL-PAIRS
      // exact hamming via BIT xor — stricter than the engine's banded
      // candidates, which must agree exactly for maxHamming <= 3.
      // (BIGINT << 32 overflow-checks in DuckDB, so bits are read from the
      // hi/lo halves directly and the signature lives in a BIT string.)
      simhashPairsSql,
      widthPin = Some(1)),

    // pairs -> components: the step an actual dedup pipeline needs (keep
    // one canonical doc per cluster); min-label propagation, oracle is a
    // from-scratch recursive-CTE reachability closure
    Entry("q_dedup_clusters", (s, dir) =>
      graft.ops.Dedup.nearDupClusters(
        graft.ops.Dedup.nearDupPairsExact(
          table(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.3)),
      // connected components from scratch: same pair query (tau=0.3), then
      // a recursive reachability closure; cluster id = min reachable doc id
      s"""$dedupClustersChain
         |SELECT doc_id, cluster_id FROM clus""".stripMargin,
      // the dedup/span/containment family plans are cache-truncated at
      // their shared shingle/pair stores (the cold cost is IN the store build,
      // audited via q_dedup_pairs_maxdf's un-truncated 8)
      shufflePin = Some(0),
      widthPin = Some(1)),

    // incremental dedup: a "new batch" (doc_id % 5 = 4 — 20% of docs at
    // EVERY sf) deduped against the persisted store of the other 80% —
    // the corpus text itself is never re-read, only its sidecar store;
    // corpus-vs-corpus pairs are (correctly) absent from the output
    Entry("q_dedup_incremental", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = graft.ops.Dedup.dedupStore(
        docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text",
        withFingerprint = false) // this query never reads the fingerprint
      graft.ops.Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 5 === 4), store, "doc_id", "text",
        n = 3, tau = 0.5)
    },
      // from-scratch all-pairs restricted to pairs touching the new batch
      // (docs with doc_id % 5 = 4)
      s"""$docToks, s AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM d WHERE len(toks) >= 3
         |), p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |)
         |SELECT a_id, b_id, ROUND(ni / (na + nb - ni), 6) AS jaccard,
         |       CASE WHEN a_id % 5 = 4 AND b_id % 5 = 4 THEN 'new_new'
         |            ELSE 'new_corpus' END AS pair_type
         |FROM p WHERE ni / (na + nb - ni) >= 0.5
         |  AND (a_id % 5 = 4 OR b_id % 5 = 4)""".stripMargin,
      widthPin = Some(1)),

    // corpus term statistics: tf, df, and tf-idf per (doc, term)
    Entry("q_tfidf", (s, dir) =>
      graft.ops.TextAnalysis.tfIdf(
        table(s, dir, "documents"), "doc_id", "text", minTf = 3),
      s"""$docToks, x AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM x GROUP BY 1, 2
         |), dfq AS (
         |  SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1
         |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.term, tf.tf, dfq.doc_freq,
         |       ROUND(tf.tf * ln(n.n_docs::DOUBLE / dfq.doc_freq::DOUBLE), 6) AS tf_idf
         |FROM tf JOIN dfq USING (term) CROSS JOIN n
         |WHERE tf.tf >= 3""".stripMargin,
      planNote = Some("1-row corpus-total (N docs) crossJoin for the IDF term")),

    // benchmark decontamination: training docs (90%) sharing >= 2 word
    // 8-grams with any held-out eval doc (the % 10 = 3 slice)
    Entry("q_contamination", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Dedup.contamination(
        docs.filter(col("doc_id") % 10 =!= 3),
        docs.filter(col("doc_id") % 10 === 3),
        "doc_id", "text", n = 8, minShared = 2)
    },
      s"""$docToks, s AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-6),
         |    i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||
         |         toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])) AS sh
         |  FROM d WHERE len(toks) >= 8
         |)
         |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
         |       CAST(len(list_intersect(t.sh, e.sh)) AS BIGINT) AS shared_ngrams
         |FROM s t JOIN s e
         |  ON t.doc_id % 10 <> 3 AND e.doc_id % 10 = 3 AND t.doc_id <> e.doc_id
         |WHERE len(list_intersect(t.sh, e.sh)) >= 2""".stripMargin,
      widthPin = Some(2)),

    // cheap LM-ish quality signal: per-doc average unigram log-prob
    // under the corpus' own distribution (deterministic sorted fold)
    Entry("q_unigram_score", (s, dir) =>
      graft.ops.TextAnalysis.unigramLogProbScore(
        table(s, dir, "documents"), "doc_id", "text"),
      s"""$docToks, x AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM x GROUP BY 1, 2
         |), cnt AS (
         |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
         |), n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnt),
         |p AS (
         |  SELECT tf.doc_id, any_value(n.n_total) AS n_total,
         |         list_sort(list(struct_pack(term := tf.term, tf := tf.tf, cnt := cnt.cnt))) AS arr
         |  FROM tf JOIN cnt USING (term) CROSS JOIN n
         |  GROUP BY 1
         |)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT) AS n_tokens,
         |  ROUND(list_sum(list_transform(arr, s -> s.tf * ln(s.cnt / n_total)))
         |        / list_sum(list_transform(arr, s -> s.tf)), 6) AS avg_logprob
         |FROM p""".stripMargin,
      planNote = Some("1-row LM-normalizer crossJoin")),

    // bigram-LM (word-order-aware) quality score, Laplace-smoothed —
    // the CCNet-direction upgrade of q_unigram_score
    Entry("q_bigram_lm", (s, dir) =>
      graft.ops.TextAnalysis.bigramLmScore(
        table(s, dir, "documents"), "doc_id", "text"),
      // bigram LM from scratch: identical slot construction (toks[i],
      // toks[i+1]), identical Laplace tree ln((c12+1)/(c1+V)), fold over
      // the bigram-sorted per-doc array
      bigramLmSql,
      // bigram_lm 10 → 11 (r13): histCnt now derives from the distinct-
      // bigram frame instead of a third corpus pass — one more STATIC
      // exchange reference (bgCnt feeds histCnt AND the per-doc join) that
      // ReuseExchange shares at runtime; corpus passes 4 → 3
      shufflePin = Some(11),
      planNote = Some("1-row vocab-size (Laplace denominator) crossJoin"),
      widthPin = Some(1)),

    // CCNet-style perplexity tertiles over the bigram-LM score:
    // hash-sampled exact thresholds, map-side bucketing, drop the tail
    Entry("q_ppl_select", (s, dir) =>
      graft.ops.TextAnalysis.pplBucketSelect(
        table(s, dir, "documents"), "doc_id", "text"),
      // the shared bigram-LM chain + deterministic 25% hash-sample
      // thresholds (exact sample quantiles) + map-side bucket compare;
      // the rank-OR filter (not UNION ALL) keeps the threshold multiset
      // identical to Spark's when two cut ranks coincide on a tiny sample
      s"""WITH sc AS MATERIALIZED (
         |$bigramLmSql
         |), n AS (
         |  SELECT COUNT(*) AS ns FROM sc
         |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 4 = 0
         |), smp AS (
         |  SELECT avg_logprob,
         |    ROW_NUMBER() OVER (ORDER BY avg_logprob, doc_id) AS rn
         |  FROM sc
         |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 4 = 0
         |), tl AS (
         |  -- COALESCE: list() over zero sampled rows is NULL in DuckDB,
         |  -- [] via Spark collect_list; keep fails OPEN when the sample
         |  -- yields fewer than buckets-1 thresholds (Spark-side mirror)
         |  SELECT COALESCE(list_sort(list(s.avg_logprob)), []) AS ts
         |  FROM smp s, n
         |  WHERE s.rn = (1 * n.ns + 2) // 3 OR s.rn = (2 * n.ns + 2) // 3
         |)
         |SELECT doc_id, avg_logprob,
         |  CAST(len(list_filter(ts, x -> avg_logprob > x)) + 1 AS BIGINT) AS ppl_bucket,
         |  (len(list_filter(ts, x -> avg_logprob > x)) + 1 >= 2 OR len(ts) < 2) AS keep
         |FROM sc CROSS JOIN tl""".stripMargin,
      // ppl_select rides a documented bounded-frame chain (bigram-LM
      // thresholds): wide but every frame is vocabulary-bounded, never
      // corpus-row-scale
      shufflePin = Some(31),
      planNote = Some("1-row sample-count + (buckets-1)-row threshold crossJoins over the bigram-LM chain"),
      widthPin = Some(1)),

    // interpolated Kneser–Ney bigram LM score (modern-smoothing
    // upgrade of q_bigram_lm: absolute discount + continuation prob)
    Entry("q_kneser_ney", (s, dir) =>
      graft.ops.TextAnalysis.kneserNeyScore(
        table(s, dir, "documents"), "doc_id", "text"),
      s"""$docToks, base AS (
         |  SELECT doc_id, toks FROM d WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), slots AS (
         |  SELECT doc_id, s.w1 AS w1, s.w2 AS w2, s.bg AS bg FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |      i -> struct_pack(w1 := toks[i], w2 := toks[i+1],
         |                       bg := toks[i] || ' ' || toks[i+1]))) AS s
         |    FROM base WHERE len(toks) >= 2)
         |), docbg AS (
         |  SELECT doc_id, w1, w2, bg, COUNT(*)::BIGINT AS tf FROM slots GROUP BY 1, 2, 3, 4
         |), bgcnt AS (
         |  SELECT bg, COUNT(*)::BIGINT AS c12 FROM slots GROUP BY 1
         |), hist AS (
         |  SELECT w1, COUNT(*)::BIGINT AS c1, COUNT(DISTINCT w2)::BIGINT AS f1
         |  FROM slots GROUP BY 1
         |), prec AS (
         |  SELECT w2, COUNT(DISTINCT w1)::BIGINT AS p2 FROM slots GROUP BY 1
         |), bb AS (
         |  SELECT COUNT(DISTINCT bg)::BIGINT AS b FROM slots
         |), p AS (
         |  SELECT doc_id, any_value(b) AS b,
         |    list_sort(list(struct_pack(bg := db.bg, tf := db.tf,
         |      c12 := c12, c1 := c1, f1 := f1, p2 := p2))) AS arr
         |  FROM docbg db JOIN bgcnt USING (bg) JOIN hist USING (w1)
         |    JOIN prec USING (w2) CROSS JOIN bb
         |  GROUP BY 1
         |)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT) AS n_bigrams,
         |  ROUND(list_sum(list_transform(arr, s ->
         |    s.tf::DOUBLE * ln(greatest(s.c12::DOUBLE - 0.75, 0.0) / s.c1::DOUBLE
         |      + 0.75 * s.f1::DOUBLE / s.c1::DOUBLE * (s.p2::DOUBLE / b::DOUBLE))))
         |    / CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT), 6)
         |    AS avg_logprob
         |FROM p""".stripMargin,
      shufflePin = Some(9),
      planNote = Some("1-row distinct-bigram-type total (continuation denominator) crossJoin")),

    // sentence-level smoothed log-BLEU-4 over deterministic
    // candidate/reference pairs (candidate = reference with every 7th
    // token dropped and every 11th reversed — an eval-harness fixture)
    Entry("q_bleu", (s, dir) =>
      graft.ops.EvalMetrics.bleu(evalPairs(s, dir), "doc_id", "cand", "ref"),
      s"""$evalOverlapSql
         |SELECT doc_id, len_cand, len_ref, m1, m2, m3, m4,
         |  ROUND($logBleuSqlExpr, 6) AS log_bleu
         |FROM wide""".stripMargin,
      // eval-metrics batch, r10: the eval family went map-side
      // (ClippedTokenGramCounts kernel — the pair lives on one row; the old
      // exploded lattice, one (id,n,gram) agg + one (id,n) roll-up + one
      // scaffold join, shuffled ~8 gram slots/token)
      shufflePin = Some(0)),

    // pooled corpus-level BLEU over the same pairs (1 row)
    Entry("q_bleu_corpus", (s, dir) =>
      graft.ops.EvalMetrics.bleuCorpus(evalPairs(s, dir), "doc_id", "cand", "ref"),
      s"""$evalOverlapSql
         |SELECT n_pairs, len_cand, len_ref, m1, m2, m3, m4,
         |  ROUND($logBleuSqlExpr, 6) AS log_bleu
         |FROM (
         |  SELECT COUNT(*)::BIGINT AS n_pairs,
         |    CAST(SUM(len_cand) AS BIGINT) AS len_cand,
         |    CAST(SUM(len_ref) AS BIGINT) AS len_ref,
         |    CAST(SUM(m1) AS BIGINT) AS m1, CAST(SUM(m2) AS BIGINT) AS m2,
         |    CAST(SUM(m3) AS BIGINT) AS m3, CAST(SUM(m4) AS BIGINT) AS m4,
         |    CAST(SUM(t1) AS BIGINT) AS t1, CAST(SUM(t2) AS BIGINT) AS t2,
         |    CAST(SUM(t3) AS BIGINT) AS t3, CAST(SUM(t4) AS BIGINT) AS t4
         |  FROM wide)""".stripMargin,
      // corpus BLEU adds the 1-row pooled agg to the map-side eval kernel
      shufflePin = Some(1)),

    // ROUGE-1/ROUGE-2 precision/recall/F1 per pair — raw rational
    // doubles from exact counts (never rounded)
    Entry("q_rouge", (s, dir) =>
      graft.ops.EvalMetrics.rouge(evalPairs(s, dir), "doc_id", "cand", "ref"),
      s"""$evalOverlapSql
         |SELECT doc_id, len_cand, len_ref,
         |  CASE WHEN m1 = 0 THEN 0.0 ELSE m1::DOUBLE / t1::DOUBLE END AS r1_p,
         |  CASE WHEN m1 = 0 THEN 0.0 ELSE m1::DOUBLE / tr1::DOUBLE END AS r1_r,
         |  CASE WHEN m1 = 0 THEN 0.0 ELSE
         |    2.0 * (m1::DOUBLE / t1::DOUBLE) * (m1::DOUBLE / tr1::DOUBLE) /
         |    (m1::DOUBLE / t1::DOUBLE + m1::DOUBLE / tr1::DOUBLE) END AS r1_f,
         |  CASE WHEN m2 = 0 THEN 0.0 ELSE m2::DOUBLE / t2::DOUBLE END AS r2_p,
         |  CASE WHEN m2 = 0 THEN 0.0 ELSE m2::DOUBLE / tr2::DOUBLE END AS r2_r,
         |  CASE WHEN m2 = 0 THEN 0.0 ELSE
         |    2.0 * (m2::DOUBLE / t2::DOUBLE) * (m2::DOUBLE / tr2::DOUBLE) /
         |    (m2::DOUBLE / t2::DOUBLE + m2::DOUBLE / tr2::DOUBLE) END AS r2_f
         |FROM wide""".stripMargin,
      // map-side eval kernel (the q_bleu shape)
      shufflePin = Some(0)),

    // HTTP-response splitting over deterministic synthetic fetches —
    // CRLF and bare-LF header endings, quoted charset, header-only 301
    Entry("q_http_parse", (s, dir) => {
      val d = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("source").isNotNull)
      val m = pmod(col("doc_id"), lit(3))
      val raw = when(m === 0, concat(
          lit("HTTP/1.1 200 OK\r\nServer: unit\r\nContent-Type: text/HTML; charset=\"UTF-8\"\r\n\r\n<p>"),
          col("text"), lit("</p>")))
        .when(m === 1, concat(
          lit("HTTP/1.0 404 Not Found\nContent-Type: text/plain\n\nmissing "),
          col("doc_id")))
        .otherwise(concat(lit("HTTP/1.1 301 Moved\r\nLocation: https://"),
          col("source"), lit(".com/\r\n\r\n")))
      graft.ops.Web.parseHttp(d.select(col("doc_id"), raw.as("raw")), "raw")
        .select(col("doc_id"), col("status_code"), col("content_type"),
          col("charset"), col("body"))
    },
      // same regexps as Web.parseHttp; raw built with chr(13)/chr(10)
      """WITH d AS (
        |  SELECT doc_id, text, source FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL
        |), h AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |        'Server: unit' || chr(13) || chr(10) ||
        |        'Content-Type: text/HTML; charset="UTF-8"' || chr(13) || chr(10) ||
        |        chr(13) || chr(10) || '<p>' || text || '</p>'
        |      WHEN 1 THEN 'HTTP/1.0 404 Not Found' || chr(10) ||
        |        'Content-Type: text/plain' || chr(10) || chr(10) ||
        |        'missing ' || doc_id::VARCHAR
        |      ELSE 'HTTP/1.1 301 Moved' || chr(13) || chr(10) ||
        |        'Location: https://' || source || '.com/' || chr(13) || chr(10) ||
        |        chr(13) || chr(10)
        |    END AS raw
        |  FROM d
        |), p AS (
        |  SELECT doc_id, raw,
        |    regexp_matches(raw, '\r?\n\r?\n') AS has_blank,
        |    CASE WHEN regexp_matches(raw, '\r?\n\r?\n')
        |         THEN regexp_extract(raw, '(?s)^(.*?)\r?\n\r?\n', 1)
        |         ELSE raw END AS hdr,
        |    CASE WHEN regexp_matches(raw, '\r?\n\r?\n')
        |         THEN regexp_replace(raw, '(?s)^.*?\r?\n\r?\n', '')
        |         ELSE '' END AS body
        |  FROM h
        |)
        |SELECT doc_id,
        |  NULLIF(regexp_extract(raw, '^HTTP/[0-9.]+ ([0-9]{3})', 1), '')::BIGINT
        |    AS status_code,
        |  NULLIF(lower(trim(regexp_extract(hdr,
        |    '(?im)^content-type:[ \t]*([^\r\n;]+)', 1))), '') AS content_type,
        |  NULLIF(lower(regexp_extract(hdr,
        |    '(?im)^content-type:[^\r\n]*;[ \t]*charset=["'']?([A-Za-z0-9_.:-]+)', 1)), '')
        |    AS charset,
        |  body
        |FROM p""".stripMargin,
      shufflePin = Some(0)),

    // rule-based sentence splitting (RE2-portable extraction form)
    Entry("q_sentences", (s, dir) =>
      graft.ops.TextAnalysis.splitSentences(
        table(s, dir, "documents"), "doc_id", "text"),
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
        |      x -> x <> '') AS arr
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |)
        |SELECT doc_id,
        |  CAST(unnest(generate_series(1, len(arr))) - 1 AS BIGINT) AS sentence_idx,
        |  unnest(arr) AS sentence
        |FROM d""".stripMargin,
      shufflePin = Some(0)),

    // Flesch / Flesch–Kincaid readability from three one-pass regexp
    // counts; raw doubles from a fixed tree over exact integers (the
    // never-round-exact-derived-doubles parity rule)
    Entry("q_readability", (s, dir) =>
      graft.ops.TextAnalysis.readability(
        table(s, dir, "documents"), "doc_id", "text"),
      // identical regexp passes and an identical double tree over the
      // three exact integer counts — raw doubles, no rounding
      """WITH r AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_words,
        |    len(regexp_extract_all(text, '[^.!?\s][^.!?]*'))::BIGINT AS n_sentences,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syllables
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    206.835 - 1.015 * (n_words::DOUBLE / greatest(n_sentences, 1)::DOUBLE)
        |            - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE) END AS flesch,
        |  CASE WHEN n_words > 0 THEN
        |    0.39 * (n_words::DOUBLE / greatest(n_sentences, 1)::DOUBLE)
        |    + 11.8 * (n_syllables::DOUBLE / n_words::DOUBLE) - 15.59 END AS fk_grade
        |FROM r""".stripMargin,
      // readability rides the scan
      shufflePin = Some(0)),

    // per-event-type z-score standardization of value (exact cents
    // sufficient stats, one fixed double tree)
    Entry("q_standardize", (s, dir) =>
      graft.ops.Agg.standardizeByGroup(
        table(s, dir, "events")
          .filter(col("value").isNotNull),
        "event_type", "event_id", round(col("value") * 100)),
      """WITH r AS (
        |  SELECT event_type, event_id,
        |         CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events
        |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL
        |), st AS (
        |  SELECT event_type, COUNT(*)::BIGINT AS n,
        |         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS s2
        |  FROM r GROUP BY 1
        |)
        |SELECT r.event_type, r.event_id, v AS value_int,
        |  s::DOUBLE / n::DOUBLE AS group_mean,
        |  CASE WHEN (s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) / n::DOUBLE > 0
        |       THEN (v::DOUBLE - s::DOUBLE / n::DOUBLE)
        |            / sqrt((s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) / n::DOUBLE)
        |       END AS z
        |FROM r JOIN st USING (event_type)""".stripMargin,
      shufflePin = Some(1)),

    // HTML→text extraction over a deterministic markup wrapping of the
    // corpus (script/style blocks, comments, inline tags, entities,
    // a stray `<` in script content that must vanish with its block)
    Entry("q_html_strip", (s, dir) => {
      val d = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("lang").isNotNull)
      val html = concat(
        lit("<html><head><title>Doc</title><style type=\"text/css\">p { color: red; }</style></head><body><h1>"),
        col("lang"),
        lit("</h1>\n<p class=\"main\">"),
        expr("replace(text, ' scan ', ' <b>scan</b> &amp; <i>more</i> ')"),
        lit("</p><script>var x = 1 < 2 && 3 > 2;</script><!-- hidden -->" +
          "<p>&quot;end&quot;&nbsp;&#39;q&apos;</p></body></html>"))
      val clean = graft.ops.TextAnalysis.stripHtml(html)
      d.select(col("doc_id"), clean.as("text_clean"),
        graft.ops.TextAnalysis.tokenCount(clean).cast("long").as("n_tokens"))
    },
      // same regexp chain as TextAnalysis.stripHtml, with 'g' flags where
      // Spark's replace-all semantics need them
      """WITH d AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
        |), h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc</title><style type="text/css">p { color: red; }</style></head><body><h1>'
        |    || lang || '</h1>' || chr(10) || '<p class="main">'
        |    || replace(text, ' scan ', ' <b>scan</b> &amp; <i>more</i> ')
        |    || '</p><script>var x = 1 < 2 && 3 > 2;</script><!-- hidden --><p>&quot;end&quot;&nbsp;&#39;q&apos;</p></body></html>'
        |    AS html
        |  FROM d
        |), s1 AS (
        |  SELECT doc_id, regexp_replace(html,
        |    '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>', ' ', 'g') AS t FROM h
        |), s2 AS (
        |  SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1
        |), s3 AS (
        |  SELECT doc_id, regexp_replace(t, '(?s)</?[a-zA-Z!][^>]*>', ' ', 'g') AS t FROM s2
        |), s4 AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&apos;', '''', 'g'), '&nbsp;', ' ', 'g'),
        |      '&amp;', '&', 'g') AS t
        |  FROM s3
        |), s5 AS (
        |  SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_clean FROM s4
        |)
        |SELECT doc_id, text_clean,
        |  len(list_filter(regexp_split_to_array(text_clean, '\s+'), x -> x <> ''))::BIGINT
        |    AS n_tokens
        |FROM s5""".stripMargin,
      shufflePin = Some(0)),

    // context-window chunking: 64-token windows, 16-token overlap
    Entry("q_chunking", (s, dir) =>
      graft.ops.TextAnalysis.chunkByTokens(
        table(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 64, overlap = 16),
      // chunking tokenizes WITHOUT lowercasing (chunk text must round-trip
      // the original), hence the standalone toks CTE
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, CAST(CEIL(greatest(len(toks) - 16, 1) / 48.0) AS BIGINT))) AS chunk_idx
        |  FROM d WHERE len(toks) > 0
        |)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(toks[chunk_idx*48+1 : chunk_idx*48+64]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[chunk_idx*48+1 : chunk_idx*48+64], ' ') AS chunk_text
        |FROM c""".stripMargin),

    // content-defined chunking: rolling-3-gram cut rule, expected chunk
    // 8 tokens — the repeated-passage (block-dedup) catalogue
    Entry("q_cdc_chunks", (s, dir) =>
      graft.ops.TextAnalysis.cdcChunks(
        table(s, dir, "documents"), "doc_id", "text", grams = 3, divisor = 8),
      // same md5-bucket idiom as the Spark side; range(a,b) is [a,b) so
      // cut positions run [grams, n-1], never after the last token
      s"""$docToks, t AS (
         |  SELECT doc_id, toks, len(toks) AS n FROM d
         |  WHERE len(toks) >= 1 AND doc_id IS NOT NULL
         |), b AS (
         |  SELECT doc_id, toks, n,
         |    [0] || list_filter(range(3, n), i ->
         |      ('0x' || substr(md5(array_to_string(toks[i-2:i], ' ')), 1, 8))::BIGINT % 8 = 0) || [n] AS bs
         |  FROM t
         |), c AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(2, len(bs)+1), j ->
         |      struct_pack(fp := md5(array_to_string(toks[bs[j-1]+1 : bs[j]], ' ')),
         |                  nt := bs[j] - bs[j-1]))) AS ch
         |  FROM b
         |)
         |SELECT ch.fp AS fingerprint, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(MIN(ch.nt) AS BIGINT) AS n_tokens, MIN(doc_id) AS doc_min
         |FROM c GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin),

    // greedy sequence packing into 512-token training budgets
    Entry("q_packing", (s, dir) =>
      graft.ops.TextAnalysis.packByTokenBudget(
        table(s, dir, "documents"), "doc_id", "text", budgetTokens = 512),
      """WITH d AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '\S+', 0)) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT)
        |    AS pack_id
        |FROM d""".stripMargin),

    // deterministic hash-based train/test split: assignment is a pure
    // function of the key (md5 bucket), reproducible in any engine —
    // never rand()/partition-order dependent
    Entry("q_sample_hash", (s, dir) =>
      graft.ops.Sampling.trainTestSplit(
        table(s, dir, "events").na.drop(Seq("event_id")), "event_id",
        testBuckets = 20)
        .select(col("event_id"), col("split")),
      """SELECT event_id,
        |  CASE WHEN ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100 >= 80
        |       THEN 'test' ELSE 'train' END AS split
        |FROM events WHERE event_id IS NOT NULL""".stripMargin),

    // per-stratum deterministic sampling (rebalancing move: keep rare
    // classes whole, downsample dominant ones)
    Entry("q_sample_stratified", (s, dir) =>
      graft.ops.Sampling.stratifiedSampleByHash(
        table(s, dir, "events").na.drop(Seq("event_id", "event_type")),
        "event_id", "event_type",
        Map("click" -> 5, "purchase" -> 100, "error" -> 50))
        .groupBy("event_type").agg(count(lit(1)).as("n")),
      """WITH s AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        |  FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |)
        |SELECT event_type, COUNT(*) AS n FROM s
        |WHERE b < CASE event_type WHEN 'click' THEN 5 WHEN 'purchase' THEN 100
        |                          WHEN 'error' THEN 50 ELSE 0 END
        |GROUP BY 1""".stripMargin,
      shufflePin = Some(1)),

    // multi-way weighted split (train/val/test), integer bucket slices
    Entry("q_split3", (s, dir) =>
      graft.ops.Sampling.splitByWeights(
        table(s, dir, "documents").na.drop(Seq("doc_id")), "doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select(col("doc_id"), col("split")),
      """SELECT doc_id,
        |  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
        |         THEN 'train'
        |       WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 95
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin),

    // largest exactly-proportioned downsampled mixture (70/20/10)
    Entry("q_mixture", (s, dir) =>
      graft.ops.Sampling.mixToProportions(
        table(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 7, "src1" -> 2, "src2" -> 1))
        .select(col("doc_id"), col("source")),
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 7 WHEN 'src1' THEN 2
        |                WHEN 'src2' THEN 1 END AS parts
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IN ('src0', 'src1', 'src2')
        |), sizes AS (
        |  -- right-join the declared parts so a listed-but-empty source
        |  -- pins capacity to 0, mirroring Sampling.mixToProportions
        |  SELECT v.source, v.parts, COALESCE(c.n, 0) AS n
        |  FROM (VALUES ('src0', 7), ('src1', 2), ('src2', 1)) v(source, parts)
        |  LEFT JOIN (SELECT source, COUNT(*) AS n FROM d GROUP BY 1) c USING (source)
        |), cap AS (
        |  SELECT MIN(n * 10 // parts) AS c FROM sizes
        |), quotas AS (
        |  SELECT source, parts * (SELECT c FROM cap) // 10 AS q FROM sizes
        |), ranked AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS hr
        |  FROM d
        |)
        |SELECT r.doc_id, r.source FROM ranked r
        |JOIN quotas USING (source) WHERE r.hr <= quotas.q""".stripMargin,
      planNote = Some("1-row capacity frame crossJoin (Sampling.scala:235)")),

    // temperature-scaled (α = 1/2) language mixture: quotas ∝ sqrt(n_l),
    // weights from correctly-rounded sqrt only so ppm quotas are
    // engine-bit-identical; selection by per-source hash rank
    Entry("q_temperature_mix", (s, dir) =>
      graft.ops.Sampling.temperatureMix(
        table(s, dir, "documents"), "lang", "doc_id",
        budget = 300L, alphaQuarters = 2)
        .select(col("doc_id"), col("lang")),
      """WITH d AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        |), sizes AS (
        |  SELECT lang, COUNT(*)::BIGINT AS n FROM d GROUP BY 1
        |), w AS (
        |  -- sqrt is IEEE-correctly-rounded on both engines, so the ppm
        |  -- weight (and hence every BIGINT quota) is bit-identical
        |  SELECT lang, n,
        |         CAST(floor(1000000.0 * sqrt(n::DOUBLE)) AS BIGINT) AS w_ppm
        |  FROM sizes
        |), tw AS (SELECT CAST(SUM(w_ppm) AS BIGINT) AS tw FROM w),
        |quotas AS (
        |  SELECT lang, LEAST(n, 300 * w_ppm // (SELECT tw FROM tw)) AS q FROM w
        |), ranked AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS hr
        |  FROM d
        |)
        |SELECT r.doc_id, r.lang FROM ranked r
        |JOIN quotas USING (lang) WHERE r.hr <= quotas.q""".stripMargin,
      // curation family: the mixture budget includes its tiny-frame
      // (≤|sources|-row) exchanges
      shufflePin = Some(4),
      planNote = Some("1-row Σweights crossJoin (Sampling.temperatureMix)")),

    // epoch-salted reshuffle: a DIFFERENT but fully reproducible
    // permutation per training epoch
    Entry("q_epoch_shuffle", (s, dir) =>
      graft.ops.Sampling.epochShuffle(
        table(s, dir, "events").select(col("event_id"))
          .filter(col("event_id").isNotNull),
        "event_id", shards = 8, epoch = 2)
        .select(col("event_id"), col("epoch"), col("shard"), col("pos")),
      """WITH d AS (
        |  SELECT event_id FROM events WHERE event_id IS NOT NULL
        |), b AS (
        |  SELECT event_id,
        |    ('0x' || substr(md5(event_id::VARCHAR || ':2'), 1, 8))::BIGINT % 8 AS shard
        |  FROM d
        |)
        |SELECT event_id, CAST(2 AS BIGINT) AS epoch, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY md5(event_id::VARCHAR || ':2'), event_id) AS BIGINT) AS pos
        |FROM b""".stripMargin,
      shufflePin = Some(1)),

    // deterministic training-shard manifest: (shard, pos) from key
    // hashes only — rebuild/resume/engine-stable output layout
    Entry("q_shard_manifest", (s, dir) =>
      graft.ops.Sampling.shardManifest(
        table(s, dir, "events").select(col("event_id"))
          .filter(col("event_id").isNotNull),
        "event_id", shards = 16)
        .select(col("event_id"), col("shard"), col("pos")),
      """WITH d AS (
        |  SELECT event_id FROM events WHERE event_id IS NOT NULL
        |), b AS (
        |  SELECT event_id,
        |    ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 16 AS shard
        |  FROM d
        |)
        |SELECT event_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY md5(event_id::VARCHAR), event_id) AS BIGINT) AS pos
        |FROM b""".stripMargin,
      // curation family: the manifest is one per-group window
      shufflePin = Some(1)),

    // URL canonicalization over a deterministic messy-URL fixture
    // (docs table has no URL column; both engines derive the same URLs
    // from (doc_id, source, lang))
    Entry("q_url_canon", (s, dir) =>
      graft.ops.Web.canonicalize(syntheticUrls(table(s, dir, "documents")), "url")
        .select(col("doc_id"), col("url"), col("host"), col("domain"),
          col("url_canon")),
      s"""$urlCanonSql
         |SELECT doc_id, url, host, domain, url_canon FROM canon""".stripMargin,
      // curation family: canonicalization MUST stay map-side
      shufflePin = Some(0)),

    // robots.txt REP evaluation: per-domain rule parse (header runs,
    // star groups, comments) + longest-match gate over synthetic URLs
    Entry("q_robots_txt", (s, dir) => {
      val robots = s.range(0, 10).select(
        concat(lit("d"), col("id").cast("string"), lit(".example.com"))
          .as("domain"),
        when(col("id") % 3 === 0,
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
          .when(col("id") % 3 === 1,
            lit("User-agent: bot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp # scratch\n"))
          .otherwise(lit("User-agent: *\nDisallow:\n")).as("robots_txt"))
      val urls = table(s, dir, "documents").filter(col("doc_id").isNotNull)
        .select(concat(lit("https://d"), (col("doc_id") % 10).cast("string"),
          lit(".example.com"),
          when(col("doc_id") % 4 === 0, "/private/x")
            .when(col("doc_id") % 4 === 1, "/private/ok/page")
            .when(col("doc_id") % 4 === 2, "/tmp/f")
            .otherwise("/pub/a"),
          col("doc_id").cast("string")).as("url"))
      graft.ops.Web.robotsAllowed(urls,
        graft.ops.Web.robotsRules(robots, "domain", "robots_txt"), "url")
    },
      // REP parse mirrored window-for-window: header-run grouping via
      // LAG + running sum, star-group semi-join, longest-match rank with
      // the allow tie-break
      raw"""WITH rb AS (
        |  SELECT 'd' || i::VARCHAR || '.example.com' AS domain,
        |    CASE WHEN i % 3 = 0
        |      THEN 'User-agent: *' || chr(10) || 'Disallow: /private' ||
        |           chr(10) || 'Allow: /private/ok' || chr(10)
        |         WHEN i % 3 = 1
        |      THEN 'User-agent: bot' || chr(10) || 'Disallow: /' || chr(10) ||
        |           chr(10) || 'User-agent: *' || chr(10) ||
        |           'Disallow: /tmp # scratch' || chr(10)
        |         ELSE 'User-agent: *' || chr(10) || 'Disallow:' || chr(10)
        |    END AS t
        |  FROM range(0, 10) rr(i)
        |), ln0 AS (
        |  SELECT domain, regexp_split_to_array(t, '\r?\n') AS ls FROM rb
        |), ln AS (
        |  SELECT domain, unnest(range(1, len(ls) + 1)) AS pos, ls FROM ln0
        |), l2 AS (
        |  -- case PRESERVED: directive names match (?i), prefixes are
        |  -- byte-literal paths (RFC 9309) — mirrors Web.robotsRules
        |  SELECT domain, pos,
        |         trim(regexp_replace(ls[pos], '#.*$$', '')) AS l
        |  FROM ln
        |), gg AS (
        |  SELECT domain, pos, l,
        |    CASE WHEN regexp_matches(l, '(?i)^user-agent:')
        |         THEN 1 ELSE 0 END AS isua
        |  FROM l2
        |), stt AS (
        |  SELECT *, CASE WHEN isua = 1 AND COALESCE(LAG(isua)
        |    OVER (PARTITION BY domain ORDER BY pos), 0) = 0
        |    THEN 1 ELSE 0 END AS sg
        |  FROM gg
        |), g2 AS (
        |  SELECT *, SUM(sg) OVER (PARTITION BY domain ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM stt
        |), star AS (
        |  SELECT DISTINCT domain, grp FROM g2
        |  WHERE isua = 1
        |    AND trim(regexp_extract(l, '(?i)^user-agent:\s*(\S*)', 1)) = '*'
        |), rules AS (
        |  SELECT DISTINCT g2.domain,
        |    lower(regexp_extract(l, '(?i)^(allow|disallow):', 1)) AS rule,
        |    trim(regexp_extract(l, '(?i)^(allow|disallow):\s*(\S*)', 2)) AS prefix
        |  FROM g2 JOIN star USING (domain, grp)
        |  WHERE regexp_extract(l, '(?i)^(allow|disallow):', 1) <> ''
        |    AND trim(regexp_extract(l, '(?i)^(allow|disallow):\s*(\S*)', 2)) <> ''
        |), uu AS (
        |  SELECT 'https://d' || (doc_id % 10)::VARCHAR || '.example.com' ||
        |    CASE doc_id % 4 WHEN 0 THEN '/private/x'
        |                    WHEN 1 THEN '/private/ok/page'
        |                    WHEN 2 THEN '/tmp/f' ELSE '/pub/a' END ||
        |    doc_id::VARCHAR AS url
        |  FROM documents WHERE doc_id IS NOT NULL
        |), up AS (
        |  -- RAW path (empty -> '/'), not the dedup-canonical form:
        |  -- REP matching is byte-literal, trailing slashes included
        |  SELECT url,
        |    ${sqlUrlHost("url")} AS domain,
        |    CASE WHEN regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://[^/?#]*([^?#]*)', 2) = ''
        |         THEN '/'
        |         ELSE regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://[^/?#]*([^?#]*)', 2)
        |    END AS path
        |  FROM uu
        |), mt AS (
        |  SELECT up.url, up.domain, up.path, rules.rule, rules.prefix,
        |    ROW_NUMBER() OVER (PARTITION BY up.url, up.domain, up.path
        |      ORDER BY len(rules.prefix) DESC,
        |        CASE WHEN rules.rule = 'allow' THEN 0 ELSE 1 END,
        |        rules.rule, rules.prefix) AS rn
        |  FROM up JOIN rules ON rules.domain = up.domain
        |  WHERE starts_with(up.path, rules.prefix)
        |)
        |SELECT up.url, up.domain, up.path,
        |  COALESCE(b.rule, '') AS matched_rule,
        |  COALESCE(b.prefix, '') AS matched_prefix,
        |  COALESCE(b.rule, 'allow') = 'allow' AS allowed
        |FROM up LEFT JOIN (SELECT * FROM mt WHERE rn = 1) b
        |  ON b.url = up.url""".stripMargin,
      // robots: line-window parse + star semi-join + match agg + gate join
      shufflePin = Some(4)),

    // per-registrable-domain page quota on the canonicalized frame —
    // the crawl-corpus "at most N pages per site" rule
    Entry("q_domain_cap", (s, dir) =>
      graft.ops.Web.capPerDomain(
        syntheticUrls(table(s, dir, "documents")), "url", "doc_id",
        maxPages = 20)
        .select(col("doc_id"), col("domain")),
      s"""$urlCanonSql, ranked AS (
         |  SELECT doc_id, domain,
         |    ROW_NUMBER() OVER (PARTITION BY domain
         |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS hr
         |  FROM canon
         |)
         |SELECT doc_id, domain FROM ranked WHERE hr <= 20""".stripMargin,
      // curation family: the cap is one per-group window
      shufflePin = Some(1)),

    // domain-blocklist gate with suffix semantics (blocking src3.com
    // drops cdn.src3.com too) — suffix-explode + equi-semi-join, the
    // shape that stays an equi-join at million-row blocklists
    Entry("q_domain_block", (s, dir) => {
      import s.implicits._
      val block = Seq("src3.com", "cdn.src5.com").toDF("domain")
      graft.ops.Web.filterBlockedDomains(
        graft.ops.Web.canonicalize(
          syntheticUrls(table(s, dir, "documents")), "url"),
        "url", "doc_id", block, "domain")
        .select(col("doc_id"), col("host"))
    },
      // suffix semantics spelled as host = b OR host LIKE '%.b' — exactly
      // the label-boundary suffix set the Spark side explodes into
      s"""$urlCanonSql
         |SELECT doc_id, host FROM canon
         |WHERE NOT (host = 'src3.com' OR host LIKE '%.src3.com'
         |        OR host = 'cdn.src5.com' OR host LIKE '%.cdn.src5.com')""".stripMargin,
      // curation family: the block gate is the suffix-semi + anti pair
      shufflePin = Some(2)),

    // ranking-eval metrics (recall@k, MRR@k, nDCG@k) for the kNN
    // ranking against a deterministic synthetic qrels set — gains and
    // membership derived from ids so both engines build identical
    // judgments; all integer ppm except the rank-order-folded nDCG
    Entry("q_rank_metrics", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val ranking = graft.ops.Similarity.knnBruteForce(
          e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn"))
      val qrels = e.filter(col("vec_id").isNotNull)
        .select(col("vec_id").as("doc_id"),
          explode(sequence(lit(0L), lit(9L))).as("query_id"))
        .filter(pmod(col("doc_id") * 31 + col("query_id"), lit(17)) === 0)
        .withColumn("rel", lit(1L) + pmod(col("doc_id"), lit(3)))
      graft.ops.Retrieval.rankingMetrics(ranking, qrels,
        "query_id", "doc_id", "rn", "rel", k = 10)
    },
      // ranking metrics: the same kNN ranking as q_knn (k=10), judged by
      // the same id-derived qrels; nDCG folds in rank order with
      // log2(x) spelled ln(x)/ln(2) on both engines
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |p AS (
         |  SELECT query_id, neighbor_id, ${duckCosine("qv", "cv")} AS sim
         |  FROM q, c WHERE query_id <> neighbor_id
         |), r AS (
         |  SELECT query_id, neighbor_id AS doc_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM p QUALIFY rank <= 10
         |), qr AS (
         |  SELECT e.vec_id AS doc_id, g.range AS query_id,
         |         CAST(1 + e.vec_id % 3 AS BIGINT) AS rel
         |  FROM embeddings e, range(10) g
         |  WHERE e.vec_id IS NOT NULL AND (e.vec_id * 31 + g.range) % 17 = 0
         |), ideal AS (
         |  SELECT query_id, COUNT(*)::BIGINT AS n_rel,
         |         list_sort(list(-rel)) AS gains
         |  FROM qr GROUP BY 1
         |), idcg AS (
         |  SELECT query_id, n_rel,
         |    list_sum(list_transform(range(1, least(len(gains), 10) + 1),
         |      i -> (-gains[i])::DOUBLE / (ln((i + 1)::DOUBLE) / ln(2.0)))) AS idcg
         |  FROM ideal
         |), hits AS (
         |  SELECT r.query_id, r.rank, qr.rel
         |  FROM r JOIN qr ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
         |), pq AS (
         |  SELECT query_id,
         |    MIN(rank) AS first_rel_rank,
         |    COUNT(*)::BIGINT AS n_rel_in_k,
         |    list_sort(list(struct_pack(rank := rank, rel := rel))) AS arr
         |  FROM hits GROUP BY 1
         |)
         |SELECT i.query_id, i.n_rel,
         |  CAST(COALESCE(p.n_rel_in_k, 0) AS BIGINT) AS n_rel_in_k,
         |  CAST(COALESCE(p.n_rel_in_k, 0) * 1000000 // i.n_rel AS BIGINT) AS recall_ppm,
         |  CAST(COALESCE(1000000 // p.first_rel_rank, 0) AS BIGINT) AS mrr_ppm,
         |  ROUND(COALESCE(list_sum(list_transform(p.arr, s ->
         |          s.rel::DOUBLE / (ln((s.rank + 1)::DOUBLE) / ln(2.0)))), 0.0)
         |        / i.idcg, 6) AS ndcg
         |FROM idcg i LEFT JOIN pq p USING (query_id)""".stripMargin,
      shufflePin = Some(3),
      planNote = Some("10-row query-vector broadcast in the kNN ranking leg; the metrics themselves are equi-joins + per-query aggs"),
      widthPin = Some(1)),

    // average precision over the same ranking/qrels fixture — the
    // order-sensitive single-number complement to q_rank_metrics
    Entry("q_avg_precision", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val ranking = graft.ops.Similarity.knnBruteForce(
          e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn"))
      val qrels = e.filter(col("vec_id").isNotNull)
        .select(col("vec_id").as("doc_id"),
          explode(sequence(lit(0L), lit(9L))).as("query_id"))
        .filter(pmod(col("doc_id") * 31 + col("query_id"), lit(17)) === 0)
        .withColumn("rel", lit(1L) + pmod(col("doc_id"), lit(3)))
      graft.ops.Retrieval.averagePrecision(ranking, qrels,
        "query_id", "doc_id", "rn", "rel", k = 10)
    },
      // average precision over the same ranking/qrels: at the i-th hit in
      // rank order the term is i/rank — the fold is rank-sorted, same
      // list_sum == Spark-left-fold equivalence as the nDCG oracle
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |p AS (
         |  SELECT query_id, neighbor_id, ${duckCosine("qv", "cv")} AS sim
         |  FROM q, c WHERE query_id <> neighbor_id
         |), r AS (
         |  SELECT query_id, neighbor_id AS doc_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM p QUALIFY rank <= 10
         |), qr AS (
         |  SELECT e.vec_id AS doc_id, g.range AS query_id
         |  FROM embeddings e, range(10) g
         |  WHERE e.vec_id IS NOT NULL AND (e.vec_id * 31 + g.range) % 17 = 0
         |), ideal AS (
         |  SELECT query_id, COUNT(*)::BIGINT AS n_rel FROM qr GROUP BY 1
         |), hits AS (
         |  SELECT r.query_id, r.rank
         |  FROM r JOIN qr ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
         |  WHERE r.rank <= 10
         |), pq AS (
         |  SELECT query_id, COUNT(*)::BIGINT AS n_rel_in_k,
         |         list_sort(list(rank)) AS ranks
         |  FROM hits GROUP BY 1
         |)
         |SELECT i.query_id, i.n_rel,
         |  CAST(COALESCE(p.n_rel_in_k, 0) AS BIGINT) AS n_rel_in_k,
         |  ROUND(COALESCE(list_sum(list_transform(range(1, len(p.ranks) + 1),
         |          ii -> ii::DOUBLE / p.ranks[ii]::DOUBLE)), 0.0)
         |        / i.n_rel::DOUBLE, 6) AS ap
         |FROM ideal i LEFT JOIN pq p USING (query_id)""".stripMargin,
      planNote = Some("1-row per-query relevant-total crossJoin (the AP denominator)"),
      widthPin = Some(1)),

    // reciprocal rank fusion of the BM25 lexical ranking (same query
    // terms as q_bm25) with a cosine-kNN semantic ranking for one query
    // vector — integer-ppm RRF, so the fused order has no float ordering
    // to pin across engines
    Entry("q_hybrid_rrf", (s, dir) => {
      val lex = graft.ops.Retrieval.rankByScore(
          graft.ops.TextAnalysis.bm25(
            table(s, dir, "documents"), "doc_id", "text",
            queryTerms = Seq("spark", "window", "dup"), topN = 50),
          "doc_id", "score")
        .select(col("doc_id"), col("rank"))
      val e = table(s, dir, "embeddings")
      val sem = graft.ops.Similarity.knnBruteForce(
          e, e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rn").as("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(lex, sem), "doc_id", "rank",
        k = 60, topN = 25)
    },
      // same BM25 chain as q_bm25 (ranked on the ROUNDED score) fused
      // with a single-query cosine ranking via integer-ppm RRF
      s"""$docToks, t AS (
         |  SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM d
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), st AS (
         |  SELECT COUNT(*)::BIGINT AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM t
         |), tf AS (
         |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM (
         |    SELECT doc_id, dl, unnest(toks) AS term FROM t)
         |  WHERE term IN ('spark', 'window', 'dup') GROUP BY 1, 2, 3
         |), dfq AS (
         |  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
         |), p AS (
         |  SELECT doc_id, list_sort(list(struct_pack(term := tf.term, part :=
         |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |    ((tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (total_dl / n_docs)))))
         |  ))) AS arr
         |  FROM tf JOIN dfq USING (term) CROSS JOIN st GROUP BY 1
         |), bm AS (
         |  SELECT doc_id, ROUND(list_sum(list_transform(arr, s -> s.part)), 6) AS score
         |  FROM p ORDER BY score DESC, doc_id LIMIT 50
         |), lex AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm
         |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
         |      WHERE vec_id <> 0),
         |sims AS (
         |  SELECT neighbor_id, ${duckCosine("qv", "cv")} AS sim FROM c, q
         |), sem AS (
         |  SELECT neighbor_id AS doc_id,
         |         ROW_NUMBER() OVER (ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM sims QUALIFY rank <= 50
         |), contrib AS (
         |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM lex
         |  UNION ALL
         |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM sem
         |)
         |SELECT doc_id, COUNT(*)::BIGINT AS n_lists, CAST(SUM(c) AS BIGINT) AS rrf_ppm
         |FROM contrib GROUP BY 1 ORDER BY rrf_ppm DESC, doc_id LIMIT 25""".stripMargin,
      // the fusion budget includes its tiny-frame (≤|lists|-row) exchanges
      shufflePin = Some(8),
      planNote = Some("1-row query-vector broadcast (kNN leg) + 1-row corpus-total crossJoin (BM25 leg); fusion itself is union+agg, join-free"),
      widthPin = Some(1)),

    // token-budget fill: 4000 tokens split 2/1/1 across three sources,
    // hash-order prefix per source under a de-skewed two-level cumsum
    Entry("q_token_budget", (s, dir) =>
      graft.ops.Sampling.fillTokenBudget(
        table(s, dir, "documents")
          .withColumn("n_tokens",
            size(graft.ops.TextAnalysis.tokens(lower(col("text")))).cast("long")),
        "source", "doc_id", "n_tokens", budget = 4000L,
        Map("src0" -> 2, "src1" -> 1, "src2" -> 1))
        .select(col("doc_id"), col("source"), col("n_tokens")),
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        x -> x <> '')) AS n_tokens,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
        |                WHEN 'src2' THEN 1 END AS w
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IN ('src0', 'src1', 'src2')
        |), t AS (
        |  SELECT *, md5(doc_id::VARCHAR) AS h FROM d WHERE n_tokens > 0
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum,
        |    w * 4000 // 4 AS quota
        |  FROM t
        |)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM c WHERE cum <= quota""".stripMargin,
      // r10 pin: token_budget is the per-doc token agg + source roll-up +
      // cum-window on the bounded per-source frame (re-measured isolated,
      // PERF.md r10)
      shufflePin = Some(3)),

    // per-source epoch repetition (2.5x / 1x / 0.5x), partial epoch by
    // hash-bucket membership — the upsampling half of mixture building
    Entry("q_epochs", (s, dir) =>
      graft.ops.Sampling.epochRepeat(
        table(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 25000, "src1" -> 10000, "src2" -> 5000))
        .select(col("doc_id"), col("source"), col("epoch")),
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 10000
        |                WHEN 'src2' THEN 5000 END AS bp,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS b
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IN ('src0', 'src1', 'src2')
        |), e AS (
        |  SELECT doc_id, source,
        |    bp // 10000 + CASE WHEN b < bp % 10000 THEN 1 ELSE 0 END AS ne
        |  FROM d
        |)
        |SELECT doc_id, source, unnest(range(0, ne)) AS epoch
        |FROM e WHERE ne > 0""".stripMargin),

    // one-pass column profiling (completeness / cardinality / range)
    Entry("q_profile", (s, dir) =>
      graft.ops.Profile.profile(table(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars")),
      Seq("doc_id", "lang", "source", "n_chars").map(c =>
s"""SELECT '$c' AS "column", COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
|  COUNT(DISTINCT $c) AS n_distinct,
|  MIN($c)::VARCHAR AS min_value, MAX($c)::VARCHAR AS max_value
|FROM documents""".stripMargin).mkString("\nUNION ALL\n")),

    // declarative constraint audit: every check folds into ONE agg pass
    // (one scan at any table size); thresholds picked to exercise both
    // outcomes (bounds lo=50 and the lang domain sans 'zh' fail)
    Entry("q_dq_audit", (s, dir) =>
      graft.ops.Quality.audit(table(s, dir, "documents"), Seq(
        graft.ops.Quality.Completeness("doc_id"),
        graft.ops.Quality.Completeness("lang"),
        graft.ops.Quality.Uniqueness("doc_id"),
        graft.ops.Quality.Bounds("n_chars", 50, 1000),
        graft.ops.Quality.AcceptedValues("lang", Seq("en", "de", "es", "fr"), 0.9))),
      """SELECT 'completeness' AS "check", 'doc_id' AS "column",
        |  ROUND(COUNT(doc_id) / COUNT(*), 6) AS metric, 1.0 AS threshold,
        |  (COUNT(doc_id) / COUNT(*)) >= 1.0 AS passed FROM documents
        |UNION ALL
        |SELECT 'completeness', 'lang',
        |  ROUND(COUNT(lang) / COUNT(*), 6), 1.0,
        |  (COUNT(lang) / COUNT(*)) >= 1.0 FROM documents
        |UNION ALL
        |SELECT 'uniqueness', 'doc_id',
        |  ROUND(COUNT(DISTINCT doc_id) / COUNT(doc_id), 6), 1.0,
        |  (COUNT(DISTINCT doc_id) / COUNT(doc_id)) >= 1.0 FROM documents
        |UNION ALL
        |SELECT 'bounds', 'n_chars',
        |  ROUND(COUNT(CASE WHEN n_chars >= 50 AND n_chars <= 1000 THEN 1 END)
        |    / COUNT(n_chars), 6), 1.0,
        |  (COUNT(CASE WHEN n_chars >= 50 AND n_chars <= 1000 THEN 1 END)
        |    / COUNT(n_chars)) >= 1.0 FROM documents
        |UNION ALL
        |SELECT 'accepted_values', 'lang',
        |  ROUND(COUNT(CASE WHEN lang IN ('en','de','es','fr') THEN 1 END)
        |    / COUNT(lang), 6), 0.9,
        |  (COUNT(CASE WHEN lang IN ('en','de','es','fr') THEN 1 END)
        |    / COUNT(lang)) >= 0.9 FROM documents""".stripMargin),

    Entry("q_knn", (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.ops.Similarity.knnBruteForce(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
    },
      knnSql,
      planNote = Some("brute-force kNN baseline (scale twins q_knn_ivf/q_knn_pq are audited)"),
      widthPin = Some(1)),

    // MMR diverse top-4 over each query's brute top-8 candidates
    // (λ=0.7): relevance minus max-sim-to-selected, greedy unrolled —
    // diversity-aware example selection
    Entry("q_mmr_select", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val knn = graft.ops.Similarity.knnBruteForce(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 8)
      val cands = knn.join(
        e.select(col("vec_id").as("neighbor_id"), col("embedding")),
        "neighbor_id")
      graft.ops.Similarity.mmrSelect(cands, "query_id", "neighbor_id",
        "sim", "embedding", k = 4, lambda = 0.7)
    },
      // MMR: the same brute top-8 spine, then the 4 greedy selection
      // steps unrolled — argmax over (score, -id) structs, in-order dot
      // folds with pre-materialized norms, (1.0 - 0.7) stated as the
      // expression so both engines land on the identical double
      {
        def dot(a: String, b: String) =
          s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]))"
        def chosenField(f: String) =
          s"list_filter(cands, c -> c.id = -best.negid)[1].$f"
        val steps = (2 to 4).map { t =>
          s"""b$t AS (
             |  SELECT q, cands, sel,
             |    list_sort(list_transform(
             |      list_filter(cands, c -> NOT list_contains(
             |        list_transform(sel, s -> s.id), c.id)),
             |      c -> struct_pack(
             |        score := 0.7 * c.rel - (1.0 - 0.7) *
             |          list_max(list_transform(sel, s ->
             |            ${dot("c.v", "s.v")} / (c.n * s.n))),
             |        negid := -c.id)))[-1] AS best
             |  FROM s${t - 1}
             |), s$t AS (
             |  SELECT q, cands, list_concat(sel, [struct_pack(
             |      id := ${chosenField("id")},
             |      rel := ${chosenField("rel")},
             |      v := ${chosenField("v")},
             |      n := ${chosenField("n")},
             |      score := best.score)]) AS sel
             |  FROM b$t
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH qs AS (
           |  SELECT vec_id AS qid, list_transform(embedding, x -> x::DOUBLE) AS qv,
           |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS qn
           |  FROM embeddings WHERE vec_id < 10
           |), cs AS (
           |  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv,
           |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS cn
           |  FROM embeddings
           |), p AS (
           |  SELECT qid, cid, cv, cn, ${dot("qv", "cv")} / (qn * cn) AS sim
           |  FROM qs, cs WHERE qid <> cid
           |), r AS (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, cid) AS BIGINT) AS rn
           |  FROM p
           |), knn AS (
           |  SELECT qid, cid, ROUND(sim, 6) AS rel, cv, cn FROM r WHERE rn <= 8
           |), packed AS (
           |  SELECT qid AS q, list(struct_pack(id := cid, rel := rel,
           |    v := cv, n := cn)) AS cands
           |  FROM knn GROUP BY 1 HAVING COUNT(*) >= 4
           |), b1 AS (
           |  SELECT q, cands,
           |    list_sort(list_transform(cands, c ->
           |      struct_pack(score := c.rel, negid := -c.id)))[-1] AS best
           |  FROM packed
           |), s1 AS (
           |  SELECT q, cands, [struct_pack(
           |      id := ${chosenField("id")},
           |      rel := ${chosenField("rel")},
           |      v := ${chosenField("v")},
           |      n := ${chosenField("n")},
           |      score := best.score)] AS sel
           |  FROM b1
           |), $steps, ix AS (
           |  SELECT unnest(range(1, 5)) AS i
           |)
           |SELECT q AS query_id, CAST(i AS BIGINT) AS rn,
           |  sel[i].id AS neighbor_id, ROUND(sel[i].score, 6) AS mmr_score
           |FROM s4 CROSS JOIN ix""".stripMargin
      },
      // mmr = the brute-kNN candidate frame + one per-query pack agg;
      // the k greedy steps are per-row array expressions (barriered)
      shufflePin = Some(2),
      planNote = Some("brute-force kNN candidate generation (broadcast 10-query side — the q_knn baseline); the MMR steps themselves are per-row array math"),
      widthPin = Some(1)),

    // int8 scalar-quantization audit: per-vector scale, exact squared
    // error and orig<->recon cosine ppm — wholly map-side
    Entry("q_quant_int8", (s, dir) =>
      graft.ops.Similarity.quantizeInt8Audit(
        table(s, dir, "embeddings"), "vec_id", "embedding"),
      // same quantize->reconstruct trees: round() on integral halves is
      // away-from-zero in both engines, fold sums ride list order, sqrt
      // is correctly rounded — so sq_err/cos ride raw, no rounding knob
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |), s AS (
        |  SELECT vec_id, x,
        |    COALESCE(list_max(list_transform(x, v -> abs(v))), 0.0) AS scale
        |  FROM e
        |), r AS (
        |  SELECT vec_id, x, scale,
        |    list_transform(x, v -> CASE WHEN scale = 0.0 THEN 0.0
        |      ELSE round(v * 127.0 / scale) * scale / 127.0 END) AS rc
        |  FROM s
        |)
        |SELECT vec_id, len(x)::BIGINT AS dim, scale,
        |  -- COALESCE: list_sum over an empty vector is NULL in DuckDB
        |  -- where Spark's aggregate folds to its 0.0 init
        |  COALESCE(list_sum(list_transform(range(1, len(x) + 1),
        |    i -> (x[i] - rc[i]) * (x[i] - rc[i]))), 0.0) AS sq_err,
        |  CASE WHEN scale = 0.0 THEN 1000000
        |    ELSE CAST(FLOOR(
        |      list_sum(list_transform(range(1, len(x) + 1), i -> x[i] * rc[i]))
        |      / (sqrt(list_sum(list_transform(x, v -> v * v)))
        |         * sqrt(list_sum(list_transform(rc, v -> v * v))))
        |      * 1000000.0) AS BIGINT) END AS cos_ppm
        |FROM r""".stripMargin,
      // quantization audit is per-row vector math: nothing may shuffle
      shufflePin = Some(0)),

    // IVF with nprobe = nlist probes every list — exhaustive by
    // construction, so it must hash-match the brute-force oracle; the
    // approximate regime (nprobe << nlist) is recall-tested in
    // SimilaritySpec
    Entry("q_knn_ivf", (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.ops.Similarity.knnIvf(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 16)
    },
      // nprobe = nlist: exhaustive == brute force
      knnSql,
      // IVF twin = codebook-broadcast assign + probe-cell equi-join
      shufflePin = Some(2),
      widthPin = Some(1)),

    // PQ ANN with rerank wide enough to cover the sf0.01 corpus: the
    // exact re-rank then reproduces brute force by construction, which
    // pins the 8-byte-code candidate path + exact re-scoring against
    // the same oracle (realistic rerank recall is measured in
    // SimilaritySpec, same discipline as q_knn_ivf's full probe)
    Entry("q_knn_pq", (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.ops.Similarity.knnPq(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 10, m = 8, kCent = 16, rerank = 200)
    },
      // rerank >= corpus: exact re-rank == brute force
      knnSql,
      planNote = Some("m x kCent codebook crossJoin (128 rows, constant)")),

    Entry("q_knn_topk_agg", (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.ops.Similarity.topKPerQuery(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
    },
      knnSql,
      planNote = Some("brute-force scoring with bounded-heap agg; pins the heap against the window plan")),

    // kNN label-noise audit: neighborhood vote vs own label over the
    // labeled embeddings — the mislabel-detection queue
    Entry("q_knn_label_noise", (s, dir) =>
      graft.ops.Similarity.labelNoise(
        table(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 10),
      // the knnSql ranking (all labeled queries) + neighbor-label vote
      labelNoiseSql,
      heavy = true,
      shufflePin = Some(3),
      planNote = Some("brute all-pairs scoring through the bounded heap (k rows/query reach the shuffle); scale path routes candidates through knnIvf cells like hardNegatives"),
      widthPin = Some(1)),

    // margin-based bitext mining between the even/odd halves of the
    // embedding space (the two-"language" surrogate): ratio margin over
    // top-4 neighborhoods, mutual top-1, margin >= 1.06
    Entry("q_bitext_mine", (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.ops.Similarity.bitextMine(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4)
    },
      bitextMineSql,
      heavy = true,
      planNote = Some("exact cross-corpus scoring regime (the oracle baseline); at scale candidates come from knnIvf/signBuckets banding per side, same margin + mutual-top-1 tail"),
      widthPin = Some(1)),

    // IVF scale twin, probing every list: exhaustive == exact, so it
    // must hash-match q_bitext_mine's oracle (the q_knn_ivf discipline);
    // the approximate nprobe < nlist regime is recall-tested in
    // SimilaritySpec
    Entry("q_bitext_mine_ivf", (s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.ops.Similarity.bitextMineIvf(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, nlist = 16, nprobe = 16)
    },
      // sorted-fold neighborhood means (bit-identical across engines),
      // ppm-integerized margins BEFORE ranking, id tie-breaks everywhere;
      // the _ivf twin probes every list (exhaustive == exact) so both
      // plans must hash-match the one oracle
      bitextMineSql,
      // IVF twin = codebook-broadcast assign + probe-cell equi-join +
      // per-side margin frames; the +8 is its fwd/bwd ivfTopK lineages
      // re-planned by the margin tail (identical exchanges dedupe at execution
      // via ReuseExchange)
      shufflePin = Some(25),
      widthPin = Some(2)),

    // IVF scale twin of the label-noise audit, same exhaustive gating
    Entry("q_knn_label_noise_ivf", (s, dir) =>
      graft.ops.Similarity.labelNoiseApprox(
        table(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 10,
        nlist = 16, nprobe = 16),
      labelNoiseSql,
      // IVF twin = codebook-broadcast assign + probe-cell equi-join
      shufflePin = Some(4),
      widthPin = Some(1)),

    // exact all-pairs baseline (kept behind exact=true; O(n²) by design)
    Entry("q_embed_dup", (s, dir) =>
      graft.ops.Similarity.nearDupCosine(
        table(s, dir, "embeddings"), "vec_id", "embedding", tau = 0.45,
        exact = true),
      s"""WITH p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |)
         |SELECT a_id, b_id, ROUND(sim, 6) AS sim FROM p WHERE sim >= 0.45""".stripMargin,
      heavy = true,
      planNote = Some("exact=true all-pairs oracle baseline (banded twin q_embed_dup_lsh is audited)"),
      widthPin = Some(1)),

    // SemDeDup drop list: cosine components, keep min-id representative
    // (exact pair baseline here; production passes exact=false per cell)
    Entry("q_semdedup", (s, dir) =>
      graft.ops.Similarity.semDedupDrops(
        table(s, dir, "embeddings"), "vec_id", "embedding", tau = 0.45,
        exact = true),
      s"""WITH RECURSIVE p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |), pr AS (
         |  SELECT a_id, b_id FROM p WHERE sim >= 0.45
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pr
         |  UNION
         |  SELECT b_id, a_id FROM pr
         |), reach(node, root) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
         |), cl AS (
         |  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1
         |)
         |SELECT doc_id AS dropped_id, cluster_id AS rep_id
         |FROM cl WHERE doc_id <> cluster_id""".stripMargin,
      heavy = true,
      widthPin = Some(1)),

    // banded SemDeDup scale path: sign-LSH candidate pairs + exact cosine
    // verification feeding the SAME connected-components + min-id-rep
    // contract — hash-equal to q_semdedup's recursive-CTE oracle. This is
    // the regime that ships at 100 TB (the exact=true twin above is the
    // O(n²) oracle baseline); pairing mirrors q_embed_dup/q_embed_dup_lsh.
    Entry("q_semdedup_lsh", (s, dir) =>
      graft.ops.Similarity.semDedupDrops(
        table(s, dir, "embeddings"), "vec_id", "embedding", tau = 0.45,
        allowLowTau = true),
      s"""WITH RECURSIVE p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |), pr AS (
         |  SELECT a_id, b_id FROM p WHERE sim >= 0.45
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pr
         |  UNION
         |  SELECT b_id, a_id FROM pr
         |), reach(node, root) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
         |), cl AS (
         |  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1
         |)
         |SELECT doc_id AS dropped_id, cluster_id AS rep_id
         |FROM cl WHERE doc_id <> cluster_id""".stripMargin,
      heavy = true,
      // the CC iteration runs at frame-construction time, so the plan is
      // cache-truncated leaves (er_clusters precedent)
      shufflePin = Some(0),
      widthPin = Some(1)),

    // PRODUCTION-regime SemDeDup (r8 verdict #3): τ=0.9, 8 bands × 8
    // bits (the 64-plane packed-signature layout) — the config a 100 TB
    // run ships: a random pair collides in ~3% of bands, so bucket
    // size, not corpus size, bounds the join. The driver corpus
    // has no pair above cosine 0.7, so the entry plants deterministic
    // high-τ twins: every 10th vector gets a 0.5-SCALED copy. Power-of-
    // two scaling is exact in IEEE arithmetic end to end (products,
    // fold partial sums, sqrt all commute with 2^-1), so the twin's
    // cosine equals the original's self-cosine tree ≈ 1.0 bit-for-bit
    // on BOTH engines, and its sign-LSH signature is bit-identical to
    // the original's → the banded path finds every planted pair
    // deterministically, at any scale, while random pairs stay <0.7.
    Entry("q_semdedup_prod", (s, dir) => {
      val e = table(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val twins = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
      graft.ops.Similarity.semDedupDrops(
        e.unionAll(twins), "vec_id", "embedding",
        tau = 0.9, nPlanes = 64, bandBits = 8)
    },
      // same reachability contract at the production τ=0.9 over the
      // twin-planted corpus; x::DOUBLE * 0.5 lands on the exact value
      // Spark's float 0.5f*x casts to (power-of-two scaling is exact)
      s"""WITH RECURSIVE base AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         |), corpus AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
         |  FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE * 0.5)
         |  FROM base WHERE vec_id % 10 = 0
         |), p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |), pr AS (
         |  SELECT a_id, b_id FROM p WHERE sim >= 0.9
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pr
         |  UNION
         |  SELECT b_id, a_id FROM pr
         |), reach(node, root) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
         |), cl AS (
         |  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1
         |)
         |SELECT doc_id AS dropped_id, cluster_id AS rep_id
         |FROM cl WHERE doc_id <> cluster_id""".stripMargin,
      // the CC iteration runs at frame-construction time, so the plan is
      // cache-truncated leaves (er_clusters precedent)
      shufflePin = Some(0),
      widthPin = Some(1)),

    // fixed-centroid cluster assignment: pure map-side argmax-cosine over
    // the pinned centroid constant (cluster-balanced curation's building
    // block); 0 shuffles by construction
    Entry("q_kmeans_assign", (s, dir) =>
      graft.ops.Similarity.assignToCentroids(
        table(s, dir, "embeddings"), "vec_id", "embedding", kmeansCentroids),
      // banded SemDeDup answers the SAME exact reachability query as
      // q_semdedup (per-pair LSH miss probability < 1e-7 at this config)
      // same centroid VALUES as the Spark constant (shortest-round-trip
      // literals); in-order left-fold dot products (duckCosine discipline),
      // list_position argmax with ties to the lower index
      {
        val cents = kmeansCentroids.map(_.map(x => java.lang.Double.toString(x)))
        val norms = kmeansCentroids.map(c =>
          java.lang.Double.toString(math.sqrt(c.map(x => x * x).sum)))
        val sims = cents.zip(norms).map { case (c, cn) =>
          val lit = c.mkString("[", ", ", "]")
          s"list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * ($lit)[i])) / (vn * $cn)"
        }.mkString("[", ",\n       ", "]")
        s"""WITH v AS (
           |  SELECT vec_id, embedding,
           |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS vn
           |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
           |), s AS (
           |  SELECT vec_id, $sims AS sims FROM v
           |)
           |SELECT vec_id,
           |  CAST(list_position(sims, list_max(sims)) - 1 AS BIGINT) AS cluster,
           |  ROUND(list_max(sims), 6) AS sim
           |FROM s""".stripMargin
      }),

    // banded scale path: sign-LSH candidates + exact cosine verification
    // — same oracle, plan has no CartesianProduct. tau=0.45 is below the
    // pruning regime (see nearDupCosine's guard), so the low-tau opt-in is
    // explicit: this entry deliberately measures the all-pairs-volume
    // plan SHAPE, not a pruned candidate set. Heavy-oracle tier (r10
    // verdict #2): its headline production twin is q_embed_dup_prod.
    Entry("q_embed_dup_lsh", (s, dir) =>
      graft.ops.Similarity.nearDupCosine(
        table(s, dir, "embeddings"), "vec_id", "embedding", tau = 0.45,
        allowLowTau = true),
      // the banded path answers the SAME exact query (recall: per-pair
      // miss probability < 1e-7 at tau=0.45 with 32 bands x 2 bits)
      s"""WITH p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |)
         |SELECT a_id, b_id, ROUND(sim, 6) AS sim FROM p WHERE sim >= 0.45""".stripMargin,
      heavy = true,
      // the embed-dup plan is cache-truncated at the pair store
      shufflePin = Some(2),
      widthPin = Some(1)),

    // PRODUCTION-regime near-dup pairs (r10 verdict #2): τ=0.9, 8 bands
    // × 8 bits — the config where banding genuinely prunes (a random
    // pair collides in ~3% of bands; bucket size, not corpus size,
    // bounds the join). Same deterministic twin-planting as
    // q_semdedup_prod: every 10th vector gets a 0.5-scaled copy
    // (power-of-two scaling is IEEE-exact end to end, so the planted
    // pair's cosine and sign-LSH signature match bit-for-bit on both
    // engines), while no natural pair exceeds cosine 0.7.
    Entry("q_embed_dup_prod", (s, dir) => {
      val e = table(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val twins = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
      graft.ops.Similarity.nearDupCosine(
        e.unionAll(twins), "vec_id", "embedding",
        tau = 0.9, nPlanes = 64, bandBits = 8)
    },
      // production-regime near-dup pairs: exact all-pairs at τ=0.9 over
      // the same twin-planted corpus the Spark entry builds; banding only
      // sets recall (≥1−1e-7 per pair at this config), so the answers match
      s"""WITH base AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         |), corpus AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
         |  FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE * 0.5)
         |  FROM base WHERE vec_id % 10 = 0
         |), p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |)
         |SELECT a_id, b_id, ROUND(sim, 6) AS sim FROM p WHERE sim >= 0.9""".stripMargin,
      // the embed-dup plan is cache-truncated at the pair store
      shufflePin = Some(2),
      widthPin = Some(1)),

    // the CORPUS-SCALE near-dup twin (r13 fair-100x finding: fixed
    // banding's random-collision rate is corpus-size-independent, so
    // candidates grow n^2 x const; IVF cells give Σ|cell|^2 ~ n^2/nlist
    // with nlist scaling) — same corpus, same exact all-pairs oracle
    Entry("q_embed_dup_ivf", (s, dir) => {
      val e = table(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val twins = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
      graft.ops.Similarity.nearDupIvf(
        e.unionAll(twins), "vec_id", "embedding",
        tau = 0.9, nlist = 16, nprobe = 2)
    },
      // IVF-routed twin: identical exact all-pairs oracle — cell routing
      // only sets recall (scale-invariant twins share cells by
      // construction; multi-probe covers borderline natural pairs)
      s"""WITH base AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         |), corpus AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
         |  FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE * 0.5)
         |  FROM base WHERE vec_id % 10 = 0
         |), p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |)
         |SELECT a_id, b_id, ROUND(sim, 6) AS sim FROM p WHERE sim >= 0.9""".stripMargin,
      // embed_dup_ivf = cell equi-join + pair distinct + the two vector
      // fetch joins (assignment is one map-side kernel)
      shufflePin = Some(3),
      widthPin = Some(1)),

    // PII scrubbing parity: the corpus has no natural PII, so each doc
    // gets a deterministic contact block appended (id-derived email /
    // URL / IP / phone), then masked — both engines run the SAME
    // lookaround-free patterns and must produce identical text
    Entry("q_pii_scrub", (s, dir) => {
      val withPii = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com via "),
        lit("https://t.example/u/"), col("doc_id"),
        lit(" ip 10.1."), pmod(col("doc_id"), lit(256L)), lit(".7"),
        lit(" tel +1415555"), lpad(col("doc_id").cast("string"), 4, "0"))
      table(s, dir, "documents").select(
        col("doc_id"),
        md5(graft.ops.TextAnalysis.scrubPii(withPii).cast("binary")).as("scrubbed_md5"),
        md5(graft.ops.TextAnalysis.normalizeText(col("text")).cast("binary")).as("normalized_md5"))
    },
      {
        val piiText =
          """text || ' contact user' || doc_id || '@mail.example.com via ' ||
            |'https://t.example/u/' || doc_id || ' ip 10.1.' ||
            |((doc_id % 256) + 256) % 256 || '.7 tel +1415555' ||
            |lpad(CAST(doc_id AS VARCHAR), 4, '0')""".stripMargin
        val scrubbed = graft.ops.TextAnalysis.PiiPatterns.foldLeft(s"($piiText)") {
          case (expr, (pat, repl)) =>
            // single-quoted SQL string: escape backslashes stay as-is (DuckDB
            // strings are not escape-processed), quotes doubled
            s"regexp_replace($expr, '${pat.replace("'", "''")}', '$repl', 'g')"
        }
        s"""SELECT doc_id,
           |  md5($scrubbed) AS scrubbed_md5,
           |  md5(trim(regexp_replace(regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
           |      '\\s+', ' ', 'g'))) AS normalized_md5
           |FROM documents""".stripMargin
      }),

    // PII audit: per-kind span counts on synthetically contaminated text
    // (deterministic doc_id-modulo injection so densities vary per doc)
    Entry("q_pii_density", (s, dir) => {
      val withPii = concat(col("text"),
        when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit(" user"), col("doc_id"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          concat(lit(" https://t.example/u/"), col("doc_id")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5L)) === 0,
          concat(lit(" 10.1."), pmod(col("doc_id"), lit(256L)), lit(".7")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7L)) === 0,
          concat(lit(" +1415555"), lpad(col("doc_id").cast("string"), 4, "0")))
          .otherwise(lit("")))
      graft.ops.TextAnalysis.piiDensity(
        table(s, dir, "documents").withColumn("text", withPii),
        "doc_id", "text")
    },
      {
        val piiText =
          """text
            | || CASE WHEN doc_id % 2 = 0
            |    THEN ' user' || doc_id || '@mail.example.com' ELSE '' END
            | || CASE WHEN doc_id % 3 = 0
            |    THEN ' https://t.example/u/' || doc_id ELSE '' END
            | || CASE WHEN doc_id % 5 = 0
            |    THEN ' 10.1.' || doc_id % 256 || '.7' ELSE '' END
            | || CASE WHEN doc_id % 7 = 0
            |    THEN ' +1415555' || lpad(CAST(doc_id AS VARCHAR), 4, '0') ELSE '' END"""
            .stripMargin.replace("\n", "")
        // one CTE stage per pattern: count on the current text, then
        // scrub it for the next stage — same sequential attribution as
        // TextAnalysis.piiDensity
        val ctes = new StringBuilder(
          s"WITH t0 AS (\n  SELECT doc_id, ($piiText) AS cur FROM documents\n" +
            "  WHERE doc_id IS NOT NULL AND text IS NOT NULL\n)")
        var carried = Seq.empty[String]
        graft.ops.TextAnalysis.PiiPatterns
          .zip(graft.ops.TextAnalysis.PiiCountNames).zipWithIndex
          .foreach { case (((pat, repl), name), i) =>
            val p = pat.replace("'", "''")
            val keep = if (carried.isEmpty) "" else carried.mkString(", ", ", ", "")
            ctes.append(
              s""", t${i + 1} AS (
                 |  SELECT doc_id$keep,
                 |    len(regexp_extract_all(cur, '$p')) AS $name,
                 |    regexp_replace(cur, '$p', '$repl', 'g') AS cur
                 |  FROM t$i
                 |)""".stripMargin)
            carried = carried :+ name
          }
        val names = graft.ops.TextAnalysis.PiiCountNames
        ctes.append(
          s"""
             |SELECT doc_id, ${names.map(n => s"CAST($n AS BIGINT) AS $n").mkString(", ")},
             |  CAST(${names.mkString(" + ")} AS BIGINT) AS n_pii
             |FROM t${names.size}""".stripMargin)
        ctes.toString
      }),

    // corpus datasheet: per (lang, source) docs, token mass, share
    Entry("q_composition", (s, dir) =>
      graft.ops.TextAnalysis.corpusComposition(
        table(s, dir, "documents"), "text", "lang", "source"),
      """WITH ds AS (
        |  SELECT lang, source,
        |         list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |         CAST(COALESCE(SUM(len(toks)), 0) AS BIGINT) AS n_tokens
        |  FROM ds GROUP BY 1, 2
        |), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM c)
        |SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
        |  CAST(n_tokens * 1000000 // (SELECT t FROM tot) AS BIGINT)
        |    AS token_share_ppm
        |FROM c""".stripMargin,
      planNote = Some("1-row corpus-total crossJoin for share-of-corpus")),

    Entry("q_langid", (s, dir) =>
      table(s, dir, "documents")
        .withColumn("predicted", graft.ops.TextAnalysis.languageId(col("text")))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n")),
      s"""$docToks, sc AS (
         |  SELECT lang,
         |    list_contains(toks,'the')::INT + list_contains(toks,'and')::INT
         |      + list_contains(toks,'of')::INT + list_contains(toks,'is')::INT AS s_en,
         |    list_contains(toks,'der')::INT + list_contains(toks,'die')::INT
         |      + list_contains(toks,'das')::INT + list_contains(toks,'und')::INT AS s_de,
         |    list_contains(toks,'el')::INT + list_contains(toks,'los')::INT
         |      + list_contains(toks,'que')::INT + list_contains(toks,'y')::INT AS s_es,
         |    list_contains(toks,'le')::INT + list_contains(toks,'les')::INT
         |      + list_contains(toks,'des')::INT + list_contains(toks,'est')::INT AS s_fr
         |  FROM d
         |), pr AS (
         |  SELECT lang, CASE
         |    WHEN s_en >= greatest(s_en, s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
         |    WHEN s_de >= greatest(s_en, s_de, s_es, s_fr) AND s_de > 0 THEN 'de'
         |    WHEN s_es >= greatest(s_en, s_de, s_es, s_fr) AND s_es > 0 THEN 'es'
         |    WHEN s_fr >= greatest(s_en, s_de, s_es, s_fr) AND s_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS predicted
         |  FROM sc
         |)
         |SELECT lang, predicted, COUNT(*) AS n FROM pr GROUP BY 1, 2""".stripMargin),

    // JSON column ops over events.props: path extraction (codegen'd
    // get_json_object) and schema-on-read (from_json struct)
    Entry("q_json_extract", (s, dir) =>
      table(s, dir, "events")
        .na.drop(Seq("event_id", "props"))
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k_struct")),
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_path,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_struct
        |FROM events
        |WHERE event_id IS NOT NULL AND props IS NOT NULL""".stripMargin),

    Entry("q_token_counts", (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"),
        graft.ops.TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("bpeish_tokens")),
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+', 0)) AS ws_tokens,
        |  len(regexp_extract_all(text,
        |      '''[a-zA-Z]+|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+', 0)) AS bpeish_tokens
        |FROM documents""".stripMargin,
      shufflePin = Some(0)),

    // exact merge-table BPE (vs bpeish's regex proxy above): the merge
    // table is the pinned constant `bpeMerges` (trained offline by
    // graft.BpeTrain on this corpus); the oracle SQL below is GENERATED
    // from the same constant, so Spark and DuckDB run the identical
    // nested-replace chain
    Entry("q_bpe_tokens", (s, dir) =>
      graft.ops.Bpe.tokenCounts(
        table(s, dir, "documents"), "doc_id", "text", bpeMerges),
      // generated from the SAME bpeMerges constant as the Spark entry: the
      // identical normalize → bracket-units → nested-replace chain, counts
      // derived from bracket arithmetic (see graft.ops.Bpe scaladoc)
      {
        val enc = graft.ops.Bpe.encodeSql("text", bpeMerges)
        val norm = "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), " +
          "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
        s"""SELECT doc_id,
           |  CAST(length(e) - length(replace(e, '<', ''))
           |    - (length(e) - length(replace(e, '< >', ''))) / 3 AS BIGINT) AS n_tokens,
           |  CAST(length(replace(nm, ' ', '')) AS BIGINT) AS n_chars
           |FROM (SELECT doc_id, $enc AS e, $norm AS nm FROM documents)""".stripMargin
      },
      shufflePin = Some(0)),

    // model-based quality gate: hashed linear classifier, integer-ppm
    // weights generated by the Knuth-multiplier formula below — the
    // oracle inlines the SAME formula, so no weight literal ships in SQL
    Entry("q_quality_model", (s, dir) =>
      graft.ops.TextAnalysis.linearQualityScore(
        table(s, dir, "documents"), "doc_id", "text",
        qualityWeightsPpm, biasPpm = 250000L),
      // hashed linear classifier: same md5-prefix bucket as the Spark side,
      // same Knuth-multiplier ppm-weight formula, BIGINT token sum (exactly
      // order-independent), sigmoid only at the end
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, len(toks) AS n,
        |    coalesce(list_sum(list_transform(toks, t ->
        |      ((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) * 2654435761)
        |        % 2000001 - 1000000)), 0) AS sp
        |  FROM d
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(sp AS BIGINT) AS sum_ppm,
        |  ROUND(1.0 / (1.0 + exp(-(0.25 +
        |    CASE WHEN n > 0 THEN sp / (n * 1000000.0) ELSE 0.0 END))), 6) AS score
        |FROM s""".stripMargin),

    // token-budget fill billed in EXACT BPE tokens (the composition a
    // training-data pipeline runs): counts are computed map-side inline
    // (no join back), then the skew-proof two-level cumsum selects docs
    Entry("q_bpe_budget", (s, dir) => {
      import graft.ops.Bpe
      // cache the counted frame: the budget fill scans it twice (bucket
      // sums + final selection) and Spark does not CSE a projection across
      // shuffle branches — without this the 48-replace BPE chain runs per
      // branch (measured 15 s vs ~2 s at sf0.1)
      val counted = table(s, dir, "documents").select(
        col("doc_id"), col("source"),
        Bpe.countUnits(Bpe.applyMerges(Bpe.toUnits(
          Bpe.normalize(coalesce(col("text"), lit("")))), bpeMerges))
          .as("n_tokens")).cache()
      graft.ops.Sampling.fillTokenBudget(counted, "source", "doc_id",
        "n_tokens", budget = 4000L, Map("src0" -> 2, "src1" -> 1, "src2" -> 1))
        .select(col("doc_id"), col("source"), col("n_tokens"))
    },
      // q_token_budget's selection machinery over EXACT BPE counts — the
      // count expression is generated from the same bpeMerges constant
      {
        val enc = graft.ops.Bpe.encodeSql("text", bpeMerges)
        s"""WITH b AS (
           |  SELECT doc_id, source, $enc AS e FROM documents
           |  WHERE doc_id IS NOT NULL AND source IN ('src0', 'src1', 'src2')
           |), d AS (
           |  SELECT doc_id, source,
           |    CAST(length(e) - length(replace(e, '<', ''))
           |      - (length(e) - length(replace(e, '< >', ''))) / 3 AS BIGINT) AS n_tokens,
           |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
           |                WHEN 'src2' THEN 1 END AS w
           |  FROM b
           |), t AS (
           |  SELECT *, md5(doc_id::VARCHAR) AS h FROM d WHERE n_tokens > 0
           |), c AS (
           |  SELECT doc_id, source, n_tokens,
           |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
           |                        ROWS UNBOUNDED PRECEDING) AS cum,
           |    w * 4000 // 4 AS quota
           |  FROM t
           |)
           |SELECT doc_id, source, n_tokens FROM c WHERE cum <= quota""".stripMargin
      },
      shufflePin = Some(3)),

    Entry("q_text_quality", (s, dir) =>
      graft.ops.TextAnalysis.qualitySignals(
        table(s, dir, "documents").select("doc_id", "text"), col("text"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("quality_score"), 6).as("quality_score")),
      """WITH d AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(toks) AS n_tokens,
        |    greatest(len(toks), 1) AS safe,
        |    len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
        |    len(list_filter(toks, t -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','it'], t))) AS stop,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS nospace
        |  FROM d
        |)
        |SELECT doc_id, n_tokens,
        |  ROUND(punct / safe, 6) AS punct_ratio,
        |  ROUND(stop / safe, 6) AS stopword_ratio,
        |  ROUND(nospace / safe, 6) AS avg_token_len,
        |  ROUND(0.4 * least(1.0, n_tokens / 100.0)
        |      + 0.3 * (1.0 - least(1.0, (punct / safe) * 5.0))
        |      + 0.3 * least(1.0, (stop / safe) * 5.0), 6) AS quality_score
        |FROM m""".stripMargin),

    // as-of join: each purchase event enriched with the user's latest
    // click at-or-before it (inclusive, ties by max event_id)
    Entry("q_asof_join", (s, dir) => {
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts", "event_id")
    },
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
        |), j AS (
        |  SELECT p.event_id, p.user_id, p.ts,
        |         c.event_id AS asof_event_id, c.value AS asof_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |           ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
        |)
        |SELECT event_id, user_id, ts, asof_event_id, asof_value
        |FROM j WHERE rn = 1""".stripMargin,
      shufflePin = Some(1)),

    // bucketed range join: events within 1h after each error, per user
    Entry("q_range_join", (s, dir) => {
      val ev = table(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("error_ts"))
      val pts = ev.filter(col("event_type") =!= "error")
        .select("user_id", "event_id", "ts")
      graft.ops.RangeJoin.pointInInterval(pts, errors, Seq("user_id"),
        "ts", "error_ts", lengthSeconds = 3600L)
        .select("user_id", "event_id", "error_id")
    },
      """WITH err AS (
        |  SELECT user_id, event_id AS error_id, ts AS ets
        |  FROM events WHERE event_type = 'error'
        |), pts AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type <> 'error'
        |)
        |SELECT p.user_id, p.event_id, e.error_id
        |FROM pts p JOIN err e ON p.user_id = e.user_id
        |  AND FLOOR(epoch(p.ts)) >= FLOOR(epoch(e.ets))
        |  AND FLOOR(epoch(p.ts)) <= FLOOR(epoch(e.ets)) + 3600""".stripMargin),

    // batch sessionization over the events stream (30-min gap)
    Entry("q_sessions", (s, dir) =>
      graft.ops.Sessionize.sessions(
        table(s, dir, "events").na.drop(Seq("user_id", "ts")),
        "user_id", "ts", gapMinutes = 30)
        .select(col("user_id"), col("session_id"),
          col("session_start"), col("session_end"), col("plays"),
          round(col("duration_min"), 4).as("duration_min")),
      """WITH e AS (
        |  SELECT user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), lagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN FLOOR(epoch(ts)) - FLOOR(epoch(lag(ts) OVER w)) > 1800 THEN 1
        |         ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM lagged
        |)
        |SELECT user_id, session_id,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS plays,
        |  ROUND((FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts)))) / 60.0, 4) AS duration_min
        |FROM sess GROUP BY 1, 2""".stripMargin,
      shufflePin = Some(1)),

    // ---- serve stage: columnar key synthesis (SURVEY §2.8 F3, §7.1 m5) ----
    Entry("q_serve_items", (s, dir) =>
      graft.serve.KpiItems.genreDailyItems(
        KpiQueries.genreDailyMetrics(TestTables.enriched(s, dir)), ServeRunTs),
      s"""$oracleBase, daily AS (
         |  SELECT date_trunc('day', ts) AS date, track_genre,
         |    COUNT(track_id) AS listen_count,
         |    COUNT(DISTINCT user_id) AS unique_listeners,
         |    (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_time
         |  FROM enriched GROUP BY 1, 2
         |)
         |SELECT 'GENRE_DAILY_' || coalesce(track_genre, 'None') || '_'
         |         || strftime(date, '%Y-%m-%d %H:%M:%S') AS id,
         |  '$ServeRunTs' AS timestamp, 'genre_daily' AS kpi_type,
         |  strftime(date, '%Y-%m-%dT%H:%M:%S') AS date,
         |  track_genre AS genre,
         |  coalesce(listen_count, 0) AS listen_count,
         |  coalesce(unique_listeners, 0) AS unique_listeners,
         |  coalesce(total_time, 0.0) AS total_time
         |FROM daily""".stripMargin),

    Entry("q_serve_ids", (s, dir) => {
      import graft.serve.KpiItems._
      // one persisted enrichment pass feeds all five item branches
      // (without it the 3-table join would be recomputed per branch).
      // The persist is COLUMN-PRUNED to the 7 columns the five branches
      // actually read (guide §5/§6 — narrow persisted schema): the id
      // synthesis never touches track_name / artists / listening_time,
      // and persisting them billed the cache fill + every branch scan
      // for the two fattest string columns of the enrichment.
      val e = KpiQueries.persistEnriched(TestTables.enriched(s, dir)
        .select("user_id", "user_name", "user_country", "track_id",
          "track_genre", "duration_ms", "timestamp"))
      val idk = (df: DataFrame) => df.select("id", "kpi_type")
      idk(userItems(KpiQueries.userKpis(e), ServeRunTs))
        .unionAll(idk(genreDailyItems(KpiQueries.genreDailyMetrics(e), ServeRunTs)))
        .unionAll(idk(topSongsItems(KpiQueries.genreTopSongs(e), ServeRunTs)))
        .unionAll(idk(topGenresItems(KpiQueries.genreTopGenres(e), ServeRunTs)))
        .unionAll(idk(trendingItems(KpiQueries.trendingKpisBucketed(e), ServeRunTs)))
    },
      s"""$oracleBase, daily AS (
         |  SELECT date_trunc('day', ts) AS date, track_genre,
         |    COUNT(track_id) AS listen_count
         |  FROM enriched GROUP BY 1, 2
         |), plays AS (
         |  SELECT date_trunc('day', ts) AS date, track_genre, track_id,
         |         COUNT(*) AS play_count
         |  FROM enriched GROUP BY 1, 2, 3
         |), ranked_songs AS (
         |  SELECT *, DENSE_RANK() OVER (PARTITION BY date, track_genre
         |    ORDER BY play_count DESC) AS rnk FROM plays
         |), ranked_genres AS (
         |  SELECT *, DENSE_RANK() OVER (PARTITION BY date
         |    ORDER BY listen_count DESC) AS rnk FROM daily
         |), trend AS (
         |  SELECT DISTINCT track_id, track_genre FROM enriched
         |)
         |SELECT 'USER_' || user_id AS id, 'user' AS kpi_type
         |FROM (SELECT DISTINCT user_id FROM enriched)
         |UNION ALL
         |SELECT 'GENRE_DAILY_' || coalesce(track_genre, 'None') || '_'
         |         || strftime(date, '%Y-%m-%d %H:%M:%S'), 'genre_daily'
         |FROM daily
         |UNION ALL
         |SELECT 'GENRE_TOP_SONGS_' || coalesce(track_genre, 'None') || '_'
         |         || strftime(date, '%Y-%m-%d %H:%M:%S') || '_' || track_id,
         |       'genre_top_songs'
         |FROM ranked_songs WHERE rnk <= 3
         |UNION ALL
         |SELECT 'GENRE_TOP_' || coalesce(track_genre, 'None') || '_'
         |         || strftime(date, '%Y-%m-%d %H:%M:%S'), 'genre_top'
         |FROM ranked_genres WHERE rnk <= 5
         |UNION ALL
         |SELECT 'TRENDING_' || track_id, 'trending' FROM trend""".stripMargin,
      shufflePin = Some(9)),

    // ---- the five declared KPI queries (SURVEY §2.11) ----
    Entry.kpi("kpi_user", KpiQueries.userKpis(_),
      s"""$oracleBase
         |SELECT user_id, user_name, user_country,
         |  COUNT(track_id) AS total_songs_played,
         |  (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes,
         |  ((CAST(SUM(duration_ms) AS BIGINT) / 60000.0) / COUNT(duration_ms)) AS avg_listening_time_minutes,
         |  'user' AS kpi_type
         |FROM enriched GROUP BY 1, 2, 3""".stripMargin,
      shufflePin = 1),

    Entry.kpi("kpi_genre_daily", KpiQueries.genreDailyMetrics(_),
      s"""$oracleBase
         |SELECT date_trunc('day', ts) AS date, track_genre,
         |  COUNT(track_id) AS listen_count,
         |  COUNT(DISTINCT user_id) AS unique_listeners,
         |  (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes
         |FROM enriched GROUP BY 1, 2""".stripMargin,
      shufflePin = 2),

    Entry.kpi("kpi_genre_top_songs", e => KpiQueries.genreTopSongs(e)
        .withColumn("rnk", col("rank").cast("long")).drop("rank"),
      s"""$oracleBase, plays AS (
         |  SELECT date_trunc('day', ts) AS date, track_genre, track_id,
         |         COUNT(*) AS play_count
         |  FROM enriched GROUP BY 1, 2, 3
         |), ranked AS (
         |  SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY date, track_genre ORDER BY play_count DESC) AS BIGINT) AS rnk
         |  FROM plays
         |)
         |SELECT date, track_genre, track_id, play_count, rnk FROM ranked WHERE rnk <= 3""".stripMargin,
      shufflePin = 2),

    Entry.kpi("kpi_genre_top_genres", e => KpiQueries.genreTopGenres(e)
        .withColumn("rnk", col("rank").cast("long")).drop("rank"),
      s"""$oracleBase, daily AS (
         |  SELECT date_trunc('day', ts) AS date, track_genre,
         |    COUNT(track_id) AS listen_count,
         |    COUNT(DISTINCT user_id) AS unique_listeners,
         |    (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes
         |  FROM enriched GROUP BY 1, 2
         |), ranked AS (
         |  SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY date ORDER BY listen_count DESC) AS BIGINT) AS rnk
         |  FROM daily
         |)
         |SELECT date, track_genre, listen_count, unique_listeners,
         |  total_listening_time_minutes, rnk
         |FROM ranked WHERE rnk <= 5""".stripMargin,
      shufflePin = 3),

    // de-skewed bucketed window IS the production default (round-5 verdict
    // task 4): a viral track no longer serializes one core
    Entry.kpi("kpi_trending", KpiQueries.trendingKpisBucketed(_),
      trendingOracleSql,
      shufflePin = 4),

    // single-partition window variant, same oracle — must stay hash-equal
    // to kpi_trending; kept oracle-checked as the plan-equivalence witness
    Entry("q_trending_exact", (s, dir) =>
      KpiQueries.trendingKpis(TestTables.enriched(s, dir)),
      trendingOracleSql,
      // r10 pin: trending_exact is the daily agg + the shared range-frame
      // window exchange (re-measured isolated, PERF.md r10)
      shufflePin = Some(2)),

    // multi-grain rollup in one pass: (date, genre), (date), grand total —
    // partial-aggregatable, one shuffle; grouping() flags disambiguate
    // rollup nulls from genuinely-null genres (the left-join misses)
    Entry("q_kpi_rollup", (s, dir) =>
      TestTables.enriched(s, dir)
        .select(date_trunc("day", col("timestamp")).as("date"),
          col("track_genre"), col("track_id"), col("duration_ms"))
        // Column-overload rollup: the String overload resolves through
        // df.col and its dataset-id metadata falsely trips the
        // ambiguous-self-join check on join-derived frames
        .rollup(col("date"), col("track_genre"))
        .agg(
          count(col("track_id")).as("listen_count"),
          (sum("duration_ms").cast("long") / lit(60000.0)).as("total_listening_time_minutes"),
          // grouping_id() bits instead of grouping(col): the per-column
          // form re-resolves the attribute and trips the ambiguous-self-
          // join check on join-derived frames (date is MSB here)
          shiftright(grouping_id(), 1).bitwiseAND(lit(1L)).as("g_date"),
          grouping_id().bitwiseAND(lit(1L)).as("g_genre")),
      s"""$oracleBase
         |SELECT date_trunc('day', ts) AS date, track_genre,
         |  COUNT(track_id) AS listen_count,
         |  (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes,
         |  CAST(GROUPING(date_trunc('day', ts)) AS BIGINT) AS g_date,
         |  CAST(GROUPING(track_genre) AS BIGINT) AS g_genre
         |FROM enriched
         |GROUP BY ROLLUP(date_trunc('day', ts), track_genre)""".stripMargin),

    // pivot with EXPLICIT values — no discovery pass over the fact table
    // (implicit pivot runs a distinct() first; at scale the value set is
    // a contract, not something to rediscover per query)
    Entry("q_pivot_events", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      table(s, dir, "events").na.drop(Seq("user_id", "event_type"))
        .groupBy("user_id").pivot("event_type", types).agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    },
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS n_click,
        |  COUNT(*) FILTER (event_type = 'error') AS n_error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS n_signup,
        |  COUNT(*) FILTER (event_type = 'view') AS n_view
        |FROM events
        |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // exact linear-interpolation percentiles per group (the distribution
    // check a data pipeline runs on numeric features)
    Entry("q_percentiles", (s, dir) =>
      table(s, dir, "events").na.drop(Seq("event_type", "value"))
        .groupBy("event_type")
        .agg(percentile(col("value"),
          array(lit(0.25), lit(0.5), lit(0.9), lit(0.99))).as("ps"))
        .select(col("event_type"),
          round(element_at(col("ps"), 1), 6).as("p25"),
          round(element_at(col("ps"), 2), 6).as("p50"),
          round(element_at(col("ps"), 3), 6).as("p90"),
          round(element_at(col("ps"), 4), 6).as("p99")),
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // ---- generic operator coverage (SURVEY §2.2-2.7) ----
    Entry("q_pricing_summary", (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin),

    Entry("q_join_enrich3", (s, dir) =>
      table(s, dir, "orders")
        .join(broadcast(table(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .join(broadcast(table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"), "left")
        .select(
          col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
          col("c_name"), col("n_name")),
      """SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, c_name, n_name
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin),

    // bloom-pruned equi-join: the big side is filtered by a bitset built
    // from the small side's keys BEFORE its shuffle; the join re-checks
    // every survivor, so output is exactly the plain join (the oracle)
    // null-safe equality join (<=>): nulls constructed deterministically
    // on both sides; NULL <=> NULL matches, unlike plain equality
    Entry("q_nullsafe_join", (s, dir) => {
      val ev = table(s, dir, "events").na.drop(Seq("event_id", "user_id"))
        .select(col("event_id"), nullif(pmod(col("user_id"), lit(20L)), lit(7L)).as("k"))
      val dim = ev.select(col("k")).distinct()
        .withColumn("label", coalesce(col("k").cast("string"), lit("none")))
      ev.join(dim, ev("k") <=> dim("k"))
        .select(col("event_id"), col("label"))
    },
      """WITH ev AS (
        |  SELECT event_id, NULLIF(((user_id % 20) + 20) % 20, 7) AS k
        |  FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |), dim AS (
        |  SELECT k, COALESCE(CAST(k AS VARCHAR), 'none') AS label
        |  FROM (SELECT DISTINCT k FROM ev)
        |)
        |SELECT ev.event_id, dim.label
        |FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.k""".stripMargin),

    Entry("q_bloom_join", (s, dir) => {
      val big = table(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      val small = table(s, dir, "customer")
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("custkey"), col("c_name"))
      graft.ops.BloomJoin.prunedJoin(big, small, "custkey", expectedKeys = 2000)
    },
      """SELECT o.o_custkey AS custkey, o.o_orderkey, c.c_name
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey % 97 = 0""".stripMargin),

    Entry("q_join_semi", (s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),

    // Build side filtered to a custkey subset so the anti-join output is
    // non-empty — every customer has orders, so the unfiltered anti-join
    // returned 0 rows and its hash check proved nothing (round-1 verdict).
    Entry("q_join_anti", (s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders").filter(col("o_custkey") % 3 === 0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_custkey % 3 = 0)""".stripMargin),

    // salted skew join: the hot-key spread plan must stay row-identical
    // to the plain join (salts only re-route shuffle placement)
    Entry("q_salted_join", (s, dir) => {
      val ev = table(s, dir, "events").na.drop(Seq("event_id", "user_id"))
        .select("event_id", "user_id")
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("grp", pmod(col("user_id"), lit(7L)))
      graft.ops.SkewJoin.saltedJoin(ev, dim, "user_id", col("event_id"), salts = 8)
        .select("user_id", "event_id", "grp")
    },
      """WITH ev AS (
        |  SELECT event_id, user_id FROM events
        |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |), dim AS (
        |  SELECT user_id, ((user_id % 7) + 7) % 7 AS grp
        |  FROM (SELECT DISTINCT user_id FROM ev)
        |)
        |SELECT ev.user_id, ev.event_id, dim.grp
        |FROM ev JOIN dim USING (user_id)""".stripMargin),

    Entry("q_union_all", (s, dir) => {
      val e = table(s, dir, "events").select("event_id", "event_type", "value")
      e.filter(col("value") < 100).unionAll(e.filter(col("value") >= 100))
    },
      """SELECT event_id, event_type, value FROM events WHERE value < 100
        |UNION ALL
        |SELECT event_id, event_type, value FROM events WHERE value >= 100""".stripMargin),

    // bag-semantics set ops (SQL INTERSECT ALL / EXCEPT ALL): two
    // overlapping user slices; multiplicities must survive, which is
    // what distinguishes these from a semi/anti join
    Entry("q_set_intersect", (s, dir) => {
      val e = table(s, dir, "events").na.drop(Seq("user_id", "event_type"))
        .select("user_id", "event_type")
      e.filter(col("user_id") < 100).intersectAll(e.filter(col("user_id") >= 50))
    },
      """WITH e AS (SELECT user_id, event_type FROM events
        |           WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
        |SELECT user_id, event_type FROM e WHERE user_id < 100
        |INTERSECT ALL
        |SELECT user_id, event_type FROM e WHERE user_id >= 50""".stripMargin),

    Entry("q_set_except", (s, dir) => {
      val e = table(s, dir, "events").na.drop(Seq("user_id", "event_type"))
        .select("user_id", "event_type")
      e.filter(col("user_id") < 100).exceptAll(e.filter(col("user_id") >= 50))
    },
      """WITH e AS (SELECT user_id, event_type FROM events
        |           WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
        |SELECT user_id, event_type FROM e WHERE user_id < 100
        |EXCEPT ALL
        |SELECT user_id, event_type FROM e WHERE user_id >= 50""".stripMargin),

    Entry("q_project_cast", (s, dir) =>
      table(s, dir, "events")
        .na.drop(Seq("event_id", "user_id", "event_type", "value", "ts"))
        .select(
          col("event_id").cast("string").as("eid"),
          col("user_id").cast("string").as("uid"),
          col("event_type"),
          round(col("value") / 60.0, 4).as("v_min"),
          date_trunc("hour", col("ts")).as("h")),
      """SELECT CAST(event_id AS VARCHAR) AS eid, CAST(user_id AS VARCHAR) AS uid,
        |  event_type, ROUND(value / 60.0, 4) AS v_min, date_trunc('hour', ts) AS h
        |FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL""".stripMargin),

    // Morton z-value projection (the layout key behind writeZOrdered's
    // two-dimensional data skipping) — pure codegen bit spreading, so it
    // is oracle-checkable even though the layout itself is a write path
    Entry("q_zorder", (s, dir) =>
      table(s, dir, "events")
        .na.drop(Seq("event_id", "user_id", "value"))
        .select(col("event_id"),
          graft.ops.ZOrder.zValue(
            pmod(col("user_id"), lit(65536L)),
            pmod(floor(col("value")).cast("long"), lit(65536L))).as("z")),
      {
        // same magic-mask bit spreading as ZOrder.spread16, rendered as SQL
        def spread(x: String): String = {
          val s1 = s"((($x) | (($x) << 8)) & 16711935)"    // 0x00FF00FF
          val s2 = s"((($s1) | (($s1) << 4)) & 252645135)" // 0x0F0F0F0F
          val s3 = s"((($s2) | (($s2) << 2)) & 858993459)" // 0x33333333
          s"((($s3) | (($s3) << 1)) & 1431655765)"         // 0x55555555
        }
        val a = "(((user_id % 65536) + 65536) % 65536)" // pmod
        val b = "(((CAST(FLOOR(value) AS BIGINT) % 65536) + 65536) % 65536)"
        s"""SELECT event_id, (${spread(a)} | (${spread(b)} << 1)) AS z
           |FROM events
           |WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL""".stripMargin
      }),

    // ---- round-5 additions: analytics / CDC / robust-stats surface ----

    // CUBE: every (brand, type) margin in ONE aggregation pass
    Entry("q_cube_parts", (s, dir) =>
      table(s, dir, "part")
        .cube(col("p_brand"), col("p_type"))
        .agg(count(lit(1)).as("n_parts"),
          round(sum("p_retailprice"), 2).as("sum_price"),
          shiftright(grouping_id(), 1).bitwiseAND(lit(1L)).as("g_brand"),
          grouping_id().bitwiseAND(lit(1L)).as("g_type")),
      // ---- round-5 additions ----

      """SELECT p_brand, p_type, COUNT(*) AS n_parts,
        |  ROUND(SUM(p_retailprice), 2) AS sum_price,
        |  CAST(GROUPING(p_brand) AS BIGINT) AS g_brand,
        |  CAST(GROUPING(p_type) AS BIGINT) AS g_type
        |FROM part GROUP BY CUBE (p_brand, p_type)""".stripMargin),

    // fixed-bound equi-width histogram: single scan, batch-mergeable buckets
    Entry("q_histogram", (s, dir) =>
      graft.ops.Profile.histogram(table(s, dir, "orders"), "o_totalprice",
        lo = 0.0, hi = 500000.0, buckets = 20),
      """WITH b AS (
        |  SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) /
        |    ((500000.0 - 0.0) / 20)), 0), 19) AS BIGINT) AS bucket
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |)
        |SELECT bucket, COUNT(*) AS n,
        |  0.0 + bucket * ((500000.0 - 0.0) / 20) AS bucket_lo,
        |  0.0 + (bucket + 1) * ((500000.0 - 0.0) / 20) AS bucket_hi
        |FROM b GROUP BY 1""".stripMargin),

    // blocked edit-distance near-dup: same brand, |len diff| ≤ 2, levenshtein ≤ 2
    Entry("q_editdist_pairs", (s, dir) =>
      graft.ops.Dedup.editDistancePairs(table(s, dir, "part"),
        "p_partkey", "p_name", "p_brand", maxDist = 2),
      """SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  AND abs(len(a.p_name) - len(b.p_name)) <= 2
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
      // r12 verdict #2: length-bucket-only candidate generation is
      // Σ n_b² — the board's one super-linear plan (28× wall at 10× data,
      // fair-probe measured). It exists as the regime-comparison baseline
      // for the PassJoin segment index; the headline path is
      // q_editdist_seg, which verifies the same oracle.
      heavy = true,
      // r12: the probe side gains one round-robin exchange when the scan
      // under-partitions
      shufflePin = Some(1),
      widthPin = Some(1)),

    // calendar gap-fill + forward fill of per-user daily activity
    Entry("q_gapfill", (s, dir) =>
      graft.ops.TimeSeries.gapFillDaily(table(s, dir, "events"), "user_id", "ts"),
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS n
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
        |), cal AS (
        |  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |  FROM span
        |)
        |SELECT c.user_id, c.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
        |  LAST_VALUE(CASE WHEN d.n IS NOT NULL THEN c.day END IGNORE NULLS) OVER (
        |    PARTITION BY c.user_id ORDER BY c.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_active_day
        |FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day""".stripMargin),

    // ordered 3-stage conversion funnel (view → click → purchase)
    Entry("q_funnel", (s, dir) =>
      graft.ops.Funnel.funnel(table(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase")),
      """WITH s0 AS (
        |  SELECT user_id AS u, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1
        |), s1 AS (
        |  SELECT s0.u, s0.t0, MIN(CASE WHEN e.ts > s0.t0 THEN e.ts END) AS t1
        |  FROM s0 LEFT JOIN events e
        |    ON e.user_id = s0.u AND e.event_type = 'click'
        |  GROUP BY 1, 2
        |), s2 AS (
        |  SELECT s1.u, s1.t0, s1.t1, MIN(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.u AND e.event_type = 'purchase'
        |  GROUP BY 1, 2, 3
        |), c AS (
        |  SELECT COUNT(t0) AS c0, COUNT(t1) AS c1, COUNT(t2) AS c2 FROM s2
        |)
        |SELECT CAST(0 AS BIGINT) AS stage, 'view' AS stage_name, c0 AS users,
        |       ROUND(c0 / c0, 6) AS conversion FROM c
        |UNION ALL SELECT 1, 'click', c1, ROUND(c1 / c0, 6) FROM c
        |UNION ALL SELECT 2, 'purchase', c2, ROUND(c2 / c0, 6) FROM c""".stripMargin),

    // weekly cohort retention matrix
    Entry("q_retention", (s, dir) =>
      graft.ops.Funnel.weeklyRetention(table(s, dir, "events"), "user_id", "ts"),
      """WITH cohort AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1
        |), active AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), sizes AS (
        |  SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_users
        |  FROM cohort GROUP BY 1
        |), r AS (
        |  SELECT c.cohort_week,
        |    CAST(date_diff('day', c.cohort_week, a.week) AS BIGINT) // 7 AS week_offset,
        |    COUNT(DISTINCT a.user_id) AS active_users
        |  FROM active a JOIN cohort c USING (user_id)
        |  GROUP BY 1, 2
        |)
        |SELECT r.cohort_week, r.week_offset, r.active_users, s.cohort_users,
        |  ROUND(r.active_users / s.cohort_users, 6) AS retention
        |FROM r JOIN sizes s USING (cohort_week)""".stripMargin),

    // rank-based (IQR, discrete-quantile) outlier rows per event type
    Entry("q_outliers", (s, dir) =>
      graft.ops.Outliers.iqrOutliers(table(s, dir, "events"),
        "event_type", "event_id", "value"),
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), f AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn = CEIL(n * 0.25) THEN value END) AS p25,
        |    MIN(CASE WHEN rn = CEIL(n * 0.75) THEN value END) AS p75
        |  FROM r GROUP BY 1
        |)
        |SELECT r.event_type, r.event_id, r.value,
        |  f.p25 - 1.5 * (f.p75 - f.p25) AS lo,
        |  f.p75 + 1.5 * (f.p75 - f.p25) AS hi
        |FROM r JOIN f USING (event_type)
        |WHERE r.value < f.p25 - 1.5 * (f.p75 - f.p25)
        |   OR r.value > f.p75 + 1.5 * (f.p75 - f.p25)""".stripMargin),

    // SCD Type-2 version history of each user's event_type stream
    Entry("q_scd2", (s, dir) =>
      graft.ops.Cdc.scd2(
        table(s, dir, "events").na.drop(Seq("user_id", "event_type")),
        "user_id", "event_type", "ts", "event_id"),
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
        |), ch AS (
        |  SELECT user_id, event_type AS attr, ts AS valid_from, event_id
        |  FROM e WHERE rn = 1 OR prev IS DISTINCT FROM event_type
        |), v AS (
        |  SELECT user_id, attr, valid_from,
        |    LEAD(valid_from) OVER (
        |      PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
        |  FROM ch
        |)
        |SELECT user_id, attr, valid_from, valid_to,
        |  valid_to IS NULL AS is_current FROM v""".stripMargin),

    // CDC merge: deterministic synthetic changeset applied to orders
    Entry("q_merge_upsert", (s, dir) => {
      val base = table(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col("o_orderstatus"))
      graft.ops.Cdc.mergeUpsert(base, mergeChangeset(base), "o_orderkey")
    },
      """WITH base AS (
        |  SELECT o_orderkey, ROUND(o_totalprice, 2) AS price, o_orderstatus
        |  FROM orders
        |), changes AS (
        |  SELECT o_orderkey, price * 2.0 AS price, o_orderstatus,
        |         'U' AS op
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, price, o_orderstatus, 'D'
        |  FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, price * 0.5, o_orderstatus, 'I'
        |  FROM base
        |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0 AND o_orderkey % 13 = 0
        |)
        |SELECT b.o_orderkey, b.price, b.o_orderstatus FROM base b
        |WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        |UNION ALL
        |SELECT o_orderkey, price, o_orderstatus FROM changes
        |WHERE op <> 'D'""".stripMargin),

    // snapshot diff recovers mergeUpsert's changeset row-for-row:
    // added = I rows, removed = D rows, changed = U rows
    Entry("q_snapshot_diff", (s, dir) => {
      val base = table(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col("o_orderstatus"))
      val v2 = graft.ops.Cdc.mergeUpsert(base, mergeChangeset(base), "o_orderkey")
      graft.ops.Cdc.snapshotDiff(base, v2, "o_orderkey")
    },
      """WITH base AS (
        |  SELECT o_orderkey, ROUND(o_totalprice, 2) AS price, o_orderstatus
        |  FROM orders
        |), changes AS (
        |  SELECT o_orderkey, price * 2.0 AS price, o_orderstatus, 'U' AS op
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, price, o_orderstatus, 'D'
        |  FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, price * 0.5, o_orderstatus, 'I'
        |  FROM base
        |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0 AND o_orderkey % 13 = 0
        |)
        |SELECT b.o_orderkey,
        |       CASE op WHEN 'I' THEN 'added' WHEN 'D' THEN 'removed'
        |               ELSE 'changed' END AS change_type,
        |       CASE WHEN op = 'I' THEN NULL ELSE b2.price END AS old_price,
        |       CASE WHEN op = 'D' THEN NULL ELSE b.price END AS new_price,
        |       CASE WHEN op = 'I' THEN NULL ELSE b2.o_orderstatus END AS old_o_orderstatus,
        |       CASE WHEN op = 'D' THEN NULL ELSE b.o_orderstatus END AS new_o_orderstatus
        |FROM changes b LEFT JOIN base b2 USING (o_orderkey)
        |WHERE op <> 'U' OR b.price IS DISTINCT FROM b2.price
        |   OR b.o_orderstatus IS DISTINCT FROM b2.o_orderstatus""".stripMargin),

    // sweep-line peak concurrency: intervals = [ts, ts + value minutes)
    // per event_type; two boundary rows per interval, never an explode
    Entry("q_concurrency", (s, dir) =>
      graft.ops.Intervals.peakConcurrency(
        table(s, dir, "events")
          .withColumn("end_ts", timestamp_micros(
            unix_micros(col("ts")) + round(col("value") * 60).cast("long") * 1000000L)),
        "event_type", "ts", "end_ts"),
      """WITH iv AS (
        |  -- make_timestamp(epoch_us(..)) pins ts to MICROSECONDS regardless of
        |  -- DuckDB version: 1.0 truncates parquet ns->us at read, >=1.1 keeps
        |  -- TIMESTAMP_NS, and Spark reads the same column us-truncated.
        |  SELECT event_type, make_timestamp(epoch_us(ts)) AS s,
        |         make_timestamp(epoch_us(ts))
        |           + to_seconds(CAST(round(value * 60) AS BIGINT)) AS e
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |), b AS (
        |  SELECT event_type, s AS ts, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT event_type, e AS ts, CAST(-1 AS BIGINT) AS delta FROM iv
        |), r AS (
        |  SELECT event_type, ts,
        |         SUM(delta) OVER (PARTITION BY event_type ORDER BY ts, delta) AS c
        |  FROM b
        |), p AS (
        |  SELECT event_type, CAST(MAX(c) AS BIGINT) AS peak_concurrency
        |  FROM r GROUP BY 1
        |)
        |SELECT r.event_type, p.peak_concurrency, MIN(r.ts) AS first_peak_ts
        |FROM r JOIN p ON r.event_type = p.event_type AND r.c = p.peak_concurrency
        |GROUP BY 1, 2""".stripMargin),

    // trailing 7-day rolling aggregates over per-type daily rollups
    Entry("q_rolling_7d", (s, dir) =>
      graft.ops.TimeSeries.trailingDaily(table(s, dir, "events"), "event_type", "ts", 7),
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n_events
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), e AS (
        |  SELECT *, date_diff('day', TIMESTAMP '1970-01-01', day) AS ed FROM daily
        |)
        |SELECT event_type, day, n_events,
        |       CAST(SUM(n_events) OVER w AS BIGINT) AS n_trailing,
        |       COUNT(*) OVER w AS days_active_trailing
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ed
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),

    // EXACT trailing-7-day distinct users per day (rolling WAU):
    // coverage-explode — no windowed countDistinct exists, and this
    // shape is one dedupe + one bounded explode + one hash agg,
    // linear in |distinct (user, day)| x 7, never re-scanning events
    Entry("q_rolling_distinct", (s, dir) =>
      graft.ops.TimeSeries.rollingDistinct(table(s, dir, "events"), "ts", "user_id", 7),
      // same coverage-explode shape: each distinct (user, active day)
      // covers the 7 trailing-window positions it participates in
      """WITH ad AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), mx AS (SELECT max(day) AS max_day FROM ad),
        |cov AS (
        |  SELECT DISTINCT user_id, day + i * INTERVAL 1 DAY AS day
        |  FROM ad CROSS JOIN generate_series(0, 6) AS t(i)
        |)
        |SELECT day, COUNT(*) AS n_active
        |FROM cov WHERE day <= (SELECT max_day FROM mx)
        |GROUP BY 1""".stripMargin,
      planNote = Some("range join over per-(key,day) KMV sketch frames, 7-day window bound — pre-aggregated, not row-scale")),

    // first-seen growth curve: new + cumulative users per day
    Entry("q_user_growth", (s, dir) =>
      graft.ops.TimeSeries.firstSeenGrowth(table(s, dir, "events"), "ts", "user_id"),
      """WITH fs AS (
        |  SELECT user_id, min(date_trunc('day', ts)) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1
        |), daily AS (
        |  SELECT day, COUNT(*) AS n_new FROM fs GROUP BY 1
        |)
        |SELECT day, n_new,
        |       CAST(SUM(n_new) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS n_total
        |FROM daily""".stripMargin),

    // per-type daily volume anomalies vs the trailing-7-day baseline
    Entry("q_daily_anomalies", (s, dir) =>
      graft.ops.TimeSeries.dailyAnomalies(table(s, dir, "events"),
        "event_type", "ts", days = 7, zThresh = 2.0),
      // identical expression tree on both engines: exact long sums ->
      // ONE double mean/var/z evaluation; zero-variance flag is an
      // exact integer compare
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n_events,
        |         date_diff('day', TIMESTAMP '1970-01-01', date_trunc('day', ts)) AS ed
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), win AS (
        |  SELECT event_type, day, n_events,
        |         COUNT(*) OVER w AS baseline_days,
        |         SUM(n_events) OVER w AS s,
        |         SUM(n_events * n_events) OVER w AS s2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ed
        |               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |), z AS (
        |  SELECT *,
        |         CAST(s AS DOUBLE) / CAST(baseline_days AS DOUBLE) AS m,
        |         (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |            / CAST(baseline_days AS DOUBLE))
        |           / CAST(baseline_days AS DOUBLE) AS v
        |  FROM win WHERE baseline_days >= 3
        |)
        |SELECT event_type, day, n_events,
        |       CAST(baseline_days AS BIGINT) AS baseline_days,
        |       CASE WHEN v > 0 THEN
        |         ROUND((CAST(n_events AS DOUBLE) - m) / sqrt(v), 6) END AS z_score,
        |       CASE WHEN v > 0 THEN
        |         abs((CAST(n_events AS DOUBLE) - m) / sqrt(v)) > 2.0
        |       ELSE n_events * baseline_days <> s END AS anomalous
        |FROM z""".stripMargin),

    // time-respecting train/embargo/test split at a fixed cutoff
    Entry("q_temporal_split", (s, dir) =>
      graft.ops.Sampling.temporalSplit(table(s, dir, "events"), "ts", "event_id",
        cutoff = "2024-01-20 00:00:00", embargo = "2 days")
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts")),
      """WITH s AS (
        |  SELECT event_id, ts,
        |         CASE WHEN ts <= TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |              WHEN ts <= TIMESTAMP '2024-01-20 00:00:00' + INTERVAL 2 DAY
        |                THEN 'embargo'
        |              ELSE 'test' END AS split
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |)
        |SELECT split, COUNT(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts
        |FROM s GROUP BY 1""".stripMargin),

    // point-in-time-correct sequence dataset: per purchase event, the
    // user's 3 preceding event types as an ordered context path
    Entry("q_labeled_seq", (s, dir) =>
      graft.ops.Funnel.labeledSequences(table(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", labelType = "purchase", k = 3),
      // list() over an empty frame is NULL in DuckDB but an empty array
      // in Spark's collect_list — coalesce to '' for first-label parity
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL
        |), seq AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         COALESCE(array_to_string(list(event_type) OVER w, '>'), '') AS context,
        |         CAST(COUNT(*) OVER w AS BIGINT) AS n_context
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, ts, context, n_context
        |FROM seq WHERE event_type = 'purchase'""".stripMargin),

    // leakage-safe expanding target encoding: strictly-prior mean of
    // the integer-scaled target per category, null cold start
    Entry("q_target_encode", (s, dir) =>
      graft.ops.Agg.targetEncodeExpanding(table(s, dir, "events"),
        "event_type", "ts", "event_id", "value"),
      """WITH e AS (
        |  SELECT event_id, event_type, ts,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL
        |)
        |SELECT event_id, event_type, ts, value_cents,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS prior_n,
        |       SUM(value_cents) OVER w / 100.0 / COUNT(*) OVER w AS prior_mean
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin),

    // join-explosion preflight: exact per-key output estimate from the
    // two key histograms — the diagnostic that decides plain vs salted
    Entry("q_join_preflight", (s, dir) =>
      graft.ops.SkewJoin.joinPreflight(
        table(s, dir, "events").select(col("user_id").as("k")),
        table(s, dir, "lineitem").select(col("l_suppkey").as("k")),
        "k", topK = 20),
      """WITH l AS (
        |  SELECT user_id AS k, COUNT(*) AS n_left FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT l_suppkey AS k, COUNT(*) AS n_right FROM lineitem
        |  WHERE l_suppkey IS NOT NULL GROUP BY 1
        |)
        |SELECT k, COALESCE(n_left, 0) AS n_left, COALESCE(n_right, 0) AS n_right,
        |       COALESCE(n_left, 0) * COALESCE(n_right, 0) AS out_rows
        |FROM l FULL OUTER JOIN r USING (k)
        |ORDER BY out_rows DESC, k LIMIT 20""".stripMargin),

    // declarative quality contract over events: five checks, ONE scan
    Entry("q_expectations", (s, dir) => {
      import graft.ops.Expectations._
      graft.ops.Expectations.check(table(s, dir, "events"), Seq(
        NotNull("user_id"),
        Unique("event_id"),
        InRange("value", 0.0, 1000.0),
        AcceptedValues("event_type",
          Seq("click", "view", "purchase", "signup", "error")),
        MinRows(1000L)))
    },
      """WITH m AS (
        |  SELECT
        |    ROUND(AVG(CASE WHEN user_id IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate,
        |    CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS DOUBLE) AS dup_rows,
        |    CAST(SUM(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 1000.0)
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS oor,
        |    CAST(SUM(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
        |             ('click','view','purchase','signup','error')
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS badv,
        |    CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM events
        |)
        |SELECT 0 AS ord, 'not_null' AS "check", 'user_id' AS "column",
        |       null_rate AS observed, 0.0 AS threshold, null_rate <= 0.0 AS passed FROM m
        |UNION ALL SELECT 1, 'unique', 'event_id', dup_rows, 0.0, dup_rows <= 0.0 FROM m
        |UNION ALL SELECT 2, 'in_range', 'value', oor, 0.0, oor <= 0.0 FROM m
        |UNION ALL SELECT 3, 'accepted_values', 'event_type', badv, 0.0, badv <= 0.0 FROM m
        |UNION ALL SELECT 4, 'min_rows', '', n, 1000.0, n >= 1000.0 FROM m""".stripMargin),

    // Misra-Gries heavy hitters over the token stream, exact counts
    // restored by the candidate recount pass (MG guarantee covers the
    // 1% threshold at k = 100)
    Entry("q_heavy_hitters", (s, dir) =>
      graft.ops.Frequency.heavyHitters(
        table(s, dir, "documents").select(
          explode(graft.ops.TextAnalysis.tokens(lower(col("text")))).as("term")),
        "term", minShare = 0.01),
      s"""$docToks, x AS (
         |  SELECT unnest(toks) AS term FROM d
         |), n AS (SELECT COUNT(*) AS total FROM x)
         |SELECT term AS value, COUNT(*) AS n_rows,
         |       ROUND(COUNT(*) / (SELECT total::DOUBLE FROM n), 6) AS share
         |FROM x GROUP BY 1
         |HAVING COUNT(*) > 0.01 * (SELECT total FROM n)""".stripMargin),

    // bounded vocabulary: top-20 terms by doc_freq with dense ids
    Entry("q_vocab", (s, dir) =>
      graft.ops.TextAnalysis.buildVocab(table(s, dir, "documents"), "doc_id", "text", 20),
      s"""$docToks, x AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM x GROUP BY 1, 2
         |), stats AS (
         |  SELECT term, COUNT(*) AS doc_freq,
         |         CAST(SUM(tf) AS BIGINT) AS term_freq FROM tf GROUP BY 1
         |), top AS (
         |  SELECT * FROM stats ORDER BY doc_freq DESC, term LIMIT 20
         |)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, term) - 1 AS BIGINT)
         |         AS term_id,
         |       term, doc_freq, term_freq
         |FROM top""".stripMargin),

    // first-order event-type transition matrix per user stream
    Entry("q_transitions", (s, dir) =>
      graft.ops.Funnel.transitions(table(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id"),
      """WITH p AS (
        |  SELECT user_id, event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS to_type
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
        |), c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |       ROUND(n / SUM(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c""".stripMargin),

    // winsorization at the per-type [p05, p95] discrete quantiles
    Entry("q_winsorize", (s, dir) =>
      graft.ops.Outliers.winsorize(table(s, dir, "events"),
        "event_type", "event_id", "value", 0.05, 0.95),
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), f AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn = CEIL(n * 0.05) THEN value END) AS lo,
        |    MIN(CASE WHEN rn = CEIL(n * 0.95) THEN value END) AS hi
        |  FROM r GROUP BY 1
        |)
        |SELECT r.event_type, r.event_id, r.value,
        |       LEAST(GREATEST(r.value, f.lo), f.hi) AS clipped
        |FROM r JOIN f USING (event_type)""".stripMargin,
      // r10 pin (the r9 verdict's drift watchlist): winsorize is the
      // percentile agg + map-side clamp; re-measured isolated (PERF.md r10) —
      // the r9 drift was whole-bench jitter, not plan growth
      shufflePin = Some(1)),

    // epoch-aligned 6-hour tumbling windows (batch window(); cents-exact sums)
    Entry("q_tumbling", (s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("_cents"))
        .select(col("w.start").as("win_start"), col("n_events"),
          round(col("_cents") / 100.0, 2).as("total_value")),
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start,
        |       COUNT(*) AS n_events,
        |       ROUND(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total_value
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // per-group quota: at most 500 events per type, hash-ordered
    Entry("q_cap_per_group", (s, dir) =>
      graft.ops.Sampling.capPerGroup(
        table(s, dir, "events").select("event_type", "event_id"),
        "event_type", "event_id", maxRows = 500),
      """WITH r AS (
        |  SELECT event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5(event_id::VARCHAR), event_id) AS hr
        |  FROM events WHERE event_type IS NOT NULL
        |)
        |SELECT event_type, event_id FROM r WHERE hr <= 500""".stripMargin),

    // class balancing: every label downsampled to the smallest class
    Entry("q_balance_classes", (s, dir) =>
      graft.ops.Sampling.balanceClasses(
        table(s, dir, "embeddings").select("vec_id", "label"),
        "label", "vec_id"),
      """WITH e AS (
        |  SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL
        |), m AS (
        |  SELECT MIN(n) AS mn FROM (SELECT COUNT(*) AS n FROM e GROUP BY label)
        |), r AS (
        |  SELECT vec_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY md5(vec_id::VARCHAR), vec_id) AS hr
        |  FROM e
        |)
        |SELECT vec_id, label FROM r, m WHERE hr <= mn""".stripMargin,
      planNote = Some("1-row min-class-size crossJoin (Sampling.scala:364)")),

    // hashing-trick featurization into 64 engine-portable buckets
    Entry("q_hash_features", (s, dir) =>
      graft.ops.TextAnalysis.hashFeatures(
        table(s, dir, "documents"), "doc_id", "text", nBuckets = 64),
      s"""$docToks, x AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |)
         |SELECT doc_id,
         |       ('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS bucket,
         |       COUNT(*) AS n
         |FROM x GROUP BY 1, 2""".stripMargin),

    // per-label mean embeddings via exact integer-micros sums
    Entry("q_centroids", (s, dir) =>
      graft.ops.Similarity.labelCentroids(
        table(s, dir, "embeddings"), "label", "embedding"),
      """WITH x AS (
        |  SELECT label,
        |         unnest(generate_series(1, len(embedding))) - 1 AS dim,
        |         unnest(list_transform(embedding,
        |           e -> CAST(round(e::DOUBLE * 1000000) AS BIGINT))) AS m
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
        |)
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |       SUM(m) / 1000000.0 / COUNT(*) AS centroid,
        |       COUNT(*) AS n_vectors
        |FROM x GROUP BY 1, 2""".stripMargin),

    // schema-evolution union: v1 batches lack props, v2 batches lack
    // event_type/value; matched BY NAME, absent columns null-filled
    Entry("q_union_evolved", (s, dir) => {
      val e = table(s, dir, "events")
      graft.validate.Validator.unionEvolved(Seq(
        e.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(col("event_id"), col("event_type"), col("value")),
        e.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("event_id"), col("props"))))
    },
      """SELECT event_id, event_type, value, NULL AS props
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, NULL, NULL, props
        |FROM events WHERE event_id % 2 = 1""".stripMargin),

    // PassJoin segment-indexed edit distance: same oracle as
    // q_editdist_pairs, candidates from an exact-substring index
    Entry("q_editdist_seg", (s, dir) =>
      graft.ops.Dedup.editDistancePairsSegmented(table(s, dir, "part"),
        "p_partkey", "p_name", "p_brand", maxDist = 2),
      // identical answer through the PassJoin segment index
      """SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  AND abs(len(a.p_name) - len(b.p_name)) <= 2
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
      // editdist_seg rides the blocked pair join; r12: the probe sides gain
      // one round-robin exchange each when the scan under-partitions (probes +
      // the short branch planned twice = +3)
      shufflePin = Some(5),
      widthPin = Some(2)),

    // robust median/MAD outliers per event type
    Entry("q_mad_outliers", (s, dir) =>
      graft.ops.Outliers.madOutliers(table(s, dir, "events"),
        "event_type", "event_id", "value"),
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), m AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn = CEIL(n * 0.5) THEN value END) AS med
        |  FROM r GROUP BY 1
        |), d AS (
        |  SELECT r.event_type, r.event_id, r.value, m.med,
        |         abs(r.value - m.med) AS adev
        |  FROM r JOIN m USING (event_type)
        |), dr AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev) AS rn2,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n2
        |  FROM d
        |), mad AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn2 = CEIL(n2 * 0.5) THEN adev END) AS mad
        |  FROM dr GROUP BY 1
        |)
        |SELECT d.event_type, d.event_id, d.value, d.med, mad.mad
        |FROM d JOIN mad USING (event_type)
        |WHERE abs(d.value - d.med) > 3.5 * mad.mad""".stripMargin),

    // null repair: deterministic synthetic nulls -> group-median fill
    Entry("q_impute", (s, dir) =>
      graft.ops.Outliers.imputeMedian(
        table(s, dir, "events").withColumn("value",
          when(pmod(col("event_id"), lit(13)) === 0, lit(null).cast("double"))
            .otherwise(col("value"))),
        "event_type", "event_id", "value"),
      """WITH e AS (
        |  -- null group keys pass through (no median match), mirroring
        |  -- imputeMedian's never-drop-rows repair contract
        |  SELECT event_type, event_id,
        |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
        |  FROM events
        |), r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e WHERE value IS NOT NULL
        |), m AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn = CEIL(n * 0.5) THEN value END) AS med
        |  FROM r GROUP BY 1
        |)
        |SELECT e.event_type, e.event_id, e.value,
        |       COALESCE(e.value, m.med) AS imputed
        |FROM e LEFT JOIN m USING (event_type)""".stripMargin),

    // changelog compaction: last write wins per user
    Entry("q_latest", (s, dir) =>
      graft.ops.Cdc.latestPerKey(table(s, dir, "events"), "user_id", "ts", "event_id"),
      """WITH r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT event_id, ts, user_id, event_type, value, props
        |FROM r WHERE rn = 1""".stripMargin),

    // leading 3-step journey paths across users
    Entry("q_top_paths", (s, dir) =>
      graft.ops.Funnel.topPaths(table(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", k = 3),
      """WITH s AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1
        |)
        |SELECT array_to_string(seq[1:3], '>') AS path, COUNT(*) AS n_users
        |FROM s GROUP BY 1""".stripMargin,
      shufflePin = Some(2)),

    // duration-weighted average of the held gauge value per user
    Entry("q_time_weighted", (s, dir) =>
      graft.ops.TimeSeries.timeWeightedAvg(table(s, dir, "events"),
        "user_id", "ts", round(col("value") * 100), "event_id"),
      """WITH e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |    -- order by epoch_us(ts): microsecond-truncated like Spark's read,
        |    -- stable across DuckDB versions (>=1.1 keeps parquet ns precision)
        |    epoch_us(LEAD(ts) OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id))
        |      // 1000000
        |      - epoch_us(ts) // 1000000 AS dur
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |       CAST(SUM(dur) AS BIGINT) AS held_seconds,
        |       ROUND(SUM(cents * dur) / 100.0 / SUM(dur), 6) AS tw_avg
        |FROM e WHERE dur IS NOT NULL AND cents IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // week-over-week volume change per event type
    Entry("q_wow", (s, dir) =>
      graft.ops.TimeSeries.weekOverWeek(table(s, dir, "events"), "event_type", "ts"),
      """WITH w AS (
        |  SELECT event_type, date_trunc('week', ts) AS week, COUNT(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT event_type, week, n,
        |  LAG(n) OVER ww AS prev_n,
        |  ROUND((n - LAG(n) OVER ww) / LAG(n) OVER ww, 6) AS pct_change
        |FROM w
        |WINDOW ww AS (PARTITION BY event_type ORDER BY week)""".stripMargin),

    // half-per-step exponentially-decayed daily trend per event type —
    // every decay term is an exact power-of-two scale, so the score is
    // bit-identical cross-engine with NO rounding
    Entry("q_decay_trend", (s, dir) =>
      graft.ops.TimeSeries.decayTrend(table(s, dir, "events"), "event_type", "ts"),
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*)::BIGINT AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), pk AS (
        |  SELECT event_type,
        |    list_sort(list(struct_pack(day := day, n := n))) AS arr
        |  FROM daily GROUP BY 1
        |), e AS (
        |  SELECT event_type, unnest(list_transform(range(1, len(arr) + 1),
        |    j -> struct_pack(day := arr[j].day, n := arr[j].n,
        |      trend := list_sum(list_transform(range(greatest(1, j - 31), j + 1),
        |        i -> arr[i].n::DOUBLE / (1::BIGINT << (j - i + 1))::DOUBLE))))) AS s
        |  FROM pk
        |)
        |SELECT event_type, s.day AS day, s.n AS n, s.trend AS trend FROM e""".stripMargin,
      // decay trend is the daily agg + per-key series fold, window-free
      shufflePin = Some(2)),

    // per-source token-distribution drift: entropy + KL vs corpus
    Entry("q_dist_shift", (s, dir) =>
      graft.ops.TextAnalysis.tokenDistributionShift(
        table(s, dir, "documents"), "text", "source"),
      s"""$docToks, t AS (
         |  SELECT source AS grp, unnest(toks) AS term FROM d
         |  JOIN documents USING (doc_id)
         |  WHERE source IS NOT NULL
         |), gtf AS (
         |  SELECT grp, term, COUNT(*) AS tf FROM t GROUP BY 1, 2
         |), cnt AS (
         |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM gtf GROUP BY 1
         |), n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnt),
         |p AS (
         |  SELECT grp, any_value(n.n_total) AS n_total,
         |         list_sort(list(struct_pack(term := gtf.term, tf := gtf.tf,
         |                                    cnt := cnt.cnt))) AS arr
         |  FROM gtf JOIN cnt USING (term) CROSS JOIN n
         |  GROUP BY 1
         |), g AS (
         |  SELECT grp, n_total, arr,
         |         CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT) AS n_tokens
         |  FROM p
         |)
         |SELECT grp AS source, n_tokens,
         |  CAST(len(arr) AS BIGINT) AS n_terms,
         |  ROUND(list_sum(list_transform(arr,
         |    s -> -(s.tf / n_tokens) * ln(s.tf / n_tokens))), 6) AS entropy,
         |  ROUND(list_sum(list_transform(arr,
         |    s -> (s.tf / n_tokens) * ln((s.tf / n_tokens) / (s.cnt / n_total)))), 6)
         |    AS kl_vs_corpus
         |FROM g""".stripMargin,
      planNote = Some("1-row per-period total crossJoins (JS-divergence terms)")),

    // Gopher-style intra-doc repetition filters (type/token ratio,
    // top unigram/bigram mass)
    Entry("q_repetition", (s, dir) =>
      graft.ops.TextAnalysis.repetitionStats(
        table(s, dir, "documents"), "doc_id", "text"),
      s"""$docToks, base AS (
         |  SELECT doc_id, toks, len(toks) AS n FROM d
         |  WHERE doc_id IS NOT NULL AND len(toks) > 0
         |), uni AS (
         |  SELECT doc_id, n, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, n, unnest(toks) AS term FROM base)
         |  GROUP BY 1, 2, 3
         |), us AS (
         |  SELECT doc_id, n, MAX(tf) AS max_uni, COUNT(*) AS n_distinct
         |  FROM uni GROUP BY 1, 2
         |), big AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS b
         |  FROM (SELECT doc_id, toks, unnest(range(1, n)) AS i
         |        FROM base WHERE n >= 2)
         |), bf AS (
         |  SELECT doc_id, b, COUNT(*) AS c FROM big GROUP BY 1, 2
         |), bs AS (
         |  SELECT doc_id, MAX(c) AS max_bi FROM bf GROUP BY 1
         |)
         |SELECT us.doc_id, n AS n_tokens,
         |  ROUND(n_distinct / n, 6) AS distinct_token_ratio,
         |  ROUND(max_uni / n, 6) AS top_unigram_share,
         |  ROUND(max_bi / (n - 1), 6) AS top_bigram_share
         |FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id""".stripMargin),

    // inter-doc duplicated n-gram coverage (ExactSubstr-style signal)
    Entry("q_dup_ngrams", (s, dir) =>
      graft.ops.TextAnalysis.duplicatedNgramShare(
        table(s, dir, "documents"), "doc_id", "text", n = 5),
      s"""$docToks, base AS (
         |  SELECT doc_id, toks, len(toks) AS nt FROM d
         |  WHERE doc_id IS NOT NULL AND len(toks) >= 5
         |), g AS (
         |  SELECT doc_id, array_to_string(toks[i:i + 4], ' ') AS gm
         |  FROM (SELECT doc_id, toks, unnest(range(1, nt - 3)) AS i FROM base)
         |), pg AS (
         |  SELECT doc_id, gm, COUNT(*) AS c FROM g GROUP BY 1, 2
         |), gd AS (
         |  SELECT gm, COUNT(*) AS ndocs FROM pg GROUP BY 1
         |)
         |SELECT pg.doc_id,
         |  CAST(SUM(c) AS BIGINT) AS n_ngrams,
         |  CAST(SUM(CASE WHEN ndocs >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_ngrams,
         |  ROUND(SUM(CASE WHEN ndocs >= 2 THEN c ELSE 0 END) / SUM(c), 6) AS dup_share
         |FROM pg JOIN gd USING (gm) GROUP BY 1""".stripMargin,
      shufflePin = Some(6),
      widthPin = Some(1)),

    // ExactSubstr-style duplicated spans: maximal runs of inter-doc
    // duplicated 5-grams, the ranges a span-level dedup would cut
    Entry("q_dup_spans", (s, dir) =>
      graft.ops.TextAnalysis.duplicatedSpans(
        table(s, dir, "documents"), "doc_id", "text", n = 5, minRun = 2),
      s"""$docToks, base AS (
         |  SELECT doc_id, toks, len(toks) AS nt FROM d
         |  WHERE doc_id IS NOT NULL AND len(toks) >= 5
         |), g AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i + 4], ' ') AS gm
         |  FROM (SELECT doc_id, toks, unnest(range(1, nt - 3)) AS i FROM base)
         |), dup AS (
         |  SELECT gm FROM (SELECT DISTINCT doc_id, gm FROM g)
         |  GROUP BY gm HAVING COUNT(*) >= 2
         |), dp AS (
         |  SELECT g.doc_id, g.pos,
         |         g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS island
         |  FROM g JOIN dup USING (gm)
         |), sp AS (
         |  SELECT doc_id, MIN(pos) AS start_tok, COUNT(*) AS run,
         |         MAX(pos) + 4 AS end_tok
         |  FROM dp GROUP BY doc_id, island
         |)
         |SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(end_tok AS BIGINT) AS end_tok,
         |  CAST(end_tok - start_tok + 1 AS BIGINT) AS n_tokens_span
         |FROM sp WHERE run >= 2""".stripMargin,
      // cache-truncated at the shared shingle/pair store (the q_dedup_clusters
      // family)
      shufflePin = Some(5),
      widthPin = Some(1)),

    // ...and the cutter itself: rebuild docs with those spans removed
    Entry("q_span_dedup", (s, dir) =>
      graft.ops.TextAnalysis.removeDuplicatedSpans(
        table(s, dir, "documents"), "doc_id", "text", n = 5, minRun = 2),
      s"""$docToks, base AS (
         |  SELECT doc_id, toks, len(toks) AS nt FROM d
         |  WHERE doc_id IS NOT NULL AND len(toks) >= 5
         |), g AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i + 4], ' ') AS gm
         |  FROM (SELECT doc_id, toks, unnest(range(1, nt - 3)) AS i FROM base)
         |), dup AS (
         |  SELECT gm FROM (SELECT DISTINCT doc_id, gm FROM g)
         |  GROUP BY gm HAVING COUNT(*) >= 2
         |), dp AS (
         |  SELECT g.doc_id, g.pos,
         |         g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS island
         |  FROM g JOIN dup USING (gm)
         |), sp AS (
         |  SELECT doc_id, MIN(pos) AS start_tok, COUNT(*) AS run,
         |         MAX(pos) + 4 AS end_tok
         |  FROM dp GROUP BY doc_id, island
         |), cov AS (
         |  SELECT doc_id, unnest(range(start_tok, end_tok + 1)) AS pos
         |  FROM sp WHERE run >= 2
         |), allb AS (
         |  -- null text keeps its row (rebuilds empty), mirroring the op
         |  SELECT doc_id, toks, COALESCE(len(toks), 0) AS nt FROM d
         |  WHERE doc_id IS NOT NULL
         |), pos AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, toks, unnest(range(1, nt + 1)) AS i FROM allb)
         |), kept AS (
         |  SELECT p.doc_id, COUNT(*) AS nk,
         |         string_agg(p.tok, ' ' ORDER BY p.pos) AS clean
         |  FROM pos p ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos
         |  GROUP BY 1
         |)
         |SELECT b.doc_id,
         |  CAST(COALESCE(k.nk, 0) AS BIGINT) AS n_tokens_kept,
         |  CAST(b.nt - COALESCE(k.nk, 0) AS BIGINT) AS n_tokens_removed,
         |  md5(COALESCE(k.clean, '')) AS clean_md5
         |FROM allb b LEFT JOIN kept k USING (doc_id)""".stripMargin,
      // cache-truncated at the shared shingle/pair store (the q_dedup_clusters
      // family)
      shufflePin = Some(8),
      widthPin = Some(1)),

    // DSIR importance score: hashed-unigram log-likelihood ratio of the
    // lang='en' target LM vs the raw-corpus LM, Laplace-smoothed
    Entry("q_dsir", (s, dir) =>
      graft.ops.TextAnalysis.dsirScores(
        table(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", nBuckets = 128),
      s"""$docToks, x AS (
         |  SELECT doc_id, lang = 'en' AS tgt, unnest(toks) AS term
         |  FROM d WHERE doc_id IS NOT NULL
         |), pb AS (
         |  SELECT doc_id, ('0x' || substr(md5(term), 1, 8))::BIGINT % 128 AS b,
         |         COUNT(*) AS tf, any_value(tgt) AS tgt
         |  FROM x GROUP BY 1, 2
         |), rc AS (
         |  SELECT b, CAST(SUM(tf) AS BIGINT) AS rc FROM pb GROUP BY 1
         |), tc AS (
         |  SELECT b, CAST(SUM(tf) AS BIGINT) AS tc FROM pb WHERE tgt GROUP BY 1
         |), tot AS (
         |  SELECT CAST(SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT) AS tt,
         |         CAST(SUM(tf) AS BIGINT) AS tr
         |  FROM pb
         |), p AS (
         |  SELECT pb.doc_id,
         |         list_sort(list(struct_pack(b := pb.b, tf := pb.tf,
         |           tc := COALESCE(tc.tc, 0), rc := rc.rc))) AS arr,
         |         any_value(tot.tt) AS tt, any_value(tot.tr) AS tr
         |  FROM pb JOIN rc USING (b) LEFT JOIN tc USING (b) CROSS JOIN tot
         |  GROUP BY 1
         |)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT) AS n_tokens,
         |  ROUND(list_sum(list_transform(arr, s ->
         |      s.tf * ln(((s.tc + 1)::DOUBLE * (tr + 128)::DOUBLE)
         |              / ((s.rc + 1)::DOUBLE * (tt + 128)::DOUBLE))))
         |        / list_sum(list_transform(arr, s -> s.tf)), 6) AS avg_llr
         |FROM p""".stripMargin,
      planNote = Some("1-row per-corpus LM-normalizer crossJoin")),

    // composite C4/Gopher-style filter: keep/drop + audit reason codes
    Entry("q_filter_verdicts", (s, dir) =>
      graft.ops.TextAnalysis.filterVerdicts(
        table(s, dir, "documents"), "doc_id", "text"),
      s"""$filterVerdictCtes
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  (reasons = '') AS keep, reasons
         |FROM v""".stripMargin),

    // where the mass goes: per-rule drop funnel (doc billed to its FIRST
    // violated rule), the datasheet view over the same verdict pass
    Entry("q_filter_funnel", (s, dir) =>
      graft.ops.TextAnalysis.filterFunnel(
        table(s, dir, "documents"), "doc_id", "text"),
      // same verdict CTEs, billed to the FIRST violated rule, 6-row funnel
      s"""$filterVerdictCtes, fv AS (
         |  SELECT CASE WHEN reasons = '' THEN NULL
         |              ELSE string_split(reasons, ',')[1] END AS rule
         |  FROM v
         |), dc AS (
         |  SELECT rule, COUNT(*) AS nd FROM fv WHERE rule IS NOT NULL GROUP BY 1
         |), st AS (
         |  SELECT * FROM (VALUES (0, 'too_short'), (1, 'too_long'),
         |    (2, 'low_stopword'), (3, 'token_len'), (4, 'repetitive'),
         |    (5, 'dominant_unigram')) AS t(stage, rule)
         |), tt AS (SELECT COUNT(*) AS n_total FROM fv)
         |SELECT CAST(st.stage AS BIGINT) AS stage, st.rule,
         |  CAST(n_total - COALESCE(SUM(COALESCE(dc.nd, 0)) OVER (ORDER BY st.stage
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
         |  CAST(COALESCE(dc.nd, 0) AS BIGINT) AS n_dropped,
         |  CAST(n_total - COALESCE(SUM(COALESCE(dc.nd, 0)) OVER (ORDER BY st.stage
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    - COALESCE(dc.nd, 0) AS BIGINT) AS n_out
         |FROM st LEFT JOIN dc USING (rule) CROSS JOIN tt""".stripMargin,
      planNote = Some("1-row corpus-total crossJoin over a 6-row stage frame")),

    // boilerplate mining: top 5-grams by document frequency
    Entry("q_ngram_freq", (s, dir) =>
      graft.ops.TextAnalysis.frequentNgrams(
        table(s, dir, "documents"), "doc_id", "text", n = 5, topN = 20),
      s"""$docToks, base AS (
         |  SELECT doc_id, toks FROM d
         |  WHERE doc_id IS NOT NULL AND len(toks) >= 5
         |), g AS (
         |  SELECT doc_id, array_to_string(toks[i:i + 4], ' ') AS gram
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM base)
         |), pg AS (
         |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
         |), gs AS (
         |  SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq,
         |         CAST(SUM(c) AS BIGINT) AS n_instances
         |  FROM pg GROUP BY 1
         |), top AS (
         |  SELECT * FROM gs
         |  ORDER BY doc_freq DESC, n_instances DESC, gram LIMIT 20
         |)
         |SELECT CAST(row_number() OVER (
         |    ORDER BY doc_freq DESC, n_instances DESC, gram) AS BIGINT) AS rn,
         |  gram, doc_freq, n_instances
         |FROM top""".stripMargin),

    // CCNet-style line document-frequency (the corpus has no newlines,
    // so the delimiter is a token that does occur; the op itself
    // defaults to '\n')
    Entry("q_line_freq", (s, dir) =>
      graft.ops.Boilerplate.lineFrequencies(
        table(s, dir, "documents"), "doc_id", "text", delim = " the "),
      """WITH l AS (
        |  SELECT doc_id, unnest(string_split(text, ' the ')) AS line
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT line, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM (SELECT DISTINCT doc_id, line FROM l)
        |GROUP BY line""".stripMargin),

    // ...and the removal pass: drop lines present in >= 3 distinct docs,
    // rejoin survivors in document order
    Entry("q_boilerplate", (s, dir) =>
      graft.ops.Boilerplate.removeBoilerplate(
        table(s, dir, "documents"), "doc_id", "text",
        delim = " the ", minDocs = 3),
      boilerplateSql,
      shufflePin = Some(3)),

    // the skew-bounded twin: salt splits the hottest line's probe rows
    // across 8 tasks; same oracle as q_boilerplate — bit-identical by
    // construction (every probe row meets its replicated build match)
    Entry("q_boiler_salted", (s, dir) =>
      graft.ops.Boilerplate.removeBoilerplate(
        table(s, dir, "documents"), "doc_id", "text",
        delim = " the ", minDocs = 3, saltBuckets = 8),
      // salted twin runs the same oracle: salting must be invisible in output
      boilerplateSql),

    // canonical LISTAGG: per-nation supplier roster, sort-then-join
    Entry("q_string_agg", (s, dir) =>
      graft.ops.Agg.orderedStringAgg(
        table(s, dir, "supplier"), "s_nationkey", "s_name"),
      """SELECT s_nationkey, COUNT(*) AS n_values,
        |       string_agg(s_name, ',' ORDER BY s_name) AS joined
        |FROM supplier
        |WHERE s_nationkey IS NOT NULL AND s_name IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // deterministic per-user modal event type (ties -> smallest value)
    Entry("q_mode", (s, dir) =>
      graft.ops.Agg.modeByGroup(table(s, dir, "events"), "user_id", "event_type"),
      """WITH c AS (
        |  SELECT user_id, event_type AS mode_value, COUNT(*) AS n_rows
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY n_rows DESC, mode_value) AS rk
        |  FROM c
        |)
        |SELECT user_id, mode_value, n_rows FROM r WHERE rk = 1""".stripMargin),

    // Pearson correlation from exact integer sufficient statistics
    Entry("q_corr", (s, dir) =>
      graft.ops.Agg.pearsonFromIntegers(table(s, dir, "lineitem"),
        "l_returnflag", col("l_quantity"), round(col("l_extendedprice"))),
      """WITH v AS (
        |  SELECT l_returnflag,
        |         CAST(l_quantity AS BIGINT) AS x,
        |         CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL
        |), s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM v GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |       ROUND((n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |             (sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx) *
        |              sqrt(n::DOUBLE * syy - sy::DOUBLE * sy)), 6) AS corr
        |FROM s""".stripMargin),

    // unpivot/melt: wide metrics to (key, metric, val) long form
    Entry("q_unpivot", (s, dir) =>
      table(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"),
          col("o_custkey").cast("double").as("cust"))
        .unpivot(Array(col("o_orderkey")), Array(col("total"), col("cust")),
          "metric", "val"),
      """SELECT o_orderkey, 'total' AS metric, ROUND(o_totalprice, 2) AS val
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'cust', o_custkey::DOUBLE FROM orders""".stripMargin),

    Entry("q_sort_limit", (s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice")),
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    Entry("q_distinct", (s, dir) =>
      table(s, dir, "events").select("event_type").distinct(),
      "SELECT DISTINCT event_type FROM events"),

    Entry("q_window_analytics", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      table(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        lag("value", 1).over(w).as("prev_value"),
        round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("running_value"))
    },
      """SELECT event_id, user_id,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |  LAG(value, 1) OVER w AS prev_value,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // rank-family window coverage: ntile buckets + distribution ranks
    Entry("q_window_ntile", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      table(s, dir, "events").na.drop(Seq("user_id", "ts", "event_id"))
        .select(
          col("event_id"), col("user_id"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
    },
      """SELECT event_id, user_id,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cume
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    Entry("q_trending_events", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("unix_ts").desc).rangeBetween(-86400L, 0L)
      table(s, dir, "events")
        .withColumn("unix_ts", unix_timestamp(col("ts")))
        .withColumn("n24", count(lit(1)).over(w))
        .groupBy("user_id")
        .agg(max("n24").as("max_events_24h"),
          round(sum("value"), 2).as("total_value"),
          countDistinct("event_type").as("n_types"))
    },
      """WITH tw AS (
        |  SELECT user_id, value, event_type,
        |    COUNT(*) OVER (PARTITION BY user_id
        |      ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT) DESC
        |      RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS n24
        |  FROM events
        |)
        |SELECT user_id, MAX(n24) AS max_events_24h,
        |  ROUND(SUM(value), 2) AS total_value,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM tw GROUP BY 1""".stripMargin),

    // market-basket association rules over order→part baskets:
    // support / confidence / lift, ratios as integer PPM
    Entry("q_assoc_rules", (s, dir) =>
      graft.ops.Graph.associationRules(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 3L),
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b, COUNT(*) AS pair_cnt
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3
        |), icnt AS (
        |  SELECT item, COUNT(*) AS item_cnt FROM inc2 GROUP BY 1
        |), nb AS (
        |  SELECT COUNT(DISTINCT basket) AS n_baskets FROM inc2
        |), directed AS (
        |  SELECT a AS antecedent, b AS consequent, pair_cnt AS support FROM edges
        |  UNION ALL
        |  SELECT b, a, pair_cnt FROM edges
        |)
        |SELECT d.antecedent, d.consequent, d.support, ia.item_cnt AS cnt_ante,
        |  CAST(round(1000000.0 * (d.support::DOUBLE / ia.item_cnt::DOUBLE)) AS BIGINT) AS conf_ppm,
        |  CAST(round(1000000.0 * ((d.support * nb.n_baskets)::DOUBLE
        |    / (ia.item_cnt * ic.item_cnt)::DOUBLE)) AS BIGINT) AS lift_ppm
        |FROM directed d
        |JOIN icnt ia ON ia.item = d.antecedent
        |JOIN icnt ic ON ic.item = d.consequent
        |CROSS JOIN nb""".stripMargin,
      // assoc_rules' 26 ride a documented bounded-frame chain (the itemset
      // lattice): wide but every frame is lattice-bounded, never
      // corpus-row-scale
      shufflePin = Some(26),
      planNote = Some("1-row basket-total crossJoin for support/lift")),

    // triangle enumeration on the co-purchase co-occurrence graph
    Entry("q_triangles", (s, dir) =>
      graft.ops.Graph.triangles(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L),
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |)
        |SELECT e1.a, e1.b, e2.b AS c
        |FROM edges e1
        |JOIN edges e2 ON e1.b = e2.a
        |JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
      // r9 pin (the r8 verdict's drift watchlist): triangles is 4 AFTER
      // the edge-set cache (was 24 — the whole co-occurrence derivation
      // planned three times)
      shufflePin = Some(4)),

    // PageRank over the co-purchase digraph — exact integer ppm
    // arithmetic, 3 iterations; oracle unrolls the same recurrence
    Entry("q_pagerank", (s, dir) =>
      graft.ops.Graph.pageRank(
        graft.ops.Graph.cooccurrenceDigraph(
          table(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L),
        "src", "dst", iters = 3),
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), und AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION ALL
        |  SELECT b AS src, a AS dst FROM und
        |), deg AS (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY 1
        |), nodes AS (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e
        |), r0 AS (
        |  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
        |), s1 AS (
        |  SELECT e.dst AS node, CAST(SUM(r0.r // deg.out_deg) AS BIGINT) AS c
        |  FROM r0 JOIN e ON r0.node = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY 1
        |), r1 AS (
        |  SELECT n.node,
        |    CAST(150000 + (COALESCE(s1.c, 0) * 850000) // 1000000 AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN s1 USING (node)
        |), s2 AS (
        |  SELECT e.dst AS node, CAST(SUM(r1.r // deg.out_deg) AS BIGINT) AS c
        |  FROM r1 JOIN e ON r1.node = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT n.node,
        |    CAST(150000 + (COALESCE(s2.c, 0) * 850000) // 1000000 AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN s2 USING (node)
        |), s3 AS (
        |  SELECT e.dst AS node, CAST(SUM(r2.r // deg.out_deg) AS BIGINT) AS c
        |  FROM r2 JOIN e ON r2.node = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY 1
        |)
        |SELECT n.node,
        |  CAST(150000 + (COALESCE(s3.c, 0) * 850000) // 1000000 AS BIGINT) AS rank_ppm
        |FROM nodes n LEFT JOIN s3 USING (node)""".stripMargin,
      // the rounds run at frame-construction time, so the plan is
      // checkpoint-truncated leaves (er_clusters precedent)
      shufflePin = Some(0)),

    // 2-core of the co-purchase graph: peel pendant tails to a fixed
    // point; the oracle unrolls 16 peel rounds (converges in <= 11 on
    // every SF measured; extra rounds are no-ops)
    Entry("q_kcore", (s, dir) =>
      graft.ops.Graph.kCore(
        graft.ops.Graph.cooccurrenceEdges(
          table(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L),
        "a", "b", k = 2),
      // same und construction as q_pagerank; 16 generated peel rounds
      // (fixed unroll >= measured convergence depth at every SF; a round
      // past the fixed point filters nothing). Every CTE is MATERIALIZED:
      // each round references its predecessor twice, so default inlining
      // would expand the base scan 2^16-fold (fd exhaustion, not just CPU)
      {
        val base =
          """WITH inc AS MATERIALIZED (
            |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
            |  FROM lineitem
            |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
            |), ok AS MATERIALIZED (
            |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
            |), inc2 AS MATERIALIZED (
            |  SELECT inc.* FROM inc JOIN ok USING (basket)
            |), und AS MATERIALIZED (
            |  SELECT l.item AS a, r.item AS b
            |  FROM inc2 l JOIN inc2 r USING (basket)
            |  WHERE l.item < r.item
            |  GROUP BY 1, 2
            |  HAVING COUNT(*) >= 2
            |), e0 AS MATERIALIZED (
            |  SELECT a AS src, b AS dst FROM und
            |  UNION ALL
            |  SELECT b AS src, a AS dst FROM und
            |)""".stripMargin
        val rounds = (1 to 16).map { i =>
          s"""d$i AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e${i - 1} GROUP BY 1),
             |k$i AS MATERIALIZED (SELECT src FROM d$i WHERE c >= 2),
             |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
             |        JOIN k$i x ON e.src = x.src JOIN k$i y ON e.dst = y.src)""".stripMargin
        }.mkString(",\n")
        s"""$base,
           |$rounds
           |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
           |FROM e16 GROUP BY 1""".stripMargin
      },
      // r12 sweep (r11 verdict #3): every remaining >2 s-in-suite entry
      // now carries a pin. kcore's visible plan is the checkpoint-
      // truncated final peel (the convergence rounds run at frame-
      // construction time — q_pagerank precedent)
      shufflePin = Some(1)),

    // k-anonymity audit over the customer quasi-identifiers
    Entry("q_k_anonymity", (s, dir) =>
      graft.ops.Privacy.kAnonymity(
        table(s, dir, "customer"), Seq("c_mktsegment", "c_nationkey"), k = 10L),
      """SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       COUNT(*) < 10 AS at_risk
        |FROM customer GROUP BY 1, 2""".stripMargin),

    // seeded-Laplace noisy cohort histogram (epsilon = 0.5) — the
    // reproducible DP-style release over the same customer QI cohorts
    Entry("q_dp_counts", (s, dir) =>
      graft.ops.Privacy.noisyCounts(
        table(s, dir, "customer"), Seq("c_mktsegment", "c_nationkey"),
        epsilon = 0.5, seed = 7L),
      // identical inverse-CDF tree; chr(1)/chr(2) mirror the Spark
      // separator/null sentinels; only ln() is ulp-sensitive -> round 6
      """WITH g AS (
        |  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM customer GROUP BY 1, 2
        |), hx AS (
        |  SELECT *, ('0x' || substr(md5(concat_ws(chr(1),
        |      COALESCE(c_mktsegment, chr(2)),
        |      COALESCE(c_nationkey::VARCHAR, chr(2)), '7')), 1, 13))::BIGINT AS hv
        |  FROM g
        |)
        |SELECT c_mktsegment, c_nationkey, n_rows,
        |  ROUND(n_rows + (-1.0 / 0.5) * sign((hv + 0.5) / 4503599627370496.0 - 0.5)
        |        * ln(1.0 - 2.0 * abs((hv + 0.5) / 4503599627370496.0 - 0.5)), 6)
        |    AS noisy_count
        |FROM hx""".stripMargin),

    // DP stability histogram over the data-derived (event_type@hour)
    // domain: per-user L0 bound (≤4 categories, one vote each), seeded
    // Laplace, noisy-threshold suppression — only (category,
    // noisy_count) is released
    Entry("q_stable_histogram", (s, dir) =>
      graft.ops.Privacy.stableHistogram(
        table(s, dir, "events")
          .withColumn("cat", concat(col("event_type"), lit("@"),
            hour(col("ts")).cast("string"))),
        "user_id", "cat", maxCatsPerUnit = 4, epsilon = 1.0, tau = 12.0),
      // stability histogram: per-user distinct + md5-order L0 cap, then
      // the q_dp_counts inverse-CDF noise tree at scale 4/eps, thresholded
      // on the ROUNDED noisy count (6 dp) so the ln() ulp gap between
      // libm and the JDK cannot flip a borderline suppression
      """WITH uc AS (
        |  SELECT DISTINCT user_id::VARCHAR AS u,
        |         event_type || '@' || date_part('hour', ts)::VARCHAR AS cat
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL
        |), capped AS (
        |  SELECT u, cat FROM (
        |    SELECT u, cat, ROW_NUMBER() OVER (PARTITION BY u
        |      ORDER BY md5(u || chr(1) || cat || chr(1) || '7'), cat) AS rn
        |    FROM uc)
        |  WHERE rn <= 4
        |), c AS (
        |  SELECT cat, COUNT(*)::BIGINT AS n FROM capped GROUP BY 1
        |), hx AS (
        |  SELECT *, ('0x' || substr(md5(cat || chr(1) || '7'), 1, 13))::BIGINT
        |    AS hv
        |  FROM c
        |), rel AS (
        |  SELECT cat,
        |    ROUND(n + (-4.0 / 1.0) * sign((hv + 0.5) / 4503599627370496.0 - 0.5)
        |      * ln(1.0 - 2.0 * abs((hv + 0.5) / 4503599627370496.0 - 0.5)), 6)
        |      AS noisy_count
        |  FROM hx
        |)
        |SELECT cat, noisy_count FROM rel WHERE noisy_count >= 12.0""".stripMargin,
      // stable histogram = unit distinct + per-unit cap window + category
      // agg
      shufflePin = Some(3)),

    // l-diversity audit: does any (status, priority) cohort expose its
    // customers through too few distinct values
    Entry("q_l_diversity", (s, dir) =>
      graft.ops.Privacy.lDiversity(
        table(s, dir, "orders"), Seq("o_orderstatus", "o_orderpriority"),
        "o_custkey", l = 100L),
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_sensitive,
        |       COUNT(DISTINCT o_custkey) < 100 AS at_risk
        |FROM orders GROUP BY 1, 2""".stripMargin),

    // log-odds keyness: which terms characterize the English slice
    // against the rest of the corpus
    Entry("q_keyness", (s, dir) =>
      graft.ops.TextAnalysis.keyness(
        table(s, dir, "documents"), "text", col("lang") === "en"),
      // identical z tree both sides; z ROUNDS to 6 dp before the
      // threshold because ln() skews 1 ulp between libm and the JDK;
      // CASE mirrors Spark's when/otherwise on null lang
      s"""$docToks, x AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g,
         |         unnest(toks) AS term
         |  FROM d WHERE text IS NOT NULL
         |), c AS (
         |  SELECT term, CAST(SUM(g) AS BIGINT) AS n_a,
         |         CAST(SUM(1 - g) AS BIGINT) AS n_b
         |  FROM x GROUP BY 1
         |), t AS (
         |  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb,
         |         COUNT(*) AS v
         |  FROM c
         |), s AS (
         |  SELECT term, n_a, n_b,
         |    ROUND((ln((n_a + 0.5) / (ta + 0.5 * v - n_a - 0.5))
         |     - ln((n_b + 0.5) / (tb + 0.5 * v - n_b - 0.5)))
         |    / sqrt(1.0 / (n_a + 0.5) + 1.0 / (n_b + 0.5)), 6) AS z_score
         |  FROM c CROSS JOIN t
         |)
         |SELECT term, n_a, n_b, z_score FROM s WHERE abs(z_score) >= 1.96""".stripMargin,
      planNote = Some("1-row corpus-totals crossJoin (log-odds prior normalizers)")),

    // meta-robots compliance audit over synthesized crawl HTML: the
    // noindex/nofollow/none directive parse + indexable verdict
    // (mixed-case tags exercise the (?i) fold)
    Entry("q_robots_gate", (s, dir) => {
      val d = table(s, dir, "documents").filter(col("doc_id").isNotNull)
      val html = concat(
        lit("<html><head>"),
        when(col("doc_id") % 5 === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
          .when(col("doc_id") % 5 === 1,
            lit("<META NAME='robots' CONTENT='NOFOLLOW'>"))
          .when(col("doc_id") % 5 === 2,
            lit("<meta name=\"robots\" content=\"index, follow\">"))
          .when(col("doc_id") % 5 === 3,
            lit("<meta content=\"noindex\" id=\"x\" name=\"robots\">"))
          .otherwise(lit("")),
        lit("</head><body>ok</body></html>"))
      graft.ops.Web.metaRobots(d.select(col("doc_id"), html.as("_h")), "_h")
        .select("doc_id", "robots_content", "noindex", "nofollow", "indexable")
    },
      // identical (?i) regexp both sides; DuckDB regexp_extract returns
      // '' on no match like Spark (probed)
      """WITH d AS (
        |  SELECT doc_id,
        |    '<html><head>' ||
        |    CASE doc_id % 5
        |      WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
        |      WHEN 1 THEN '<META NAME=''robots'' CONTENT=''NOFOLLOW''>'
        |      WHEN 2 THEN '<meta name="robots" content="index, follow">'
        |      WHEN 3 THEN '<meta content="noindex" id="x" name="robots">'
        |      ELSE '' END || '</head><body>ok</body></html>' AS h
        |  FROM documents WHERE doc_id IS NOT NULL
        |), x AS (
        |  -- two-stage: isolate the robots <meta> tag (any attribute
        |  -- order), then pull content= from inside it
        |  SELECT doc_id,
        |    lower(regexp_extract(
        |      regexp_extract(h, '(?i)<meta\b[^>]*name\s*=\s*["'']robots["''][^>]*>', 0),
        |      '(?i)content\s*=\s*["'']([^"'']*)["'']', 1)) AS robots_content
        |  FROM d
        |)
        |SELECT doc_id, robots_content,
        |  instr(robots_content, 'noindex') > 0 OR instr(robots_content, 'none') > 0 AS noindex,
        |  instr(robots_content, 'nofollow') > 0 OR instr(robots_content, 'none') > 0 AS nofollow,
        |  NOT (instr(robots_content, 'noindex') > 0 OR instr(robots_content, 'none') > 0) AS indexable
        |FROM x""".stripMargin),

    // SFT admission gate over the synthesized conversation fixture:
    // per-conversation structural verdicts + reason CSV
    Entry("q_chat_validate", (s, dir) =>
      graft.ops.Chat.validateChat(chatTurns(table(s, dir, "documents")),
        "conv_id", "turn_idx", "role", "content"),
      // window rank + conditional aggregates over the shared turn
      // fixture; reason CSV via NULL-skipping concat_ws on both engines
      s"""$chatTurnsSql, tn AS (
         |  -- mirror Chat.validateChat's null normalization EXACTLY so the
         |  -- oracle stays a twin even on corrupt-key conversations the
         |  -- fixture doesn't (yet) synthesize: role/content coalesce to ''
         |  -- for every positional check, keys stay raw for keyed_ok
         |  SELECT conv_id, turn_idx, role AS role0,
         |         COALESCE(lower(trim(role)), '') AS role_n,
         |         COALESCE(content, '') AS content_n
         |  FROM turns
         |), ns AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY conv_id
         |      ORDER BY turn_idx NULLS FIRST, role_n, content_n) AS pos,
         |    SUM(CASE WHEN role_n <> 'system' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY conv_id
         |        ORDER BY turn_idx NULLS FIRST, role_n, content_n) AS nsrn,
         |    -- Spark's max(struct(turn_idx, role)): null idx sorts SMALLEST,
         |    -- role breaks idx ties — spelled as a DESC rank, arg_max would
         |    -- be nondeterministic on tied indexes and NULL on all-null
         |    ROW_NUMBER() OVER (PARTITION BY conv_id
         |      ORDER BY turn_idx DESC NULLS LAST, role_n DESC) AS rpos
         |  FROM tn
         |), v AS (
         |  SELECT conv_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_turns,
         |    bool_and(turn_idx IS NOT NULL AND role0 IS NOT NULL)
         |      AND COUNT(DISTINCT turn_idx) = COUNT(*) AS keyed_ok,
         |    bool_and(role_n <> 'system' OR pos = 1) AS sys_ok,
         |    COALESCE(bool_or(role_n <> 'system' AND nsrn = 1
         |      AND role_n = 'user'), FALSE) AS starts_user,
         |    bool_and(role_n = 'system' OR
         |      role_n = CASE WHEN nsrn % 2 = 1 THEN 'user' ELSE 'assistant' END)
         |      AS alternates,
         |    bool_or(rpos = 1 AND role_n = 'assistant') AS ends_assistant,
         |    bool_and(trim(content_n) <> '') AS no_empty
         |  FROM ns GROUP BY 1
         |)
         |SELECT conv_id, n_turns, keyed_ok, sys_ok, starts_user, alternates,
         |  ends_assistant, no_empty,
         |  keyed_ok AND sys_ok AND starts_user AND alternates
         |    AND ends_assistant AND no_empty AS valid,
         |  concat_ws(',',
         |    CASE WHEN NOT keyed_ok THEN 'bad_keys' END,
         |    CASE WHEN NOT sys_ok THEN 'sys_pos' END,
         |    CASE WHEN NOT starts_user THEN 'starts' END,
         |    CASE WHEN NOT alternates THEN 'alternation' END,
         |    CASE WHEN NOT ends_assistant THEN 'ends' END,
         |    CASE WHEN NOT no_empty THEN 'empty_turn' END) AS reasons
         |FROM v""".stripMargin,
      // r9 chat batch: shuffles on the conversation key only
      shufflePin = Some(1)),

    // turn-ordered template flatten + token budget count
    Entry("q_chat_flatten", (s, dir) =>
      graft.ops.Chat.chatToText(chatTurns(table(s, dir, "documents")),
        "conv_id", "turn_idx", "role", "content"),
      s"""$chatTurnsSql, f AS (
         |  -- mirror Chat.base: unkeyable rows (null role/idx/conv) drop;
         |  -- the agg ORDER BY carries the FULL struct-sort key so tied
         |  -- turn_idx rows (the %19 dup corruption) order deterministically
         |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         |    string_agg('<|' || role || '|>' || content, chr(10)
         |      ORDER BY turn_idx, role, content) AS text
         |  FROM turns
         |  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
         |    AND role IS NOT NULL
         |  GROUP BY 1
         |)
         |SELECT conv_id, n_turns, text,
         |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
         |FROM f""".stripMargin,
      // r9 chat batch: shuffles on the conversation key only
      shufflePin = Some(1)),

    // token-budget truncation on turn boundaries, trimmed to end on an
    // assistant turn
    Entry("q_chat_truncate", (s, dir) =>
      graft.ops.Chat.truncateChatToBudget(chatTurns(table(s, dir, "documents")),
        "conv_id", "turn_idx", "role", "content", budget = 12L),
      s"""$chatTurnsSql, t2 AS (
         |  -- mirror Chat.base's unkeyable-row drop; tied turn_idx rows
         |  -- share their cumulative (RANGE peers) in BOTH engines
         |  SELECT conv_id, turn_idx, role,
         |    CAST(len(regexp_extract_all(content, '\\S+')) AS BIGINT) AS n_tokens
         |  FROM turns
         |  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
         |    AND role IS NOT NULL
         |), c AS (
         |  SELECT *, CAST(SUM(n_tokens)
         |    OVER (PARTITION BY conv_id ORDER BY turn_idx) AS BIGINT) AS cum_tokens
         |  FROM t2
         |), kept AS (
         |  SELECT * FROM c WHERE cum_tokens <= 12
         |), la AS (
         |  SELECT conv_id,
         |    MAX(CASE WHEN role = 'assistant' THEN turn_idx END) AS last_a
         |  FROM kept GROUP BY 1
         |)
         |SELECT kept.conv_id, turn_idx, role, n_tokens, cum_tokens
         |FROM kept JOIN la USING (conv_id)
         |WHERE la.last_a IS NOT NULL AND turn_idx <= la.last_a""".stripMargin,
      // r9 chat batch: shuffles on the conversation key only
      shufflePin = Some(2)),

    // Unicode NFC canonicalization via the native codegen kernel; the
    // fixture plants decomposed combining sequences (spelled as \u
    // escapes — literal glyphs in source are normalization-ambiguous)
    Entry("q_nfc_normalize", (s, dir) => {
      val d = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" cafe\u0301")))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" A\u030angstro\u0308m")))
            .otherwise(col("text")).as("_t"))
      val n = graft.functions.StringExpressions.nfc(col("_t"))
      d.select(col("doc_id"), n.as("text_nfc"),
        (n =!= col("_t")).as("changed"),
        (length(col("_t")) - length(n)).cast("long").as("n_composed"))
    },
      // DuckDB's built-in nfc_normalize implements the same UAX #15 spec
      // as java.text.Normalizer; combining marks built with chr()
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
        |         WHEN doc_id % 3 = 1
        |           THEN text || ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
        |         ELSE text END AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |)
        |SELECT doc_id, nfc_normalize(t) AS text_nfc,
        |  nfc_normalize(t) <> t AS changed,
        |  CAST(length(t) - length(nfc_normalize(t)) AS BIGINT) AS n_composed
        |FROM d""".stripMargin,
      // nfc_normalize is the map-side canonicalization kernel and MUST stay
      // shuffle-free
      shufflePin = Some(0)),

    // sentence-level code-switch report over a deterministically mixed
    // corpus (per-lang marker sentences appended, as q_script_profile)
    Entry("q_lang_mix", (s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("lang").isNotNull)
        .select(col("doc_id"),
          when(col("lang") === "es", concat(col("text"), lit(". el los que y.")))
            .when(col("lang") === "fr", concat(col("text"), lit(". le les des est.")))
            .when(col("lang") === "de", concat(col("text"), lit(". der die das und.")))
            .otherwise(col("text")).as("text"))
      graft.ops.TextAnalysis.langMix(docs, "doc_id", "text")
    },
      // the q_langid marker scoring per SENTENCE, then the per-doc
      // majority via (n DESC, lang) window rank
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'es' THEN text || '. el los que y.'
        |         WHEN lang = 'fr' THEN text || '. le les des est.'
        |         WHEN lang = 'de' THEN text || '. der die das und.'
        |         ELSE text END AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
        |), s AS (
        |  SELECT doc_id, unnest(list_filter(list_transform(
        |    regexp_extract_all(t, '[^.!?]+[.!?]*'), x -> trim(x)),
        |    x -> x <> '')) AS sentence
        |  FROM m
        |), tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(sentence), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM s
        |), sc AS (
        |  SELECT doc_id,
        |    list_contains(toks,'the')::INT + list_contains(toks,'and')::INT
        |      + list_contains(toks,'of')::INT + list_contains(toks,'is')::INT AS s_en,
        |    list_contains(toks,'der')::INT + list_contains(toks,'die')::INT
        |      + list_contains(toks,'das')::INT + list_contains(toks,'und')::INT AS s_de,
        |    list_contains(toks,'el')::INT + list_contains(toks,'los')::INT
        |      + list_contains(toks,'que')::INT + list_contains(toks,'y')::INT AS s_es,
        |    list_contains(toks,'le')::INT + list_contains(toks,'les')::INT
        |      + list_contains(toks,'des')::INT + list_contains(toks,'est')::INT AS s_fr
        |  FROM tk
        |), lg AS (
        |  SELECT doc_id, CASE
        |    WHEN s_en >= greatest(s_en, s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
        |    WHEN s_de >= greatest(s_en, s_de, s_es, s_fr) AND s_de > 0 THEN 'de'
        |    WHEN s_es >= greatest(s_en, s_de, s_es, s_fr) AND s_es > 0 THEN 'es'
        |    WHEN s_fr >= greatest(s_en, s_de, s_es, s_fr) AND s_fr > 0 THEN 'fr'
        |    ELSE 'und' END AS slang
        |  FROM sc
        |), bl AS (
        |  SELECT doc_id, slang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lg GROUP BY 1, 2
        |), r AS (
        |  -- 'und' is excluded from the language count and the majority
        |  -- vote (mirrors TextAnalysis.langMix): rank identified langs
        |  -- first, so the rn=1 row is 'und' only when NOTHING identifies
        |  SELECT doc_id, slang, n,
        |    CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_sents,
        |    CAST(SUM(CASE WHEN slang <> 'und' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id) AS BIGINT) AS n_langs,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY (slang = 'und'), n DESC, slang) AS rn
        |  FROM bl
        |)
        |SELECT doc_id, n_sents, n_langs, slang AS major_lang,
        |  CASE WHEN slang = 'und' THEN 0
        |       ELSE CAST((n * 1000000) // n_sents AS BIGINT) END AS major_ppm,
        |  n_langs > 1 AS code_switched
        |FROM r WHERE rn = 1""".stripMargin,
      // r9 lang-mix batch: shuffles on the doc key only
      shufflePin = Some(2)),

    // RLHF preference audits over the synthesized vote fixture
    Entry("q_pref_contradictions", (s, dir) =>
      graft.ops.Preference.contradictions(prefPairs(table(s, dir, "documents")),
        "prompt_id", "chosen", "rejected"),
      // directed-edge counts joined to their reverses; the distinct-edge
      // two-hop join for cycles mirrors Preference.cycles3
      s"""$prefPairsSql, e AS (
         |  SELECT prompt_id, chosen AS winner, rejected AS loser,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM pp WHERE chosen <> rejected GROUP BY 1, 2, 3
         |)
         |SELECT f.prompt_id, f.winner AS item_a, f.loser AS item_b,
         |       f.n AS n_ab, b.n AS n_ba
         |FROM e f JOIN e b
         |  ON f.prompt_id = b.prompt_id AND f.winner = b.loser
         |  AND f.loser = b.winner
         |WHERE f.winner < f.loser""".stripMargin,
      // r9 preference batch: shuffles on the prompt key only
      shufflePin = Some(2)),

    Entry("q_pref_cycles", (s, dir) =>
      graft.ops.Preference.cycles3(prefPairs(table(s, dir, "documents")),
        "prompt_id", "chosen", "rejected"),
      s"""$prefPairsSql, e AS (
         |  SELECT DISTINCT prompt_id, chosen AS w, rejected AS l
         |  FROM pp WHERE chosen <> rejected
         |)
         |SELECT e1.prompt_id, e1.w AS item_a, e1.l AS item_b, e2.l AS item_c
         |FROM e e1
         |JOIN e e2 ON e1.prompt_id = e2.prompt_id AND e1.l = e2.w
         |JOIN e e3 ON e2.prompt_id = e3.prompt_id AND e2.l = e3.w
         |  AND e3.l = e1.w
         |WHERE e2.l <> e1.w AND e1.w < e1.l AND e1.w < e2.l""".stripMargin,
      // r9 preference batch: shuffles on the prompt key only
      shufflePin = Some(3)),

    Entry("q_pref_winrates", (s, dir) =>
      graft.ops.Preference.winRates(prefPairs(table(s, dir, "documents")),
        "prompt_id", "chosen", "rejected"),
      s"""$prefPairsSql, e AS (
         |  SELECT prompt_id, chosen, rejected FROM pp WHERE chosen <> rejected
         |), u AS (
         |  SELECT prompt_id, chosen AS item, 1 AS w FROM e
         |  UNION ALL SELECT prompt_id, rejected, 0 FROM e
         |)
         |SELECT prompt_id, item,
         |  CAST(SUM(w) AS BIGINT) AS n_wins,
         |  CAST(SUM(1 - w) AS BIGINT) AS n_losses,
         |  CAST((SUM(w) * 1000000) // (SUM(w) + SUM(1 - w)) AS BIGINT) AS win_ppm
         |FROM u GROUP BY 1, 2""".stripMargin,
      // r9 preference batch: shuffles on the prompt key only
      shufflePin = Some(1)),

    Entry("q_pref_length_bias", (s, dir) =>
      graft.ops.Preference.lengthBias(prefPairs(table(s, dir, "documents")),
        prefResponses(s), "prompt_id", "chosen", "rejected",
        "prompt_id", "item", "n_tokens"),
      s"""$prefPairsSql, resp AS (
         |  SELECT i // 7 AS prompt_id, i % 7 AS item,
         |         ((i % 7) * 37 + (i // 7) * 13) % 23 + 1 AS n_tokens
         |  FROM range(0, 140) t(i)
         |), v AS (
         |  SELECT pp.prompt_id, rw.n_tokens AS wlen, rl.n_tokens AS llen
         |  FROM pp
         |  JOIN resp rw ON rw.prompt_id = pp.prompt_id AND rw.item = pp.chosen
         |  JOIN resp rl ON rl.prompt_id = pp.prompt_id AND rl.item = pp.rejected
         |  WHERE pp.chosen <> pp.rejected
         |)
         |SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS n_votes,
         |  CAST(SUM(CASE WHEN wlen > llen THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_longer_wins,
         |  CAST(SUM(CASE WHEN wlen < llen THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shorter_wins,
         |  CAST(SUM(CASE WHEN wlen = llen THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_equal,
         |  CAST((SUM(CASE WHEN wlen > llen THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS longer_win_ppm
         |FROM v GROUP BY 1""".stripMargin,
      shufflePin = Some(1)),

    Entry("q_pref_copeland", (s, dir) =>
      graft.ops.Preference.copeland(prefPairs(table(s, dir, "documents")),
        "prompt_id", "chosen", "rejected")
        .withColumn("rnk", col("rnk").cast("long")),
      s"""$prefPairsSql, e AS (
         |  SELECT prompt_id, chosen AS winner, rejected AS loser,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM pp WHERE chosen <> rejected GROUP BY 1, 2, 3
         |), fwd AS (
         |  SELECT prompt_id, winner AS item_a, loser AS item_b, n AS n_ab
         |  FROM e WHERE winner < loser
         |), bwd AS (
         |  SELECT prompt_id, loser AS item_a, winner AS item_b, n AS n_ba
         |  FROM e WHERE winner > loser
         |), net AS (
         |  SELECT COALESCE(f.prompt_id, b.prompt_id) AS prompt_id,
         |         COALESCE(f.item_a, b.item_a) AS item_a,
         |         COALESCE(f.item_b, b.item_b) AS item_b,
         |         COALESCE(f.n_ab, 0) AS n_ab, COALESCE(b.n_ba, 0) AS n_ba
         |  FROM fwd f FULL JOIN bwd b
         |    ON f.prompt_id = b.prompt_id AND f.item_a = b.item_a
         |    AND f.item_b = b.item_b
         |), per AS (
         |  SELECT prompt_id, item_a AS item,
         |         CASE WHEN n_ab > n_ba THEN 1 ELSE 0 END AS w,
         |         CASE WHEN n_ab < n_ba THEN 1 ELSE 0 END AS l FROM net
         |  UNION ALL
         |  SELECT prompt_id, item_b,
         |         CASE WHEN n_ba > n_ab THEN 1 ELSE 0 END,
         |         CASE WHEN n_ba < n_ab THEN 1 ELSE 0 END FROM net
         |), agg AS (
         |  SELECT prompt_id, item, CAST(COUNT(*) AS BIGINT) AS n_opp,
         |         CAST(SUM(w) AS BIGINT) AS wins, CAST(SUM(l) AS BIGINT) AS losses
         |  FROM per GROUP BY 1, 2
         |)
         |SELECT prompt_id, item, n_opp, wins, losses, wins - losses AS score,
         |  CAST(DENSE_RANK() OVER (PARTITION BY prompt_id
         |    ORDER BY wins - losses DESC, item) AS BIGINT) AS rnk
         |FROM agg""".stripMargin,
      shufflePin = Some(8)),

    // two fixed MM rounds; strengths are raw doubles — identical fp
    // trees both sides (in-order opponent folds), so no rounding knob
    Entry("q_pref_bt", (s, dir) =>
      graft.ops.Preference.bradleyTerry(prefPairs(table(s, dir, "documents")),
        "prompt_id", "chosen", "rejected", iters = 2),
      // the same two unrolled MM rounds: round 1's terms are exact binary
      // halves (any summation order is exact), round 2 folds the opponent
      // list ORDER BY j — DuckDB's list_sum(list(... ORDER BY j)) is the
      // same left fold as Spark's aggregate over the sorted array
      s"""$prefPairsSql, e AS (
         |  SELECT prompt_id, chosen AS winner, rejected AS loser,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM pp WHERE chosen <> rejected GROUP BY 1, 2, 3
         |), fwd AS (
         |  SELECT prompt_id, winner AS item_a, loser AS item_b, n AS n_ab
         |  FROM e WHERE winner < loser
         |), bwd AS (
         |  SELECT prompt_id, loser AS item_a, winner AS item_b, n AS n_ba
         |  FROM e WHERE winner > loser
         |), net AS (
         |  SELECT COALESCE(f.prompt_id, b.prompt_id) AS prompt_id,
         |         COALESCE(f.item_a, b.item_a) AS item_a,
         |         COALESCE(f.item_b, b.item_b) AS item_b,
         |         COALESCE(f.n_ab, 0) AS n_ab, COALESCE(b.n_ba, 0) AS n_ba
         |  FROM fwd f FULL JOIN bwd b
         |    ON f.prompt_id = b.prompt_id AND f.item_a = b.item_a
         |    AND f.item_b = b.item_b
         |), pairs AS (
         |  SELECT prompt_id, item_a AS i, item_b AS j, n_ab + n_ba AS nij FROM net
         |  UNION ALL
         |  SELECT prompt_id, item_b, item_a, n_ab + n_ba FROM net
         |), wins AS (
         |  SELECT prompt_id, winner AS i, CAST(SUM(n) AS BIGINT) AS n_wins
         |  FROM e GROUP BY 1, 2
         |), games AS (
         |  SELECT prompt_id, i, CAST(SUM(nij) AS BIGINT) AS n_games
         |  FROM pairs GROUP BY 1, 2
         |), stats AS (
         |  SELECT g.prompt_id, g.i, g.n_games,
         |         CAST(COALESCE(w.n_wins, 0) AS BIGINT) AS n_wins
         |  FROM games g LEFT JOIN wins w
         |    ON w.prompt_id = g.prompt_id AND w.i = g.i
         |), s1 AS (
         |  SELECT p.prompt_id, p.i,
         |    CAST(st.n_wins AS DOUBLE) /
         |      SUM(CAST(p.nij AS DOUBLE) / (1.0 + 1.0)) AS s
         |  FROM pairs p JOIN stats st
         |    ON st.prompt_id = p.prompt_id AND st.i = p.i
         |  GROUP BY p.prompt_id, p.i, st.n_wins
         |), s2 AS (
         |  SELECT p.prompt_id, p.i,
         |    CAST(st.n_wins AS DOUBLE) /
         |      list_sum(list(CAST(p.nij AS DOUBLE) / (si.s + sj.s)
         |        ORDER BY p.j)) AS s
         |  FROM pairs p
         |  JOIN s1 si ON si.prompt_id = p.prompt_id AND si.i = p.i
         |  JOIN s1 sj ON sj.prompt_id = p.prompt_id AND sj.i = p.j
         |  JOIN stats st ON st.prompt_id = p.prompt_id AND st.i = p.i
         |  GROUP BY p.prompt_id, p.i, st.n_wins
         |)
         |SELECT st.prompt_id, st.i AS item, st.n_games, st.n_wins,
         |       s2.s AS strength
         |FROM stats st JOIN s2
         |  ON s2.prompt_id = st.prompt_id AND s2.i = st.i""".stripMargin,
      // BT is 4 POST-CACHE (the bounded pairs/stats frames are materialized
      // once; uncached the 2-round lineage planned 81 exchanges)
      shufflePin = Some(4)),

    // count-min sketch self-audit over the event actor key: md5-seeded
    // cells, min-of-depth estimates vs the exact per-key counts
    Entry("q_countmin", (s, dir) =>
      graft.ops.Sketch.countMinAudit(table(s, dir, "events"), "user_id",
        depth = 3, width = 64),
      // md5-seeded cells: identical hash idiom to the Spark hashBucket
      // (first 8 hex chars of md5("r:key") as an integer, mod width)
      """WITH k AS (
        |  SELECT user_id AS key FROM events WHERE user_id IS NOT NULL
        |), seeds AS (SELECT unnest(range(0, 3)) AS r
        |), c AS (
        |  SELECT key, r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |      CAST(key AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket
        |  FROM k CROSS JOIN seeds
        |), sk AS (
        |  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM c GROUP BY 1, 2
        |), ex AS (
        |  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_exact FROM k GROUP BY 1
        |), q AS (
        |  SELECT ex.key, ex.n_exact, seeds.r,
        |    ('0x' || substr(md5(CAST(seeds.r AS VARCHAR) || ':' ||
        |      CAST(ex.key AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket
        |  FROM ex CROSS JOIN seeds
        |)
        |SELECT q.key, q.n_exact, CAST(MIN(sk.cnt) AS BIGINT) AS est,
        |  CAST(MIN(sk.cnt) - q.n_exact AS BIGINT) AS overcount
        |FROM q JOIN sk ON sk.r = q.r AND sk.bucket = q.bucket
        |GROUP BY 1, 2""".stripMargin,
      // countmin is the sketch agg + exact agg (the probe join is
      // broadcast)
      shufflePin = Some(2)),

    // ordered-EMD distribution audit: does any priority cohort's
    // status mix stray from the corpus-wide one by more than 2%?
    Entry("q_t_closeness", (s, dir) =>
      graft.ops.Privacy.tCloseness(table(s, dir, "orders"),
        Seq("o_orderpriority"), "o_orderstatus", tPpm = 20000L),
      // exact-integer ordered EMD on the common denominator n·N; the
      // dense grid steps the cumulative even where a cohort misses a value
      """WITH b AS (
        |  SELECT o_orderpriority AS qi, o_orderstatus AS v FROM orders
        |  WHERE o_orderstatus IS NOT NULL
        |), g AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS gn FROM b GROUP BY 1
        |), gc AS (
        |  SELECT v, CAST(SUM(gn) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS g_cum FROM g
        |), cs AS (
        |  SELECT qi, CAST(COUNT(*) AS BIGINT) AS n_rows FROM b GROUP BY 1
        |), ch AS (
        |  SELECT qi, v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(MAX(g_cum) AS BIGINT) AS n_total,
        |         CAST(COUNT(*) AS BIGINT) AS m FROM gc
        |), grid AS (
        |  SELECT cs.qi, cs.n_rows, gc.v, gc.g_cum,
        |    CAST(SUM(COALESCE(ch.c, 0)) OVER (PARTITION BY cs.qi ORDER BY gc.v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c_cum
        |  FROM cs CROSS JOIN gc
        |  LEFT JOIN ch ON ch.qi = cs.qi AND ch.v = gc.v
        |), emd AS (
        |  SELECT grid.qi, grid.n_rows,
        |    CAST((SUM(ABS(grid.c_cum * tot.n_total -
        |      grid.g_cum * grid.n_rows)) * 1000000) //
        |      (GREATEST(tot.m - 1, 1) * grid.n_rows * tot.n_total) AS BIGINT)
        |      AS emd_ppm
        |  FROM grid CROSS JOIN tot
        |  GROUP BY grid.qi, grid.n_rows, tot.m, tot.n_total
        |)
        |SELECT qi AS o_orderpriority, n_rows, emd_ppm,
        |  emd_ppm > 20000 AS at_risk
        |FROM emd""".stripMargin,
      // tCloseness is histogram aggs + bounded-grid windows
      shufflePin = Some(6),
      planNote = Some("m-row ordered-value frame + 1-row totals broadcast crossJoins (dense EMD grid; m = |sensitive domain|, single digits)")),

    // per-source corpus datasheet: volume, lexical diversity,
    // duplication, language spread — the mixture-decision report
    Entry("q_source_datasheet", (s, dir) =>
      graft.ops.TextAnalysis.sourceDatasheet(
        table(s, dir, "documents"), "source", "doc_id", "text", "lang"),
      // doc-level agg + token-type agg joined on source; fingerprint,
      // token-count, and ppm idioms identical to q_dedup_exact/q_domain_stats
      """WITH d0 AS (
        |  SELECT source, lang, text, doc_id FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), da AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT md5(COALESCE(array_to_string(list_sort(list_distinct(
        |      list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                  x -> x <> ''))), ' '), ''))) AS BIGINT) AS n_distinct_text,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM d0 GROUP BY 1
        |), ty AS (
        |  SELECT source, CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
        |  FROM (SELECT source,
        |          unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                             x -> x <> '')) AS t
        |        FROM d0)
        |  GROUP BY 1
        |)
        |SELECT da.source, n_docs, n_tokens,
        |  COALESCE(ty.n_types, 0) AS n_types,
        |  CASE WHEN n_tokens > 0
        |       THEN CAST((COALESCE(ty.n_types, 0) * 1000000) // n_tokens AS BIGINT)
        |  END AS ttr_ppm,
        |  n_langs, n_distinct_text,
        |  CAST(((n_docs - n_distinct_text) * 1000000) // n_docs AS BIGINT) AS dup_ppm
        |FROM da LEFT JOIN ty USING (source)""".stripMargin),

    // purity of the fixed-centroid clustering against the embedding
    // labels — the clustering-vs-labels agreement report
    Entry("q_cluster_purity", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val asg = graft.ops.Similarity.assignToCentroids(
        e, "vec_id", "embedding", kmeansCentroids)
        .select(col("vec_id"), col("cluster"))
      graft.ops.Similarity.clusterPurity(
        asg.join(e.select(col("vec_id"), col("label")), "vec_id"),
        "cluster", "label")
    },
      // the q_kmeans_assign sims array + per-cluster majority vote
      {
        val cents = kmeansCentroids.map(_.map(x => java.lang.Double.toString(x)))
        val norms = kmeansCentroids.map(c =>
          java.lang.Double.toString(math.sqrt(c.map(x => x * x).sum)))
        val sims = cents.zip(norms).map { case (c, cn) =>
          val lit = c.mkString("[", ", ", "]")
          s"list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * ($lit)[i])) / (vn * $cn)"
        }.mkString("[", ",\n       ", "]")
        s"""WITH v AS (
           |  SELECT vec_id, embedding, label,
           |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS vn
           |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
           |), asg AS (
           |  SELECT vec_id, CAST(list_position($sims,
           |    list_max($sims)) - 1 AS BIGINT) AS cluster, CAST(label AS BIGINT) AS label
           |  FROM v WHERE label IS NOT NULL
           |), cl AS (
           |  SELECT cluster, label, COUNT(*) AS c FROM asg GROUP BY 1, 2
           |), tot AS (
           |  SELECT cluster, CAST(SUM(c) AS BIGINT) AS n FROM cl GROUP BY 1
           |), best AS (
           |  SELECT cluster, label, c,
           |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY c DESC, label) AS rn
           |  FROM cl
           |)
           |SELECT b.cluster, t.n AS n_vectors, b.label AS majority_label,
           |  CAST(b.c AS BIGINT) AS n_majority,
           |  CAST((b.c * 1000000) // t.n AS BIGINT) AS purity_ppm
           |FROM best b JOIN tot t USING (cluster) WHERE b.rn = 1""".stripMargin
      }),

    // KMV distinct-count sketch: distinct parts per return flag —
    // deterministic md5 order statistics, reproduced exactly in SQL
    Entry("q_kmv_distinct", (s, dir) =>
      graft.ops.Sketch.kmvDistinct(
        table(s, dir, "lineitem"), "l_returnflag", "l_partkey", k = 64),
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag AS group_key,
        |    ('0x' || substr(md5(l_partkey::VARCHAR), 1, 13))::BIGINT AS hv
        |  FROM lineitem
        |  WHERE l_partkey IS NOT NULL
        |), r AS (
        |  SELECT group_key, hv,
        |    ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY hv) AS rn,
        |    COUNT(*) OVER (PARTITION BY group_key) AS nd
        |  FROM h
        |)
        |SELECT group_key,
        |  CAST(CASE WHEN MAX(nd) < 64 THEN MAX(nd)
        |       ELSE 63 * 4503599627370496 // MAX(CASE WHEN rn = 64 THEN hv END)
        |       END AS BIGINT) AS est_distinct
        |FROM r GROUP BY 1""".stripMargin),

    // deterministic HyperLogLog (md5-register, engine-mergeable) vs
    // exact distinct — user_id exercises the linear-counting branch
    // (150 distinct, m=256), event_id the harmonic branch (~2000)
    Entry("q_hll", (s, dir) => {
      val ev = table(s, dir, "events")
      graft.ops.Sketch.hllDistinct(ev, "event_type", "user_id")
        .withColumn("key_kind", lit("user_id"))
        .unionByName(
          graft.ops.Sketch.hllDistinct(ev, "event_type", "event_id")
            .withColumn("key_kind", lit("event_id")))
    },
      s"""${hllLegSql("user_id")}
         |UNION ALL
         |${hllLegSql("event_id")}""".stripMargin,
      // hll = 2 key-kinds × (register agg + bucket-sorted estimate agg +
      // 2-phase exact countDistinct leg)
      shufflePin = Some(8)),

    // dominant embedding direction by 3-round power iteration
    // (all-but-the-top): two-level ordered folds, d-double driver state
    Entry("q_pca_top", (s, dir) =>
      graft.ops.Pca.topComponent(s, table(s, dir, "embeddings"),
        "vec_id", "embedding"),
      s"""$pcaSqlPrefix
         |SELECT CAST(u.i - 1 AS BIGINT) AS dim, ROUND(u.x, 6) AS loading
         |FROM (SELECT unnest(list_transform(vl, (x, i) -> struct_pack(i := i, x := x))) AS u FROM vf)""".stripMargin,
      // the AUDITED plan is map-side — the bounded power-iteration prep
      // runs at construction (codebook precedent), driver state is d doubles
      // per round
      shufflePin = Some(0),
      widthPin = Some(2)),

    // per-vector projection onto that direction (the component an
    // all-but-the-top repair subtracts)
    Entry("q_abtt", (s, dir) =>
      graft.ops.Pca.projections(table(s, dir, "embeddings"),
        "vec_id", "embedding"),
      s"""$pcaSqlPrefix
         |SELECT vec_id, ROUND(list_sum(list_transform(cv, (x, i) -> x * vl[i])), 6) AS proj
         |FROM c CROSS JOIN vf""".stripMargin,
      // the AUDITED plan is map-side — the bounded power-iteration prep
      // runs at construction (the q_pca_top shape)
      shufflePin = Some(1),
      widthPin = Some(3)),

    // Kaplan–Meier right-censored churn survival over customer order
    // histories: lifetime = first..last order day, censored within 90
    // days of the horizon (events users are all horizon-active, so
    // orders is the table where the hazard fold actually moves:
    // ~1000/1500 customers churn across ~800 distinct lifetimes)
    Entry("q_survival", (s, dir) =>
      graft.ops.Survival.kaplanMeier(table(s, dir, "orders"),
        "o_custkey", "o_orderdate", censorDays = 90),
      // Kaplan–Meier twin: exact BIGINT risk sets, ln-term list fold in
      // duration order; the d = n terminal factor (ln 0) masks to NULL on
      // both engines (Spark ln(0) is NULL, DuckDB -inf)
      """WITH pu AS (
        |  SELECT o_custkey AS u, min(date_trunc('day', o_orderdate)) AS f,
        |         max(date_trunc('day', o_orderdate)) AS l
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |  GROUP BY 1
        |), hz AS (SELECT max(l) AS h FROM pu),
        |us AS (
        |  SELECT u, date_diff('day', f, l)::BIGINT AS t,
        |         date_diff('day', l, h) > 90 AS churned
        |  FROM pu, hz
        |), bt AS (
        |  SELECT t, CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         COUNT(*)::BIGINT AS c
        |  FROM us GROUP BY 1
        |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bt),
        |rk AS (
        |  SELECT t, d, c,
        |    CAST(tot.n - COALESCE(SUM(c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nr
        |  FROM bt, tot
        |), arr AS (
        |  SELECT list(struct_pack(t := t,
        |    term := ln(1.0 - d::DOUBLE / nr::DOUBLE)) ORDER BY t) AS a
        |  FROM rk WHERE d < nr
        |)
        |SELECT rk.t AS t_days, rk.nr AS n_risk, rk.d AS d_churn, rk.c AS n_end,
        |  CASE WHEN rk.d >= rk.nr THEN NULL
        |       ELSE list_sum(list_transform(list_filter(arr.a, s -> s.t <= rk.t),
        |                                    s -> s.term)) END AS log_surv
        |FROM rk, arr""".stripMargin,
      // survival's visible shuffle is the per-user agg (the two tiny
      // cached frames truncate the rest)
      shufflePin = Some(1),
      planNote = Some("three 1-row broadcasts (horizon, user total, sorted hazard-term array) onto calendar-bounded frames")),

    // two-cohort log-rank churn test over the same observation model,
    // cohorts = md5 parity arms; O/E/V folds in duration order
    Entry("q_logrank", (s, dir) =>
      graft.ops.Survival.logRank(table(s, dir, "orders"),
        "o_custkey", "o_orderdate",
        graft.ops.Sampling.hashBucket(col("o_custkey"), 2),
        censorDays = 90),
      // log-rank: same per-user frame + md5 parity cohorts; E1/V fold in
      // duration order, no-variance degenerate decided on exact integers
      """WITH pu AS (
        |  SELECT o_custkey AS u,
        |    ('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))::BIGINT % 2 AS g,
        |    min(date_trunc('day', o_orderdate)) AS f,
        |    max(date_trunc('day', o_orderdate)) AS l
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |  GROUP BY 1, 2
        |), hz AS (SELECT max(l) AS h FROM pu),
        |us AS (
        |  SELECT u, g, date_diff('day', f, l)::BIGINT AS t,
        |         date_diff('day', l, h) > 90 AS churned
        |  FROM pu, hz
        |), bt AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN churned AND g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    COUNT(*)::BIGINT AS c,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM us GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(c1) AS BIGINT) AS n1
        |  FROM bt
        |), rk AS (
        |  SELECT t, d, d1,
        |    CAST(tot.n - COALESCE(SUM(c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nr,
        |    CAST(tot.n1 - COALESCE(SUM(c1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1r
        |  FROM bt, tot
        |), ev AS (SELECT * FROM rk WHERE d > 0),
        |fold AS (
        |  SELECT COUNT(*)::BIGINT AS n_event_times,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    MAX(CASE WHEN n1r > 0 AND n1r < nr AND nr > 1 THEN 1 END) AS hasv,
        |    list(struct_pack(t := t, d := d, nr := nr, n1r := n1r)
        |         ORDER BY t) AS a
        |  FROM ev
        |), ee AS (
        |  SELECT *,
        |    COALESCE(list_sum(list_transform(a, s ->
        |      s.d::DOUBLE * s.n1r::DOUBLE / s.nr::DOUBLE)), 0.0) AS e1r,
        |    COALESCE(list_sum(list_transform(a, s ->
        |      CASE WHEN s.nr > 1 THEN
        |        s.d::DOUBLE * (s.n1r::DOUBLE / s.nr::DOUBLE)
        |          * (1.0 - s.n1r::DOUBLE / s.nr::DOUBLE)
        |          * (s.nr::DOUBLE - s.d::DOUBLE) / (s.nr::DOUBLE - 1.0)
        |      ELSE 0.0 END)), 0.0) AS vr
        |  FROM fold
        |)
        |SELECT tot.n AS n_users, tot.n1 AS n_users_1, ee.n_event_times,
        |  COALESCE(ee.o1, 0) AS o1, ROUND(ee.e1r, 6) AS e1, ROUND(ee.vr, 6) AS v,
        |  CASE WHEN ee.hasv IS NULL THEN NULL
        |       ELSE ROUND((ee.o1::DOUBLE - ee.e1r) / sqrt(ee.vr), 6) END AS z,
        |  CASE WHEN ee.hasv IS NULL THEN NULL
        |       ELSE ROUND(((ee.o1::DOUBLE - ee.e1r) / sqrt(ee.vr))
        |              * ((ee.o1::DOUBLE - ee.e1r) / sqrt(ee.vr)), 6) END AS chi2
        |FROM ee, tot""".stripMargin,
      planNote = Some("1-row totals + at-risk normalizer frames crossJoined onto the |event-times|-bounded hazard table")),

    // Johnson–Lindenstrauss ±1 sign projection of the 64-d embeddings
    // to 16 components; the sign matrix regenerates from md5("j_i")
    Entry("q_jl_project", (s, dir) =>
      graft.ops.Projection.jlProject(s, table(s, dir, "embeddings"),
        "vec_id", "embedding", d = 64, k = 16),
      // JL sign projection: the ±1 matrix regenerates symbolically from
      // md5 parity; in-order fold over dims ≡ Spark's zip_with aggregate
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         |), sg AS (
         |  SELECT j,
         |    list_transform(range(0, 64), i ->
         |      CASE WHEN ('0x' || substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 8))::BIGINT % 2 = 0
         |           THEN 1.0 ELSE -1.0 END) AS s
         |  FROM range(0, 16) t(j)
         |)
         |SELECT e.vec_id, CAST(sg.j AS BIGINT) AS comp,
         |  list_sum(list_transform(range(0, 64), i -> e.v[i + 1] * sg.s[i + 1])) AS proj
         |FROM e, sg""".stripMargin,
      // JL projection is the data-independent-sketch contract: 0 shuffles
      // (sign matrix broadcast, fold map-side)
      shufflePin = Some(0),
      planNote = Some("k-row (16) sign-matrix broadcast — the projection is a map-side lookup, O(n*k) by construction")),

    // per-vector JL norm-distortion audit (d/k · ‖y‖²/‖x‖², near 1)
    Entry("q_jl_audit", (s, dir) =>
      graft.ops.Projection.jlDistortion(s, table(s, dir, "embeddings"),
        "vec_id", "embedding", d = 64, k = 16),
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         |), sg AS (
         |  SELECT j,
         |    list_transform(range(0, 64), i ->
         |      CASE WHEN ('0x' || substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 8))::BIGINT % 2 = 0
         |           THEN 1.0 ELSE -1.0 END) AS s
         |  FROM range(0, 16) t(j)
         |), p AS (
         |  SELECT e.vec_id, sg.j AS comp,
         |    list_sum(list_transform(range(0, 64), i -> e.v[i + 1] * sg.s[i + 1])) AS proj
         |  FROM e, sg
         |), yn AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(list(struct_pack(c := comp, p := proj) ORDER BY comp),
         |                            s -> s.p * s.p)) AS ynorm
         |  FROM p GROUP BY 1
         |), xn AS (
         |  SELECT vec_id, list_sum(list_transform(v, x -> x * x)) AS xnorm FROM e
         |)
         |SELECT xn.vec_id,
         |  CASE WHEN xn.xnorm = 0 THEN NULL
         |       ELSE (64.0 / 16.0) * yn.ynorm / xn.xnorm END AS ratio
         |FROM xn JOIN yn USING (vec_id)""".stripMargin,
      // the audit adds one per-vector agg to the map-side JL projection
      shufflePin = Some(1),
      planNote = Some("inherits the k-row sign-matrix broadcast from the jlProject chain")),

    // linear multi-touch attribution: each purchase splits 1e6 ppm
    // equally over its prior-7-day touches (remainder to the last),
    // via the bucketed range join — never a nested-loop range plan
    Entry("q_attribution", (s, dir) =>
      graft.ops.Attribution.linearTouch(table(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", "purchase"),
      // attribution twin: plain inequality join (the bucketed join's
      // oracle baseline), floor-second containment + strict µs gate,
      // exact BIGINT ppm with remainder-to-last
      """WITH c AS (
        |  SELECT event_id AS conv_id, user_id AS u, ts AS cts
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND event_id IS NOT NULL
        |), t AS (
        |  SELECT event_id AS tid, user_id AS u, ts AS tts, event_type AS ttype
        |  FROM events WHERE event_type <> 'purchase' AND event_type IS NOT NULL
        |    AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
        |), p AS (
        |  SELECT c.conv_id, t.tid, t.tts, t.ttype
        |  FROM c JOIN t ON c.u = t.u
        |    AND FLOOR(epoch(t.tts)) >= FLOOR(epoch(c.cts)) - 604800
        |    AND FLOOR(epoch(t.tts)) <= FLOOR(epoch(c.cts))
        |    AND t.tts < c.cts
        |), r AS (
        |  SELECT ttype, conv_id,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY tts, tid) AS rn,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS n
        |  FROM p
        |)
        |SELECT ttype AS touch_type,
        |  CAST(SUM(1000000 // n +
        |           CASE WHEN rn = n THEN 1000000 % n ELSE 0 END) AS BIGINT)
        |    AS credit_ppm,
        |  COUNT(*)::BIGINT AS n_touches,
        |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions
        |FROM r GROUP BY 1""".stripMargin,
      // attribution = bucketed range join + per-conversion window + channel
      // agg
      shufflePin = Some(2)),

    // Welch two-sample z on md5-split arms: per-user spend in exact
    // cents; mean/var/z through one fixed tree, raw-double parity
    Entry("q_ab_ztest", (s, dir) =>
      graft.ops.Stats.welchZ(
        table(s, dir, "events").filter(col("value").isNotNull),
        "user_id", round(col("value") * 100).cast("long")),
      // Welch z twin: identical md5-parity assignment and one identical
      // mean/var/z expression tree from exact BIGINT sufficient stats
      """WITH per AS (
        |  SELECT user_id AS u,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1
        |), a AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(u::VARCHAR), 1, 8))::BIGINT % 2 = 0
        |              THEN 0 ELSE 1 END AS v, x
        |  FROM per
        |), g AS (
        |  SELECT v, COUNT(*)::BIGINT AS n, CAST(SUM(x) AS BIGINT) AS s,
        |         CAST(SUM(x * x) AS BIGINT) AS s2
        |  FROM a GROUP BY 1
        |), m AS (
        |  SELECT v, n, s::DOUBLE / n::DOUBLE AS mean,
        |    CASE WHEN n < 2 THEN NULL
        |         ELSE (s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
        |              / (n - 1)::DOUBLE END AS var
        |  FROM g
        |)
        |SELECT c.n AS n_control, t.n AS n_treat, c.mean AS mean_control,
        |  t.mean AS mean_treat, c.var AS var_control, t.var AS var_treat,
        |  CASE WHEN c.var IS NULL OR t.var IS NULL THEN NULL
        |       ELSE (t.mean - c.mean) /
        |            sqrt(t.var / t.n::DOUBLE + c.var / c.n::DOUBLE) END AS z
        |FROM (SELECT * FROM m WHERE v = 0) c, (SELECT * FROM m WHERE v = 1) t""".stripMargin,
      // the z-test's visible plan is cache-truncated to the 1-row math
      shufflePin = Some(0),
      planNote = Some("two 1-row arm-summary frames crossJoined into the single output row")),

    // exact-p permutation test per event type: md5-derandomized unit
    // relabels, cross-multiplied integer exceedance — p is a small
    // rational both engines state identically
    Entry("q_perm_test", (s, dir) =>
      graft.ops.Bootstrap.permutationTest(
        table(s, dir, "events").filter(col("value").isNotNull),
        "user_id", "event_type", round(col("value") * 100).cast("long"),
        reps = 99),
      s"""$permTestSql
         |SELECT * FROM pt""".stripMargin),

    // Benjamini–Hochberg over that family: the multiple-testing gate a
    // per-segment metrics sweep needs (exact rational p's in, stable
    // rank order, q-values + step-up rejections out)
    Entry("q_fdr_bh", (s, dir) =>
      graft.ops.Stats.bhFdr(
        graft.ops.Bootstrap.permutationTest(
          table(s, dir, "events").filter(col("value").isNotNull),
          "user_id", "event_type", round(col("value") * 100).cast("long"),
          reps = 99),
        "stratum", "p", alpha = 0.1),
      // BH over the permutation family: rank by (p, id), reverse-running
      // min for q, step-up k* for rejections — all on the tiny test frame
      s"""$permTestSql, wp AS (
         |  SELECT stratum AS test_id, p FROM pt WHERE p IS NOT NULL
         |), mm AS (SELECT COUNT(*)::BIGINT AS m FROM wp),
         |rk AS (
         |  SELECT test_id, p,
         |    CAST(ROW_NUMBER() OVER (ORDER BY p, test_id) AS BIGINT) AS rank, m
         |  FROM wp, mm
         |), qq AS (
         |  SELECT *,
         |    MIN(least(1.0, p * m::DOUBLE / rank::DOUBLE)) OVER (
         |      ORDER BY p DESC, test_id DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q,
         |    p <= 0.1 * rank::DOUBLE / m::DOUBLE AS pass
         |  FROM rk
         |), ks AS (
         |  SELECT COALESCE(MAX(CASE WHEN pass THEN rank END), 0) AS k FROM qq
         |)
         |SELECT test_id, p, rank, ROUND(q, 6) AS q_value,
         |       rank <= ks.k AS rejected
         |FROM qq, ks
         |UNION ALL
         |SELECT stratum AS test_id, p, NULL, NULL, NULL
         |FROM pt WHERE p IS NULL""".stripMargin,
      // fdr_bh = per-test p-value chain + the tiny BH frame
      shufflePin = Some(5),
      planNote = Some("1-row test-count crossJoin (the BH step-up denominator m)")),

    // deterministic Poisson bootstrap: 64 replicate means of per-user
    // spend cents, multiplicities from md5-threshold cuts
    Entry("q_bootstrap_ci", (s, dir) =>
      graft.ops.Bootstrap.poissonBootstrapMeans(
        table(s, dir, "events").filter(col("value").isNotNull),
        "user_id", round(col("value") * 100).cast("long"), reps = 64),
      // Poisson-bootstrap twin: same md5 ppm hash, same cumulative
      // thresholds, exact BIGINT weighted sums per replicate
      """WITH per AS (
        |  SELECT user_id AS u,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1
        |), slots AS (
        |  SELECT u, x, r.rep,
        |    ('0x' || substr(md5(u::VARCHAR || '_' || r.rep::VARCHAR), 1, 8))::BIGINT
        |      % 1000000 AS h
        |  FROM per, range(0, 64) r(rep)
        |), m AS (
        |  SELECT rep, x,
        |    CASE WHEN h < 367879 THEN 0 WHEN h < 735758 THEN 1
        |         WHEN h < 919698 THEN 2 WHEN h < 981011 THEN 3
        |         WHEN h < 996340 THEN 4 WHEN h < 999405 THEN 5
        |         WHEN h < 999916 THEN 6 WHEN h < 999989 THEN 7
        |         WHEN h < 999998 THEN 8 ELSE 9 END AS mult
        |  FROM slots
        |)
        |SELECT CAST(rep AS BIGINT) AS rep, CAST(SUM(mult) AS BIGINT) AS n_eff,
        |  CAST(SUM(mult * x) AS BIGINT) AS wsum,
        |  CASE WHEN SUM(mult) = 0 THEN NULL
        |       ELSE CAST(SUM(mult * x) AS BIGINT)::DOUBLE /
        |            CAST(SUM(mult) AS BIGINT)::DOUBLE END AS mean
        |FROM m GROUP BY 1""".stripMargin,
      // bootstrap = per-unit agg + replicate agg (the B-way explode is
      // map-side between them)
      shufflePin = Some(2)),

    // inter-event-gap regularity (cv² of floor-second gaps): metronome
    // and same-second-burst actors flagged bot_like
    Entry("q_bot_score", (s, dir) =>
      graft.ops.TimeSeries.interEventRegularity(
        table(s, dir, "events"), "user_id", "ts"),
      // regularity twin: floor-second lag gaps (tie order cannot move the
      // gap multiset), exact BIGINT n/Σg/Σg², one fixed cv² tree
      """WITH e AS (
        |  SELECT user_id AS a, FLOOR(epoch(ts))::BIGINT AS s
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), g AS (
        |  SELECT a, s - lag(s) OVER (PARTITION BY a ORDER BY s) AS gp FROM e
        |), ag AS (
        |  SELECT a, COUNT(*)::BIGINT AS n_events,
        |    CAST(SUM(gp) AS BIGINT) AS sg, CAST(SUM(gp * gp) AS BIGINT) AS sg2,
        |    COUNT(gp)::BIGINT AS ng
        |  FROM g GROUP BY 1 HAVING COUNT(*) >= 5
        |), sc AS (
        |  SELECT a AS user_id, n_events,
        |    sg::DOUBLE / ng::DOUBLE AS mean_gap_s,
        |    CASE WHEN sg = 0 THEN NULL
        |         ELSE ((sg2::DOUBLE - sg::DOUBLE * sg::DOUBLE / ng::DOUBLE)
        |               / (ng - 1)::DOUBLE)
        |              / ((sg::DOUBLE / ng::DOUBLE) * (sg::DOUBLE / ng::DOUBLE))
        |    END AS cv2
        |  FROM ag
        |)
        |SELECT user_id, n_events, mean_gap_s, cv2,
        |  (cv2 IS NULL OR cv2 < 0.09) AS bot_like
        |FROM sc""".stripMargin,
      // bot-score = one per-actor lag window
      shufflePin = Some(1)),

    // difference-in-differences: md5-split arms × Jan-16 cutover —
    // four exact-BIGINT cell means, one fixed did tree
    Entry("q_did", (s, dir) =>
      graft.ops.Stats.diffInDiff(
        table(s, dir, "events").filter(col("value").isNotNull),
        "user_id", "ts", round(col("value") * 100).cast("long"),
        "2024-01-16 00:00:00"),
      // DiD twin: same md5 arms, same cutover, identical cell-mean and
      // did trees; empty cells NULL-propagate through the did arithmetic
      """WITH per AS (
        |  SELECT user_id AS u,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS p,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), cells AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(u::VARCHAR), 1, 8))::BIGINT % 2 = 0
        |              THEN 0 ELSE 1 END AS v,
        |         p, COUNT(*)::BIGINT AS n, CAST(SUM(x) AS BIGINT) AS s
        |  FROM per GROUP BY 1, 2
        |), cm AS (
        |  SELECT v, p, n, s::DOUBLE / n::DOUBLE AS mean FROM cells
        |), r AS (
        |  SELECT
        |    CAST(COALESCE(MAX(CASE WHEN v = 0 AND p = 0 THEN n END), 0) AS BIGINT) AS n_c_pre,
        |    CAST(COALESCE(MAX(CASE WHEN v = 0 AND p = 1 THEN n END), 0) AS BIGINT) AS n_c_post,
        |    CAST(COALESCE(MAX(CASE WHEN v = 1 AND p = 0 THEN n END), 0) AS BIGINT) AS n_t_pre,
        |    CAST(COALESCE(MAX(CASE WHEN v = 1 AND p = 1 THEN n END), 0) AS BIGINT) AS n_t_post,
        |    MAX(CASE WHEN v = 0 AND p = 0 THEN mean END) AS mean_c_pre,
        |    MAX(CASE WHEN v = 0 AND p = 1 THEN mean END) AS mean_c_post,
        |    MAX(CASE WHEN v = 1 AND p = 0 THEN mean END) AS mean_t_pre,
        |    MAX(CASE WHEN v = 1 AND p = 1 THEN mean END) AS mean_t_post
        |  FROM cm
        |)
        |SELECT r.*, (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did
        |FROM r""".stripMargin,
      // did = per-(unit,period) agg + 4-cell agg + the cell pivot exchange
      shufflePin = Some(3)),

    // Zipf rank–frequency fit per source: OLS of ln(freq) on ln(rank)
    // over the top-200 ranks, five in-order regression-sum folds
    Entry("q_zipf", (s, dir) =>
      graft.ops.TextAnalysis.zipfFit(
        table(s, dir, "documents"), "source", "text"),
      // Zipf twin: docToks tokenization, (freq DESC, term) ranks, ln of
      // identical values, five in-order list_sum folds, one OLS tree
      """WITH d AS (
        |  SELECT source AS g,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
        |), x AS (
        |  SELECT g, unnest(toks) AS t FROM d
        |), tf AS (
        |  SELECT g, t, COUNT(*)::BIGINT AS f FROM x GROUP BY 1, 2
        |), rk AS (
        |  SELECT g, ROW_NUMBER() OVER (PARTITION BY g ORDER BY f DESC, t) AS r, f
        |  FROM tf
        |), top AS (
        |  SELECT g, r::BIGINT AS r, f, ln(r::DOUBLE) AS xx, ln(f::DOUBLE) AS yy
        |  FROM rk WHERE r <= 200
        |), fold AS (
        |  SELECT g, COUNT(*)::BIGINT AS n_terms,
        |    MIN(f) AS fmin, MAX(f) AS fmax,
        |    list_sum(list(xx ORDER BY r)) AS sx,
        |    list_sum(list(yy ORDER BY r)) AS sy,
        |    list_sum(list(xx * yy ORDER BY r)) AS sxy,
        |    list_sum(list(xx * xx ORDER BY r)) AS sxx,
        |    list_sum(list(yy * yy ORDER BY r)) AS syy
        |  FROM top GROUP BY 1
        |)
        |SELECT g AS source, n_terms,
        |  CASE WHEN n_terms < 3 OR fmin = fmax THEN NULL
        |       ELSE ROUND(-((n_terms::DOUBLE * sxy - sx * sy)
        |              / (n_terms::DOUBLE * sxx - sx * sx)), 6) END AS alpha,
        |  CASE WHEN n_terms < 3 OR fmin = fmax THEN NULL
        |       ELSE ROUND((n_terms::DOUBLE * sxy - sx * sy) * (n_terms::DOUBLE * sxy - sx * sy)
        |            / ((n_terms::DOUBLE * sxx - sx * sx) * (n_terms::DOUBLE * syy - sy * sy)), 6)
        |  END AS r2
        |FROM fold""".stripMargin,
      // zipf = token agg + per-source rank window (top-200 cut keeps the
      // regression fold's frame bounded)
      shufflePin = Some(2)),

    // template-fingerprint groups: digits → '#', whitespace collapsed,
    // lowercased — order-preserving template identity. minGroup=1 so
    // EVERY fingerprint value goes through the oracle (the ≥2 dup
    // report would be near-empty at gate scale — a trivial hash)
    Entry("q_template_dedup", (s, dir) =>
      graft.ops.Dedup.templateDuplicateGroups(
        table(s, dir, "documents"), "doc_id", "text", minGroup = 1),
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[0-9]+', '#', 'g'), '\s+', ' ', 'g'))) AS template_fp,
        |  COUNT(*)::BIGINT AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS canonical_id
        |FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |GROUP BY 1""".stripMargin,
      // template dedup = one fingerprint agg off the scan
      shufflePin = Some(1)),

    // CUPED: pre-period covariate regression shifts the arm means;
    // same md5 arms and Jan-16 cutover as q_did
    Entry("q_cuped", (s, dir) =>
      graft.ops.Stats.cuped(
        table(s, dir, "events").filter(col("value").isNotNull),
        "user_id", "ts", round(col("value") * 100).cast("long"),
        "2024-01-16 00:00:00"),
      // CUPED twin: identical md5 arms, cutover, pooled-theta and
      // adjusted-mean trees; xmin=xmax masks theta-dependent outputs
      """WITH per AS (
        |  SELECT user_id AS u,
        |    CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
        |    CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1
        |), arms AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(u::VARCHAR), 1, 8))::BIGINT % 2 = 0
        |              THEN 0 ELSE 1 END AS v,
        |    COUNT(*)::BIGINT AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy
        |  FROM per GROUP BY 1
        |), pooled AS (
        |  SELECT COUNT(*)::BIGINT AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(y * y) AS BIGINT) AS syy,
        |    MIN(x) AS xmin, MAX(x) AS xmax
        |  FROM per
        |), p AS (
        |  SELECT
        |    CASE WHEN xmin = xmax THEN NULL
        |         ELSE (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |            / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |    END AS theta,
        |    sx::DOUBLE / n::DOUBLE AS mx,
        |    CASE WHEN xmin = xmax
        |           OR (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) = 0
        |         THEN NULL
        |         ELSE (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |            * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |            / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |             * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        |    END AS var_reduction
        |  FROM pooled
        |), a AS (
        |  SELECT v, n, sy::DOUBLE / n::DOUBLE AS my, sx::DOUBLE / n::DOUBLE AS mxa
        |  FROM arms
        |)
        |SELECT c.n AS n_control, t.n AS n_treat, p.theta,
        |  c.my - p.theta * (c.mxa - p.mx) AS adj_mean_control,
        |  t.my - p.theta * (t.mxa - p.mx) AS adj_mean_treat,
        |  (t.my - p.theta * (t.mxa - p.mx)) - (c.my - p.theta * (c.mxa - p.mx))
        |    AS adj_lift,
        |  p.var_reduction
        |FROM (SELECT * FROM a WHERE v = 0) c, (SELECT * FROM a WHERE v = 1) t, p""".stripMargin,
      // cuped collapses to per-unit aggs then 1-2-row math
      shufflePin = Some(1),
      planNote = Some("two 1-row arm frames + 1-row pooled-theta frame crossJoined into the single output row (the q_ab_ztest shape)")),

    // experiment health: MDE at alpha=.05/power=.8 from literal z's +
    // sample-ratio-mismatch z on the realized md5 split
    Entry("q_exp_health", (s, dir) =>
      graft.ops.Stats.experimentHealth(
        table(s, dir, "events").filter(col("value").isNotNull),
        "user_id", round(col("value") * 100).cast("long")),
      // MDE + SRM twin: welchZ variance tree, literal z-quantile sum,
      // exact-int SRM ratio
      """WITH per AS (
        |  SELECT user_id AS u,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1
        |), g AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(u::VARCHAR), 1, 8))::BIGINT % 2 = 0
        |              THEN 0 ELSE 1 END AS v,
        |    COUNT(*)::BIGINT AS n, CAST(SUM(x) AS BIGINT) AS s,
        |    CAST(SUM(x * x) AS BIGINT) AS s2
        |  FROM per GROUP BY 1
        |), m AS (
        |  SELECT v, n,
        |    CASE WHEN n < 2 THEN NULL
        |         ELSE (s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
        |              / (n - 1)::DOUBLE END AS var
        |  FROM g
        |)
        |SELECT c.n AS n_control, t.n AS n_treat,
        |  (1.9599639845400545 + 0.8416212335729143) *
        |    sqrt(c.var / c.n::DOUBLE + t.var / t.n::DOUBLE) AS mde_abs,
        |  (t.n - c.n)::DOUBLE / sqrt((c.n + t.n)::DOUBLE) AS srm_z,
        |  abs((t.n - c.n)::DOUBLE / sqrt((c.n + t.n)::DOUBLE)) > 3.0 AS srm_alarm
        |FROM (SELECT * FROM m WHERE v = 0) c, (SELECT * FROM m WHERE v = 1) t""".stripMargin,
      // exp_health collapses to per-unit aggs then 1-2-row math (its
      // visible plan is cache-truncated like q_ab_ztest)
      shufflePin = Some(0),
      planNote = Some("two 1-row arm-summary frames crossJoined into the single output row (the q_ab_ztest shape)")),

    // Benford first-digit audit over extended-price cents
    Entry("q_benford", (s, dir) =>
      graft.ops.Stats.benfordDigits(
        table(s, dir, "lineitem"),
        round(col("l_extendedprice") * 100).cast("long")),
      // Benford twin: integer-string first digit, literal log10(1+1/d)
      // expectations, exact-int shares
      """WITH d AS (
        |  SELECT substr((CAST(round(l_extendedprice * 100) AS BIGINT))::VARCHAR,
        |                1, 1)::INTEGER AS digit
        |  FROM lineitem WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
        |), counts AS (
        |  SELECT digit, COUNT(*)::BIGINT AS n_obs FROM d GROUP BY 1
        |), tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS t FROM counts)
        |SELECT digit, n_obs,
        |  n_obs::DOUBLE / t::DOUBLE AS share,
        |  CASE digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124
        |    WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642
        |    WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322
        |    WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129
        |    WHEN 9 THEN 0.04575749056067514 END AS benford_p,
        |  n_obs::DOUBLE / t::DOUBLE -
        |  CASE digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124
        |    WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642
        |    WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322
        |    WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129
        |    WHEN 9 THEN 0.04575749056067514 END AS excess
        |FROM counts, tot""".stripMargin,
      // benford = digit agg + 1-row total + broadcast
      shufflePin = Some(3),
      planNote = Some("1-row digit-total crossJoin onto the <=9-row digit frame")),

    // Gini concentration of per-user event counts within event_type
    Entry("q_gini", (s, dir) =>
      graft.ops.Stats.giniIndex(
        table(s, dir, "events"), "event_type", "user_id", lit(1L)),
      // Gini twin: exact-int rank identity, (x, id) tie-break
      """WITH per AS (
        |  SELECT event_type AS g, user_id AS id, CAST(SUM(1) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2
        |), rk AS (
        |  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, id)::BIGINT AS i
        |  FROM per
        |), ag AS (
        |  SELECT g, COUNT(*)::BIGINT AS n_units, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(i * x) AS BIGINT) AS six
        |  FROM rk GROUP BY 1
        |)
        |SELECT g AS event_type, n_units,
        |  CASE WHEN sx = 0 THEN NULL
        |       ELSE (2.0 * six::DOUBLE - (n_units + 1)::DOUBLE * sx::DOUBLE)
        |            / (n_units::DOUBLE * sx::DOUBLE) END AS gini
        |FROM ag""".stripMargin,
      // gini = per-unit agg + per-group rank window
      shufflePin = Some(2)),

    // CUSUM max cumulative-deviation drift + change-point day per
    // event_type daily series, integer-exact via the prefix identity
    Entry("q_cusum", (s, dir) =>
      graft.ops.TimeSeries.cusumDrift(
        table(s, dir, "events"), "event_type", "ts"),
      // CUSUM twin: the same prefix-sum / running-min identity, all
      // BIGINT; first-attaining day via (drift DESC, day) row_number
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT g, COUNT(*)::BIGINT AS nd, CAST(SUM(x) AS BIGINT) AS sx
        |  FROM daily GROUP BY 1
        |), pre AS (
        |  SELECT d.g, d.day, t.nd,
        |    SUM(t.nd * d.x - t.sx) OVER (PARTITION BY d.g ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM daily d JOIN tot t ON d.g = t.g
        |), dr AS (
        |  SELECT g, day, nd,
        |    p - least(MIN(p) OVER (PARTITION BY g ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS drift
        |  FROM pre
        |), pick AS (
        |  SELECT g, day, nd, drift,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY drift DESC, day) AS rn
        |  FROM dr
        |)
        |SELECT g AS event_type, nd AS n_days, CAST(drift AS BIGINT) AS drift_scaled,
        |  day AS drift_day
        |FROM pick WHERE rn = 1""".stripMargin,
      // cusum = daily agg + tot + 2 windows
      shufflePin = Some(4)),

    // blocked Jaro-Winkler fuzzy pairs over part names — candidates
    // only from (brand, size, first-letter) blocks: the first-initial
    // key is the canonical linkage blocking move that keeps block size
    // bounded as the catalog grows (measured 8x pair cut at 10x for a
    // 10.5% candidate-recall trade, the documented contract); codegen
    // kernel vs the oracle engine's native jaro_winkler_similarity,
    // raw-double parity
    Entry("q_jw_match", (s, dir) =>
      graft.ops.Dedup.fuzzyMatchPairs(
        table(s, dir, "part").withColumn("p_initial",
          substring(col("p_name"), 1, 1)),
        "p_partkey", "p_name",
        Seq("p_brand", "p_size", "p_initial"), minSim = 0.88),
      // blocked Jaro-Winkler twin: the oracle engine's NATIVE scorer vs
      // the repo's codegen kernel — raw-double equality, fuzz-verified
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_brand, p_size FROM part
        |  WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
        |    AND p_brand IS NOT NULL AND p_size IS NOT NULL
        |)
        |SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
        |  a.p_name AS a_val, b.p_name AS b_val,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
        |  AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88""".stripMargin,
      // jw-match's block self-join broadcasts (part is dim-sized); r12: the
      // probe side gains one round-robin exchange when the scan
      // under-partitions
      shufflePin = Some(1),
      widthPin = Some(1)),

    // Fellegi–Sunter weights over looser-blocked JW candidates:
    // exact value-frequency u-probabilities, fixed m = 0.9
    Entry("q_fs_linkage", (s, dir) =>
      graft.ops.Dedup.fsLinkage(
        table(s, dir, "part").withColumn("p_initial",
          substring(col("p_name"), 1, 1)),
        "p_partkey", "p_name",
        fieldCols = Seq("p_brand", "p_type"),
        blockCols = Seq("p_initial", "p_size"),
        candSim = 0.75, m = 0.9),
      // Fellegi–Sunter: same JW kernel twin, exact Σn_v² u-probabilities;
      // 1−m is spelled (1.0 − 0.9) so the double matches Spark's lit(1.0−m)
      """WITH bp AS (
        |  SELECT p_partkey, p_name, p_size, substr(p_name, 1, 1) AS p_initial
        |  FROM part
        |  WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
        |    AND p_size IS NOT NULL AND substr(p_name, 1, 1) IS NOT NULL
        |), proj AS (
        |  SELECT p_partkey AS id,
        |    COALESCE(p_brand::VARCHAR, '') AS f0,
        |    COALESCE(p_type::VARCHAR, '') AS f1,
        |    COALESCE(p_name::VARCHAR, '') AS f2
        |  FROM part WHERE p_partkey IS NOT NULL
        |), nn AS (SELECT COUNT(*)::BIGINT AS n FROM proj),
        |u0 AS (SELECT SUM((c * c)::HUGEINT) AS u FROM
        |       (SELECT COUNT(*)::BIGINT AS c FROM proj GROUP BY f0)),
        |u1 AS (SELECT SUM((c * c)::HUGEINT) AS u FROM
        |       (SELECT COUNT(*)::BIGINT AS c FROM proj GROUP BY f1)),
        |u2 AS (SELECT SUM((c * c)::HUGEINT) AS u FROM
        |       (SELECT COUNT(*)::BIGINT AS c FROM proj GROUP BY f2)),
        |cand AS (
        |  SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
        |    jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |  FROM bp a JOIN bp b
        |    ON a.p_initial = b.p_initial AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey
        |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.75
        |), j AS (
        |  SELECT c.a_id, c.b_id, c.jw,
        |    pa.f0 = pb.f0 AS g0, pa.f1 = pb.f1 AS g1, pa.f2 = pb.f2 AS g2
        |  FROM cand c
        |  JOIN proj pa ON pa.id = c.a_id
        |  JOIN proj pb ON pb.id = c.b_id
        |)
        |SELECT a_id, b_id, jw,
        |  (CASE WHEN g0 THEN '1' ELSE '0' END ||
        |   CASE WHEN g1 THEN '1' ELSE '0' END ||
        |   CASE WHEN g2 THEN '1' ELSE '0' END) AS pattern,
        |  CAST((CASE WHEN g0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN g1 THEN 1 ELSE 0 END) +
        |       (CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |  ROUND(
        |    (CASE WHEN g0
        |       THEN ln(0.9 / (u0.u::DOUBLE / (nn.n::DOUBLE * nn.n::DOUBLE))) / ln(2.0)
        |       ELSE ln((1.0 - 0.9) / (1.0 - u0.u::DOUBLE / (nn.n::DOUBLE * nn.n::DOUBLE))) / ln(2.0) END)
        |    + (CASE WHEN g1
        |       THEN ln(0.9 / (u1.u::DOUBLE / (nn.n::DOUBLE * nn.n::DOUBLE))) / ln(2.0)
        |       ELSE ln((1.0 - 0.9) / (1.0 - u1.u::DOUBLE / (nn.n::DOUBLE * nn.n::DOUBLE))) / ln(2.0) END)
        |    + (CASE WHEN g2
        |       THEN ln(0.9 / (u2.u::DOUBLE / (nn.n::DOUBLE * nn.n::DOUBLE))) / ln(2.0)
        |       ELSE ln((1.0 - 0.9) / (1.0 - u2.u::DOUBLE / (nn.n::DOUBLE * nn.n::DOUBLE))) / ln(2.0) END),
        |    6) AS weight
        |FROM j, nn, u0, u1, u2""".stripMargin,
      // r12: fs_linkage pinned with its blocked-join spread included
      shufflePin = Some(7),
      planNote = Some("three 1-row u-probability frames (per-field agreement priors) broadcast onto the blocked candidate pairs"),
      widthPin = Some(1)),

    // empirical-Bayes purchase-rate shrinkage per user: rate-MoM
    // beta prior from exact ppm sums, floor-derived shrunk rates
    Entry("q_eb_shrinkage", (s, dir) =>
      graft.ops.Stats.ebShrinkage(
        table(s, dir, "events"), "user_id",
        lit(1L), when(col("event_type") === "purchase", 1L).otherwise(0L)),
      // EB shrinkage: exact ppm rate sums -> one double prior tree;
      // v = 0 decided on exact ints (k·Σr² = (Σr)²); floor'd shrunk rates
      """WITH per AS (
        |  SELECT user_id AS key, COUNT(*)::BIGINT AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT *, x * 1000000 // n AS raw_ppm FROM per
        |  WHERE n > 0 AND x >= 0 AND x <= n
        |), pr AS (
        |  SELECT COUNT(*)::BIGINT AS k, SUM(raw_ppm::HUGEINT) AS sr,
        |         SUM((raw_ppm * raw_ppm)::HUGEINT) AS sr2
        |  FROM r
        |), ms AS (
        |  SELECT k,
        |    sr::DOUBLE / k::DOUBLE / 1e6 AS m,
        |    (sr2::DOUBLE / k::DOUBLE
        |       - (sr::DOUBLE / k::DOUBLE) * (sr::DOUBLE / k::DOUBLE)) / 1e12 AS v,
        |    (k < 2 OR k::HUGEINT * sr2 = sr * sr) AS degen
        |  FROM pr
        |), pp AS (
        |  SELECT CASE WHEN degen THEN NULL
        |              ELSE (m * (1.0 - m) - v) / v END AS s, m
        |  FROM ms
        |), p2 AS (
        |  SELECT CASE WHEN s <= 0.0 THEN NULL ELSE s END AS s,
        |         CASE WHEN s <= 0.0 THEN NULL ELSE m END AS m
        |  FROM pp
        |)
        |SELECT key, n, x, raw_ppm,
        |  CASE WHEN p2.s IS NULL THEN NULL
        |       ELSE CAST(floor((x::DOUBLE + p2.m * p2.s)
        |                       / (n::DOUBLE + p2.s) * 1e6) AS BIGINT)
        |  END AS shrunk_ppm
        |FROM r, p2""".stripMargin,
      planNote = Some("1-row beta-prior frame (m, s from the rate MoM) crossJoined onto per-key rates")),

    // bounded-hop BFS over the co-purchase graph from the %997 seed
    // parts: per-round frontier relaxation, oracle unrolls 3 rounds
    Entry("q_bfs_hops", (s, dir) =>
      graft.ops.Graph.bfsHops(
        graft.ops.Graph.cooccurrenceDigraph(
          table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2L),
        "src", "dst",
        table(s, dir, "part").filter(pmod(col("p_partkey"), lit(997)) === 0),
        "p_partkey", maxHops = 3),
      // bounded-hop BFS over the co-purchase graph: the oracle unrolls the
      // same 3 frontier-relaxation rounds (per-node MIN — never paths)
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), und AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION ALL
        |  SELECT b AS src, a AS dst FROM und
        |), d0 AS (
        |  SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS dist
        |  FROM part WHERE p_partkey IS NOT NULL AND p_partkey % 997 = 0
        |), r1 AS (
        |  SELECT e.dst AS node, MIN(d0.dist) + 1 AS d2
        |  FROM d0 JOIN e ON e.src = d0.node GROUP BY 1
        |), d1 AS (
        |  SELECT COALESCE(d0.node, r1.node) AS node,
        |    least(COALESCE(d0.dist, 9223372036854775807),
        |          COALESCE(r1.d2, 9223372036854775807)) AS dist
        |  FROM d0 FULL JOIN r1 ON d0.node = r1.node
        |), r2 AS (
        |  SELECT e.dst AS node, MIN(d1.dist) + 1 AS d2
        |  FROM d1 JOIN e ON e.src = d1.node GROUP BY 1
        |), d2 AS (
        |  SELECT COALESCE(d1.node, r2.node) AS node,
        |    least(COALESCE(d1.dist, 9223372036854775807),
        |          COALESCE(r2.d2, 9223372036854775807)) AS dist
        |  FROM d1 FULL JOIN r2 ON d1.node = r2.node
        |), r3 AS (
        |  SELECT e.dst AS node, MIN(d2.dist) + 1 AS d2
        |  FROM d2 JOIN e ON e.src = d2.node GROUP BY 1
        |), d3 AS (
        |  SELECT COALESCE(d2.node, r3.node) AS node,
        |    least(COALESCE(d2.dist, 9223372036854775807),
        |          COALESCE(r3.d2, 9223372036854775807)) AS dist
        |  FROM d2 FULL JOIN r3 ON d2.node = r3.node
        |)
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin,
      // the rounds run at frame-construction time, so the plan is
      // checkpoint-truncated leaves (er_clusters precedent)
      shufflePin = Some(0)),

    // rank-based k-group location test (non-parametric ANOVA) of
    // quantity across return flags: global midranks from the
    // distinct-value cum frame, tie-corrected H
    Entry("q_kruskal", (s, dir) =>
      graft.ops.Stats.kruskalWallis(
        table(s, dir, "lineitem"), "l_returnflag", col("l_quantity")),
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        |), vals AS (
        |  SELECT x, COUNT(*)::BIGINT AS t FROM v GROUP BY 1
        |), ranked AS (
        |  SELECT x, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS BIGINT) AS u
        |  FROM vals
        |), gv AS (
        |  SELECT g, x, COUNT(*)::BIGINT AS c FROM v GROUP BY 1, 2
        |), per AS (
        |  SELECT g, CAST(SUM(c) AS BIGINT) AS n, SUM((c * u)::HUGEINT) AS su
        |  FROM gv JOIN ranked USING (x) GROUP BY 1
        |), ties AS (
        |  SELECT SUM((t * t * t - t)::HUGEINT) AS tt, COUNT(*)::BIGINT AS nv
        |  FROM vals
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    list_sort(list(struct_pack(g := g::VARCHAR, n := n, su := su))) AS a
        |  FROM per
        |)
        |SELECT k, n_total,
        |  CASE WHEN k < 2 OR n_total < 2 OR nv < 2 THEN NULL
        |       ELSE ROUND(
        |         (12.0 / (n_total::DOUBLE * (n_total::DOUBLE + 1.0))
        |            * list_sum(list_transform(a, s ->
        |                s.su::DOUBLE * s.su::DOUBLE / (4.0 * s.n::DOUBLE)))
        |          - 3.0 * (n_total::DOUBLE + 1.0))
        |         / (1.0 - tt::DOUBLE /
        |            (n_total::DOUBLE * n_total::DOUBLE * n_total::DOUBLE
        |             - n_total::DOUBLE)), 6)
        |  END AS h_stat,
        |  CAST(k - 1 AS BIGINT) AS df
        |FROM f, ties""".stripMargin,
      // r10 rank/robust tests: kruskal's 7 are all collapsed-frame aggs
      // (value frame, its single-partition cum window, (g,v) frame, k-row
      // folds)
      shufflePin = Some(7),
      planNote = Some("1-row tie-correction crossJoin (Σt³−t over the value frame)")),

    // Dunn's post-hoc pairwise z on the SAME global midranks as
    // q_kruskal (the "which groups differ" follow-up; never re-ranked
    // per pair)
    Entry("q_dunn", (s, dir) =>
      graft.ops.Stats.dunnPosthoc(
        table(s, dir, "lineitem"), "l_returnflag", col("l_quantity")),
      // Kruskal–Wallis: doubled global midranks from the distinct-value
      // cum frame; exact-integer rank sums, one sorted k-group fold
      // Dunn's post-hoc: q_kruskal's global-midrank spine + the k-row
      // pair self-join; tie-corrected sigma^2 stated identically
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        |), vals AS (
        |  SELECT x, COUNT(*)::BIGINT AS t FROM v GROUP BY 1
        |), ranked AS (
        |  SELECT x, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS BIGINT) AS u
        |  FROM vals
        |), gv AS (
        |  SELECT g, x, COUNT(*)::BIGINT AS c FROM v GROUP BY 1, 2
        |), per AS (
        |  SELECT g, CAST(SUM(c) AS BIGINT) AS n, SUM((c * u)::HUGEINT) AS su
        |  FROM gv JOIN ranked USING (x) GROUP BY 1
        |), ties AS (
        |  SELECT SUM((t * t * t - t)::HUGEINT) AS tt, COUNT(*)::BIGINT AS nv,
        |         CAST(SUM(t) AS BIGINT) AS nn
        |  FROM vals
        |)
        |SELECT l.g AS g1, r.g AS g2, l.n AS n1, r.n AS n2,
        |  CASE WHEN nn < 2 OR nv < 2 THEN NULL
        |       ELSE ROUND((l.su::DOUBLE / (2.0 * l.n::DOUBLE)
        |                   - r.su::DOUBLE / (2.0 * r.n::DOUBLE))
        |         / sqrt((nn::DOUBLE * (nn::DOUBLE + 1.0) / 12.0
        |                 - tt::DOUBLE / (12.0 * (nn::DOUBLE - 1.0)))
        |                * (1.0 / l.n::DOUBLE + 1.0 / r.n::DOUBLE)), 6)
        |  END AS z_stat
        |FROM per l JOIN per r ON l.g < r.g CROSS JOIN ties""".stripMargin,
      // dunn = kruskal's 7-exchange spine + the k-row pair grid
      shufflePin = Some(10),
      planNote = Some("k-row group-summary self-join on g1<g2 + 1-row tie-frame crossJoin (the q_pairwise_contrasts shape)")),

    // variance-equality screen across event types on value cents:
    // Brown–Forsythe (median-centered Levene), doubled-median integers
    Entry("q_brown_forsythe", (s, dir) =>
      graft.ops.Stats.brownForsythe(
        table(s, dir, "events"), "event_type",
        round(col("value") * 100).cast("long")),
      // Brown–Forsythe: doubled per-group median order statistics keep
      // 2z integer; within-group zero variance decided on exact ints
      """WITH v AS (
        |  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), r AS (
        |  SELECT g, x,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM v
        |), med AS (
        |  SELECT g, CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN x END)
        |       + SUM(CASE WHEN rn = (n + 2) // 2 THEN x END) AS BIGINT) AS med2
        |  FROM r GROUP BY 1
        |), z AS (
        |  SELECT g, CAST(ABS(2 * x - med2) AS BIGINT) AS z
        |  FROM v JOIN med USING (g)
        |), per AS (
        |  SELECT g, COUNT(*)::BIGINT AS n, SUM(z::HUGEINT) AS s,
        |         SUM((z * z)::HUGEINT) AS s2
        |  FROM z GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    MAX(CASE WHEN n < 2 THEN 1 END) AS tiny,
        |    SUM(n::HUGEINT * s2 - s * s) AS wss,
        |    list_sort(list(struct_pack(g := g::VARCHAR, n := n,
        |      s := s, s2 := s2))) AS a
        |  FROM per
        |), x1 AS (
        |  SELECT *, list_sum(list_transform(a, t -> t.s::DOUBLE))
        |    / n_total::DOUBLE AS grand
        |  FROM f
        |)
        |SELECT k, n_total,
        |  CASE WHEN k < 2 OR n_total <= k OR tiny IS NOT NULL OR wss = 0
        |       THEN NULL
        |       ELSE ROUND((n_total::DOUBLE - k::DOUBLE) / (k::DOUBLE - 1.0)
        |         * list_sum(list_transform(a, t -> t.n::DOUBLE
        |             * (t.s::DOUBLE / t.n::DOUBLE - grand)
        |             * (t.s::DOUBLE / t.n::DOUBLE - grand)))
        |         / list_sum(list_transform(a, t -> t.s2::DOUBLE
        |             - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)), 6)
        |  END AS f_stat,
        |  CAST(k - 1 AS BIGINT) AS df1,
        |  CAST(n_total - k AS BIGINT) AS df2
        |FROM x1""".stripMargin,
      // brown–forsythe = group sort + z agg + 1-row fold
      shufflePin = Some(3)),

    // paired-binary flip test per user: purchased on even vs odd
    // days-of-month — only discordant users carry signal
    Entry("q_mcnemar", (s, dir) =>
      graft.ops.Stats.mcnemar(
        table(s, dir, "events"), "user_id",
        col("event_type") === "purchase" &&
          dayofmonth(col("ts")) % 2 === 0,
        col("event_type") === "purchase" &&
          dayofmonth(col("ts")) % 2 === 1),
      // McNemar: per-unit indicator collapse, discordant-pair χ² with
      // the Edwards continuity-corrected twin
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(MAX(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n_units,
        |    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b10,
        |    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b01
        |  FROM per
        |)
        |SELECT n_units, b10, b01,
        |  CASE WHEN b10 + b01 = 0 THEN NULL
        |       ELSE ROUND((b10 - b01)::DOUBLE * (b10 - b01)::DOUBLE
        |         / (b10 + b01)::DOUBLE, 6) END AS chi2,
        |  CASE WHEN b10 + b01 = 0 THEN NULL
        |       ELSE ROUND(
        |         GREATEST(ABS((b10 - b01)::DOUBLE) - 1.0, 0.0)
        |         * GREATEST(ABS((b10 - b01)::DOUBLE) - 1.0, 0.0)
        |         / (b10 + b01)::DOUBLE, 6) END AS chi2_cc
        |FROM f""".stripMargin,
      // the paired test is a two-agg map-side chain
      shufflePin = Some(2)),

    // single-outlier screen per return flag: Grubbs G plus the
    // suspect value itself (exact-integer deviation argmax)
    Entry("q_grubbs", (s, dir) =>
      graft.ops.Stats.grubbs(
        table(s, dir, "lineitem"), "l_returnflag",
        round(col("l_extendedprice")).cast("long")),
      // Grubbs: exact-integer deviation argmax (|n·x − Σx|, value
      // tie-break), doubles only in the final G ratio
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice) AS BIGINT) AS x
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |), sums AS (
        |  SELECT g, COUNT(*)::BIGINT AS n, SUM(x::HUGEINT) AS s,
        |         SUM((x * x)::HUGEINT) AS s2
        |  FROM v GROUP BY 1
        |), dev AS (
        |  SELECT g, x, ABS(x::HUGEINT * n - s) AS dev, n, s, s2
        |  FROM v JOIN sums USING (g)
        |), top AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY dev DESC, x DESC) AS rn
        |  FROM dev
        |)
        |SELECT g AS l_returnflag, n, x AS suspect_value,
        |  CASE WHEN n < 3 OR n::HUGEINT * s2 = s * s THEN NULL
        |       ELSE ROUND(dev::DOUBLE / n::DOUBLE
        |         / sqrt((s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
        |                / (n::DOUBLE - 1.0)), 6)
        |  END AS g_stat
        |FROM top WHERE rn = 1""".stripMargin,
      // the argmax test is a two-agg map-side chain
      shufflePin = Some(2)),

    // always-valid sequential monitoring of the purchase-rate A/B:
    // mixture-SPRT log-likelihood per day + running neg-log-p
    Entry("q_msprt", (s, dir) =>
      graft.ops.Stats.alwaysValidP(
        table(s, dir, "events"), "user_id", "ts",
        col("event_type") === "purchase"),
      // mSPRT: exact-integer daily cumulative arm counts; the Gaussian-
      // mixture log-ratio in ln-domain; running max = neg-log-p
      s"""WITH base AS (
         |  SELECT date_trunc('day', ts) AS day,
         |    (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2 = 1)
         |      AS t,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |), daily AS (
         |  SELECT day,
         |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         |    CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT) AS st,
         |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |    CAST(SUM(CASE WHEN NOT t THEN x ELSE 0 END) AS BIGINT) AS sc
         |  FROM base GROUP BY 1
         |), cum AS (
         |  SELECT day,
         |    CAST(SUM(nt) OVER w AS BIGINT) AS n_t,
         |    CAST(SUM(st) OVER w AS BIGINT) AS s_t,
         |    CAST(SUM(nc) OVER w AS BIGINT) AS n_c,
         |    CAST(SUM(sc) OVER w AS BIGINT) AS s_c
         |  FROM daily
         |  WINDOW w AS (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), m AS (
         |  SELECT day, n_t, s_t, n_c, s_c,
         |    CASE WHEN n_t = 0 OR n_c = 0 OR s_t + s_c = 0
         |           OR s_t + s_c = n_t + n_c THEN NULL
         |         ELSE $msprtLl END AS ll
         |  FROM cum
         |)
         |SELECT day, n_t, s_t, n_c, s_c, ROUND(ll, 6) AS log_lambda,
         |  CASE WHEN MAX(ll) OVER w IS NULL THEN NULL
         |       ELSE ROUND(GREATEST(0.0, MAX(ll) OVER w), 6)
         |  END AS neg_log_p
         |FROM m
         |WINDOW w AS (ORDER BY day
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
      // sequential test: daily agg + |days|-frame window
      shufflePin = Some(2)),

    // k-treatment matched-binary test: did the same users purchase in
    // early/mid/late month? exact-integer Cochran Q
    Entry("q_cochran_q", (s, dir) =>
      graft.ops.Stats.cochranQ(
        table(s, dir, "events"), "user_id", Seq(
          col("event_type") === "purchase" && dayofmonth(col("ts")) <= 10,
          col("event_type") === "purchase" &&
            dayofmonth(col("ts")).between(11, 20),
          col("event_type") === "purchase" &&
            dayofmonth(col("ts")) >= 21)),
      // Cochran Q: exact-integer numerator/denominator, one double div
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) <= 10 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x0,
        |    CAST(MAX(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) BETWEEN 11 AND 20 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(MAX(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) >= 21 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT *, x0 + x1 + x2 AS rr FROM per
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n_units,
        |    SUM(x0)::HUGEINT AS c0, SUM(x1)::HUGEINT AS c1,
        |    SUM(x2)::HUGEINT AS c2,
        |    SUM(rr)::HUGEINT AS n, SUM((rr * rr)::HUGEINT) AS r2
        |  FROM r
        |)
        |SELECT CAST(3 AS BIGINT) AS k, n_units,
        |  CASE WHEN 3 * n - r2 = 0 THEN NULL
        |       ELSE ROUND(
        |         CAST(2 * (3 * (c0 * c0 + c1 * c1 + c2 * c2) - n * n)
        |              AS DOUBLE)
        |         / CAST(3 * n - r2 AS DOUBLE), 6)
        |  END AS q_stat,
        |  CAST(2 AS BIGINT) AS df
        |FROM f""".stripMargin,
      // matched test: per-unit indicator agg + 1-row fold
      shufflePin = Some(2)),

    // AR-order diagnostic: Yule–Walker lag-2 partial autocorrelation
    // per event type (is AR(1) enough, or is there 2nd-order memory?)
    Entry("q_pacf", (s, dir) =>
      graft.ops.TimeSeries.pacfLag2(
        table(s, dir, "events"), "event_type", "ts"),
      // pacf2: q_acf's centered-integer machinery at lags 1-2, one
      // closed-form Yule–Walker tree
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |         COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT g, COUNT(*)::BIGINT AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |         MIN(x) AS xmin, MAX(x) AS xmax
        |  FROM daily GROUP BY 1
        |), b AS (
        |  SELECT daily.g, day, nd, sx, xmin, xmax, nd * x - sx AS u
        |  FROM daily JOIN tot USING (g)
        |), led AS (
        |  SELECT *, LEAD(u, 1) OVER w AS u1, LEAD(u, 2) OVER w AS u2
        |  FROM b WINDOW w AS (PARTITION BY g ORDER BY day)
        |), per AS (
        |  SELECT g, ANY_VALUE(nd) AS n_days, ANY_VALUE(xmin) AS xmin,
        |    ANY_VALUE(xmax) AS xmax,
        |    SUM(u::HUGEINT * u::HUGEINT) AS den,
        |    SUM(u::HUGEINT * u1::HUGEINT) AS m1,
        |    SUM(u::HUGEINT * u2::HUGEINT) AS m2
        |  FROM led GROUP BY 1
        |), rr AS (
        |  SELECT g, n_days,
        |    CASE WHEN xmin = xmax OR m1 IS NULL THEN NULL
        |         ELSE m1::DOUBLE / den::DOUBLE END AS r1,
        |    CASE WHEN xmin = xmax OR m2 IS NULL THEN NULL
        |         ELSE m2::DOUBLE / den::DOUBLE END AS r2
        |  FROM per
        |)
        |SELECT g AS event_type, n_days, r1, r2,
        |  CASE WHEN r1 IS NULL OR r2 IS NULL OR r1 * r1 = 1.0 THEN NULL
        |       ELSE ROUND((r2 - r1 * r1) / (1.0 - r1 * r1), 6)
        |  END AS pacf2
        |FROM rr""".stripMargin,
      // pacf rides the acf chain
      shufflePin = Some(3)),

    // 10% two-sided exact trimmed mean of price per return flag:
    // boundary ties split on the distinct-value frame, never a row sort
    Entry("q_trimmed_mean", (s, dir) =>
      graft.ops.Outliers.trimmedMean(
        table(s, dir, "lineitem"), "l_returnflag",
        round(col("l_extendedprice")).cast("long")),
      // trimmed mean: per-value boundary clipping on the distinct-value
      // cum frame — exact-integer kept mass, one division
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice) AS BIGINT) AS x
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |), vals AS (
        |  SELECT g, x, COUNT(*)::BIGINT AS t FROM v GROUP BY 1, 2
        |), st AS (
        |  SELECT g, x, t,
        |    COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |    SUM(t) OVER (PARTITION BY g) AS n
        |  FROM vals
        |), tk AS (
        |  SELECT *, (n * 100000) // 1000000 AS k FROM st
        |), tw AS (
        |  SELECT g, n, n - 2 * k AS n_trimmed,
        |    GREATEST(0, LEAST(below + t, n - k) - GREATEST(below, k)) * x
        |      AS contrib
        |  FROM tk
        |)
        |SELECT g AS l_returnflag, CAST(ANY_VALUE(n) AS BIGINT) AS n,
        |  CAST(ANY_VALUE(n_trimmed) AS BIGINT) AS n_trimmed,
        |  CASE WHEN ANY_VALUE(n_trimmed) <= 0 THEN NULL
        |       ELSE ROUND(SUM(contrib::HUGEINT)::DOUBLE
        |         / ANY_VALUE(n_trimmed)::DOUBLE, 6) END AS trimmed_mean
        |FROM tw GROUP BY 1""".stripMargin,
      // trimmed mean = value frame + cum windows + per-group rollup
      shufflePin = Some(2)),

    // vocabulary-richness estimators: Chao1 lower bound + Good–Turing
    // unseen mass off the term-frequency spectrum
    Entry("q_vocab_richness", (s, dir) =>
      graft.ops.TextAnalysis.vocabRichness(
        table(s, dir, "documents"), "text"),
      // richness: |V|-row spectrum agg; Chao1's one division is the only
      // double, unseen mass integral ppm
      """WITH t AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents WHERE text IS NOT NULL
        |), tf AS (
        |  SELECT term, COUNT(*)::BIGINT AS f FROM t GROUP BY 1
        |), s AS (
        |  SELECT CAST(SUM(f) AS BIGINT) AS n_tokens, COUNT(*)::BIGINT AS vocab,
        |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM tf
        |)
        |SELECT n_tokens, vocab, f1, f2,
        |  CASE WHEN f2 = 0 THEN NULL
        |       ELSE ROUND(vocab::DOUBLE + f1::DOUBLE * f1::DOUBLE
        |         / (2.0 * f2::DOUBLE), 6) END AS chao1,
        |  CASE WHEN n_tokens = 0 THEN NULL
        |       ELSE (1000000 * f1) // n_tokens END AS unseen_ppm
        |FROM s""".stripMargin,
      // richness is a two-agg map-side chain
      shufflePin = Some(2)),

    // 2×2 effect size: md5-parity exposure × purchase outcome,
    // ln-domain Woolf CI
    Entry("q_odds_ratio", (s, dir) =>
      graft.ops.Stats.oddsRatio(
        table(s, dir, "events"), "user_id",
        graft.ops.Sampling.hashBucket(col("user_id"), 2) === 1,
        col("event_type") === "purchase"),
      // odds ratio: per-unit indicator agg + 1-row cells; ln-domain CI
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))
        |          ::BIGINT % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), c AS (
        |  SELECT COUNT(*)::BIGINT AS n_units,
        |    CAST(SUM(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM per
        |)
        |SELECT n_units, a, b, c, d,
        |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
        |       ELSE ROUND(ln(a::DOUBLE * d::DOUBLE
        |         / (b::DOUBLE * c::DOUBLE)), 6) END AS ln_or,
        |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
        |       ELSE ROUND(sqrt(1.0 / a::DOUBLE + 1.0 / b::DOUBLE
        |         + 1.0 / c::DOUBLE + 1.0 / d::DOUBLE), 6) END AS se,
        |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
        |       ELSE ROUND(ln(a::DOUBLE * d::DOUBLE
        |           / (b::DOUBLE * c::DOUBLE))
        |         - 1.96 * sqrt(1.0 / a::DOUBLE + 1.0 / b::DOUBLE
        |             + 1.0 / c::DOUBLE + 1.0 / d::DOUBLE), 6) END AS ci_lo,
        |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
        |       ELSE ROUND(ln(a::DOUBLE * d::DOUBLE
        |           / (b::DOUBLE * c::DOUBLE))
        |         + 1.96 * sqrt(1.0 / a::DOUBLE + 1.0 / b::DOUBLE
        |             + 1.0 / c::DOUBLE + 1.0 / d::DOUBLE), 6) END AS ci_hi
        |FROM c""".stripMargin,
      // odds is a two-agg map-side chain
      shufflePin = Some(2)),

    // cumulative gains: per-user click-count score vs purchase outcome,
    // exact decile rule, capture from the top decile down
    Entry("q_gains", (s, dir) =>
      graft.ops.Stats.gainsTable(
        table(s, dir, "events"), "user_id",
        when(col("event_type") === "click", 1L).otherwise(0L),
        col("event_type") === "purchase"),
      // gains: RFM's exact decile rule on the score frame, top-down
      // cumulative capture in integral ppm
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), vals AS (
        |  SELECT s, COUNT(*)::BIGINT AS t FROM per GROUP BY 1
        |), dec AS (
        |  SELECT s, CAST((10 * COALESCE(SUM(t) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |    // (SUM(t) OVER ()) AS BIGINT) AS decile
        |  FROM vals
        |), byd AS (
        |  SELECT decile, COUNT(*)::BIGINT AS n_units,
        |         CAST(SUM(y) AS BIGINT) AS n_pos
        |  FROM per JOIN dec USING (s) GROUP BY 1
        |)
        |SELECT decile, n_units, n_pos,
        |  CAST(SUM(n_pos) OVER (ORDER BY decile DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_pos,
        |  CASE WHEN CAST(SUM(n_pos) OVER () AS BIGINT) = 0 THEN NULL
        |       ELSE (1000000 * CAST(SUM(n_pos) OVER (ORDER BY decile DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT))
        |         // CAST(SUM(n_pos) OVER () AS BIGINT) END AS capture_ppm
        |FROM byd""".stripMargin,
      // gains = per-unit agg + score frame windows + decile rollup windows
      shufflePin = Some(6)),

    // named clusters: top-5 distinctive terms per kmeans cluster
    // (cluster-df²/corpus-df lift over the embedding↔doc id join)
    Entry("q_cluster_terms", (s, dir) =>
      graft.ops.Similarity.clusterTopTerms(
        graft.ops.Similarity.assignToCentroids(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          kmeansCentroids),
        "vec_id", "cluster",
        table(s, dir, "documents"), "doc_id", "text", k = 5),
      // cluster labeling: kmeans-assign CTE + per-doc-distinct term lift
      {
        val cents = kmeansCentroids.map(_.map(x => java.lang.Double.toString(x)))
        val norms = kmeansCentroids.map(c =>
          java.lang.Double.toString(math.sqrt(c.map(x => x * x).sum)))
        val sims = cents.zip(norms).map { case (c, cn) =>
          val l = c.mkString("[", ", ", "]")
          s"list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * ($l)[i])) / (vn * $cn)"
        }.mkString("[", ",\n       ", "]")
        s"""WITH v AS (
           |  SELECT vec_id, embedding,
           |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS vn
           |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
           |), s AS (
           |  SELECT vec_id, $sims AS sims FROM v
           |), asg AS (
           |  SELECT vec_id AS id,
           |    CAST(list_position(sims, list_max(sims)) - 1 AS BIGINT) AS cluster
           |  FROM s
           |), terms AS (
           |  SELECT cluster, unnest(list_distinct(list_filter(
           |    regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''))) AS term
           |  FROM asg JOIN documents ON documents.doc_id = asg.id
           |  WHERE text IS NOT NULL
           |), cdf AS (
           |  SELECT cluster, term, COUNT(*)::BIGINT AS cdf FROM terms
           |  GROUP BY 1, 2
           |), dfg AS (
           |  SELECT term, CAST(SUM(cdf) AS BIGINT) AS df FROM cdf GROUP BY 1
           |), sc AS (
           |  SELECT cluster, term, cdf, df,
           |    cdf::DOUBLE * cdf::DOUBLE / df::DOUBLE AS score
           |  FROM cdf JOIN dfg USING (term)
           |), rk AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
           |    ORDER BY score DESC, term) AS rank
           |  FROM sc
           |)
           |SELECT cluster, term, cdf, df, ROUND(score, 6) AS score,
           |  CAST(rank AS BIGINT) AS rank
           |FROM rk WHERE rank <= 5""".stripMargin
      },
      // cluster_terms = id join + (cluster,term) agg + term agg + top-k
      // window
      shufflePin = Some(5)),

    // variance decomposition: between-user vs within-user value
    // variance + ICC — is per-user baseline modeling warranted?
    Entry("q_var_components", (s, dir) =>
      graft.ops.Stats.varianceComponents(
        table(s, dir, "events"), "user_id",
        round(col("value") * 100).cast("long")),
      // variance components: anova_f's fold + Σn²; every named quantity
      // one double tree from exact sums
      """WITH v AS (
        |  SELECT user_id AS g, CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), per AS (
        |  SELECT g, COUNT(*)::BIGINT AS n, SUM(x::HUGEINT) AS s,
        |         SUM((x * x)::HUGEINT) AS s2
        |  FROM v GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    SUM((n * n)::HUGEINT) AS nn,
        |    SUM(n::HUGEINT * s2 - s * s) AS wss,
        |    list_sort(list(struct_pack(g := g::VARCHAR, n := n,
        |      s := s, s2 := s2))) AS a
        |  FROM per
        |), x1 AS (
        |  SELECT *, list_sum(list_transform(a, t -> t.s::DOUBLE))
        |    / n_total::DOUBLE AS grand
        |  FROM f
        |), x2 AS (
        |  SELECT *,
        |    list_sum(list_transform(a, t -> t.n::DOUBLE
        |      * (t.s::DOUBLE / t.n::DOUBLE - grand)
        |      * (t.s::DOUBLE / t.n::DOUBLE - grand))) / (k::DOUBLE - 1.0)
        |      AS msb,
        |    list_sum(list_transform(a, t -> t.s2::DOUBLE
        |      - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE))
        |      / (n_total::DOUBLE - k::DOUBLE) AS msw,
        |    (n_total::DOUBLE - nn::DOUBLE / n_total::DOUBLE)
        |      / (k::DOUBLE - 1.0) AS k0
        |  FROM x1
        |), x3 AS (
        |  SELECT *, GREATEST(0.0, (msb - msw) / k0) AS s2b FROM x2
        |)
        |SELECT k, n_total,
        |  CASE WHEN k < 2 OR n_total <= k OR wss = 0 THEN NULL
        |       ELSE ROUND(msb, 6) END AS ms_between,
        |  CASE WHEN k < 2 OR n_total <= k OR wss = 0 THEN NULL
        |       ELSE ROUND(msw, 6) END AS ms_within,
        |  CASE WHEN k < 2 OR n_total <= k OR wss = 0 THEN NULL
        |       ELSE ROUND(s2b, 6) END AS sigma2_between,
        |  CASE WHEN k < 2 OR n_total <= k OR wss = 0 THEN NULL
        |       ELSE ROUND(s2b / (s2b + msw), 6) END AS icc
        |FROM x3""".stripMargin,
      // var_components = group agg + 1-row fold
      shufflePin = Some(2)),

    // Newman modularity of the 2-round LPA communities on the
    // co-purchase graph: is the community structure real?
    Entry("q_modularity", (s, dir) =>
      graft.ops.Graph.communityModularity(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2L, rounds = 2),
      // modularity: q_label_prop's unrolled LPA + exact-integer
      // numerator (4·m·e_c − d_c²), one double division
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION ALL
        |  SELECT b AS src, a AS dst FROM edges
        |), l0 AS (
        |  SELECT DISTINCT src AS node, src AS lab FROM e
        |), c1 AS (
        |  SELECT e.dst AS node, l.lab AS lab, COUNT(*)::BIGINT AS c
        |  FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2
        |), p1 AS (
        |  SELECT node, lab FROM (
        |    SELECT node, lab, ROW_NUMBER() OVER (PARTITION BY node
        |      ORDER BY c DESC, lab ASC) AS rn
        |    FROM c1)
        |  WHERE rn = 1
        |), l1 AS (
        |  SELECT l0.node, COALESCE(p1.lab, l0.lab) AS lab
        |  FROM l0 LEFT JOIN p1 USING (node)
        |), c2 AS (
        |  SELECT e.dst AS node, l.lab AS lab, COUNT(*)::BIGINT AS c
        |  FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2
        |), p2 AS (
        |  SELECT node, lab FROM (
        |    SELECT node, lab, ROW_NUMBER() OVER (PARTITION BY node
        |      ORDER BY c DESC, lab ASC) AS rn
        |    FROM c2)
        |  WHERE rn = 1
        |), labs AS (
        |  SELECT l1.node, COALESCE(p2.lab, l1.lab) AS lab
        |  FROM l1 LEFT JOIN p2 USING (node)
        |), m AS (SELECT COUNT(*)::BIGINT AS m FROM edges),
        |ein AS (
        |  SELECT la.lab AS lab, COUNT(*)::BIGINT AS e_in
        |  FROM edges
        |  JOIN labs la ON la.node = edges.a
        |  JOIN labs lb ON lb.node = edges.b
        |  WHERE la.lab = lb.lab GROUP BY 1
        |), deg AS (
        |  SELECT node, COUNT(*)::BIGINT AS d FROM (
        |    SELECT a AS node FROM edges
        |    UNION ALL SELECT b FROM edges)
        |  GROUP BY 1
        |), dt AS (
        |  SELECT labs.lab, CAST(SUM(d) AS BIGINT) AS d_tot,
        |         COUNT(*)::BIGINT AS n_nodes
        |  FROM deg JOIN labs USING (node) GROUP BY 1
        |)
        |SELECT dt.lab, n_nodes, COALESCE(e_in, 0)::BIGINT AS e_in, d_tot,
        |  ROUND((4.0 * m::DOUBLE * COALESCE(e_in, 0)::DOUBLE
        |         - d_tot::DOUBLE * d_tot::DOUBLE)
        |        / (4.0 * m::DOUBLE * m::DOUBLE), 6) + 0.0 AS q_contrib
        |FROM dt LEFT JOIN ein USING (lab) CROSS JOIN m""".stripMargin,
      // modularity = cached-edge LPA leaves + e_in/deg/d_tot aggs
      shufflePin = Some(6),
      planNote = Some("1-row edge-count crossJoin (the 2m normalizer) onto the per-community frame")),

    // OLS outlier diagnostics: top-5 studentized residuals + leverage
    // per return flag — which rows drive the q_linreg trend?
    Entry("q_reg_diag", (s, dir) =>
      graft.ops.Agg.regressionDiagnostics(
        table(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity"), round(col("l_extendedprice")), k = 5),
      // regression diagnostics: named quantities (slope, a, s2) are each
      // one division from exact sums — equal doubles however referenced
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |         CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL
        |), s AS (
        |  SELECT g, COUNT(*)::BIGINT AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM((x * x)::HUGEINT) AS sxx, SUM((x * y)::HUGEINT) AS sxy,
        |    SUM((y * y)::HUGEINT) AS syy
        |  FROM v GROUP BY 1
        |), c AS (
        |  SELECT *,
        |    sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE AS sxxc,
        |    sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE AS sxyc,
        |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE AS syyc
        |  FROM s
        |), f0 AS (
        |  SELECT g, n, sx::DOUBLE AS sxd, sxxc, sxyc / sxxc AS b,
        |    sy::DOUBLE / n::DOUBLE
        |      - (sxyc / sxxc) * (sx::DOUBLE / n::DOUBLE) AS a,
        |    (syyc - (sxyc / sxxc) * sxyc) / (n::DOUBLE - 2.0) AS s2
        |  FROM c WHERE n >= 3 AND sxxc > 0.0
        |), f AS (SELECT * FROM f0 WHERE s2 > 0.0),
        |sc AS (
        |  SELECT v.g, v.x, v.y,
        |    v.y::DOUBLE - (f.a + f.b * v.x::DOUBLE) AS resid,
        |    1.0 / f.n::DOUBLE + (v.x::DOUBLE - f.sxd / f.n::DOUBLE)
        |      * (v.x::DOUBLE - f.sxd / f.n::DOUBLE) / f.sxxc AS h,
        |    f.s2
        |  FROM v JOIN f USING (g)
        |), t AS (
        |  SELECT *, resid / sqrt(s2 * (1.0 - h)) AS tt,
        |    ROW_NUMBER() OVER (PARTITION BY g
        |      ORDER BY abs(resid / sqrt(s2 * (1.0 - h))) DESC, x, y) AS rnk
        |  FROM sc
        |)
        |SELECT g AS l_returnflag, x, y, ROUND(h, 6) AS leverage,
        |  ROUND(resid, 6) AS residual, ROUND(tt, 6) AS studentized,
        |  CAST(rnk AS BIGINT) AS rank
        |FROM t WHERE rnk <= 5""".stripMargin,
      // reg_diag = group-sums agg + broadcast-back + top-k window
      shufflePin = Some(2)),

    // DP noisy-SUM release with per-user contribution clipping — the
    // sensitivity-bounding half q_dp_counts lacks
    Entry("q_dp_sum", (s, dir) =>
      graft.ops.Privacy.noisySum(
        table(s, dir, "events"), Seq("event_type"), "user_id",
        round(col("value") * 100).cast("long"), clip = 10000L,
        epsilon = 0.5, seed = 7L),
      // DP noisy sum: exact per-unit clip, q_dp_counts' seeded Laplace
      // with clip/epsilon scale
      """WITH pu AS (
        |  SELECT user_id, event_type,
        |    CAST(SUM(COALESCE(CAST(ROUND(value * 100) AS BIGINT), 0))
        |      AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
        |), cl AS (
        |  SELECT event_type, GREATEST(LEAST(v, 10000), -10000) AS c FROM pu
        |), g AS (
        |  SELECT event_type, COUNT(*)::BIGINT AS n_units,
        |         CAST(SUM(c) AS BIGINT) AS clipped_sum
        |  FROM cl GROUP BY 1
        |), hx AS (
        |  SELECT *, ('0x' || substr(md5(concat_ws(chr(1),
        |      COALESCE(event_type, chr(2)), '7')), 1, 13))::BIGINT AS hv
        |  FROM g
        |)
        |SELECT event_type, n_units, clipped_sum,
        |  ROUND(clipped_sum + (-10000.0 / 0.5)
        |    * sign((hv + 0.5) / 4503599627370496.0 - 0.5)
        |    * ln(1.0 - 2.0 * abs((hv + 0.5) / 4503599627370496.0 - 0.5)), 6)
        |    AS noisy_sum
        |FROM hx""".stripMargin,
      // dp_sum = per-unit clip agg + cohort agg
      shufflePin = Some(2)),

    // embedding L2-norm histogram: the encoder-health screen (norm
    // collapse / bimodal mixes / unnormalized tails)
    Entry("q_embed_norms", (s, dir) =>
      graft.ops.Similarity.embedNorms(
        table(s, dir, "embeddings"), "vec_id", "embedding"),
      // embed norms: per-row fold over micro-quantized integers (the
      // anisotropy discipline), 0.1-bucket histogram
      """WITH v AS (
        |  SELECT list_sum(list_transform(embedding,
        |    x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)
        |         * CAST(round(x::DOUBLE * 1000000) AS BIGINT))) AS ss
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |)
        |SELECT ROUND(sqrt(ss::DOUBLE) / 1000000.0, 1) AS norm_bucket,
        |       COUNT(*)::BIGINT AS n_vecs
        |FROM v GROUP BY 1""".stripMargin,
      // embed_norms = per-row fold + bucket agg
      shufflePin = Some(1)),

    // whole-distribution two-sample test: CvM T over purchase-vs-click
    // value cents — KS's integral companion, one exact-decimal numerator
    Entry("q_cvm", (s, dir) =>
      graft.ops.Stats.cramerVonMises(
        table(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click")),
        col("event_type") === "purchase",
        round(col("value") * 100).cast("long")),
      // CvM: cross-multiplied integer CDF gaps on the distinct-value cum
      // frame; the whole numerator is ONE exact HUGEINT sum
      """WITH v AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
        |         CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |), vals AS (
        |  SELECT x,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM v GROUP BY 1
        |), cum AS (
        |  SELECT *, CAST(SUM(c1) OVER w AS BIGINT) AS f1,
        |            CAST(SUM(c2) OVER w AS BIGINT) AS f2
        |  FROM vals
        |  WINDOW w AS (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), tot AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        |  FROM vals
        |), s AS (
        |  SELECT n1, n2,
        |    SUM((c1 + c2)::HUGEINT
        |        * (f1::HUGEINT * n2 - f2::HUGEINT * n1)
        |        * (f1::HUGEINT * n2 - f2::HUGEINT * n1)) AS num
        |  FROM cum, tot GROUP BY 1, 2
        |)
        |SELECT n1, n2,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |       ELSE ROUND(num::DOUBLE
        |         / ((n1::DOUBLE + n2::DOUBLE) * (n1::DOUBLE + n2::DOUBLE)
        |            * n1::DOUBLE * n2::DOUBLE), 6) END AS t_stat
        |FROM s""".stripMargin,
      // cvm = value frame + cum window + totals
      shufflePin = Some(4),
      planNote = Some("1-row arm-totals crossJoin onto the distinct-value cum frame")),

    // RFM user-value segmentation: exact cumulative quintile scoring
    // on distinct-value frames (never ntile — row-order under ties)
    Entry("q_rfm", (s, dir) =>
      graft.ops.Rfm.rfm(
        table(s, dir, "events"), "user_id", "ts",
        round(col("value") * 100).cast("long")),
      // RFM: exact cumulative quintile rule 1 + (5·below) div n on each
      // dimension's distinct-value frame; recency scored descending
      """WITH base AS (
        |  SELECT user_id AS u, ts,
        |    COALESCE(CAST(ROUND(value * 100) AS BIGINT), 0) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), per AS (
        |  SELECT u, MAX(date_trunc('day', ts)) AS last_day,
        |         COUNT(*)::BIGINT AS frequency,
        |         CAST(SUM(v) AS BIGINT) AS monetary_cents
        |  FROM base GROUP BY 1
        |), anc AS (SELECT MAX(last_day) AS anchor FROM per),
        |wr AS (
        |  SELECT per.*,
        |    CAST(date_diff('day', last_day, anchor) AS BIGINT) AS recency_days
        |  FROM per, anc
        |), rv AS (
        |  SELECT -recency_days AS x, COUNT(*)::BIGINT AS t FROM wr GROUP BY 1
        |), rs AS (
        |  SELECT x, CAST(1 + (5 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |    // (SUM(t) OVER ()) AS BIGINT) AS r_score
        |  FROM rv
        |), fv AS (
        |  SELECT frequency AS x, COUNT(*)::BIGINT AS t FROM wr GROUP BY 1
        |), fs AS (
        |  SELECT x, CAST(1 + (5 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |    // (SUM(t) OVER ()) AS BIGINT) AS f_score
        |  FROM fv
        |), mv AS (
        |  SELECT monetary_cents AS x, COUNT(*)::BIGINT AS t
        |  FROM wr GROUP BY 1
        |), ms AS (
        |  SELECT x, CAST(1 + (5 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |    // (SUM(t) OVER ()) AS BIGINT) AS m_score
        |  FROM mv
        |)
        |SELECT u AS user_id, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
        |FROM wr
        |JOIN rs ON -wr.recency_days = rs.x
        |JOIN fs ON wr.frequency = fs.x
        |JOIN ms ON wr.monetary_cents = ms.x""".stripMargin,
      // rfm = per-unit agg + three cached quintile branches
      shufflePin = Some(6)),

    // Jaccard link prediction over the co-purchase graph (RA's
    // normalized sibling, same wedge plan)
    Entry("q_jaccard_link", (s, dir) =>
      graft.ops.Graph.jaccardLinks(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2L),
      // Jaccard link prediction: RA's wedge plan, endpoint degrees
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), directed AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION ALL SELECT b, a FROM edges
        |), deg AS (
        |  SELECT src AS n, COUNT(*)::BIGINT AS d FROM directed GROUP BY 1
        |), scored AS (
        |  SELECT za.dst AS a, zb.dst AS b, COUNT(*)::BIGINT AS n_common
        |  FROM directed za JOIN directed zb ON za.src = zb.src
        |  WHERE za.dst < zb.dst
        |  GROUP BY 1, 2
        |), newlinks AS (
        |  SELECT s.a, s.b, s.n_common FROM scored s
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM edges e WHERE e.a = s.a AND e.b = s.b)
        |)
        |SELECT nl.a, nl.b, nl.n_common,
        |  (1000000 * nl.n_common) // (da.d + db.d - nl.n_common)
        |    AS jaccard_ppm
        |FROM newlinks nl
        |JOIN deg da ON da.n = nl.a
        |JOIN deg db ON db.n = nl.b""".stripMargin,
      // jaccard_link = RA's wedge chain
      shufflePin = Some(8)),

    // autocorrelation profile, lags 1..7 per event type: the weekly-
    // cycle detector (exact-integer centered products)
    Entry("q_acf", (s, dir) =>
      graft.ops.TimeSeries.acfProfile(
        table(s, dir, "events"), "event_type", "ts"),
      // ACF profile: centered-integer products (u = n·x − Σx), one lead
      // window per lag sharing a single sort, unpivot via UNION arms
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |         COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT g, COUNT(*)::BIGINT AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |         MIN(x) AS xmin, MAX(x) AS xmax
        |  FROM daily GROUP BY 1
        |), b AS (
        |  SELECT daily.g, day, nd, sx, xmin, xmax, nd * x - sx AS u
        |  FROM daily JOIN tot USING (g)
        |), led AS (
        |  SELECT *, LEAD(u, 1) OVER w AS u1, LEAD(u, 2) OVER w AS u2,
        |    LEAD(u, 3) OVER w AS u3, LEAD(u, 4) OVER w AS u4,
        |    LEAD(u, 5) OVER w AS u5, LEAD(u, 6) OVER w AS u6,
        |    LEAD(u, 7) OVER w AS u7
        |  FROM b WINDOW w AS (PARTITION BY g ORDER BY day)
        |), per AS (
        |  SELECT g, ANY_VALUE(nd) AS n_days, ANY_VALUE(xmin) AS xmin,
        |    ANY_VALUE(xmax) AS xmax,
        |    SUM(u::HUGEINT * u::HUGEINT) AS den,
        |    SUM(u::HUGEINT * u1::HUGEINT) AS m1,
        |    SUM(u::HUGEINT * u2::HUGEINT) AS m2,
        |    SUM(u::HUGEINT * u3::HUGEINT) AS m3,
        |    SUM(u::HUGEINT * u4::HUGEINT) AS m4,
        |    SUM(u::HUGEINT * u5::HUGEINT) AS m5,
        |    SUM(u::HUGEINT * u6::HUGEINT) AS m6,
        |    SUM(u::HUGEINT * u7::HUGEINT) AS m7
        |  FROM led GROUP BY 1
        |), lg AS (
        |  SELECT g, n_days, xmin, xmax, den, CAST(1 AS BIGINT) AS lag,
        |         m1 AS num FROM per
        |  UNION ALL SELECT g, n_days, xmin, xmax, den, 2, m2 FROM per
        |  UNION ALL SELECT g, n_days, xmin, xmax, den, 3, m3 FROM per
        |  UNION ALL SELECT g, n_days, xmin, xmax, den, 4, m4 FROM per
        |  UNION ALL SELECT g, n_days, xmin, xmax, den, 5, m5 FROM per
        |  UNION ALL SELECT g, n_days, xmin, xmax, den, 6, m6 FROM per
        |  UNION ALL SELECT g, n_days, xmin, xmax, den, 7, m7 FROM per
        |)
        |SELECT g AS event_type, n_days, lag,
        |  CASE WHEN xmin = xmax OR num IS NULL THEN NULL
        |       ELSE num::DOUBLE / den::DOUBLE END AS r
        |FROM lg""".stripMargin,
      // acf = (series,day) agg + shared lead-window sort + per-series agg
      shufflePin = Some(3)),

    // dominant-period detection: the ACF-peak lag (1..14) per event
    // type with a noise floor — NULL lag when no cycle clears r ≥ 0.1
    Entry("q_dominant_period", (s, dir) =>
      graft.ops.TimeSeries.dominantPeriod(
        table(s, dir, "events"), "event_type", "ts",
        maxLag = 14, minR = 0.1),
      // dominant period: q_acf's spine unrolled to 14 lags + the
      // (r DESC NULLS LAST, lag) argmax and the r >= 0.1 noise floor
      {
        val leads = (1 to 14).map(l => s"LEAD(u, $l) OVER w AS u$l")
          .mkString(",\n        |    ")
        val nums = (1 to 14)
          .map(l => s"SUM(u::HUGEINT * u$l::HUGEINT) AS m$l")
          .mkString(",\n        |    ")
        val lgs = (1 to 14).map { l =>
          if (l == 1)
            "SELECT g, n_days, xmin, xmax, den, CAST(1 AS BIGINT) AS lag,\n" +
              "        |         m1 AS num FROM per"
          else s"UNION ALL SELECT g, n_days, xmin, xmax, den, $l, m$l FROM per"
        }.mkString("\n        |  ")
        s"""WITH daily AS (
          |  SELECT event_type AS g, date_trunc('day', ts) AS day,
          |         COUNT(*)::BIGINT AS x
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY 1, 2
          |), tot AS (
          |  SELECT g, COUNT(*)::BIGINT AS nd, CAST(SUM(x) AS BIGINT) AS sx,
          |         MIN(x) AS xmin, MAX(x) AS xmax
          |  FROM daily GROUP BY 1
          |), b AS (
          |  SELECT daily.g, day, nd, sx, xmin, xmax, nd * x - sx AS u
          |  FROM daily JOIN tot USING (g)
          |), led AS (
          |  SELECT *,
          |    $leads
          |  FROM b WINDOW w AS (PARTITION BY g ORDER BY day)
          |), per AS (
          |  SELECT g, ANY_VALUE(nd) AS n_days, ANY_VALUE(xmin) AS xmin,
          |    ANY_VALUE(xmax) AS xmax,
          |    SUM(u::HUGEINT * u::HUGEINT) AS den,
          |    $nums
          |  FROM led GROUP BY 1
          |), lg AS (
          |  $lgs
          |), acf AS (
          |  SELECT g, n_days, lag,
          |    CASE WHEN xmin = xmax OR num IS NULL THEN NULL
          |         ELSE num::DOUBLE / den::DOUBLE END AS r
          |  FROM lg
          |), pick AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g
          |      ORDER BY r DESC NULLS LAST, lag) AS rn
          |  FROM acf
          |)
          |SELECT g AS event_type, n_days,
          |  CASE WHEN r IS NULL OR r < 0.1 THEN NULL ELSE lag END
          |    AS dominant_lag,
          |  CASE WHEN r IS NULL THEN NULL ELSE ROUND(r, 6) END AS r_peak
          |FROM pick WHERE rn = 1""".stripMargin
      },
      // dominant period = acf chain + the bounded-frame argmax window
      shufflePin = Some(3)),

    // two-group rank-sum test: purchase vs click value cents, U + the
    // tie-corrected z from global distinct-value midranks
    Entry("q_mann_whitney", (s, dir) =>
      graft.ops.Stats.mannWhitney(
        table(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click")),
        col("event_type") === "purchase",
        round(col("value") * 100).cast("long")),
      // Mann–Whitney: kruskal's distinct-value midrank frame at k=2,
      // half-integer U exact until the final two divisions
      """WITH v AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
        |         CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |), vals AS (
        |  SELECT x, COUNT(*)::BIGINT AS t FROM v GROUP BY 1
        |), ranked AS (
        |  SELECT x, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS BIGINT) AS u
        |  FROM vals
        |), gv AS (
        |  SELECT g, x, COUNT(*)::BIGINT AS c FROM v GROUP BY 1, 2
        |), per AS (
        |  SELECT CAST(SUM(CASE WHEN g = 1 THEN c ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(SUM(CASE WHEN g = 0 THEN c ELSE 0 END) AS BIGINT) AS n2,
        |         SUM(CASE WHEN g = 1 THEN (c * u)::HUGEINT
        |                  ELSE 0::HUGEINT END) AS su1
        |  FROM gv JOIN ranked USING (x)
        |), ties AS (
        |  SELECT SUM((t * t * t - t)::HUGEINT) AS tt, COUNT(*)::BIGINT AS nv
        |  FROM vals
        |)
        |SELECT n1, n2,
        |  CASE WHEN n1 = 0 OR n2 = 0 OR nv < 2 THEN NULL
        |       ELSE ROUND((su1::DOUBLE - n1::DOUBLE * (n1::DOUBLE + 1.0))
        |         / 2.0, 6) END AS u_stat,
        |  CASE WHEN n1 = 0 OR n2 = 0 OR nv < 2 THEN NULL
        |       ELSE ROUND(
        |         ((su1::DOUBLE - n1::DOUBLE * (n1::DOUBLE + 1.0)) / 2.0
        |          - n1::DOUBLE * n2::DOUBLE / 2.0)
        |         / sqrt(n1::DOUBLE * n2::DOUBLE / 12.0
        |             * ((n1::DOUBLE + n2::DOUBLE + 1.0)
        |                - tt::DOUBLE / ((n1::DOUBLE + n2::DOUBLE)
        |                    * (n1::DOUBLE + n2::DOUBLE - 1.0)))), 6)
        |  END AS z
        |FROM per, ties""".stripMargin,
      // mann-whitney inherits kruskal's collapsed-frame chain at k=2
      shufflePin = Some(6),
      planNote = Some("1-row tie-correction crossJoin (kruskal's Σt³−t frame at k=2)")),

    // Cliff's delta: the ordinal dominance effect size for the same
    // purchase-vs-click contrast — 2U1 − n1·n2 exact from doubled
    // midranks, no pair enumeration
    Entry("q_cliffs_delta", (s, dir) =>
      graft.ops.Stats.cliffsDelta(
        table(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click")),
        col("event_type") === "purchase",
        round(col("value") * 100).cast("long")),
      // Cliff's delta: the SAME midrank spine as q_mann_whitney; delta is
      // one division of exact integers (2U1 = su1 - n1(n1+1))
      """WITH v AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
        |         CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |), vals AS (
        |  SELECT x, COUNT(*)::BIGINT AS t FROM v GROUP BY 1
        |), ranked AS (
        |  SELECT x, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS BIGINT) AS u
        |  FROM vals
        |), gv AS (
        |  SELECT g, x, COUNT(*)::BIGINT AS c FROM v GROUP BY 1, 2
        |), per AS (
        |  SELECT CAST(SUM(CASE WHEN g = 1 THEN c ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(SUM(CASE WHEN g = 0 THEN c ELSE 0 END) AS BIGINT) AS n2,
        |         SUM(CASE WHEN g = 1 THEN (c * u)::HUGEINT
        |                  ELSE 0::HUGEINT END) AS su1
        |  FROM gv JOIN ranked USING (x)
        |)
        |SELECT n1, n2, CAST(n1 * n2 AS BIGINT) AS n_pairs,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |       ELSE ROUND((su1::DOUBLE - n1::DOUBLE * (n1::DOUBLE + 1.0)
        |                   - n1::DOUBLE * n2::DOUBLE)
        |                  / (n1::DOUBLE * n2::DOUBLE), 6)
        |  END AS delta
        |FROM per""".stripMargin,
      // cliffs rides the mann-whitney collapsed-value spine
      shufflePin = Some(4)),

    // lag-1 Granger-style nested-model F: does yesterday's click count
    // predict today's purchases beyond yesterday's purchases?
    Entry("q_granger", (s, dir) =>
      graft.ops.TimeSeries.grangerLag(
        table(s, dir, "events"), "ts",
        col("event_type") === "purchase",
        col("event_type") === "click"),
      // Granger lag-1: ten exact integer sums -> closed-form nested OLS;
      // each named quantity one expression from the sums (equal doubles)
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1
        |), lagged AS (
        |  SELECT y, LAG(y) OVER (ORDER BY day) AS u,
        |         LAG(x) OVER (ORDER BY day) AS v
        |  FROM daily
        |), lf AS (
        |  SELECT * FROM lagged WHERE u IS NOT NULL AND v IS NOT NULL
        |), s AS (
        |  SELECT COUNT(*)::BIGINT AS m,
        |    SUM(y::HUGEINT) AS sy, SUM(u::HUGEINT) AS su,
        |    SUM(v::HUGEINT) AS sv,
        |    SUM((y * y)::HUGEINT) AS syy, SUM((u * u)::HUGEINT) AS suu,
        |    SUM((v * v)::HUGEINT) AS svv, SUM((u * v)::HUGEINT) AS suv,
        |    SUM((u * y)::HUGEINT) AS suy, SUM((v * y)::HUGEINT) AS svy
        |  FROM lf
        |), c AS (
        |  SELECT *,
        |    suu::DOUBLE - su::DOUBLE * su::DOUBLE / m::DOUBLE AS a11,
        |    svv::DOUBLE - sv::DOUBLE * sv::DOUBLE / m::DOUBLE AS a22,
        |    suv::DOUBLE - su::DOUBLE * sv::DOUBLE / m::DOUBLE AS a12,
        |    suy::DOUBLE - su::DOUBLE * sy::DOUBLE / m::DOUBLE AS b1,
        |    svy::DOUBLE - sv::DOUBLE * sy::DOUBLE / m::DOUBLE AS b2,
        |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / m::DOUBLE AS syc
        |  FROM s
        |), c2 AS (
        |  SELECT *, a11 * a22 - a12 * a12 AS det FROM c
        |), c3 AS (
        |  SELECT *,
        |    CASE WHEN det = 0.0 THEN NULL
        |         ELSE (a22 * b1 - a12 * b2) / det END AS bhat,
        |    CASE WHEN det = 0.0 THEN NULL
        |         ELSE (a11 * b2 - a12 * b1) / det END AS chat
        |  FROM c2
        |), c4 AS (
        |  SELECT *, syc - bhat * b1 - chat * b2 AS rss1,
        |    CASE WHEN a11 = 0.0 THEN NULL
        |         ELSE syc - b1 * b1 / a11 END AS rss0
        |  FROM c3
        |)
        |SELECT m,
        |  CASE WHEN m < 4 OR a11 = 0.0 OR det = 0.0 OR rss1 <= 0.0 THEN NULL
        |       ELSE ROUND(bhat, 6) END AS b_lag,
        |  CASE WHEN m < 4 OR a11 = 0.0 OR det = 0.0 OR rss1 <= 0.0 THEN NULL
        |       ELSE ROUND(chat, 6) END AS c_cross,
        |  CASE WHEN m < 4 OR a11 = 0.0 OR det = 0.0 OR rss1 <= 0.0 THEN NULL
        |       ELSE ROUND((rss0 - rss1) / (rss1 / (m::DOUBLE - 3.0)), 6)
        |  END AS f_stat,
        |  CAST(1 AS BIGINT) AS df1, CAST(m - 3 AS BIGINT) AS df2
        |FROM c4""".stripMargin,
      // granger = daily agg + |days|-frame lag window/1-row fold
      shufflePin = Some(2)),

    // code-vs-prose router signals over code-planted docs: symbol
    // density, brace/semicolon count, indent regularity — all map-side
    Entry("q_code_detect", (s, dir) =>
      graft.ops.TextAnalysis.codeSignals(
        codeDocs(table(s, dir, "documents")), "doc_id", "text"),
      // code detection: char-class regexp_replace subtraction counting
      // (identical Java-regex/RE2 semantics), integral ppm divisions
      """WITH m AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 13 = 0
        |         THEN chr(10) || '  val x = f(1);' || chr(10) ||
        |              '  if (x) { g(x); }' || chr(10) || chr(9) || 'return x;'
        |         ELSE '' END AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), s AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM m
        |)
        |SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CASE WHEN length(t) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE (1000000 * (length(t)
        |         - length(regexp_replace(t, '[{}();=<>\[\]]', '', 'g'))))
        |         // length(t) END AS sym_ppm,
        |  CAST(length(t) - length(regexp_replace(t, '[{};]', '', 'g'))
        |    AS BIGINT) AS brace_semi_cnt,
        |  (1000000 * len(list_filter(lines, l ->
        |     starts_with(l, '  ') OR starts_with(l, chr(9)))))
        |    // len(lines) AS indent_line_ppm,
        |  (length(t) - length(regexp_replace(t, '[{};]', '', 'g')) >= 3
        |   AND (1000000 * len(list_filter(lines, l ->
        |          starts_with(l, '  ') OR starts_with(l, chr(9)))))
        |       // len(lines) >= 300000) AS is_code
        |FROM s""".stripMargin,
      // code detection is the map-side contract (0 — like q_html_strip)
      shufflePin = Some(0)),

    // parametric variance-homogeneity screen (Bartlett) across event
    // types on value cents — brown_forsythe's normal-theory sibling
    Entry("q_bartlett", (s, dir) =>
      graft.ops.Stats.bartlett(
        table(s, dir, "events"), "event_type",
        round(col("value") * 100).cast("long")),
      // Bartlett: exact-integer variance spine, ln-domain fold (the
      // fs_linkage/dist_shift ln-parity precedent)
      """WITH v AS (
        |  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), per AS (
        |  SELECT g, COUNT(*)::BIGINT AS n, SUM(x::HUGEINT) AS s,
        |         SUM((x * x)::HUGEINT) AS s2
        |  FROM v GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    MAX(CASE WHEN n < 2 THEN 1 END) AS tiny,
        |    MAX(CASE WHEN n >= 2 AND n::HUGEINT * s2 = s * s THEN 1 END)
        |      AS zerovar,
        |    list_sort(list(struct_pack(g := g::VARCHAR, n := n,
        |      s := s, s2 := s2))) AS a
        |  FROM per
        |), w AS (
        |  SELECT *,
        |    list_sum(list_transform(a, t -> (t.n::DOUBLE - 1.0) *
        |      ((t.s2::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)
        |       / (t.n::DOUBLE - 1.0))))
        |      / (n_total::DOUBLE - k::DOUBLE) AS sp2
        |  FROM f
        |)
        |SELECT k, n_total,
        |  CASE WHEN k < 2 OR tiny IS NOT NULL OR zerovar IS NOT NULL
        |       THEN NULL
        |       ELSE ROUND(
        |         ((n_total::DOUBLE - k::DOUBLE) * ln(sp2)
        |          - list_sum(list_transform(a, t -> (t.n::DOUBLE - 1.0) *
        |              ln((t.s2::DOUBLE - t.s::DOUBLE * t.s::DOUBLE
        |                  / t.n::DOUBLE) / (t.n::DOUBLE - 1.0)))))
        |         / (1.0 + (list_sum(list_transform(a, t ->
        |                     1.0 / (t.n::DOUBLE - 1.0)))
        |                   - 1.0 / (n_total::DOUBLE - k::DOUBLE))
        |              / (3.0 * (k::DOUBLE - 1.0))), 6)
        |  END AS chi2,
        |  CAST(k - 1 AS BIGINT) AS df
        |FROM w""".stripMargin,
      // bartlett is group agg + k-row folds
      shufflePin = Some(2)),

    // post-hoc pairwise contrasts across return flags (Fisher LSD t's
    // over the k-row exact-sum frame)
    Entry("q_pairwise_contrasts", (s, dir) =>
      graft.ops.Stats.pairwiseContrasts(
        table(s, dir, "lineitem"), "l_returnflag",
        round(col("l_extendedprice")).cast("long")),
      // pairwise contrasts: k-row exact-sum frame self-joined on g1<g2
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice) AS BIGINT) AS x
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |), per AS (
        |  SELECT g::VARCHAR AS g, COUNT(*)::BIGINT AS n, SUM(x::HUGEINT) AS s,
        |         SUM((x * x)::HUGEINT) AS s2
        |  FROM v GROUP BY 1
        |)
        |SELECT l.g AS g1, r.g AS g2, l.n AS n1, r.n AS n2,
        |  ROUND(l.s::DOUBLE / l.n::DOUBLE - r.s::DOUBLE / r.n::DOUBLE, 6)
        |    AS mean_diff,
        |  CASE WHEN l.n < 2 OR r.n < 2
        |         OR (l.n::HUGEINT * l.s2 = l.s * l.s
        |             AND r.n::HUGEINT * r.s2 = r.s * r.s)
        |       THEN NULL
        |       ELSE ROUND(
        |         (l.s::DOUBLE / l.n::DOUBLE - r.s::DOUBLE / r.n::DOUBLE)
        |         / sqrt(((l.s2::DOUBLE - l.s::DOUBLE * l.s::DOUBLE
        |                  / l.n::DOUBLE)
        |                 + (r.s2::DOUBLE - r.s::DOUBLE * r.s::DOUBLE
        |                    / r.n::DOUBLE))
        |                / (l.n::DOUBLE + r.n::DOUBLE - 2.0)
        |                * (1.0 / l.n::DOUBLE + 1.0 / r.n::DOUBLE)), 6)
        |  END AS t_stat,
        |  CAST(l.n + r.n - 2 AS BIGINT) AS df
        |FROM per l JOIN per r ON l.g < r.g""".stripMargin,
      // contrasts are group agg + the k-row self-join
      shufflePin = Some(2),
      planNote = Some("k-row group-summary self-join on g1<g2 (the k(k-1)/2 contrast grid; k = distinct groups, single digits)")),

    // symmetric bounded corpus divergence: English vs rest unigram JSD
    Entry("q_js_div", (s, dir) =>
      graft.ops.TextAnalysis.jsDivergence(
        table(s, dir, "documents"), "text", col("lang") === "en"),
      // JSD: per-term conditional counts, one sorted |V|-row fold with a
      // single addition per element (fold tree stated identically)
      s"""$docToks, t AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS side,
         |         unnest(toks) AS term
         |  FROM d
         |), tf AS (
         |  SELECT term,
         |    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
         |  FROM t GROUP BY 1
         |), f AS (
         |  SELECT COUNT(*)::BIGINT AS n_terms,
         |    CAST(SUM(a) AS BIGINT) AS n_tokens_a,
         |    CAST(SUM(b) AS BIGINT) AS n_tokens_b,
         |    list_sort(list(struct_pack(term := term, a := a, b := b))) AS arr
         |  FROM tf
         |)
         |SELECT n_tokens_a, n_tokens_b, n_terms,
         |  CASE WHEN n_tokens_a = 0 OR n_tokens_b = 0 THEN NULL
         |       ELSE ROUND(list_sum(list_transform(arr, s ->
         |         CASE WHEN s.a > 0 THEN
         |           0.5 * (s.a::DOUBLE / n_tokens_a::DOUBLE)
         |           * ln((s.a::DOUBLE / n_tokens_a::DOUBLE)
         |             / (0.5 * (s.a::DOUBLE / n_tokens_a::DOUBLE
         |                       + s.b::DOUBLE / n_tokens_b::DOUBLE)))
         |         ELSE 0.0 END
         |         + CASE WHEN s.b > 0 THEN
         |           0.5 * (s.b::DOUBLE / n_tokens_b::DOUBLE)
         |           * ln((s.b::DOUBLE / n_tokens_b::DOUBLE)
         |             / (0.5 * (s.a::DOUBLE / n_tokens_a::DOUBLE
         |                       + s.b::DOUBLE / n_tokens_b::DOUBLE)))
         |         ELSE 0.0 END)), 6)
         |  END AS jsd_nats
         |FROM f""".stripMargin,
      // jsd = term agg + 1-row fold
      shufflePin = Some(2)),

    // matched-blocks rank test: per-user purchase counts across
    // early/mid/late month, doubled-midrank integer Friedman χ²
    Entry("q_friedman", (s, dir) =>
      graft.ops.Stats.friedman(
        table(s, dir, "events"), "user_id", Seq(
          col("event_type") === "purchase" && dayofmonth(col("ts")) <= 10,
          col("event_type") === "purchase" &&
            dayofmonth(col("ts")).between(11, 20),
          col("event_type") === "purchase" &&
            dayofmonth(col("ts")) >= 21)),
      // Friedman: doubled block midranks keep every sufficient stat an
      // exact integer; the ×4 scale cancels in the ratio
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) <= 10 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v0,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) BETWEEN 11 AND 20 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |          AND date_part('day', ts) >= 21 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v2
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), lg AS (
        |  SELECT user_id AS u, CAST(0 AS BIGINT) AS j, v0 AS v FROM per
        |  UNION ALL
        |  SELECT user_id, CAST(1 AS BIGINT), v1 FROM per
        |  UNION ALL
        |  SELECT user_id, CAST(2 AS BIGINT), v2 FROM per
        |), ranked AS (
        |  SELECT u, j, v,
        |    CAST(2 * RANK() OVER (PARTITION BY u ORDER BY v)
        |      + COUNT(*) OVER (PARTITION BY u, v) - 1 AS BIGINT) AS r
        |  FROM lg
        |), perj AS (
        |  SELECT j, SUM(r::HUGEINT) AS uj, SUM((r * r)::HUGEINT) AS u2,
        |         COUNT(*)::BIGINT AS n
        |  FROM ranked GROUP BY 1
        |), f AS (
        |  SELECT ANY_VALUE(n) AS n_blocks, SUM(uj * uj) AS su2,
        |         SUM(u2) AS uu
        |  FROM perj
        |)
        |SELECT CAST(3 AS BIGINT) AS k, n_blocks,
        |  CASE WHEN uu - n_blocks::HUGEINT * 3 * 16 = 0 THEN NULL
        |       ELSE ROUND(
        |         CAST(2 * (su2 - n_blocks::HUGEINT * n_blocks * 3 * 16)
        |              AS DOUBLE)
        |         / CAST(uu - n_blocks::HUGEINT * 3 * 16 AS DOUBLE), 6)
        |  END AS chi2_f,
        |  CAST(2 AS BIGINT) AS df
        |FROM f""".stripMargin,
      // friedman = per-unit agg + block rank window + k-row fold
      shufflePin = Some(3)),

    // classic equal-variance one-way ANOVA F across return flags
    Entry("q_anova_f", (s, dir) =>
      graft.ops.Stats.anovaF(
        table(s, dir, "lineitem"), "l_returnflag",
        round(col("l_extendedprice")).cast("long")),
      // classic one-way ANOVA F: brown_forsythe's spine minus the median
      // centering; degenerates on exact ints
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice) AS BIGINT) AS x
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |), per AS (
        |  SELECT g, COUNT(*)::BIGINT AS n, SUM(x::HUGEINT) AS s,
        |         SUM((x * x)::HUGEINT) AS s2
        |  FROM v GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    SUM(n::HUGEINT * s2 - s * s) AS wss,
        |    list_sort(list(struct_pack(g := g::VARCHAR, n := n,
        |      s := s, s2 := s2))) AS a
        |  FROM per
        |), x1 AS (
        |  SELECT *, list_sum(list_transform(a, t -> t.s::DOUBLE))
        |    / n_total::DOUBLE AS grand
        |  FROM f
        |)
        |SELECT k, n_total,
        |  CASE WHEN k < 2 OR n_total <= k OR wss = 0 THEN NULL
        |       ELSE ROUND((n_total::DOUBLE - k::DOUBLE) / (k::DOUBLE - 1.0)
        |         * list_sum(list_transform(a, t -> t.n::DOUBLE
        |             * (t.s::DOUBLE / t.n::DOUBLE - grand)
        |             * (t.s::DOUBLE / t.n::DOUBLE - grand)))
        |         / list_sum(list_transform(a, t -> t.s2::DOUBLE
        |             - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)), 6)
        |  END AS f_stat,
        |  CAST(k - 1 AS BIGINT) AS df1,
        |  CAST(n_total - k AS BIGINT) AS df2
        |FROM x1""".stripMargin,
      // anova_f = group agg + 1-row fold
      shufflePin = Some(2)),

    // per-node clustering coefficient over the co-purchase graph:
    // triangle counts per member node / degree pairs, exact ppm
    Entry("q_local_clustering", (s, dir) =>
      graft.ops.Graph.localClustering(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2L),
      // per-node LCC: triangles exploded to member nodes vs degrees,
      // integral ppm division — all exact integers
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e1.b = e2.a
        |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        |), tn AS (
        |  SELECT node, COUNT(*)::BIGINT AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1
        |), deg AS (
        |  SELECT node, COUNT(*)::BIGINT AS degree FROM (
        |    SELECT a AS node FROM edges
        |    UNION ALL SELECT b FROM edges)
        |  GROUP BY 1
        |)
        |SELECT deg.node, degree, COALESCE(n_tri, 0)::BIGINT AS n_tri,
        |  CASE WHEN degree < 2 THEN NULL
        |       ELSE (2000000 * COALESCE(n_tri, 0)) // (degree * (degree - 1))
        |  END AS lcc_ppm
        |FROM deg LEFT JOIN tn USING (node)""".stripMargin,
      // r10 graph batch: lcc = cached-edge wedge join + ONE exploded
      // member agg + degree agg (explode, never unionAll — 14→6 when the
      // tri frame stopped being planned per branch)
      shufflePin = Some(6)),

    // hub-vs-clique one-number summary: Pearson r of (deg src, deg dst)
    // over the directed edge view — Newman's degree assortativity
    Entry("q_assortativity", (s, dir) =>
      graft.ops.Graph.degreeAssortativity(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2L),
      // assortativity: exact HUGEINT correlation sums over the directed
      // edge view; zero-variance decided on exact ints
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), dg AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION ALL
        |  SELECT b AS src, a AS dst FROM edges
        |), deg AS (
        |  SELECT src AS n, COUNT(*)::BIGINT AS d FROM dg GROUP BY 1
        |), xy AS (
        |  SELECT dx.d AS x, dy.d AS y
        |  FROM dg JOIN deg dx ON dg.src = dx.n JOIN deg dy ON dg.dst = dy.n
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n_edges,
        |    SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
        |    SUM((x * y)::HUGEINT) AS sxy, SUM((x * x)::HUGEINT) AS sxx,
        |    SUM((y * y)::HUGEINT) AS syy
        |  FROM xy
        |)
        |SELECT n_edges,
        |  CASE WHEN n_edges < 2 OR n_edges::HUGEINT * sxx = sx * sx
        |         OR n_edges::HUGEINT * syy = sy * sy THEN NULL
        |       ELSE ROUND(
        |         (n_edges::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |         / (sqrt(n_edges::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |            * sqrt(n_edges::DOUBLE * syy::DOUBLE
        |                   - sy::DOUBLE * sy::DOUBLE)), 6)
        |  END AS assortativity
        |FROM f""".stripMargin,
      // assortativity = deg agg + two deg joins + 1-row fold
      shufflePin = Some(5)),

    // 2-round synchronous label-propagation communities with the
    // deterministic (count desc, label asc) tie-break
    Entry("q_label_prop", (s, dir) =>
      graft.ops.Graph.labelPropagation(
        graft.ops.Graph.cooccurrenceDigraph(
          table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2L),
        "src", "dst", rounds = 2),
      // 2-round synchronous LPA, oracle unrolls the rounds with the same
      // (count DESC, label ASC) argmax
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION ALL
        |  SELECT b AS src, a AS dst FROM edges
        |), l0 AS (
        |  SELECT DISTINCT src AS node, src AS lab FROM e
        |), c1 AS (
        |  SELECT e.dst AS node, l.lab AS lab, COUNT(*)::BIGINT AS c
        |  FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2
        |), p1 AS (
        |  SELECT node, lab FROM (
        |    SELECT node, lab, ROW_NUMBER() OVER (PARTITION BY node
        |      ORDER BY c DESC, lab ASC) AS rn
        |    FROM c1)
        |  WHERE rn = 1
        |), l1 AS (
        |  SELECT l0.node, COALESCE(p1.lab, l0.lab) AS lab
        |  FROM l0 LEFT JOIN p1 USING (node)
        |), c2 AS (
        |  SELECT e.dst AS node, l.lab AS lab, COUNT(*)::BIGINT AS c
        |  FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2
        |), p2 AS (
        |  SELECT node, lab FROM (
        |    SELECT node, lab, ROW_NUMBER() OVER (PARTITION BY node
        |      ORDER BY c DESC, lab ASC) AS rn
        |    FROM c2)
        |  WHERE rn = 1
        |)
        |SELECT l1.node, COALESCE(p2.lab, l1.lab) AS lab
        |FROM l1 LEFT JOIN p2 USING (node)""".stripMargin,
      // LPA's visible plan is checkpoint leaves (er_clusters precedent)
      shufflePin = Some(0)),

    // encoding-damage audit per source over the mojibake-planted docs
    Entry("q_mojibake", (s, dir) =>
      graft.ops.TextAnalysis.encodingAudit(
        mojibakeDocs(table(s, dir, "documents")), "source", "text"),
      // mojibake twin: identical residue plants via chr(), identical
      // codepoint-class patterns
      """WITH m AS (
        |  SELECT source, text ||
        |    CASE WHEN doc_id % 23 = 0 THEN ' caf' || chr(65533) || 'e' ELSE '' END ||
        |    CASE WHEN doc_id % 29 = 0 THEN ' caf' || chr(195) || chr(169) ELSE '' END ||
        |    CASE WHEN doc_id % 31 = 0 THEN ' x' || chr(133) || 'y' ELSE '' END ||
        |    CASE WHEN doc_id % 37 = 0 THEN ' a' || chr(160) || 'b' ELSE '' END AS text
        |  FROM documents
        |)
        |SELECT source, COUNT(*)::BIGINT AS n_docs,
        |  CAST(SUM(CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_replacement,
        |  CAST(SUM(CASE WHEN regexp_matches(text,
        |      chr(195) || '[' || chr(128) || '-' || chr(191) || ']')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_double_utf8,
        |  CAST(SUM(CASE WHEN regexp_matches(text,
        |      '[' || chr(128) || '-' || chr(159) || ']')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_c1_controls,
        |  CAST(SUM(CASE WHEN contains(text, chr(160)) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nbsp
        |FROM m WHERE source IS NOT NULL AND text IS NOT NULL
        |GROUP BY 1""".stripMargin,
      // mojibake is one map-side agg
      shufflePin = Some(1)),

    // FK orphan matrix across the TPC-H relation graph; two relations
    // carry planted orphans (key remaps), the rest gate at zero
    Entry("q_ref_integrity", (s, dir) => {
      val li = table(s, dir, "lineitem")
      val ords = table(s, dir, "orders")
      graft.ops.Integrity.orphanAudit(Seq(
        ("lineitem->orders",
          li.withColumn("l_orderkey",
            when(col("l_orderkey") % 97 === 0, col("l_orderkey") + 1000000000L)
              .otherwise(col("l_orderkey"))), "l_orderkey", ords, "o_orderkey"),
        ("orders->customer", ords, "o_custkey",
          table(s, dir, "customer"), "c_custkey"),
        ("lineitem->part",
          li.withColumn("l_partkey",
            when(col("l_partkey") % 89 === 0, -col("l_partkey"))
              .otherwise(col("l_partkey"))), "l_partkey",
          table(s, dir, "part"), "p_partkey"),
        ("lineitem->supplier", li, "l_suppkey",
          table(s, dir, "supplier"), "s_suppkey"),
        ("customer->nation", table(s, dir, "customer"), "c_nationkey",
          table(s, dir, "nation"), "n_nationkey"),
        ("supplier->nation", table(s, dir, "supplier"), "s_nationkey",
          table(s, dir, "nation"), "n_nationkey")))
    },
      // orphan-audit twin: same key remaps, per-relation LEFT JOIN vs the
      // distinct parent keyset, exact-ppm division
      """WITH
        |lio AS (SELECT CASE WHEN l_orderkey % 97 = 0
        |  THEN l_orderkey + 1000000000 ELSE l_orderkey END AS k
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |lip AS (SELECT CASE WHEN l_partkey % 89 = 0
        |  THEN -l_partkey ELSE l_partkey END AS k
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        |r1 AS (SELECT 'lineitem->orders' AS relation, COUNT(*)::BIGINT AS n_child,
        |  CAST(SUM(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
        |  FROM lio LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders
        |    WHERE o_orderkey IS NOT NULL) o USING (k)),
        |r2 AS (SELECT 'orders->customer', COUNT(*)::BIGINT,
        |  CAST(SUM(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL) x
        |  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer
        |    WHERE c_custkey IS NOT NULL) c USING (k)),
        |r3 AS (SELECT 'lineitem->part', COUNT(*)::BIGINT,
        |  CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lip LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part
        |    WHERE p_partkey IS NOT NULL) p USING (k)),
        |r4 AS (SELECT 'lineitem->supplier', COUNT(*)::BIGINT,
        |  CAST(SUM(CASE WHEN sp.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey IS NOT NULL) x
        |  LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier
        |    WHERE s_suppkey IS NOT NULL) sp USING (k)),
        |r5 AS (SELECT 'customer->nation', COUNT(*)::BIGINT,
        |  CAST(SUM(CASE WHEN n.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT c_nationkey AS k FROM customer WHERE c_nationkey IS NOT NULL) x
        |  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation
        |    WHERE n_nationkey IS NOT NULL) n USING (k)),
        |r6 AS (SELECT 'supplier->nation', COUNT(*)::BIGINT,
        |  CAST(SUM(CASE WHEN n.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT s_nationkey AS k FROM supplier WHERE s_nationkey IS NOT NULL) x
        |  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation
        |    WHERE n_nationkey IS NOT NULL) n USING (k)),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
        |  SELECT * FROM r3 UNION ALL SELECT * FROM r4 UNION ALL
        |  SELECT * FROM r5 UNION ALL SELECT * FROM r6)
        |SELECT relation, n_child, n_orphan,
        |  CASE WHEN n_child = 0 THEN NULL
        |       ELSE (n_orphan * 1000000) // n_child END AS orphan_ppm
        |FROM u""".stripMargin,
      // ref-integrity is 6 independent agg→anti→agg relations
      shufflePin = Some(18)),

    // HITS on the DIRECTED buyer->part bipartite graph (prefixed node
    // ids keep the two key domains disjoint): hubs = diverse heavy
    // buyers, authorities = parts bought by them; 2 ppm rounds
    Entry("q_hits", (s, dir) => {
      val edges = table(s, dir, "lineitem")
        .join(table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_custkey").isNotNull && col("l_partkey").isNotNull)
        .select(concat(lit("C"), col("o_custkey")).as("src"),
          concat(lit("P"), col("l_partkey")).as("dst"))
      graft.ops.Graph.hits(edges, "src", "dst", iters = 2)
    },
      // HITS twin: prefixed-bipartite edges, 2 unrolled rounds of
      // sum-push + max-normalize in BIGINT ppm (the q_pagerank style)
      """WITH e AS (
        |  SELECT DISTINCT 'C' || o_custkey AS src, 'P' || l_partkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL
        |), h0 AS (
        |  SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h FROM e
        |), a1r AS (
        |  SELECT e.dst AS node, CAST(SUM(h0.h) AS BIGINT) AS raw
        |  FROM h0 JOIN e ON h0.node = e.src GROUP BY 1
        |), a1 AS (
        |  SELECT node, CAST((raw * 1000000) // (SELECT MAX(raw) FROM a1r)
        |    AS BIGINT) AS a FROM a1r
        |), h1r AS (
        |  SELECT e.src AS node, CAST(SUM(a1.a) AS BIGINT) AS raw
        |  FROM a1 JOIN e ON a1.node = e.dst GROUP BY 1
        |), h1 AS (
        |  SELECT node, CAST((raw * 1000000) // (SELECT MAX(raw) FROM h1r)
        |    AS BIGINT) AS h FROM h1r
        |), a2r AS (
        |  SELECT e.dst AS node, CAST(SUM(h1.h) AS BIGINT) AS raw
        |  FROM h1 JOIN e ON h1.node = e.src GROUP BY 1
        |), a2 AS (
        |  SELECT node, CAST((raw * 1000000) // (SELECT MAX(raw) FROM a2r)
        |    AS BIGINT) AS a FROM a2r
        |), h2r AS (
        |  SELECT e.src AS node, CAST(SUM(a2.a) AS BIGINT) AS raw
        |  FROM a2 JOIN e ON a2.node = e.dst GROUP BY 1
        |), h2 AS (
        |  SELECT node, CAST((raw * 1000000) // (SELECT MAX(raw) FROM h2r)
        |    AS BIGINT) AS h FROM h2r
        |)
        |SELECT COALESCE(h2.node, a2.node) AS node,
        |  CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub_ppm,
        |  CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth_ppm
        |FROM h2 FULL OUTER JOIN a2 ON h2.node = a2.node""".stripMargin,
      // hits' rounds are checkpoint leaves
      shufflePin = Some(2)),

    // lag-1 autocorrelation of daily counts per event type: n-scaled
    // integer deviations, DECIMAL-exact product sums, raw-parity ratio
    Entry("q_autocorr", (s, dir) =>
      graft.ops.TimeSeries.lag1Autocorr(
        table(s, dir, "events"), "event_type", "ts"),
      // autocorr twin: n-scaled integer deviations u = nd*x - sx are
      // exact BIGINTs; HUGEINT product sums (Spark: DECIMAL(38,0)) cast
      // to double are correctly-rounded on both engines → raw-parity ratio
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT g, COUNT(*)::BIGINT AS nd, CAST(SUM(x) AS BIGINT) AS sx,
        |    MIN(x) AS xmin, MAX(x) AS xmax
        |  FROM daily GROUP BY 1
        |), u AS (
        |  SELECT daily.g, nd, xmin, xmax, nd * x - sx AS u,
        |    LEAD(nd * x - sx) OVER (PARTITION BY daily.g ORDER BY day) AS un
        |  FROM daily JOIN tot ON daily.g = tot.g
        |)
        |SELECT g AS event_type, MIN(nd) AS n_days,
        |  CASE WHEN MIN(xmin) = MIN(xmax) THEN NULL
        |       ELSE CAST(SUM(u::HUGEINT * un) AS DOUBLE)
        |          / CAST(SUM(u::HUGEINT * u) AS DOUBLE)
        |  END AS r1
        |FROM u GROUP BY 1""".stripMargin,
      // autocorr = (series,day) agg + per-series tot agg/join + lag
      // window
      shufflePin = Some(3)),

    // Hill tail-index over price cents: top-201 order stats, exact-int
    // ratios, ln fold rounded 6 dp
    Entry("q_tail_index", (s, dir) =>
      graft.ops.Stats.hillTailIndex(
        table(s, dir, "lineitem"),
        round(col("l_extendedprice") * 100).cast("long"), k = 200),
      // Hill twin: the top-(k+1) multiset of an integral metric is
      // deterministic under ties; per-term ratio is a division of exact
      // ints; ln feeds the fold so the output rounds at 6 dp
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem
        |  WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
        |), top AS (
        |  SELECT v FROM v ORDER BY v DESC LIMIT 201
        |), f AS (
        |  SELECT list_sort(list(v)) AS a, COUNT(*)::BIGINT AS n FROM top
        |), g AS (
        |  SELECT n, a[1] AS thr,
        |    list_sum(list_transform(a[2:],
        |      x -> ln(x::DOUBLE / a[1]::DOUBLE))) AS lnsum
        |  FROM f
        |)
        |SELECT (n - 1)::BIGINT AS k, thr::BIGINT AS threshold,
        |  CASE WHEN n < 2 OR lnsum = 0.0 THEN NULL
        |       ELSE ROUND((n - 1)::DOUBLE / lnsum, 6) END AS hill_alpha
        |FROM g""".stripMargin,
      // tail_index is a distributed TakeOrdered (0 exchanges)
      shufflePin = Some(0)),

    // entropy rate of the event-type Markov chain: how predictable is
    // the next action given the current one
    Entry("q_markov_entropy", (s, dir) =>
      graft.ops.Funnel.markovEntropyRate(
        table(s, dir, "events"), "user_id", "ts", "event_type", "event_id"),
      // Markov-entropy twin: integer cell counts, one value-ordered list
      // fold (f,t determines n,rt so the ORDER BY key is complete),
      // ln → output rounded 6 dp
      """WITH p AS (
        |  SELECT event_type AS f,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL
        |), cells AS (
        |  SELECT f, t, COUNT(*)::BIGINT AS n
        |  FROM p WHERE t IS NOT NULL GROUP BY 1, 2
        |), rt AS (
        |  SELECT f, CAST(SUM(n) AS BIGINT) AS rt FROM cells GROUP BY 1
        |), agg AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_transitions,
        |    COUNT(DISTINCT cells.f)::BIGINT AS n_states,
        |    list(struct_pack(n := n, rt := rt) ORDER BY cells.f, t) AS a
        |  FROM cells JOIN rt ON cells.f = rt.f
        |)
        |SELECT n_transitions, n_states,
        |  ROUND(list_sum(list_transform(a, s ->
        |    (s.n::DOUBLE / n_transitions::DOUBLE)
        |      * ln(s.rt::DOUBLE / s.n::DOUBLE))), 6) AS entropy_rate_nats
        |FROM agg""".stripMargin,
      // markov = per-user lag window + cell agg + cell-frame window + agg
      shufflePin = Some(4)),

    // day-of-week seasonal strength per event type: scaled-integer
    // sums of squares, 7-element dow fold, raw-parity ratio
    Entry("q_seasonal_strength", (s, dir) =>
      graft.ops.TimeSeries.seasonalStrength(
        table(s, dir, "events"), "event_type", "ts"),
      // seasonal-strength twin: scaled-integer SS numerators in HUGEINT
      // (Spark: DECIMAL(38,0)), dow-ordered term fold, identical
      // 1 − (fold·n²)/T tree → raw double parity
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x,
        |    dayofweek(date_trunc('day', ts))::INTEGER AS dow
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT g, COUNT(*)::BIGINT AS n, CAST(SUM(x) AS BIGINT) AS s
        |  FROM daily GROUP BY 1
        |), dt AS (
        |  SELECT g, dow, COUNT(*)::BIGINT AS nd, CAST(SUM(x) AS BIGINT) AS sd
        |  FROM daily GROUP BY 1, 2
        |), u AS (
        |  SELECT daily.g, daily.dow, tot.n, dt.nd,
        |    (tot.n * x - tot.s)::HUGEINT AS u,
        |    (dt.nd * x - dt.sd)::HUGEINT AS ud
        |  FROM daily JOIN tot ON daily.g = tot.g
        |    JOIN dt ON daily.g = dt.g AND daily.dow = dt.dow
        |), cells AS (
        |  SELECT g, dow, MIN(nd) AS nd, MIN(n) AS n,
        |    SUM(ud * ud) AS rd, SUM(u * u) AS tpart
        |  FROM u GROUP BY 1, 2
        |), per AS (
        |  SELECT g, MIN(n) AS n_days, COUNT(DISTINCT dow)::BIGINT AS n_dows,
        |    SUM(tpart) AS t,
        |    list(struct_pack(rd := rd, nd := nd) ORDER BY dow) AS a
        |  FROM cells GROUP BY 1
        |)
        |SELECT g AS event_type, n_days, n_dows,
        |  CASE WHEN t = 0 THEN NULL
        |       ELSE 1.0 - (list_sum(list_transform(a, s ->
        |         s.rd::DOUBLE / (s.nd::DOUBLE * s.nd::DOUBLE)))
        |         * (n_days::DOUBLE * n_days::DOUBLE)) / t::DOUBLE
        |  END AS seasonal_strength
        |FROM per""".stripMargin,
      // seasonal = daily agg + shared window exchange on the collapsed
      // frame (events scanned once)
      shufflePin = Some(2)),

    // delete-one-bucket jackknife SE for cents-per-unit: order-level
    // resampling units, exact-int replicate ratios, raw parity
    Entry("q_jackknife", (s, dir) =>
      graft.ops.Stats.jackknifeRatio(
        table(s, dir, "lineitem"), col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_quantity").cast("long"), b = 100),
      // jackknife twin: identical md5 buckets, exact-int leave-one-out
      // ratios, bucket-ordered folds, sqrt of identical doubles
      """WITH u AS (
        |  SELECT l_orderkey::VARCHAR AS k,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS yu,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wu
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL
        |  GROUP BY 1
        |), b AS (
        |  SELECT ('0x' || substr(md5(k), 1, 8))::BIGINT % 100 AS bk,
        |    COUNT(*)::BIGINT AS n,
        |    CAST(SUM(yu) AS BIGINT) AS yb,
        |    CAST(SUM(wu) AS BIGINT) AS wb
        |  FROM u GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_units, COUNT(*)::BIGINT AS b,
        |    CAST(SUM(yb) AS BIGINT) AS sy, CAST(SUM(wb) AS BIGINT) AS sw,
        |    list(struct_pack(yb := yb, wb := wb) ORDER BY bk) AS a
        |  FROM b
        |), m AS (
        |  SELECT n_units, b, sy, sw, a,
        |    list_sum(list_transform(a, s ->
        |      (sy - s.yb)::DOUBLE / (sw - s.wb)::DOUBLE)) / b::DOUBLE AS tb
        |  FROM t
        |)
        |SELECT n_units, b, sy::DOUBLE / sw::DOUBLE AS theta,
        |  CASE WHEN b < 2 THEN NULL
        |       ELSE sqrt(((b - 1)::DOUBLE / b::DOUBLE)
        |         * list_sum(list_transform(a, s ->
        |           ((sy - s.yb)::DOUBLE / (sw - s.wb)::DOUBLE - tb)
        |           * ((sy - s.yb)::DOUBLE / (sw - s.wb)::DOUBLE - tb))))
        |  END AS jk_se
        |FROM m""".stripMargin,
      // jackknife = unit agg + bucket agg + 1-row agg (review pass: rows
      // are not resampling units — the unit collapse is semantic)
      shufflePin = Some(3)),

    // matched-cohort uplift: md5-parity arms, exact pre-activity
    // strata (LEAST cap), post-period cents outcome, weighted fold
    Entry("q_matched_uplift", (s, dir) =>
      graft.ops.Stats.matchedUplift(
        table(s, dir, "events"), "user_id", "ts",
        round(col("value") * 100).cast("long"), preCap = 20),
      // matched-uplift twin: identical md5 parity arms, LEAST strata,
      // integer-midpoint split, FILTERed matched-stratum list (DuckDB
      // list() keeps NULLs where Spark collect_list drops them),
      // stratum-ordered ATT fold — raw parity
      """WITH base AS (
        |  SELECT user_id::VARCHAR AS k, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), span AS (
        |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM base
        |), units AS (
        |  SELECT k,
        |    LEAST(CAST(SUM(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT),
        |      20) AS s,
        |    (('0x' || substr(md5(k), 1, 8))::BIGINT % 2)::INTEGER AS arm,
        |    CAST(SUM(CASE WHEN us >= mid THEN COALESCE(y, 0) ELSE 0 END)
        |      AS BIGINT) AS post
        |  FROM base, span GROUP BY k
        |), strata AS (
        |  SELECT s,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT) AS yt,
        |    CAST(SUM(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT) AS yc
        |  FROM units GROUP BY 1
        |), f AS (
        |  SELECT CAST(SUM(nt + nc) AS BIGINT) AS n_units,
        |    CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_strata_matched,
        |    CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END)
        |      AS BIGINT) AS ntm,
        |    CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt + nc ELSE 0 END)
        |      AS BIGINT) AS nm,
        |    list(struct_pack(nt := nt, nc := nc, yt := yt, yc := yc)
        |      ORDER BY s) FILTER (WHERE nt > 0 AND nc > 0) AS a
        |  FROM strata
        |)
        |SELECT n_units, n_strata_matched,
        |  (nm * 1000000) // n_units AS matched_ppm,
        |  CASE WHEN n_strata_matched = 0 THEN NULL
        |       ELSE list_sum(list_transform(a, s ->
        |         (s.nt::DOUBLE / ntm::DOUBLE)
        |         * (s.yt::DOUBLE / s.nt::DOUBLE - s.yc::DOUBLE / s.nc::DOUBLE)))
        |  END AS att
        |FROM f""".stripMargin,
      // uplift = per-unit agg + stratum agg + 1-row span broadcast + agg
      shufflePin = Some(4),
      planNote = Some("1-row epoch-midpoint frame broadcast onto the per-unit scan (bounded-broadcast category)")),

    // dominant observed 3-step flows: two stacked leads per user
    // stream, exact counts, deterministic top-20
    Entry("q_event_trigrams", (s, dir) =>
      graft.ops.Funnel.sequentialPatterns(
        table(s, dir, "events"), "user_id", "ts", "event_type",
        "event_id", topK = 20),
      // trigram twin: identical stacked leads, deterministic
      // (n DESC, e1, e2, e3) top-k on integer counts
      """WITH p AS (
        |  SELECT event_type AS e1,
        |    LEAD(event_type, 1) OVER w AS e2,
        |    LEAD(event_type, 2) OVER w AS e3
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), c AS (
        |  SELECT e1, e2, e3, COUNT(*)::BIGINT AS n
        |  FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY 1, 2, 3
        |)
        |SELECT e1, e2, e3, n,
        |  ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3)::BIGINT AS rank
        |FROM c ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,
      // trigrams = per-user window + cell agg (rank rides the topK cut)
      shufflePin = Some(2)),

    // first-view -> first-purchase latency: integer gap seconds,
    // nearest-rank p50/p90 via the 100·cum >= p·n predicate
    Entry("q_stage_latency", (s, dir) =>
      graft.ops.Funnel.stageLatency(
        table(s, dir, "events"), "user_id", "ts", "event_type",
        "event_id", fromType = "view", toType = "purchase"),
      // stage-latency twin: identical running-min window, integer gap
      // seconds, the same 100·cum >= p·n nearest-rank predicate
      """WITH g AS (
        |  SELECT user_id AS u, event_type AS e, epoch_us(ts) AS us,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS UNBOUNDED PRECEDING) AS from_min
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_type IN ('view', 'purchase')
        |), per AS (
        |  SELECT u, MIN(CASE WHEN e = 'purchase' AND from_min IS NOT NULL
        |    THEN (us - from_min) // 1000000 END) AS gap_s
        |  FROM g GROUP BY 1
        |), cells AS (
        |  SELECT gap_s, COUNT(*)::BIGINT AS c FROM per
        |  WHERE gap_s IS NOT NULL GROUP BY 1
        |), cum AS (
        |  SELECT gap_s,
        |    CAST(SUM(c) OVER (ORDER BY gap_s ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cm,
        |    CAST(SUM(c) OVER () AS BIGINT) AS n
        |  FROM cells
        |)
        |SELECT MIN(n)::BIGINT AS n_converted,
        |  CAST(MIN(CASE WHEN cm * 100 >= n * 50 THEN gap_s END) AS BIGINT)
        |    AS p50_s,
        |  CAST(MIN(CASE WHEN cm * 100 >= n * 90 THEN gap_s END) AS BIGINT)
        |    AS p90_s
        |FROM cum""".stripMargin,
      // stage_latency = per-user window+agg, distinct-gap cum frame
      shufflePin = Some(3)),

    // Heaps'-law vocab-growth fit across sources: exact (N, V) points,
    // ln-ln OLS folded in group order, 6 dp outputs
    Entry("q_heaps_fit", (s, dir) =>
      graft.ops.TextAnalysis.heapsFit(
        table(s, dir, "documents"), "source", "text"),
      // Heaps twin: the shared docToks tokenizer, exact (N, V) cells,
      // source-ordered ln folds, 6 dp (zipf discipline)
      s"""$docToksSource, x AS (
        |  SELECT source AS g, unnest(toks) AS term FROM d
        |), cells AS (
        |  SELECT g, COUNT(*)::BIGINT AS nt, COUNT(DISTINCT term)::BIGINT AS nv
        |  FROM x GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n, MIN(nt) AS xmin, MAX(nt) AS xmax,
        |    list(struct_pack(nt := nt, nv := nv) ORDER BY g) AS a
        |  FROM cells
        |), m AS (
        |  SELECT n, xmin, xmax,
        |    list_sum(list_transform(a, s -> ln(s.nt::DOUBLE))) AS sx,
        |    list_sum(list_transform(a, s -> ln(s.nv::DOUBLE))) AS sy,
        |    list_sum(list_transform(a, s ->
        |      ln(s.nt::DOUBLE) * ln(s.nv::DOUBLE))) AS sxy,
        |    list_sum(list_transform(a, s ->
        |      ln(s.nt::DOUBLE) * ln(s.nt::DOUBLE))) AS sxx
        |  FROM f
        |), sl AS (
        |  SELECT n, xmin, xmax, sx, sy,
        |    (n::DOUBLE * sxy - sx * sy) / (n::DOUBLE * sxx - sx * sx) AS slope
        |  FROM m
        |)
        |SELECT n AS n_points,
        |  CASE WHEN n < 2 OR xmin = xmax THEN NULL
        |       ELSE ROUND(slope, 6) END AS heaps_beta,
        |  CASE WHEN n < 2 OR xmin = xmax THEN NULL
        |       ELSE ROUND((sy - slope * sx) / n::DOUBLE, 6) END AS heaps_lnk
        |FROM sl""".stripMargin,
      // heaps = (group,term) two-level distinct agg + 1-row fold
      shufflePin = Some(3)),

    // "bought X also bought Y": top-50 item pairs by co-occurrence
    // cosine — exact counts, sqrt raw parity, deterministic cut
    Entry("q_item_cooc", (s, dir) =>
      graft.ops.Graph.itemCosine(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 3L, topK = 50),
      // item-cosine twin: the assoc-rules incidence chain, cosine as one
      // division/sqrt of exact counts, (cosine DESC, a, b) top-50
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b, COUNT(*)::BIGINT AS pair_cnt
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3
        |), icnt AS (
        |  SELECT item, COUNT(*)::BIGINT AS cnt FROM inc2 GROUP BY 1
        |)
        |SELECT a, b, pair_cnt, ia.cnt AS cnt_a, ib.cnt AS cnt_b,
        |  pair_cnt::DOUBLE / sqrt(ia.cnt::DOUBLE * ib.cnt::DOUBLE) AS cosine
        |FROM edges
        |JOIN icnt ia ON ia.item = a
        |JOIN icnt ib ON ib.item = b
        |ORDER BY cosine DESC, a, b LIMIT 50""".stripMargin,
      // item_cooc = incidence distinct + size semi-join + per-item window
      // riding the pairing self-join (counts flow THROUGH the join — no
      // separate count branch)
      shufflePin = Some(8)),

    // per-type data-freshness audit: integer lag vs the global max
    Entry("q_freshness", (s, dir) =>
      graft.ops.TimeSeries.freshness(
        table(s, dir, "events"), "event_type", "ts", staleAfterS = 86400L),
      // freshness twin: integer epoch-us lag vs the global max,
      // make_timestamp for the emitted max_ts
      """WITH per AS (
        |  SELECT event_type AS g, COUNT(*)::BIGINT AS n_events,
        |    MAX(epoch_us(ts)) AS mx
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1
        |)
        |SELECT g AS event_type, n_events, make_timestamp(mx) AS max_ts,
        |  ((SELECT MAX(mx) FROM per) - mx) // 1000000 AS lag_s,
        |  ((SELECT MAX(mx) FROM per) - mx) // 1000000 > 86400 AS is_stale
        |FROM per""".stripMargin,
      // freshness collapses then windows
      shufflePin = Some(2)),

    // revenue concentration by customer decile: tie-consistent
    // integer decile rule, exact cents, ppm shares
    Entry("q_decile_share", (s, dir) =>
      graft.ops.Stats.decileShare(
        table(s, dir, "orders"), "o_custkey",
        round(col("o_totalprice") * 100)),
      // decile-share twin: identical distinct-value cum frame and the
      // tie-consistent ceil(10·cum/n) integer decile rule
      """WITH per AS (
        |  SELECT o_custkey AS u,
        |    CAST(SUM(COALESCE(CAST(round(o_totalprice * 100) AS BIGINT), 0))
        |      AS BIGINT) AS v
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
        |), cells AS (
        |  SELECT v, COUNT(*)::BIGINT AS c, CAST(SUM(v) AS BIGINT) AS sv
        |  FROM per GROUP BY 1
        |), cum AS (
        |  SELECT v, c, sv,
        |    CAST(SUM(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cm,
        |    CAST(SUM(c) OVER () AS BIGINT) AS n,
        |    CAST(SUM(sv) OVER () AS BIGINT) AS tot
        |  FROM cells
        |)
        |SELECT (10 * cm + n - 1) // n AS decile,
        |  CAST(SUM(c) AS BIGINT) AS n_units,
        |  CAST(SUM(sv) AS BIGINT) AS value_cents,
        |  (CAST(SUM(sv) AS BIGINT) * 1000000) // MIN(tot) AS share_ppm
        |FROM cum GROUP BY 1""".stripMargin,
      // decile share collapses then windows
      shufflePin = Some(3)),

    // cross-doc trigram diversity/novelty per source: distinct +
    // singleton shares of per-doc distinct shingles, all-integer
    Entry("q_ngram_diversity", (s, dir) =>
      graft.ops.TextAnalysis.ngramDiversity(
        table(s, dir, "documents"), "source", "text", n = 3),
      // diversity twin: the dedup-family shingle CTE (per-doc distinct
      // trigrams), integer df cells, ppm idiom
      s"""$docToksSource, s AS (
        |  SELECT source AS g,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        |  FROM d WHERE len(toks) >= 3
        |), df1 AS (
        |  SELECT g, sh, COUNT(*)::BIGINT AS df FROM s GROUP BY 1, 2
        |)
        |SELECT g AS source,
        |  CAST(SUM(df) AS BIGINT) AS n_occurrences,
        |  COUNT(*)::BIGINT AS n_distinct,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons,
        |  (COUNT(*) * 1000000) // CAST(SUM(df) AS BIGINT) AS distinct_ppm,
        |  (CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // COUNT(*) AS singleton_ppm
        |FROM df1 GROUP BY 1""".stripMargin,
      // diversity = shingle explode into (group,shingle) agg + group agg
      shufflePin = Some(2)),

    // Fano factor of daily counts per event type: is volume even
    // Poisson-like before anomaly math assumes it
    Entry("q_dispersion", (s, dir) =>
      graft.ops.TimeSeries.dispersion(
        table(s, dir, "events"), "event_type", "ts"),
      // dispersion twin: scaled-integer T in HUGEINT, one raw-parity
      // division T/(n·(n−1)·S)
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), u AS (
        |  SELECT g,
        |    COUNT(*) OVER (PARTITION BY g) AS n,
        |    CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS s,
        |    (COUNT(*) OVER (PARTITION BY g) * x
        |      - CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT))::HUGEINT AS uu
        |  FROM daily
        |)
        |SELECT g AS event_type, MIN(n)::BIGINT AS n_days,
        |  CASE WHEN MIN(n) < 2 THEN NULL
        |       ELSE CAST(SUM(uu * uu) AS DOUBLE)
        |          / ((MIN(n) * (MIN(n) - 1))::HUGEINT * MIN(s))::DOUBLE
        |  END AS dispersion
        |FROM u GROUP BY 1""".stripMargin,
      // dispersion = (series,day) agg + window
      shufflePin = Some(2)),

    // shared-opening duplicate groups: first-32-token fingerprints,
    // wholly map-side into one agg
    Entry("q_prefix_dup", (s, dir) =>
      graft.ops.Dedup.prefixDupGroups(
        table(s, dir, "documents"), "doc_id", "text", k = 32),
      // prefix-dup twin: the shared tokenizer, toks[1:32] slice,
      // COALESCE for the empty-token doc (DuckDB array_to_string([])
      // is NULL where Spark array_join is '')
      s"""$docToks
        |SELECT md5(COALESCE(array_to_string(toks[1:32], ' '), '')) AS prefix_md5,
        |  COUNT(*)::BIGINT AS n_docs,
        |  MIN(doc_id) AS min_doc_id
        |FROM d WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
      // prefix_dup is map-side into ONE agg
      shufflePin = Some(1)),

    // cluster-size histogram over the near-dup connected components
    Entry("q_dedup_cluster_sizes", (s, dir) =>
      graft.ops.Dedup.clusterSizeHistogram(
        graft.ops.Dedup.nearDupClusters(
          graft.ops.Dedup.nearDupPairsExact(
            table(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.3))),
      // cluster-size histogram twin: the SHARED recursive-CC chain
      // (dedupClustersChain — cannot drift from q_dedup_clusters) plus
      // two counting aggs
      s"""$dedupClustersChain, sz AS (
         |  SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
         |  FROM clus GROUP BY 1
         |)
         |SELECT cluster_size, COUNT(*)::BIGINT AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin,
      // cluster_sizes rides the checkpointed CC output with two counting
      // aggs
      shufflePin = Some(2),
      widthPin = Some(1)),

    // lexical drift: terms whose df share moved most between md5
    // halves — exact integer cross-difference ranking
    Entry("q_term_drift", (s, dir) =>
      graft.ops.TextAnalysis.termDrift(
        table(s, dir, "documents"), "doc_id", "text", topK = 20),
      // term-drift twin: identical md5 halves, per-doc distinct terms,
      // HUGEINT cross-difference ranking, (score DESC, term) top-20
      s"""$docToks, h AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 2)
        |      ::INTEGER AS hh,
        |    toks
        |  FROM d WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), tot AS (
        |  SELECT CAST(SUM(CASE WHEN hh = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN hh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM h
        |), x AS (
        |  SELECT hh, unnest(list_distinct(toks)) AS term FROM h
        |), dfs AS (
        |  SELECT term,
        |    CAST(SUM(CASE WHEN hh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
        |    CAST(SUM(CASE WHEN hh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS df_b
        |  FROM x GROUP BY 1
        |)
        |SELECT term, df_a, df_b, n_a, n_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |       ELSE df_a::DOUBLE / n_a::DOUBLE - df_b::DOUBLE / n_b::DOUBLE
        |  END AS share_delta
        |FROM dfs CROSS JOIN tot
        |ORDER BY abs(df_a::HUGEINT * n_b - df_b::HUGEINT * n_a) DESC, term
        |LIMIT 20""".stripMargin,
      // term_drift = explode agg + 1-row count broadcast (TakeOrdered cut)
      shufflePin = Some(2),
      planNote = Some("1-row per-half doc-count frame broadcast onto the term-df agg (bounded-broadcast category)")),

    // Mann-Kendall monotone-trend test: exact integer S and
    // tie-corrected variance, pair join bounded by days²
    Entry("q_mann_kendall", (s, dir) =>
      graft.ops.TimeSeries.mannKendall(
        table(s, dir, "events"), "event_type", "ts"),
      // MK twin: identical sign-sum pair join, exact tie-corrected
      // variance, the same continuity-corrected z tree
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT a.g, CAST(SUM(sign(b.x - a.x)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
        |  GROUP BY 1
        |), ties AS (
        |  SELECT g, CAST(SUM(t) AS BIGINT) AS n_days,
        |    CAST(SUM(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS corr
        |  FROM (SELECT g, x, COUNT(*)::BIGINT AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT ties.g AS event_type, n_days, s_stat,
        |  CASE WHEN abs(s_stat) <= 1
        |         OR n_days * (n_days - 1) * (n_days * 2 + 5) - corr <= 0
        |       THEN NULL
        |       ELSE (s_stat::DOUBLE - sign(s_stat)::DOUBLE)
        |          / sqrt((n_days * (n_days - 1) * (n_days * 2 + 5)
        |              - corr)::DOUBLE / 18.0)
        |  END AS z
        |FROM ties JOIN s ON ties.g = s.g""".stripMargin,
      // mann_kendall joins the CACHED daily frame (pairs bounded by
      // days², cache kills the triple scan)
      shufflePin = Some(3)),

    // view->purchase conversion with 1m/1h/1d window breakdowns
    Entry("q_conv_windows", (s, dir) =>
      graft.ops.Funnel.conversionWindows(
        table(s, dir, "events"), "user_id", "ts", "event_type",
        "event_id", fromType = "view", toType = "purchase"),
      // conv-windows twin: identical running-min gaps, exact-count ppms
      """WITH g AS (
        |  SELECT user_id AS u, event_type AS e, epoch_us(ts) AS us,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS UNBOUNDED PRECEDING) AS from_min
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_type IN ('view', 'purchase')
        |), per AS (
        |  SELECT u,
        |    MAX(CASE WHEN e = 'view' THEN 1 ELSE 0 END) AS has_from,
        |    MIN(CASE WHEN e = 'purchase' AND from_min IS NOT NULL
        |      THEN us - from_min END) AS gap_us
        |  FROM g GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n_eligible,
        |    COUNT(gap_us)::BIGINT AS n_converted,
        |    CAST(SUM(CASE WHEN gap_us <= 60000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1m,
        |    CAST(SUM(CASE WHEN gap_us <= 3600000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1h,
        |    CAST(SUM(CASE WHEN gap_us <= 86400000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1d
        |  FROM per WHERE has_from = 1
        |)
        |SELECT n_eligible, n_converted,
        |  CASE WHEN n_eligible = 0 THEN NULL
        |       ELSE (n_converted * 1000000) // n_eligible END AS conv_ppm,
        |  CASE WHEN n_eligible = 0 THEN NULL
        |       ELSE (c1m * 1000000) // n_eligible END AS conv_1m_ppm,
        |  CASE WHEN n_eligible = 0 THEN NULL
        |       ELSE (c1h * 1000000) // n_eligible END AS conv_1h_ppm,
        |  CASE WHEN n_eligible = 0 THEN NULL
        |       ELSE (c1d * 1000000) // n_eligible END AS conv_1d_ppm
        |FROM f""".stripMargin,
      // conv_windows collapses before its windows
      shufflePin = Some(2)),

    // seasonal-naive vs naive MAE ratio: does weekly structure predict
    Entry("q_mase", (s, dir) =>
      graft.ops.TimeSeries.seasonalNaiveError(
        table(s, dir, "events"), "event_type", "ts"),
      // MASE twin: identical row lags, exact abs-diff sums, one fixed
      // ratio tree
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), l AS (
        |  SELECT g, x,
        |    LAG(x, 1) OVER (PARTITION BY g ORDER BY day) AS l1,
        |    LAG(x, 7) OVER (PARTITION BY g ORDER BY day) AS l7
        |  FROM daily
        |), a AS (
        |  SELECT g, COUNT(*)::BIGINT AS n_days,
        |    CAST(SUM(abs(x - l1)) AS BIGINT) AS sn,
        |    COUNT(l1)::BIGINT AS n1,
        |    CAST(SUM(abs(x - l7)) AS BIGINT) AS s7,
        |    COUNT(l7)::BIGINT AS n7
        |  FROM l GROUP BY 1
        |)
        |SELECT g AS event_type, n_days,
        |  CASE WHEN n1 = 0 THEN NULL
        |       ELSE sn::DOUBLE / n1::DOUBLE END AS mae_naive,
        |  CASE WHEN n7 = 0 THEN NULL
        |       ELSE s7::DOUBLE / n7::DOUBLE END AS mae_seasonal,
        |  CASE WHEN n1 = 0 OR n7 = 0 OR sn = 0 THEN NULL
        |       ELSE (s7::DOUBLE / n7::DOUBLE) / (sn::DOUBLE / n1::DOUBLE)
        |  END AS mase
        |FROM a""".stripMargin,
      // mase collapses before its windows
      shufflePin = Some(2)),

    // weekday-conditioned 3σ anomalies: all-integer cross-multiplied
    // test, no float threshold anywhere
    Entry("q_dow_anomalies", (s, dir) =>
      graft.ops.TimeSeries.dowAnomalies(
        table(s, dir, "events"), "event_type", "ts"),
      // dow-anomaly twin: identical integer cross-multiplication in
      // HUGEINT, same ≥3-day guard
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x,
        |    dayofweek(date_trunc('day', ts))::INTEGER AS dow
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT g, day, dow, x,
        |    COUNT(*) OVER wd AS nd,
        |    CAST(SUM(x) OVER wd AS BIGINT) AS sd,
        |    (COUNT(*) OVER wd * x
        |      - CAST(SUM(x) OVER wd AS BIGINT))::HUGEINT AS ud
        |  FROM daily
        |  WINDOW wd AS (PARTITION BY g, dow)
        |), r AS (
        |  SELECT g, day, dow, x, nd, sd, ud,
        |    SUM(ud * ud) OVER (PARTITION BY g, dow) AS rd
        |  FROM scored
        |)
        |SELECT g AS event_type, day, dow, x AS n_events,
        |  nd::BIGINT AS n_dow_days,
        |  sd::DOUBLE / nd::DOUBLE AS dow_mean,
        |  CASE WHEN rd * 9 = 0 THEN NULL
        |       ELSE CAST(ud * ud * (nd - 1) AS DOUBLE)
        |          / CAST(rd * 9 AS DOUBLE) END AS score,
        |  (nd >= 3 AND ud * ud * (nd - 1) > rd * 9) AS is_anomaly
        |FROM r""".stripMargin,
      // collapses to distinct-value/daily frames before windows
      shufflePin = Some(2)),

    // two-sample KS on order value cents between md5 customer arms:
    // exact integer sup, raw-parity D
    Entry("q_ks_test", (s, dir) =>
      graft.ops.Stats.ksTest(
        table(s, dir, "orders"), "o_custkey",
        round(col("o_totalprice") * 100)),
      // KS twin: identical md5 arms, exact HUGEINT sup, (diff DESC,
      // v DESC) argmax
      """WITH cells AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN ('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))
        |      ::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN ('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))
        |      ::BIGINT % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND CAST(round(o_totalprice * 100) AS BIGINT) IS NOT NULL
        |  GROUP BY 1
        |), cum AS (
        |  SELECT v,
        |    CAST(SUM(c0) OVER w AS BIGINT) AS cum0,
        |    CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
        |    CAST(SUM(c0) OVER () AS BIGINT) AS n0,
        |    CAST(SUM(c1) OVER () AS BIGINT) AS n1
        |  FROM cells
        |  WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |), d AS (
        |  SELECT v, n0, n1,
        |    abs(cum0::HUGEINT * n1 - cum1::HUGEINT * n0) AS diff,
        |    ROW_NUMBER() OVER (ORDER BY
        |      abs(cum0::HUGEINT * n1 - cum1::HUGEINT * n0) DESC, v DESC) AS rn
        |  FROM cum
        |)
        |SELECT MIN(n0) AS n_a, MIN(n1) AS n_b,
        |  MIN(CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
        |       ELSE CAST(diff AS DOUBLE)
        |          / CAST(n0::HUGEINT * n1 AS DOUBLE) END) AS ks_d,
        |  MIN(v) AS ks_at_value
        |FROM d WHERE rn = 1""".stripMargin,
      // collapses to distinct-value/daily frames before windows
      shufflePin = Some(2)),

    // Wald–Wolfowitz runs test on above/below-median daily counts
    Entry("q_runs_test", (s, dir) =>
      graft.ops.TimeSeries.runsTest(
        table(s, dir, "events"), "event_type", "ts"),
      // runs twin: identical RANGE-window median, exact run counts, the
      // same DECIMAL variance numerator and z tree
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT g, day, x,
        |    COUNT(*) OVER (PARTITION BY g) AS n,
        |    COUNT(*) OVER (PARTITION BY g ORDER BY x
        |      RANGE UNBOUNDED PRECEDING) AS le
        |  FROM daily
        |), med AS (
        |  SELECT g, day, x,
        |    MIN(CASE WHEN le * 2 >= n THEN x END) OVER (PARTITION BY g)
        |      AS medx
        |  FROM m
        |), s AS (
        |  SELECT g, medx, (x > medx)::INTEGER AS sign,
        |    LAG((x > medx)::INTEGER) OVER (PARTITION BY g ORDER BY day)
        |      AS prev
        |  FROM med WHERE x <> medx
        |), agg AS (
        |  SELECT g, CAST(MIN(medx) AS BIGINT) AS median_x,
        |    CAST(SUM(sign) AS BIGINT) AS n_above,
        |    CAST(SUM(1 - sign) AS BIGINT) AS n_below,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> sign
        |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
        |  FROM s GROUP BY 1
        |)
        |SELECT g AS event_type, median_x, n_above, n_below, runs,
        |  CASE WHEN n_above = 0 OR n_below = 0
        |         OR n_above * n_below * 2 <= n_above + n_below THEN NULL
        |       ELSE (runs::DOUBLE
        |           - (1.0 + (n_above * n_below * 2)::DOUBLE
        |                  / (n_above + n_below)::DOUBLE))
        |         / sqrt(CAST((n_above * n_below * 2)::HUGEINT
        |               * (n_above * n_below * 2 - (n_above + n_below))
        |               AS DOUBLE)
        |             / ((n_above + n_below) * (n_above + n_below)
        |                * (n_above + n_below - 1))::DOUBLE)
        |  END AS z
        |FROM agg""".stripMargin,
      // collapses to distinct-value/daily frames before windows
      shufflePin = Some(2)),

    // cohort LTV matrix: first-active-week cohorts (the fixture spans
    // 30 days — monthly would degenerate to one cell), integer week
    // ages, exact cents, window-carried cohort sizes
    Entry("q_cohort_ltv", (s, dir) =>
      graft.ops.Funnel.cohortLtv(
        table(s, dir, "events"), "user_id", "ts",
        round(col("value") * 100), periodDays = 7),
      // cohort-LTV twin: identical epoch-week ints, age-0 size carried
      // by first_value, integer division LTV
      """WITH um AS (
        |  SELECT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS m,
        |    CAST(SUM(COALESCE(CAST(round(value * 100) AS BIGINT), 0))
        |      AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT u, m, v, MIN(m) OVER (PARTITION BY u) AS m0 FROM um
        |), byage AS (
        |  SELECT m0, m - m0 AS age_periods, COUNT(*)::BIGINT AS n_active,
        |    CAST(SUM(v) AS BIGINT) AS rev_cents
        |  FROM w GROUP BY 1, 2
        |), cum AS (
        |  SELECT m0, age_periods, n_active, rev_cents,
        |    FIRST_VALUE(n_active) OVER
        |      (PARTITION BY m0 ORDER BY age_periods
        |       ROWS UNBOUNDED PRECEDING) AS cohort_size,
        |    CAST(SUM(rev_cents) OVER
        |      (PARTITION BY m0 ORDER BY age_periods
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM byage
        |)
        |SELECT m0 AS cohort_period, age_periods, n_active, cohort_size,
        |  rev_cents, cum_cents,
        |  cum_cents // cohort_size AS ltv_per_user_cents
        |FROM cum""".stripMargin,
      // cohort_ltv = (user,period) agg + user window + (cohort,age) agg +
      // cohort window, single lineage
      shufflePin = Some(4)),

    // embedding drift canary: quantized-centroid cosine between two
    // md5 halves of the vector corpus
    Entry("q_embed_drift", (s, dir) =>
      graft.ops.Similarity.embedDrift(
        table(s, dir, "embeddings"), "vec_id", "embedding"),
      // embed-drift twin: identical md5 halves, the centroid-family
      // round(1e6·x) quantization, DECIMAL/HUGEINT-exact dim sums
      """WITH x AS (
        |  SELECT (('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
        |      % 2)::INTEGER AS h,
        |    unnest(generate_series(1, len(embedding))) - 1 AS d,
        |    unnest(list_transform(embedding,
        |      e -> CAST(round(e::DOUBLE * 1000000) AS BIGINT))) AS q
        |  FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |), cells AS (
        |  SELECT d,
        |    CAST(SUM(CASE WHEN h = 0 THEN q ELSE 0 END) AS HUGEINT) AS c0,
        |    CAST(SUM(CASE WHEN h = 1 THEN q ELSE 0 END) AS HUGEINT) AS c1,
        |    CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt0,
        |    CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt1
        |  FROM x GROUP BY 1
        |)
        |SELECT CAST(MAX(cnt0) AS BIGINT) AS n_a,
        |  CAST(MAX(cnt1) AS BIGINT) AS n_b,
        |  CASE WHEN SUM(c0 * c0) = 0 OR SUM(c1 * c1) = 0 THEN NULL
        |       ELSE CAST(SUM(c0 * c1) AS DOUBLE)
        |          / (sqrt(CAST(SUM(c0 * c0) AS DOUBLE))
        |             * sqrt(CAST(SUM(c1 * c1) AS DOUBLE)))
        |  END AS centroid_cosine
        |FROM cells""".stripMargin,
      // embed_drift = posexplode into a dims agg + 1-row agg
      shufflePin = Some(2)),

    // binary-segmentation change point per event type: where did the
    // daily level shift (cusum says that it drifted, this says where)
    Entry("q_changepoint", (s, dir) =>
      graft.ops.TimeSeries.changepoint(
        table(s, dir, "events"), "event_type", "ts"),
      // changepoint twin: identical prefix windows, DECIMAL/HUGEINT
      // numerator, (score DESC, day DESC) deterministic argmax
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT g, day,
        |    COUNT(*) OVER (PARTITION BY g) AS n,
        |    CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS s,
        |    COUNT(*) OVER (PARTITION BY g ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS k,
        |    CAST(SUM(x) OVER (PARTITION BY g ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sk
        |  FROM daily
        |), f AS (
        |  SELECT g, day, n, s, k, sk,
        |    CAST((n * sk - k * s)::HUGEINT * (n * sk - k * s) AS DOUBLE)
        |      / (k * (n - k))::DOUBLE AS score,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY
        |      CAST((n * sk - k * s)::HUGEINT * (n * sk - k * s) AS DOUBLE)
        |        / (k * (n - k))::DOUBLE DESC, day DESC) AS rn
        |  FROM scored WHERE k < n
        |)
        |SELECT g AS event_type, n::BIGINT AS n_days, day AS split_day,
        |  k::BIGINT AS n_before,
        |  sk::DOUBLE / k::DOUBLE AS mean_before,
        |  (s - sk)::DOUBLE / (n - k)::DOUBLE AS mean_after,
        |  score
        |FROM f WHERE rn = 1""".stripMargin,
      // changepoint = daily agg + prefix windows
      shufflePin = Some(2)),

    // Wilson 95% CI on per-user big-ticket conversion per md5 arm:
    // exact counts through one fixed literal-1.96 tree, raw parity.
    // The >180 threshold keeps 0 < p̂ < 1 at both fixture scales so
    // the ORACLE exercises the full interval math (a condition every
    // user satisfies degenerates to p̂=1 and gates nothing)
    Entry("q_wilson_ci", (s, dir) =>
      graft.ops.Stats.wilsonCi(
        table(s, dir, "events"), "user_id",
        col("event_type") === "purchase" && col("value") > 180),
      // Wilson twin: identical md5 arms, the same literal-1.96 tree.
      // z² MUST be 1.96::DOUBLE * 1.96::DOUBLE — bare 1.96*1.96 is
      // DECIMAL(6,4) arithmetic in the oracle engine (exactly 3.8416),
      // 1 ulp above Spark's double product 3.8415999999999997
      """WITH units AS (
        |  SELECT user_id::VARCHAR AS k,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 180
        |      THEN 1 ELSE 0 END) AS s
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), arms AS (
        |  SELECT (('0x' || substr(md5(k), 1, 8))::BIGINT % 2)::INTEGER AS arm,
        |    COUNT(*)::BIGINT AS n_units, CAST(SUM(s) AS BIGINT) AS n_success
        |  FROM units GROUP BY 1
        |)
        |SELECT arm, n_units, n_success,
        |  n_success::DOUBLE / n_units::DOUBLE AS p_hat,
        |  (n_success::DOUBLE / n_units::DOUBLE
        |      + (1.96::DOUBLE * 1.96::DOUBLE) / (2.0 * n_units::DOUBLE))
        |    / (1.0 + (1.96::DOUBLE * 1.96::DOUBLE) / n_units::DOUBLE)
        |  - (1.96::DOUBLE * sqrt(n_success::DOUBLE / n_units::DOUBLE
        |        * (1.0 - n_success::DOUBLE / n_units::DOUBLE)
        |        / n_units::DOUBLE
        |      + (1.96::DOUBLE * 1.96::DOUBLE)
        |        / (4.0 * n_units::DOUBLE * n_units::DOUBLE)))
        |    / (1.0 + (1.96::DOUBLE * 1.96::DOUBLE) / n_units::DOUBLE)
        |    AS wilson_lo,
        |  (n_success::DOUBLE / n_units::DOUBLE
        |      + (1.96::DOUBLE * 1.96::DOUBLE) / (2.0 * n_units::DOUBLE))
        |    / (1.0 + (1.96::DOUBLE * 1.96::DOUBLE) / n_units::DOUBLE)
        |  + (1.96::DOUBLE * sqrt(n_success::DOUBLE / n_units::DOUBLE
        |        * (1.0 - n_success::DOUBLE / n_units::DOUBLE)
        |        / n_units::DOUBLE
        |      + (1.96::DOUBLE * 1.96::DOUBLE)
        |        / (4.0 * n_units::DOUBLE * n_units::DOUBLE)))
        |    / (1.0 + (1.96::DOUBLE * 1.96::DOUBLE) / n_units::DOUBLE)
        |    AS wilson_hi
        |FROM arms""".stripMargin,
      // wilson = unit agg + arm agg
      shufflePin = Some(2)),

    // Spearman rank correlation per return flag: doubled average ranks
    // are exact ints even under ties; 128-bit exact product sums
    Entry("q_spearman", (s, dir) =>
      graft.ops.Stats.spearman(
        table(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity"), round(col("l_extendedprice"))),
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |         CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL
        |), r AS (
        |  SELECT g,
        |    2 * RANK() OVER (PARTITION BY g ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY g, x) - 1 AS u,
        |    2 * RANK() OVER (PARTITION BY g ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY g, y) - 1 AS v,
        |    x, y
        |  FROM v
        |), s AS (
        |  SELECT g, COUNT(*)::BIGINT AS n,
        |    MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax,
        |    CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(v) AS BIGINT) AS sv,
        |    SUM(u * v) AS suv, SUM(u * u) AS suu, SUM(v * v) AS svv
        |  FROM r GROUP BY 1
        |)
        |SELECT g AS l_returnflag, n,
        |  CASE WHEN n < 2 OR xmin = xmax OR ymin = ymax THEN NULL
        |       ELSE ROUND((n::DOUBLE * suv::DOUBLE - su::DOUBLE * sv::DOUBLE)
        |            / (sqrt(n::DOUBLE * suu::DOUBLE - su::DOUBLE * su::DOUBLE)
        |             * sqrt(n::DOUBLE * svv::DOUBLE - sv::DOUBLE * sv::DOUBLE)), 6)
        |  END AS spearman_rho
        |FROM s""".stripMargin,
      // spearman's two per-group rank windows share one exchange (AQE
      // reuse)
      shufflePin = Some(1)),

    // one-way Welch ANOVA: did mean line price move across return
    // flags? k-group welchZ without the equal-variance assumption;
    // exact-int sufficient stats, one group-sorted 1-row fold
    Entry("q_welch_anova", (s, dir) =>
      graft.ops.Stats.welchAnova(
        table(s, dir, "lineitem"), "l_returnflag",
        round(col("l_extendedprice")).cast("long")),
      // Spearman twin: identical doubled-rank windows, HUGEINT exact
      // product sums (Spark side: DECIMAL(38,0)), one fixed corr tree
      // Welch ANOVA: the group frame folds group-sorted (list_sum ==
      // Spark's left fold over the array_sort'd struct array); variance
      // zero / tiny-group degenerates decided on exact integers
      """WITH g AS (
        |  SELECT l_returnflag AS grp, COUNT(*)::BIGINT AS n,
        |    SUM(CAST(round(l_extendedprice) AS BIGINT)::HUGEINT) AS s,
        |    SUM((CAST(round(l_extendedprice) AS BIGINT)
        |       * CAST(round(l_extendedprice) AS BIGINT))::HUGEINT) AS s2
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    MAX(CASE WHEN n < 2 THEN 1 END) AS tiny,
        |    MAX(CASE WHEN n >= 2 AND n::HUGEINT * s2 = s * s THEN 1 END) AS zerovar,
        |    list_sort(list(struct_pack(g := grp::VARCHAR, n := n, s := s, s2 := s2))) AS a
        |  FROM g
        |), w AS (
        |  SELECT *,
        |    list_sum(list_transform(a, t -> t.n::DOUBLE /
        |      ((t.s2::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)
        |        / (t.n::DOUBLE - 1.0)))) AS bigw,
        |    list_sum(list_transform(a, t -> (t.n::DOUBLE /
        |      ((t.s2::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)
        |        / (t.n::DOUBLE - 1.0)))
        |      * (t.s::DOUBLE / t.n::DOUBLE))) AS wmean
        |  FROM f
        |), x AS (
        |  SELECT *, wmean / bigw AS xbar FROM w
        |), y AS (
        |  SELECT *,
        |    list_sum(list_transform(a, t -> (t.n::DOUBLE /
        |      ((t.s2::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)
        |        / (t.n::DOUBLE - 1.0)))
        |      * (t.s::DOUBLE / t.n::DOUBLE - xbar)
        |      * (t.s::DOUBLE / t.n::DOUBLE - xbar))) AS anum,
        |    list_sum(list_transform(a, t ->
        |      (1.0 - (t.n::DOUBLE /
        |        ((t.s2::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)
        |          / (t.n::DOUBLE - 1.0))) / bigw)
        |      * (1.0 - (t.n::DOUBLE /
        |        ((t.s2::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE)
        |          / (t.n::DOUBLE - 1.0))) / bigw)
        |      / (t.n::DOUBLE - 1.0))) AS c
        |  FROM x
        |)
        |SELECT k, n_total,
        |  CASE WHEN k < 2 OR tiny IS NOT NULL OR zerovar IS NOT NULL THEN NULL
        |       ELSE ROUND((anum / (k::DOUBLE - 1.0))
        |         / (1.0 + 2.0 * (k::DOUBLE - 2.0) / (k::DOUBLE * k::DOUBLE - 1.0) * c), 6)
        |  END AS f_stat,
        |  CAST(k - 1 AS BIGINT) AS df1,
        |  CASE WHEN k < 2 OR tiny IS NOT NULL OR zerovar IS NOT NULL THEN NULL
        |       ELSE ROUND((k::DOUBLE * k::DOUBLE - 1.0) / (3.0 * c), 6)
        |  END AS df2
        |FROM y""".stripMargin),

    // day-of-week seasonality profile per event type, integer ppm
    Entry("q_dow_profile", (s, dir) =>
      graft.ops.TimeSeries.weekdayProfile(
        table(s, dir, "events"), "event_type", "ts"),
      // dow-profile twin: DuckDB's native 0=Sunday numbering is the spec;
      // peak via lexicographic struct max, identical on both engines
      """WITH d AS (
        |  SELECT event_type AS g, dayofweek(ts)::INTEGER AS dow,
        |    COUNT(*)::BIGINT AS n_events
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), t AS (
        |  SELECT g, dow, n_events,
        |    CAST(SUM(n_events) OVER (PARTITION BY g) AS BIGINT) AS tot,
        |    MAX(struct_pack(n := n_events, d := dow)) OVER (PARTITION BY g) AS pk
        |  FROM d
        |)
        |SELECT g AS event_type, dow, n_events,
        |  (n_events * 1000000) // tot AS share_ppm,
        |  (pk.n = n_events AND pk.d = dow) AS is_peak_dow
        |FROM t""".stripMargin,
      // dow-profile = (series,dow) agg + per-series window
      shufflePin = Some(2)),

    // split-conformal 90% interval for price-on-quantity: exact-int
    // OLS, order-stat calibration quantile, ppm coverage self-check
    Entry("q_conformal", (s, dir) =>
      graft.ops.Stats.conformalInterval(
        table(s, dir, "lineitem"),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")),
        col("l_quantity"), round(col("l_extendedprice"))),
      // conformal twin: identical md5 split buckets, exact-int OLS,
      // (9(n+1)+9)//10 integer order-stat index, ppm coverage
      """WITH base AS (
        |  SELECT l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR AS id,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y,
        |    ('0x' || substr(md5(l_orderkey::VARCHAR || '_' ||
        |       l_linenumber::VARCHAR), 1, 8))::BIGINT % 100 AS b
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n_train,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM base WHERE b < 90
        |), f2 AS (
        |  SELECT n_train,
        |    (n_train::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (n_train::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS slope,
        |    sx::DOUBLE AS sxd, sy::DOUBLE AS syd
        |  FROM f
        |), f3 AS (
        |  SELECT n_train, slope,
        |    (syd - slope * sxd) / n_train::DOUBLE AS intercept
        |  FROM f2
        |), caln AS (
        |  SELECT COUNT(*)::BIGINT AS n_cal FROM base WHERE b >= 90 AND b < 95
        |), calr AS (
        |  SELECT abs(y::DOUBLE - (intercept + slope * x::DOUBLE)) AS r, id
        |  FROM base, f3 WHERE b >= 90 AND b < 95
        |), qq AS (
        |  SELECT n_cal, r AS q90 FROM
        |    (SELECT r, id, ROW_NUMBER() OVER (ORDER BY r, id) AS rn FROM calr) z,
        |    caln
        |  WHERE rn = (9 * (n_cal + 1) + 9) // 10
        |), tst AS (
        |  SELECT abs(y::DOUBLE - (intercept + slope * x::DOUBLE)) AS r
        |  FROM base, f3 WHERE b >= 95
        |), t2 AS (
        |  SELECT COUNT(*)::BIGINT AS n_test,
        |    CAST(SUM(CASE WHEN r <= q90 THEN 1 ELSE 0 END) AS BIGINT) AS cov
        |  FROM tst, qq
        |)
        |SELECT f3.n_train, qq.n_cal, t2.n_test, f3.slope, f3.intercept, qq.q90,
        |  CASE WHEN t2.n_test = 0 THEN NULL
        |       ELSE (t2.cov * 1000000) // t2.n_test END AS coverage_ppm
        |FROM f3, qq, t2""".stripMargin,
      // conformal = three split aggs + the bounded 5%-sample sort
      shufflePin = Some(5),
      planNote = Some("1-row fit / quantile / count frames broadcast onto the split scans (cal sort is a bounded 5% sample by construction)")),

    // entity resolution end-to-end: blocked JW pairs at 0.92 into
    // min-label connected components — (doc_id, cluster_id) per
    // matched part
    Entry("q_er_clusters", (s, dir) =>
      graft.ops.Dedup.nearDupClusters(
        graft.ops.Dedup.fuzzyMatchPairs(
          table(s, dir, "part").withColumn("p_initial",
            substring(col("p_name"), 1, 1)),
          "p_partkey", "p_name",
          Seq("p_brand", "p_size", "p_initial"), minSim = 0.92)),
      // ER-clusters twin: the q_jw_match pair generator at 0.92 into the
      // recursive min-label closure (the q_dedup_clusters reach pattern)
      """WITH RECURSIVE p AS (
        |  SELECT p_partkey, p_name, p_brand, p_size FROM part
        |  WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
        |    AND p_brand IS NOT NULL AND p_size IS NOT NULL
        |), pr AS (
        |  SELECT a.p_partkey AS a_id, b.p_partkey AS b_id
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
        |    AND a.p_partkey < b.p_partkey
        |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.92
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pr
        |  UNION
        |  SELECT b_id, a_id FROM pr
        |), reach(node, root) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        |)
        |SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1""".stripMargin,
      // er_clusters' CC rounds are checkpoint leaves
      shufflePin = Some(0),
      widthPin = Some(1)),

    // chi-square independence: order status vs priority, zero cells
    // included, sorted-cell fold for the one double sum
    Entry("q_chi2", (s, dir) =>
      graft.ops.Stats.chiSquare(
        table(s, dir, "orders"), "o_orderstatus", "o_orderpriority"),
      """WITH obs AS (
        |  SELECT o_orderstatus AS rv, o_orderpriority AS cv FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |), cells AS (
        |  SELECT rv, cv, CAST(COUNT(*) AS BIGINT) AS o FROM obs GROUP BY 1, 2
        |), rt AS (
        |  SELECT rv, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1
        |), ct AS (
        |  SELECT cv, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1
        |), nn AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
        |), grid AS (
        |  SELECT rt.rv, ct.cv, COALESCE(cells.o, 0) AS o, rt.rt, ct.ct
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.rv = rt.rv AND cells.cv = ct.cv
        |), f AS (
        |  SELECT list_sort(list(struct_pack(rv := grid.rv, cv := grid.cv,
        |           o := grid.o, rt := grid.rt, ct := grid.ct))) AS arr,
        |         CAST(COUNT(DISTINCT grid.rv) AS BIGINT) AS n_rows_cat,
        |         CAST(COUNT(DISTINCT grid.cv) AS BIGINT) AS n_cols_cat
        |  FROM grid
        |)
        |SELECT nn.n, f.n_rows_cat, f.n_cols_cat,
        |  (f.n_rows_cat - 1) * (f.n_cols_cat - 1) AS dof,
        |  ROUND(list_sum(list_transform(arr, s ->
        |    (s.o::DOUBLE - s.rt::DOUBLE * s.ct::DOUBLE / nn.n::DOUBLE) *
        |    (s.o::DOUBLE - s.rt::DOUBLE * s.ct::DOUBLE / nn.n::DOUBLE) /
        |    (s.rt::DOUBLE * s.ct::DOUBLE / nn.n::DOUBLE))), 6) AS chi2,
        |  ROUND(sqrt(list_sum(list_transform(arr, s ->
        |    (s.o::DOUBLE - s.rt::DOUBLE * s.ct::DOUBLE / nn.n::DOUBLE) *
        |    (s.o::DOUBLE - s.rt::DOUBLE * s.ct::DOUBLE / nn.n::DOUBLE) /
        |    (s.rt::DOUBLE * s.ct::DOUBLE / nn.n::DOUBLE))) /
        |    (nn.n::DOUBLE * LEAST(f.n_rows_cat - 1, f.n_cols_cat - 1)::DOUBLE)), 6)
        |    AS cramers_v
        |FROM f CROSS JOIN nn""".stripMargin,
      planNote = Some("1-row global-total crossJoin (contingency normalizer)")),

    // collocation mining: adjacent-bigram lift (exp-PMI) as ppm
    Entry("q_collocations", (s, dir) =>
      graft.ops.TextAnalysis.collocations(
        table(s, dir, "documents"), "doc_id", "text", minCount = 5L, topN = 50),
      s"""$docToks, bi AS (
         |  SELECT unnest(list_transform(range(1, len(toks)), i ->
         |    struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
         |  FROM d WHERE len(toks) >= 2
         |), bc AS (
         |  SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS pair_cnt
         |  FROM bi GROUP BY 1, 2
         |), uc AS (
         |  SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(toks) AS term FROM d) GROUP BY 1
         |), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc),
         |nb AS (SELECT CAST(SUM(pair_cnt) AS BIGINT) AS n_bi FROM bc)
         |SELECT bc.w1, bc.w2, bc.pair_cnt,
         |  CAST(round(1000000.0 *
         |    (bc.pair_cnt::DOUBLE / nb.n_bi::DOUBLE) /
         |    ((u1.c::DOUBLE / nt.n_tok::DOUBLE) *
         |     (u2.c::DOUBLE / nt.n_tok::DOUBLE))) AS BIGINT) AS lift_ppm
         |FROM bc
         |JOIN uc u1 ON u1.w = bc.w1
         |JOIN uc u2 ON u2.w = bc.w2
         |CROSS JOIN nt CROSS JOIN nb
         |WHERE bc.pair_cnt >= 5
         |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin,
      planNote = Some("1-row token-total crossJoins (PMI normalizers)")),

    // OOV audit: token share outside the corpus top-500 vocab, per source
    Entry("q_oov", (s, dir) =>
      graft.ops.TextAnalysis.oovRate(
        table(s, dir, "documents"), "doc_id", "text", "source", vocabSize = 500),
      s"""$docToks, x AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM x GROUP BY 1, 2
         |), stats AS (
         |  SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1
         |), top AS (
         |  SELECT term FROM stats ORDER BY doc_freq DESC, term LIMIT 500
         |), t AS (
         |  SELECT documents.source AS group_key, x.term
         |  FROM x JOIN documents USING (doc_id)
         |)
         |SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN top.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST((CAST(SUM(CASE WHEN top.term IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
         |FROM t LEFT JOIN top USING (term)
         |GROUP BY 1""".stripMargin),

    // budget-capped quality selection: type/token-ratio score, greedy
    // prefix under a 10k-token budget via the two-level cumsum
    Entry("q_select_budget", (s, dir) => {
      import org.apache.spark.sql.functions._
      val scored = table(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokens(lower(col("text"))).as("_toks"))
        .filter(size(col("_toks")) > 0)
        .select(col("doc_id"),
          size(col("_toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("_toks"))).cast("long").as("n_distinct"))
        .withColumn("score_ppm", expr("(n_distinct * 1000000L) div n_tokens"))
      graft.ops.Sampling.selectByScoreBudget(
        scored, "doc_id", "score_ppm", "n_tokens", budget = 10000L)
    },
      s"""$docToks, t AS (
         |  SELECT doc_id AS key,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |  FROM d WHERE len(toks) > 0
         |), sc AS (
         |  SELECT key, (n_distinct * 1000000) // n_tokens AS score_ppm, n_tokens
         |  FROM t
         |), c AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY score_ppm DESC, key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM sc
         |)
         |SELECT key, score_ppm, n_tokens FROM c WHERE cum <= 10000""".stripMargin),

    // 2-D Pareto skyline over the same (tokens, score) frame: the
    // quality-per-cost frontier the budget cut samples one point of;
    // two-level bucketed running max — no global window
    Entry("q_pareto_front", (s, dir) => {
      import org.apache.spark.sql.functions._
      val scored = table(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokens(lower(col("text"))).as("_toks"))
        .filter(size(col("_toks")) > 0)
        .select(col("doc_id"),
          size(col("_toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("_toks"))).cast("long").as("n_distinct"))
        .withColumn("score_ppm", expr("(n_distinct * 1000000L) div n_tokens"))
      graft.ops.Sampling.paretoFront(
        scored, "doc_id", "n_tokens", "score_ppm", bucketShift = 4)
    },
      // Pareto skyline on the same (tokens, score) frame: survive iff
      // score beats every strictly-cheaper row's max AND equals the max
      // at the row's own cost (equal-point duplicates survive together)
      s"""$docToks, t AS (
         |  SELECT doc_id AS key,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |  FROM d WHERE len(toks) > 0
         |), sc AS (
         |  SELECT key, n_tokens AS cost,
         |         (n_distinct * 1000000) // n_tokens AS score
         |  FROM t
         |), m AS (
         |  SELECT *,
         |    MAX(score) OVER (ORDER BY cost
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
         |    MAX(score) OVER (PARTITION BY cost) AS am
         |  FROM sc
         |)
         |SELECT key, cost, score FROM m
         |WHERE (pm IS NULL OR score > pm) AND score = am""".stripMargin),

    // A-ES weighted sampling without replacement: 200 orders, inclusion
    // ∝ price; md5-derived draws, priorities order-only (never emitted)
    Entry("q_weighted_sample", (s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.Sampling.weightedSample(
        table(s, dir, "orders")
          .withColumn("w", round(col("o_totalprice") * 100).cast("long")),
        "o_orderkey", "w", k = 200)
    },
      """WITH c AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS weight,
        |         ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 13))::BIGINT AS hv
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
        |    AND CAST(round(o_totalprice * 100) AS BIGINT) > 0
        |)
        |SELECT key, weight FROM c
        |ORDER BY -ln((hv + 1)::DOUBLE / 4503599627370496.0) / weight::DOUBLE, key
        |LIMIT 200""".stripMargin),

    // interval-union coverage per user: merged-session wall-clock and
    // island counts on the exact integer micros axis
    Entry("q_interval_union", (s, dir) => {
      import org.apache.spark.sql.functions._
      val iv = table(s, dir, "events")
        .withColumn("s_us", unix_micros(col("ts")))
        .withColumn("e_us", unix_micros(col("ts")) +
          round(col("value") * 60).cast("long") * 1000000L)
      graft.ops.Intervals.coveredExtent(iv, "user_id", "s_us", "e_us")
    },
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(round(value * 60) AS BIGINT) * 1000000 AS e
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |), cl AS (
        |  SELECT user_id, s, e FROM iv WHERE e >= s
        |), f AS (
        |  SELECT user_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM cl
        |), fl AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nw
        |  FROM f
        |), isl AS (
        |  SELECT user_id, s, e,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM fl
        |), m AS (
        |  SELECT user_id, island, COUNT(*) AS n, MIN(s) AS is_, MAX(e) AS ie
        |  FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_intervals,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(ie - is_) AS BIGINT) AS covered
        |FROM m GROUP BY 1""".stripMargin),

    // per-flag OLS trend: price cents on quantity, closed form from
    // five exact LONG sums (the verifiable sibling of ml regressors)
    Entry("q_linreg", (s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.Agg.linearFit(
        table(s, dir, "lineitem")
          .filter(col("l_returnflag").isNotNull),
        "l_returnflag",
        col("l_quantity"), round(col("l_extendedprice")))
    },
      """WITH v AS (
        |  SELECT l_returnflag,
        |         CAST(l_quantity AS BIGINT) AS x,
        |         CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL
        |), s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx,
        |         CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM v GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |  ROUND(CASE WHEN n::DOUBLE * sxx - sx::DOUBLE * sx = 0 THEN NULL
        |    ELSE (n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |         (n::DOUBLE * sxx - sx::DOUBLE * sx) END, 6) AS slope,
        |  ROUND(CASE WHEN n::DOUBLE * sxx - sx::DOUBLE * sx = 0 THEN NULL
        |    ELSE (sy::DOUBLE -
        |          ((n::DOUBLE * sxy - sx::DOUBLE * sy) /
        |           (n::DOUBLE * sxx - sx::DOUBLE * sx)) * sx::DOUBLE) /
        |         n::DOUBLE END, 6) AS intercept
        |FROM s""".stripMargin),

    // mutual information between order status and priority — the
    // information-theoretic sibling of q_chi2, observed cells only
    Entry("q_mutual_info", (s, dir) =>
      graft.ops.Stats.mutualInformation(
        table(s, dir, "orders"), "o_orderstatus", "o_orderpriority"),
      """WITH obs AS (
        |  SELECT o_orderstatus AS rv, o_orderpriority AS cv FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |), cells AS (
        |  SELECT rv, cv, CAST(COUNT(*) AS BIGINT) AS o FROM obs GROUP BY 1, 2
        |), rt AS (
        |  SELECT rv, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1
        |), ct AS (
        |  SELECT cv, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1
        |), nn AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
        |), f AS (
        |  SELECT list_sort(list(struct_pack(rv := cells.rv, cv := cells.cv,
        |           o := cells.o, rt := rt.rt, ct := ct.ct))) AS arr,
        |         CAST(COUNT(*) AS BIGINT) AS n_cells
        |  FROM cells JOIN rt USING (rv) JOIN ct USING (cv)
        |)
        |SELECT nn.n, f.n_cells,
        |  ROUND(list_sum(list_transform(arr, s ->
        |    (s.o::DOUBLE / nn.n::DOUBLE) *
        |    ln((s.o::DOUBLE / nn.n::DOUBLE) /
        |       ((s.rt::DOUBLE / nn.n::DOUBLE) * (s.ct::DOUBLE / nn.n::DOUBLE))))), 6)
        |    AS mi_nats
        |FROM f CROSS JOIN nn""".stripMargin,
      planNote = Some("1-row global-total crossJoin (MI normalizer)")),

    // directed n-gram containment: the quote / sub-document detector —
    // a doc fully quoted inside a longer one scores 1000000 ppm even
    // when Jaccard is near 0
    Entry("q_containment", (s, dir) =>
      graft.ops.Dedup.containmentPairs(
        table(s, dir, "documents"), "doc_id", "text", n = 3,
        tauPpm = 800000L),
      containmentSql,
      // cache-truncated at the shared shingle/pair store (the q_dedup_clusters
      // family)
      shufflePin = Some(1),
      widthPin = Some(1)),

    // df-bounded containment index (the 10^9-doc knob) — must hash-match
    // the same exact oracle: candidates shrink, every survivor re-scores
    // on full sets (a high-containment pair shares ~all of the fragment's
    // shingles, rare ones included; measured 10x: full mode 536 s cold /
    // 36 s warm, df<=5 bound ~2 s warm)
    Entry("q_containment_maxdf", (s, dir) =>
      graft.ops.Dedup.containmentPairs(
        table(s, dir, "documents"), "doc_id", "text", n = 3,
        tauPpm = 800000L, maxDf = Some(relMaxDf(s, dir))),
      // identical oracle: the df bound changes candidate generation only
      containmentSql,
      // r9 pin: the maxdf pair is the count-prune tier
      shufflePin = Some(8),
      widthPin = Some(1)),

    // BM25 relevance for a fixed query over the corpus — exact integer
    // sufficient stats, term-sorted double fold, rounded-score cut
    Entry("q_bm25", (s, dir) =>
      graft.ops.TextAnalysis.bm25(
        table(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "window", "dup"), topN = 50),
      s"""$docToks, t AS (
         |  SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM d
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), st AS (
         |  SELECT COUNT(*)::BIGINT AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM t
         |), tf AS (
         |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM (
         |    SELECT doc_id, dl, unnest(toks) AS term FROM t)
         |  WHERE term IN ('spark', 'window', 'dup') GROUP BY 1, 2, 3
         |), df AS (
         |  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
         |), p AS (
         |  SELECT doc_id, list_sort(list(struct_pack(term := tf.term, part :=
         |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |    ((tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (total_dl / n_docs)))))
         |  ))) AS arr
         |  FROM tf JOIN df USING (term) CROSS JOIN st GROUP BY 1
         |)
         |SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_terms_matched,
         |  ROUND(list_sum(list_transform(arr, s -> s.part)), 6) AS score
         |FROM p ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
      planNote = Some("1-row corpus-total (N, avgdl) crossJoin")),

    // Dirichlet query-likelihood: the LM ranking family next to BM25's
    // probabilistic one, same query set — matched-term folds + the
    // per-doc length normalizer, every doc scored
    Entry("q_query_likelihood", (s, dir) =>
      graft.ops.TextAnalysis.queryLikelihood(
        table(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "window", "dup"), mu = 2000.0, topN = 50),
      // Dirichlet query likelihood: matched-term folds in term order +
      // the per-doc length normalizer; every doc scored (LEFT JOIN)
      s"""$docToks, t AS (
         |  SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM d
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), st AS (
         |  SELECT COUNT(*)::BIGINT AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM t
         |), mt AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest(toks) AS term FROM t)
         |  WHERE term IN ('spark', 'window', 'dup')
         |), ctf AS (
         |  SELECT term, COUNT(*)::BIGINT AS ctf FROM mt GROUP BY 1
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM mt GROUP BY 1, 2
         |), m AS (
         |  SELECT doc_id, list_sort(list(struct_pack(term := tf.term, part :=
         |    ln(1.0 + tf / (2000.0 * (ctf::DOUBLE / total_dl::DOUBLE)))
         |  ))) AS arr
         |  FROM tf JOIN ctf USING (term) CROSS JOIN st GROUP BY 1
         |)
         |SELECT t.doc_id,
         |  COALESCE(CAST(len(arr) AS BIGINT), 0) AS n_terms_matched,
         |  ROUND(COALESCE(list_sum(list_transform(arr, s -> s.part)), 0.0)
         |    + 3.0 * ln(2000.0 / (dl::DOUBLE + 2000.0)), 6) AS score
         |FROM t LEFT JOIN m USING (doc_id)
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
      // QL = tf/ctf aggs + matched fold + the all-docs left join
      shufflePin = Some(8),
      planNote = Some("1-row corpus-total (Σdl) crossJoin for the Dirichlet prior (the q_bm25 shape)"),
      widthPin = Some(1)),

    // rank-biased overlap between two top-20 user rankings (by event
    // count vs by spend cents) — top-weighted ranking agreement; the
    // global rank windows run on the collapsed |users|-row frame
    Entry("q_rbo", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events").filter(col("user_id").isNotNull)
      val byCount = ev.groupBy("user_id")
        .agg(count(lit(1)).as("_v"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("_v").desc, col("user_id"))))
      val bySpend = ev.filter(col("value").isNotNull)
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).cast("long").as("_v"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("_v").desc, col("user_id"))))
      graft.ops.Retrieval.rbo(byCount, bySpend, "user_id", "rank",
        p = 0.9, k = 20)
    },
      // rank-biased overlap: per-common-item tail-weight folds over the
      // id-sorted array; inner fold ascending in depth on both engines
      """WITH bycount AS (
        |  SELECT user_id, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
        |      user_id) AS rank
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), byspend AS (
        |  SELECT user_id, ROW_NUMBER() OVER (
        |      ORDER BY CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
        |        AS BIGINT) DESC, user_id) AS rank
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id
        |), j AS (
        |  SELECT a.user_id::VARCHAR AS id,
        |         GREATEST(a.rank, b.rank)::BIGINT AS m
        |  FROM bycount a JOIN byspend b USING (user_id)
        |  WHERE a.rank <= 20 AND b.rank <= 20
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n_common,
        |    list_sort(list(struct_pack(id := id, m := m))) AS arr
        |  FROM j
        |)
        |SELECT CAST(20 AS BIGINT) AS k, n_common,
        |  ROUND(((1.0 - 0.9) / 0.9) * (
        |    COALESCE(list_sum(list_transform(arr, s ->
        |      list_sum(list_transform(range(s.m, 21),
        |        d -> pow(0.9, d) / d)))), 0.0)
        |    + n_common * (-ln(1.0 - 0.9) -
        |        COALESCE(list_sum(list_transform(range(1, 21),
        |          d -> pow(0.9, d) / d)), 0.0))), 6) AS rbo_min
        |FROM f""".stripMargin,
      // rbo = two collapsed rank frames
      shufflePin = Some(2)),

    // probability-proportional-to-size Poisson sample over documents
    // sized by chars — token-mass-representative curation sampling;
    // the 1-row size-total crossJoin is the broadcast normalizer shape.
    // The op emits pi UNROUNDED (it is an HT weight); rounding happens
    // here at the oracle-comparison edge only, matching the SQL twin.
    Entry("q_pps_sample", (s, dir) =>
      graft.ops.Sampling.ppsSample(
          table(s, dir, "documents"), "doc_id", "n_chars", nTarget = 100)
        .withColumn("pi", round(col("pi"), 6)),
      // PPS Poisson sample: same (n*s)/S tree and seeded md5 uniform on
      // both engines; u compares UNROUNDED, pi rounds at the edge only
      """WITH b AS (
        |  SELECT doc_id AS unit_id, CAST(n_chars AS BIGINT) AS size
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
        |), t AS (SELECT CAST(SUM(size) AS BIGINT) AS tot FROM b),
        |x AS (
        |  SELECT unit_id, size,
        |    LEAST(1.0, 100.0 * CAST(size AS DOUBLE) / CAST(tot AS DOUBLE)) AS pi,
        |    (('0x' || substr(md5(unit_id::VARCHAR || chr(1) || '7'), 1, 13))::BIGINT
        |      + 0.5) / 4503599627370496.0 AS u
        |  FROM b CROSS JOIN t)
        |SELECT unit_id, size, ROUND(pi, 6) AS pi FROM x WHERE u < pi""".stripMargin,
      // r12: PPS sampler = the one exact-long size agg; draw is map-side
      shufflePin = Some(1),
      planNote = Some("1-row size-total (the PPS denominator S) crossJoin onto the map-side draw")),

    // Murphy decomposition of the Brier score over the quality
    // classifier vs the en-label — the 1-row companion to
    // q_calibration (same scored frame)
    Entry("q_brier", (s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = graft.ops.TextAnalysis.linearQualityScore(
        docs, "doc_id", "text", qualityWeightsPpm, biasPpm = 250000L)
      val labeled = scored.join(
        docs.filter(col("lang").isNotNull)
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("label")),
        "doc_id")
      graft.ops.Stats.brierDecomposition(labeled, "score", "label", bins = 10)
    },
      // Brier decomposition: q_calibration's scoring CTEs, then integer
      // micro-unit per-bin aggregates and a bin-ordered list fold —
      // squared terms are explicit products (pow parity), HUGEINT carries
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang, len(toks) AS n,
        |    coalesce(list_sum(list_transform(toks, t ->
        |      ((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) * 2654435761)
        |        % 2000001 - 1000000)), 0) AS sp
        |  FROM d
        |), sc AS (
        |  SELECT doc_id,
        |    ROUND(1.0 / (1.0 + exp(-(0.25 +
        |      CASE WHEN n > 0 THEN sp / (n * 1000000.0) ELSE 0.0 END))), 6) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM s WHERE lang IS NOT NULL AND doc_id IS NOT NULL
        |), su AS (
        |  SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
        |         CAST(round(score * 1000000) AS BIGINT) AS su, y
        |  FROM sc
        |), pb AS (
        |  SELECT bin, COUNT(*)::BIGINT AS n, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(su) AS HUGEINT) AS ssu,
        |         CAST(SUM(su::HUGEINT * su) AS HUGEINT) AS ssu2,
        |         CAST(SUM(su::HUGEINT * y) AS HUGEINT) AS ssuy
        |  FROM su GROUP BY 1
        |), arr AS (
        |  SELECT list(struct_pack(bin := bin, n := n, sy := sy, ssu := ssu,
        |                          ssu2 := ssu2, ssuy := ssuy) ORDER BY bin) AS a,
        |         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sy) AS BIGINT) AS ty
        |  FROM pb
        |)
        |SELECT n,
        |  ROUND(list_sum(list_transform(a, s ->
        |      s.ssu2::DOUBLE - 2e6 * s.ssuy::DOUBLE + 1e12 * s.sy::DOUBLE))
        |    / (n::DOUBLE * 1e12), 6) AS brier,
        |  ROUND(list_sum(list_transform(a, s -> s.n::DOUBLE *
        |      (s.ssu::DOUBLE / (s.n::DOUBLE * 1e6) - s.sy::DOUBLE / s.n::DOUBLE) *
        |      (s.ssu::DOUBLE / (s.n::DOUBLE * 1e6) - s.sy::DOUBLE / s.n::DOUBLE)))
        |    / n::DOUBLE, 6) AS reliability,
        |  ROUND(list_sum(list_transform(a, s -> s.n::DOUBLE *
        |      (s.sy::DOUBLE / s.n::DOUBLE - ty::DOUBLE / n::DOUBLE) *
        |      (s.sy::DOUBLE / s.n::DOUBLE - ty::DOUBLE / n::DOUBLE)))
        |    / n::DOUBLE, 6) AS resolution,
        |  ROUND((ty::DOUBLE / n::DOUBLE) * (1.0 - ty::DOUBLE / n::DOUBLE), 6)
        |    AS uncertainty
        |FROM arr""".stripMargin,
      // r13 batch: brier = the bin agg + 1-row collapse
      shufflePin = Some(2)),

    // k-ary randomized response over event types — local-DP frequency
    // release with the unbiased channel-inversion estimator alongside
    // the true counts (self-auditing utility cost)
    Entry("q_rr_freq", (s, dir) =>
      graft.ops.Privacy.randomizedResponse(
        table(s, dir, "events"), "event_id", "event_type", pKeep = 0.7),
      // k-ary randomized response: same md5 keep/draw coins keyed on the
      // row id, same sorted-domain index, same channel-inversion estimator
      """WITH b AS (
        |  SELECT event_id::VARCHAR AS id, event_type AS category
        |  FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |), dom AS (
        |  SELECT category, ROW_NUMBER() OVER (ORDER BY category) - 1 AS j
        |  FROM (SELECT DISTINCT category FROM b)
        |), tot AS (SELECT COUNT(*)::BIGINT AS n FROM b),
        |kk AS (SELECT COUNT(*)::BIGINT AS k FROM dom),
        |rep AS (
        |  SELECT CASE WHEN (('0x' || substr(md5(id || chr(1) || '7' || chr(1) || 'keep'),
        |                      1, 13))::BIGINT + 0.5) / 4503599627370496.0 < 0.7
        |         THEN d.j
        |         ELSE CAST(floor(((('0x' || substr(md5(id || chr(1) || '7' || chr(1) || 'draw'),
        |                      1, 13))::BIGINT + 0.5) / 4503599627370496.0) * k::DOUBLE) AS BIGINT)
        |         END AS rj
        |  FROM b JOIN dom d USING (category) CROSS JOIN kk
        |), obs AS (SELECT rj, COUNT(*)::BIGINT AS n_obs FROM rep GROUP BY 1),
        |tc AS (SELECT category, COUNT(*)::BIGINT AS n_true FROM b GROUP BY 1)
        |SELECT d.category, coalesce(t.n_true, 0::BIGINT) AS n_true,
        |  coalesce(o.n_obs, 0::BIGINT) AS n_obs,
        |  ROUND((coalesce(o.n_obs, 0::BIGINT)::DOUBLE
        |         - n::DOUBLE * (1.0 - 0.7) / k::DOUBLE) / 0.7, 6) AS n_est
        |FROM dom d LEFT JOIN tc t USING (category)
        |LEFT JOIN obs o ON o.rj = d.j
        |CROSS JOIN tot CROSS JOIN kk""".stripMargin,
      // rr_freq's 12 are all k-/1-row domain-frame aggs and the report agg
      // (corpus shuffles only on the k-bounded report key)
      shufflePin = Some(12),
      planNote = Some("k-row domain-size + 1-row corpus-total crossJoins (the LDP channel normalizers; k = |categories|, single digits)")),

    // exponential-mechanism DP median of document lengths over a
    // 64-bin bounded domain (Gumbel-max argmax release + true bin)
    Entry("q_dp_quantile", (s, dir) =>
      graft.ops.Privacy.dpQuantile(
        table(s, dir, "documents"), "n_chars", q = 0.5,
        lo = 0.0, hi = 640.0, bins = 64, epsilon = 1.0),
      // exponential-mechanism DP median: dense 64-bin scaffold, rank
      // utility, seeded Gumbel draws, deterministic argmax + true bin
      """WITH c AS (
        |  SELECT CAST(least(greatest(floor((n_chars::DOUBLE - 0.0) / 10.0), 0), 63)
        |           AS BIGINT) AS bin,
        |         COUNT(*)::BIGINT AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
        |), s AS (SELECT i AS bin FROM range(64) t(i)),
        |g AS (
        |  SELECT s.bin,
        |    CAST(SUM(coalesce(c.c, 0)) OVER (ORDER BY s.bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM s LEFT JOIN c USING (bin)
        |), tot AS (SELECT CAST(MAX(cum) AS BIGINT) AS n FROM g),
        |sc AS (
        |  SELECT bin, n, -abs(cum::DOUBLE - 0.5 * n) AS u,
        |    0.5 * (-abs(cum::DOUBLE - 0.5 * n)) +
        |      (-ln(-ln((('0x' || substr(md5(bin::VARCHAR || chr(1) || '7'), 1, 13))::BIGINT
        |        + 0.5) / 4503599627370496.0))) AS score
        |  FROM g CROSS JOIN tot
        |), pick AS (SELECT n, bin FROM sc ORDER BY score DESC, bin LIMIT 1),
        |tr AS (SELECT bin AS true_bin FROM sc ORDER BY u DESC, bin LIMIT 1)
        |SELECT n, bin, ROUND(0.0 + bin * 10.0, 6) AS lo_edge,
        |  ROUND(0.0 + (bin + 1) * 10.0, 6) AS hi_edge, true_bin
        |FROM pick CROSS JOIN tr""".stripMargin,
      // dp_quantile's 8 ride the ≤64-row bin scaffold (cum window + two
      // TakeOrdered legs)
      shufflePin = Some(8),
      planNote = Some("1-row total-count crossJoin onto the 64-row bin frame + 1-row true-bin crossJoin into the single output row")),

    // EWMA control chart over per-type daily event counts: each day vs
    // the λ=1/2 decayed mean of its predecessors, flagged past 3σ
    Entry("q_ewma_chart", (s, dir) =>
      graft.ops.TimeSeries.ewmaChart(
        table(s, dir, "events"), "event_type", "ts"),
      // EWMA chart: power-of-two decayed-mean terms are exact binary
      // rationals over a 2^32 common denominator, so the joined SUM is
      // order-independent and matches Spark's in-order fold bit-for-bit
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*)::BIGINT AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), kx AS (
        |  SELECT event_type, day, n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
        |  FROM daily
        |), st AS (
        |  SELECT event_type, COUNT(*)::BIGINT AS d, CAST(SUM(n) AS BIGINT) AS sn,
        |         CAST(SUM(n * n) AS HUGEINT) AS sn2
        |  FROM daily GROUP BY 1
        |), sg AS (
        |  SELECT event_type, CASE WHEN d >= 2 THEN
        |    sqrt(greatest(sn2::DOUBLE / d::DOUBLE -
        |      (sn::DOUBLE / d::DOUBLE) * (sn::DOUBLE / d::DOUBLE), 0.0)) END AS sigma
        |  FROM st
        |), prev AS (
        |  SELECT a.event_type, a.i,
        |    SUM(b.n::DOUBLE / (1::BIGINT << (a.i - b.i))::DOUBLE) AS pn,
        |    SUM(1.0 / (1::BIGINT << (a.i - b.i))::DOUBLE) AS pw
        |  FROM kx a JOIN kx b ON a.event_type = b.event_type
        |    AND b.i >= a.i - 32 AND b.i <= a.i - 1
        |  GROUP BY 1, 2
        |)
        |SELECT k.event_type, k.day, k.n,
        |  ROUND(p.pn / p.pw, 6) AS ewma_prev,
        |  ROUND(CASE WHEN s.sigma > 0.0
        |    THEN (k.n::DOUBLE - p.pn / p.pw) / s.sigma END, 6) AS z,
        |  coalesce(abs(CASE WHEN s.sigma > 0.0
        |    THEN (k.n::DOUBLE - p.pn / p.pw) / s.sigma END) > 3.0, false) AS flagged
        |FROM kx k
        |LEFT JOIN prev p ON p.event_type = k.event_type AND p.i = k.i
        |LEFT JOIN sg s ON s.event_type = k.event_type""".stripMargin,
      // ewma = daily agg + the per-key series collapse
      shufflePin = Some(2)),

    // Matryoshka truncation-fidelity audit: cosine drift at dim
    // prefixes 8/16/32 vs the full 64-dim vectors over the
    // id-successor pair frame (prefix 64 pins abs_err = 0)
    Entry("q_matryoshka", (s, dir) =>
      graft.ops.Similarity.matryoshkaAudit(
        table(s, dir, "embeddings"), "vec_id", "embedding",
        prefixes = Seq(8, 16, 32, 64)),
      // Matryoshka audit: id-successor pairs, list-slice prefix cosines
      // with the in-order list_sum dot folds
      """WITH p AS (
        |  SELECT a.vec_id AS vec_id, a.embedding AS va, b.embedding AS vb
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |  WHERE a.vec_id IS NOT NULL AND a.embedding IS NOT NULL
        |    AND b.embedding IS NOT NULL
        |), e AS (
        |  SELECT vec_id, va, vb, pfx,
        |    list_sum(list_transform(va, x -> x::DOUBLE * x::DOUBLE)) AS naf,
        |    list_sum(list_transform(vb, x -> x::DOUBLE * x::DOUBLE)) AS nbf,
        |    list_sum(list_transform(va[1:pfx], x -> x::DOUBLE * x::DOUBLE)) AS nat,
        |    list_sum(list_transform(vb[1:pfx], x -> x::DOUBLE * x::DOUBLE)) AS nbt
        |  FROM p, (VALUES (8), (16), (32), (64)) t(pfx)
        |), cosd AS (
        |  SELECT vec_id, CAST(pfx AS BIGINT) AS prefix,
        |    CASE WHEN sqrt(nat) = 0.0 OR sqrt(nbt) = 0.0 THEN NULL ELSE
        |      list_sum(list_transform(range(1, pfx + 1),
        |        i -> va[1:pfx][i]::DOUBLE * vb[1:pfx][i]::DOUBLE))
        |      / (sqrt(nat) * sqrt(nbt)) END AS ct,
        |    CASE WHEN naf = 0.0 OR nbf = 0.0 THEN NULL ELSE
        |      list_sum(list_transform(range(1, len(va) + 1),
        |        i -> va[i]::DOUBLE * vb[i]::DOUBLE))
        |      / (sqrt(naf) * sqrt(nbf)) END AS cf
        |  FROM e
        |)
        |SELECT vec_id, prefix, ROUND(ct, 6) AS cos_trunc, ROUND(cf, 6) AS cos_full,
        |  ROUND(abs(ct - cf), 6) AS abs_err
        |FROM cosd""".stripMargin,
      // matryoshka's successor join broadcasts at audit SF (0 exchanges —
      // map-side pair math)
      shufflePin = Some(0)),

    // Euclidean near-dup via E2LSH sign-projection cells over the
    // twin-planted union corpus (the q_embed_dup_prod recall
    // discipline: banding sets recall ~1 at d<=r=w/5, verify is exact;
    // the oracle is exact all-pairs at the same r)
    Entry("q_e2lsh", (s, dir) => {
      val base = table(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val twins = base.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") * lit(0.99))
            .as("embedding"))
      val corpus = base.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .unionByName(twins)
      graft.ops.Similarity.e2lshPairs(corpus, "vec_id", "embedding",
        dim = 64, r = 0.1)
    },
      // E2LSH: the oracle is EXACT all-pairs L2 <= r over the same
      // twin-planted union corpus — banding only sets recall (~1 - 1e-13
      // per pair at w = 5r, L = 8), the verify is exact on both engines
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |), corpus AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
        |  FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE * 0.99)
        |  FROM base WHERE vec_id % 10 = 0
        |), p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> (a.embedding[i] - b.embedding[i]) *
        |           (a.embedding[i] - b.embedding[i])))) AS d
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |)
        |SELECT a_id, b_id, ROUND(d, 6) AS dist FROM p WHERE d <= 0.1""".stripMargin,
      // e2lsh = cell equi-join + pair distinct (+ the width spread at narrow
      // scan); raised 5 -> 7 with the narrow candidates-then-fetch shape:
      // the two id-keyed vector re-fetch joins replace carrying 64-dim
      // arrays through the bucket join + distinct (warm 7.8 -> 1.8 s)
      shufflePin = Some(7),
      planNote = Some("nTables-row (8) sign-matrix broadcast crossJoin — the q_jl_project shape, planned once per self-join side; the corpus join itself is the audited (table, cell) equi-join"),
      widthPin = Some(1)),

    // hop-capped harmonic centrality from the %97 landmark parts over
    // the co-purchase digraph — exact-integer lcm-scaled 1/d sums
    Entry("q_harmonic", (s, dir) =>
      graft.ops.Graph.harmonicCentrality(
        graft.ops.Graph.cooccurrenceDigraph(
          table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2L),
        "src", "dst",
        table(s, dir, "part").filter(pmod(col("p_partkey"), lit(97)) === 0),
        "p_partkey", maxHops = 3),
      // harmonic centrality: the q_bfs_hops relaxation unrolled 3 rounds
      // with the landmark key carried through; 1/d sums are lcm-scaled
      // integer division (6 // d exact for d in 1..3) on both engines
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), und AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION ALL
        |  SELECT b AS src, a AS dst FROM und
        |), d0 AS (
        |  SELECT DISTINCT p_partkey AS lm, p_partkey AS node, CAST(0 AS BIGINT) AS dist
        |  FROM part WHERE p_partkey IS NOT NULL AND p_partkey % 97 = 0
        |), r1 AS (
        |  SELECT d0.lm, e.dst AS node, MIN(d0.dist) + 1 AS d2
        |  FROM d0 JOIN e ON e.src = d0.node GROUP BY 1, 2
        |), d1 AS (
        |  SELECT COALESCE(d0.lm, r1.lm) AS lm, COALESCE(d0.node, r1.node) AS node,
        |    least(COALESCE(d0.dist, 9223372036854775807),
        |          COALESCE(r1.d2, 9223372036854775807)) AS dist
        |  FROM d0 FULL JOIN r1 ON d0.lm = r1.lm AND d0.node = r1.node
        |), r2 AS (
        |  SELECT d1.lm, e.dst AS node, MIN(d1.dist) + 1 AS d2
        |  FROM d1 JOIN e ON e.src = d1.node GROUP BY 1, 2
        |), d2 AS (
        |  SELECT COALESCE(d1.lm, r2.lm) AS lm, COALESCE(d1.node, r2.node) AS node,
        |    least(COALESCE(d1.dist, 9223372036854775807),
        |          COALESCE(r2.d2, 9223372036854775807)) AS dist
        |  FROM d1 FULL JOIN r2 ON d1.lm = r2.lm AND d1.node = r2.node
        |), r3 AS (
        |  SELECT d2.lm, e.dst AS node, MIN(d2.dist) + 1 AS d2
        |  FROM d2 JOIN e ON e.src = d2.node GROUP BY 1, 2
        |), d3 AS (
        |  SELECT COALESCE(d2.lm, r3.lm) AS lm, COALESCE(d2.node, r3.node) AS node,
        |    least(COALESCE(d2.dist, 9223372036854775807),
        |          COALESCE(r3.d2, 9223372036854775807)) AS dist
        |  FROM d2 FULL JOIN r3 ON d2.lm = r3.lm AND d2.node = r3.node
        |)
        |SELECT node, COUNT(*)::BIGINT AS n_reached_from,
        |  ROUND(CAST(SUM(6 // dist) AS BIGINT)::DOUBLE / 6.0, 6) AS harmonic
        |FROM d3 WHERE dist >= 1 GROUP BY 1""".stripMargin,
      // harmonic's rounds are checkpoint leaves (bfs precedent) leaving the
      // final per-node agg
      shufflePin = Some(1)),

    // MAUVE-lite: JS divergence between even- and odd-label slices'
    // histograms through the pinned 4-cell codebook quantizer
    Entry("q_mauve_js", (s, dir) =>
      graft.ops.Similarity.quantizedJsDivergence(
        table(s, dir, "embeddings").filter(col("label").isNotNull),
        "vec_id", "embedding", pmod(col("label"), lit(2)) === 0,
        kmeansCentroids),
      // MAUVE-lite: the q_kmeans_assign scaffold (same pinned codebook,
      // same argmax tie rule), per-parity cell histograms, JS divergence
      // folded over the cluster-ordered cell list on both engines
      {
        val cents = kmeansCentroids.map(_.map(x => java.lang.Double.toString(x)))
        val norms = kmeansCentroids.map(c =>
          java.lang.Double.toString(math.sqrt(c.map(x => x * x).sum)))
        val sims = cents.zip(norms).map { case (c, cn) =>
          val lit = c.mkString("[", ", ", "]")
          s"list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * ($lit)[i])) / (vn * $cn)"
        }.mkString("[", ",\n       ", "]")
        s"""WITH v AS (
           |  SELECT vec_id, embedding, label,
           |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS vn
           |  FROM embeddings
           |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND label IS NOT NULL
           |), s AS (
           |  SELECT vec_id, label, $sims AS sims FROM v
           |), asg AS (
           |  SELECT vec_id, (label % 2 = 0) AS sl,
           |    CAST(list_position(sims, list_max(sims)) - 1 AS BIGINT) AS cluster
           |  FROM s
           |), cc AS (
           |  SELECT cluster,
           |    CAST(SUM(CASE WHEN sl THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           |    CAST(SUM(CASE WHEN sl THEN 0 ELSE 1 END) AS BIGINT) AS cb
           |  FROM asg GROUP BY 1
           |), arr AS (
           |  SELECT list(struct_pack(cluster := cluster, ca := ca, cb := cb)
           |           ORDER BY cluster) AS c,
           |    CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
           |  FROM cc
           |)
           |SELECT n_a, n_b,
           |  ROUND(list_sum(list_transform(c, s ->
           |    (CASE WHEN s.ca = 0 THEN 0.0 ELSE
           |       0.5 * (s.ca::DOUBLE / n_a::DOUBLE) *
           |       ln(2.0 * (s.ca::DOUBLE / n_a::DOUBLE) /
           |          (s.ca::DOUBLE / n_a::DOUBLE + s.cb::DOUBLE / n_b::DOUBLE)) END)
           |    +
           |    (CASE WHEN s.cb = 0 THEN 0.0 ELSE
           |       0.5 * (s.cb::DOUBLE / n_b::DOUBLE) *
           |       ln(2.0 * (s.cb::DOUBLE / n_b::DOUBLE) /
           |          (s.ca::DOUBLE / n_a::DOUBLE + s.cb::DOUBLE / n_b::DOUBLE)) END)
           |  )), 6) AS js_div
           |FROM arr""".stripMargin
      },
      // mauve = cell-slice agg + the 1-row collapse (assignment is map-side)
      shufflePin = Some(2)),

    // character-bigram entropy — the sub-token gibberish screen
    // (docEntropy's char-level sibling)
    Entry("q_char_entropy", (s, dir) =>
      graft.ops.TextAnalysis.charNgramEntropy(
        table(s, dir, "documents"), "doc_id", "text", n = 2),
      // char-bigram entropy: the q_doc_entropy fold idiom over substr
      // grams (range end-exclusive = sequence inclusive end - 1)
      """WITH d AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(text) >= 2
        |), ix AS (
        |  SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i FROM d
        |), g AS (
        |  SELECT doc_id, substr(t, CAST(i AS INT), 2) AS gram FROM ix
        |), tf AS (
        |  SELECT doc_id, gram, COUNT(*)::BIGINT AS tf FROM g GROUP BY 1, 2
        |), p AS (
        |  SELECT doc_id, list_sort(list(struct_pack(gram := gram, tf := tf))) AS arr
        |  FROM tf GROUP BY 1
        |), gg AS (
        |  SELECT doc_id, arr,
        |    CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT) AS n_grams,
        |    CAST(len(arr) AS BIGINT) AS n_distinct
        |  FROM p
        |)
        |SELECT doc_id, n_grams, n_distinct,
        |  ROUND(list_sum(list_transform(arr, s ->
        |    -(s.tf / n_grams) * ln(s.tf / n_grams))), 6) AS entropy,
        |  ROUND(CASE WHEN n_distinct > 1 THEN
        |    list_sum(list_transform(arr, s ->
        |      -(s.tf / n_grams) * ln(s.tf / n_grams))) / ln(n_distinct)
        |    END, 6) AS entropy_ratio
        |FROM gg""".stripMargin,
      // char-entropy = gram agg + per-doc collapse (+ the width spread at
      // narrow scan)
      shufflePin = Some(3),
      widthPin = Some(1)),

    // Cochran–Armitage trend: does the purchase rate drift
    // monotonically across the hour-of-day exposure levels?
    Entry("q_trend_test", (s, dir) =>
      graft.ops.Stats.cochranArmitage(
        table(s, dir, "events")
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .select(hour(col("ts")).as("hour_score"),
            (col("event_type") === "purchase").cast("long").as("purchase")),
        "hour_score", "purchase"),
      // Cochran–Armitage: per-level integer sums, HUGEINT score moments,
      // one double z tree — degenerate (all-pos / all-neg / <2 levels)
      // masks to NULL on both engines
      """WITH b AS (
        |  SELECT CAST(hour(ts) AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |), pl AS (
        |  SELECT s, COUNT(*)::BIGINT AS ni, CAST(SUM(y) AS BIGINT) AS n1i
        |  FROM b GROUP BY 1
        |), agg AS (
        |  SELECT CAST(SUM(ni) AS BIGINT) AS n, CAST(SUM(n1i) AS BIGINT) AS n_pos,
        |    COUNT(*)::BIGINT AS n_levels,
        |    CAST(SUM(s::HUGEINT * ni) AS HUGEINT) AS sn,
        |    CAST(SUM(s::HUGEINT * s * ni) AS HUGEINT) AS s2n,
        |    CAST(SUM(s::HUGEINT * n1i) AS HUGEINT) AS sy
        |  FROM pl
        |)
        |SELECT n, n_pos, n_levels,
        |  ROUND(CASE WHEN n_pos = 0 OR n_pos = n OR n_levels < 2 THEN NULL ELSE
        |    (sy::DOUBLE - (n_pos::DOUBLE / n::DOUBLE) * sn::DOUBLE) /
        |    sqrt((n_pos::DOUBLE / n::DOUBLE) * (1.0 - n_pos::DOUBLE / n::DOUBLE) *
        |         (s2n::DOUBLE - sn::DOUBLE * sn::DOUBLE / n::DOUBLE))
        |  END, 6) AS z_trend
        |FROM agg""".stripMargin,
      // trend test = level agg + 1-row collapse
      shufflePin = Some(2)),

    // personalized PageRank from the %997 seed parts: restart mass
    // pinned to the seeds, exact-ppm integer rounds (q_pagerank's
    // arithmetic, seed-restart variant)
    Entry("q_ppr", (s, dir) =>
      graft.ops.Graph.personalizedPageRank(
        graft.ops.Graph.cooccurrenceDigraph(
          table(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2L),
        "src", "dst",
        table(s, dir, "part").filter(pmod(col("p_partkey"), lit(997)) === 0),
        "p_partkey", iters = 3),
      // personalized PageRank: the q_pagerank unroll with the restart
      // term gated on seed membership (is_seed * 150000)
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), und AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION ALL
        |  SELECT b AS src, a AS dst FROM und
        |), deg AS (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY 1
        |), sd AS (
        |  SELECT DISTINCT p_partkey AS node FROM part
        |  WHERE p_partkey IS NOT NULL AND p_partkey % 997 = 0
        |), ns AS (
        |  SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
        |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
        |  LEFT JOIN sd s USING (node)
        |), r0 AS (
        |  SELECT node, CAST(is_seed * 1000000 AS BIGINT) AS r FROM ns
        |), s1 AS (
        |  SELECT e.dst AS node, CAST(SUM(r0.r // deg.out_deg) AS BIGINT) AS c
        |  FROM r0 JOIN e ON r0.node = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY 1
        |), r1 AS (
        |  SELECT n.node,
        |    CAST(n.is_seed * 150000 + (COALESCE(s1.c, 0) * 850000) // 1000000
        |      AS BIGINT) AS r
        |  FROM ns n LEFT JOIN s1 USING (node)
        |), s2 AS (
        |  SELECT e.dst AS node, CAST(SUM(r1.r // deg.out_deg) AS BIGINT) AS c
        |  FROM r1 JOIN e ON r1.node = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT n.node,
        |    CAST(n.is_seed * 150000 + (COALESCE(s2.c, 0) * 850000) // 1000000
        |      AS BIGINT) AS r
        |  FROM ns n LEFT JOIN s2 USING (node)
        |), s3 AS (
        |  SELECT e.dst AS node, CAST(SUM(r2.r // deg.out_deg) AS BIGINT) AS c
        |  FROM r2 JOIN e ON r2.node = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY 1
        |), r3 AS (
        |  SELECT n.node,
        |    CAST(n.is_seed * 150000 + (COALESCE(s3.c, 0) * 850000) // 1000000
        |      AS BIGINT) AS r
        |  FROM ns n LEFT JOIN s3 USING (node)
        |)
        |SELECT node, r AS rank_ppm FROM r3""".stripMargin,
      // ppr's rounds are checkpoint leaves (q_pagerank precedent)
      shufflePin = Some(0)),

    // upper-tail dependence of per-order quantity vs spend at q=0.9 —
    // do the biggest orders by volume also sit in the spend tail?
    Entry("q_tail_dep", (s, dir) =>
      graft.ops.Stats.upperTailDependence(
        table(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull)
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("long")).as("qty"),
            sum(round(col("l_extendedprice")).cast("long")).as("spend")),
        "qty", "spend", qPpm = 900000L),
      // upper-tail dependence: rank-integer thresholds off the
      // distinct-value cum frames, strict-exceedance counts, ppm ratio
      """WITH b AS (
        |  SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
        |         CAST(SUM(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |  GROUP BY l_orderkey
        |), nn AS (SELECT COUNT(*)::BIGINT AS n FROM b),
        |xc AS (
        |  SELECT v, CAST(SUM(k) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT x AS v, COUNT(*)::BIGINT AS k FROM b GROUP BY 1)
        |), xt AS (
        |  SELECT MIN(v) AS x_thr FROM xc CROSS JOIN nn
        |  WHERE cum >= (900000 * n + 999999) // 1000000
        |), yc AS (
        |  SELECT v, CAST(SUM(k) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT y AS v, COUNT(*)::BIGINT AS k FROM b GROUP BY 1)
        |), yt AS (
        |  SELECT MIN(v) AS y_thr FROM yc CROSS JOIN nn
        |  WHERE cum >= (900000 * n + 999999) // 1000000
        |), agg AS (
        |  SELECT nn.n, xt.x_thr, yt.y_thr,
        |    CAST(SUM(CASE WHEN b.x > xt.x_thr THEN 1 ELSE 0 END) AS BIGINT) AS n_x,
        |    CAST(SUM(CASE WHEN b.y > yt.y_thr THEN 1 ELSE 0 END) AS BIGINT) AS n_y,
        |    CAST(SUM(CASE WHEN b.x > xt.x_thr AND b.y > yt.y_thr THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_joint
        |  FROM b CROSS JOIN nn CROSS JOIN xt CROSS JOIN yt
        |  GROUP BY 1, 2, 3
        |)
        |SELECT n, x_thr, y_thr, n_x, n_y, n_joint,
        |  CASE WHEN n_x > 0 THEN CAST((n_joint * 1000000) // n_x AS BIGINT) END
        |    AS lambda_u_ppm
        |FROM agg""".stripMargin,
      // tail_dep's 12 are all collapsed value-frame aggs + cum windows +
      // 1-row thresholds
      shufflePin = Some(12),
      planNote = Some("two 1-row rank-threshold frames + the 1-row total broadcast onto the per-order frame (the bounded-broadcast category)")),

    // detector-agreement audit: how much do shingle-Jaccard (tau=0.5)
    // and SimHash-Hamming (<=3) near-dup PAIR SETS agree on this
    // corpus — the calibration read before picking a dedup detector
    Entry("q_dedup_agreement", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Dedup.pairSetAgreement(
        graft.ops.Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3, tau = 0.5),
        "a_id", "b_id",
        graft.ops.Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3),
        "a_id", "b_id")
    },
      // detector agreement: BOTH pair oracles nested as scoped CTE
      // subqueries (their internal WITH chains don't leak), unordered
      // pair keys, full-outer overlap bookkeeping, pair-set Jaccard ppm
      s"""WITH mh AS ($dedupPairsSql),
         |smh AS ($simhashPairsSql),
         |mhp AS (
         |  SELECT least(a_id, b_id) AS x, greatest(a_id, b_id) AS y
         |  FROM mh GROUP BY 1, 2
         |), shp AS (
         |  SELECT least(a_id, b_id) AS x, greatest(a_id, b_id) AS y
         |  FROM smh GROUP BY 1, 2
         |), j AS (
         |  SELECT CASE WHEN m.x IS NULL THEN 0 ELSE 1 END AS inm,
         |         CASE WHEN s.x IS NULL THEN 0 ELSE 1 END AS ins
         |  FROM mhp m FULL JOIN shp s ON m.x = s.x AND m.y = s.y
         |), agg AS (
         |  SELECT CAST(SUM(inm) AS BIGINT) AS n_left,
         |         CAST(SUM(ins) AS BIGINT) AS n_right,
         |         CAST(SUM(inm * ins) AS BIGINT) AS n_both
         |  FROM j
         |)
         |SELECT n_left, n_right, n_both,
         |  CASE WHEN n_left + n_right - n_both > 0
         |    THEN CAST((n_both * 1000000) // (n_left + n_right - n_both) AS BIGINT)
         |  END AS jaccard_ppm
         |FROM agg""".stripMargin,
      // agreement = the two pair generators' aggs + the pair-key full
      // outer + 1-row collapse
      shufflePin = Some(4),
      widthPin = Some(2)),

    // stratified exactly-balanced k-fold assignment (fold sizes within
    // a stratum differ by ≤ 1; plain kfoldAssign is the map-side path)
    Entry("q_kfold", (s, dir) =>
      graft.ops.Sampling.kfoldStratified(
        table(s, dir, "events")
          .filter(col("event_type").isNotNull && col("event_id").isNotNull)
          .select("event_id", "event_type", "user_id"),
        "event_id", "event_type", k = 5),
      """WITH r AS (
        |  SELECT event_id, event_type, user_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5(event_id::VARCHAR), event_id) AS hr
        |  FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
        |)
        |SELECT event_id, event_type, user_id,
        |  CAST((hr - 1) % 5 AS BIGINT) AS fold FROM r""".stripMargin),

    // KMV set algebra: pairwise distinct-part overlap between return
    // flags, estimated from k-long sketches alone (no value shuffle)
    Entry("q_kmv_overlap", (s, dir) =>
      graft.ops.Sketch.kmvOverlap(
        table(s, dir, "lineitem"), "l_returnflag", "l_partkey", k = 64),
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag AS g,
        |    ('0x' || substr(md5(l_partkey::VARCHAR), 1, 13))::BIGINT AS hv
        |  FROM lineitem WHERE l_partkey IS NOT NULL
        |), r AS (
        |  SELECT g, hv, ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv) AS rn FROM h
        |), sk AS (
        |  SELECT g, list_sort(list(hv)) AS sketch FROM r WHERE rn <= 64 GROUP BY 1
        |), pr AS (
        |  SELECT a.g AS group_a, b.g AS group_b, a.sketch AS sa, b.sketch AS sb,
        |         list_sort(list_distinct(a.sketch || b.sketch))[1:64] AS su
        |  FROM sk a JOIN sk b ON a.g < b.g
        |), est AS (
        |  SELECT group_a, group_b,
        |    CAST(CASE WHEN len(sa) < 64 THEN len(sa)
        |         ELSE 63 * 4503599627370496 // sa[64] END AS BIGINT) AS est_a,
        |    CAST(CASE WHEN len(sb) < 64 THEN len(sb)
        |         ELSE 63 * 4503599627370496 // sb[64] END AS BIGINT) AS est_b,
        |    CAST(CASE WHEN len(su) < 64 THEN len(su)
        |         ELSE 63 * 4503599627370496 // su[64] END AS BIGINT) AS est_union
        |  FROM pr
        |)
        |SELECT group_a, group_b, est_a, est_b, est_union,
        |  CAST(GREATEST(est_a + est_b - est_union, 0) AS BIGINT) AS est_inter
        |FROM est""".stripMargin,
      planNote = Some("pairwise join of |groups|-row KMV sketch frames — kilobytes by design, never the corpus (Sketch.scala:225)")),

    // PSI drift between view-event and click-event value distributions
    // over fixed clamped equi-width buckets, Laplace-smoothed shares
    Entry("q_psi", (s, dir) => {
      val ev = table(s, dir, "events")
      graft.ops.Stats.populationStability(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"),
        "value", lo = 0.0, hi = 500.0, buckets = 20)
    },
      """WITH rb AS (
        |  SELECT CAST(LEAST(GREATEST(floor((value - 0.0) / 25.0), 0.0), 19.0) AS BIGINT) AS bucket
        |  FROM events WHERE value IS NOT NULL AND event_type = 'view'
        |), cb AS (
        |  SELECT CAST(LEAST(GREATEST(floor((value - 0.0) / 25.0), 0.0), 19.0) AS BIGINT) AS bucket
        |  FROM events WHERE value IS NOT NULL AND event_type = 'click'
        |), rc AS (SELECT bucket, COUNT(*)::BIGINT AS nr FROM rb GROUP BY 1),
        |cc AS (SELECT bucket, COUNT(*)::BIGINT AS nc FROM cb GROUP BY 1),
        |g AS (
        |  SELECT t.bucket, COALESCE(rc.nr, 0) AS nr, COALESCE(cc.nc, 0) AS nc
        |  FROM (SELECT range AS bucket FROM range(20)) t
        |  LEFT JOIN rc USING (bucket) LEFT JOIN cc USING (bucket)
        |), f AS (
        |  SELECT list_sort(list(struct_pack(bucket := bucket, nr := nr, nc := nc))) AS arr,
        |         CAST(SUM(nr) AS BIGINT) AS n_ref, CAST(SUM(nc) AS BIGINT) AS n_cur
        |  FROM g
        |)
        |SELECT n_ref, n_cur, CAST(20 AS BIGINT) AS n_buckets,
        |  ROUND(list_sum(list_transform(arr, s ->
        |    ((s.nc::DOUBLE + 1.0) / (n_cur::DOUBLE + 20.0) -
        |     (s.nr::DOUBLE + 1.0) / (n_ref::DOUBLE + 20.0)) *
        |    ln(((s.nc::DOUBLE + 1.0) / (n_cur::DOUBLE + 20.0)) /
        |       ((s.nr::DOUBLE + 1.0) / (n_ref::DOUBLE + 20.0))))), 6) AS psi
        |FROM f""".stripMargin),

    // per-doc unigram entropy + length-normalized ratio (the smooth
    // repetition/diversity signal next to q_repetition's hard shares)
    Entry("q_doc_entropy", (s, dir) =>
      graft.ops.TextAnalysis.docEntropy(
        table(s, dir, "documents"), "doc_id", "text"),
      s"""$docToks, t AS (
         |  SELECT doc_id, unnest(toks) AS term FROM d
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM t GROUP BY 1, 2
         |), p AS (
         |  SELECT doc_id, list_sort(list(struct_pack(term := term, tf := tf))) AS arr
         |  FROM tf GROUP BY 1
         |), g AS (
         |  SELECT doc_id, arr,
         |    CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT) AS n_tokens,
         |    CAST(len(arr) AS BIGINT) AS n_distinct
         |  FROM p
         |)
         |SELECT doc_id, n_tokens, n_distinct,
         |  ROUND(list_sum(list_transform(arr, s ->
         |    -(s.tf / n_tokens) * ln(s.tf / n_tokens))), 6) AS entropy,
         |  ROUND(CASE WHEN n_distinct > 1 THEN
         |    list_sum(list_transform(arr, s ->
         |      -(s.tf / n_tokens) * ln(s.tf / n_tokens))) / ln(n_distinct)
         |    END, 6) AS entropy_ratio
         |FROM g""".stripMargin),

    // hard-negative mining: per anchor, top-5 most-similar vectors with
    // a DIFFERENT label (bounded-heap agg, label filter pre-aggregation)
    Entry("q_hard_negatives", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      graft.ops.Similarity.hardNegatives(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label", k = 5)
    },
      s"""WITH q AS (
         |  SELECT vec_id AS anchor_id, label AS al, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10
         |), c AS (
         |  SELECT vec_id AS neg_id, label AS cl, embedding AS cv FROM embeddings
         |), p AS (
         |  SELECT anchor_id, neg_id, ${duckCosine("qv", "cv")} AS sim
         |  FROM q, c WHERE cl <> al
         |), r AS (
         |  SELECT anchor_id, neg_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
         |      ORDER BY sim DESC, neg_id) AS BIGINT) AS rn
         |  FROM p
         |)
         |SELECT anchor_id, rn, neg_id, ROUND(sim, 6) AS sim
         |FROM r WHERE rn <= 5""".stripMargin,
      planNote = Some("brute per-anchor scoring vs a DIFFERENT-label corpus; scale path is routing anchors through knnIvf cells first"),
      widthPin = Some(1)),

    // semantic decontamination: corpus vectors within cosine 0.4 of any
    // "eval" vector (vec_id < 64 split), best match each — exact mode
    // is the oracle baseline, banded is the scale path (spec-equated)
    Entry("q_sem_contamination", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      graft.ops.Similarity.semanticContamination(
        emb.filter(col("vec_id") >= 64), emb.filter(col("vec_id") < 64),
        "vec_id", "embedding", tau = 0.4, exact = true)
    },
      s"""WITH c AS (
         |  SELECT vec_id AS doc_id, embedding AS cv FROM embeddings WHERE vec_id >= 64
         |), e AS (
         |  SELECT vec_id AS eval_id, embedding AS ev FROM embeddings WHERE vec_id < 64
         |), p AS (
         |  SELECT doc_id, eval_id, ${duckCosine("cv", "ev")} AS sim FROM c, e
         |), r AS (
         |  SELECT doc_id, eval_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sim DESC, eval_id) AS rn
         |  FROM p
         |)
         |SELECT doc_id, eval_id, ROUND(sim, 6) AS sim
         |FROM r WHERE rn = 1 AND sim >= 0.4""".stripMargin,
      planNote = Some("eval-set x corpus scoring; the eval set is broadcast-small by contract (thousands of rows, not corpus-scale)"),
      widthPin = Some(1)),

    // deterministic contrastive negative sampling from a bounded
    // hash-selected pool — map-side array select, no shuffle
    Entry("q_neg_sample", (s, dir) =>
      graft.ops.Sampling.negativeSample(
        table(s, dir, "embeddings"), "vec_id", "label", k = 3, poolSize = 32),
      """WITH pool AS (
        |  SELECT vec_id AS pk, label AS pl FROM embeddings
        |  WHERE vec_id IS NOT NULL AND label IS NOT NULL
        |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 32
        |), a AS (
        |  SELECT vec_id AS anchor, label AS al FROM embeddings
        |  WHERE vec_id IS NOT NULL AND label IS NOT NULL
        |), r AS (
        |  SELECT anchor, pk,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY anchor
        |      ORDER BY md5(anchor::VARCHAR || '|' || pk::VARCHAR), pk) AS BIGINT) AS rank
        |  FROM a JOIN pool ON pl <> al
        |)
        |SELECT anchor, pk AS negative, rank FROM r WHERE rank <= 3""".stripMargin,
      planNote = Some("broadcast candidate pool, |labels| rows of bounded per-label lists by contract (Sampling.scala:496)")),

    // Cohen's kappa between event_type and a deterministic synthetic
    // second rater (agrees on event_id % 10 < 8, else a fixed label
    // permutation) — label-QA agreement beyond chance
    Entry("q_kappa", (s, dir) =>
      graft.ops.Stats.cohensKappa(
        syntheticRaters(table(s, dir, "events")), "event_type", "rater2"),
      s"""$syntheticRatersSql, c AS (
         |  SELECT a, b, COUNT(*)::BIGINT AS o FROM e GROUP BY 1, 2
         |), m1 AS (
         |  SELECT a AS cat, CAST(SUM(o) AS BIGINT) AS rt FROM c GROUP BY 1
         |), m2 AS (
         |  SELECT b AS cat, CAST(SUM(o) AS BIGINT) AS ct FROM c GROUP BY 1
         |), marg AS (
         |  SELECT cat, COALESCE(rt, 0) AS rt, COALESCE(ct, 0) AS ct
         |  FROM m1 FULL OUTER JOIN m2 USING (cat)
         |), nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
         |d AS (
         |  SELECT CAST(SUM(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS agree
         |  FROM c
         |), f AS (
         |  SELECT list_sort(list(struct_pack(cat := cat, rt := rt, ct := ct))) AS arr,
         |         COUNT(*)::BIGINT AS n_categories
         |  FROM marg
         |), raw AS (
         |  SELECT nn.n, f.n_categories,
         |    agree::DOUBLE / nn.n::DOUBLE AS po_raw,
         |    list_sum(list_transform(arr, s ->
         |      (s.rt::DOUBLE / nn.n::DOUBLE) * (s.ct::DOUBLE / nn.n::DOUBLE))) AS pe_raw
         |  FROM f CROSS JOIN nn CROSS JOIN d
         |)
         |SELECT n, n_categories, ROUND(po_raw, 6) AS po, ROUND(pe_raw, 6) AS pe,
         |  ROUND(CASE WHEN pe_raw = 1.0 THEN NULL
         |        ELSE (po_raw - pe_raw) / (1.0 - pe_raw) END, 6) AS kappa
         |FROM raw""".stripMargin,
      planNote = Some("1-row rater-total crossJoin (expected-agreement term)")),

    // sample-ratio-mismatch canary: chi-square GoF of the md5-split
    // arm UNIT counts against the declared 50/50
    Entry("q_srm", (s, dir) => {
      val units = table(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .withColumn("arm",
          graft.ops.Sampling.hashBucket(col("user_id"), 2).cast("string"))
      graft.ops.Stats.chiSquareGof(units, "arm",
        Map("0" -> 0.5, "1" -> 0.5))
    },
      // SRM: per-arm unit counts via the md5 parity mirror, chi2 as the
      // same static two-term expression
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
        |), a AS (
        |  SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
        |          % 2)::VARCHAR AS arm
        |  FROM u
        |), g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = '0' THEN 1 ELSE 0 END) AS BIGINT) AS o0,
        |    CAST(SUM(CASE WHEN arm = '1' THEN 1 ELSE 0 END) AS BIGINT) AS o1,
        |    CAST(SUM(CASE WHEN arm NOT IN ('0', '1') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS oth
        |  FROM a
        |)
        |SELECT (o0 + o1) AS n, oth AS n_other, CAST(1 AS BIGINT) AS dof,
        |  CASE WHEN o0 + o1 = 0 THEN NULL
        |       ELSE ROUND(
        |    (o0::DOUBLE - (o0 + o1)::DOUBLE * 0.5)
        |      * (o0::DOUBLE - (o0 + o1)::DOUBLE * 0.5)
        |      / ((o0 + o1)::DOUBLE * 0.5)
        |    + (o1::DOUBLE - (o0 + o1)::DOUBLE * 0.5)
        |      * (o1::DOUBLE - (o0 + o1)::DOUBLE * 0.5)
        |      / ((o0 + o1)::DOUBLE * 0.5), 6)
        |  END AS chi2
        |FROM g""".stripMargin,
      // srm = unit distinct + the 1-row conditional agg
      shufflePin = Some(2)),

    // straggler audit over the event shard manifest: exact per-shard
    // extremes + integer skew_ppm (max vs doubled median)
    Entry("q_shard_balance", (s, dir) =>
      graft.ops.Sampling.shardBalance(
        graft.ops.Sampling.shardManifest(
          table(s, dir, "events"), "event_id", shards = 16), "shard"),
      // shard balance: md5-bucket counts, exact integer extremes and the
      // doubled-median skew ratio (// floors = Spark div on positives)
      """WITH d AS (
        |  SELECT event_id FROM events WHERE event_id IS NOT NULL
        |), b AS (
        |  SELECT ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 16
        |    AS shard
        |  FROM d
        |), per AS (
        |  SELECT shard, COUNT(*)::BIGINT AS n FROM b GROUP BY 1
        |), f AS (
        |  SELECT COUNT(*)::BIGINT AS n_shards,
        |    CAST(SUM(n) AS BIGINT) AS rows_total,
        |    MIN(n) AS rows_min, MAX(n) AS rows_max, list_sort(list(n)) AS a
        |  FROM per
        |)
        |SELECT n_shards, rows_total, rows_min, rows_max,
        |  CAST((2 * rows_max * 1000000)
        |    // (a[((n_shards + 1) // 2)::INT] + a[((n_shards + 2) // 2)::INT])
        |    AS BIGINT) AS skew_ppm
        |FROM f""".stripMargin,
      // shard balance = per-shard agg + 1-row fold
      shufflePin = Some(2)),

    // unbiased pass@k over per-user event "attempts" (success =
    // purchase): the sampled-eval estimator, exact ascending product
    Entry("q_pass_at_k", (s, dir) =>
      graft.ops.EvalMetrics.passAtK(
        table(s, dir, "events"), "user_id",
        col("event_type") === "purchase", k = 5),
      // pass@k: the exact ascending product 1 - prod (n-c-i)/(n-i);
      // list_product folds the same ascending range both engines
      """WITH per AS (
        |  SELECT user_id AS task, COUNT(*)::BIGINT AS n_attempts,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_correct
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |)
        |SELECT task, n_attempts, n_correct,
        |  CASE WHEN n_attempts - n_correct < 5 THEN 1.0
        |       ELSE ROUND(1.0 - list_product(list_transform(range(0, 5),
        |         i -> (n_attempts::DOUBLE - n_correct::DOUBLE - i)
        |              / (n_attempts::DOUBLE - i))), 6)
        |  END AS pass_at_k
        |FROM per WHERE n_attempts >= 5""".stripMargin,
      // pass@k = one (task) hash agg
      shufflePin = Some(1)),

    // one DoReMi-style exponentiated-gradient mixture update over the
    // per-source token-count signal (integral loss units; eta = 0.001)
    Entry("q_mixture_reweight", (s, dir) =>
      graft.ops.Sampling.mixtureReweight(
        table(s, dir, "documents")
          .filter(col("text").isNotNull),
        "source", graft.ops.TextAnalysis.tokenCount(col("text")),
        eta = 0.001),
      // mixture reweight: exact per-domain token sums; raw terms fold in
      // domain-sorted order, weights rounded 6 dp (the exp ulp guard)
      """WITH per AS (
        |  SELECT source AS domain, COUNT(*)::BIGINT AS n_rows,
        |    CAST(SUM(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT) AS sl
        |  FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL
        |  GROUP BY 1
        |), f AS (
        |  SELECT CAST(SUM(n_rows) AS BIGINT) AS nn,
        |    list_sort(list(struct_pack(domain := domain, n_rows := n_rows,
        |      mean := sl::DOUBLE / n_rows::DOUBLE))) AS a
        |  FROM per
        |), zf AS (
        |  SELECT nn, a,
        |    list_sum(list_transform(a, s ->
        |      s.n_rows::DOUBLE / nn::DOUBLE * exp(0.001 * s.mean))) AS z
        |  FROM f
        |)
        |, ex AS (
        |  SELECT nn, z, unnest(a) AS s FROM zf
        |)
        |SELECT s.domain AS domain, s.n_rows AS n_rows,
        |  ROUND(s.mean, 6) AS mean_loss,
        |  ROUND(s.n_rows::DOUBLE / nn::DOUBLE, 6) AS w_old,
        |  ROUND(s.n_rows::DOUBLE / nn::DOUBLE * exp(0.001 * s.mean) / z, 6)
        |    AS w_new
        |FROM ex""".stripMargin,
      // reweight = domain agg + 1-row fold
      shufflePin = Some(2)),

    // Fleiss' kappa: each user's first 8 events (by event_id) act as an
    // 8-rater panel categorizing the user by event_type — multi-rater
    // agreement beyond chance over the full panel set
    Entry("q_fleiss_kappa", (s, dir) =>
      graft.ops.Stats.fleissKappa(
        table(s, dir, "events"), "user_id", "event_type",
        col("event_id"), nRaters = 8),
      // Fleiss' kappa: same panel-cap + exact-integer cell spine; the P_e
      // fold runs over the category-sorted totals list on both engines
      """WITH e AS (
        |  SELECT user_id AS i, event_type AS cat, event_id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |), r AS (
        |  SELECT i, cat, ROW_NUMBER() OVER (PARTITION BY i
        |    ORDER BY event_id, cat) AS rn
        |  FROM e
        |), cap AS (
        |  SELECT i, cat FROM r WHERE rn <= 8
        |), pin AS (
        |  SELECT i, COUNT(*)::BIGINT AS n FROM cap GROUP BY 1
        |), panel AS (
        |  SELECT i FROM pin WHERE n = 8
        |), cells AS (
        |  SELECT cap.i, cat, COUNT(*)::BIGINT AS nij
        |  FROM cap JOIN panel USING (i) GROUP BY 1, 2
        |), ia AS (
        |  SELECT COUNT(*)::BIGINT AS n_items, SUM(s2) AS ss2 FROM (
        |    SELECT i, SUM((nij * nij)::HUGEINT) AS s2 FROM cells GROUP BY 1)
        |), ct AS (
        |  SELECT cat, CAST(SUM(nij) AS BIGINT) AS cj FROM cells GROUP BY 1
        |), f AS (
        |  SELECT list_sort(list(struct_pack(cat := cat, cj := cj))) AS arr,
        |         COUNT(*)::BIGINT AS n_categories
        |  FROM ct
        |), raw AS (
        |  SELECT n_items, n_categories,
        |    (ss2::DOUBLE - n_items::DOUBLE * 8.0)
        |      / (n_items::DOUBLE * 8.0 * 7.0) AS pb,
        |    list_sum(list_transform(arr, s ->
        |      (s.cj::DOUBLE / (n_items::DOUBLE * 8.0)) *
        |      (s.cj::DOUBLE / (n_items::DOUBLE * 8.0)))) AS pe
        |  FROM f CROSS JOIN ia
        |)
        |SELECT n_items, CAST(8 AS BIGINT) AS n_raters, n_categories,
        |  CASE WHEN n_items = 0 THEN NULL ELSE ROUND(pb, 6) END AS p_bar,
        |  CASE WHEN n_items = 0 THEN NULL ELSE ROUND(pe, 6) END AS p_e,
        |  CASE WHEN n_items = 0 OR pe = 1.0 THEN NULL
        |       ELSE ROUND((pb - pe) / (1.0 - pe), 6) END AS kappa
        |FROM raw""".stripMargin,
      // r11 operator batch: fleiss = panel window + cell agg + squares/
      // totals aggs off the cached cell frame
      shufflePin = Some(4),
      planNote = Some("1-row item-panel totals (N, Σs²) crossJoin onto the 1-row category fold")),

    // per-class confusion matrix + integer-ppm precision/recall/F1 over
    // the same synthetic (label, pred) frame
    Entry("q_confusion", (s, dir) =>
      graft.ops.Stats.confusionStats(
        syntheticRaters(table(s, dir, "events")), "event_type", "rater2"),
      s"""$syntheticRatersSql, c AS (
         |  SELECT a AS label, b AS pred, COUNT(*)::BIGINT AS o FROM e GROUP BY 1, 2
         |), lab AS (
         |  SELECT label AS class, CAST(SUM(o) AS BIGINT) AS n_labeled,
         |         CAST(SUM(CASE WHEN label = pred THEN o ELSE 0 END) AS BIGINT) AS tp
         |  FROM c GROUP BY 1
         |), prd AS (
         |  SELECT pred AS class, CAST(SUM(o) AS BIGINT) AS n_predicted FROM c GROUP BY 1
         |), j AS (
         |  SELECT class, COALESCE(n_labeled, 0) AS n_labeled,
         |         COALESCE(n_predicted, 0) AS n_predicted, COALESCE(tp, 0) AS tp
         |  FROM lab FULL OUTER JOIN prd USING (class)
         |)
         |SELECT class, n_labeled, n_predicted, tp,
         |  n_predicted - tp AS fp, n_labeled - tp AS fn,
         |  CAST(CASE WHEN n_predicted > 0 THEN (tp * 1000000) // n_predicted END AS BIGINT)
         |    AS precision_ppm,
         |  CAST(CASE WHEN n_labeled > 0 THEN (tp * 1000000) // n_labeled END AS BIGINT)
         |    AS recall_ppm,
         |  CAST(CASE WHEN n_predicted + n_labeled > 0
         |       THEN (tp * 2000000) // (2 * tp + (n_predicted - tp) + (n_labeled - tp))
         |       END AS BIGINT) AS f1_ppm
         |FROM j""".stripMargin),

    // deterministic bottom-k-by-hash sample quantiles over event values
    Entry("q_quantile_sample", (s, dir) =>
      graft.ops.Sketch.hashSampleQuantiles(
        table(s, dir, "events"), "event_id", "value",
        ps = Seq(0.1, 0.5, 0.9, 0.99), k = 512),
      """WITH s AS (
        |  SELECT value FROM events
        |  WHERE event_id IS NOT NULL AND value IS NOT NULL
        |  ORDER BY md5(event_id::VARCHAR), event_id LIMIT 512
        |), r AS (
        |  SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM s
        |)
        |SELECT p, CAST(n AS BIGINT) AS n_sample, value
        |FROM r, (SELECT unnest([0.1, 0.5, 0.9, 0.99]) AS p)
        |WHERE rn = ceil(p * n)""".stripMargin),

    // incremental profiling: per-batch mergeable states (split by
    // event_id parity) folded and finished — must equal a direct
    // single-pass profile of the whole table
    Entry("q_incr_profile", (s, dir) => {
      val ev = table(s, dir, "events").select("event_id")
      val a = graft.ops.Profile.colStatsState(
        ev.filter(col("event_id") % 2 === 0), "event_id", k = 64)
      val b = graft.ops.Profile.colStatsState(
        ev.filter(col("event_id") % 2 =!= 0), "event_id", k = 64)
      graft.ops.Profile.finishColStats(
        graft.ops.Profile.mergeColStats(a.unionAll(b), k = 64), k = 64)
    },
      """WITH v AS (
        |  SELECT event_id FROM events WHERE event_id IS NOT NULL
        |), h AS (
        |  SELECT DISTINCT ('0x' || substr(md5(event_id::VARCHAR), 1, 13))::BIGINT AS hv
        |  FROM v
        |), r AS (
        |  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn,
        |         COUNT(*) OVER () AS nd
        |  FROM h
        |), agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(COUNT(event_id) AS BIGINT) AS n_nonnull,
        |         MIN(event_id) AS min_value, MAX(event_id) AS max_value
        |  FROM v
        |), e AS (
        |  SELECT CAST(CASE WHEN MAX(nd) < 64 THEN MAX(nd)
        |       ELSE 63 * 4503599627370496 // MAX(CASE WHEN rn = 64 THEN hv END)
        |       END AS BIGINT) AS est_distinct
        |  FROM r
        |)
        |SELECT n_rows, n_nonnull, est_distinct, min_value, max_value
        |FROM agg CROSS JOIN e""".stripMargin),

    // Theil–Sen robust trend slope per event type over the daily count
    // series — the median of all pairwise integerized slopes (HOW steep,
    // where q_mann_kendall says WHETHER the trend exists)
    Entry("q_theil_sen", (s, dir) =>
      graft.ops.TimeSeries.theilSen(
        table(s, dir, "events"), "event_type", "ts"),
      // Theil–Sen twin: identical floor-integerized pairwise slopes, the
      // same (lo+hi)/2 floor-median convention
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.g, CAST(floor((b.x - a.x)::DOUBLE * 1000000.0
        |      / date_diff('day', a.day, b.day)::DOUBLE) AS BIGINT) AS slope
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
        |), agg AS (
        |  SELECT g, COUNT(*)::BIGINT AS n_pairs, list_sort(list(slope)) AS ss
        |  FROM pairs GROUP BY 1
        |), nd AS (SELECT g, COUNT(*)::BIGINT AS n_days FROM daily GROUP BY 1)
        |SELECT nd.g AS event_type, n_days, n_pairs,
        |  CAST(floor((ss[CAST((n_pairs + 1) // 2 AS INT)]
        |    + ss[CAST((n_pairs + 2) // 2 AS INT)])::DOUBLE / 2.0) AS BIGINT)
        |    AS slope_ppm
        |FROM nd JOIN agg USING (g)""".stripMargin),

    // Kendall τ-b between daily event volume and daily revenue cents per
    // event type — exact BIGINT concordance + tie terms on the collapsed
    // daily frame (the bounded-per-group contract)
    Entry("q_kendall_tau", (s, dir) => {
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("_day"))
        .agg(count(lit(1)).as("_cnt"),
          sum(round(col("value") * 100).cast("long")).as("_val"))
      graft.ops.Stats.kendallTau(daily, "event_type", col("_cnt"), col("_val"))
    },
      // Kendall τ-b twin: the doubled-ordered-pair sign sum halved, the
      // same tie-corrected denominator and NULL mask
      """WITH daily AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    COUNT(*)::BIGINT AS x,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), base AS (
        |  SELECT g, x, y FROM daily WHERE x IS NOT NULL AND y IS NOT NULL
        |), cd AS (
        |  SELECT a.g, CAST(SUM(CAST(sign((b.x - a.x)::DOUBLE)
        |      * sign((b.y - a.y)::DOUBLE) AS BIGINT)) AS BIGINT) // 2
        |      AS c_minus_d
        |  FROM base a JOIN base b ON a.g = b.g
        |  GROUP BY 1
        |), tx AS (
        |  SELECT g, CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1
        |  FROM (SELECT g, x, COUNT(*)::BIGINT AS t FROM base GROUP BY 1, 2)
        |  GROUP BY 1
        |), ty AS (
        |  SELECT g, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
        |  FROM (SELECT g, y, COUNT(*)::BIGINT AS t FROM base GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT tx.g AS event_type, n, c_minus_d,
        |  CASE WHEN n * (n - 1) // 2 - n1 <= 0 OR n * (n - 1) // 2 - n2 <= 0
        |       THEN NULL
        |       ELSE c_minus_d::DOUBLE
        |         / sqrt((n * (n - 1) // 2 - n1)::DOUBLE
        |             * (n * (n - 1) // 2 - n2)::DOUBLE)
        |  END AS tau_b
        |FROM tx JOIN ty USING (g) JOIN cd USING (g)""".stripMargin),

    // resource-allocation link prediction on the co-purchase graph:
    // RA(a,b) = Σ 1/deg(z) over common neighbors, exact nano-integer
    // reciprocals, non-adjacent pairs only. minSupport=2 (not the
    // assoc-rules 3): repeat co-purchases get RARER as the catalog
    // grows, and support 3 leaves a 2-edge graph at sf0.1 (0 candidate
    // pairs) — a gate that exercises nothing
    Entry("q_resource_alloc", (s, dir) =>
      graft.ops.Graph.resourceAllocation(
        table(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L),
      // RA link-prediction twin: same support-filtered co-occurrence
      // edges, integer floor reciprocals, NOT EXISTS anti-join
      """WITH inc AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), ok AS (
        |  SELECT basket FROM inc GROUP BY 1 HAVING COUNT(*) <= 1000
        |), inc2 AS (
        |  SELECT inc.* FROM inc JOIN ok USING (basket)
        |), edges AS (
        |  SELECT l.item AS a, r.item AS b
        |  FROM inc2 l JOIN inc2 r USING (basket)
        |  WHERE l.item < r.item
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |), directed AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION ALL SELECT b, a FROM edges
        |), w AS (
        |  SELECT src AS z, 1000000000 // COUNT(*)::BIGINT AS w
        |  FROM directed GROUP BY 1
        |), scored AS (
        |  SELECT za.dst AS a, zb.dst AS b, COUNT(*)::BIGINT AS n_common,
        |    CAST(SUM(w.w) AS BIGINT) AS ra_nano
        |  FROM directed za JOIN directed zb ON za.src = zb.src
        |  JOIN w ON w.z = za.src
        |  WHERE za.dst < zb.dst
        |  GROUP BY 1, 2
        |)
        |SELECT s.a, s.b, s.n_common, s.ra_nano FROM scored s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM edges e WHERE e.a = s.a AND e.b = s.b)""".stripMargin,
      // resource_alloc = degree agg + two neighbor joins + pair agg
      shufflePin = Some(5)),

    // chrF2 character-n-gram F-score over the same deterministic
    // candidate/reference pairs as q_bleu — tokenizer-independent MT eval
    Entry("q_chrf", (s, dir) => {
      val p = evalPairs(s, dir).select(col("doc_id"),
        array_join(col("cand"), " ").as("cand"),
        array_join(col("ref"), " ").as("ref"))
      graft.ops.EvalMetrics.chrF(p, "doc_id", "cand", "ref")
    },
      // chrF2 twin: char-gram lattice over the whitespace-stripped
      // evalPairs strings, the same left-folded F_n sum and double tree
      """WITH d0 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ref
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), base AS (
        |  SELECT doc_id, ref,
        |    list_filter(list_transform(range(1, len(ref) + 1),
        |      i -> CASE WHEN (i - 1) % 7 = 3 THEN NULL
        |                WHEN (i - 1) % 11 = 5 THEN reverse(ref[i])
        |                ELSE ref[i] END),
        |      x -> x IS NOT NULL) AS cand
        |  FROM d0 WHERE len(ref) >= 8
        |), strs AS (
        |  SELECT doc_id, array_to_string(cand, '') AS cs,
        |    array_to_string(ref, '') AS rs
        |  FROM base
        |), ns AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n
        |), cg AS (
        |  SELECT doc_id, n, gram, COUNT(*)::BIGINT AS cf FROM (
        |    SELECT doc_id, n, unnest(list_transform(range(1, length(cs) - n + 2),
        |      i -> cs[i:i+n-1])) AS gram
        |    FROM strs, ns)
        |  GROUP BY 1, 2, 3
        |), rg AS (
        |  SELECT doc_id, n, gram, COUNT(*)::BIGINT AS rf FROM (
        |    SELECT doc_id, n, unnest(list_transform(range(1, length(rs) - n + 2),
        |      i -> rs[i:i+n-1])) AS gram
        |    FROM strs, ns)
        |  GROUP BY 1, 2, 3
        |), mm AS (
        |  SELECT cg.doc_id, cg.n, CAST(SUM(least(cf, rf)) AS BIGINT) AS m
        |  FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.gram = rg.gram
        |  GROUP BY 1, 2
        |), wide AS (
        |  SELECT s.doc_id, length(cs)::BIGINT AS len_cand, length(rs)::BIGINT AS len_ref,
        |    CAST(COALESCE(MAX(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1,
        |    CAST(COALESCE(MAX(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2,
        |    CAST(COALESCE(MAX(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3,
        |    CAST(COALESCE(MAX(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4,
        |    CAST(COALESCE(MAX(CASE WHEN n = 5 THEN m END), 0) AS BIGINT) AS m5,
        |    CAST(COALESCE(MAX(CASE WHEN n = 6 THEN m END), 0) AS BIGINT) AS m6
        |  FROM strs s LEFT JOIN mm ON s.doc_id = mm.doc_id
        |  GROUP BY 1, 2, 3
        |), f AS (
        |  SELECT doc_id, len_cand, len_ref,
        |    CASE WHEN m1 > 0 THEN (5.0 * (m1::DOUBLE / greatest(len_cand - 0, 0)::DOUBLE) * (m1::DOUBLE / greatest(len_ref - 0, 0)::DOUBLE))
        |      / (4.0 * (m1::DOUBLE / greatest(len_cand - 0, 0)::DOUBLE) + (m1::DOUBLE / greatest(len_ref - 0, 0)::DOUBLE)) ELSE 0.0 END AS f1,
        |    CASE WHEN m2 > 0 THEN (5.0 * (m2::DOUBLE / greatest(len_cand - 1, 0)::DOUBLE) * (m2::DOUBLE / greatest(len_ref - 1, 0)::DOUBLE))
        |      / (4.0 * (m2::DOUBLE / greatest(len_cand - 1, 0)::DOUBLE) + (m2::DOUBLE / greatest(len_ref - 1, 0)::DOUBLE)) ELSE 0.0 END AS f2,
        |    CASE WHEN m3 > 0 THEN (5.0 * (m3::DOUBLE / greatest(len_cand - 2, 0)::DOUBLE) * (m3::DOUBLE / greatest(len_ref - 2, 0)::DOUBLE))
        |      / (4.0 * (m3::DOUBLE / greatest(len_cand - 2, 0)::DOUBLE) + (m3::DOUBLE / greatest(len_ref - 2, 0)::DOUBLE)) ELSE 0.0 END AS f3,
        |    CASE WHEN m4 > 0 THEN (5.0 * (m4::DOUBLE / greatest(len_cand - 3, 0)::DOUBLE) * (m4::DOUBLE / greatest(len_ref - 3, 0)::DOUBLE))
        |      / (4.0 * (m4::DOUBLE / greatest(len_cand - 3, 0)::DOUBLE) + (m4::DOUBLE / greatest(len_ref - 3, 0)::DOUBLE)) ELSE 0.0 END AS f4,
        |    CASE WHEN m5 > 0 THEN (5.0 * (m5::DOUBLE / greatest(len_cand - 4, 0)::DOUBLE) * (m5::DOUBLE / greatest(len_ref - 4, 0)::DOUBLE))
        |      / (4.0 * (m5::DOUBLE / greatest(len_cand - 4, 0)::DOUBLE) + (m5::DOUBLE / greatest(len_ref - 4, 0)::DOUBLE)) ELSE 0.0 END AS f5,
        |    CASE WHEN m6 > 0 THEN (5.0 * (m6::DOUBLE / greatest(len_cand - 5, 0)::DOUBLE) * (m6::DOUBLE / greatest(len_ref - 5, 0)::DOUBLE))
        |      / (4.0 * (m6::DOUBLE / greatest(len_cand - 5, 0)::DOUBLE) + (m6::DOUBLE / greatest(len_ref - 5, 0)::DOUBLE)) ELSE 0.0 END AS f6
        |  FROM wide
        |)
        |SELECT doc_id, len_cand, len_ref,
        |  (((((f1 + f2) + f3) + f4) + f5) + f6) / 6.0 AS chrf2
        |FROM f""".stripMargin,
      // chrf is the per-row-kernel MAP-SIDE contract (0 — was 21 s as an
      // 18M-row exploded lattice)
      shufflePin = Some(0)),

    // embedding-anisotropy audit: every vector's cosine to the exact
    // integer corpus centroid (the all-but-the-top diagnostic)
    Entry("q_anisotropy", (s, dir) =>
      graft.ops.Similarity.anisotropy(
        table(s, dir, "embeddings"), "vec_id", "embedding"),
      // anisotropy twin: micro-quantized components, HUGEINT-exact
      // centroid/dot/norm sums, one fixed cosine double tree
      """WITH dims AS (
        |  SELECT vec_id,
        |    unnest(generate_series(1, len(embedding))) - 1 AS d,
        |    unnest(list_transform(embedding,
        |      e -> CAST(round(e::DOUBLE * 1000000) AS BIGINT))) AS q
        |  FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |), centroid AS (
        |  SELECT d, CAST(SUM(q) AS HUGEINT) AS s FROM dims GROUP BY 1
        |), scored AS (
        |  SELECT vec_id, SUM(CAST(q AS HUGEINT) * s) AS dot,
        |    SUM(CAST(q AS HUGEINT) * q) AS vv
        |  FROM dims JOIN centroid USING (d) GROUP BY 1
        |), cc AS (SELECT SUM(s * s) AS cc FROM centroid)
        |SELECT vec_id,
        |  CASE WHEN vv = 0 OR cc = 0 THEN NULL
        |       ELSE CAST(dot AS DOUBLE)
        |         / (sqrt(CAST(vv AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE)))
        |  END AS cos_centroid
        |FROM scored CROSS JOIN cc""".stripMargin,
      planNote = Some("1-row centroid-norm (ΣS²) crossJoin onto the per-vector agg"),
      widthPin = Some(1)),

    // word-3-gram novelty of the doc_id%10==3 slice against the rest of
    // the corpus — the synthetic-data memorization screen (the
    // q_contamination split, asked from the generation side)
    Entry("q_ngram_novelty", (s, dir) =>
      graft.ops.TextAnalysis.ngramNovelty(
        table(s, dir, "documents"), "doc_id", "text",
        refFilter = col("doc_id") % 10 =!= 3, n = 3),
      // novelty twin: distinct word-3-grams of the %10==3 candidates left
      // joined against the rest-of-corpus gram vocabulary
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), grams AS (
        |  SELECT doc_id, doc_id % 10 = 3 AS is_cand,
        |    CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [] END AS gs
        |  FROM toks
        |), ref AS (
        |  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE NOT is_cand
        |), cand AS (
        |  SELECT doc_id, unnest(gs) AS g FROM grams WHERE is_cand
        |), per AS (
        |  SELECT c.doc_id, COUNT(*)::BIGINT AS n_grams,
        |    CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM cand c LEFT JOIN ref r ON c.g = r.g
        |  GROUP BY 1
        |)
        |SELECT g.doc_id, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
        |  CASE WHEN COALESCE(n_grams, 0) > 0
        |       THEN n_novel * 1000000 // n_grams END AS novel_ppm
        |FROM grams g LEFT JOIN per ON g.doc_id = per.doc_id
        |WHERE g.is_cand""".stripMargin),

    // Church–Gale term burstiness: per-term Fano factor of per-doc
    // counts (bursty/template terms vs merely-frequent function words)
    Entry("q_burstiness", (s, dir) =>
      graft.ops.TextAnalysis.termBurstiness(
        table(s, dir, "documents"), "doc_id", "text", minDf = 5L),
      // burstiness twin: same (N·Q − S²)/(S·N) Fano tree over exact
      // BIGINT sufficient stats, df floor at 5
      """WITH base AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), per AS (
        |  SELECT doc_id, term, COUNT(*)::BIGINT AS c FROM base GROUP BY 1, 2
        |), nd AS (
        |  SELECT COUNT(DISTINCT doc_id)::BIGINT AS n
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), t AS (
        |  SELECT term, COUNT(*)::BIGINT AS df, CAST(SUM(c) AS BIGINT) AS total,
        |    CAST(SUM(c * c) AS BIGINT) AS q
        |  FROM per GROUP BY 1 HAVING COUNT(*) >= 5
        |)
        |SELECT term, df, total,
        |  (n * q - total * total)::DOUBLE / (total * n)::DOUBLE AS vmr
        |FROM t CROSS JOIN nd""".stripMargin,
      planNote = Some("1-row corpus doc-count (the Fano N) crossJoin onto the term agg")),

    // Neyman-allocation stratified sample of lineitem by return flag —
    // budget ∝ N_h·σ_h from exact integer sufficient stats, hash-rank
    // membership
    Entry("q_neyman", (s, dir) => {
      val li = table(s, dir, "lineitem").select(
        col("l_returnflag"),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("item_key"),
        round(col("l_extendedprice")).cast("long").as("price"))
      graft.ops.Sampling.neymanAllocation(li, "l_returnflag", "item_key",
        col("price"), budget = 2000L)
    },
      // Neyman twin: HUGEINT-exact N_h·Q_h − S_h², the same floor-sqrt
      // weights, floor-div quotas, and md5 hash-rank membership
      """WITH rows_ AS (
        |  SELECT l_returnflag AS g,
        |    concat_ws('_', l_orderkey, l_linenumber) AS item_key,
        |    CAST(round(l_extendedprice) AS BIGINT) AS price
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |), stats AS (
        |  SELECT g, COUNT(*)::BIGINT AS nh, CAST(SUM(price) AS BIGINT) AS s,
        |    CAST(SUM(price * price) AS HUGEINT) AS q
        |  FROM rows_ GROUP BY 1
        |), w AS (
        |  SELECT g, nh,
        |    CAST(floor(sqrt((nh::HUGEINT * q - s::HUGEINT * s)::DOUBLE))
        |      AS BIGINT) AS w
        |  FROM stats
        |), tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w
        |), quota AS (
        |  SELECT g, CASE WHEN tw > 0
        |    THEN least(nh, CAST(2000::HUGEINT * w // tw AS BIGINT))
        |    ELSE 0 END AS quota
        |  FROM w CROSS JOIN tw
        |), ranked AS (
        |  SELECT g, item_key, price,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY md5(item_key), item_key)
        |      AS hr
        |  FROM rows_
        |)
        |SELECT r.g AS l_returnflag, r.item_key, r.price
        |FROM ranked r JOIN quota USING (g) WHERE hr <= quota""".stripMargin,
      planNote = Some("1-row Σweights crossJoin onto the |strata|-row quota frame (the temperatureMix shape)")))

  /** Deterministic second annotator over events: agrees with
    * `event_type` on event_id % 10 < 8, otherwise emits a fixed label
    * permutation — the synthetic (label, pred) frame for the
    * kappa/confusion entries. The oracle states the same CASE tree.
    */
  private def syntheticRaters(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isNotNull && col("event_id").isNotNull)
      .withColumn("rater2",
        when(col("event_id") % 10 < 8, col("event_type"))
          .otherwise(when(col("event_type") === "click", lit("view"))
            .when(col("event_type") === "view", lit("click"))
            .otherwise(lit("error"))))

  /** Complete 3-rater long-format fixture for Krippendorff's alpha:
    * rater `a` is the event type verbatim; `b` flips a 20% id slice
    * (the [[syntheticRaters]] tree); `c` flips a different 2/7 slice
    * the other way. Every unit carries exactly 3 ratings. Mirrored in
    * the `q_kripp_alpha` oracle.
    */
  private def alphaRatings(events: DataFrame): DataFrame = {
    val e = events.filter(col("event_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_id").as("unit"), col("event_type").as("t"))
    val b = when(col("unit") % 10 < 8, col("t"))
      .otherwise(when(col("t") === "click", lit("view"))
        .when(col("t") === "view", lit("click")).otherwise(lit("error")))
    val c = when(col("unit") % 7 < 5, col("t"))
      .otherwise(when(col("t") === "view", lit("error")).otherwise(lit("view")))
    e.select(col("unit"), lit("a").as("rater"), col("t").as("value"))
      .unionAll(e.select(col("unit"), lit("b").as("rater"), b.as("value")))
      .unionAll(e.select(col("unit"), lit("c").as("rater"), c.as("value")))
  }

  /** DuckDB twin of [[syntheticRaters]] (same CASE tree). */
  private val syntheticRatersSql =
    """WITH e AS (
      |  SELECT event_type AS a,
      |    CASE WHEN event_id % 10 < 8 THEN event_type
      |         ELSE CASE WHEN event_type = 'click' THEN 'view'
      |                   WHEN event_type = 'view' THEN 'click'
      |                   ELSE 'error' END END AS b
      |  FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
      |)""".stripMargin

  /** Shared DuckDB CTE: tokenization identical to `TextAnalysis.tokens`
    * (split on `\s+`, drop empties) over the documents table.
    */
  private val docToks =
    """WITH d AS (
      |  SELECT doc_id, text, lang,
      |         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents
      |)""".stripMargin

  // docToks keyed by corpus slice instead of doc id (Heaps fit,
  // n-gram diversity). The NULL filters mirror the Spark sides'
  // groupCol/textCol isNotNull guards — without them a NULL-source
  // fixture row would become an extra oracle group.
  private val docToksSource =
    """WITH d AS (
      |  SELECT source,
      |         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents
      |  WHERE source IS NOT NULL AND text IS NOT NULL
      |)""".stripMargin

  /** DuckDB expression mirroring `Web.urlHost(urlExpr)` — the ONE
    * scheme/port/www chain, shared by every oracle that extracts a host
    * from a url column (urlCanonSql inlines the same chain over its
    * own CTE names; a change to `Web.urlHost` must land in both).
    */
  private def sqlUrlHost(urlExpr: String): String =
    s"""regexp_replace(
       |      CASE WHEN lower(regexp_extract($urlExpr, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'http'
       |        THEN regexp_replace(lower(regexp_extract($urlExpr, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2)), ':80$$', '')
       |           WHEN lower(regexp_extract($urlExpr, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'https'
       |        THEN regexp_replace(lower(regexp_extract($urlExpr, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2)), ':443$$', '')
       |           ELSE lower(regexp_extract($urlExpr, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2)) END,
       |      '^www\\.', '')""".stripMargin

  /** Shared DuckDB CTE chain mirroring [[syntheticUrls]] + `Web`'s
    * canonicalization rules character-for-character: identical regexp
    * patterns AND group indexes on both engines (the patterns are
    * RE2-portable — no lookaround), `'g'` flags where Spark's
    * replace-all semantics need them. Ends with CTE `canon`
    * providing (doc_id, url, host, domain, url_canon).
    */
  private val urlCanonSql =
    """WITH dd AS (
      |  SELECT doc_id, source, lang FROM documents
      |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND lang IS NOT NULL
      |), u AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'HTTP://WWW.' || source || '.COM:80/a/b/' ||
      |                  doc_id::VARCHAR || '?utm_source=x&b=2&a=1#frag'
      |      WHEN 1 THEN 'https://cdn.' || source || '.com:443//x/' || lang ||
      |                  '/?z=9&utm_campaign=c&fbclid=1'
      |      WHEN 2 THEN 'https://' || source || '.com/' || lang || '/' ||
      |                  doc_id::VARCHAR || '/'
      |      ELSE 'http://' || source || '.com'
      |    END AS url
      |  FROM dd
      |), parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2)) AS hp,
      |    regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS rawpath,
      |    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS rawq
      |  FROM u
      |), hostp AS (
      |  SELECT doc_id, url, scheme, rawpath, rawq,
      |    regexp_replace(
      |      CASE WHEN scheme = 'http'  THEN regexp_replace(hp, ':80$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(hp, ':443$', '')
      |           ELSE hp END,
      |      '^www\.', '') AS host
      |  FROM parts
      |), hostb AS (
      |  SELECT *, regexp_replace(regexp_replace(regexp_replace(host,
      |    '^[^/@]*@', ''), ':[0-9]+$', ''), '\.$', '') AS bh
      |  FROM hostp
      |), pieces AS (
      |  -- domain over the BARE host (userinfo / any port / FQDN dot
      |  -- stripped), mirroring Web.bareHost; no-op on this fixture but
      |  -- kept character-identical with the Scala chain
      |  SELECT doc_id, url, scheme, host,
      |    CASE WHEN regexp_matches(bh, '[^.]+\.[^.]+$')
      |         THEN regexp_extract(bh, '([^.]+\.[^.]+)$', 1)
      |         ELSE bh END AS domain,
      |    CASE WHEN regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'), '/+$', '') = ''
      |         THEN '/'
      |         ELSE regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'), '/+$', '') END AS path,
      |    -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
      |    -- array_join of an empty array is '' — align on ''
      |    COALESCE(array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[A-Za-z]*|fbclid|gclid|ref)='))),
      |      '&'), '') AS q
      |  FROM hostb
      |), canon AS (
      |  SELECT doc_id, url, host, domain,
      |    CASE WHEN host = '' THEN NULL
      |         ELSE scheme || '://' || host || path ||
      |              CASE WHEN q = '' THEN '' ELSE '?' || q END
      |    END AS url_canon
      |  FROM pieces
      |)""".stripMargin

  /** q_msprt oracle fragments: the pooled-variance / z expression trees
    * inlined everywhere `v`/`z` appear (Spark's Column reuse duplicates
    * the tree per reference — inlining reproduces it exactly).
    */
  private val msprtP = "((s_t + s_c)::DOUBLE / (n_t + n_c)::DOUBLE)"
  private val msprtV =
    s"($msprtP * (1.0 - $msprtP) * (1.0 / n_t::DOUBLE + 1.0 / n_c::DOUBLE))"
  private val msprtZ =
    "(s_t::DOUBLE / n_t::DOUBLE - s_c::DOUBLE / n_c::DOUBLE)"
  private val msprtLl =
    s"0.5 * ln($msprtV / ($msprtV + 0.01)) + " +
      s"$msprtZ * $msprtZ * 0.01 / (2.0 * $msprtV * ($msprtV + 0.01))"

  /** Shared q_perm_test / q_fdr_bh prefix: the md5-derandomized
    * permutation test as CTEs ending in `pt` =
    * (stratum, n_units, n_treat, n_control, diff, n_exceed, p) —
    * exceedance is a HUGEINT cross-multiplied comparison, p an exact
    * rational (reps = 99 → /100).
    */
  private val permTestSql =
    """WITH per AS (
      |  SELECT event_type AS stratum, user_id AS u,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), pa AS (
      |  SELECT *, CASE WHEN ('0x' || substr(md5(u::VARCHAR), 1, 8))::BIGINT % 2 = 1
      |                 THEN 1 ELSE 0 END AS arm
      |  FROM per
      |), obs AS (
      |  SELECT stratum, COUNT(*)::BIGINT AS n_units,
      |    CAST(SUM(arm) AS BIGINT) AS n_treat,
      |    CAST(SUM(1 - arm) AS BIGINT) AS n_control,
      |    CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS s0
      |  FROM pa GROUP BY 1
      |), sl AS (
      |  SELECT p.stratum, p.x, br.range AS b,
      |    CASE WHEN ('0x' || substr(md5(p.u::VARCHAR || '_' || br.range::VARCHAR), 1, 8))::BIGINT % 2 = 1
      |         THEN 1 ELSE 0 END AS ab
      |  FROM per p, range(99) br
      |), reps AS (
      |  SELECT stratum, b,
      |    CAST(SUM(ab) AS BIGINT) AS n1b, CAST(SUM(1 - ab) AS BIGINT) AS n0b,
      |    CAST(SUM(CASE WHEN ab = 1 THEN x ELSE 0 END) AS BIGINT) AS s1b,
      |    CAST(SUM(CASE WHEN ab = 0 THEN x ELSE 0 END) AS BIGINT) AS s0b
      |  FROM sl GROUP BY 1, 2
      |), ex AS (
      |  SELECT r.stratum,
      |    CAST(SUM(CASE WHEN r.n1b = 0 OR r.n0b = 0 THEN 1
      |      WHEN abs(r.s1b::HUGEINT * r.n0b - r.s0b::HUGEINT * r.n1b)
      |             * (o.n_treat::HUGEINT * o.n_control)
      |        >= abs(o.s1::HUGEINT * o.n_control - o.s0::HUGEINT * o.n_treat)
      |             * (r.n1b::HUGEINT * r.n0b)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
      |  FROM reps r JOIN obs o USING (stratum) GROUP BY 1
      |), pt AS (
      |  SELECT o.stratum, o.n_units, o.n_treat, o.n_control,
      |    CASE WHEN o.n_treat = 0 OR o.n_control = 0 THEN NULL
      |         ELSE ROUND(o.s1::DOUBLE / o.n_treat::DOUBLE
      |                  - o.s0::DOUBLE / o.n_control::DOUBLE, 6) END AS diff,
      |    e.n_exceed,
      |    CASE WHEN o.n_treat = 0 OR o.n_control = 0 THEN NULL
      |         ELSE (e.n_exceed + 1)::DOUBLE / 100.0 END AS p
      |  FROM obs o JOIN ex e USING (stratum)
      |)""".stripMargin

  /** DuckDB cosine similarity matching `Similarity.cosine` exactly:
    * double-cast elements, in-order left-fold sums.
    */
  private def duckCosine(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))) *
       |     sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin

  private val boilerplateSql =
      """WITH l AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, ' the ')) AS line,
        |         unnest(generate_series(1, len(string_split(text, ' the ')))) AS pos
        |  FROM documents WHERE text IS NOT NULL
        |), f AS (
        |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
        |  GROUP BY line HAVING COUNT(*) >= 3
        |), j AS (
        |  SELECT l.doc_id, l.pos, l.line, (f.line IS NOT NULL) AS b
        |  FROM l LEFT JOIN f ON l.line = f.line
        |), a AS (
        |  SELECT doc_id, COUNT(*) AS n_lines,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    coalesce(string_agg(CASE WHEN NOT b THEN line END,
        |                        ' the ' ORDER BY pos), '') AS clean
        |  FROM j GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NOT NULL THEN coalesce(a.clean, '') END AS text_clean,
        |  a.n_lines, a.n_removed
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin

  private val filterVerdictCtes =
    s"""$docToks, dq AS (
         |  SELECT doc_id, text,
         |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS utoks
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), m AS (
         |  SELECT doc_id,
         |    len(utoks) AS n_tokens,
         |    greatest(len(utoks), 1) AS safe,
         |    len(list_filter(utoks, t -> list_contains(
         |      ['the','a','an','and','or','of','to','in','is','it'], t))) AS stop,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS nospace
         |  FROM dq
         |), qs AS (
         |  SELECT doc_id, n_tokens,
         |    ROUND(stop / safe, 6) AS stopr,
         |    ROUND(nospace / safe, 6) AS atl
         |  FROM m
         |), basel AS (
         |  SELECT doc_id, toks, len(toks) AS n FROM d
         |  WHERE doc_id IS NOT NULL AND len(toks) > 0
         |), uni AS (
         |  SELECT doc_id, n, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, n, unnest(toks) AS term FROM basel)
         |  GROUP BY 1, 2, 3
         |), us AS (
         |  SELECT doc_id, n, MAX(tf) AS max_uni, COUNT(*) AS n_distinct
         |  FROM uni GROUP BY 1, 2
         |), rs AS (
         |  SELECT doc_id,
         |    ROUND(n_distinct / n, 6) AS ttr,
         |    ROUND(max_uni / n, 6) AS uni_share
         |  FROM us
         |), v AS (
         |  SELECT qs.doc_id, qs.n_tokens,
         |    concat_ws(',',
         |      CASE WHEN qs.n_tokens < 20 THEN 'too_short' END,
         |      CASE WHEN qs.n_tokens > 90 THEN 'too_long' END,
         |      CASE WHEN qs.stopr < 0.01 THEN 'low_stopword' END,
         |      CASE WHEN qs.atl < 3.0 OR qs.atl > 5.0 THEN 'token_len' END,
         |      CASE WHEN rs.ttr < 0.35 THEN 'repetitive' END,
         |      CASE WHEN rs.uni_share > 0.12 THEN 'dominant_unigram' END) AS reasons
         |  FROM qs LEFT JOIN rs ON qs.doc_id = rs.doc_id
         |)
|""".stripMargin

  /** SimHash-pair oracle, shared by q_simhash_pairs and the
    * q_dedup_agreement composition. */
  private val simhashPairsSql =
    s"""$docToks, hs AS (
         |  SELECT doc_id, list_transform(toks, t -> struct_pack(
         |    hi := ('0x' || substr(md5(t), 1, 8))::BIGINT,
         |    lo := ('0x' || substr(md5(t), 9, 8))::BIGINT)) AS hh
         |  FROM d
         |), sh AS (
         |  SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
         |    CASE WHEN list_sum(list_transform(hh, h ->
         |      CASE WHEN (CASE WHEN j < 32 THEN (h.lo >> j) ELSE (h.hi >> (j - 32)) END) & 1 = 1
         |           THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), '')::BIT AS simhash
         |  FROM hs
         |), p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |)
         |SELECT a_id, b_id, hamming FROM p WHERE hamming <= 3""".stripMargin

  private val dedupPairsSql =
    s"""$docToks, s AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM d WHERE len(toks) >= 3
       |), p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |)
       |SELECT a_id, b_id, ROUND(ni / (na + nb - ni), 6) AS jaccard
       |FROM p WHERE ni / (na + nb - ni) >= 0.5""".stripMargin

  /** Near-dup connected-components CTE chain (3-gram Jaccard ≥ 0.3
    * pairs → undirected closure), shared by q_dedup_clusters and
    * q_dedup_cluster_sizes so the two twins can never drift. Ends
    * with CTE `clus` providing (doc_id, cluster_id).
    */
  private val dedupClustersChain =
    s"""${docToks.replaceFirst("WITH", "WITH RECURSIVE")}, s AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM d WHERE len(toks) >= 3
       |), pq AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |), pr AS (
       |  SELECT a_id, b_id FROM pq WHERE ni / (na + nb - ni) >= 0.3
       |), edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pr
       |  UNION
       |  SELECT b_id, a_id FROM pr
       |), reach(node, root) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
       |), clus AS (
       |  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1
       |)""".stripMargin

  /** Winnowing fingerprint CTE chain (n = 3, w = 4), shared by
    * q_winnow and q_winnow_pairs: POSITIONAL 3-gram md5-prefix hashes
    * (same 15-hex→BIGINT idiom as the Spark side), per-window minima
    * via a 4-row window frame, docs with fewer than 4 grams degrade to
    * one global minimum. Ends with CTE `wfp` providing (doc_id, fp).
    */
  private val winnowSql =
    s"""$docToks, base AS (
       |  SELECT doc_id, toks, len(toks) AS nt FROM d
       |  WHERE doc_id IS NOT NULL AND len(toks) >= 3
       |), g AS (
       |  SELECT doc_id, i,
       |    ('0x' || substr(md5(array_to_string(toks[i:i + 2], ' ')), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, toks, unnest(range(1, nt - 1)) AS i FROM base)
       |), wmin AS (
       |  SELECT doc_id, i,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM g
       |), wfp AS (
       |  SELECT DISTINCT doc_id, fp FROM wmin WHERE ng >= 4 AND i <= ng - 3
       |  UNION
       |  SELECT doc_id, min(h) AS fp FROM g
       |  GROUP BY doc_id HAVING count(*) < 4
       |)""".stripMargin

  /** Shared by q_containment and its df-bounded variant — both plans
    * must hash-match the same exact oracle.
    */
  private val containmentSql =
    s"""$docToks, s AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM d WHERE len(toks) >= 3
       |), p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         len(list_intersect(a.sh, b.sh))::BIGINT AS ni,
       |         len(a.sh)::BIGINT AS na, len(b.sh)::BIGINT AS nb
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |), dir AS (
       |  SELECT a_id AS src_id, b_id AS dst_id, (ni * 1000000) // na AS c FROM p
       |  UNION ALL
       |  SELECT b_id, a_id, (ni * 1000000) // nb FROM p
       |)
       |SELECT src_id, dst_id, CAST(c AS BIGINT) AS containment_ppm
       |FROM dir WHERE c >= 800000""".stripMargin

  /** Shared by q_bitext_mine and its exhaustive-probe IVF twin. */
  private lazy val bitextMineSql =
      s"""WITH a AS (SELECT vec_id AS left_id, embedding AS av FROM embeddings WHERE vec_id % 2 = 0),
         |b AS (SELECT vec_id AS right_id, embedding AS bv FROM embeddings WHERE vec_id % 2 = 1),
         |s AS (SELECT left_id, right_id, ${duckCosine("av", "bv")} AS sim FROM a, b),
         |r AS (SELECT left_id, right_id, sim,
         |  ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY sim DESC, right_id) AS rnf,
         |  ROW_NUMBER() OVER (PARTITION BY right_id ORDER BY sim DESC, left_id) AS rnb
         |  FROM s),
         |dx AS (SELECT left_id, list_sum(list_sort(list(sim))) / COUNT(*) AS dxv
         |       FROM r WHERE rnf <= 4 GROUP BY 1),
         |dy AS (SELECT right_id, list_sum(list_sort(list(sim))) / COUNT(*) AS dyv
         |       FROM r WHERE rnb <= 4 GROUP BY 1),
         |m AS (
         |  SELECT r.left_id, r.right_id, r.sim, r.rnf, r.rnb,
         |    CASE WHEN dx.dxv + dy.dyv > 0
         |         THEN CAST(FLOOR(2000000.0 * r.sim / (dx.dxv + dy.dyv)) AS BIGINT)
         |         ELSE -1000000000 END AS margin_ppm
         |  FROM r JOIN dx USING (left_id) JOIN dy USING (right_id)
         |  WHERE r.rnf <= 4 OR r.rnb <= 4
         |),
         |fw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY margin_ppm DESC, right_id) AS bf
         |       FROM m WHERE rnf <= 4),
         |bw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY right_id ORDER BY margin_ppm DESC, left_id) AS bb
         |       FROM m WHERE rnb <= 4)
         |SELECT fw.left_id, fw.right_id, ROUND(fw.sim, 6) AS sim, fw.margin_ppm
         |FROM fw JOIN bw ON fw.left_id = bw.left_id AND fw.right_id = bw.right_id
         |WHERE fw.bf = 1 AND bw.bb = 1 AND fw.margin_ppm >= 1060000""".stripMargin

  /** Shared by q_knn_label_noise and its exhaustive-probe IVF twin. */
  private lazy val labelNoiseSql =
      s"""WITH v AS (
         |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label
         |  FROM embeddings
         |  WHERE vec_id IS NOT NULL AND label IS NOT NULL AND embedding IS NOT NULL
         |), p AS (
         |  SELECT q.vec_id, q.label, c.label AS nl, c.vec_id AS nid,
         |         ${duckCosine("q.embedding", "c.embedding")} AS sim
         |  FROM v q, v c WHERE q.vec_id <> c.vec_id
         |), r AS (
         |  SELECT vec_id, label, nl,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nid) AS rn
         |  FROM p
         |)
         |SELECT vec_id, label,
         |  CAST(SUM(CASE WHEN nl = label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST(COUNT(*) AS BIGINT) AS n_neighbors,
         |  CAST((SUM(CASE WHEN nl = label THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS agreement_ppm,
         |  (SUM(CASE WHEN nl = label THEN 1 ELSE 0 END) * 1000000) // COUNT(*) < 500000 AS is_suspect
         |FROM r WHERE rn <= 10 GROUP BY 1, 2""".stripMargin

  /** Shared by q_bigram_lm and q_ppl_select (which quantile-buckets the
    * same score) — both must hash-match the one LM definition.
    */
  private val bigramLmSql =
    s"""$docToks, base AS (
       |  SELECT doc_id, toks FROM d WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), slots AS (
       |  SELECT doc_id, s.w1 AS w1, s.bg AS bg FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |      i -> struct_pack(w1 := toks[i], bg := toks[i] || ' ' || toks[i+1]))) AS s
       |    FROM base WHERE len(toks) >= 2)
       |), docbg AS (
       |  SELECT doc_id, w1, bg, COUNT(*)::BIGINT AS tf FROM slots GROUP BY 1, 2, 3
       |), bgcnt AS (
       |  SELECT bg, COUNT(*)::BIGINT AS c12 FROM slots GROUP BY 1
       |), hist AS (
       |  SELECT w1, COUNT(*)::BIGINT AS c1 FROM slots GROUP BY 1
       |), vv AS (
       |  SELECT COUNT(DISTINCT t)::BIGINT AS v
       |  FROM (SELECT unnest(toks) AS t FROM base)
       |), p AS (
       |  SELECT doc_id, any_value(v) AS v,
       |    list_sort(list(struct_pack(bg := db.bg, tf := db.tf,
       |                               c12 := c12, c1 := c1))) AS arr
       |  FROM docbg db JOIN bgcnt USING (bg) JOIN hist USING (w1) CROSS JOIN vv
       |  GROUP BY 1
       |)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT) AS n_bigrams,
       |  ROUND(list_sum(list_transform(arr, s ->
       |          s.tf::DOUBLE * ln((s.c12::DOUBLE + 1.0) / (s.c1::DOUBLE + v::DOUBLE))))
       |        / CAST(list_sum(list_transform(arr, s -> s.tf)) AS BIGINT), 6)
       |    AS avg_logprob
       |FROM p""".stripMargin

  /** Shared by q_bleu / q_bleu_corpus / q_rouge: the evalPairs fixture
    * (mirrors `evalPairs` verbatim; Spark `ref[i-1]` 0-based ==
    * DuckDB `ref[i]` 1-based) plus the clipped n-gram overlap wide
    * frame (m1..m4, cand-slot totals t1..t4).
    */
  private val evalOverlapSql =
    """WITH d0 AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ref
      |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |), base AS (
      |  SELECT doc_id, ref,
      |    list_filter(list_transform(range(1, len(ref) + 1),
      |      i -> CASE WHEN (i - 1) % 7 = 3 THEN NULL
      |                WHEN (i - 1) % 11 = 5 THEN reverse(ref[i])
      |                ELSE ref[i] END),
      |      x -> x IS NOT NULL) AS cand
      |  FROM d0 WHERE len(ref) >= 8
      |), ns AS (SELECT unnest([1, 2, 3, 4]) AS n
      |), cg AS (
      |  SELECT doc_id, n, gram, COUNT(*)::BIGINT AS cf FROM (
      |    SELECT doc_id, n, unnest(list_transform(range(1, len(cand) - n + 2),
      |      i -> array_to_string(cand[i:i+n-1], ' '))) AS gram
      |    FROM base, ns)
      |  GROUP BY 1, 2, 3
      |), rg AS (
      |  SELECT doc_id, n, gram, COUNT(*)::BIGINT AS rf FROM (
      |    SELECT doc_id, n, unnest(list_transform(range(1, len(ref) - n + 2),
      |      i -> array_to_string(ref[i:i+n-1], ' '))) AS gram
      |    FROM base, ns)
      |  GROUP BY 1, 2, 3
      |), mm AS (
      |  SELECT cg.doc_id, cg.n, CAST(SUM(least(cf, rf)) AS BIGINT) AS m
      |  FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.gram = rg.gram
      |  GROUP BY 1, 2
      |), wide0 AS (
      |  SELECT b.doc_id, len(cand)::BIGINT AS len_cand, len(ref)::BIGINT AS len_ref,
      |    CAST(COALESCE(MAX(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1,
      |    CAST(COALESCE(MAX(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2,
      |    CAST(COALESCE(MAX(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3,
      |    CAST(COALESCE(MAX(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4
      |  FROM base b LEFT JOIN mm ON b.doc_id = mm.doc_id
      |  GROUP BY 1, 2, 3
      |), wide AS (
      |  SELECT *,
      |    greatest(len_cand - 0, 0) AS t1, greatest(len_cand - 1, 0) AS t2,
      |    greatest(len_cand - 2, 0) AS t3, greatest(len_cand - 3, 0) AS t4,
      |    greatest(len_ref - 0, 0) AS tr1, greatest(len_ref - 1, 0) AS tr2
      |  FROM wide0
      |)""".stripMargin

  /** One HLL leg of the q_hll oracle (mirrors `Sketch.hllRegisters` +
    * `hllEstimate` at b=8: 48-bit md5 hash, top 8 bits bucket, ρ via
    * exact bin-length, bucket-sorted 2^−r fold, harmonic/linear-
    * counting switch at E ≤ 2.5m).
    */
  private def hllLegSql(key: String): String =
    s"""SELECT x.event_type, '$key' AS key_kind, n_exact, n_used,
       |  ROUND(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / (v::DOUBLE + sm) <= 640.0 AND v > 0
       |    THEN 256.0 * ln(256.0 / v::DOUBLE)
       |    ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / (v::DOUBLE + sm) END, 6) AS est
       |FROM (
       |  SELECT event_type, COUNT(DISTINCT $key)::BIGINT AS n_exact
       |  FROM events WHERE event_type IS NOT NULL AND $key IS NOT NULL GROUP BY 1
       |) x JOIN (
       |  SELECT event_type, len(arr)::BIGINT AS n_used, (256 - len(arr))::BIGINT AS v,
       |    list_sum(list_transform(arr, s -> 1.0 / (1::BIGINT << s.r)::DOUBLE)) AS sm
       |  FROM (
       |    SELECT event_type, list_sort(list(struct_pack(bucket := bucket, r := r))) AS arr
       |    FROM (
       |      SELECT event_type, h >> 40 AS bucket,
       |        MAX(41 - CASE WHEN h % 1099511627776 = 0 THEN 0
       |                      ELSE length(bin(h % 1099511627776)) END)::BIGINT AS r
       |      FROM (SELECT event_type, ('0x'||substr(md5($key::VARCHAR),1,12))::BIGINT AS h
       |            FROM events WHERE event_type IS NOT NULL AND $key IS NOT NULL)
       |      GROUP BY 1, 2)
       |    GROUP BY 1)
       |) g ON x.event_type = g.event_type""".stripMargin

  /** One power-iteration round of the q_pca_top / q_abtt oracle
    * (mirrors `Pca.topDirection`: row dot in dim order, two-level
    * vec-then-cell ordered per-dim fold, fold-tree norm).
    */
  private def pcaIterSql(k: Int): String = {
    val prev = if (k == 1) "v0" else s"v${k - 1}"
    s"""s$k AS (SELECT vec_id, cv, list_sum(list_transform(cv, (x, i) -> x * vl[i])) AS s
       |  FROM c CROSS JOIN $prev),
       |ws$k AS (SELECT vec_id, u.j AS j, u.t AS t FROM (
       |   SELECT vec_id, unnest(list_transform(cv, (x, i) -> struct_pack(j := i - 1, t := s * x))) AS u FROM s$k)),
       |wc$k AS (SELECT j, vec_id % 256 AS cell,
       |   list_sum(list_transform(list_sort(list(struct_pack(vec_id := vec_id, t := t))), e2 -> e2.t)) AS p
       |   FROM ws$k GROUP BY 1, 2),
       |w$k AS (SELECT j, list_sum(list_transform(list_sort(list(struct_pack(cell := cell, p := p))), s2 -> s2.p)) AS w
       |   FROM wc$k GROUP BY 1),
       |wl$k AS (SELECT list(w ORDER BY j) AS wl FROM w$k),
       |v$k AS (SELECT list_transform(wl, x -> x / sqrt(list_sum(list_transform(wl, y -> y * y)))) AS vl FROM wl$k)""".stripMargin
  }

  /** Shared q_pca_top / q_abtt prefix: centered matrix + 3 unrolled
    * power-iteration rounds + the sign-fixed final direction `vf`.
    */
  private lazy val pcaSqlPrefix: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |nn AS (SELECT COUNT(*)::BIGINT AS n FROM e),
       |slots AS (
       |  SELECT vec_id, u.j AS j, u.x AS x FROM (
       |    SELECT vec_id, unnest(list_transform(embedding, (x, i) -> struct_pack(j := i - 1, x := x))) AS u FROM e)
       |),
       |mc AS (SELECT j, vec_id % 256 AS cell,
       |  list_sum(list_transform(list_sort(list(struct_pack(vec_id := vec_id, t := x::DOUBLE))), s -> s.t)) AS p
       |  FROM slots GROUP BY 1, 2),
       |mean AS (SELECT j,
       |  list_sum(list_transform(list_sort(list(struct_pack(cell := cell, p := p))), s -> s.p)) / (SELECT n::DOUBLE FROM nn) AS mu
       |  FROM mc GROUP BY 1),
       |ml AS (SELECT list(mu ORDER BY j) AS ml FROM mean),
       |c AS (SELECT vec_id, list_transform(embedding, (x, i) -> x::DOUBLE - ml[i]) AS cv FROM e CROSS JOIN ml),
       |v0 AS (SELECT list_transform(range(1, len(ml) + 1), i -> 0.125) AS vl FROM ml),
       |${pcaIterSql(1)},
       |${pcaIterSql(2)},
       |${pcaIterSql(3)},
       |vf AS (SELECT CASE WHEN vl[1] < 0 THEN list_transform(vl, x -> -x) ELSE vl END AS vl FROM v3)""".stripMargin

  private val logBleuSqlExpr =
    """least(0.0, 1.0 - len_ref::DOUBLE / len_cand::DOUBLE) +
      |    0.25 * (ln((m1::DOUBLE + 1.0) / (t1::DOUBLE + 1.0))
      |          + ln((m2::DOUBLE + 1.0) / (t2::DOUBLE + 1.0))
      |          + ln((m3::DOUBLE + 1.0) / (t3::DOUBLE + 1.0))
      |          + ln((m4::DOUBLE + 1.0) / (t4::DOUBLE + 1.0)))""".stripMargin

  private val knnSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("qv", "cv")} AS sim
       |  FROM q, c WHERE query_id <> neighbor_id
       |), r AS (
       |  SELECT query_id, neighbor_id, sim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rn
       |  FROM p
       |)
       |SELECT query_id, neighbor_id, rn, ROUND(sim, 6) AS sim FROM r WHERE rn <= 10""".stripMargin

  /** Shared by kpi_trending and its de-skewed bucketed variant — both
    * plans must hash-match the same oracle.
    */
  private lazy val trendingOracleSql: String =
    s"""$oracleBase, tw AS (
       |  SELECT track_id, track_genre, duration_ms, user_id,
       |    COUNT(track_id) OVER (
       |      PARTITION BY track_id
       |      ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT) DESC
       |      RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS plays_in_window
       |  FROM enriched
       |)
       |SELECT track_id, track_genre,
       |  MAX(plays_in_window) AS plays_last_24h,
       |  (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes,
       |  COUNT(DISTINCT user_id) AS unique_listeners,
       |  'trending' AS kpi_type
       |FROM tw GROUP BY 1, 2""".stripMargin
}
