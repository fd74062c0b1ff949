package graft.validate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.io.{CsvSource, ParquetIO, PathUtil}
import graft.model.Schemas

/** The validation/ingest job — the reference's most-executed code path
  * (`scripts/validate_data.py`): permissive CSV scan, corrupt-record
  * quarantine, column-presence validation, cast + null-reject cleaning,
  * multi-file union, and reference-data dispatch.
  *
  * Scale notes: each input file is an independent scan task set (no
  * shuffle anywhere in this job — union is a plan-level concat, cleaning
  * is per-row). The only materialization is the cached single parse pass
  * per file that serves both the quarantine and the clean branch, instead
  * of the reference's double read+count.
  */
object Validator {

  /** P7 — column-presence assertion (`scripts/validate_data.py:58-70`). */
  def validateColumns(df: DataFrame, required: Set[String], context: String): Unit =
    validateColumnSet(df.columns.toSet, required, context)

  def validateColumnSet(actual: Set[String], required: Set[String], context: String): Unit = {
    val missing = required -- actual
    require(missing.isEmpty,
      s"Missing required columns in $context: ${missing.toSeq.sorted.mkString(", ")}; " +
        s"available: ${actual.toSeq.sorted.mkString(", ")}")
  }

  /** Schema-drift report: the incoming batch's schema diffed against the
    * contract. One row per drifted column — `missing` (contract column
    * absent), `added` (new column the contract doesn't know), or
    * `type_changed` — plus per-row expected/actual type names. Pure
    * metadata (no data pass); the caller decides whether `added` is
    * benign (forward-compatible readers) and whether `missing`/
    * `type_changed` should fail the batch. The upgrade path from P7's
    * all-or-nothing `require` when the upstream schema is not ours to
    * freeze.
    */
  final case class ColumnDrift(column: String, status: String,
                               expected: String, actual: String)

  def schemaDrift(df: DataFrame,
                  expected: org.apache.spark.sql.types.StructType): Seq[ColumnDrift] = {
    val actual = df.schema.map(f => f.name -> f.dataType).toMap
    val want = expected.map(f => f.name -> f.dataType).toMap
    val missing = expected.filterNot(f => actual.contains(f.name))
      .map(f => ColumnDrift(f.name, "missing", f.dataType.simpleString, ""))
    val added = df.schema.filterNot(f => want.contains(f.name))
      .map(f => ColumnDrift(f.name, "added", "", f.dataType.simpleString))
    val changed = expected.collect {
      case f if actual.get(f.name).exists(_ != f.dataType) =>
        ColumnDrift(f.name, "type_changed", f.dataType.simpleString,
          actual(f.name).simpleString)
    }
    (missing ++ changed ++ added).sortBy(d => (d.status, d.column))
  }

  /** Gate a batch on its drift report: `missing`/`type_changed` always
    * fail; `added` fails only when `allowAdded = false`.
    */
  def requireCompatible(df: DataFrame,
                        expected: org.apache.spark.sql.types.StructType,
                        context: String, allowAdded: Boolean = true): Unit = {
    val drift = schemaDrift(df, expected)
    val fatal = drift.filter(d =>
      d.status == "missing" || d.status == "type_changed" ||
        (d.status == "added" && !allowAdded))
    require(fatal.isEmpty,
      s"Schema drift in $context: " + fatal.map(d =>
        s"${d.column} ${d.status}" +
          (if (d.expected.nonEmpty || d.actual.nonEmpty)
            s" (expected ${d.expected}, got ${d.actual})" else "")).mkString("; "))
  }

  /** P3+P5 — cast projection + any-null row rejection
    * (`scripts/validate_data.py:135-139`).
    */
  def cleanStreams(df: DataFrame): DataFrame =
    df.select(
      col("user_id").cast("string"),
      col("track_id").cast("string"),
      col("listen_time").cast("timestamp"))
      .na.drop()

  /** S1+S7+P7+P3+P5+U1 — the full streams ingest
    * (`scripts/validate_data.py:91-158`): per file, one cached permissive
    * parse serving quarantine (JSON append) and the clean branch
    * (validate, cast, na.drop); then a union-all fold across files.
    * `paths` elements may be comma-separated lists.
    */
  def processStreams(spark: SparkSession, paths: Seq[String],
                     quarantinePath: Option[String] = None): DataFrame =
    ingestStreams(spark, paths, quarantinePath, bulk = false)._1

  /** Scale path for [[processStreams]]: ONE permissive scan over the
    * whole file list instead of a per-file driver loop — at 10^4+ input
    * files the loop means 10^4 cached frames and job submissions, while
    * a multi-path scan is a single task set. Quarantined rows keep their
    * provenance via `input_file_name()`. Row-identical to the per-file
    * fold (same parse, same cleaning); the per-file variant remains for
    * reference-parity quarantine granularity.
    */
  def processStreamsBulk(spark: SparkSession, paths: Seq[String],
                         quarantinePath: Option[String] = None): DataFrame =
    ingestStreams(spark, paths, quarantinePath, bulk = true)._1

  /** [[processStreams]] (or, with `bulk`, [[processStreamsBulk]]) that
    * also returns the cached parses behind its result. The quarantine
    * writes have run when it returns; once the result is consumed too,
    * the caller should `unpersist` the parses, which a long-lived session
    * would otherwise keep, one per file per call.
    */
  def ingestStreams(spark: SparkSession, paths: Seq[String],
                    quarantinePath: Option[String],
                    bulk: Boolean): (DataFrame, Seq[DataFrame]) = {
    val files = paths.flatMap(PathUtil.splitPaths)
    require(files.nonEmpty, "no stream files given")
    val parsed = (if (bulk) Seq(files) else files.map(Seq(_))).map { batch =>
      val (raw, clean, corrupt) =
        if (bulk) bulkSplitCached(spark, batch)
        else CsvSource.readSplitCached(spark, Schemas.streams, batch)
      quarantinePath.foreach(ParquetIO.quarantineJson(corrupt, _))
      validateColumns(clean, Schemas.requiredStreamsColumns,
        if (bulk) s"streams files: ${batch.size}" else s"streams file: ${batch.head}")
      (cleanStreams(clean), raw)
    }
    (parsed.map(_._1).reduce(_ unionAll _), parsed.map(_._2))
  }

  /** The bulk path's cached parse, with each row's `_source_file` taken
    * inside the parse: over a cached relation `input_file_name()` reads
    * `""`, so it must be evaluated by the scan, before `.cache()`. The
    * clean side drops the column again (the per-file fold has none).
    */
  private def bulkSplitCached(spark: SparkSession,
                              paths: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val raw = CsvSource.readPermissive(spark, Schemas.streams, paths)
      .withColumn("_source_file", input_file_name()).cache()
    (raw, CsvSource.cleanRows(raw).drop("_source_file"),
      raw.filter(col(CsvSource.CorruptCol).isNotNull))
  }

  /** Idempotency guard for the append-mode staging boundary (SURVEY
    * §7.4.6): the reference appends streams per run and relies on an
    * external ledger to avoid double-counting; re-staging the same file
    * would silently double every KPI. Exact-row dedup on the full
    * (user_id, track_id, listen_time) key makes the staged history
    * re-run-safe — at scale this is one hash aggregation, and with the
    * staging table bucketed by `user_id` it doesn't even shuffle.
    */
  def dedupStreams(staged: DataFrame): DataFrame =
    staged.dropDuplicates(Seq("user_id", "track_id", "listen_time"))

  /** Reference-data ingest with content-based dispatch
    * (`scripts/validate_data.py:219-249`): a frame containing `track_id`
    * is songs, else one containing `user_id` is users. Schemas are
    * declared (SURVEY §1.3); pass `inferSchema=true` for the reference's
    * inference-compatibility mode. The declared-schema result is served
    * from a cached parse, so it may be counted and reused.
    */
  def processReferenceData(spark: SparkSession, path: String,
                           inferSchema: Boolean = false): DataFrame =
    referenceData(spark, path, inferSchema, cached = true)

  /** Stage a reference CSV: the same header check and dispatch as
    * [[processReferenceData]], written as parquet (overwrite) to
    * `stagedPath` straight from the permissive parse. Nothing is cached:
    * the write is the parse's only consumer, and the pipeline reads the
    * staged parquet back.
    */
  def stageReferenceData(spark: SparkSession, path: String, stagedPath: String): Unit =
    ParquetIO.writeOverwrite(referenceData(spark, path, inferSchema = false, cached = false),
      stagedPath)

  private def referenceData(spark: SparkSession, path: String, inferSchema: Boolean,
                            cached: Boolean): DataFrame = {
    val raw =
      if (inferSchema) CsvSource.readInferred(spark, Seq(path))
      else {
        // Probe the header to pick the declared schema, mirroring the
        // reference's content dispatch without paying an inference pass
        // (header-only read: no inferSchema, so Spark reads one line).
        // The presence check runs against the FILE's header — a declared
        // read schema would mask missing columns with all-null fields.
        val header = spark.read.option("header", "true")
          .csv(PathUtil.cleanPath(path)).schema.fieldNames.toSet
        val (schema, required, ctx) =
          if (header.contains("track_id")) (Schemas.songs, Schemas.requiredSongsColumns, "songs")
          else (Schemas.users, Schemas.requiredUsersColumns, "users")
        validateColumnSet(header, required, ctx)
        if (cached) CsvSource.readSplit(spark, schema, Seq(path))._1
        else CsvSource.cleanRows(CsvSource.readPermissive(spark, schema, Seq(path)))
      }
    if (raw.columns.contains("track_id")) {
      validateColumns(raw, Schemas.requiredSongsColumns, "songs")
      raw.select(Schemas.songs.fieldNames.map(col).toSeq: _*)
    } else {
      validateColumns(raw, Schemas.requiredUsersColumns, "users")
      raw.select(Schemas.users.fieldNames.map(col).toSeq: _*)
    }
  }

  /** Schema-evolution union: fold frames written under DIFFERENT
    * versions of a schema into one, matching columns BY NAME and
    * null-filling columns a version lacks. This is the read-side
    * companion to [[schemaDrift]]: drift detection tells you the
    * landed batches disagree; this is how you still read them as one
    * table (the reference's positional `unionAll` fold,
    * `scripts/validate_data.py:153`, would silently misalign or throw).
    *
    * Column order follows first appearance across `dfs`, so the result
    * schema is stable under append-only evolution. Types for a shared
    * name must already agree (cast upstream — silent coercion here
    * would mask real drift).
    */
  def unionEvolved(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "nothing to union")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
