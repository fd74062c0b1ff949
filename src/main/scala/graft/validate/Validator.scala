package graft.validate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.io.{CsvSource, ParquetIO, PathUtil}
import graft.model.Schemas

/** The validation/ingest job — the reference's most-executed code path
  * (`scripts/validate_data.py`): permissive CSV scan, corrupt-record
  * quarantine, header validation, cast + null-reject cleaning,
  * multi-file union, and reference-data dispatch.
  *
  * Scale notes: the stream files are read by one multi-path scan, a
  * single task set however many files there are, where the reference
  * loops over the files (no shuffle anywhere in this job: cleaning is
  * per-row). The only materialization is that scan's cached parse, which
  * serves both the quarantine and the clean branch ([[splitStreams]]),
  * instead of the reference's double read+count.
  */
object Validator {

  /** P7 — column-presence assertion (`scripts/validate_data.py:58-70`),
    * over a file's header names.
    */
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
    * (`scripts/validate_data.py:91-158`): one permissive scan over every
    * file, split by [[splitStreams]] into the quarantine (JSON append)
    * and the clean rows (cast, na.drop). `paths` elements may be
    * comma-separated lists.
    */
  def processStreams(spark: SparkSession, paths: Seq[String],
                     quarantinePath: Option[String] = None): DataFrame =
    ingestStreams(spark, paths, quarantinePath)._1

  /** [[processStreams]] that also returns the cached parse behind its
    * result. The quarantine write has run when it returns; once the result
    * is consumed too, the caller should `unpersist` the parse, which a
    * long-lived session would otherwise keep, one per call.
    *
    * Each file's header must name the streams columns in order: a
    * renamed, missing or reordered column fails the scan, naming the
    * column and the file (see `CsvSource.options`).
    */
  def ingestStreams(spark: SparkSession, paths: Seq[String],
                    quarantinePath: Option[String]): (DataFrame, DataFrame) = {
    val files = paths.flatMap(PathUtil.splitPaths)
    require(files.nonEmpty, "no stream files given")
    splitStreams(CsvSource.readPermissive(spark, Schemas.streams, files, checkHeader = true),
      quarantinePath)
  }

  /** The one streams split, shared by the batch ingest and each
    * micro-batch of `graft.streaming.IncrementalIngest`: stamp every row
    * of the permissive parse `raw` with its `_source_file`, cache it,
    * append its corrupt rows to the quarantine under `quarantinePath`,
    * and return (the [[cleanStreams]] rows, the cached parse). The caller
    * releases the parse once the clean rows are consumed; if the
    * quarantine write fails it is released here.
    *
    * The stamp is taken before the cache: over a cached relation
    * `input_file_name()` reads `""`, so it must be evaluated by the scan.
    */
  def splitStreams(raw: DataFrame, quarantinePath: Option[String]): (DataFrame, DataFrame) = {
    val parse = raw.withColumn("_source_file", input_file_name()).cache()
    try quarantinePath.foreach(
      ParquetIO.quarantineJson(parse.filter(col(CsvSource.CorruptCol).isNotNull), _))
    catch { case e: Throwable => parse.unpersist(); throw e }
    (cleanStreams(CsvSource.cleanRows(parse)), parse)
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
    * (`scripts/validate_data.py:219-249`): a file whose header names
    * `track_id` is songs, else users. Schemas are declared (SURVEY §1.3),
    * not inferred. The result is served from a cached parse, so it may be
    * counted and reused.
    */
  def processReferenceData(spark: SparkSession, path: String): DataFrame =
    referenceData(spark, path, cached = true)

  /** Stage a reference CSV: the same header check and dispatch as
    * [[processReferenceData]], written as parquet (overwrite) to
    * `stagedPath` straight from the permissive parse. Nothing is cached:
    * the write is the parse's only consumer, and the pipeline reads the
    * staged parquet back.
    */
  def stageReferenceData(spark: SparkSession, path: String, stagedPath: String): Unit =
    ParquetIO.writeOverwrite(referenceData(spark, path, cached = false), stagedPath)

  private def referenceData(spark: SparkSession, path: String, cached: Boolean): DataFrame = {
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
