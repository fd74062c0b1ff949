package graft.validate

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, md5}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.io.{CsvSource, FsUtil, ParquetIO, PathUtil}
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
  * serves both the quarantine and the clean branch, instead of the
  * reference's double read+count.
  *
  * Exactly-once staging: [[stageStreams]] is the one way stream rows reach
  * staging, for `graft.pipeline.PipelineJob` and for each micro-batch of
  * `graft.streaming.IncrementalIngest`. Every staged row keeps the
  * `_source_file` it was parsed from, so the staged rows are their own
  * ledger: a file is recorded as staged by the same write job commit that
  * stages its rows, and a re-run, a retried micro-batch or a file listed
  * twice never stages it again.
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

  /** The column that names, on every staged and quarantined stream row,
    * the file the row was parsed from, as `input_file_name()` reports it
    * (the form [[graft.io.FsUtil.fileUri]] gives).
    */
  val SourceFileCol = "_source_file"

  /** The quarantine's partition column: the MD5 of [[SourceFileCol]]. */
  val SourceKeyCol = "_source_key"

  /** P3+P5 — cast projection + any-null row rejection
    * (`scripts/validate_data.py:135-139`). The `carry` columns ride along
    * unchanged and take no part in the null check.
    */
  def cleanStreams(df: DataFrame, carry: String*): DataFrame =
    df.select(Seq(
      col("user_id").cast("string"),
      col("track_id").cast("string"),
      col("listen_time").cast("timestamp")) ++ carry.map(col): _*)
      .na.drop(Schemas.streams.fieldNames.toSeq)

  /** S1+S7+P7+P3+P5+U1 — the full streams ingest
    * (`scripts/validate_data.py:91-158`): one permissive scan over every
    * file, split into the quarantine (JSON, written before this
    * returns) and the clean rows (cast, na.drop), the three stream columns.
    * `paths` elements may be comma-separated lists. The clean rows are
    * served from the scan's cached parse, which stays cached.
    *
    * Each file's header must name the streams columns in order: a
    * renamed, missing or reordered column fails the scan, naming the
    * column and the file (see `CsvSource.options`).
    */
  def processStreams(spark: SparkSession, paths: Seq[String],
                     quarantinePath: Option[String] = None): DataFrame = {
    val files = paths.flatMap(PathUtil.splitPaths)
    require(files.nonEmpty, "no stream files given")
    val raw = CsvSource.readPermissive(spark, Schemas.streams, files, checkHeader = true)
    cleanStreams(CsvSource.cleanRows(splitStreams(raw, quarantinePath)))
  }

  /** The permissive, header-checked parse ([[processStreams]]'s scan) of
    * the stream files named by `uris`, in the form [[stageStreams]] hands
    * to its `parse`.
    */
  def readStreams(spark: SparkSession, uris: Seq[String]): DataFrame =
    CsvSource.readPermissive(spark, Schemas.streams,
      uris.map(u => new Path(new URI(u)).toString), checkHeader = true)

  /** Stage stream files exactly once: the one staging path, shared by
    * `graft.pipeline.PipelineJob` and each micro-batch of
    * `graft.streaming.IncrementalIngest`. Returns the rows staged.
    *
    * `files` (paths or URIs; elements may be comma-separated lists) are
    * normalized with [[graft.io.FsUtil.fileUri]], so one file listed
    * twice, or spelled two ways, counts once. Every file that already
    * names staged rows under `stagedPath` is dropped before parsing; the
    * rest go to `parse`, which returns their permissive parse. Its rows
    * are stamped with [[SourceFileCol]], corrupt rows are written to the
    * quarantine under `quarantinePath`, and the clean rows are appended to
    * `stagedPath` with the stamp. The staged rows are thus the ledger: one
    * write job commits a file's rows and its "staged" mark together.
    *
    * When every file is already staged, nothing is parsed and 0 is
    * returned. The check reads only the stamps of staged rows from the
    * given files (an `IN` filter pushed to the parquet scan, with the
    * staged schema declared, so no footer inference); with no staged
    * history it is skipped.
    */
  def stageStreams(spark: SparkSession, files: Seq[String], stagedPath: String,
                   quarantinePath: Option[String])(parse: Seq[String] => DataFrame): Long = {
    val uris = files.flatMap(PathUtil.splitPaths).map(FsUtil.fileUri(spark, _)).distinct
    require(uris.nonEmpty, "no stream files given")
    val staged = stagedFiles(spark, stagedPath, uris)
    val fresh = uris.filterNot(staged)
    if (fresh.isEmpty) 0L
    else {
      val cached = splitStreams(parse(fresh), quarantinePath)
      val rows = new Observation("staged_streams")
      try ParquetIO.writeAppend(
        cleanStreams(CsvSource.cleanRows(cached), SourceFileCol).observe(rows, count(lit(1)).as("rows")),
        stagedPath)
      finally cached.unpersist()
      rows.get("rows").asInstanceOf[Long]
    }
  }

  /** The schema of staged stream rows. */
  private val StagedStreams: StructType =
    StructType(Schemas.streams.fields :+ StructField(SourceFileCol, StringType))

  /** Those of `uris` that name rows staged under `stagedPath`. One job of
    * one stage: each task returns its distinct matching stamps.
    */
  private def stagedFiles(spark: SparkSession, stagedPath: String,
                          uris: Seq[String]): Set[String] =
    if (!FsUtil.exists(spark, stagedPath)) Set.empty
    else spark.read.schema(StagedStreams).parquet(PathUtil.cleanPath(stagedPath))
      .select(SourceFileCol).filter(col(SourceFileCol).isin(uris: _*))
      .as(Encoders.STRING).mapPartitions(_.distinct)(Encoders.STRING)
      .collect().toSet

  /** Stamp every row of the permissive parse `raw` with its
    * [[SourceFileCol]], cache it, write its corrupt rows to the quarantine
    * under `quarantinePath`, and return the cached parse. If the
    * quarantine write fails the parse is released here.
    *
    * A write replaces the quarantine partitions ([[SourceKeyCol]]) of the
    * files it quarantines, so a file parsed again (it had no clean row to
    * mark it staged, or a run failed before its staging commit) does not
    * quarantine its corrupt rows twice.
    *
    * The stamp is taken before the cache: over a cached relation
    * `input_file_name()` reads `""`, so it must be evaluated by the scan.
    */
  private def splitStreams(raw: DataFrame, quarantinePath: Option[String]): DataFrame = {
    val parse = raw.withColumn(SourceFileCol, input_file_name()).cache()
    try quarantinePath.foreach(ParquetIO.quarantineJson(
      parse.filter(col(CsvSource.CorruptCol).isNotNull)
        .withColumn(SourceKeyCol, md5(col(SourceFileCol))), _, SourceKeyCol))
    catch { case e: Throwable => parse.unpersist(); throw e }
    parse
  }

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
      .csv(PathUtil.cleanPath(path)).schema.fieldNames.toSeq
    val (schema, required, ctx) =
      if (header.contains("track_id")) (Schemas.songs, Schemas.requiredSongsColumns, "songs")
      else (Schemas.users, Schemas.requiredUsersColumns, "users")
    validateColumnSet(header.toSet, required, ctx)
    // The read is positional, so the read schema follows the file's own
    // column order, each declared column with its declared type (any
    // other column as a string); the declared order is selected after.
    val declared = schema.fields.map(f => f.name -> f).toMap
    val bySource = StructType(header.map(n => declared.getOrElse(n, StructField(n, StringType))))
    val rows =
      if (cached) CsvSource.readSplit(spark, bySource, Seq(path))._1
      else CsvSource.cleanRows(CsvSource.readPermissive(spark, bySource, Seq(path)))
    rows.select(schema.fieldNames.toSeq.map(col): _*)
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
