package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV sources with the reference's exact read options (S1):
  * header, PERMISSIVE mode with `_corrupt_record` capture, `,` delimiter,
  * `"` quote, `\` escape, multiLine, `yyyy-MM-dd HH:mm:ss` timestamp
  * format — `scripts/validate_data.py:100-111` (fixed schema) and
  * `:206-213` (reference data). [[options]] is their one home: the batch
  * [[readPermissive]] and the streaming source
  * (`graft.streaming.IncrementalIngest.streamsSource`) both apply it.
  *
  * The corrupt-record column is appended to the user schema explicitly:
  * Spark only materializes `_corrupt_record` when it is part of the read
  * schema, and refuses queries that reference *only* that column on an
  * uncached frame (SURVEY §7.4.5) — callers that split corrupt/clean
  * serve both sides from one cached parse ([[readSplit]],
  * `graft.validate.Validator.splitStreams`).
  */
object CsvSource {

  val CorruptCol = "_corrupt_record"

  /** The reader options. With `checkHeader`, Spark's `enforceSchema` is
    * off: each file's scan task then checks the file's header against the
    * schema's column names, in order, and fails naming the expected
    * column, the one found and the file. Without it the read is
    * positional and the header is skipped unread, so a file with its
    * columns renamed or reordered would parse into the wrong fields.
    */
  def options(checkHeader: Boolean): Map[String, String] = Map(
    "header" -> "true",
    "enforceSchema" -> (!checkHeader).toString,
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptCol,
    "delimiter" -> ",",
    "quote" -> "\"",
    "escape" -> "\\",
    "multiLine" -> "true",
    "dateFormat" -> "yyyy-MM-dd",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss",
    // Strict pattern matching: a value that doesn't match the declared
    // format is corrupt, full stop — no silent ISO-fallback parse that
    // would make "2024-06-25" (date-only) pass as midnight.
    "enableDateTimeParsingFallback" -> "false")

  /** `schema` plus the trailing corrupt-record column. */
  def permissiveSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField(CorruptCol, StringType))

  /** A raw permissive read of one or many files in one scan: user schema +
    * trailing corrupt-record column.
    */
  def readPermissive(spark: SparkSession, schema: StructType, paths: Seq[String],
                     checkHeader: Boolean = false): DataFrame =
    spark.read.options(options(checkHeader))
      .schema(permissiveSchema(schema))
      .csv(paths.map(PathUtil.cleanPath): _*)

  /** One cached parse pass split into (clean-candidate rows, corrupt rows).
    * "Corrupt" is Spark's definition: the raw line failed to parse against
    * the schema (malformed field or wrong arity) — a row that parses but
    * carries nulls is NOT corrupt (the validator's `na.drop` handles it).
    */
  def readSplit(spark: SparkSession, schema: StructType, paths: Seq[String]): (DataFrame, DataFrame) = {
    val raw = readPermissive(spark, schema, paths).cache()
    (cleanRows(raw), raw.filter(col(CorruptCol).isNotNull))
  }

  /** The rows of a [[readPermissive]] frame that parsed, without the
    * corrupt-record column. On an uncached frame this is safe to write or
    * join but not to `count()`: the count prunes the scan to the
    * corrupt-record column alone, which Spark refuses.
    */
  def cleanRows(raw: DataFrame): DataFrame =
    raw.filter(col(CorruptCol).isNull).drop(CorruptCol)
}
