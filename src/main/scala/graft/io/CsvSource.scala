package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV sources with the reference's exact read options (S1/S2):
  * header, PERMISSIVE mode with `_corrupt_record` capture, `,` delimiter,
  * `"` quote, `\` escape, multiLine, `yyyy-MM-dd HH:mm:ss` timestamp
  * format — `scripts/validate_data.py:100-111` (fixed schema) and
  * `:206-213` (reference data).
  *
  * The corrupt-record column is appended to the user schema explicitly:
  * Spark only materializes `_corrupt_record` when it is part of the read
  * schema, and refuses queries that reference *only* that column on an
  * uncached frame (SURVEY §7.4.5) — callers that split corrupt/clean
  * should go through [[readSplit]], which caches one parse pass and
  * serves both sides from it.
  */
object CsvSource {

  val CorruptCol = "_corrupt_record"

  /** A raw permissive read: user schema + trailing corrupt-record column. */
  def readPermissive(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    reader(spark)
      .schema(StructType(schema.fields :+ StructField(CorruptCol, StringType)))
      .csv(paths.map(PathUtil.cleanPath): _*)

  /** Inferred-schema read (reference-data compatibility mode,
    * `scripts/validate_data.py:206-213`). Production paths should pass a
    * declared schema to [[readPermissive]] instead (SURVEY §1.3).
    */
  def readInferred(spark: SparkSession, paths: Seq[String]): DataFrame =
    reader(spark)
      .option("inferSchema", "true")
      .csv(paths.map(PathUtil.cleanPath): _*)

  private def reader(spark: SparkSession) =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("delimiter", ",")
      .option("quote", "\"")
      .option("escape", "\\")
      .option("multiLine", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      // Strict pattern matching: a value that doesn't match the declared
      // format is corrupt, full stop — no silent ISO-fallback parse that
      // would make "2024-06-25" (date-only) pass as midnight.
      .option("enableDateTimeParsingFallback", "false")

  /** One cached parse pass split into (clean-candidate rows, corrupt rows).
    * "Corrupt" is Spark's definition: the raw line failed to parse against
    * the schema (malformed field or wrong arity) — a row that parses but
    * carries nulls is NOT corrupt (the validator's `na.drop` handles it).
    */
  def readSplit(spark: SparkSession, schema: StructType, paths: Seq[String]): (DataFrame, DataFrame) = {
    val (_, clean, corrupt) = readSplitCached(spark, schema, paths)
    (clean, corrupt)
  }

  /** [[readSplit]] that also returns the cached parse, so a caller that
    * knows when both sides are consumed can `unpersist` it.
    */
  def readSplitCached(spark: SparkSession, schema: StructType,
                      paths: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val raw = readPermissive(spark, schema, paths).cache()
    (raw, cleanRows(raw), raw.filter(col(CorruptCol).isNotNull))
  }

  /** The rows of a [[readPermissive]] frame that parsed, without the
    * corrupt-record column. On an uncached frame this is safe to write or
    * join but not to `count()`: the count prunes the scan to the
    * corrupt-record column alone, which Spark refuses.
    */
  def cleanRows(raw: DataFrame): DataFrame =
    raw.filter(col(CorruptCol).isNull).drop(CorruptCol)
}
