package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet scan/sink library surface (S3-S6).
  *
  * Scan accepts multi-path / comma-separated lists (reference
  * `read_parquet_safely`, `scripts/compute_kpis.py:109-154`); sinks expose
  * the two modes the reference uses — append for the accumulating streams
  * fact (`scripts/validate_data.py:316`), overwrite for dims and KPI
  * outputs (`:317-318`, `scripts/compute_kpis.py:306-315`) — plus
  * `partitionBy` layout (date-partitioning intent of
  * `docs/data-flow.md:244-252`): at 100 TB a date-partitioned layout is
  * what makes the daily KPI queries prune to one partition instead of
  * scanning history.
  */
object ParquetIO {

  /** Read one or many parquet paths; each element may itself be a
    * comma-separated list. Directory-vs-part-file normalization is left
    * to Spark's path resolution (it handles both).
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val expanded = paths.flatMap(PathUtil.splitPaths)
    require(expanded.nonEmpty, "no parquet paths given")
    spark.read.parquet(expanded: _*)
  }

  def writeOverwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit =
    write(df, path, SaveMode.Overwrite, partitionBy)

  def writeAppend(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit =
    write(df, path, SaveMode.Append, partitionBy)

  private def write(df: DataFrame, path: String, mode: SaveMode, partitionBy: Seq[String]): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(PathUtil.cleanPath(path))
  }

  /** Bucketed parquet staging: pre-hash-partition a fact table by its
    * dominant join/group key so every later `groupBy(bucketCol)` /
    * equi-join on it is shuffle-free (Spark reads one bucket file set
    * per task, already co-located). The 100 TB play: stage streams
    * bucketed by `user_id` once, run the per-user KPI family forever
    * without an Exchange. Requires a table name (bucket metadata lives
    * in the session catalog), not a bare path.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && numBuckets > 0)
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Corrupt-record quarantine (S7): raw rows as JSON under
    * `<out>/corrupt_records/` — `scripts/validate_data.py:121-129` —
    * partitioned by `byCol`. A write replaces the partitions it writes and
    * keeps the others, so quarantining an input's rows a second time
    * replaces them instead of appending them again.
    */
  def quarantineJson(corrupt: DataFrame, outputPath: String, byCol: String): Unit =
    if (!corrupt.isEmpty)
      corrupt.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy(byCol).json(PathUtil.cleanPath(s"$outputPath/corrupt_records/"))
}
