package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{element_at, input_file_name, split}
import org.apache.spark.sql.streaming.Trigger

import graft.io.{CsvSource, PathUtil}
import graft.model.Schemas
import graft.validate.Validator

/** Incremental file ingestion (S10) — the Spark-native replacement for
  * the reference's Airflow ledger polling
  * (`dags/music_streaming_pipeline.py:302-350,433-482`, which diffs an
  * S3 listing against `processed/processed_streams.json`).
  *
  * A Structured Streaming file source with a checkpoint IS that ledger:
  * the checkpoint's file log records every processed input file, a
  * second run discovers only new ones, and `Trigger.AvailableNow`
  * gives batch-job semantics (drain everything currently available,
  * then stop) — so re-runs are exactly the reference's "process only
  * new files" contract, with file accounting handled by the engine
  * instead of hand-rolled JSON. Staging itself is exactly-once per file
  * through [[graft.validate.Validator.stageStreams]], the batch job's own
  * staging: a micro-batch re-run after its rows were staged (a crash
  * between the staging commit and the checkpoint's) stages nothing twice.
  *
  * At scale the source lists the input directory per trigger;
  * `maxFilesPerTrigger` bounds one micro-batch, and
  * `cleanSource`/archival (FsUtil.archive, S12) keeps the listing cost
  * flat as history accumulates.
  */
object IncrementalIngest {

  /** Open the streams CSV directory as an incremental source with the
    * validation job's reader options, schema, permissive corrupt capture
    * and header check (S1 semantics, `CsvSource.options`).
    */
  def streamsSource(spark: SparkSession, inputDir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .options(CsvSource.options(checkHeader = true))
      .schema(CsvSource.permissiveSchema(Schemas.streams))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.csv(PathUtil.cleanPath(inputDir))
  }

  /** Parse a reference-style processed-files ledger
    * (`dags/music_streaming_pipeline.py:433-482`: one JSON object,
    * `{"<file key>": {"processed_at": ..., "status": "completed"}, ...}`)
    * and return the base file names recorded as completed. Base names,
    * not full keys: the ledger records S3 keys while a migrated deployment
    * reads from its own mount, so the name is the stable identity.
    */
  def readProcessedLedger(path: String): Set[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(PathUtil.cleanPath(path)))
    require(root.isObject, s"processed ledger at $path is not a JSON object")
    root.fields().asScala.collect {
      case e if Option(e.getValue.get("status")).forall(_.asText() == "completed") =>
        e.getKey.split('/').last
    }.toSet
  }

  /** One incremental validation run: drain all currently-available new
    * files through clean-streams validation into an append-mode parquet
    * staging dir, then return the number of micro-batches executed.
    * Idempotent across re-runs via `checkpoint`, and across a re-run
    * micro-batch via the staged rows' own `_source_file`.
    *
    * Each micro-batch is staged by the batch job's own staging,
    * [[graft.validate.Validator.stageStreams]], over the batch's files:
    * one already staged under `stagingDir` (by a run of this or by
    * `PipelineJob.run`) is skipped. With `quarantineDir` set, rows whose
    * raw line failed the schema parse are appended as JSON under
    * `<quarantineDir>/corrupt_records/` with their `_source_file`
    * (`scripts/validate_data.py:121-129` semantics); only clean rows reach
    * staging.
    *
    * Ledger migration: `processedLedger` points at a reference-style
    * `processed_streams.json`; files it records as completed are excluded
    * from processing on the FIRST run (by base name, via
    * `input_file_name`), and the checkpoint owns accounting from then on.
    * One-time cost: the first run still lists (and scans) the ledgered
    * files to record them — their rows are filtered out before staging.
    * The skip set is a small driver-side literal (file names); a ledger
    * with millions of entries should be compacted into the checkpoint
    * offline instead.
    */
  def runAvailableNow(spark: SparkSession, inputDir: String, stagingDir: String,
                      checkpoint: String, quarantineDir: Option[String] = None,
                      processedLedger: Option[String] = None): Long = {
    val skip = processedLedger.map(readProcessedLedger).getOrElse(Set.empty)
    val source = {
      val src = streamsSource(spark, inputDir)
      if (skip.isEmpty) src
      else src.filter(!element_at(split(input_file_name(), "/"), -1)
        .isin(skip.toSeq: _*))
    }
    val staging = PathUtil.cleanPath(stagingDir)
    val batches = new AtomicLong(0)
    val q = source.writeStream
      .option("checkpointLocation", PathUtil.cleanPath(checkpoint))
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batches.incrementAndGet()
        // the sink hands over the batch as an RDD (`inputFiles` is empty),
        // so its files are read off the batch itself: one light pass
        val files = batch.select(input_file_name()).distinct().as(Encoders.STRING).collect().toSeq
        if (files.nonEmpty)
          Validator.stageStreams(spark, files, staging, quarantineDir) { fresh =>
            if (fresh.size == files.size) batch
            else batch.filter(input_file_name().isin(fresh: _*))
          }
        ()
      }
      .start()
    q.awaitTermination()
    batches.get()
  }
}
