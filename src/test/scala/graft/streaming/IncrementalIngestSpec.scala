package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, element_at, split}

import graft.SparkSpec
import graft.io.CsvSource
import graft.validate.Validator

/** Batch-parity proof for incremental ingest: a second run processes
  * ONLY files that arrived after the first (the reference's
  * processed-files-ledger contract).
  */
class IncrementalIngestSpec extends SparkSpec {

  private val fixtures = graft.SparkEntry.FixturesDir

  private def writeCsv(path: String, rows: Seq[String]): Unit =
    Files.writeString(Paths.get(path),
      ("user_id,track_id,listen_time" +: rows).mkString("", "\n", "\n"))

  test("AvailableNow run drains current files; re-run picks up only new ones") {
    val base = tmpDir("incr")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val staging = s"$base/staging"; val ckpt = s"$base/ckpt"

    writeCsv(s"$in/s1.csv", Seq(
      "u1,t1,2024-06-25 10:00:00",
      "u2,t2,2024-06-25 11:00:00",
      "u3,t3,not-a-time")) // corrupt row filtered by validation
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt)
    spark.read.parquet(staging).count() shouldBe 2

    // second run with NO new files: nothing is reprocessed
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt)
    spark.read.parquet(staging).count() shouldBe 2

    // drop a new file: only its rows append (s1.csv is not re-read)
    writeCsv(s"$in/s2.csv", Seq("u4,t4,2024-06-26 09:00:00"))
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt)
    val rows = spark.read.parquet(staging)
    rows.count() shouldBe 3
    import spark.implicits._
    rows.select("user_id").as[String].collect().toSet shouldBe Set("u1", "u2", "u4")
  }

  test("a micro-batch re-run after its rows were staged stages nothing twice") {
    val base = tmpDir("incr_retry")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val staging = s"$base/staging"; val ckpt = s"$base/ckpt"
    writeCsv(s"$in/s1.csv", Seq("u1,t1,2024-06-25 10:00:00", "u2,t2,2024-06-25 11:00:00"))
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt) shouldBe 1
    // a crash after the staging commit, before the checkpoint's: the
    // batch's offsets are logged but its commit is not, so the restart
    // runs batch 0 again over the same file
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(Paths.get(s"$ckpt/commits/$f")))
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt) shouldBe 1
    spark.read.parquet(staging).count() shouldBe 2
  }

  test("a fresh checkpoint reprocesses from scratch (ledger reset semantics)") {
    val base = tmpDir("incr2")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    writeCsv(s"$in/s1.csv", Seq("u1,t1,2024-06-25 10:00:00"))
    IncrementalIngest.runAvailableNow(spark, in, s"$base/stage1", s"$base/ck1")
    IncrementalIngest.runAvailableNow(spark, in, s"$base/stage2", s"$base/ck2")
    spark.read.parquet(s"$base/stage1").count() shouldBe 1
    spark.read.parquet(s"$base/stage2").count() shouldBe 1
  }

  test("corrupt rows are quarantined on the streaming path (batch S7 parity)") {
    val base = tmpDir("incrq")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val staging = s"$base/staging"; val ckpt = s"$base/ckpt"; val quar = s"$base/quar"

    writeCsv(s"$in/s1.csv", Seq("u1,t1,2024-06-25 10:00:00"))
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt, Some(quar))
    // batch 2 carries a corrupt row: it must land in quarantine, not staging
    writeCsv(s"$in/s2.csv", Seq(
      "u2,t2,2024-06-25 11:00:00",
      "u3,t3,not-a-time"))
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt, Some(quar))

    import spark.implicits._
    val staged = spark.read.parquet(staging)
    staged.count() shouldBe 2
    staged.select("user_id").as[String].collect().toSet shouldBe Set("u1", "u2")

    val quarantined = spark.read.json(s"$quar/corrupt_records")
    quarantined.count() shouldBe 1
    quarantined.select("user_id").as[String].head() shouldBe "u3"
    quarantined.select("_source_file").as[String].head() should endWith("s2.csv")

    // third run with no new files: neither staging nor quarantine grows
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt, Some(quar))
    spark.read.parquet(staging).count() shouldBe 2
    spark.read.json(s"$quar/corrupt_records").count() shouldBe 1
  }

  test("batch and streaming ingest stage and quarantine the same rows") {
    val base = tmpDir("incrparity")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val files = Seq("streams_a.csv", "streams_b.csv")
    files.foreach(f => Files.copy(Paths.get(s"$fixtures/$f"), Paths.get(s"$in/$f")))
    val (q1, q2) = (s"$base/q_batch", s"$base/q_stream")
    val batch = Validator.processStreams(spark, files.map(f => s"$in/$f"), Some(q1))
    IncrementalIngest.runAvailableNow(spark, in, s"$base/staging", s"$base/ckpt", Some(q2))

    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val staged = spark.read.parquet(s"$base/staging")
    rows(staged.drop(Validator.SourceFileCol)) shouldBe rows(batch)
    // each staged row names its file as the batch scan does
    import spark.implicits._
    staged.select(Validator.SourceFileCol).distinct().as[String].collect().sorted shouldBe
      files.map(f => graft.io.FsUtil.fileUri(spark, s"$in/$f"))
    // the quarantine's `_corrupt_record` field is data here, not the JSON
    // reader's own corrupt-record column; the source file by base name
    def quarantined(dir: String) = rows(spark.read
      .option("columnNameOfCorruptRecord", "_unparsed_json").json(s"$dir/corrupt_records")
      .select(col(CsvSource.CorruptCol), element_at(split(col("_source_file"), "/"), -1)))
    val q = quarantined(q1)
    q.map(_(1).toString).distinct.sorted shouldBe files
    quarantined(q2) shouldBe q
  }

  test("a stream file with a renamed column fails the streaming run, naming it") {
    val base = tmpDir("incrheader")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    Files.writeString(Paths.get(s"$in/renamed.csv"),
      "user_id,song_id,listen_time\nu1,t1,2024-06-25 10:00:00\n")
    val e = intercept[Exception] {
      IncrementalIngest.runAvailableNow(spark, in, s"$base/staging", s"$base/ckpt")
    }
    val msg = causeMessages(e)
    msg should include("song_id")
    msg should include("renamed.csv")
  }

  test("a pre-existing processed ledger is honored: ledgered files are not reprocessed") {
    val base = tmpDir("incrl")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val staging = s"$base/staging"; val ckpt = s"$base/ckpt"

    writeCsv(s"$in/s1.csv", Seq("u1,t1,2024-06-25 10:00:00"))
    writeCsv(s"$in/s2.csv", Seq("u2,t2,2024-06-25 11:00:00"))
    // reference-style ledger records s1.csv as already processed
    Files.writeString(Paths.get(s"$base/processed_streams.json"),
      """{"streams/s1.csv": {"processed_at": "2024-06-24T00:00:00", "status": "completed"}}""")

    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt,
      processedLedger = Some(s"$base/processed_streams.json"))
    import spark.implicits._
    val staged = spark.read.parquet(staging)
    staged.count() shouldBe 1
    staged.select("user_id").as[String].head() shouldBe "u2"

    // checkpoint owns accounting afterwards: a new file (and ONLY it) lands
    writeCsv(s"$in/s3.csv", Seq("u3,t3,2024-06-26 09:00:00"))
    IncrementalIngest.runAvailableNow(spark, in, staging, ckpt,
      processedLedger = Some(s"$base/processed_streams.json"))
    spark.read.parquet(staging).select("user_id").as[String].collect().toSet shouldBe
      Set("u2", "u3")
  }

  test("ledger parsing collects completed base names") {
    val base = tmpDir("ledger")
    Files.writeString(Paths.get(s"$base/ledger.json"),
      """{
        |  "streams/a.csv": {"processed_at": "t", "status": "completed"},
        |  "streams/b.csv": {"processed_at": "t", "status": "failed"},
        |  "c.csv": {"processed_at": "t", "status": "completed"}
        |}""".stripMargin)
    IncrementalIngest.readProcessedLedger(s"$base/ledger.json") shouldBe Set("a.csv", "c.csv")
  }
}
