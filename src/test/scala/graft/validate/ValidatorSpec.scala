package graft.validate

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{CsvSource, PathUtil}
import graft.model.Schemas

class ValidatorSpec extends SparkSpec {

  private val fixtures = graft.SparkEntry.FixturesDir

  test("processStreams unions files, drops corrupt and null rows") {
    val df = Validator.processStreams(spark,
      Seq(s"$fixtures/streams_a.csv", s"$fixtures/streams_b.csv"))
    df.columns.toSeq shouldBe Seq("user_id", "track_id", "listen_time")
    // streams_a: 40 valid reference rows; its 5 appended rows are all
    // corrupt or null-bearing. streams_b: 30 valid + 1 valid appended
    // (the date-only timestamp row is corrupt under strict parsing).
    df.count() shouldBe 71
    df.filter(col("user_id").isNull || col("track_id").isNull ||
      col("listen_time").isNull).count() shouldBe 0
  }

  test("readSplit quarantines exactly the malformed rows") {
    val (_, corrupt) =
      CsvSource.readSplit(spark, Schemas.streams, Seq(s"$fixtures/streams_a.csv"))
    // bad month/hour, non-timestamp, short arity — but NOT the rows that
    // parse fine with null fields (those are na.drop's job, not corrupt).
    corrupt.count() shouldBe 3
    val raws = corrupt.select(CsvSource.CorruptCol).collect().map(_.getString(0))
    raws.count(_.contains("TRKBAD")) shouldBe 2
    raws.count(_.contains("TRKSHORT")) shouldBe 1
  }

  test("quarantine sink appends corrupt rows as JSON") {
    val out = tmpDir("quarantine")
    Validator.processStreams(spark, Seq(s"$fixtures/streams_a.csv"), Some(out))
    val q = spark.read.json(s"$out/corrupt_records")
    q.count() shouldBe 3
  }

  test("validateColumnSet raises on missing columns, names them") {
    val e = intercept[IllegalArgumentException] {
      Validator.validateColumnSet(Set("user_id"), Set("user_id", "track_id"), "ctx")
    }
    e.getMessage should include("track_id")
    e.getMessage should include("ctx")
    Validator.validateColumnSet(Set("user_id"), Set("user_id"), "ok") // no throw
  }

  test("processReferenceData dispatches songs vs users by columns") {
    val songs = Validator.processReferenceData(spark, s"$fixtures/songs.csv")
    songs.columns.length shouldBe 21
    songs.count() shouldBe 26
    val users = Validator.processReferenceData(spark, s"$fixtures/users.csv")
    users.columns.toSeq shouldBe Seq("user_id", "user_name", "user_age", "user_country", "created_at")
    // 30 valid + null-aged row survive; uncastable age and bad date rows are corrupt
    users.count() shouldBe 31
    users.filter(col("user_age").isNull).count() shouldBe 1
  }

  test("reference CSVs are read by column name: a reordered file stages the canonical rows") {
    val dir = tmpDir("reorderedref")
    for (dim <- Seq("songs", "users")) withClue(s"$dim: ") {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$fixtures/$dim.csv")).toArray(Array.empty[String]).toSeq
      // reverse every line's fields (the fixtures quote no field): for
      // users this swaps user_name and user_country, both strings
      val reordered = s"$dir/$dim.csv"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(reordered),
        lines.map(_.split(",", -1).reverse.mkString(",")).mkString("", "\n", "\n"))
      Validator.stageReferenceData(spark, s"$fixtures/$dim.csv", s"$dir/canonical_$dim")
      Validator.stageReferenceData(spark, reordered, s"$dir/staged_$dim")
      def rows(df: org.apache.spark.sql.DataFrame) =
        (df.columns.toSeq, df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq)
      val want = rows(spark.read.parquet(s"$dir/canonical_$dim"))
      rows(spark.read.parquet(s"$dir/staged_$dim")) shouldBe want
      rows(Validator.processReferenceData(spark, reordered)) shouldBe want
    }
  }

  test("stageStreams stages each file once and parses no staged file") {
    val dir = tmpDir("stagestreams")
    val staged = s"$dir/staged"
    val (a, b) = (s"$fixtures/streams_a.csv", s"$fixtures/streams_b.csv")
    val parseAll = (uris: Seq[String]) => Validator.readStreams(spark, uris)
    val nA = Validator.stageStreams(spark, Seq(s"$a,$a"), staged, None)(parseAll)
    nA shouldBe Validator.processStreams(spark, Seq(a)).count()

    // a file already staged, spelled another way, is dropped before parsing
    val parsed = scala.collection.mutable.ArrayBuffer.empty[String]
    val nB = Validator.stageStreams(spark, Seq(a.replace("/fixtures/", "//fixtures/"), b),
      staged, None) { uris => parsed ++= uris; parseAll(uris) }
    parsed.toSeq shouldBe Seq(graft.io.FsUtil.fileUri(spark, b))
    nB shouldBe Validator.processStreams(spark, Seq(b)).count()
    spark.read.parquet(staged).count() shouldBe nA + nB

    // all staged: no parse, 0 rows, and the check is one job
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val n = try Validator.stageStreams(spark, Seq(a, b), staged, None)(_ => fail("parsed a staged file"))
    finally {
      org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    n shouldBe 0L
    jobs.get shouldBe 1
  }

  test("cleanStreams casts and rejects any-null rows") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("t1"), Some("2024-06-25 10:00:00")),
      (None,    Some("t2"), Some("2024-06-25 10:00:00")),
      (Some(3), None,       Some("2024-06-25 10:00:00")),
      (Some(4), Some("t4"), None)
    ).toDF("user_id", "track_id", "listen_time")
      .withColumn("listen_time", to_timestamp(col("listen_time")))
    val out = Validator.cleanStreams(df)
    out.count() shouldBe 1
    out.schema.map(_.dataType.typeName) shouldBe Seq("string", "string", "timestamp")
  }

  test("processStreams quarantines each corrupt row with its source file") {
    val q = tmpDir("provq")
    Validator.processStreams(spark, Seq(s"$fixtures/streams_a.csv"), Some(q))
    val quarantined = spark.read.json(s"$q/corrupt_records")
    quarantined.count() shouldBe 3
    quarantined.columns should contain("_source_file")

    // provenance: each row quarantined from both files at once names the
    // file that a single-file call quarantines it from
    val files = Seq("streams_a.csv", "streams_b.csv")
    // the quarantine's `_corrupt_record` field is data here, not the
    // JSON reader's own corrupt-record column
    def readQuarantine(dir: String) = spark.read
      .option("columnNameOfCorruptRecord", "_unparsed_json").json(s"$dir/corrupt_records")
    val origin = files.flatMap { f =>
      val dir = tmpDir("perfileq")
      Validator.processStreams(spark, Seq(s"$fixtures/$f"), Some(dir))
      readQuarantine(dir).select(CsvSource.CorruptCol).collect().map(_.getString(0) -> f)
    }.toMap
    val both = tmpDir("provq2")
    Validator.processStreams(spark, files.map(f => s"$fixtures/$f"), Some(both))
    val rows = readQuarantine(both).select(CsvSource.CorruptCol, "_source_file").collect()
      .map(r => r.getString(0) -> r.getString(1))
    rows.length shouldBe origin.size
    rows.foreach { case (raw, source) =>
      withClue(s"quarantined row $raw: ") {
        source should endWith(origin(raw))
      }
    }
  }

  test("a stream file with no clean row, staged twice, is quarantined once") {
    val dir = tmpDir("noclean")
    val f = s"$dir/bad.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "user_id,track_id,listen_time\nu1,t1,not-a-time\n")
    // no clean row marks the file staged, so each call parses it again
    for (_ <- 1 to 2)
      Validator.stageStreams(spark, Seq(f), s"$dir/staged", Some(s"$dir/q"))(
        Validator.readStreams(spark, _)) shouldBe 0L
    spark.read.json(s"$dir/q/corrupt_records").count() shouldBe 1
  }

  test("processStreams: empty path list and missing-columns file both fail loudly") {
    intercept[IllegalArgumentException] {
      Validator.processStreams(spark, Seq.empty)
    }
    val dir = tmpDir("badcsv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.csv"),
      "only_one_column\nx\n")
    // the header is checked against the streams columns inside the scan
    val e = intercept[Exception] {
      Validator.processStreams(spark, Seq(s"$dir/b.csv")).count()
    }
    causeMessages(e) should include("b.csv")
  }

  test("processStreams reads stream headers by name, naming the column and the file") {
    val dir = tmpDir("renamedcsv")
    val good = s"$fixtures/streams_b.csv"
    for ((name, header) <- Seq("renamed" -> "user_id,song_id,listen_time",
                               "reordered" -> "track_id,user_id,listen_time")) {
      val f = s"$dir/$name.csv"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        s"$header\nu1,t1,2024-06-25 10:00:00\n")
      withClue(s"$name header: ") {
        val e = intercept[Exception] {
          Validator.processStreams(spark, Seq(good, f), Some(s"$dir/q_$name"))
        }
        val msg = causeMessages(e)
        msg should include("track_id")
        msg should include(s"$name.csv")
      }
    }
  }

  test("processReferenceData: unrecognized header fails the column check") {
    val dir = tmpDir("badref")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r.csv"),
      "track_id,only\nx,y\n")
    val e = intercept[IllegalArgumentException] {
      Validator.processReferenceData(spark, s"$dir/r.csv")
    }
    e.getMessage should include("Missing required columns")
    val staged = intercept[IllegalArgumentException] {
      Validator.stageReferenceData(spark, s"$dir/r.csv", s"$dir/staged")
    }
    staged.getMessage should include("Missing required columns")
  }

  test("stageReferenceData stages processReferenceData's rows without caching the parse") {
    val out = tmpDir("stagedref")
    for (dim <- Seq("songs", "users")) withClue(s"$dim: ") {
      val csv = s"$fixtures/$dim.csv"
      spark.catalog.clearCache()
      Validator.stageReferenceData(spark, csv, s"$out/$dim")
      spark.sharedState.cacheManager.isEmpty shouldBe true
      val staged = spark.read.parquet(s"$out/$dim")
      val cached = Validator.processReferenceData(spark, csv)
      staged.schema.map(f => f.name -> f.dataType) shouldBe
        cached.schema.map(f => f.name -> f.dataType)
      staged.collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe
        cached.collect().map(_.toSeq).sortBy(_.mkString("|"))
    }
  }

  test("PathUtil cleans doubled slashes but preserves scheme") {
    PathUtil.cleanPath("s3://bucket//a///b/c") shouldBe "s3://bucket/a/b/c"
    PathUtil.cleanPath("/local//path") shouldBe "/local/path"
    PathUtil.splitPaths("a.csv, b.csv,,c//d.csv") shouldBe Seq("a.csv", "b.csv", "c/d.csv")
  }

  test("schemaDrift reports missing / added / type_changed columns") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val contract = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val batch = Seq((1, "a", "oops", true)).toDF("id", "name", "score", "extra")
    val drift = Validator.schemaDrift(batch, contract)
      .map(d => d.column -> (d.status, d.expected, d.actual)).toMap
    drift("id") shouldBe (("type_changed", "bigint", "int"))
    drift("score") shouldBe (("type_changed", "double", "string"))
    drift("extra") shouldBe (("added", "", "boolean"))
    drift.contains("name") shouldBe false // unchanged columns don't report

    val missing = Validator.schemaDrift(Seq((1L, 0.5)).toDF("id", "score"), contract)
    missing.map(d => (d.column, d.status)) shouldBe Seq(("name", "missing"))
  }

  test("requireCompatible: added columns pass by default, drift fails loudly") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val contract = StructType(Seq(StructField("id", LongType)))
    val withExtra = Seq((1L, "x")).toDF("id", "extra")
    noException should be thrownBy
      Validator.requireCompatible(withExtra, contract, "t")
    intercept[IllegalArgumentException] {
      Validator.requireCompatible(withExtra, contract, "t", allowAdded = false)
    }.getMessage should include ("extra added")
    intercept[IllegalArgumentException] {
      Validator.requireCompatible(Seq(1).toDF("id"), contract, "t")
    }.getMessage should include ("expected bigint, got int")
  }
}
