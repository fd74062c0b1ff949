package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IoSpec extends SparkSpec {
  import spark.implicits._

  test("FsUtil.fileUri names a file as input_file_name() does, however it is spelled") {
    val dir = tmpDir("fileuri")
    val f = s"$dir/streams a.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "x\n")
    val scanned = spark.read.text(f).select(input_file_name()).as[String].head()
    for (spelling <- Seq(f, f.replace("/streams", "//streams"), s"file://$f",
                         new java.io.File(f).toURI.toString, scanned))
      withClue(s"$spelling: ") { FsUtil.fileUri(spark, spelling) shouldBe scanned }
    // a relative path resolves against the working directory
    val rel = "fixtures/users.csv"
    FsUtil.fileUri(spark, rel) shouldBe
      spark.read.text(rel).select(input_file_name()).as[String].head()
  }

  test("ParquetIO round-trips overwrite and append modes") {
    val dir = tmpDir("pq") + "/t"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    ParquetIO.writeOverwrite(df, dir)
    ParquetIO.read(spark, dir).count() shouldBe 2
    ParquetIO.writeAppend(df, dir)
    ParquetIO.read(spark, dir).count() shouldBe 4
    ParquetIO.writeOverwrite(df, dir)
    ParquetIO.read(spark, dir).count() shouldBe 2
  }

  test("ParquetIO partitionBy produces a prunable layout") {
    val dir = tmpDir("pqpart") + "/t"
    val df = Seq(("2024-06-25", 1), ("2024-06-25", 2), ("2024-06-26", 3))
      .toDF("date", "n")
    ParquetIO.writeOverwrite(df, dir, partitionBy = Seq("date"))
    new java.io.File(dir).list().count(_.startsWith("date=")) shouldBe 2
    // partition filter prunes to a single directory
    val plan = ParquetIO.read(spark, dir).filter(col("date") === "2024-06-25")
      .queryExecution.executedPlan.toString
    plan should include ("PartitionFilters: [isnotnull(date")
    ParquetIO.read(spark, dir).filter(col("date") === "2024-06-25").count() shouldBe 2
  }

  test("ParquetIO.read accepts multi-path and comma-separated lists") {
    val base = tmpDir("pqmulti")
    ParquetIO.writeOverwrite(Seq(1).toDF("n"), s"$base/a")
    ParquetIO.writeOverwrite(Seq(2, 3).toDF("n"), s"$base/b")
    ParquetIO.read(spark, s"$base/a", s"$base/b").count() shouldBe 3
    ParquetIO.read(spark, s"$base/a,$base/b").count() shouldBe 3
  }

  test("bucketed staging eliminates the aggregation shuffle") {
    import org.apache.spark.sql.functions._
    val rows = (1 to 1000).map(i => (s"u${i % 50}", s"t$i")).toDF("user_id", "track_id")
    ParquetIO.writeBucketed(rows, "streams_bucketed", Seq("user_id"), numBuckets = 8)
    try {
      val agg = spark.table("streams_bucketed")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      plan.contains("Exchange hashpartitioning") shouldBe false // bucket layout reused
      agg.count() shouldBe 50
      // sanity: the same agg on a plain (unbucketed) frame DOES shuffle
      val plain = rows.groupBy("user_id").agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      plain should include("Exchange")
    } finally spark.sql("DROP TABLE IF EXISTS streams_bucketed")
  }

  test("two co-bucketed tables join without any shuffle") {
    val facts = (1 to 500).map(i => (s"u${i % 40}", i)).toDF("user_id", "v")
    val dims  = (1 to 40).map(i => (s"u$i", s"name$i")).toDF("user_id", "name")
    ParquetIO.writeBucketed(facts, "facts_b", Seq("user_id"), 8)
    ParquetIO.writeBucketed(dims, "dims_b", Seq("user_id"), 8)
    try {
      // disable auto-broadcast so the join would otherwise sort-merge+shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("facts_b").join(spark.table("dims_b"), "user_id")
      val plan = j.queryExecution.executedPlan.toString
      plan.contains("Exchange hashpartitioning") shouldBe false
      j.count() shouldBe 488 // the 12 u0 facts (i%40==0) have no dim row
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS facts_b")
      spark.sql("DROP TABLE IF EXISTS dims_b")
    }
  }

  test("FsUtil.exists probes paths") {
    val base = tmpDir("fs")
    FsUtil.exists(spark, base) shouldBe true
    FsUtil.exists(spark, s"$base/nope") shouldBe false
  }

  test("FsUtil.checksumIfChanged gates on MD5 like the reference CDC check") {
    val base = tmpDir("cdc")
    val f = s"$base/songs.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "a,b\n1,2\n")
    val ledger = s"$base/ledger.md5"
    def changed(): Boolean = {
      val pending = FsUtil.checksumIfChanged(spark, f, ledger)
      pending.foreach(FsUtil.recordChecksum(spark, ledger, _))
      pending.isDefined
    }
    changed() shouldBe true  // first sight
    changed() shouldBe false // unchanged
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "a,b\n1,3\n")
    changed() shouldBe true  // edited
    changed() shouldBe false
  }

  test("FsUtil split CDC: checksumChanged is read-only, ledger advances only on commitChecksum") {
    val base = tmpDir("cdc2")
    val f = s"$base/songs.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "a,b\n1,2\n")
    val ledger = s"$base/ledger.md5"
    FsUtil.checksumChanged(spark, f, ledger) shouldBe true
    // no side effect: a failed downstream write leaves the gate open
    FsUtil.checksumChanged(spark, f, ledger) shouldBe true
    FsUtil.commitChecksum(spark, f, ledger) // "write succeeded"
    FsUtil.checksumChanged(spark, f, ledger) shouldBe false
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "a,b\n1,3\n")
    FsUtil.checksumChanged(spark, f, ledger) shouldBe true
  }

  test("FsUtil CDC: a file replaced between check and commit reads as changed next time") {
    val base = tmpDir("cdc3")
    val f = java.nio.file.Paths.get(s"$base/songs.csv")
    java.nio.file.Files.writeString(f, "a,b\n1,2\n")
    val ledger = s"$base/ledger.md5"
    val pending = FsUtil.checksumIfChanged(spark, f.toString, ledger)
    pending shouldBe Some(FsUtil.md5Hex(spark, f.toString))
    // replaced while the old content is being staged
    java.nio.file.Files.writeString(f, "a,b\n1,3\n")
    pending.foreach(FsUtil.recordChecksum(spark, ledger, _)) // "write succeeded"
    FsUtil.checksumChanged(spark, f.toString, ledger) shouldBe true
    FsUtil.checksumIfChanged(spark, f.toString, ledger) shouldBe
      Some(FsUtil.md5Hex(spark, f.toString))
  }

  test("FsUtil.archive moves files under <root>/<ts>/<kind>/ and deletes source") {
    val base = tmpDir("arch")
    val f = s"$base/in/streams1.csv"
    new java.io.File(s"$base/in").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "x\n")
    val out = FsUtil.archive(spark, Seq(f), s"$base/archived", "streams", "20240625T000000")
    out.size shouldBe 1
    new java.io.File(f).exists() shouldBe false
    new java.io.File(s"$base/archived/20240625T000000/streams/streams1.csv").exists() shouldBe true
  }

  test("CsvSource strict timestamp parsing marks date-only values corrupt") {
    val dir = tmpDir("csv")
    val f = s"$dir/s.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "user_id,track_id,listen_time\n1,t1,2024-06-25 10:00:00\n2,t2,2024-06-25\n")
    val (clean, corrupt) =
      CsvSource.readSplit(spark, graft.model.Schemas.streams, Seq(f))
    clean.count() shouldBe 1
    corrupt.count() shouldBe 1
  }
}
