package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkInternals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.RDDBlockId

import graft.{KvStores, SparkSpec}
import graft.io.ParquetIO
import graft.kpi.KpiQueries
import graft.serve.{KpiItems, KpiSink, KvDataSource}
import graft.streaming.IncrementalIngest

object PipelineSpec {
  /** A store that fails every batch carrying one `kpi_type`, with an
    * error the sink does not retry.
    */
  final class FailingStore(kpiType: String) extends KpiSink.KvStore {
    def putBatch(items: Seq[KpiSink.Item]): Unit =
      if (items.exists(_.get("kpi_type").contains(kpiType)))
        throw new RuntimeException(s"store rejects $kpiType")
  }
}

class PipelineSpec extends SparkSpec with KvStores {

  private val fixtures = graft.SparkEntry.FixturesDir

  test("end-to-end: validate -> stage -> KPIs -> serve, with CDC fast path") {
    val base = tmpDir("pipe")
    val songsCsv = s"$base/songs.csv"
    Files.copy(Paths.get(s"$fixtures/songs.csv"), Paths.get(songsCsv))
    val cfg = PipelineJob.Config(
      streamFiles = Seq(s"$fixtures/streams_a.csv", s"$fixtures/streams_b.csv"),
      songsCsv = songsCsv,
      usersCsv = s"$fixtures/users.csv",
      stagingDir = s"$base/staging",
      outputDir = s"$base/out",
      quarantineDir = Some(s"$base/quarantine"),
      runTs = "2024-07-01T00:00:00")
    val store = newStore()
    val r1 = PipelineJob.run(spark, cfg, Some(store))

    r1.stagedStreamRows shouldBe 71
    r1.kpiRows.keySet shouldBe Set("user_kpis", "genre_daily_metrics_kpi",
      "genre_top_songs_kpi", "genre_top_genres_kpi", "trending_kpis")
    r1.kpiRows.values.foreach(_ should be > 0L)
    r1.servedItems shouldBe r1.kpiRows.values.sum
    store.size.toLong shouldBe r1.servedItems
    spark.read.json(s"$base/quarantine/corrupt_records").count() shouldBe 4

    // CDC fast path: delete the songs CSV — an unchanged hash can't be
    // recomputed, but the run must NOT need it (staged parquet reused).
    // To prove the gate (not just the fallback), keep the file but make
    // the staged dim the only readable source of truth:
    val songsStagedMtime = new java.io.File(s"$base/staging/songs").lastModified()
    val r2 = PipelineJob.run(spark, cfg, None)
    // both stream files are staged already: nothing is staged twice
    r2.stagedStreamRows shouldBe 0
    r2.kpiRows shouldBe r1.kpiRows
    new java.io.File(s"$base/staging/songs").lastModified() shouldBe songsStagedMtime
  }

  test("a second run over the same files stages nothing and leaves the KPIs unchanged") {
    val cfg = fixtureConfig(tmpDir("pipe_rerun"))
    val r1 = PipelineJob.run(spark, cfg)
    val once = kpiTables(cfg)
    val r2 = PipelineJob.run(spark, cfg)
    r2.stagedStreamRows shouldBe 0
    r2.kpiRows shouldBe r1.kpiRows
    kpiTables(cfg) shouldBe once
    spark.read.json(s"${cfg.quarantineDir.get}/corrupt_records").count() shouldBe 4
  }

  test("a run that failed in the sink, re-run, equals a clean run") {
    val clean = fixtureConfig(tmpDir("pipe_clean"))
    val cleanStore = newStore()
    val want = PipelineJob.run(spark, clean, Some(cleanStore))

    // the first attempt stages the streams and writes KPIs, then fails
    val cfg = fixtureConfig(tmpDir("pipe_crash"))
    intercept[Exception] {
      PipelineJob.run(spark, cfg, Some(new PipelineSpec.FailingStore("genre_top")))
    }
    val store = newStore()
    val r = PipelineJob.run(spark, cfg, Some(store))
    r.stagedStreamRows shouldBe 0
    r.kpiRows shouldBe want.kpiRows
    r.servedItems shouldBe want.servedItems
    kpiTables(cfg) shouldBe kpiTables(clean)
    store.scanAll().toSet shouldBe cleanStore.scanAll().toSet
  }

  private lazy val cleanRun = {
    val cfg = fixtureConfig(tmpDir("pipe_boundary_clean"))
    val store = newStore()
    PipelineJob.run(spark, cfg, Some(store))
    (kpiTables(cfg), store.scanAll().toSet)
  }

  // Each boundary is a file operation that fails under the run's output
  // paths: (where the run fails, the operation, the path under the base,
  // the rows the re-run stages).
  for ((where, op, under, restaged) <- Seq(
      ("after the quarantine write, before the staging commit", "create", "staging/streams/", 71L),
      ("after the staging commit, before the KPIs", "open", "staging/streams/", 0L),
      ("during a KPI write", "create", "out/trending_kpis/", 0L))) {
    test(s"a run that failed $where, re-run, equals a clean run") {
      val (wantKpis, wantItems) = cleanRun
      FaultyFs.register(spark.sparkContext)
      val base = tmpDir("pipe_boundary")
      val cfg = fixtureConfig(s"${FaultyFs.Scheme}://$base")
      val e = FaultyFs.during(op, s"$base/$under") {
        intercept[Exception](PipelineJob.run(spark, cfg, Some(newStore())))
      }
      causeMessages(e) should include("injected fault")
      val store = newStore()
      PipelineJob.run(spark, cfg, Some(store)).stagedStreamRows shouldBe restaged
      kpiTables(cfg) shouldBe wantKpis
      store.scanAll().toSet shouldBe wantItems
      // a file re-staged after the crash is not quarantined twice
      spark.read.json(s"${cfg.quarantineDir.get}/corrupt_records").count() shouldBe 4
    }
  }

  test("a file IncrementalIngest staged is not staged again by the batch job") {
    val base = tmpDir("pipe_incr")
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val files = Seq("streams_a.csv", "streams_b.csv")
    files.foreach(f => Files.copy(Paths.get(s"$fixtures/$f"), Paths.get(s"$in/$f")))
    val cfg = fixtureConfig(base).copy(streamFiles = files.map(f => s"$in/$f"))
    IncrementalIngest.runAvailableNow(spark, in, s"${cfg.stagingDir}/streams", s"$base/ckpt")

    val clean = fixtureConfig(tmpDir("pipe_incr_clean"))
    val want = PipelineJob.run(spark, clean)
    val r = PipelineJob.run(spark, cfg)
    r.stagedStreamRows shouldBe 0
    r.kpiRows shouldBe want.kpiRows
    kpiTables(cfg) shouldBe kpiTables(clean)
  }

  test("a file listed twice, or spelled two ways, is staged once") {
    val a = s"$fixtures/streams_a.csv"
    val once = PipelineJob.run(spark, fixtureConfig(tmpDir("pipe_once"))
      .copy(streamFiles = Seq(a)))
    val twice = PipelineJob.run(spark, fixtureConfig(tmpDir("pipe_twice"))
      .copy(streamFiles = Seq(s"$a,$a", a.replace("/fixtures/", "//fixtures/"),
        "fixtures/streams_a.csv")))
    twice.stagedStreamRows shouldBe once.stagedStreamRows
    twice.kpiRows shouldBe once.kpiRows
  }

  test("deskewTrending flag routes through the bucketed plan with equal output") {
    val base = tmpDir("pipe2")
    def cfg(out: String, deskew: Boolean) = PipelineJob.Config(
      streamFiles = Seq(s"$fixtures/streams_a.csv"),
      songsCsv = s"$fixtures/songs.csv",
      usersCsv = s"$fixtures/users.csv",
      stagingDir = s"$base/staging_$out",
      outputDir = s"$base/$out",
      deskewTrending = deskew)
    PipelineJob.run(spark, cfg("a", deskew = false))
    PipelineJob.run(spark, cfg("b", deskew = true))
    val a = spark.read.parquet(s"$base/a/trending_kpis").collect().map(_.toSeq).toSet
    val b = spark.read.parquet(s"$base/b/trending_kpis").collect().map(_.toSeq).toSet
    b shouldBe a
  }

  test("a warm run compiles no new generated classes") {
    // the counter is JVM-global: forked suites run one at a time, and the
    // first run below fills the codegen cache with the whole working set
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    PipelineJob.run(spark, fixtureConfig(tmpDir("pipe_cold")), Some(newStore()))
    val before = compiled.getCount
    PipelineJob.run(spark, fixtureConfig(tmpDir("pipe_warm")), Some(newStore()))
    (compiled.getCount - before) shouldBe 0L
  }

  private def fixtureConfig(base: String) = PipelineJob.Config(
    streamFiles = Seq(s"$fixtures/streams_a.csv", s"$fixtures/streams_b.csv"),
    songsCsv = s"$fixtures/songs.csv",
    usersCsv = s"$fixtures/users.csv",
    stagingDir = s"$base/staging",
    outputDir = s"$base/out",
    quarantineDir = Some(s"$base/quarantine"),
    runTs = "2024-07-01T00:00:00")

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def branchThreadsAlive: Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == PipelineJob.BranchThreadName && t.isAlive)

  private def rows(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Every KPI table a run of `cfg` wrote, as row multisets. */
  private def kpiTables(cfg: PipelineJob.Config): Map[String, Map[Row, Int]] =
    KpiChainNames.map(n => n -> rows(spark.read.parquet(s"${cfg.outputDir}/$n"))).toMap

  private val KpiChainNames = Seq("user_kpis", "genre_daily_metrics_kpi",
    "genre_top_songs_kpi", "genre_top_genres_kpi", "trending_kpis")

  test("served items read back through the KV data source, one KpiTypeIndex read per KPI table") {
    val store = newStore()
    val r = PipelineJob.run(spark, fixtureConfig(tmpDir("pipe_read")), Some(store))
    val kv = spark.read.format(KvDataSource.Format).option("store", store.id).load()
    val tables = Seq("user" -> "user_kpis", "genre_daily" -> "genre_daily_metrics_kpi",
      "genre_top_songs" -> "genre_top_songs_kpi", "genre_top" -> "genre_top_genres_kpi",
      "trending" -> "trending_kpis")
    for ((kpiType, table) <- tables) withClue(s"$kpiType: ") {
      kv.filter(col("kpi_type") === kpiType).count() shouldBe r.kpiRows(table)
      store.lastReadPattern shouldBe "KpiTypeIndex"
    }
  }

  test("a failing serve write is rethrown once every branch is done, leaving nothing behind") {
    val before = persistedRdds
    val e = intercept[Exception] {
      PipelineJob.run(spark, fixtureConfig(tmpDir("pipe_fail")),
        Some(new PipelineSpec.FailingStore("genre_top")))
    }
    e shouldNot be(a[java.util.concurrent.ExecutionException])
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("store rejects genre_top")) shouldBe true
    (persistedRdds -- before) shouldBe empty
    branchThreadsAlive shouldBe false
  }

  test("a run releases every cache it made: stream parses and the enrichment") {
    spark.catalog.clearCache()
    val before = persistedRdds
    PipelineJob.run(spark, fixtureConfig(tmpDir("pipe_cache")), Some(newStore()))
    spark.sharedState.cacheManager.isEmpty shouldBe true
    (persistedRdds -- before) shouldBe empty
    branchThreadsAlive shouldBe false
  }

  test("a stream file with a renamed column fails the run, naming it and the file") {
    val base = tmpDir("pipe_header")
    val renamed = s"$base/renamed.csv"
    Files.writeString(Paths.get(renamed), "user_id,song_id,listen_time\nu1,t1,2024-06-25 10:00:00\n")
    spark.catalog.clearCache()
    val before = persistedRdds
    val e = intercept[Exception] {
      PipelineJob.run(spark, fixtureConfig(base).copy(
        streamFiles = Seq(s"$fixtures/streams_a.csv", renamed)))
    }
    val msg = causeMessages(e)
    msg should include("song_id")
    msg should include("renamed.csv")
    new java.io.File(s"$base/staging/streams").exists() shouldBe false
    spark.sharedState.cacheManager.isEmpty shouldBe true
    (persistedRdds -- before) shouldBe empty
  }

  test("concurrent run equals the KPI queries and item projections run one at a time") {
    val base = tmpDir("pipe_eq")
    val cfg = fixtureConfig(base)
    val store = newStore()

    // every job of the run carries the caller's job group, and the
    // persisted enrichment's blocks are each filled once
    val sc = spark.sparkContext
    val jobGroups = mutable.ArrayBuffer.empty[String]
    val enrichedRdds = mutable.Map.empty[Int, Int] // rdd id -> partitions
    val puts = mutable.ArrayBuffer.empty[RDDBlockId]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobGroups.synchronized {
        jobGroups += Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = enrichedRdds.synchronized {
        e.stageInfo.rddInfos.filter(r => r.storageLevel.isValid && r.name.contains("BroadcastHashJoin"))
          .foreach(r => enrichedRdds(r.id) = r.numPartitions)
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = puts.synchronized {
        (e.blockUpdatedInfo.blockId, e.blockUpdatedInfo.storageLevel.isValid) match {
          case (b: RDDBlockId, true) => puts += b
          case _ =>
        }
      }
    }
    GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("pipeline-spec", "concurrent run")
    val r = try PipelineJob.run(spark, cfg, Some(store)) finally {
      sc.clearJobGroup()
      GraftSparkInternals.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    jobGroups should not be empty
    jobGroups.toSet shouldBe Set("pipeline-spec")
    enrichedRdds.size shouldBe 1
    val (enrichedId, partitions) = enrichedRdds.head
    val fills = puts.filter(_.rddId == enrichedId)
    fills.size shouldBe partitions
    fills.distinct.size shouldBe partitions

    // sequential reference over the same staged inputs
    val staged = KpiQueries.prepareStreamingData(
      ParquetIO.read(spark, s"${cfg.stagingDir}/streams"),
      ParquetIO.read(spark, s"${cfg.stagingDir}/songs"),
      ParquetIO.read(spark, s"${cfg.stagingDir}/users"))
    val reference = KpiQueries.all(staged)
    r.kpiRows.keySet shouldBe reference.keySet
    for ((name, df) <- reference.toSeq.sortBy(_._1)) withClue(s"$name: ") {
      val want = rows(df)
      rows(spark.read.parquet(s"${cfg.outputDir}/$name")) shouldBe want
      r.kpiRows(name) shouldBe want.values.sum
    }
    val projections = Seq[(String, (DataFrame, String) => DataFrame)](
      "user_kpis" -> KpiItems.userItems,
      "genre_daily_metrics_kpi" -> KpiItems.genreDailyItems,
      "genre_top_songs_kpi" -> KpiItems.topSongsItems,
      "genre_top_genres_kpi" -> KpiItems.topGenresItems,
      "trending_kpis" -> KpiItems.trendingItems)
    val items = projections.flatMap { case (name, project) =>
      project(reference(name), cfg.runTs).collect().map(KpiSink.toItem).toSeq
    }
    store.scanAll().toSet shouldBe items.toSet
    store.size shouldBe items.size
    r.servedItems shouldBe items.size
  }
}
