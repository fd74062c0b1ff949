package graft.pipeline

import java.io.PrintWriter

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.serve.{KpiSink, KvDataSource}

/** The reference's full three-job chain — validate → transform/KPIs →
  * serve (`dags/music_streaming_pipeline.py:888-937` task order) — run
  * END TO END in-process on the reference's SHIPPED data: all 34,038
  * stream rows (`data/streams/streams{1,2,3}.csv`) and all 50,000 users
  * (`data/users/users.csv`), then read BACK through the DSv2 KV face
  * with both GSI access patterns plus the point-get.
  *
  * The snapshot ships no songs.csv (`.MISSING_LARGE_BLOBS`), so the dim
  * is synthesized deterministically from the stream fact itself: one row
  * per distinct track_id (sorted), genre round-robin over five names,
  * duration 180,000 ms (= exactly 3.0 minutes) — which makes every
  * downstream number computable by hand. Golden values below were
  * computed independently (DuckDB over the same CSVs + the same
  * round-robin rule), NOT by running this pipeline.
  */
class ReferencePipelineE2ESpec extends SparkSpec {

  private val refData = "/root/reference/data"
  private val genres = Seq("pop", "rock", "jazz", "metal", "folk")
  private val runTs = "2024-06-26T00:00:00"

  // golden values (DuckDB, see scaladoc)
  private val N_STREAMS = 34038L
  private val N_TRACKS  = 28352L
  private val N_USERS_ACTIVE = 18006L
  private val GENRE_LISTENS = Map(
    "pop" -> 6790L, "rock" -> 6825L, "jazz" -> 6799L,
    "metal" -> 6814L, "folk" -> 6810L)
  private val ROCK_LISTENERS = 5974L

  private def writeSongsCsv(path: String): Unit = {
    val ids = spark.read.option("header", "true")
      .csv(s"$refData/streams/streams1.csv", s"$refData/streams/streams2.csv",
        s"$refData/streams/streams3.csv")
      .select("track_id").distinct().collect().map(_.getString(0)).sorted
    val w = new PrintWriter(path)
    try {
      w.println("id,track_id,artists,album_name,track_name,popularity,duration_ms," +
        "explicit,danceability,energy,key,loudness,mode,speechiness,acousticness," +
        "instrumentalness,liveness,valence,tempo,time_signature,track_genre")
      ids.zipWithIndex.foreach { case (t, i) =>
        w.println(s"$i,$t,artist_${i % 100},album_${i % 50},track_$i,${i % 101}," +
          s"180000,false,0.5,0.5,0,-10.0,1,0.1,0.1,0.1,0.1,0.5,120.0,4,${genres(i % 5)}")
      }
    } finally w.close()
  }

  test("full chain on shipped data: ingest → KPIs → serve → DSv2 read-back") {
    val base = tmpDir("refpipe")
    writeSongsCsv(s"$base/songs.csv")
    val cfg = PipelineJob.Config(
      streamFiles = Seq(s"$refData/streams/streams1.csv",
        s"$refData/streams/streams2.csv", s"$refData/streams/streams3.csv"),
      songsCsv = s"$base/songs.csv",
      usersCsv = s"$refData/users/users.csv",
      stagingDir = s"$base/staging",
      outputDir = s"$base/out",
      quarantineDir = Some(s"$base/quarantine"),
      runTs = runTs)
    val store = new KpiSink.InMemoryKvStore()
    val r = PipelineJob.run(spark, cfg, Some(store))

    // — job 1, validation: every shipped row is clean
    r.stagedStreamRows shouldBe N_STREAMS

    // — job 2, KPIs: row counts against independently-computed cardinalities
    r.kpiRows("user_kpis") shouldBe N_USERS_ACTIVE
    r.kpiRows("genre_daily_metrics_kpi") shouldBe genres.size.toLong // 1 day × 5 genres
    r.kpiRows("trending_kpis") shouldBe N_TRACKS
    r.kpiRows("genre_top_songs_kpi") should be > 0L
    r.kpiRows("genre_top_genres_kpi") should be > 0L

    // per-genre listen counts and the duration contract (3.0 min/play)
    val daily = spark.read.parquet(s"$base/out/genre_daily_metrics_kpi")
      .collect().map(x => x.getAs[String]("track_genre") ->
        (x.getAs[Long]("listen_count"), x.getAs[Long]("unique_listeners"))).toMap
    daily.view.mapValues(_._1).toMap shouldBe GENRE_LISTENS
    daily("rock")._2 shouldBe ROCK_LISTENERS
    val userTotals = spark.read.parquet(s"$base/out/user_kpis")
      .agg(sum("total_songs_played"), sum("total_listening_time_minutes"))
      .head()
    userTotals.getLong(0) shouldBe N_STREAMS
    userTotals.getDouble(1) shouldBe (N_STREAMS * 3.0) +- 1e-6

    // — job 3, serve: everything landed in the KV store
    r.servedItems shouldBe r.kpiRows.values.sum
    store.size.toLong shouldBe r.servedItems

    // — DSv2 read-back, GSI 1 (KpiTypeIndex): genre_daily by kpi_type
    val kv = spark.read.format(KvDataSource.Format)
      .option("store", store.id).load()
    val dailyBack = kv.filter(col("kpi_type") === "genre_daily")
      .select("genre", "listen_count").collect()
      .map(x => x.getString(0) -> x.getAs[Number](1).longValue()).toMap
    dailyBack shouldBe GENRE_LISTENS
    store.lastReadPattern shouldBe "KpiTypeIndex"

    // — DSv2 read-back, GSI 2 (GenreDateIndex): rock on the single day.
    // The index holds EVERY rock item carrying (genre, date) — daily AND
    // top-songs — so narrow to the daily item on the collected rows (a
    // kpi_type predicate in the plan would re-route to GSI 1 instead).
    val rockRows = kv.filter(col("genre") === "rock" &&
        col("date") === "2024-06-25T00:00:00")
      .select("kpi_type", "listen_count", "unique_listeners").collect()
    store.lastReadPattern shouldBe "GenreDateIndex"
    val rockDaily = rockRows.filter(_.getString(0) == "genre_daily")
    rockDaily.length shouldBe 1
    rockDaily.head.getAs[Number](1).longValue() shouldBe GENRE_LISTENS("rock")
    rockDaily.head.getAs[Number](2).longValue() shouldBe ROCK_LISTENERS

    // — DSv2 read-back, primary-key point get: first user of streams1.csv
    kv.filter(col("id") === "USER_26213" && col("timestamp") === runTs)
      .count() shouldBe 1
    store.lastReadPattern shouldBe "GetItem"
  }
}
