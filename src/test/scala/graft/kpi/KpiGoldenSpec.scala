package graft.kpi

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hand-computed golden outputs for the five KPI queries on a tiny corpus
  * that pins every SURVEY §7.4 parity trap: dim-miss null groups, null
  * listening-time sums, dense-rank ties, and the DESC range frame
  * counting [t, t+24h].
  */
class KpiGoldenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val streams = Seq(
    ("u1", "t1", "2024-06-25 00:00:00"),
    ("u1", "t2", "2024-06-25 01:00:00"),
    ("u2", "t1", "2024-06-25 02:00:00"),
    ("u3", "t3", "2024-06-25 03:00:00"), // both dims miss
    ("u2", "t4", "2024-06-25 04:00:00"),
    ("u1", "t1", "2024-06-26 01:30:00")  // 23.5h after the 02:00 t1 play
  ).toDF("user_id", "track_id", "listen_time")
    .withColumn("listen_time", to_timestamp(col("listen_time")))

  private lazy val songs = Seq(
    ("t1", "Track One", "A1", "rock", 60000L),
    ("t2", "Track Two", "A2", "pop", 120000L),
    ("t4", "Track Four", "A4", "pop", 180000L)
  ).toDF("track_id", "track_name", "artists", "track_genre", "duration_ms")

  private lazy val users = Seq(
    ("u1", "Alice", "US"),
    ("u2", "Bob", "DE")
  ).toDF("user_id", "user_name", "user_country")

  private lazy val enriched = KpiQueries.prepareStreamingData(streams, songs, users)

  test("enrichment preserves fact rows and propagates dim-miss nulls") {
    enriched.count() shouldBe 6
    val miss = enriched.filter($"track_id" === "t3").collect().head
    miss.getAs[String]("track_genre") shouldBe null
    miss.getAs[String]("user_name") shouldBe null
    assert(miss.isNullAt(miss.fieldIndex("listening_time")))
  }

  test("userKpis: counts include dim-miss rows, sums/avgs skip them") {
    val got = KpiQueries.userKpis(enriched)
      .select("user_id", "user_name", "user_country", "total_songs_played",
        "total_listening_time_minutes", "avg_listening_time_minutes", "kpi_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), Option(r.get(5)).map(_.asInstanceOf[Double]), r.getString(6)))
      .toSet
    got shouldBe Set(
      ("u1", "Alice", "US", 3L, Some(4.0), Some(4.0 / 3), "user"),
      ("u2", "Bob", "DE", 2L, Some(4.0), Some(2.0), "user"),
      ("u3", null, null, 1L, None, None, "user"))
  }

  test("genreDailyMetrics: null-genre group retained, null time sum") {
    val got = KpiQueries.genreDailyMetrics(enriched)
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getString(1),
        r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))
      .toSet
    got shouldBe Set(
      ("2024-06-25", "rock", 2L, 2L, Some(2.0)),
      ("2024-06-25", "pop", 2L, 2L, Some(5.0)),
      ("2024-06-25", null, 1L, 1L, None),
      ("2024-06-26", "rock", 1L, 1L, Some(1.0)))
  }

  test("genreTopSongs: dense_rank keeps ties (two rank-1 pop tracks)") {
    val got = KpiQueries.genreTopSongs(enriched)
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getString(1),
        r.getString(2), r.getLong(3), r.getInt(4))).toSet
    got shouldBe Set(
      ("2024-06-25", "rock", "t1", 2L, 1),
      ("2024-06-25", "pop", "t2", 1L, 1),
      ("2024-06-25", "pop", "t4", 1L, 1),
      ("2024-06-25", null, "t3", 1L, 1),
      ("2024-06-26", "rock", "t1", 1L, 1))
  }

  test("genreTopGenres: tie on listen_count shares rank 1") {
    val got = KpiQueries.genreTopGenres(enriched)
      .select("date", "track_genre", "listen_count", "rank")
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getString(1),
        r.getLong(2), r.getInt(3))).toSet
    got shouldBe Set(
      ("2024-06-25", "rock", 2L, 1),
      ("2024-06-25", "pop", 2L, 1),
      ("2024-06-25", null, 1L, 2),
      ("2024-06-26", "rock", 1L, 1))
  }

  test("trendingKpis: DESC range frame counts events in [t, t+24h]") {
    val got = KpiQueries.trendingKpis(enriched)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getLong(4), r.getString(5)))
      .toSet
    // t1: the 02:00 play sees the next-day 01:30 play inside [t, t+24h] ⇒ 2
    got shouldBe Set(
      ("t1", "rock", 2L, Some(3.0), 2L, "trending"),
      ("t2", "pop", 1L, Some(2.0), 1L, "trending"),
      ("t4", "pop", 1L, Some(3.0), 1L, "trending"),
      ("t3", null, 1L, None, 1L, "trending"))
  }

  test("trendingKpis output is sorted by plays_last_24h desc") {
    val plays = KpiQueries.trendingKpis(enriched)
      .select("plays_last_24h").collect().map(_.getLong(0)).toSeq
    plays shouldBe plays.sorted.reverse
  }

  test("trendingKpisBucketed is row-identical to trendingKpis (incl. 24h boundary)") {
    // boundary corpus: events exactly 24h apart (inclusive frame), plus
    // bucket-straddling events 23.5h apart across a day boundary
    val boundary = Seq(
      ("u1", "t1", "2024-06-25 00:00:00"),
      ("u2", "t1", "2024-06-26 00:00:00"), // exactly +24h: inside [t, t+24h]
      ("u3", "t1", "2024-06-26 00:00:01"), // +24h1s: outside the first frame
      ("u1", "t2", "2024-06-25 23:00:00"),
      ("u2", "t2", "2024-06-26 22:30:00")  // +23.5h, next bucket
    ).toDF("user_id", "track_id", "listen_time")
      .withColumn("listen_time", to_timestamp(col("listen_time")))
    val e2 = KpiQueries.prepareStreamingData(boundary, songs, users)
    for (en <- Seq(enriched, e2)) {
      val a = KpiQueries.trendingKpis(en).collect().map(_.toSeq).toSet
      val b = KpiQueries.trendingKpisBucketed(en).collect().map(_.toSeq).toSet
      b shouldBe a
    }
    // pin the boundary semantics: the +24h event IS counted in t1's frame
    KpiQueries.trendingKpisBucketed(e2).filter($"track_id" === "t1")
      .collect().head.getLong(2) shouldBe 2L
  }

  test("bucketed trending bounds the hot-key window partition") {
    // viral track: 2,000 plays spread over 10 days; the exact plan puts
    // ALL of them in one window partition, the bucketed plan caps every
    // partition at ~2 days of a track's history (owners + context)
    val viral = (0 until 2000).map { i =>
      (s"u${i % 50}", "hot", f"2024-06-${10 + i / 200}%02d ${(i / 9) % 24}%02d:${(i * 7) % 60}%02d:00")
    }.toDF("user_id", "track_id", "listen_time")
      .withColumn("listen_time", to_timestamp(col("listen_time")))
    val e = KpiQueries.prepareStreamingData(viral, songs, users)

    // identical results
    val exact = KpiQueries.trendingKpis(e).collect().map(_.toSeq).toSet
    val bucketed = KpiQueries.trendingKpisBucketed(e).collect().map(_.toSeq).toSet
    bucketed shouldBe exact

    // partition-key cardinality: exact = one key holding all 2000 rows;
    // bucketed = per-(track, day-bucket) keys holding ≤ 2 days ≈ 400+400
    val u = e.withColumn("unix_timestamp", unix_timestamp(col("timestamp")))
      .withColumn("bucket", floor(col("unix_timestamp") / 86400L))
    val exactMax = u.groupBy("track_id").count().agg(max("count")).collect().head.getLong(0)
    val bucketedMax = u.withColumn("part", explode(array(col("bucket"), col("bucket") - 1)))
      .groupBy("track_id", "part").count().agg(max("count")).collect().head.getLong(0)
    exactMax shouldBe 2000L
    bucketedMax should be <= 500L // ~2 days of a 10-day uniform history
  }

  test("KpiQueries.all exposes the five reference output names") {
    KpiQueries.all(enriched).keySet shouldBe Set("user_kpis",
      "genre_daily_metrics_kpi", "genre_top_songs_kpi",
      "genre_top_genres_kpi", "trending_kpis")
  }

  test("approx-distinct switch stays within HLL error of exact") {
    val exact = KpiQueries.genreDailyMetrics(enriched)
      .agg(sum("unique_listeners")).collect().head.getLong(0)
    val approx = KpiQueries.genreDailyMetrics(enriched, approxDistinct = true)
      .agg(sum("unique_listeners")).collect().head.getLong(0)
    approx.toDouble shouldBe exact.toDouble +- (exact * 0.1)
  }
}
