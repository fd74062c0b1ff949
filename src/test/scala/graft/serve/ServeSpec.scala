package graft.serve

import org.apache.spark.sql.functions._

import graft.{KvStores, SparkSpec}
import graft.kpi.KpiQueries

object DelayCapture {
  val delays = new java.util.concurrent.CopyOnWriteArrayList[Long]()
}

class ServeSpec extends SparkSpec with KvStores {
  import spark.implicits._

  private val runTs = "2024-07-01T00:00:00"

  private lazy val enriched = KpiQueries.prepareStreamingData(
    Seq(("u1", "t1", "2024-06-25 10:00:00"), ("u2", "t9", "2024-06-25 11:00:00"))
      .toDF("user_id", "track_id", "listen_time")
      .withColumn("listen_time", to_timestamp(col("listen_time"))),
    Seq(("t1", "T", "A", "rock", 60000L)).toDF("track_id", "track_name", "artists", "track_genre", "duration_ms"),
    Seq(("u1", "Alice", "US")).toDF("user_id", "user_name", "user_country"))

  test("key synthesis formats: space date in ids, T date in attributes, None for null genre") {
    val items = KpiItems.genreDailyItems(KpiQueries.genreDailyMetrics(enriched), runTs)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    items.keySet shouldBe Set(
      "GENRE_DAILY_rock_2024-06-25 00:00:00",
      "GENRE_DAILY_None_2024-06-25 00:00:00")
    val rock = items("GENRE_DAILY_rock_2024-06-25 00:00:00")
    rock.getAs[String]("date") shouldBe "2024-06-25T00:00:00"
    rock.getAs[String]("timestamp") shouldBe runTs
    // null-genre group: total_time sums nothing -> coalesced to 0.0
    items("GENRE_DAILY_None_2024-06-25 00:00:00").getAs[Double]("total_time") shouldBe 0.0
  }

  test("user items coalesce null aggregates and synthesize USER_ keys") {
    val items = KpiItems.userItems(KpiQueries.userKpis(enriched), runTs)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    items.keySet shouldBe Set("USER_u1", "USER_u2")
    items("USER_u2").getAs[Double]("total_time") shouldBe 0.0 // t9 misses the dim
    items("USER_u1").getAs[Double]("total_time") shouldBe 1.0
  }

  test("toItem: floats to BigDecimal(str), nulls omitted, scalars passed") {
    val row = Seq((1.5, "x", null.asInstanceOf[String], 3L))
      .toDF("d", "s", "n", "l").collect().head
    val item = KpiSink.toItem(row)
    item("d") shouldBe BigDecimal("1.5")
    item("s") shouldBe "x"
    item("l") shouldBe 3L
    item.contains("n") shouldBe false
  }

  test("sink batches at 25 and applies overwrite-by-pkeys") {
    val store = newStore()
    val items = (1 to 60).map(i => (s"ID_$i", runTs, i)).toDF("id", "timestamp", "v")
      .coalesce(1)
    KpiSink.write(items, store)
    store.size shouldBe 60
    store.batchSizeHistogram shouldBe Map(25 -> 2, 10 -> 1)
    // overwrite on the same (id, timestamp)
    KpiSink.write(items.withColumn("v", col("v") * 10), store)
    store.size shouldBe 60
    store.getItem("ID_1", runTs).get("v") shouldBe 10
  }

  test("sink retries throttled batches with exponential backoff then succeeds") {
    val store = newStore(throttleFirstN = 3)
    DelayCapture.delays.clear()
    val items = (1 to 5).map(i => (s"ID_$i", runTs)).toDF("id", "timestamp").coalesce(1)
    // the sleep closure runs on executors; DelayCapture is a JVM singleton
    // so local-mode executors and the test thread see the same list
    KpiSink.write(items, store, sleep = d => DelayCapture.delays.add(d))
    store.size shouldBe 5
    import scala.jdk.CollectionConverters._
    DelayCapture.delays.asScala.toSeq shouldBe Seq(1000L, 2000L, 4000L)
  }

  test("sink gives up after maxRetries") {
    val store = newStore(throttleFirstN = 100)
    val items = Seq(("A", runTs)).toDF("id", "timestamp").coalesce(1)
    val e = intercept[Exception] {
      KpiSink.write(items, store, sleep = _ => ())
    }
    e.getMessage should include("throttled")
    store.batchAttempts shouldBe KpiSink.MaxRetries + 1
  }

  // ------------------------------------------------------------------
  // Read path — docs/dynamodb-queries.md access patterns
  // ------------------------------------------------------------------

  private def readStore(): KpiSink.InMemoryKvStore = {
    val store = newStore()
    store.putBatch(Seq(
      Map("id" -> "USER_ENGAGEMENT_20240101", "timestamp" -> "2024-01-01T00:00:00",
        "kpi_type" -> "user_engagement", "value" -> BigDecimal("10.5")),
      Map("id" -> "USER_ENGAGEMENT_20240101", "timestamp" -> "2024-01-01T12:00:00",
        "kpi_type" -> "user_engagement", "value" -> BigDecimal("11.5")),
      Map("id" -> "USER_ENGAGEMENT_20240102", "timestamp" -> "2024-01-02T00:00:00",
        "kpi_type" -> "user_engagement", "value" -> BigDecimal("12.0")),
      Map("id" -> "GENRE_DAILY_rock_2024-01-01", "timestamp" -> "2024-01-01T00:00:00",
        "kpi_type" -> "genre_daily", "genre" -> "rock", "date" -> "2024-01-01",
        "value" -> BigDecimal("3.0")),
      Map("id" -> "GENRE_DAILY_rock_2024-01-02", "timestamp" -> "2024-01-02T00:00:00",
        "kpi_type" -> "genre_daily", "genre" -> "rock", "date" -> "2024-01-02",
        "value" -> BigDecimal("4.0")),
      Map("id" -> "GENRE_DAILY_pop_2024-01-01", "timestamp" -> "2024-01-01T00:00:00",
        "kpi_type" -> "genre_daily", "genre" -> "pop", "date" -> "2024-01-01",
        "value" -> BigDecimal("5.0"))))
    store
  }

  test("read path: point get and sort-key range on the primary key") {
    val store = readStore()
    store.getItem("USER_ENGAGEMENT_20240101", "2024-01-01T00:00:00")
      .get("value") shouldBe BigDecimal("10.5")
    store.lastReadPattern shouldBe "GetItem"
    store.getItem("USER_ENGAGEMENT_20240101", "1999-01-01T00:00:00") shouldBe None

    // id + timestamp BETWEEN — docs/dynamodb-queries.md:51-60
    val day1 = store.queryById("USER_ENGAGEMENT_20240101",
      Some("2024-01-01T00:00:00"), Some("2024-01-01T23:59:59"))
    day1.map(_("timestamp")) shouldBe
      Seq("2024-01-01T00:00:00", "2024-01-01T12:00:00") // sort-key order
    store.queryById("USER_ENGAGEMENT_20240101").size shouldBe 2
  }

  test("read path: KpiTypeIndex serves type and type+time-range queries (GSI 1)") {
    val store = readStore()
    store.queryByKpiType("user_engagement").size shouldBe 3
    store.lastReadPattern shouldBe "KpiTypeIndex"
    // type + ts BETWEEN — docs/dynamodb-queries.md:75-86
    val jan1 = store.queryByKpiType("user_engagement",
      Some("2024-01-01T00:00:00"), Some("2024-01-01T23:59:59"))
    jan1.size shouldBe 2
    jan1.map(_("timestamp").toString) shouldBe sorted
    store.queryByKpiType("nope") shouldBe Nil
    // the index is sparse: genre_daily items carry kpi_type, so they index
    store.queryByKpiType("genre_daily").size shouldBe 3
  }

  test("read path: GenreDateIndex serves genre+date queries (GSI 2)") {
    val store = readStore()
    // exact genre+date — docs/dynamodb-queries.md:90-101
    val rockDay = store.queryByGenreDate("rock", Some("2024-01-01"), Some("2024-01-01"))
    rockDay.map(_("id")) shouldBe Seq("GENRE_DAILY_rock_2024-01-01")
    store.lastReadPattern shouldBe "GenreDateIndex"
    // genre + date BETWEEN — docs/dynamodb-queries.md:358-374
    store.queryByGenreDate("rock", Some("2024-01-01"), Some("2024-12-31")).size shouldBe 2
    // sparse: user_engagement items carry no genre, so they don't appear
    store.queryByGenreDate("pop").size shouldBe 1
  }

  test("read path: begins_with id prefix and overwrite keeps indexes consistent") {
    val store = readStore()
    store.queryByIdPrefix("GENRE_DAILY_rock").size shouldBe 2
    store.queryByIdPrefix("USER_").size shouldBe 3

    // overwrite the same (id, timestamp) with a CHANGED genre: the stale
    // GSI entry must disappear (DynamoDB index maintenance on PutItem)
    store.putBatch(Seq(Map(
      "id" -> "GENRE_DAILY_pop_2024-01-01", "timestamp" -> "2024-01-01T00:00:00",
      "kpi_type" -> "genre_daily", "genre" -> "jazz", "date" -> "2024-01-01",
      "value" -> BigDecimal("6.0"))))
    store.queryByGenreDate("pop") shouldBe Nil
    store.queryByGenreDate("jazz").map(_("value")) shouldBe Seq(BigDecimal("6.0"))
    store.size shouldBe 6 // overwrite, not insert
  }

  test("DSv2 read: filters push down to the right index; columns prune") {
    val store = readStore()
    val df = spark.read.format(KvDataSource.Format)
      .option("store", store.id).load()
    // inferred schema: keys first, value as double
    df.schema.fieldNames.take(2) shouldBe Array("id", "timestamp")
    df.schema("value").dataType shouldBe org.apache.spark.sql.types.DoubleType

    // full scan
    df.count() shouldBe 6

    // GSI 1 routing: kpi_type equality + ts range land on KpiTypeIndex
    val engaged = df.filter(col("kpi_type") === "user_engagement" &&
      col("timestamp") >= "2024-01-01T00:00:00" && col("timestamp") <= "2024-01-01T23:59:59")
    engaged.collect().map(_.getAs[Double]("value")).sorted shouldBe Array(10.5, 11.5)
    store.lastReadPattern shouldBe "KpiTypeIndex"

    // GSI 2 routing with column pruning
    val rock = df.filter(col("genre") === "rock" && col("date") === "2024-01-01")
      .select("value")
    rock.collect().map(_.getDouble(0)) shouldBe Array(3.0)
    store.lastReadPattern shouldBe "GenreDateIndex"

    // primary-key point read
    df.filter(col("id") === "USER_ENGAGEMENT_20240102" &&
        col("timestamp") === "2024-01-02T00:00:00")
      .count() shouldBe 1
    store.lastReadPattern shouldBe "GetItem"

    // residual (non-key) predicates still apply post-scan
    df.filter(col("kpi_type") === "user_engagement" && col("value") > 11.0)
      .count() shouldBe 2
    store.lastReadPattern shouldBe "KpiTypeIndex"
  }

  test("DSv2 schema inference is not a read: a schema-only load keeps the access pattern") {
    val store = readStore()
    store.getItem("USER_ENGAGEMENT_20240101", "2024-01-01T00:00:00")
    store.lastReadPattern shouldBe "GetItem"
    val schema = spark.read.format(KvDataSource.Format).option("store", store.id).load().schema
    schema.fieldNames.toSeq shouldBe Seq("id", "timestamp", "date", "genre", "kpi_type", "value")
    store.lastReadPattern shouldBe "GetItem"
  }

  test("drop frees a store: a later open or use fails as an unknown store id") {
    val store = readStore()
    store.drop()
    val load = intercept[Exception] {
      spark.read.format(KvDataSource.Format).option("store", store.id).load()
    }
    causeMessages(load) should include(s"unknown store id ${store.id}")
    intercept[IllegalArgumentException](store.size).getMessage should include("unknown store id")
    intercept[IllegalArgumentException] {
      KpiSink.InMemoryKvStore.open(store.id)
    }.getMessage should include("unknown store id")
  }

  test("DSv2 read: written items round-trip through the read path") {
    val store = newStore()
    val items = (1 to 40).map(i =>
      (f"KPI_$i%03d", runTs, "demo_kpi", i.toDouble))
      .toDF("id", "timestamp", "kpi_type", "value")
    KpiSink.write(items, store)

    val back = spark.read.format(KvDataSource.Format)
      .option("store", store.id).load()
      .filter(col("kpi_type") === "demo_kpi")
    back.count() shouldBe 40
    store.lastReadPattern shouldBe "KpiTypeIndex"
    back.agg(sum("value")).head.getDouble(0) shouldBe (1 to 40).sum.toDouble
  }

  test("trending and top-songs items carry reference id shapes") {
    val tr = KpiItems.trendingItems(KpiQueries.trendingKpis(enriched), runTs)
      .select("id").collect().map(_.getString(0)).toSet
    tr shouldBe Set("TRENDING_t1", "TRENDING_t9")
    val ts = KpiItems.topSongsItems(KpiQueries.genreTopSongs(enriched), runTs)
      .select("id").collect().map(_.getString(0)).toSet
    ts shouldBe Set(
      "GENRE_TOP_SONGS_rock_2024-06-25 00:00:00_t1",
      "GENRE_TOP_SONGS_None_2024-06-25 00:00:00_t9")
  }
}
