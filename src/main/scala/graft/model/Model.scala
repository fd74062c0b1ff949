package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Core data model of the engine (SURVEY §1.2).
  *
  * Mirrors the reference's three tables — streams fact, songs/users dims —
  * with explicit schemas (never inference in production paths; cf.
  * reference `scripts/validate_data.py:49-55` for streams and the
  * inferred-but-validated songs/users reads at `:206-249`).
  */
final case class Stream(user_id: String, track_id: String, listen_time: Timestamp)

final case class Song(
    id: Int,
    track_id: String,
    artists: String,
    album_name: String,
    track_name: String,
    popularity: Int,
    duration_ms: Long,
    explicit: Boolean,
    danceability: Double,
    energy: Double,
    key: Int,
    loudness: Double,
    mode: Int,
    speechiness: Double,
    acousticness: Double,
    instrumentalness: Double,
    liveness: Double,
    valence: Double,
    tempo: Double,
    time_signature: Int,
    track_genre: String)

final case class User(
    user_id: String,
    user_name: String,
    user_age: Int,
    user_country: String,
    created_at: java.sql.Date)

object Schemas {
  /** Fixed streams schema — reference `scripts/validate_data.py:49-55`. */
  val streams: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("track_id", StringType),
    StructField("listen_time", TimestampType)))

  /** Songs schema — reference `REQUIRED_SONGS_COLUMNS`,
    * `scripts/validate_data.py:17-39` (public Spotify-tracks shape);
    * declared here instead of `inferSchema` (SURVEY §1.3).
    */
  val songs: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("track_id", StringType),
    StructField("artists", StringType),
    StructField("album_name", StringType),
    StructField("track_name", StringType),
    StructField("popularity", IntegerType),
    StructField("duration_ms", LongType),
    StructField("explicit", BooleanType),
    StructField("danceability", DoubleType),
    StructField("energy", DoubleType),
    StructField("key", IntegerType),
    StructField("loudness", DoubleType),
    StructField("mode", IntegerType),
    StructField("speechiness", DoubleType),
    StructField("acousticness", DoubleType),
    StructField("instrumentalness", DoubleType),
    StructField("liveness", DoubleType),
    StructField("valence", DoubleType),
    StructField("tempo", DoubleType),
    StructField("time_signature", IntegerType),
    StructField("track_genre", StringType)))

  /** Users schema — reference `REQUIRED_USERS_COLUMNS`,
    * `scripts/validate_data.py:40-46`; `user_id` kept string downstream.
    */
  val users: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("user_name", StringType),
    StructField("user_age", IntegerType),
    StructField("user_country", StringType),
    StructField("created_at", DateType)))

  /** Columns required of a songs load (presence check P7). */
  val requiredSongsColumns: Set[String] = songs.fieldNames.toSet
  /** Columns required of a users load (presence check P7). */
  val requiredUsersColumns: Set[String] = users.fieldNames.toSet
}
