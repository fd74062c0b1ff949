package graft.io

import org.apache.spark.sql.types._

import graft.SparkSpec

class JsonlSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("score", DoubleType)))

  private def fixture = Seq(s"${graft.SparkEntry.FixturesDir}/docs.jsonl")

  test("readSplit: malformed lines and type errors quarantine, clean side drops the marker") {
    val (clean, corrupt) = JsonlSource.readSplit(spark, schema, fixture)
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang", "score"))
    assert(clean.count() == 8, "10 lines - 1 malformed - 1 type error")
    val bad = corrupt.select(JsonlSource.CorruptCol).collect().map(_.getString(0))
    assert(bad.length == 2)
    assert(bad.exists(_.contains("unterminated")), "malformed JSON line captured raw")
    assert(bad.exists(_.contains("high")), "type-error line captured raw")
  }

  test("missing fields are null, extra fields are ignored") {
    val (clean, _) = JsonlSource.readSplit(spark, schema, fixture)
    val byId = clean.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(6L).isNullAt(2), "absent lang field reads as null, not corrupt")
    assert(byId(7L).getString(1) == "extra field ignored",
      "a line with extra keys still parses against the declared schema")
  }
}
