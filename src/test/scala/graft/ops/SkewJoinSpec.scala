package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SkewJoinSpec extends SparkSpec {

  // one pathological key carrying 90% of the rows
  private lazy val skewed = spark.range(0, 10000).select(
    when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100).as("key"),
    col("id").as("event_id"))
  private lazy val dim = spark.range(0, 100).select(
    col("id").as("key"), concat(lit("d"), col("id")).as("label"))

  test("saltedJoin equals the plain join row-for-row") {
    val plain = skewed.join(dim, "key")
      .select("key", "event_id", "label").collect().map(_.toSeq).sortBy(_.toString)
    val salted = SkewJoin.saltedJoin(skewed, dim, "key", col("event_id"), salts = 8)
      .select("key", "event_id", "label").collect().map(_.toSeq).sortBy(_.toString)
    salted shouldBe plain
    plain.length shouldBe 10000
  }

  test("the hot key genuinely spreads over multiple salt partitions") {
    val spread = skewed.filter(col("key") === 7L)
      .select(pmod(xxhash64(col("event_id")), lit(8L)).as("salt"))
      .distinct().count()
    spread should be > 4L
  }

  test("salts=1 degenerates to the plain join") {
    SkewJoin.saltedJoin(skewed, dim, "key", col("event_id"), salts = 1)
      .count() shouldBe 10000L
  }
}
