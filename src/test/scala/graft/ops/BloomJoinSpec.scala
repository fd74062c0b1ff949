package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.BloomExpressions

class BloomJoinSpec extends SparkSpec {

  test("no false negatives ever: every inserted key tests positive") {
    val k = BloomExpressions.numHashes(10)
    val nBits = BloomExpressions.numBits(1000, 10)
    val bits = new Array[Long](nBits / 64)
    val keys = (1 to 1000).map(i => i * 0x9E3779B97F4A7C15L + i)
    keys.foreach(h => BloomExpressions.setBits(bits, h, k))
    keys.forall(h => BloomExpressions.testBits(bits, h, k)) shouldBe true
  }

  test("false-positive rate stays near the bits-per-key budget") {
    val k = BloomExpressions.numHashes(10)
    val nBits = BloomExpressions.numBits(1000, 10)
    val bits = new Array[Long](nBits / 64)
    (1 to 1000).foreach(i => BloomExpressions.setBits(bits, i * 7919L + 3, k))
    val fps = (1 to 20000).count(i => BloomExpressions.testBits(bits, -i * 104729L - 7, k))
    // 10 bits/key targets ~1% before pow2 rounding; allow generous slack
    (fps / 20000.0) should be < 0.03
  }

  test("prunedJoin equals the plain join exactly, and the plan carries the probe") {
    val big = spark.range(0, 5000).select(
      (col("id") % 500).as("key"), (col("id") * 3).as("payload"))
    val small = spark.range(0, 500).filter(col("id") % 37 === 0)
      .select(col("id").as("key"), concat(lit("v"), col("id")).as("name"))

    val pruned = BloomJoin.prunedJoin(big, small, "key", expectedKeys = 500)
    val plain = big.join(small, "key")

    pruned.schema.fieldNames shouldBe plain.schema.fieldNames
    val a = pruned.collect().map(_.toSeq).sortBy(_.toString)
    val b = plain.collect().map(_.toSeq).sortBy(_.toString)
    a shouldBe b
    b.length should be > 0

    pruned.queryExecution.executedPlan.toString should include ("bloom_might_contain")
  }

  test("the filter genuinely prunes non-matching big-side rows before the join") {
    val big = spark.range(0, 10000).select((col("id") % 1000).as("key"))
    val small = spark.range(0, 10).select(col("id").as("key"))
    val (bits, k) = BloomExpressions.buildBloom(small, "key", expectedKeys = 10)
    val survivors = big.filter(
      BloomExpressions.mightContain(xxhash64(col("key")), bits, k)).count()
    // 100 true matches; FPs admit a few extra keys at most
    survivors should be >= 100L
    survivors should be < 1000L
  }

  test("codegen: two probes in one whole-stage function compile (no fallback)") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try {
      val k = BloomExpressions.numHashes(10)
      val bits = new Array[Long](16)
      (1L to 50L).foreach(h => BloomExpressions.setBits(bits, h, k))
      val df = spark.range(100)
      val out = df
        .filter(BloomExpressions.mightContain(xxhash64(col("id")), bits, k) ||
          BloomExpressions.mightContain(xxhash64(col("id") + 1), bits, k))
        .select(BloomExpressions.mightContain(xxhash64(col("id") * 2), bits, k).as("p"))
      out.queryExecution.executedPlan.toString should include ("*(")
      out.collect() // compiles and runs
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("empty small side -> empty bitset -> everything pruned, join still exact") {
    val big = spark.range(0, 100).select(col("id").as("key"))
    val small = spark.range(0, 100).filter(col("id") < 0)
      .select(col("id").as("key"))
    val out = BloomJoin.prunedJoin(big, small, "key", expectedKeys = 1)
    out.count() shouldBe 0
  }
}
