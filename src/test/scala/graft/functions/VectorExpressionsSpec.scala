package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Dedup

/** Bit-identity guarantees: the codegen'd kernels must produce EXACTLY
  * the doubles/longs of the declarative HOF reference implementations
  * (same fold order), not merely close values — the DuckDB oracle
  * hash-compare depends on it.
  */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("dotD is bit-identical to the zip_with/aggregate fold on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val asD = transform(col("embedding"), _.cast("double"))
    val pairs = e.select(col("vec_id").as("a"), asD.as("av"))
      .crossJoin(e.select(col("vec_id").as("b"), asD.as("bv")))
      .filter(col("a") < col("b"))
    val diff = pairs.select(
      VectorExpressions.dotD(col("av"), col("bv")).as("fast"),
      aggregate(zip_with(col("av"), col("bv"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("ref"))
      .filter(col("fast") =!= col("ref")) // exact double equality
    diff.count() shouldBe 0
  }

  test("dotD eval (interpreted) matches codegen path") {
    // constant-folded/interpreted evaluation exercises nullSafeEval
    val v = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    v.select(VectorExpressions.dotD(col("a"), col("b"))).collect().head.getDouble(0) shouldBe 32.0
  }

  // Regression for the r2 bench failure: fixed local names in doGenCode
  // collided when the same kernel was instantiated twice in one generated
  // function (non-nullable inputs → nullSafeCodeGen emits no scoping
  // braces), Janino threw "Redefinition of local variable i", and Spark
  // silently fell back to interpreted eval. fallback=false turns that
  // silent fallback into a test failure.
  private def withNoCodegenFallback[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try body finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("codegen: two dotD instances in one whole-stage function compile (no fallback)") {
    withNoCodegenFallback {
      // array(lit...) columns are non-nullable → worst case for scoping
      val df = spark.range(100).select(
        array(lit(1.0), col("id").cast("double")).as("a"),
        array(lit(2.0), lit(3.0)).as("b"))
      // dotD in the filter AND (argument-swapped, so CSE can't merge them)
      // in the projection — both land in the same generated function.
      val out = df
        .filter(VectorExpressions.dotD(col("a"), col("b")) > lit(-1.0))
        .select(
          VectorExpressions.dotD(col("a"), col("b")).as("d1"),
          VectorExpressions.dotD(col("b"), col("a")).as("d2"))
      out.queryExecution.executedPlan.toString should include ("*(")
      out.collect().length shouldBe 100
    }
  }

  test("codegen: two simhashSig instances in one whole-stage function compile (no fallback)") {
    withNoCodegenFallback {
      val df = spark.range(100).select(
        array(col("id"), col("id") * 7L, lit(42L)).as("xs"),
        array(lit(3L), col("id")).as("ys"))
      val out = df
        .filter(VectorExpressions.simhashSig(col("xs")) >= Long.MinValue)
        .select(
          VectorExpressions.simhashSig(col("xs")).as("s1"),
          VectorExpressions.simhashSig(col("ys")).as("s2"))
      out.queryExecution.executedPlan.toString should include ("*(")
      out.collect().length shouldBe 100
    }
  }

  test("simhashSig interpreted eval: hand-pinned single- and multi-token cases") {
    // one token: every set bit wins its vote -> simhash == the token hash
    spark.range(1).select(VectorExpressions.simhashSig(array(lit(42L))))
      .head().getLong(0) shouldBe 42L
    // two tokens: bit set only where BOTH agree set (+2>0); disagreeing
    // bits cancel to 0 (not > 0) -> bitwise AND for the 2-token case
    spark.range(1).select(VectorExpressions.simhashSig(array(lit(0b1100L), lit(0b1010L))))
      .head().getLong(0) shouldBe 0b1000L
    // empty array -> 0
    spark.range(1).select(VectorExpressions.simhashSig(
      array().cast("array<long>"))).head().getLong(0) shouldBe 0L
    // null ELEMENT votes like hash 0 in BOTH eval paths (no NPE, no
    // interpreted/codegen divergence): [42, null] == [42, 0]
    val withNull = spark.range(1).select(VectorExpressions.simhashSig(
      array(lit(42L), lit(null).cast("long")))).head().getLong(0)
    val withZero = spark.range(1).select(VectorExpressions.simhashSig(
      array(lit(42L), lit(0L)))).head().getLong(0)
    withNull shouldBe withZero
    // int arrays implicitly cast up to long (analysis-time, not byte reads)
    spark.range(1).select(VectorExpressions.simhashSig(array(lit(42))))
      .head().getLong(0) shouldBe 42L
  }

  test("codegen: two minhashSig instances in one whole-stage function compile (no fallback)") {
    withNoCodegenFallback {
      val (as1, bs1) = Dedup.hashCoeffs(8, 1L)
      val (as2, bs2) = Dedup.hashCoeffs(8, 2L)
      val P = (1L << 61) - 1
      val df = spark.range(100).select(array(lit(7L), col("id")).as("xs"))
      val out = df.select(
        VectorExpressions.minhashSig(col("xs"), as1, bs1, P).as("s1"),
        VectorExpressions.minhashSig(col("xs"), as2, bs2, P).as("s2"))
      out.queryExecution.executedPlan.toString should include ("*(")
      out.collect().length shouldBe 100
    }
  }

  test("codegen: two pqEncode/pqAdcDot instances compile in one whole-stage function") {
    withNoCodegenFallback {
      val cb = Array.tabulate(2 * 4 * 2)(_.toDouble) // m=2, k=4, dsub=2
      val df = spark.range(100).select(
        array(col("id").cast("double"), lit(1.0), lit(2.0),
          col("id").cast("double")).as("v"),
        array(lit(0.5), lit(1.5), lit(2.5), lit(3.5),
          lit(0.5), lit(1.5), lit(2.5), lit(3.5)).as("lut"))
      val out = df
        .filter(PqExpressions.pqEncode(col("v"), cb, 2, 4, 2) >= 0L)
        .select(
          PqExpressions.pqEncode(col("v"), cb, 2, 4, 2).as("c1"),
          PqExpressions.pqAdcDot(col("lut"),
            PqExpressions.pqEncode(col("v"), cb, 2, 4, 2), 2, 4).as("s1"),
          PqExpressions.pqAdcDot(col("lut"), lit(0L), 2, 4).as("s2"))
      out.queryExecution.executedPlan.toString should include ("*(")
      out.collect().length shouldBe 100
    }
  }

  test("pqEncode interpreted eval matches codegen path") {
    // m=1, k=2, dsub=2: centroids (0,0) and (10,10); vector (9,9) -> code 1
    val cb = Array(0.0, 0.0, 10.0, 10.0)
    val df = Seq(Seq(9.0, 9.0)).toDF("v")
    df.select(PqExpressions.pqEncode(col("v"), cb, 1, 2, 2))
      .collect().head.getLong(0) shouldBe 1L
  }

  test("minhashSig is value-identical to the transform/array_min reference") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    // same deterministic coefficients the library uses (seed 42, 64 hashes)
    val (as, bs) = Dedup.hashCoeffs(64, 42L)
    val P = (1L << 61) - 1
    val aArr = array(as.map(lit(_)).toIndexedSeq: _*)
    val bArr = array(bs.map(lit(_)).toIndexedSeq: _*)
    val xs = transform(col("shingles"), s => pmod(xxhash64(s), lit(1L << 31)))
    val both = sets.select(
      VectorExpressions.minhashSig(xs, as, bs, P).as("fast"),
      transform(sequence(lit(0), lit(63)),
        j => array_min(transform(xs,
          x => pmod(element_at(aArr, j + 1) * x + element_at(bArr, j + 1), lit(P))))).as("ref"))
    both.filter(col("fast") =!= col("ref")).count() shouldBe 0
  }
}
