package graft.ops

import graft.SparkSpec

class EvalMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(rows: Seq[(Long, Seq[String], Seq[String])]) =
    rows.toDF("id", "cand", "ref")

  test("bleu matches the hand-computed clipped-overlap case") {
    // cand=[a b c] ref=[a b d]: m=(2,1,0,0), t=(3,2,1,0), no brevity hit
    val got = EvalMetrics.bleu(
      pairs(Seq((1L, Seq("a", "b", "c"), Seq("a", "b", "d")))),
      "id", "cand", "ref").collect().head
    got.getLong(1) shouldBe 3L // len_cand
    got.getLong(2) shouldBe 3L // len_ref
    (3 to 6).map(got.getLong) shouldBe Seq(2L, 1L, 0L, 0L)
    // 0.25 * (ln(3/4) + ln(2/3) + ln(1/2) + ln(1/1)) = -0.346574
    got.getDouble(7) shouldBe -0.346574
  }

  test("bleu clips repeated candidate grams against the reference multiset") {
    val got = EvalMetrics.bleu(
      pairs(Seq((1L, Seq("a", "a", "a"), Seq("a")))),
      "id", "cand", "ref").collect().head
    got.getLong(3) shouldBe 1L // m1 = min(cf=3, rf=1)
    got.getLong(4) shouldBe 0L // ref has no bigram
  }

  test("brevity penalty fires only when the candidate is shorter") {
    val short = EvalMetrics.bleu(
      pairs(Seq((1L, Seq("a", "b"), Seq("a", "b", "c", "d")))),
      "id", "cand", "ref").collect().head
    // 1 - 4/2 = -1 brevity + 0.25*(ln(3/3)+ln(2/2)+ln(1/1)+ln(1/1)) = -1
    short.getDouble(7) shouldBe -1.0
  }

  test("bleuCorpus pools matches and slot totals over pairs") {
    val got = EvalMetrics.bleuCorpus(
      pairs(Seq(
        (1L, Seq("a", "b", "c"), Seq("a", "b", "d")),
        (2L, Seq("x", "y"), Seq("x", "y")))),
      "id", "cand", "ref").collect().head
    got.getLong(0) shouldBe 2L  // n_pairs
    got.getLong(1) shouldBe 5L  // Σ len_cand
    got.getLong(3) shouldBe 4L  // Σ m1 = 2 + 2
    got.getLong(4) shouldBe 2L  // Σ m2 = 1 + 1
    // t = (5, 3, 1, 0); 0.25*(ln(5/6)+ln(3/4)+ln(1/2)+ln(1/1)) = -0.290788
    got.getDouble(7) shouldBe -0.290788
  }

  test("rouge precision/recall/F1 are the exact rationals") {
    val got = EvalMetrics.rouge(
      pairs(Seq((1L, Seq("a", "b", "c"), Seq("a", "b", "d")))),
      "id", "cand", "ref").collect().head
    got.getDouble(3) shouldBe 2.0 / 3.0 // r1_p
    got.getDouble(4) shouldBe 2.0 / 3.0 // r1_r
    got.getDouble(5) shouldBe 2.0 / 3.0 // r1_f (p == r)
    got.getDouble(6) shouldBe 0.5       // r2_p
    got.getDouble(8) shouldBe 0.5       // r2_f
  }

  test("rouge zero-overlap pair keeps its row with all-zero scores") {
    val got = EvalMetrics.rouge(
      pairs(Seq((1L, Seq("a"), Seq("b")))),
      "id", "cand", "ref").collect().head
    (3 to 8).map(got.getDouble) shouldBe Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
  }

  test("kneserNeyScore matches hand-computed interpolated-KN and normalizes") {
    // corpus bigrams: (a b) x2, (a c) x1 -> c1(a)=3, f1(a)=2, B=2,
    // P(b|a) = 1.25/3 + 0.75*(2/3)*(1/2) = 2/3; P(c|a) = 0.25/3 + 0.25 = 1/3
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.kneserNeyScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    got.length shouldBe 3 // the 1-token doc drops
    got(0).getDouble(2) shouldBe -0.405465 // ln(2/3)
    got(1).getDouble(2) shouldBe -1.098612 // ln(1/3)
    got(2).getDouble(2) shouldBe -0.405465
  }

  test("decayTrend halves each prior day's weight and caps the window") {
    // counts 4, 2, 8 over three days
    val rows =
      Seq.fill(4)(("k", "2024-01-01 10:00:00")) ++
      Seq.fill(2)(("k", "2024-01-02 10:00:00")) ++
      Seq.fill(8)(("k", "2024-01-03 10:00:00"))
    val df = rows.toDF("key", "s")
      .selectExpr("key", "cast(s as timestamp) AS ts")
    val t3 = TimeSeries.decayTrend(df, "key", "ts")
      .orderBy("day").collect().map(_.getDouble(3))
    t3 shouldBe Array(2.0, 2.0, 5.0) // 4/2; 4/4+2/2; 4/8+2/4+8/2
    val capped = TimeSeries.decayTrend(df, "key", "ts", window = 2)
      .orderBy("day").collect().map(_.getDouble(3))
    capped shouldBe Array(2.0, 2.0, 4.5) // day3 loses the 4/8 term
  }
}
