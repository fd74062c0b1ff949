package graft.ops

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the classic Sennrich corpus: low×5, lower×2, newest×6, widest×3
  private def corpus = Seq(
    (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
    (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
  ).toDF("doc_id", "text")

  test("train learns the textbook merge sequence with deterministic ties") {
    val merges = Bpe.train(corpus, "text", numMerges = 4)
    // pair counts: es=9 ties st=9 -> lexicographic; then est=9; lo=7; low=7
    merges shouldBe Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
  }

  test("tokenCounts applies merges in rank order, word-bounded") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val d = Seq((1L, "low lower newest"), (2L, "Lowest!"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Bpe.tokenCounts(d, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // low->1 (low), lower->3 (low,e,r), newest->4 (n,e,w,est)
    out(1L) shouldBe ((8L, 14L))
    // normalization: "Lowest!" -> "lowest" -> low,est -> 2 tokens
    out(2L) shouldBe ((2L, 6L))
    out(3L) shouldBe ((0L, 0L)) // null text -> empty, zero tokens
  }

  test("bracket units prevent cross-boundary and overlapping corruption") {
    val m = Seq(("x", "y"))
    val d = Seq(
      (1L, "ax y"),  // "x y" substring must NOT merge across the a-x unit edge
      (2L, "xyxy"),  // two adjacent occurrences merge in ONE pass
      (3L, "x yx")   // space separates: no merge
    ).toDF("doc_id", "text")
    val out = Bpe.tokenCounts(d, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe 3L // a,x | y
    out(2L) shouldBe 2L // xy,xy
    out(3L) shouldBe 3L // x | y,x
  }

  test("encodeSql mirrors the Spark chain structurally") {
    val sql = Bpe.encodeSql("text", Seq(("e", "s"), ("es", "t")))
    sql should include ("replace(replace(regexp_replace(")
    sql should include ("'<e><s>', '<es>'")
    sql should include ("'<es><t>', '<est>'")
    sql should include ("'[^a-z0-9 ]', '', 'g'")
  }

  test("train stops early when no pair repeats") {
    val d = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    Bpe.train(d, "text", numMerges = 10) shouldBe empty
  }
}
