package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val trades = Seq(
    (1L, "A", "2024-06-25 10:00:00"),
    (2L, "A", "2024-06-25 11:00:00"),
    (3L, "B", "2024-06-25 10:30:00"),
    (4L, "C", "2024-06-25 10:00:00") // no quotes for C at all
  ).toDF("trade_id", "sym", "t")
    .withColumn("t", to_timestamp(col("t")))

  private lazy val quotes = Seq(
    (10L, "A", "2024-06-25 09:59:00", 100.0),
    (11L, "A", "2024-06-25 10:00:00", 101.0), // same instant as trade 1 → inclusive
    (12L, "A", "2024-06-25 10:30:00", 102.0),
    (13L, "B", "2024-06-25 10:30:00", 200.0), // tie on ts with quote 14
    (14L, "B", "2024-06-25 10:30:00", 201.0)  // larger id wins the tie
  ).toDF("qid", "sym", "t", "px")
    .withColumn("t", to_timestamp(col("t")))

  test("as-of join picks the latest at-or-before right row per key") {
    val got = AsofJoin.asofJoin(trades, quotes, Seq("sym"), "t", "qid")
      .select("trade_id", "asof_qid", "asof_px")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    got shouldBe Set(
      (1L, Some(11L), Some(101.0)), // inclusive: 10:00 quote matches 10:00 trade
      (2L, Some(12L), Some(102.0)), // latest before 11:00
      (3L, Some(14L), Some(201.0)), // ts tie broken by larger qid
      (4L, None, None))             // no right rows for the key
  }

  test("carried right row is atomic: null value fields don't mix rows") {
    def t(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, to_timestamp(col(c)))
    val quotes2 = t(Seq(
      ("A", "2024-06-25 09:00:00", Some(10L), Some(100.0)),
      ("A", "2024-06-25 09:30:00", Some(11L), None) // newer quote, null px
    ).toDF("sym", "t", "qid", "px"), "t")
    val trades2 = t(Seq(("A", 1L, "2024-06-25 10:00:00")).toDF("sym", "trade_id", "t"), "t")
    val row = AsofJoin.asofJoin(trades2, quotes2, Seq("sym"), "t", "qid").collect().head
    // latest quote (qid 11) wins for BOTH fields — px is null, NOT 100.0
    row.getAs[Long]("asof_qid") shouldBe 11L
    assert(row.isNullAt(row.fieldIndex("asof_px")))
  }

  test("null join keys never match (SQL LEFT JOIN parity)") {
    def t(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, to_timestamp(col(c)))
    val tr = t(Seq(
      (1L, null.asInstanceOf[String], "2024-06-25 10:00:00"),
      (2L, "A", "2024-06-25 10:00:00")
    ).toDF("trade_id", "sym", "t"), "t")
    val qt = t(Seq(
      (10L, null.asInstanceOf[String], "2024-06-25 09:00:00", 100.0),
      (11L, "A", "2024-06-25 09:00:00", 101.0)
    ).toDF("qid", "sym", "t", "px"), "t")
    val rows = AsofJoin.asofJoin(tr, qt, Seq("sym"), "t", "qid").collect()
    rows.length shouldBe 2 // left rows preserved, incl. the null-key one
    val byId = rows.map(r => r.getLong(r.fieldIndex("trade_id")) ->
      Option(r.get(r.fieldIndex("asof_qid")))).toMap
    byId(1L) shouldBe None       // a NULL key matches nothing, like SQL
    byId(2L) shouldBe Some(11L)  // non-null keys unaffected
  }

  test("left rows and schema are preserved exactly") {
    val out = AsofJoin.asofJoin(trades, quotes, Seq("sym"), "t", "qid")
    out.count() shouldBe trades.count()
    out.columns.toSeq shouldBe Seq("trade_id", "sym", "t", "asof_qid", "asof_px")
  }
}
