package graft.ops

import graft.SparkSpec

class IntegritySpec extends SparkSpec {
  import spark.implicits._

  test("orphanAudit counts child ROWS per missing parent, per relation") {
    val child = Seq((1L, "a"), (1L, "b"), (2L, "c"), (9L, "d"), (9L, "e"),
      (9L, "f")).toDF("fk", "payload")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val got = Integrity.orphanAudit(Seq(("c->p", child, "fk", parent, "pk")))
      .collect().head
    got.getString(0) shouldBe "c->p"
    got.getLong(1) shouldBe 6L      // child rows with a non-null key
    got.getLong(2) shouldBe 3L      // the three fk=9 rows
    got.getLong(3) shouldBe 500000L // 3/6 in exact ppm
  }

  test("orphanAudit: NULL child keys belong to neither count; clean relation is 0") {
    val child = Seq(Some(1L), None, Some(2L)).toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val got = Integrity.orphanAudit(Seq(("r", child, "fk", parent, "pk")))
      .collect().head
    got.getLong(1) shouldBe 2L
    got.getLong(2) shouldBe 0L
    got.getLong(3) shouldBe 0L
  }

  test("orphanAudit unions relations independently") {
    val c1 = Seq(1L).toDF("k"); val p1 = Seq(2L).toDF("k")
    val c2 = Seq(5L).toDF("k"); val p2 = Seq(5L).toDF("k")
    val got = Integrity.orphanAudit(Seq(
      ("all-orphan", c1, "k", p1, "k"), ("clean", c2, "k", p2, "k")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    got shouldBe Map("all-orphan" -> 1L, "clean" -> 0L)
  }
}
