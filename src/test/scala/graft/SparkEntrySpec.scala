package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The registry's name index: one record per name, and the name-keyed
  * views hold exactly the records' names. (No SparkSession needed —
  * nothing is built.)
  */
class SparkEntrySpec extends AnyFunSuite with Matchers {

  test("indexing two records that share a name throws, naming it") {
    val e = SparkEntry.byName("q_sessions")
    val err = intercept[IllegalArgumentException] {
      SparkEntry.index(Seq(e, SparkEntry.byName("kpi_user"), e.copy(oracleSql = "SELECT 1")))
    }
    err.getMessage should include ("q_sessions")
    err.getMessage should not include ("kpi_user")
  }

  test("the registry's names are distinct and the views have exactly those keys") {
    val names = SparkEntry.entries.map(_.name)
    names.distinct should have size names.size
    SparkEntry.queries.keySet shouldBe names.toSet
    SparkEntry.oracleSql.keySet shouldBe names.toSet
  }
}
