package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Freshness gate for the generated OPERATORS.md (round-9 verdict item
  * 7): regenerate the index from the live registry records and diff it
  * against the checked-in file. A new entry, a re-pinned budget,
  * or a moved implementation fails HERE with the regeneration command,
  * never as silent doc drift. (No SparkSession needed — the generator is
  * pure source/registry introspection.)
  */
class OperatorsDocSpec extends AnyFunSuite with Matchers {

  test("OPERATORS.md is fresh (regenerate-and-diff)") {
    val checkedIn = Files.readString(Paths.get("OPERATORS.md"))
    val rendered = OperatorsDoc.render()
    withClue("OPERATORS.md is stale — regenerate with " +
      "`sbt 'runMain graft.OperatorsDoc'` and commit the result:\n") {
      checkedIn shouldBe rendered
    }
  }

  test("index covers the whole registry with resolvable anchors") {
    val doc = OperatorsDoc.render()
    SparkEntry.entries.foreach { e =>
      doc should include (s"| `${e.name}` |")
    }
    // every anchor is `path#symbol` and the named file defines the
    // symbol: an op's `def`/`val`, or an inline entry's own record
    val row = """^\| `\w+` \| `([^`]+\.scala)#(\w+)` \|""".r
    val anchors = doc.linesIterator.flatMap(row.findFirstMatchIn)
      .map(m => (m.group(1), m.group(2))).toSeq
    anchors.size shouldBe SparkEntry.entries.size
    anchors.distinct.foreach { case (f, sym) =>
      withClue(s"anchor $f#$sym") {
        Files.exists(Paths.get(f)) shouldBe true
        val defined =
          if (f.endsWith("/SparkEntry.scala")) s"""Entry(\\.kpi)?\\("$sym",""".r
          else s"\\b(def|val) $sym\\b".r
        defined.findFirstIn(Files.readString(Paths.get(f))) should not be empty
      }
    }
  }
}
