package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Generator for `OPERATORS.md` — the registry index the round-9 verdict
  * asked for (item 7): one row per `SparkEntry.entries` record with the
  * implementing file and symbol, bench tier, pinned shuffle budget, and
  * plan-audit note, derived MECHANICALLY from the
  * records + the sources themselves (the record's builder text names
  * the op object and member it calls).
  * Anchors read `path#member`, never a line number, so an edit that
  * only moves code leaves the index unchanged. `OperatorsDocSpec`
  * regenerates and diffs the checked-in file, so the index can never go
  * stale.
  */
object OperatorsDoc {

  private val srcRoot = "src/main/scala/graft"

  /** How a registry record opens in SparkEntry.scala; group 1 is its name. */
  private val recordKey = """Entry(?:\.kpi)?\("(\w+)",""".r

  /** object name -> source path, from a one-pass scan of the sources. */
  private def objectFiles(): Map[String, String] = {
    val objPat = """^\s*object (\w+)""".r
    Files.walk(Paths.get(srcRoot)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.flatMap(l =>
          objPat.findFirstMatchIn(l).map(m => m.group(1) -> p.toString))
      }
      .toList
      // first definition wins; the registry file is excluded as a target
      // so entries resolve to the op file they call into
      .filterNot(_._2.endsWith("/SparkEntry.scala"))
      .groupBy(_._1).view.mapValues(_.head._2).toMap
  }

  /** Whether `file` defines a `def`/`val` named `member`. */
  private def definesMember(file: String, member: String): Boolean = {
    val pat = (s"""\\b(def|val) $member\\b""").r
    Files.readAllLines(Paths.get(file)).asScala.exists(l => pat.findFirstIn(l).isDefined)
  }

  /** entry name -> `path#member` of the primary op it calls, parsed from
    * the record's text in SparkEntry.scala, which opens with
    * `Entry("<name>",` (or `Entry.kpi("<name>",`). Entries whose logic is
    * inline (pure DataFrame chains) anchor to their own record,
    * `SparkEntry.scala#<entry>`.
    */
  private def entryAnchors(names: Seq[String]): Map[String, String] = {
    val entryFile = s"$srcRoot/SparkEntry.scala"
    val src = Files.readAllLines(Paths.get(entryFile)).asScala.toVector
    val objs = objectFiles()
    val starts: Map[String, Int] = src.zipWithIndex.flatMap { case (l, i) =>
      recordKey.findFirstMatchIn(l).map(m => m.group(1) -> i)
    }.toMap
    val ordered = starts.toSeq.sortBy(_._2)
    val callPat = """(\w+)\.(\w+)\(""".r
    names.map { name =>
      val opAnchor = starts.get(name).flatMap { at =>
        val next = ordered.collectFirst { case (_, i) if i > at => i }
          .getOrElse(src.size)
        val snippet = src.slice(at, next).mkString("\n")
        callPat.findAllMatchIn(snippet).collectFirst {
          case m if objs.contains(m.group(1)) &&
            definesMember(objs(m.group(1)), m.group(2)) =>
            s"${objs(m.group(1))}#${m.group(2)}"
        }
      }
      name -> opAnchor.getOrElse(s"$entryFile#$name")
    }.toMap
  }

  def render(): String = {
    val entries = SparkEntry.entries.sortBy(_.name)
    val anchors = entryAnchors(entries.map(_.name))
    val heavy = entries.count(_.heavy)
    val sb = new StringBuilder
    sb ++= "# OPERATORS — generated registry index\n\n"
    sb ++= "Generated by `sbt 'runMain graft.OperatorsDoc'`; kept fresh by\n"
    sb ++= "`OperatorsDocSpec` (regenerate-and-diff). One row per registry\n"
    sb ++= "entry in `SparkEntry.entries`; every entry is gated by its DuckDB oracle SQL.\n\n"
    sb ++= s"- entries: **${entries.size}**\n"
    sb ++= s"- bench tiers: ${entries.size - heavy} headline, " +
      s"$heavy heavy-oracle (gated exact baselines, " +
      "timed every round, excluded from the headline total)\n"
    sb ++= s"- pinned shuffle budgets: ${entries.count(_.shufflePin.isDefined)} " +
      "(`Entry.shufflePin`, enforced by `PlanAuditSpec`)\n"
    sb ++= s"- O(n*m)-plan allowlist: ${entries.count(_.planNote.isDefined)} entries " +
      "with written reasons (`Entry.planNote`)\n\n"
    sb ++= "| entry | impl | tier | shuffle pin | plan note |\n"
    sb ++= "|---|---|---|---|---|\n"
    entries.foreach { e =>
      val tier = if (e.heavy) "heavy-oracle" else "headline"
      val pin = e.shufflePin.map(_.toString).getOrElse("")
      val note = e.planNote.getOrElse("")
      sb ++= s"| `${e.name}` | `${anchors(e.name)}` | $tier | $pin | ${note.replace("|", "/")} |\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out: Path = Paths.get(if (args.nonEmpty) args(0) else "OPERATORS.md")
    Files.writeString(out, render())
    println(s"[operators-doc] wrote $out")
  }
}
