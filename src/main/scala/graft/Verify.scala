package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registry entry's result → parquet,
  * plus its oracle SQL in oracle_sql.json, for the DuckDB oracle compare
  * (`tools/check.py`).
  *
  * `runMain graft.Verify <sfDir> <outDir> [entry…]`: named entries
  * restrict both the parquet dirs and oracle_sql.json to that subset, so
  * one changed query can be parity-checked (`tools/check.py`) without
  * re-running the registry; unknown names are reported on stderr.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val picked = SparkEntry.entries.filter(e => names.isEmpty || names(e.name))
    val unknown = names -- picked.map(_.name)
    if (unknown.nonEmpty)
      System.err.println(s"[verify] unknown entries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    picked.foreach { entry =>
      try entry.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${entry.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${entry.name} failed: ${e.getMessage}")
      }
      // some entries cache scratch frames internally (dedup stores,
      // shingle sets); drop them so 60+ queries don't accumulate
      // cached partitions in one long-lived session. localCheckpoint
      // blocks (clusters, PageRank) live OUTSIDE the SQL cache, so
      // release persisted RDDs too — the previous query's output is
      // already written, nothing live reads them.
      // OWNERSHIP ASSUMPTION: this main owns the entire session — no
      // caller holds a cached corpus index or checkpoint-backed frame
      // across queries, so blanket-unpersisting every persistent RDD is
      // safe HERE. Do not copy this reset into library code: unpersisting
      // a localCheckpoint-backed frame someone else holds is irrecoverable
      // (lineage is truncated; re-reads fail, they don't recompute).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // in a name-keyed Map's key order, the order the file has always had
    val json = picked.map(e => e.name -> e.oracleSql).toMap
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** A JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in hand-written oracle SQL would
    * otherwise make `json.load` of oracle_sql.json fail and silently
    * skip every correctness check.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
