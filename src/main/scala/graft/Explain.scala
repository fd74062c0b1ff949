package graft

/** Dev tool: print the formatted physical plan of one or all SparkEntry
  * queries — for auditing pushdown (PushedFilters), column pruning
  * (ReadSchema), join strategies (BroadcastHashJoin vs SortMerge), and
  * WholeStageCodegen spans. `runMain graft.Explain [sfDir] [query...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.entries.map(_.name).sorted
    val spark = GraftSession.get("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.byName(n).build(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
