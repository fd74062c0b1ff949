package graft

import org.apache.spark.sql.ListenerClasses

import graft.ops.Bucketing

class QueryProfileSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // one KPI entry and one other entry, both with a shuffle pin
  for (name <- Seq("kpi_user", "q_sessions")) {
    test(s"profile of $name: exchanges, jobs, tasks and rows") {
      assert(SparkEntry.byName(name).shufflePin.isDefined)
      val r = QueryProfile.profile(spark, sfDir, name)
      val df = SparkEntry.byName(name).build(spark, sfDir)
      r.exchanges shouldBe Bucketing.shuffleCount(df)
      r.jobs should be >= 1
      r.stages.map(_.tasks).sum should be > 0
      r.rows shouldBe Some(df.count())
      r.execMs should have size 3
      r.toJson should startWith(s"""{"entry":"$name",""")
      spark.catalog.clearCache()
    }
  }

  test("duplicate-subtree check flags a self-union of an aggregated scan only") {
    val agg = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
    QueryProfile.duplicateSubtree(agg.union(agg).queryExecution.executedPlan) shouldBe defined
    QueryProfile.duplicateSubtree(agg.queryExecution.executedPlan) shouldBe empty
  }

  test("duplicate-subtree check passes a self-union whose run reused the exchange") {
    val agg = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
    val union = agg.union(agg)
    union.collect()
    // after the run, executedPlan is the final adaptive plan: AQE ran the
    // shared aggregate's exchange once and reused it for the second arm
    QueryProfile.duplicateSubtree(union.queryExecution.executedPlan) shouldBe empty
  }

  test("duplicate-subtree check flags work repeated above a reused stage") {
    val agg = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
    val union = agg.repartition(3).union(agg.repartition(5))
    union.collect()
    // AQE ran the aggregate's exchange once and reused it, but the final
    // aggregate over it ran in two stages, one per repartition
    QueryProfile.duplicateSubtree(union.queryExecution.executedPlan) shouldBe defined
  }

  test("profile leaves no cached frame, persisted RDD or listener behind") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val rddsBefore = sc.getPersistentRDDs.keySet
    // other sessions' listeners come and go with the JVM's GC and
    // earlier suites' streams, so check for the profiler's own classes
    def own = ListenerClasses(spark).filter(_.startsWith("graft.QueryProfile"))
    own shouldBe empty
    QueryProfile.profile(spark, sfDir, "kpi_user")
    spark.sharedState.cacheManager.isEmpty shouldBe true
    (sc.getPersistentRDDs.keySet -- rddsBefore) shouldBe empty
    own shouldBe empty
  }
}
