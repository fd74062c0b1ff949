package graft.ops

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, SparkSpec, TestTables}

/** Dense-stage width audit (r12 verdict #1): the r12 probe found that a
  * corpus fitting one parquet row group scans as ONE partition, and
  * every CPU-dense per-row stage between that scan and the first
  * shuffle runs on one core — invisible to AQE, which sizes by scan
  * bytes. The fix (`Par.spreadToShuffleWidth`) was hand-applied at ~25
  * call sites; THIS spec makes the guard a build-time contract instead
  * of a convention:
  *
  *  1. every dense-family registry entry is constructed against a
  *     deliberately SINGLE-row-group fixture with the guard's
  *     invocation recorder on, and its round-robin spread count must
  *     equal its registry record's `widthPin` — dropping a wrap
  *     from any operator on an entry's path fails that entry's test
  *     with the sites that DID fire listed;
  *  2. the distinct guarded call sites seen across the whole sweep are
  *     pinned per FILE (`PlanAudit.widthGuardSites`) — a coarser net
  *     that catches a dropped wrap even if some entry's count were
  *     compensated by a new wrap elsewhere;
  *  3. family representatives are run directly on a 1-partition frame
  *     and the RUNTIME partition count of the guarded stage is
  *     asserted `>= min(shuffleWidth, rows)` — the executed property
  *     the pins stand in for.
  *
  * A NEW dense operator that forgets the wrap is caught by (3)'s
  * discipline only if a representative is added — which is why the pins
  * fail CLOSED: an entry recording spreads that is not pinned
  * fails too, so every guarded path must be enumerated here.
  */
class WidthAuditSpec extends SparkSpec {

  /** Copy each parquet table in `sfDir` to `narrowDir` as ONE file
    * (one row group): the fixture every width-audit construction runs
    * against. Events' ts column round-trips through the adaptive read,
    * so the copy is always plain TIMESTAMP — still handled by
    * `TestTables.events`.
    */
  private def writeNarrowFixture(spark: SparkSession, sfDir: String,
                                 narrowDir: String): Unit = {
    val tables = new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    tables.foreach { t =>
      val name = t.stripSuffix(".parquet")
      val df = if (name == "events") TestTables.events(spark, sfDir)
               else spark.read.parquet(s"$sfDir/$t")
      df.coalesce(1).write.mode("overwrite").parquet(s"$narrowDir/$t")
    }
  }

  private lazy val narrowDir: String = {
    val dir = tmpDir("graft_narrow_audit")
    writeNarrowFixture(spark, "/root/testdata/sf0.001", dir)
    dir
  }

  private val pinned = SparkEntry.entries.filter(_.widthPin.isDefined).sortBy(_.name)

  for (entry <- pinned; name = entry.name; pin <- entry.widthPin) {
    test(s"width audit: $name spreads $pin dense stage(s) on a narrow scan") {
      Par.auditStart()
      try {
        entry.build(spark, narrowDir)
        val spread = Par.auditStop().filter(_.spread)
        if (spread.size != pin)
          fail(s"$name fired ${spread.size} round-robin spreads on the " +
            s"single-row-group fixture, pin is $pin — a dense stage lost " +
            s"(or gained) its Par.spreadToShuffleWidth wrap; an intended " +
            s"change needs an explicit pin update.\nSites that fired: " +
            spread.map(_.site).mkString(", "))
      } finally {
        Par.auditStop()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
  }

  test("width audit: unpinned registry entries fire no spreads (fail-closed)") {
    // A new guarded operator must be pinned above — otherwise the wrap
    // could silently vanish later. Constructing EVERY unpinned entry
    // here would double PlanAuditSpec's sweep cost, so this leg rides
    // the same narrow fixture but samples the families that share
    // guarded code paths yet are pinned at 0 by omission: entries that
    // fire any spread while carrying no widthPin fail.
    val families = Seq("q_dedup", "q_knn", "q_embed", "q_simhash", "q_winnow", "q_semdedup")
    val sample = SparkEntry.entries.sortBy(_.name)
      .filter(e => e.widthPin.isEmpty && families.exists(e.name.startsWith))
    val offenders = sample.flatMap { entry =>
      Par.auditStart()
      try {
        entry.build(spark, narrowDir)
        val spread = Par.auditStop().filter(_.spread)
        if (spread.nonEmpty) Some(s"${entry.name} (${spread.size})") else None
      } catch { case _: Throwable => Par.auditStop(); None }
      finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    if (offenders.nonEmpty)
      fail(s"entries fire dense-stage spreads but carry no width pin — give " +
        s"their records a widthPin: ${offenders.mkString(", ")}")
  }

  test("width audit: guarded call-site coverage per file matches the pin") {
    val sites = scala.collection.mutable.SortedSet.empty[String]
    pinned.foreach { entry =>
      Par.auditStart()
      try {
        entry.build(spark, narrowDir)
        Par.auditStop().filter(_.spread).foreach(r => sites += r.site)
      } finally {
        Par.auditStop()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    val byFile = sites.groupBy(_.takeWhile(_ != ':')).map { case (f, s) => f -> s.size }
    val expected = PlanAudit.widthGuardSites
    if (byFile != expected)
      fail(s"guarded-call-site coverage drifted.\nexpected: $expected\n" +
        s"observed: $byFile\nsites: ${sites.mkString(", ")}\n" +
        "A dropped Par.spreadToShuffleWidth wrap removes its file's site; " +
        "a new dense stage adds one — update the pin deliberately.")
  }

  test("width audit: guarded stages run at >= min(shuffleWidth, rows) partitions " +
    "at RUNTIME on a 1-partition input (family representatives)") {
    import spark.implicits._
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val docs = (1 to 64).map(i =>
      (i.toString, s"alpha beta gamma delta epsilon zeta token$i repeats here"))
      .toDF("doc_id", "text").coalesce(1)
    assert(docs.rdd.getNumPartitions == 1)
    // dedup family: whole-doc tokenize+shingle
    val sh = Dedup.shingleSets(docs, "doc_id", "text", n = 3)
    assert(sh.rdd.getNumPartitions >= math.min(width, 64),
      "shingleSets lost its width guard")
    // text family: winnowing fingerprints
    val w = TextAnalysis.winnowed(docs, "text")
    assert(w.rdd.getNumPartitions >= math.min(width, 64),
      "winnowed lost its width guard")
    // signature family: per-doc 64-bit simhash fold
    val sim = Dedup.simHash(docs, "doc_id", "text")
    assert(sim.rdd.getNumPartitions >= math.min(width, 64),
      "simHash lost its width guard")
    // and the no-op direction: an already-wide input is passed through
    val wide = docs.repartition(width)
    val sh2 = Dedup.shingleSets(wide, "doc_id", "text", n = 3)
    assert(sh2.rdd.getNumPartitions == width)
  }
}
