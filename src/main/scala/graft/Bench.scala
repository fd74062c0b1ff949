package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.kpi.KpiQueries

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query medians.
  *
  * Methodology (fixes the round-1 verdict's complaints):
  *   - results are materialized through the `noop` sink, not `.count()`,
  *     so Catalyst cannot prune the projections/casts being measured;
  *   - one un-timed warm-up pass (JIT + codegen caches), then timed
  *     passes, median per query;
  *   - failures are logged to stderr and reported as -1, never swallowed;
  *   - the JSON line is also written to `bench_out.json` so the driver
  *     can read it even if stdout is decorated by the build tool;
  *   - the five KPI queries run over ONE persisted enrichment frame
  *     (`KpiQueries.persistEnriched`) instead of recomputing the 3-table
  *     join per query — the executed path now matches SURVEY §4.3.
  *
  * Round-12 wall-clock budget (r11 verdict item 1 — BENCH_r11 timed out at
  * 335 entries; sbt wall had grown 1248 → 2694 s over r7–r10 because EVERY
  * entry paid a full reset: forced GC on a 128 GiB heap + re-materializing
  * the shared enrichment, ~6 s/entry of pure harness overhead while the
  * 329 medians themselves sum to ~111 s):
  *   - the shared enrichment is rebuilt ONLY for the kpi_* entries that
  *     read it (they sort first), never between unrelated queries;
  *   - entries whose warm-up ran under [[fastCutoff]] get a SINGLE timed
  *     pass — a median-of-3 on a 0.2 s query is jitter-measurement, and
  *     ~280 of 329 headline entries are in that band;
  *   - entries at/over the cutoff keep median-of-3 with one forced GC
  *     BEFORE the timed block, so heap debt inherited from earlier
  *     queries is paid in the warm-up/reset, never inside a median
  *     (r11 verdict item 2: q_survival 6.67 s in-suite vs 0.79 s isolated
  *     was exactly such an inherited collection pause);
  *   - internally-caching / heavy-oracle / kpi entries still reset
  *     (GC included) before EVERY timed pass — their passes churn GBs;
  *   - a periodic GC every [[gcEvery]] fast entries caps accumulation
  *     between the per-entry collections.
  *
  * Round-13 sentinel (r12 verdict #3): the run's WALL clock is emitted in
  * the JSON (`wall`, `wall_budget`) and the process exits rc=3 with the
  * top-10 per-entry wall eaters on stderr when it exceeds the soft budget
  * (default 2200 s, override `SPARK_GRAFT_BENCH_BUDGET`) — the warning
  * fires a round before the driver's hard window (rc=124) would.
  */
object Bench {

  /** Warm-up seconds below which one timed pass replaces median-of-3. */
  private val fastCutoff = 0.5

  /** Force a collection after this many consecutive un-GC'd entries. */
  private val gcEvery = 10

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(fn: () => DataFrame): Either[String, Double] =
    try {
      val t0 = System.nanoTime()
      materialize(fn())
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
    }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Git commit the bench ran against, read straight from `.git` (no exec):
    * makes each round's BENCH_r{N}.json independently attributable to a
    * tree state. "unknown" when not run from the repo root.
    */
  private def gitCommit(): String =
    try {
      val head = Files.readString(Paths.get(".git/HEAD")).trim
      if (head.startsWith("ref: ")) {
        val refName = head.stripPrefix("ref: ")
        val ref = Paths.get(".git", refName)
        if (Files.exists(ref)) Files.readString(ref).trim
        else { // packed refs: match the ref FIELD exactly, not a suffix
          scala.jdk.CollectionConverters.ListHasAsScala(
            Files.readAllLines(Paths.get(".git/packed-refs"))).asScala
            .map(_.split(' '))
            .collectFirst { case Array(sha, name) if name == refName => sha }
            .getOrElse("unknown")
        }
      } else head
    } catch { case _: Throwable => "unknown" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-bench")

    // One persisted enrichment pass feeds all five KPI queries; it is
    // (re-)materialized lazily in the kpi_* path below, never between
    // unrelated entries.
    val enriched = TestTables.enriched(spark, sfDir)

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // Cache hygiene between queries: several entries cache intermediate
    // frames (dedup stores, shingle sets, the serve enrichment), and
    // letting those accumulate across 300+ queries makes later queries'
    // timings depend on earlier queries' leftovers (GC + eviction
    // pressure). Cheap driver-side bookkeeping — safe to run per entry.
    // OWNERSHIP ASSUMPTION: this main owns the whole session (nothing
    // outside it holds cached/checkpointed frames across queries) — a
    // blanket unpersist is safe here but NOT in library code.
    def clearState(): Unit = {
      spark.catalog.clearCache()
      // …then release RDD-level state clearCache can't see: localCheckpoint
      // blocks stranded by iterative operators (clusters, PageRank) and any
      // persisted RDDs the previous query's frames left behind.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    var sinceGc = 0
    // Pay GC debt OUTSIDE the timers. Spark's ContextCleaner only reaps
    // unreferenced broadcast/shuffle state when the driver JVM actually
    // GCs, and on a 128 GiB heap a full collection may not happen for
    // dozens of queries — so allocation-heavy entries (the all-pairs
    // vector joins churn ~GBs of boxed array garbage per pass) were
    // absorbing a 10-20 s collection pause INSIDE a timed run
    // (r9: q_knn_label_noise 17.2 s in-suite vs 3.3 s isolated).
    def forceGc(): Unit = { System.gc(); sinceGc = 0 }

    // Full reset before a timed pass of a resetEachRun entry: clean cache
    // state + clean heap, and (kpi only) the shared enrichment back in
    // cache so the timed pass measures the query, not the rebuild.
    def fullReset(rebuildEnrichment: Boolean): Unit = {
      clearState()
      forceGc()
      if (rebuildEnrichment) {
        KpiQueries.persistEnriched(enriched)
        materialize(enriched)
      }
    }

    val runStart = System.nanoTime()
    // per-entry WALL cost (warm-up + resets + timed passes): what the
    // budget sentinel reports when the suite outgrows its window — the
    // medians alone hide harness overhead, and it was harness overhead
    // that breached the r11 window
    val entryWall = scala.collection.mutable.LinkedHashMap[String, Double]()

    val medians: Seq[(String, Double)] = SparkEntry.entries.sortBy(_.name).map { e =>
      val name = e.name
      val fn: () => DataFrame =
        e.kpi.fold(() => e.build(spark, sfDir))(kpi => () => kpi(enriched))
      val entryStart = System.nanoTime()
      val isKpi = e.kpi.isDefined
      clearState()
      sinceGc += 1
      if (sinceGc >= gcEvery) forceGc()
      if (isKpi) { // warm-up must read the same warm cache the passes will
        KpiQueries.persistEnriched(enriched)
        materialize(enriched)
      }
      val rddsBefore = spark.sparkContext.getPersistentRDDs.size
      // un-timed warm-up (JIT + codegen caches); its wall-clock picks the
      // pass count below. Inherited GC pauses land HERE, not in a median.
      val warm = time(fn)
      warm.left.foreach { msg =>
        System.err.println(s"[bench] warmup $name FAILED: $msg")
        errors(name) = msg
      }
      val res = if (warm.isLeft) {
        name -> -1.0 // a failed plan fails identically 3 more times — skip
      } else {
        val warmSecs = warm.toOption.get
        // Queries that cache frames INTERNALLY (dedup stores, shingle
        // sets) would otherwise have their timed runs read the warm-up's
        // cache — measuring cache reads, not the computation. Detect that
        // (new persistent RDDs appeared during warm-up) and reset caches
        // before EVERY timed run for those queries, so each timed pass
        // recomputes from the same cold-cache state the warm-up saw.
        // Heavy all-pairs entries and the kpi_* parity flagships get the
        // same per-pass treatment: their passes churn GBs of garbage, so
        // a collection triggered by pass N must never land inside N+1.
        val cachesInternally = spark.sparkContext.getPersistentRDDs.size > rddsBefore
        val resetEachRun = cachesInternally || e.heavy || isKpi
        val passes = if (!resetEachRun && warmSecs < fastCutoff) 1 else 3
        // slow-but-ordinary entries: one clean heap for the timed block
        if (passes > 1 && !resetEachRun) forceGc()
        val runs = (1 to passes).map { _ =>
          if (resetEachRun) fullReset(rebuildEnrichment = isKpi)
          time(fn) match {
            case Right(s) => s
            case Left(msg) =>
              System.err.println(s"[bench] $name FAILED: $msg"); errors(name) = msg; -1.0
          }
        }
        name -> (if (runs.contains(-1.0)) -1.0 else median(runs))
      }
      entryWall(name) = (System.nanoTime() - entryStart) / 1e9
      res
    }

    // Two-tier reporting (round-9 verdict item 1): the gated exact
    // all-pairs oracle baselines are timed every round for continuity,
    // but live in their own `heavy_oracle` section and are excluded from
    // the headline total — the headline reflects production regimes only
    // (each heavy entry's production twin IS in the headline set).
    val (heavy, prod) = medians.partition(m => SparkEntry.byName(m._1).heavy)
    val ok = prod.filter(_._2 >= 0)
    val heavyOk = heavy.filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    val heavyTotal = heavyOk.map(_._2).sum
    val qs = prod.map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }.mkString("{", ",", "}")
    val heavyQs = heavy.map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      s""""$k":"${v.replaceAll("[\"\\\\\\n\\r\\t]", " ")}"""" }.mkString("{", ",", "}")
    // Self-describing failure count (round-6 verdict task 7): a partial run
    // must never read as a clean total at a glance — `status` flips to
    // "partial" and `n_err` is in BOTH the full line and the tail summary.
    val nErr = medians.size - ok.size - heavyOk.size
    // Wall-clock budget sentinel (r12 verdict #3): the r11 window breach
    // (rc=124) was detected only by the driver's hard timeout. The
    // registry grows ~+14 entries/round; warn — loudly, via rc — the
    // round BEFORE the window is re-breached. `wall` is the whole-run
    // harness wall (warm-ups + resets + passes), which is what the
    // driver's timeout sees, NOT the sum of medians.
    val wallSecs = (System.nanoTime() - runStart) / 1e9
    val wallBudget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.toDouble).getOrElse(2200.0)
    val overBudget = wallSecs > wallBudget
    val status = if (overBudget) "over_budget"
                 else if (nErr == 0) "ok" else "partial"
    val commit = gitCommit()
    val line =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","status":"$status","n_err":$nErr,"wall":${"%.1f".format(wallSecs)},"wall_budget":${"%.0f".format(wallBudget)},"commit":"$commit","queries":$qs,"heavy_oracle":$heavyQs,"heavy_total":${"%.3f".format(heavyTotal)},"errors":$errJson,"n_ok":${ok.size},"n_heavy":${heavy.size},"n":${medians.size},"sf":"$sfDir"}"""
    // The full per-query line outgrew the driver's tail-keeping capture
    // window in round 5 ("parsed": null — head of the line was cut, so the
    // JSON never parsed). Emit the full line first, then a SHORT summary as
    // the FINAL stdout line: first-line parsers get the full object,
    // last-line / tail-window parsers get a compact valid object with the
    // headline total.
    val summary =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","status":"$status","n_err":$nErr,"wall":${"%.1f".format(wallSecs)},"commit":"$commit","n_ok":${ok.size},"n":${medians.size},"sf":"$sfDir"}"""
    println(line)
    println(summary)
    if (nErr > 0)
      System.err.println(s"[bench] PARTIAL RUN: $nErr of ${medians.size} queries errored " +
        s"(total covers only the ${ok.size} surviving queries): ${errors.keys.mkString(", ")}")
    // the FILE stays one whole JSON object (json.load-able); the
    // two-line form is stdout-only, for head- vs tail-window capture
    Files.writeString(Paths.get("bench_out.json"), line + "\n")
    spark.stop()
    if (overBudget) {
      val eaters = entryWall.toSeq.sortBy(-_._2).take(10)
        .map { case (n, w) => s"$n=${"%.1f".format(w)}s" }.mkString(", ")
      System.err.println(s"[bench] WALL BUDGET EXCEEDED: " +
        s"${"%.1f".format(wallSecs)} s > ${"%.0f".format(wallBudget)} s soft " +
        s"budget — trim or re-tier before the driver window (rc=124) is " +
        s"breached. Top-10 wall eaters (incl. harness overhead): $eaters")
      sys.exit(3)
    }
  }
}
