package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, SparkEntry}
import graft.io.{FsUtil, ParquetIO}
import graft.kpi.KpiQueries
import graft.pipeline.PipelineJob
import graft.serve.{KpiItems, KpiSink}
import graft.validate.Validator

/** The benchmark's JVM half, launched by `run.py` with `key=value`
  * arguments. It times one workload in a closed loop (one thread, each
  * operation submitted after the previous one finished), writes the
  * program's outputs for the oracle check, and writes `result.json`.
  *
  * Between operations, and outside every timer, it drops cached frames,
  * restores staging and runs a GC, so each operation starts from the same
  * state.
  */
object Main {

  /** Fixed serving timestamp: re-runs overwrite the same store keys. */
  val RunTs = "2024-07-01T00:00:00"

  /** The registry sample: fixed names, so that a change to the registry
    * does not change which queries are timed. Each has an oracle SQL and
    * reads only the sf0.01 tables; none is a `kpi_*` entry (the daily
    * workloads time the KPI path) or a heavy oracle baseline.
    */
  val Sample = Seq("q_ab_ztest", "q_countmin", "q_friedman", "q_line_freq",
    "q_quality_model", "q_text_quality")

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    val spark = GraftSession.builder("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val bench = new Bench(spark, counters, work, a("seconds").toDouble, a("trace") == "1")
    val result =
      try a("workload") match {
        case "daily_full"           => bench.daily(a("in"), a("small"), incremental = false, a("registry"))
        case "daily_incremental"    => bench.daily(a("in"), a("small"), incremental = true, a("registry"))
        case "registry_interactive" => bench.registry(a("registry"), a("small"))
        case other                  => sys.error(s"unknown workload $other")
      } finally spark.stop()
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
  }
}

final class Bench(spark: SparkSession, counters: Counters, work: String,
                  seconds: Double, traced: Boolean) {
  import Main.RunTs

  private val sc = spark.sparkContext
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var setupS = -1.0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val peaksMb = mutable.ArrayBuffer.empty[Double]
  private var opGcMs = 0L // GC time inside timed operations only

  // ------------------------------------------------------------------
  // Closed-loop timing
  // ------------------------------------------------------------------

  private def reset(gc: Boolean = true): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    if (gc) System.gc()
    org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
  }

  /** Time one operation; the first timed operation closes set-up. */
  private def timed[T](op: => T): (T, Double) = {
    if (setupS < 0) setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    counters.resetPeak()
    attempted += 1
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val r = op
    val ms = (System.nanoTime() - t0) / 1e6
    opGcMs += gcMs - gc0
    org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
    peaksMb += counters.peakAddedBytes / 1e6
    (r, ms)
  }

  /** Run `step` until `seconds` of wall time have passed, at least `min` times. */
  private def loop(min: Int)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { step(i); i += 1 }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def deleteDir(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(q => Files.delete(q))
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val t = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def common(opsMs: Seq[Double], opNames: Seq[String],
                     jobS: Seq[Double]): Map[String, Any] = Map(
    "setup_jvm_s" -> setupS,
    "ops_ms" -> opsMs,
    "op_names" -> opNames,
    "job_s" -> jobS,
    "storage_peak_mb" -> peaksMb.toSeq,
    "attempted" -> attempted,
    "failures" -> failures.toSeq)

  // ------------------------------------------------------------------
  // Daily pipeline workloads
  // ------------------------------------------------------------------

  final class Daily(in: String, dir: String, incremental: Boolean) {
    val store = new KpiSink.InMemoryKvStore()
    private val history = new File(s"$in/streams").listFiles().map(_.getPath).sorted.toSeq
    private val staging = s"$dir/staging"
    private val dims = Seq("songs", "users")
    private val snapshot = s"$dir/snapshot"
    val outDir = s"$dir/kpis"
    private val quarantine = s"$dir/quarantine"

    private def cfg(files: Seq[String], stagingDir: String) = PipelineJob.Config(
      streamFiles = files, songsCsv = s"$in/songs.csv", usersCsv = s"$in/users.csv",
      stagingDir = stagingDir, outputDir = outDir, quarantineDir = Some(quarantine),
      runTs = RunTs)

    /** The timed run's config: the history on a cold day, else the new day. */
    val config: PipelineJob.Config =
      if (incremental) cfg(Seq(s"$in/new/streams_day31.csv"), staging) else cfg(history, staging)

    /** Staging for the incremental day comes from a run of the job itself. */
    def prepare(): Unit = if (incremental) {
      PipelineJob.run(spark, cfg(history, snapshot))
      deleteDir(quarantine)
      reset()
    }

    def restore(): Unit = {
      deleteDir(staging)
      deleteDir(quarantine)
      if (incremental) copyDir(snapshot, staging)
      reset()
    }

    /** The staged files of each dimension table. */
    private def stagedDims: Seq[Set[String]] =
      dims.map(n => Option(new File(s"$staging/$n").list()).fold(Set.empty[String])(_.toSet))

    /** One timed `PipelineJob.run`, and the number of dimension CSVs it
      * reprocessed: the staged dimension tables whose files it replaced.
      * The MD5 gate must send both CSVs through validation on a cold day
      * and neither on the incremental day.
      */
    def run(tag: String): (PipelineJob.Result, Int, Double) = {
      val before = stagedDims
      val (r, ms) = timed(PipelineJob.run(spark, config, Some(store)))
      val reprocessed = stagedDims.zip(before).count { case (a, b) => a != b }
      val want = if (incremental) 0 else dims.size
      if (reprocessed != want)
        failures += s"$tag: reprocessed $reprocessed dimension CSVs, expected $want"
      check(r, tag)
      (r, reprocessed, ms)
    }

    def check(r: PipelineJob.Result, tag: String): Unit = {
      val kpiSum = r.kpiRows.values.sum
      if (r.servedItems != kpiSum)
        failures += s"$tag: served ${r.servedItems} items for $kpiSum KPI rows"
      if (store.size != kpiSum)
        failures += s"$tag: store holds ${store.size} items for $kpiSum KPI rows"
    }

    def quarantined: Long =
      if (!new File(quarantine).exists()) 0L
      else spark.read.json(s"$quarantine/corrupt_records").count()

    /** Lines in the input stream files: the size of the input, not a
      * figure of the program. */
    def inputLines: Long = config.streamFiles.map { f =>
      val s = Files.lines(Paths.get(f)); try s.count() - 1 finally s.close()
    }.sum

    /** `PipelineJob.run` for the default config, rebuilt from the public
      * calls it makes (`loadDim` is private), with a span around each
      * call. The KPI loop iterates `KpiQueries.all` in the job's order.
      * As in the job, the enriched frame is filled by the first KPI write.
      */
    def runTraced(t: Tracer): PipelineJob.Result =
      t.span("pipeline") {
        val c = config
        val obs = new Observation("staged_streams")
        val ingested = t.span("validate.streams") {
          Validator.processStreams(spark, c.streamFiles, c.quarantineDir)
        }
        t.span("io.stage_write") {
          ParquetIO.writeAppend(ingested.observe(obs, count(lit(1)).as("rows")),
            s"${c.stagingDir}/streams")
        }
        val stagedRows = obs.get("rows").asInstanceOf[Long]
        // the dimension load; its self time is the reprocessing, when the
        // MD5 check sends the CSV through validation
        def dim(csv: String, name: String): DataFrame = t.span("validate.dims") {
          val staged = s"${c.stagingDir}/$name"
          val ledger = s"${c.stagingDir}/ledger/$name.md5"
          val changed = t.span("io.dim_check") {
            FsUtil.checksumChanged(spark, csv, ledger) || !FsUtil.exists(spark, staged)
          }
          if (changed) {
            ParquetIO.writeOverwrite(Validator.processReferenceData(spark, csv), staged)
            t.span("io.dim_check") { FsUtil.commitChecksum(spark, csv, ledger) }
          }
          t.span("io.read") { ParquetIO.read(spark, staged) }
        }
        val songs = dim(c.songsCsv, "songs")
        val users = dim(c.usersCsv, "users")
        val staged = t.span("io.read") { ParquetIO.read(spark, s"${c.stagingDir}/streams") }
        val (enriched, kpis) = t.span("kpi.construct") {
          val e = KpiQueries.persistEnriched(
            KpiQueries.prepareStreamingData(staged, songs, users))
          (e, KpiQueries.all(e, c.approxDistinct, c.deskewTrending))
        }
        val kpiRows = kpis.map { case (name, df) =>
          t.span(s"kpi.${Bench.KpiSpan(name)}") {
            val o = new Observation(s"kpi_$name")
            ParquetIO.writeOverwrite(df.observe(o, count(lit(1)).as("rows")),
              s"${c.outputDir}/$name")
            require(PipelineJob.outputNonEmpty(ParquetIO.read(spark, s"${c.outputDir}/$name")),
              s"KPI output $name is empty")
            name -> o.get("rows").asInstanceOf[Long]
          }
        }
        val served = t.span("serve") {
          def read(n: String) = ParquetIO.read(spark, s"${c.outputDir}/$n")
          Seq(
            KpiItems.userItems(read("user_kpis"), c.runTs),
            KpiItems.genreDailyItems(read("genre_daily_metrics_kpi"), c.runTs),
            KpiItems.topSongsItems(read("genre_top_songs_kpi"), c.runTs),
            KpiItems.topGenresItems(read("genre_top_genres_kpi"), c.runTs),
            KpiItems.trendingItems(read("trending_kpis"), c.runTs)
          ).zipWithIndex.map { case (df, i) =>
            val o = new Observation(s"served_$i")
            KpiSink.write(df.observe(o, count(lit(1)).as("rows")), store)
            o.get("rows").asInstanceOf[Long]
          }.sum
        }
        t.span("kpi.unpersist") { enriched.unpersist() }
        PipelineJob.Result(stagedRows, kpiRows, served)
      }
  }

  /** Daily workloads. The incremental day's snapshot build warms the JVM;
    * the cold day warms up on the small input, which runs the same plans.
    * (A further untimed incremental run would warm the incremental plans
    * too, but the benchmark's time budget has no room for it.)
    */
  def daily(in: String, small: String, incremental: Boolean,
            registryDir: String): Map[String, Any] = {
    val d = new Daily(in, s"$work/daily", incremental)
    if (incremental) d.prepare()
    else {
      val w = new Daily(small, s"$work/warmup", incremental = false)
      w.restore()
      w.check(PipelineJob.run(spark, w.config, Some(w.store)), "warm-up")
      attempted += 1
    }
    val reprocessed = mutable.ArrayBuffer.empty[Double]
    val results = mutable.ArrayBuffer.empty[PipelineJob.Result]
    val plainMs = mutable.ArrayBuffer.empty[Double]
    val layerRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val gc0 = opGcMs
    val totals0 = globalTotals
    // traced: plain, traced, plain, ... so the plain runs bracket the traced ones
    loop(min = if (traced) 3 else 1) { i =>
      d.restore()
      if (traced && i % 2 == 1) {
        val t = new Tracer(spark, counters)
        val batches0 = d.store.batchAttempts
        val (r, ms) = timed(d.runTraced(t))
        tracedMs += ms
        d.check(r, s"traced run $i")
        results += r
        layerRuns += pipelineLayers(t, r, d, batches0)
        writeSpans(t, s"$work/spans_$i.json")
      } else {
        val (r, n, ms) = d.run(s"run $i")
        plainMs += ms
        reprocessed += n
        results += r
      }
    }
    if (results.map(r => (r.kpiRows, r.servedItems)).distinct.size != 1)
      failures += s"runs of one input differ: ${results.map(_.kpiRows).distinct}"
    val res = common(plainMs.toSeq, plainMs.map(_ => "pipeline").toSeq,
      plainMs.map(_ / 1e3).toSeq) ++ Map(
      "kpi_dir" -> d.outDir,
      "kpi_rows" -> results.head.kpiRows)
    if (!traced) res
    else {
      val totals = globalTotals
      val session = sessionTotals(totals0, totals, gc0)
      val pipeline = layerRuns.flatMap(_.keys).distinct.map { k =>
        k -> median(layerRuns.flatMap(_.get(k)).toSeq)
      }.toMap
      res ++ Map("layers" -> (pipeline ++ session ++
        Map("validate.dims_reprocessed" -> median(reprocessed.toSeq),
          "pipeline.trace_overhead_pct" ->
          (median(tracedMs.toSeq) / median(plainMs.toSeq) - 1) * 100) ++
        ladder() ++ opsProbe(registryDir, Bench.ProbeEntries)))
    }
  }

  private def pipelineLayers(t: Tracer, r: PipelineJob.Result, d: Daily,
                             batches0: Int): Map[String, Double] = {
    val root = t.spans.find(_.name == "pipeline").get
    def spansNamed(p: String => Boolean) = t.spans.filter(s => p(s.name)).toSeq
    def sumMs(p: String => Boolean) = spansNamed(p).map(_.ms).sum
    def agg(p: String => Boolean) =
      spansNamed(p).foldLeft(new SpanCounters)((acc, s) => acc += t.countersOf(s))
    // The enrichment runs inside the first KPI write, which fills the
    // persisted frame: its share is that write's stages up to the one
    // that fills the cache.
    val firstKpi = spansNamed(n => Bench.KpiSpan.values.exists(v => n == s"kpi.$v")).head
    val kpiStages = t.countersOf(firstKpi).stageRecords
    val fill = kpiStages.filter(_.persisted).map(_.completedMs).minOption
    if (fill.isEmpty) failures += s"no stage of ${firstKpi.name} filled the enriched frame"
    val enrichMs = fill.fold(0.0)(f => (f - firstKpi.startMs).toDouble)
    val ecMs = kpiStages.filter(s => fill.exists(s.completedMs <= _)).flatMap(_.taskMs)
      .map(_.toDouble).toSeq
    def kpiS(name: String) =
      (sumMs(_ == name) - (if (name == firstKpi.name) enrichMs else 0.0)) / 1e3
    val kpiC = agg(n => n.startsWith("kpi."))
    val items = r.servedItems.toDouble
    val batches = (d.store.batchAttempts - batches0).toDouble
    val below = t.subtree(root).filterNot(_ eq root)
    Map(
      "validate.streams_s" -> sumMs(_ == "validate.streams") / 1e3,
      "validate.rows_in" -> d.inputLines.toDouble,
      "validate.rows_clean" -> r.stagedStreamRows.toDouble,
      "validate.rows_quarantined" -> d.quarantined.toDouble,
      "io.stage_write_s" -> sumMs(_ == "io.stage_write") / 1e3,
      "io.staged_mb" -> agg(_ == "io.stage_write").bytesWritten / 1e6,
      "io.dim_check_s" -> sumMs(_ == "io.dim_check") / 1e3,
      "io.read_s" -> sumMs(_ == "io.read") / 1e3,
      "validate.dims_s" -> spansNamed(_ == "validate.dims").map(t.selfMs).sum / 1e3,
      "kpi.enrich_s" -> enrichMs / 1e3,
      "kpi.enrich_tasks" -> ecMs.size.toDouble,
      "kpi.enrich_task_skew" -> (if (ecMs.isEmpty) 0.0 else ecMs.max / math.max(1.0, median(ecMs))),
      "kpi.core_util" -> ecMs.sum / math.max(1.0, enrichMs * sc.defaultParallelism),
      "kpi.user_s" -> kpiS("kpi.user"),
      "kpi.genre_daily_s" -> kpiS("kpi.genre_daily"),
      "kpi.top_songs_s" -> kpiS("kpi.top_songs"),
      "kpi.top_genres_s" -> kpiS("kpi.top_genres"),
      "kpi.trending_s" -> kpiS("kpi.trending"),
      "kpi.rows_out" -> r.kpiRows.values.sum.toDouble,
      "kpi.shuffle_write_mb" -> kpiC.shuffleWriteBytes / 1e6,
      "kpi.spill_mb" -> kpiC.spillBytes / 1e6,
      "kpi.stages" -> kpiC.stages.toDouble,
      "serve.s" -> sumMs(_ == "serve") / 1e3,
      "serve.items" -> items,
      "serve.batches" -> batches,
      "serve.batch_fill" -> (if (batches == 0) 0.0 else items / (batches * KpiSink.BatchSize)),
      "pipeline.traced_s" -> root.ms / 1e3,
      "pipeline.span_coverage_pct" -> below.map(t.selfMs).sum / root.ms * 100)
  }

  private def writeSpans(t: Tracer, path: String): Unit =
    Files.writeString(Paths.get(path), Json(t.spans.toSeq.map { s =>
      val c = t.countersOf(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t.spans.head.startNs) / 1e6, "ms" -> s.ms,
        "self_ms" -> t.selfMs(s), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks,
        "task_ms_max" -> (if (c.taskMs.isEmpty) 0L else c.taskMs.max),
        "task_ms_median" -> median(c.taskMs.map(_.toDouble).toSeq),
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "gc_ms" -> c.gcMs)
    }))

  // ------------------------------------------------------------------
  // Registry workload
  // ------------------------------------------------------------------

  private lazy val entries = SparkEntry.queries

  /** [[Main.Sample]]; a name that left the registry or lost its oracle
    * fails the run.
    */
  lazy val sample: Seq[String] = {
    val missing = Main.Sample.filterNot(n => entries.contains(n) && SparkEntry.oracleSql.contains(n))
    require(missing.isEmpty, s"sampled registry entries are gone: ${missing.mkString(", ")}")
    Main.Sample
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def registry(dataDir: String, small: String): Map[String, Any] = {
    val outDir = s"$work/registry"
    // two warm-up passes: the first writes the output the oracle checks,
    // the second runs the timed passes' noop plan
    for (write <- Seq(true, false); n <- sample) {
      attempted += 1
      try {
        val df = entries(n)(spark, dataDir)
        if (write) df.write.mode("overwrite").parquet(s"$outDir/$n") else noop(df)
      } catch { case e: Exception => failures += s"$n: ${e.getMessage}" }
      reset(gc = false)
    }
    val opsMs = mutable.ArrayBuffer.empty[Double]
    val opNames = mutable.ArrayBuffer.empty[String]
    val passS = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.ArrayBuffer.empty[Map[String, Double]]
    val gc0 = opGcMs
    val totals0 = globalTotals
    loop(min = 1) { _ =>
      reset()
      var pass = 0.0
      sample.foreach { n =>
        try {
          val ms =
            if (!traced) timed(noop(entries(n)(spark, dataDir)))._2
            else {
              val (row, ms) = timed(tracedQuery(n, dataDir))
              perQuery += row
              ms
            }
          opsMs += ms
          opNames += n
          pass += ms
        } catch { case e: Exception => failures += s"$n: ${e.getMessage}" }
        reset(gc = false)
      }
      passS += pass / 1e3
    }
    val oracle = SparkEntry.oracleSql
    val res = common(opsMs.toSeq, opNames.toSeq, passS.toSeq) ++ Map(
      "registry_dir" -> outDir,
      "sample" -> sample,
      "oracle_sql" -> sample.map(n => n -> oracle(n)).toMap)
    if (!traced) res
    else {
      val session = sessionTotals(totals0, globalTotals, gc0)
      val ops = opsSummary(perQuery.toSeq)
      res ++ Map("layers" -> (ops ++ session ++ ladder() ++ smallPipeline(small)))
    }
  }

  /** One registry query inside an `ops.query` span: its construct, plan
    * and execute times, and the jobs, stages and tasks it ran.
    */
  private def tracedQuery(name: String, dataDir: String): Map[String, Double] = {
    val t = new Tracer(spark, counters)
    val times = t.span("ops.query") {
      val c0 = System.nanoTime()
      val df = entries(name)(spark, dataDir)
      val c1 = System.nanoTime()
      df.queryExecution.executedPlan
      val c2 = System.nanoTime()
      noop(df)
      Map("construct" -> (c1 - c0) / 1e6, "plan" -> (c2 - c1) / 1e6,
        "exec" -> (System.nanoTime() - c2) / 1e6)
    }
    val c = t.countersOf(t.spans.head)
    times ++ Map("jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble,
      "tasks" -> c.tasks.toDouble)
  }

  private def opsSummary(rows: Seq[Map[String, Double]]): Map[String, Double] = {
    def p50(k: String) = median(rows.map(_(k)))
    def mean(k: String) = rows.map(_(k)).sum / rows.size
    Map("ops.construct_ms_p50" -> p50("construct"), "ops.plan_ms_p50" -> p50("plan"),
      "ops.exec_ms_p50" -> p50("exec"), "ops.jobs_per_query" -> mean("jobs"),
      "ops.stages_per_query" -> mean("stages"), "ops.tasks_per_query" -> mean("tasks"))
  }

  /** The `ops` layer for the daily workloads: the first `n` sampled
    * entries, each run once to warm up and once traced.
    */
  private def opsProbe(dataDir: String, n: Int): Map[String, Double] =
    opsSummary(sample.take(n).map { q =>
      noop(entries(q)(spark, dataDir))
      reset()
      val row = tracedQuery(q, dataDir)
      reset()
      row
    })

  /** The pipeline layers on the small input, for the registry workload. */
  private def smallPipeline(in: String): Map[String, Double] = {
    val d = new Daily(in, s"$work/small", incremental = false)
    def plain(): (Int, Double) = {
      d.restore()
      val (_, n, ms) = d.run("small run")
      (n, ms)
    }
    plain()
    val (reprocessed, before) = plain()
    d.restore()
    val t = new Tracer(spark, counters)
    val b0 = d.store.batchAttempts
    val (r, tracedMs) = timed(d.runTraced(t))
    d.check(r, "small traced run")
    val layers = pipelineLayers(t, r, d, b0)
    val (_, after) = plain()
    layers ++ Map("validate.dims_reprocessed" -> reprocessed.toDouble,
      "pipeline.trace_overhead_pct" -> (tracedMs / ((before + after) / 2) - 1) * 100)
  }

  // ------------------------------------------------------------------
  // Session layer: fixed-cost ladder and whole-run totals
  // ------------------------------------------------------------------

  /** Spark's fixed cost per query: an empty job, a scan of a 1k-row
    * parquet file, and the same rows through one exchange; each the
    * median of 7 runs after 2 warm-ups.
    */
  private def ladder(): Map[String, Double] = {
    val f = s"$work/ladder_1k.parquet"
    spark.range(1000).selectExpr("id", "id % 10 AS k").coalesce(1)
      .write.mode("overwrite").parquet(f)
    def t(q: => DataFrame): Double = {
      (1 to 2).foreach(_ => noop(q))
      median((1 to 7).map { _ =>
        val t0 = System.nanoTime(); noop(q); (System.nanoTime() - t0) / 1e6
      })
    }
    Map(
      "session.empty_job_ms" -> t(spark.range(10).toDF()),
      "session.parquet_scan_1k_ms" -> t(spark.read.parquet(f)),
      "session.one_exchange_ms" -> t(spark.read.parquet(f).groupBy("k").count()))
  }

  /** Jobs, stages and tasks of the whole run so far (all spans). */
  private def globalTotals: (Long, Long, Long) = {
    val cs = counters.bySpan.values().asScala
    (cs.map(_.jobs).sum, cs.map(_.stages).sum, cs.map(_.tasks).sum)
  }

  private def sessionTotals(t0: (Long, Long, Long), t1: (Long, Long, Long),
                            gc0: Long): Map[String, Double] = Map(
    "session.jobs" -> (t1._1 - t0._1).toDouble,
    "session.stages" -> (t1._2 - t0._2).toDouble,
    "session.tasks" -> (t1._3 - t0._3).toDouble,
    "session.gc_s" -> (opGcMs - gc0) / 1e3)
}

object Bench {
  /** Span names of the five KPI outputs. */
  val KpiSpan: Map[String, String] = Map(
    "user_kpis" -> "user", "genre_daily_metrics_kpi" -> "genre_daily",
    "genre_top_songs_kpi" -> "top_songs", "genre_top_genres_kpi" -> "top_genres",
    "trending_kpis" -> "trending")

  /** Registry entries the daily workloads' traced runs probe for `ops`. */
  val ProbeEntries = 2
}

/** Minimal JSON rendering for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null                     => "null"
    case s: String                => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double                => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long)   => n.toString
    case b: Boolean               => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]          => xs.map(apply).mkString("[", ",", "]")
    case other                    => apply(other.toString)
  }
}
