package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.SparkSpec

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def frame: DataFrame =
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "x")

  private def isBlockLeaf(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("stage materializes by default (lineage truncated to a block leaf)") {
    val staged = Checkpoints.stage(frame.groupBy("id").count())
    isBlockLeaf(staged) shouldBe true
    staged.count() shouldBe 100
    Checkpoints.free(staged)
  }

  test("stage keeps lineage when the size guard rejects the frame") {
    withConf("spark.graft.checkpoint.maxBytes" -> "0") {
      val in = frame.groupBy("id").count()
      val staged = Checkpoints.stage(in)
      // estimate of a 100-row agg is > 0 bytes => guard trips => SAME plan
      isBlockLeaf(staged) shouldBe false
      (staged eq in) shouldBe true
      staged.count() shouldBe 100 // consumers recompute, same result
    }
  }

  test("stage honors a permissive size guard (under the bound => materialize)") {
    withConf("spark.graft.checkpoint.maxBytes" -> Long.MaxValue.toString) {
      val staged = Checkpoints.stage(frame.groupBy("id").count())
      isBlockLeaf(staged) shouldBe true
      Checkpoints.free(staged)
    }
  }

  test("stage uses a RELIABLE checkpoint when asked and a dir is set") {
    val dir = tmpDir("graft-chk")
    val hadDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try withConf("spark.graft.checkpoint.reliable" -> "true") {
      val staged = Checkpoints.stage(frame.groupBy("id").count())
      staged.count() shouldBe 100
      // reliable checkpoints write through the checkpoint dir
      val wrote = new java.io.File(dir).listFiles()
      (wrote != null && wrote.nonEmpty) shouldBe true
    } finally hadDir.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("stage passes streaming frames through untouched") {
    val stream = spark.readStream.format("rate").load()
    (Checkpoints.stage(stream) eq stream) shouldBe true
  }

  /** Run `body` with the reliable knob on and a fresh checkpoint dir,
    * which it is given. */
  private def withReliable[T](body: String => T): T = {
    val dir = tmpDir("graft-chk-loop")
    val hadDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try withConf("spark.graft.checkpoint.reliable" -> "true")(body(dir))
    finally hadDir.foreach(spark.sparkContext.setCheckpointDir)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Three rounds of `x + 1` over [[frame]], each joined to a shared
    * frame; the second round drops the blocks of the state it reads before
    * its own materialization reads them — an executor lost mid-loop. The
    * RDDs of the loop's frames are added to `made`. */
  private def loseBlocksInRoundTwo(made: mutable.Set[Int]): DataFrame = {
    var round = 0
    Checkpoints.iterate { it =>
      val ids = it.share(frame.select("id"))
      made ++= Checkpoints.rddOf(ids).map(_.id)
      it.rounds(frame, 3) { s =>
        made ++= Checkpoints.rddOf(s).map(_.id)
        round += 1
        if (round == 2) Checkpoints.rddOf(s).foreach(_.unpersist(blocking = true))
        s.join(ids, "id").select(col("id"), (col("x") + 1).as("x"))
      }
    }
  }

  test("iterate: a lost block in a round's state fails loudly in local mode, " +
    "and recovers under the reliable knob") {
    val made = mutable.Set.empty[Int]
    val e = intercept[Exception](loseBlocksInRoundTwo(made))
    causeMessages(e) should (include("Checkpoint block") and include("not found"))
    made.size shouldBe 3
    (persisted intersect made) shouldBe empty

    withReliable { _ =>
      val out = loseBlocksInRoundTwo(mutable.Set.empty)
      // Σ (2i + 3) over i = 1..100
      out.agg(sum("x")).head().getDouble(0) shouldBe 10400.0
      Checkpoints.free(out)
    }
  }

  test("iterate: a round or a convergence read that throws leaves no persistent RDD behind") {
    val failures: Seq[(String, Checkpoints.Loop => DataFrame)] = Seq(
      "a round" -> { it =>
        val shared = it.share(frame.groupBy("id").count())
        var round = 0
        it.rounds(frame, 3) { s =>
          round += 1
          it.carry(s.join(shared, "id"))
          if (round == 2) throw new IllegalStateException("round 2 fails")
          s.select(col("id"), (col("x") + 1).as("x"))
        }
      },
      "a convergence read" -> { it =>
        val cached = it.persist(frame.select(col("id"), lit(1).as("w")))
        it.until(frame, 5, "test loop") { (s, obs) =>
          s.join(cached, "id").observe(obs, sum("w").as("n")).select("id", "x")
        }(_ => throw new IllegalStateException("convergence read fails"))
      })
    for ((what, body) <- failures) withClue(s"$what: ") {
      spark.catalog.clearCache()
      val before = persisted
      intercept[IllegalStateException](Checkpoints.iterate(body))
      (persisted -- before) shouldBe empty
      spark.sharedState.cacheManager.isEmpty shouldBe true
    }
  }

  test("iterate: until fails naming the loop when it does not converge") {
    val before = persisted
    val e = intercept[IllegalArgumentException] {
      Checkpoints.iterate(_.until(frame, 2, "test loop") { (s, obs) =>
        s.observe(obs, sum("x").as("n"))
      }(_ => false))
    }
    e.getMessage should include("test loop did not converge in 2 rounds")
    (persisted -- before) shouldBe empty
  }

  test("pageRank materializes in local blocks by default and reliably under the knob") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("src", "dst")
    def ranks(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val local = Graph.pageRank(edges, "src", "dst", iters = 3)
    val localRdd = Checkpoints.rddOf(local).get
    localRdd.isCheckpointed shouldBe true
    localRdd.getCheckpointFile shouldBe None
    val want = ranks(local)
    Checkpoints.free(local)

    withReliable { dir =>
      val out = Graph.pageRank(edges, "src", "dst", iters = 3)
      val file = Checkpoints.rddOf(out).flatMap(_.getCheckpointFile)
      file.isDefined shouldBe true
      ranks(out) shouldBe want
      // the edge list, node set, degrees and superseded rounds were
      // freed with their files: only the result's checkpoint remains
      val written = Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
        .map(_.getFileName.toString).toSet
      written shouldBe Set(new org.apache.hadoop.fs.Path(file.get).getName)
      Checkpoints.free(out)
    }
  }

  test("src/main materializes only through Checkpoints (fail-closed)") {
    // A raw checkpoint call bypasses the size bound, the reliable knob and
    // the round lifecycle. The scan must see Checkpoints' own calls, or
    // it read the wrong tree and proves nothing.
    val raw = """\.localCheckpoint\(|\.checkpoint\(""".r
    val home = Paths.get("src/main/scala/graft/ops/Checkpoints.scala")
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if raw.findFirstIn(line).isDefined => (f, s"$f:${i + 1}")
        }
      }
    hits.exists(_._1 == home) shouldBe true
    val outside = hits.filterNot(_._1 == home).map(_._2)
    if (outside.nonEmpty)
      fail(s"raw checkpoint calls outside Checkpoints — route them through " +
        s"Checkpoints.stage / materialize / iterate:\n${outside.mkString("\n")}")
  }
}
