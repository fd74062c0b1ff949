package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val d = df(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(-1f, 0f))
    val sims = d.crossJoin(d.select(col("vec_id").as("b_id"), col("embedding").as("bv")))
      .select(col("vec_id"), col("b_id"),
        Similarity.cosine(col("embedding"), col("bv")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sims((1L, 1L)) shouldBe 1.0 +- 1e-12
    sims((1L, 2L)) shouldBe 0.0 +- 1e-12
    sims((1L, 3L)) shouldBe -1.0 +- 1e-12
  }

  test("knnBruteForce ranks by similarity with id tie-break") {
    val corpus = df(
      1L -> Seq(1f, 0f), 2L -> Seq(0.9f, 0.1f), 3L -> Seq(0f, 1f),
      4L -> Seq(1f, 0.01f))
    val got = Similarity.knnBruteForce(corpus, corpus.filter(col("vec_id") === 1), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    got.toSeq shouldBe Seq((4L, 1L), (2L, 2L)) // 4 is nearly parallel, then 2
  }

  test("labelNoise flags the planted mislabel and spares consistent points") {
    val d = Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(0.99f, 0.01f)), (3L, 0, Seq(0.98f, 0.02f)),
      (4L, 1, Seq(0.97f, 0.03f)), // in cluster A but labeled B: the mislabel
      (5L, 1, Seq(0f, 1f)), (6L, 1, Seq(0.01f, 0.99f)), (7L, 1, Seq(0.02f, 0.98f)),
      (8L, 0, null) // null vector: excluded entirely
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.labelNoise(d, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    got.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L, 6L, 7L)
    got(4L) shouldBe ((0L, 3L, 0L, true)) // neighborhood votes 3-0 against
    got(1L) shouldBe ((2L, 3L, 666666L, false)) // 2-of-3 agree (the mislabel is a neighbor)
    got(5L)._4 shouldBe false
    got(6L)._4 shouldBe false
  }

  test("labelNoiseApprox: approximate probes still flag the planted mislabel") {
    val d = Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(0.99f, 0.01f)), (3L, 0, Seq(0.98f, 0.02f)),
      (4L, 1, Seq(0.97f, 0.03f)), // in cluster A but labeled B
      (5L, 1, Seq(0f, 1f)), (6L, 1, Seq(0.01f, 0.99f)), (7L, 1, Seq(0.02f, 0.98f))
    ).toDF("vec_id", "label", "embedding")
    // nprobe < nlist: each query probes only its own cell — the two
    // planted clusters land in different cells, so neighborhoods stay
    // intact and the verdicts match the exact audit
    val got = Similarity.labelNoiseApprox(d, "vec_id", "embedding", "label",
      k = 3, nlist = 2, nprobe = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    got(4L)._2 shouldBe true
    got(1L)._2 shouldBe false
    got(5L)._2 shouldBe false
  }

  test("bitextMineIvf: approximate probes recover the planted translations") {
    val left = df(10L -> Seq(1f, 0f), 20L -> Seq(0f, 1f), 30L -> Seq(0.707f, 0.707f))
    val right = df(
      1L -> Seq(0.99f, 0.01f), 2L -> Seq(0.01f, 0.99f),
      5L -> Seq(0.72f, 0.69f), 6L -> Seq(0.69f, 0.72f))
    val got = Similarity.bitextMineIvf(left, right, "vec_id", "embedding",
      k = 2, nlist = 2, nprobe = 2, minMarginPpm = 1100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((10L, 1L), (20L, 2L)) // same verdicts as the exact miner
  }

  test("clusterPurity: majority vote, tie breaks to smaller label, null labels drop") {
    val asg = Seq(
      (1L, 0L, Some(5L)), (2L, 0L, Some(5L)), (3L, 0L, Some(7L)),
      (4L, 1L, Some(2L)), (5L, 1L, Some(9L)), // tie 1-1 -> label 2 wins
      (6L, 2L, None), (7L, 2L, Some(3L))
    ).toDF("vec_id", "cluster", "label")
    val got = Similarity.clusterPurity(asg, "cluster", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    got shouldBe Map(
      0L -> ((3L, 5L, 2L, 666666L)),
      1L -> ((2L, 2L, 1L, 500000L)),
      2L -> ((1L, 3L, 1L, 1000000L))) // the null-label row never counted
  }

  test("bitextMine aligns planted translations, margin rejects the ambiguous hub") {
    val left = df(10L -> Seq(1f, 0f), 20L -> Seq(0f, 1f), 30L -> Seq(0.707f, 0.707f))
    val right = df(
      1L -> Seq(0.99f, 0.01f), // l10's translation
      2L -> Seq(0.01f, 0.99f), // l20's translation
      5L -> Seq(0.72f, 0.69f), 6L -> Seq(0.69f, 0.72f)) // two near-equal hub mates for l30
    val got = Similarity.bitextMine(left, right, "vec_id", "embedding",
      k = 2, minMarginPpm = 1100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the planted pairs stand out of both neighborhoods; l30 sits between
    // two equally-good mates, so its margin stays near 1 and is rejected
    got shouldBe Set((10L, 1L), (20L, 2L))
  }

  test("bitextMine: anti-correlated corpora (negative neighborhoods) align nothing") {
    // every cross sim is negative, so both neighborhood means are
    // negative — a negative/negative ratio must NOT read as a large
    // positive margin (the sentinel guard), and a zero denominator
    // must not divide
    val left = df(10L -> Seq(1f, 0f), 20L -> Seq(0.9f, 0.1f))
    val right = df(1L -> Seq(-1f, 0f), 2L -> Seq(-0.9f, -0.2f))
    val got = Similarity.bitextMine(left, right, "vec_id", "embedding",
      k = 2, minMarginPpm = 1060000L)
    got.count() shouldBe 0L
  }

  test("labelNoiseApprox: one row per labeled vector even when probes return no candidates") {
    // tight 8-point cluster + a single far outlier: with nlist=2 the
    // trained centroids split cluster/outlier, so at nprobe=1 the
    // outlier probes only its own (otherwise empty) cell — the audit
    // must still emit its row, flagged, not silently drop it
    val rows = (1L to 8L).map(i =>
      (i, 0, Seq(1f, (i * 0.001).toFloat))) :+ ((9L, 1, Seq(-1f, 0.9f)))
    val d = rows.toDF("vec_id", "label", "embedding")
    val got = Similarity.labelNoiseApprox(d, "vec_id", "embedding", "label",
      k = 3, nlist = 2, nprobe = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_neighbors"), r.getAs[Boolean]("is_suspect"))).toMap
    got.keySet shouldBe (1L to 9L).toSet // total coverage
    got(9L) shouldBe ((0L, true)) // unsupported outlier: zero votes, flagged
  }

  test("topKPerQuery (bounded-heap aggregator) equals the brute-force window result") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val a = Similarity.knnBruteForce(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rn", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val b = Similarity.topKPerQuery(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rn", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    b shouldBe a
  }

  test("knnLshBucketed: high recall on clustered vectors, candidates < all pairs") {
    // two tight clusters: members of a cluster are near-parallel, so they
    // share hyperplane signs with high probability
    val base1 = Array.fill(8)(1.0f)
    val base2 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val rows = (0 until 20).map { i =>
      val base = if (i < 10) base1 else base2
      val jitter = base.zipWithIndex.map { case (v, j) => v + 0.01f * ((i * 7 + j) % 5) }
      (i.toLong, jitter.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0 || col("vec_id") === 10)
    val exact = Similarity.knnBruteForce(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnLshBucketed(corpus, queries, "vec_id", "embedding",
      dim = 8, k = 5, nPlanes = 16, bandBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.8
  }

  test("knnIvf: full probe equals brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rn", "sim")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = rows(Similarity.knnBruteForce(e, q, "vec_id", "embedding", 5))
    val ivf = rows(Similarity.knnIvf(e, q, "vec_id", "embedding", k = 5,
      nlist = 8, nprobe = 8))
    ivf shouldBe brute
  }

  test("knnPq: 8-byte codes, high recall with exact re-ranking on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 5)
    val exact = Similarity.knnBruteForce(e, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.knnPq(e, queries, "vec_id", "embedding",
      dim = 64, k = 10, m = 8, kCent = 16, rerank = 4)
    // corpus representation is ONE long per row
    val enc = e.select(graft.functions.PqExpressions.pqEncode(
      org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")),
      Similarity.trainPqCodebook(e, "vec_id", "embedding", 64, 8, 16), 8, 16, 8).as("code"))
    enc.schema("code").dataType shouldBe org.apache.spark.sql.types.LongType
    val approx = pq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // these embeddings are near-uniform (max pair sim ~0.6) — the
    // hardest regime for coarse quantization; the clustered-fixture test
    // below covers the regime PQ actually serves. Floor measured at 0.62.
    recall should be >= 0.55
    // re-ranked sims are EXACT: every returned (q, n, sim) appears in the
    // brute-force scoring with the same rounded similarity
    val exactSims = Similarity.knnBruteForce(e, queries, "vec_id", "embedding", 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    pq.collect().foreach { r =>
      exactSims((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(3)
    }
  }

  test("knnPq: near-perfect recall on clustered vectors") {
    val base1 = Array.fill(8)(1.0f)
    val base2 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val rows = (0 until 20).map { i =>
      val base = if (i < 10) base1 else base2
      val jitter = base.zipWithIndex.map { case (v, j) => v + 0.01f * ((i * 7 + j) % 5) }
      (i.toLong, jitter.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0 || col("vec_id") === 10)
    val exact = Similarity.knnBruteForce(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnPq(corpus, queries, "vec_id", "embedding",
      dim = 8, k = 5, m = 4, kCent = 4, rerank = 2, iters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.9
  }

  test("pqAdcDot equals dot(query, reconstructed centroid vector) exactly") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val cb = Similarity.trainPqCodebook(e, "vec_id", "embedding", 64, 8, 16)
    val asD = org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double"))
    val enc = e.select(col("vec_id"), asD.as("v"),
      graft.functions.PqExpressions.pqEncode(asD, cb, 8, 16, 8).as("code"))
      .collect()
    val q = enc.head.getSeq[Double](1).toArray
    val lutLocal = Array.tabulate(8 * 16) { i =>
      val mi = i / 16; val ki = i % 16
      (0 until 8).map(di => q(mi * 8 + di) * cb((mi * 16 + ki) * 8 + di)).sum
    }
    enc.take(10).foreach { row =>
      val code = row.getLong(2)
      val expect = (0 until 8).map(mi =>
        lutLocal(mi * 16 + ((code >>> (8 * mi)) & 0xFF).toInt)).sum
      // reconstruction decode: sum of q·c over chosen centroids
      val recon = (0 until 8).flatMap { mi =>
        val ki = ((code >>> (8 * mi)) & 0xFF).toInt
        (0 until 8).map(di => q(mi * 8 + di) * cb((mi * 16 + ki) * 8 + di))
      }.sum
      expect shouldBe recon +- 1e-9
    }
  }

  test("knnIvf: partial probe keeps high recall on clustered vectors") {
    // same two-tight-cluster fixture as the LSH recall test: Lloyd
    // centroids land one per cluster, so probing the nearest list is
    // enough to find each query's true neighbors
    val base1 = Array.fill(8)(1.0f)
    val base2 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val rows = (0 until 20).map { i =>
      val base = if (i < 10) base1 else base2
      val jitter = base.zipWithIndex.map { case (v, j) => v + 0.01f * ((i * 7 + j) % 5) }
      (i.toLong, jitter.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0 || col("vec_id") === 10)
    val exact = Similarity.knnBruteForce(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnIvf(corpus, queries, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.8
  }

  test("knnIvf candidate join is an equi-join on the list id, not all-pairs") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.knnIvf(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 2).queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("nearDupCosine finds only pairs above tau (banded and exact paths)") {
    val d = df(1L -> Seq(1f, 0f, 0f), 2L -> Seq(0.99f, 0.1f, 0f), 3L -> Seq(0f, 0f, 1f))
    for (exact <- Seq(true, false)) {
      val pairs = Similarity.nearDupCosine(d, "vec_id", "embedding", 0.9,
        dim = 3, exact = exact)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      withClue(s"exact=$exact: ") { pairs.toSet shouldBe Set((1L, 2L)) }
    }
  }

  test("nearDupCosine default (banded) equals the exact path on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def res(exact: Boolean) =
      Similarity.nearDupCosine(e, "vec_id", "embedding", 0.45, exact = exact,
          allowLowTau = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    res(false) shouldBe res(true)
  }

  test("nearDupCosine low-tau banded regime requires explicit opt-in") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      Similarity.nearDupCosine(e, "vec_id", "embedding", 0.45)
    }
    // the message must route the caller to the real alternatives
    ex.getMessage should include("exact=true")
    ex.getMessage should include("annIvf")
    ex.getMessage should include("allowLowTau")
    // exact path needs no opt-in (it declares all-pairs by name)…
    noException should be thrownBy
      Similarity.nearDupCosine(e, "vec_id", "embedding", 0.45, exact = true)
    // …and the pruning regime (tau ≥ 0.6) needs none either
    noException should be thrownBy
      Similarity.nearDupCosine(e, "vec_id", "embedding", 0.9)
  }

  test("nearDupCosine banded plan has no cartesian product / nested-loop join") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.nearDupCosine(e, "vec_id", "embedding", 0.45,
        allowLowTau = true)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the exact baseline, by contrast, IS the all-pairs join (planned as
    // CartesianProduct, or BroadcastNestedLoopJoin when one side is tiny)
    val exactPlan = Similarity.nearDupCosine(e, "vec_id", "embedding", 0.45,
      exact = true).queryExecution.executedPlan.toString
    assert(exactPlan.contains("CartesianProduct") ||
      exactPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("semDedupDrops: min-id survives each component, singletons untouched") {
    // component {1,2,3} chained via near-parallel vectors (1~2, 2~3),
    // component {5,6} parallel, 4 isolated
    val d = df(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0.99f, 0.14f, 0f), 3L -> Seq(0.96f, 0.28f, 0f),
      4L -> Seq(0f, 0f, 1f), 5L -> Seq(0f, 1f, 0f), 6L -> Seq(0.1f, 0.995f, 0f))
    val got = Similarity.semDedupDrops(d, "vec_id", "embedding", tau = 0.95,
      dim = 3, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1-3 may or may not clear tau directly, but the chain still joins
    // the component; rep of {1,2,3} is 1, of {5,6} is 5; 4 never appears
    got shouldBe Set((2L, 1L), (3L, 1L), (6L, 5L))
  }

  test("hardNegatives: same-label vectors never appear, ranking is by similarity") {
    val d = Seq(
      (1L, "a", Seq(1f, 0f, 0f)),
      (2L, "a", Seq(0.99f, 0.14f, 0f)),  // most similar to 1 — but same label
      (3L, "b", Seq(0.9f, 0.43f, 0f)),   // best other-label
      (4L, "b", Seq(0f, 1f, 0f)),        // orthogonal
      (5L, "c", Seq(0.7f, 0.71f, 0f))    // middle
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(d, d.filter($"vec_id" === 1L),
        "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    got.map(_._2) shouldBe Seq(3L, 5L) // ranked by sim desc; 2 excluded
  }

  test("hardNegatives: k exceeding other-label candidates returns what exists") {
    val d = Seq(
      (1L, "a", Seq(1f, 0f)), (2L, "a", Seq(0f, 1f)), (3L, "b", Seq(1f, 1f))
    ).toDF("vec_id", "label", "embedding")
    Similarity.hardNegatives(d, d.filter($"vec_id" === 1L),
      "vec_id", "embedding", "label", k = 5).count() shouldBe 1L
  }

  test("semanticContamination: flags docs near an eval item with the best match") {
    val corpus = Seq(
      (100L, Seq(1f, 0f, 0f)),   // ~ eval 1
      (101L, Seq(0f, 0f, 1f)),   // far from both evals
      (102L, Seq(0.6f, 0.8f, 0f)))  // closer to eval 2 (cos 0.8 vs ~0.68)
      .toDF("vec_id", "embedding")
    val evals = Seq((1L, Seq(0.99f, 0.1f, 0f)), (2L, Seq(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(corpus, evals,
        "vec_id", "embedding", tau = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(100L -> 1L, 102L -> 2L)
  }

  test("semanticContamination: banded candidates verify exactly — flags match exact mode") {
    // 40 corpus vectors, 8 evals; near-parallel planted matches. With
    // 64 planes / 2-bit bands a parallel pair collides in some band
    // with near-certainty, and verification is exact either way.
    val base = (0 until 8).map { i =>
      val v = Array.fill(16)(0f); v(i * 2) = 1f; v(i * 2 + 1) = 0.3f; v.toSeq
    }
    val corpus = (0 until 40).map { j =>
      if (j < 8) (100L + j, base(j).map(x => x * 0.9f + (if (x == 0f) 0.01f else 0f)))
      else (100L + j, { val v = Array.fill(16)(0.01f); v(15 - j % 8) = -1f; v.toSeq })
    }.toDF("vec_id", "embedding")
    val evals = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val exact = Similarity.semanticContamination(corpus, evals,
      "vec_id", "embedding", tau = 0.9, exact = true, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Similarity.semanticContamination(corpus, evals,
      "vec_id", "embedding", tau = 0.9, exact = false, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    exact.map(_._1) shouldBe (100L until 108L).toSet // the 8 planted matches
    banded shouldBe exact
  }

  test("assignToCentroids: argmax cosine, ties to lower index, map-side") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),   // on centroid 0
      (2L, Seq(0.0f, 2.0f)),   // on centroid 1 (norm-invariant)
      (3L, Seq(1.0f, 1.0f)),   // equidistant: tie -> cluster 0
      (4L, Seq(-1.0f, 0.0f))   // anti-aligned with 0: picks 1 (cos 0 > -1)
    ).toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val out = Similarity.assignToCentroids(vecs, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out(1L) shouldBe ((0L, 1.0))
    out(2L) shouldBe ((1L, 1.0))
    out(3L)._1 shouldBe 0L
    out(3L)._2 shouldBe (math.sqrt(0.5) +- 1e-6)
    out(4L) shouldBe ((1L, 0.0))
    // scale claim: assignment plans no exchange at all
    graft.ops.Bucketing.shuffleCount(
      Similarity.assignToCentroids(vecs, "vec_id", "embedding", cents)) shouldBe 0
  }

  test("quantizeInt8Audit: exact per-vector scale, recon error, cosine ppm") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(3.0f, -1.5f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)) // zero vector: pinned contract
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8Audit(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dim"), r.getAs[Double]("scale"),
          r.getAs[Double]("sq_err"), r.getAs[Long]("cos_ppm"))).toMap
    val (d1, s1, e1, c1) = got(1L)
    d1 shouldBe 3L
    s1 shouldBe 3.0
    // q = [127, -64, 0] (-63.5 rounds away from zero); only the -1.5
    // component reconstructs inexactly: (-1.5 + 64*3/127)^2
    val expectedErr = math.pow(-1.5 + 64.0 * 3.0 / 127.0, 2)
    e1 shouldBe expectedErr +- 1e-15
    c1 should be >= 999900L
    c1 should be <= 1000000L
    got(2L) shouldBe ((3L, 0.0, 0.0, 1000000L))
  }

  test("embedDrift matches the JVM quantized-centroid cosine") {
    def bucket(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 2
    }
    val vecs = (1L to 8L).map(i =>
      (i, Array(i.toFloat / 10, (9 - i).toFloat / 10, 0.5f)))
    val got = Similarity.embedDrift(vecs.toDF("id", "v"), "id", "v")
      .collect().head
    val halves = vecs.groupBy(v => bucket(v._1))
    def cen(h: Long): Array[Long] = (0 until 3).map(d =>
      halves(h).map(v => math.round(v._2(d).toDouble * 1000000)).sum).toArray
    val (c0, c1) = (cen(0L), cen(1L))
    def dot(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    got.getLong(0) shouldBe halves(0L).size.toLong
    got.getLong(1) shouldBe halves(1L).size.toLong
    got.getDouble(2) shouldBe (dot(c0, c1).toDouble /
      (math.sqrt(dot(c0, c0).toDouble) * math.sqrt(dot(c1, c1).toDouble)))
  }
}
