package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer internals and codegen"),
    (4L, "dog lazy the over jumps fox brown quick the"), // token-set subset/reorder of 1
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactDuplicateGroups: fingerprint mode groups reorderings, raw mode doesn't") {
    val fp = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
    // docs 1 and 5 are byte-identical; doc 4 has a *different* token set
    // (no river/bank/near/today) so it must not join the group
    val groups = fp.collect()
    groups.length shouldBe 1
    groups.head.getAs[Long]("n_docs") shouldBe 2
    val raw = Dedup.exactDuplicateGroups(docs, "doc_id", "text", byRawText = true)
    raw.collect().head.getAs[Seq[Long]]("doc_ids") // present
    raw.count() shouldBe 1
  }

  test("nearDupPairsExact finds the planted near-dup pair and nothing else at tau=0.5") {
    val pairs = Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.toSet shouldBe Set((1L, 2L), (1L, 5L), (2L, 5L))
  }

  test("nearDupPairsExact jaccard values are exact") {
    val j = Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3, tau = 0.0)
      .filter(col("a_id") === 1 && col("b_id") === 5)
      .collect().head.getAs[Double]("jaccard")
    j shouldBe 1.0
  }

  test("maxDf drops stopword-like shingles from the index only") {
    // with maxDf=1 every shared shingle is over-threshold, so no candidates
    Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3, tau = 0.5,
      maxDf = Some(1)).count() shouldBe 0
    // with a loose cutoff the result is unchanged vs None
    Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3, tau = 0.5,
      maxDf = Some(100)).count() shouldBe 3
  }

  test("maxDf jaccard is computed on full sets — the index is candidate generation only") {
    // docs 1,2: near-dups sharing 6 shingles incl. "alpha beta gamma";
    // docs 3,4,5 also contain "alpha beta gamma" → its df is 5, so
    // maxDf=2 drops it from the INDEX. The pair (1,2) must still be
    // found via its df=2 shingles, and its jaccard must count the
    // dropped shingle: 6 shared / 8 union = 0.75 (an index-only count
    // would report 5/9 ≈ 0.556 and silently miss the pair at tau=0.6).
    val hot = Seq(
      (1L, "alpha beta gamma delta epsilon zeta common one two"),
      (2L, "alpha beta gamma delta epsilon zeta common one three"),
      (3L, "alpha beta gamma aaa bbb ccc"),
      (4L, "alpha beta gamma ddd eee fff"),
      (5L, "alpha beta gamma ggg hhh iii")
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupPairsExact(hot, "doc_id", "text", n = 3, tau = 0.6,
      maxDf = Some(2)).collect()
    got.length shouldBe 1
    got.head.getLong(0) shouldBe 1L
    got.head.getLong(1) shouldBe 2L
    got.head.getAs[Double]("jaccard") shouldBe 0.75
    // and it agrees with the unbounded exact path on this pair
    val exact = Dedup.nearDupPairsExact(hot, "doc_id", "text", n = 3, tau = 0.6)
      .filter(col("a_id") === 1 && col("b_id") === 2)
      .collect().head.getAs[Double]("jaccard")
    exact shouldBe 0.75
  }

  test("minHash signatures: identical docs identical sigs, near-dups mostly agree") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", n = 3, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]]("sig")).toMap
    sigs(1L) shouldBe sigs(5L)
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    agree12.toDouble / 64 should be > 0.6 // J(1,2) ≈ 0.86
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    agree13 should be < agree12
  }

  test("nearDupPairsMinHash matches the exact pair set on this corpus") {
    val exact = Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.nearDupPairsMinHash(docs, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    lsh shouldBe exact
  }

  test("simHash kernel is bit-identical to the declarative reference") {
    val kernel = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = Dedup.simHashReference(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    kernel shouldBe ref
  }

  test("simHash: identical docs collide, near-dups are close, unrelated far") {
    val sh = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sh(1L) shouldBe sh(5L)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(sh(1L), sh(2L)) should be < ham(sh(1L), sh(3L))
  }

  test("simHashNearDupPairs returns the identical pair at hamming 0") {
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.map(p => (p._1, p._2)) should contain((1L, 5L))
    pairs.find(p => p._1 == 1L && p._2 == 5L).get._3 shouldBe 0L
  }

  test("contamination flags train docs sharing long n-grams with eval docs") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // 8-grams shared with eval 10
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "totally unrelated words that share nothing with anything else here")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // == train 1
      (11L, "one two three four five"), // only 5 tokens: no 8-grams at all
      (12L, "different eval content entirely with its own eight words plus")
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval, "doc_id", "text", n = 8, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got.keySet shouldBe Set((1L, 10L))
    got((1L, 10L)) shouldBe 3L // 10 tokens -> 3 distinct 8-grams, all shared
  }

  test("incremental dedup equals the full-pairs answer restricted to the new batch") {
    val full = Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // corpus = {1,2,3}, new batch = {4,5}
    val store = Dedup.dedupStore(docs.filter($"doc_id" <= 3), "doc_id", "text")
    val inc = Dedup.incrementalNearDupPairs(
      docs.filter($"doc_id" >= 4), store, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    inc.map(p => (p._1, p._2, p._3)).toSet shouldBe
      full.filter(p => p._1 >= 4 || p._2 >= 4)
    // no corpus-vs-corpus pair leaks through (1,2) is a near-dup but old
    inc.map(p => (p._1, p._2)) should not contain ((1L, 2L))
    // 5 is the exact dup of corpus doc 1 -> new_corpus at jaccard 1.0
    val p15 = inc.find(p => p._1 == 1L && p._2 == 5L).get
    p15._3 shouldBe 1.0
    p15._4 shouldBe "new_corpus"
  }

  test("incremental dedup tolerates a re-submitted doc present in batch AND store") {
    val store = Dedup.dedupStore(docs, "doc_id", "text") // store has everything
    val inc = Dedup.incrementalNearDupPairs(
      docs.filter($"doc_id" === 5), store, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // each qualifying pair appears exactly once despite doc 5's double presence
    inc.length shouldBe inc.toSet.size
    inc.map(p => (p._1, p._2)) should contain ((1L, 5L))
  }

  test("nearDupClusters: transitive pairs collapse to min-id components") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
  }

  test("nearDupClusters converges on a chain longer than one propagation round") {
    import spark.implicits._
    // a 12-node path: the min label travels one hop per round, so this
    // needs ~11 rounds — exercises convergence detection, not just one
    // propagation step
    val pairs = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.keySet shouldBe (1L to 12L).toSet
    got.values.toSet shouldBe Set(1L)
  }

  test("sourceOverlapMatrix: unordered source pairs, diagonal included") {
    val docs = Seq(
      (1L, "the cat sat on the mat today", "web"),
      (2L, "the cat sat on the mat today", "books"), // dup of 1: (books, web)
      (3L, "the cat sat on the mat today", "web"),   // dup of 1,2: (web,web)+(books,web)
      (4L, "completely different words entirely here now", "code")
    ).toDF("doc_id", "text", "src")
    val got = Dedup.sourceOverlapMatrix(docs, "doc_id", "text", "src", n = 3, tau = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    got shouldBe Map(("books", "web") -> 2L, ("web", "web") -> 1L)
  }

  private def containments(docs: org.apache.spark.sql.DataFrame,
                           tauPpm: Long, maxDf: Option[Int] = None): Map[(Long, Long), Long] =
    Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tauPpm = tauPpm, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("containmentPairs: a quoted fragment scores 10^6 toward its host, not back") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),                                // 2 trigrams
      (2L, "intro words alpha beta gamma delta and much more after") // superset of 1's
    ).toDF("doc_id", "text")
    val got = containments(docs, tauPpm = 800000L)
    // doc 1's two trigrams both appear in doc 2 → containment(1→2) = 1.0;
    // doc 2 has 8 trigrams, 2 shared → 250000 ppm, below tau
    got shouldBe Map((1L, 2L) -> 1000000L)
  }

  test("containmentPairs: identical docs contain each other both ways") {
    val docs = Seq(
      (1L, "one two three four five"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    containments(docs, tauPpm = 1000000L) shouldBe
      Map((1L, 2L) -> 1000000L, (2L, 1L) -> 1000000L)
  }

  test("containmentPairs: ppm is floor integer division of exact counts") {
    val docs = Seq(
      (1L, "a b c d"),              // trigrams: abc, bcd
      (2L, "a b c x y z")           // trigrams: abc, bcx, cxy, xyz — shares only abc
    ).toDF("doc_id", "text")
    // containment(1→2) = 1/2 = 500000 ppm; (2→1) = 1/4 = 250000 ppm
    containments(docs, tauPpm = 250000L) shouldBe
      Map((1L, 2L) -> 500000L, (2L, 1L) -> 250000L)
  }

  test("containmentPairs: maxDf candidate bound never changes surviving scores") {
    val docs = Seq(
      (1L, "the cat sat on the mat right now"),
      (2L, "prefix words then the cat sat on the mat right now suffix"),
      (3L, "a wholly different document about other things entirely"),
      (4L, "the cat sat on the mat right now")
    ).toDF("doc_id", "text")
    val unbounded = containments(docs, tauPpm = 500000L)
    val bounded = containments(docs, tauPpm = 500000L, maxDf = Some(10))
    unbounded shouldBe bounded
    unbounded((1L, 2L)) shouldBe 1000000L
  }

  test("nearDupPairsCanonical collapses exact groups before pairing") {
    // 100 exact copies of doc 1 plus one near-dup: raw pairing would emit
    // 100*99/2 identical-text pairs; canonical emits exactly ONE pair
    // (min-id rep vs the near-dup), with the multiplicity carried
    val flood = (10L to 109L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog near the river bank today")) :+
      (200L, "the quick brown fox jumps over the lazy dog near the river bank tonight") :+
      (300L, "completely different text about spark catalyst optimizer internals")
    val out = Dedup.nearDupPairsCanonical(flood.toDF("doc_id", "text"),
      "doc_id", "text", n = 3, tau = 0.5).collect()
    out.length shouldBe 1
    val r = out.head
    r.getLong(0) shouldBe 10L    // canonical = smallest id of the group
    r.getLong(1) shouldBe 200L
    r.getAs[Long]("a_dups") shouldBe 100L
    r.getAs[Long]("b_dups") shouldBe 1L
  }

  test("winnowing guarantee: a shared run of w+n-1 tokens yields a common fingerprint") {
    // docs A and B share the 6-token run "alpha beta gamma delta epsilon zeta"
    // (= w + n - 1 at n=3, w=4) embedded in otherwise-disjoint text
    val d = Seq(
      (1L, "one two three alpha beta gamma delta epsilon zeta four five six"),
      (2L, "seven eight alpha beta gamma delta epsilon zeta nine ten eleven twelve"),
      (3L, "totally unrelated words nothing shared here at all believe me")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, "doc_id", "text", n = 3, w = 4)
    val byDoc = fps.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    (byDoc(1L) intersect byDoc(2L)).size should be >= 1
    (byDoc(1L) intersect byDoc(3L)).size shouldBe 0
  }

  test("winnowing index is smaller than the gram index; short docs get one fingerprint") {
    val longDoc = Seq((1L, (1 to 200).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val nGrams = 200 - 3 + 1
    val nFps = Dedup.winnowFingerprints(longDoc, "doc_id", "text", n = 3, w = 4).count()
    // expected density ~2/(w+1) = 0.4; assert well under the full index
    nFps.toDouble should be < (nGrams * 0.7)
    nFps.toDouble should be > 0.0
    // a doc with >= n tokens but < w grams degrades to ONE global min
    val short = Seq((9L, "just four tokens here")).toDF("doc_id", "text")
    Dedup.winnowFingerprints(short, "doc_id", "text", n = 3, w = 4).count() shouldBe 1L
  }

  test("winnowCandidatePairs finds the quoting pair and honors minShared/maxDf") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, s"leading words then $quote and trailing words here"),
      (2L, s"different prefix $quote with another suffix entirely"),
      (3L, "no shared content with anyone else in this corpus at all"),
      (4L, "also entirely distinct text with its own private words")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidatePairs(d, "doc_id", "text",
      n = 3, w = 4, minShared = 2).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((1L, 2L))
    pairs.head.getAs[Long]("n_shared_fp") should be >= 2L
    // maxDf = 1 drops every shared fingerprint (df = 2) -> no candidates
    Dedup.winnowCandidatePairs(d, "doc_id", "text", n = 3, w = 4,
      minShared = 1, maxDf = Some(1)).count() shouldBe 0L
  }

  test("splitLeakage: cross-split pairs flagged, within-split diagonal kept") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a_id", "b_id")
    val assign = Seq(
      (1L, "train"), (2L, "test"),   // leak
      (3L, "train"), (4L, "train"),  // within
      (5L, "test"), (6L, "train")    // leak, same unordered cell as (1,2)
    ).toDF("doc_id", "split")
    val out = Dedup.splitLeakage(pairs, assign)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3))).toMap
    out(("test", "train")) shouldBe ((2L, true))
    out(("train", "train")) shouldBe ((1L, false))
    out.size shouldBe 2
  }

  test("fuzzyMatchPairs: blocked JW pairs only, threshold honored, kernel-exact") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val df = Seq(
      (1L, "martha stewart", "b1"),
      (2L, "marhta stewart", "b1"),   // transposition inside block
      (3L, "completely other", "b1"),
      (4L, "martha stewart", "b2")    // identical text, other block
    ).toDF("id", "name", "blk")
    val got = Dedup.fuzzyMatchPairs(df, "id", "name", Seq("blk"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    got.length shouldBe 1
    got.head._1 shouldBe 1L
    got.head._2 shouldBe 2L
    got.head._3 shouldBe graft.functions.StringKernels.jaroWinkler(
      u("martha stewart"), u("marhta stewart"))
  }

  test("prefixDupGroups groups identical openings, short docs whole-stream") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"),  // share first 3 tokens
      (3L, "x y z"),                     // unique opening
      (4L, "a b"), (5L, "a b")           // short: whole stream matches
    ).toDF("doc_id", "text")
    val got = Dedup.prefixDupGroups(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
    got shouldBe Array((2L, 1L), (2L, 4L))
  }

  test("clusterSizeHistogram counts clusters by size") {
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L), (21L, 2L),
      (30L, 3L), (31L, 3L)).toDF("doc_id", "cluster_id")
    val got = Dedup.clusterSizeHistogram(clusters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(3L -> 1L, 2L -> 2L)
  }
}
