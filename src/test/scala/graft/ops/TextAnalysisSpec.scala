package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  private def evalCol(text: String, c: org.apache.spark.sql.Column): Any =
    one(text).select(c.as("v")).collect().head.get(0)

  test("tokens split on whitespace and drop empties") {
    evalCol("  the quick\tbrown\n fox ", TextAnalysis.tokens(col("text")))
      .asInstanceOf[scala.collection.Seq[String]].toSeq shouldBe Seq("the", "quick", "brown", "fox")
    evalCol("", TextAnalysis.tokens(col("text"))).asInstanceOf[scala.collection.Seq[String]].toSeq shouldBe Nil
  }

  test("tokenCount agrees with tokens().size without materializing arrays") {
    for (t <- Seq("", "one", "a b  c", " x\ty z ")) {
      evalCol(t, TextAnalysis.tokenCount(col("text"))) shouldBe
        evalCol(t, org.apache.spark.sql.functions.size(TextAnalysis.tokens(col("text"))))
    }
  }

  test("punctCount counts only .,!?;: characters") {
    evalCol("Hi, there! Really?? a.b;c: d", TextAnalysis.punctCount(col("text"))) shouldBe 7
    evalCol("no punctuation here", TextAnalysis.punctCount(col("text"))) shouldBe 0
  }

  test("stopwordCount counts stopword tokens") {
    evalCol("the cat and the dog", TextAnalysis.stopwordCount(
      TextAnalysis.tokens(col("text")))) shouldBe 3
  }

  test("qualitySignals: empty docs yield zero ratios, score in [0,1]") {
    val rows = TextAnalysis.qualitySignals(
      Seq("", "the cat sat. on the mat!", "word " * 200).toDF("text"), col("text"))
      .collect()
    rows.foreach { r =>
      val score = r.getAs[Double]("quality_score")
      score should (be >= 0.0 and be <= 1.0)
    }
    val empty = rows(0)
    empty.getAs[Int]("n_tokens") shouldBe 0
    empty.getAs[Double]("punct_ratio") shouldBe 0.0
    empty.getAs[Double]("stopword_ratio") shouldBe 0.0
  }

  test("languageId identifies marker languages, und otherwise") {
    val cases = Seq(
      "the cat and dog is here of course" -> "en",
      "der hund und die katze das haus" -> "de",
      "el perro y los gatos que corren" -> "es",
      "le chien est dans les jardins des voisins" -> "fr",
      "zyx wvu tsr qpo" -> "und")
    cases.foreach { case (text, want) =>
      withClue(text) {
        evalCol(text, TextAnalysis.languageId(col("text"))) shouldBe want
      }
    }
  }

  test("languageId tie goes to the earlier language in LangMarkers order") {
    // one en marker ("the") and one de marker ("und"): en is declared first
    evalCol("the und", TextAnalysis.languageId(col("text"))) shouldBe "en"
  }

  test("fingerprint is invariant to order and repetition, sensitive to content") {
    def fp(t: String) = evalCol(t, TextAnalysis.fingerprint(col("text")))
    fp("alpha beta gamma") shouldBe fp("gamma beta alpha alpha")
    fp("alpha beta gamma") should not be fp("alpha beta delta")
  }

  test("bpeishTokenCount segments contractions, words, numbers, symbols") {
    evalCol("it's 42 degrees, really!", TextAnalysis.bpeishTokenCount(col("text"))) shouldBe 7
    // it | 's | 42 | degrees | , | really | !
    evalCol("", TextAnalysis.bpeishTokenCount(col("text"))) shouldBe 0
    evalCol("abc123", TextAnalysis.bpeishTokenCount(col("text"))) shouldBe 2 // abc | 123
  }

  test("winnowing: shared substrings share fingerprints, disjoint texts don't") {
    def fps(t: String): Set[Long] = {
      import spark.implicits._
      TextAnalysis.winnowed(Seq(t).toDF("text"), "text")
        .select("winnow_fps").collect().head
        .getSeq[Long](0).toSet
    }
    val a = fps("the quick brown fox jumps over the lazy dog")
    val b = fps("PREFIX then the quick brown fox jumps over the lazy dog")
    val c = fps("zebra xylophone quartz vex")
    (a intersect b).size.toDouble / a.size should be > 0.5
    (a intersect c) shouldBe empty
    fps("abc") shouldBe empty // shorter than k
  }

  test("shingles produce distinct n-grams; short docs yield empty") {
    evalCol("a b c d", TextAnalysis.shingles(col("text"), 3))
      .asInstanceOf[scala.collection.Seq[String]].toSeq.toSet shouldBe Set("a b c", "b c d")
    evalCol("a b", TextAnalysis.shingles(col("text"), 3))
      .asInstanceOf[scala.collection.Seq[String]].toSeq shouldBe Nil
    // repetition dedups
    evalCol("x y x y x y", TextAnalysis.shingles(col("text"), 2))
      .asInstanceOf[scala.collection.Seq[String]].toSeq.toSet shouldBe Set("x y", "y x")
  }

  test("tfIdf: df over full corpus, minTf trims output only, idf exact") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b b c")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(docs, "doc_id", "text", minTf = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // only (doc,term) rows with tf >= 2 survive...
    got.keySet shouldBe Set((1L, "a"), (3L, "b"))
    // ...but doc_freq counts every doc containing the term (a: docs 1,2;
    // b: docs 1,3), not just surviving rows
    got((1L, "a")) shouldBe ((2L, 2L,
      BigDecimal(2.0 * math.log(3.0 / 2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    got((3L, "b")) shouldBe ((3L, 2L,
      BigDecimal(3.0 * math.log(3.0 / 2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("scrubPii masks emails, urls, ips, and phone runs; leaves prose alone") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      "mail me at jo.doe+x@corp.example.co.uk today",
      "see https://ex.org/p?q=1#frag and http://a.b/c",
      "host 192.168.0.1 responded",
      "call +1 (415) 555-0199 now", // spaces break the run: only the parts mask
      "call +14155550199 now",
      "version 1.2 costs $3, order 66 unchanged").toDF("t")
      .select(TextAnalysis.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0))
    rows(0) shouldBe "mail me at <EMAIL> today"
    rows(1) shouldBe "see <URL> and <URL>"
    rows(2) shouldBe "host <IP> responded"
    rows(4) shouldBe "call <PHONE> now"
    rows(5) shouldBe "version 1.2 costs $3, order 66 unchanged"
  }

  test("native WordShingles kernel is value-identical to the declarative reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
    for (n <- Seq(1, 3, 8)) {
      val diff = docs.select(
        TextAnalysis.shinglesFromToks(col("toks"), n).as("fast"),
        TextAnalysis.shinglesHofReference(col("toks"), n).as("ref"))
        .filter(!(col("fast") <=> col("ref")))
      diff.count() shouldBe 0
    }
    // edge: fewer tokens than n -> empty array, not null
    val short = Seq(Seq("a", "b")).toDF("toks")
      .select(TextAnalysis.shinglesFromToks(col("toks"), 3).as("s"))
      .collect().head.getSeq[String](0)
    short shouldBe Seq.empty
  }

  test("unigramLogProbScore: common-word docs beat rare-word docs; exact math on a tiny corpus") {
    import spark.implicits._
    // corpus: "a" x4, "b" x2, "z" x1, n_total = 7
    val docs = Seq((1L, "a a b"), (2L, "a a b"), (3L, "z")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProbScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val expected1 = (2 * math.log(4.0 / 7) + math.log(2.0 / 7)) / 3
    got(1L)._1 shouldBe 3L
    got(1L)._2 shouldBe BigDecimal(expected1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got(3L)._2 shouldBe BigDecimal(math.log(1.0 / 7)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the common-word docs outscore the rare-token doc
    got(1L)._2 should be > got(3L)._2
  }

  test("splitSentences: terminator clusters, tails, leading orphans, empties") {
    import spark.implicits._
    val got = TextAnalysis.splitSentences(
      Seq((1L, "One.. Two! Is it? tail"),
        (2L, "...leading dots. done"),
        (3L, "   "),
        (4L, "no terminator at all"))
        .toDF("doc_id", "text"),
      "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    got(1L) shouldBe Seq("One..", "Two!", "Is it?", "tail")
    // leading orphan terminators have no sentence and drop
    got(2L) shouldBe Seq("leading dots.", "done")
    got.contains(3L) shouldBe false     // whitespace-only doc: no sentence
    got(4L) shouldBe Seq("no terminator at all")
  }

  test("stripHtml: blocks, comments, tags, entities, and the traps between them") {
    import spark.implicits._
    def strip(s: String): String = {
      val r = Seq(Tuple1(s)).toDF("h")
        .select(TextAnalysis.stripHtml(col("h"))).collect()
      r.head.getString(0)
    }
    // script content (with a stray `<` and `&&`) vanishes WITH its block;
    // multi-line style too; tags become spaces so words never weld
    strip("<p>alpha</p><p>beta</p>") shouldBe "alpha beta"
    strip("a<script>\nvar x = 1 < 2 && y;\n</script>b") shouldBe "a b"
    strip("a<style media=\"all\">\np { x }\n</style>b") shouldBe "a b"
    strip("a<!-- multi\nline\ncomment -->b") shouldBe "a b"
    // a stray `<` in TEXT is not a tag start (needs a letter after it)
    strip("1 < 2 and 3 > 2") shouldBe "1 < 2 and 3 > 2"
    // entity decode incl. the &amp;-last rule: escaped markup stays text
    strip("&quot;q&quot;&nbsp;&#39;a&apos; &lt;b&gt; &amp; &amp;lt;kept&amp;gt;") shouldBe
      "\"q\" 'a' <b> & &lt;kept&gt;"
    strip("<html><body class='x'>only   text\t here</body></html>") shouldBe
      "only text here"
  }

  test("bigramLmScore: hand-computed Laplace math; word order matters; short docs drop") {
    import spark.implicits._
    // slots — doc1 "a b a b": (a b)x2, (b a)x1; doc2 "a b": (a b);
    // doc3 "x y": (x y). c12: "a b"->3, "b a"->1, "x y"->1.
    // histories: a->3, b->1, x->1. V covers the WHOLE corpus vocabulary,
    // including the slotless doc4: |{a,b,x,y,solo}| = 5.
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x y"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got(2L) shouldBe ((1L, r6(math.log(4.0 / 8))))          // (3+1)/(3+5)
    got(3L) shouldBe ((1L, r6(math.log(2.0 / 6))))          // (1+1)/(1+5)
    got(1L) shouldBe ((3L,
      r6((2 * math.log(4.0 / 8) + math.log(2.0 / 6)) / 3)))
    got.contains(4L) shouldBe false                         // no bigram slot
    // the corpus-frequent transition outscores the rare one
    got(2L)._2 should be > got(3L)._2
  }

  test("bigramLmScore penalizes shuffled word order that unigram scoring cannot see") {
    import spark.implicits._
    // natural docs repeat the transition "the cat"; the shuffled doc
    // has the same BAG of words but inverted transitions
    val natural = (1L to 8L).map(i => (i, "the cat sat on the mat"))
    val shuffled = Seq((9L, "cat the on sat mat the"))
    val docs = (natural ++ shuffled).toDF("doc_id", "text")
    val bi = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val uni = TextAnalysis.unigramLogProbScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    bi(9L) should be < bi(1L)            // bigram LM separates them…
    uni(9L) shouldBe uni(1L) +- 1e-9     // …while the unigram LM cannot
  }

  test("chunkByTokens: window boundaries, overlap, final partial chunk, no pure-suffix dup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val got = TextAnalysis.chunkByTokens(Seq((1L, doc)).toDF("doc_id", "text"),
      "doc_id", "text", chunkTokens = 4, overlap = 2)
      .orderBy(col("chunk_idx"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    got shouldBe Array(
      (0L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, "t3 t4 t5 t6"),
      (2L, 4L, "t5 t6 t7 t8"),
      (3L, 4L, "t7 t8 t9 t10")) // start 9 would be a pure suffix: excluded
    // doc shorter than one chunk -> single partial chunk
    val short = TextAnalysis.chunkByTokens(Seq((2L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", chunkTokens = 4, overlap = 2)
      .collect().map(r => (r.getLong(1), r.getString(3)))
    short shouldBe Array((0L, "a b"))
  }

  test("pplBucketSelect: corpus-unlike word order lands in the dropped tail") {
    import spark.implicits._
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    // repetition count varies per doc so the slot MIX (and hence the
    // average) is genuinely distinct — identical docs would tie AT a
    // cut threshold and all fall to the lower bucket by the strict->
    // rule
    val docs = (1 to 8).map(i => (i.toLong, Seq.fill(i)(fluent).mkString(" "))) ++ Seq(
      (9L, "mat the on rug cat dog and sat the on the the"), // shuffled: rare bigrams
      (10L, "rug dog mat on and the sat cat the on sat the"))
    val got = TextAnalysis.pplBucketSelect(docs.toDF("doc_id", "text"),
      "doc_id", "text", buckets = 3, sampleMod = 1)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getBoolean(3))).toMap
    got.size shouldBe 10
    got.values.foreach { case (_, b, keep) => keep shouldBe (b >= 2) }
    val worst = got.minBy(_._2._1)
    worst._1 should (be(9L) or be(10L)) // a shuffled doc scores lowest
    worst._2._3 shouldBe false
    got.maxBy(_._2._1)._2._3 shouldBe true // the most corpus-like doc is kept
    got.values.count(!_._3) should be >= 3 // the tail tertile is dropped
  }

  test("pplBucketSelect fails open when the hash sample is empty") {
    import spark.implicits._
    // a huge prime sampleMod means hash % mod == 0 only for three
    // specific 32-bit md5 prefixes none of these six doc_ids has —
    // the sample is empty, no thresholds exist, and the selector
    // must keep everything (the alternative silently drops the corpus)
    val docs = (1 to 6).map(i => (i.toLong, "the cat sat on the mat"))
    val got = TextAnalysis.pplBucketSelect(docs.toDF("doc_id", "text"),
      "doc_id", "text", buckets = 3, sampleMod = 2147483629)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    got.size shouldBe 6
    got.values.foreach { case (b, keep) =>
      b shouldBe 1L // no thresholds -> everyone lands in bucket 1
      keep shouldBe true // ...and the degenerate sample keeps them all
    }
  }

  test("langMix: per-sentence langid majority, ppm share, code-switch flag") {
    import spark.implicits._
    val docs = Seq(
      // two English sentences + one German: code-switched, majority en
      (1L, "the cat is here. the dog is there. der die das und hier."),
      // pure English
      (2L, "the cat and the dog. the end of it."),
      // majority tie en=1, de=1 -> lexicographically smaller 'de' wins
      (3L, "der die das und. the cat is of.")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langMix(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_sents"), r.getAs[Long]("n_langs"),
          r.getAs[String]("major_lang"), r.getAs[Long]("major_ppm"),
          r.getAs[Boolean]("code_switched"))).toMap
    got(1L) shouldBe ((3L, 2L, "en", 666666L, true))
    got(2L) shouldBe ((2L, 1L, "en", 1000000L, false))
    got(3L) shouldBe ((2L, 2L, "de", 500000L, true))
  }

  test("langMix: 'und' sentences are ignorance, not a language") {
    import spark.implicits._
    val docs = Seq(
      // marker-free second sentence must NOT flag a monolingual doc
      (1L, "the cat is here. Hmm."),
      // nothing identifies: major 'und' with zero share, not switched
      (2L, "Hmm. Uh huh.")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langMix(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_sents"), r.getAs[Long]("n_langs"),
          r.getAs[String]("major_lang"), r.getAs[Long]("major_ppm"),
          r.getAs[Boolean]("code_switched"))).toMap
    got(1L) shouldBe ((2L, 1L, "en", 500000L, false))
    got(2L) shouldBe ((2L, 0L, "und", 0L, false))
  }

  test("sourceDatasheet: volume, types, ttr, dup ppm, lang spread per source") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", Some("en"), "a b a b"), // 4 tokens, 2 types
      (2L, "s1", Some("fr"), "b a"),     // same fingerprint as doc 1 -> dup
      (3L, "s1", None, "c"),
      (4L, "s2", Some("en"), "x y z")
    ).toDF("doc_id", "source", "lang", "text")
    val got = TextAnalysis.sourceDatasheet(docs, "source", "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    // s1: 3 docs, 7 tokens, types {a,b,c}=3, ttr 3/7, langs {en,fr}=2,
    // fingerprints {ab, c}=2 -> dup (3-2)/3
    got("s1") shouldBe ((3L, 7L, 3L, 428571L, 2L, 2L, 333333L))
    got("s2") shouldBe ((1L, 3L, 3L, 1000000L, 1L, 1L, 0L))
  }

  test("keyness: slice-characteristic terms score high-|z|, balanced terms drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 'aaa' dominates group A, 'bbb' dominates B, 'mid' is balanced
    val docs = (1 to 10).map(i => (i.toLong, "A", ("aaa " * 8 + "mid").trim)) ++
      (11 to 20).map(i => (i.toLong, "B", ("bbb " * 8 + "mid").trim))
    val got = TextAnalysis.keyness(docs.toDF("doc_id", "grp", "text"),
      "text", col("grp") === "A", zThreshold = 1.96)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    got.keySet shouldBe Set("aaa", "bbb") // 'mid' is 10-10: |z| ~ 0, filtered
    got("aaa")._1 shouldBe 80L
    got("aaa")._3 should be > 1.96
    got("bbb")._3 should be < -1.96
    // symmetric counts -> antisymmetric z
    got("aaa")._3 shouldBe -got("bbb")._3 +- 1e-9
  }

  test("cdcChunks: edit-shift realignment, shared-chunk counts, single-chunk shorties") {
    import spark.implicits._
    // doc 2 = doc 1 with an inserted 2-token prefix. Fixed-window chunks
    // would all shift and share nothing; content-defined cuts realign at
    // the first common boundary, so most chunk fingerprints are shared.
    val base = (1 to 80).map(i => s"w${i % 37}x$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, "inserted prefix " + base),
      (3L, "totally different content here"), (4L, "solo")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cdcChunks(docs, "doc_id", "text", grams = 3, divisor = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.length should be >= 1
    all(got.map(_._2)) should be >= 2L // every row is a genuinely shared chunk
    got.foreach { c => c._5 shouldBe 1L } // shared chunks all originate in doc 1
    // realigned mass: the shared chunks cover most of the 80-token tail
    val sharedTokens = got.map(_._4).sum
    sharedTokens should be >= 40L
    // a doc below the gram width yields one whole-doc chunk (not zero):
    // pair it with its twin so the HAVING >= 2 gate keeps it
    val tiny = TextAnalysis.cdcChunks(
      Seq((1L, "solo"), (2L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text", grams = 3, divisor = 4)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    tiny shouldBe Array((2L, 1L))
  }

  test("packByTokenBudget: prefix-sum pack ids, sharded variant packs per shard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, ("a " * 300).trim), (2L, ("b " * 300).trim), // 300 + 300
      (3L, ("c " * 100).trim), (4L, ("d " * 500).trim)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.packByTokenBudget(docs, "doc_id", "text", 512)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // prefixes: 0, 300, 600, 700 -> packs 0, 0, 1, 1
    got shouldBe Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L)

    val sharded = TextAnalysis.packByTokenBudget(
      docs.withColumn("shard", col("doc_id") % 2), "doc_id", "text", 512,
      shardCol = Some("shard"))
      .select("doc_id", "pack_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shard 1: docs 1 (prefix 0), 3 (prefix 300) -> both pack 0
    // shard 0: docs 2 (prefix 0), 4 (prefix 300) -> both pack 0
    sharded.values.toSet shouldBe Set(0L)
  }

  test("normalizeText: control chars out, whitespace collapsed, case folded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq("  Hello\t\nWORLD  x ").toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).collect().head.getString(0)
    got shouldBe "hello world x"
  }

  test("repetitionStats: exact type/token and top n-gram shares") {
    val docs = Seq(
      (1L, "A a a b. c"),       // lowered: [a,a,a,b.,c] n=5 distinct=3
      (2L, "x y"),              // no repetition at all
      (3L, "solo"),             // 1 token: bigram share must be NULL
      (4L, "z z z z")           // fully degenerate
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    // doc 1: max unigram 'a'×3 / 5; bigrams [a a, a a, a b., b. c] -> 2/4
    got(1L) shouldBe ((5L, 0.6, 0.6, Some(0.5)))
    got(2L) shouldBe ((2L, 1.0, 0.5, Some(1.0)))
    got(3L) shouldBe ((1L, 1.0, 1.0, None))
    got(4L) shouldBe ((4L, 0.25, 1.0, Some(1.0)))
  }

  test("duplicatedNgramShare: inter-doc coverage, intra-doc repeats don't count") {
    val docs = Seq(
      (1L, "a b c d e f"),   // bigrams: [a b, b c, c d, d e, e f]
      (2L, "x a b c d y"),   // shares [a b, b c, c d] with doc 1
      (3L, "p q p q p q"),   // intra-doc repeated bigrams, in no other doc
      (4L, "z")              // < n tokens: excluded
    ).toDF("doc_id", "text")
    val got = TextAnalysis.duplicatedNgramShare(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    got.keySet shouldBe Set(1L, 2L, 3L)
    got(1L) shouldBe ((5L, 3L, 0.6))
    got(2L) shouldBe ((5L, 3L, 0.6))
    // [p q, q p, p q, q p, p q]: every gram repeats WITHIN the doc but
    // appears in no other doc — dup_ngrams must stay 0
    got(3L) shouldBe ((5L, 0L, 0.0))
  }

  test("piiDensity: sequential attribution — an email never re-counts as a phone") {
    val docs = Seq(
      (1L, "reach me at bob+1@corp.example.org or https://ex.org/x then 10.0.0.1 or +14155550123"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c@d.io and 1.2.3.4")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiDensity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    got(1L) shouldBe ((1L, 1L, 1L, 1L, 4L))
    got(2L) shouldBe ((0L, 0L, 0L, 0L, 0L))
    got(3L) shouldBe ((2L, 0L, 1L, 0L, 3L))
  }

  test("corpusComposition: cells sum to the corpus; integer ppm shares") {
    val docs = Seq(
      ("en", "web", "a b c"), ("en", "web", "d e"), ("en", "books", "f"),
      ("fr", "web", "g h i j"), (null, "web", "k")
    ).toDF("lang", "source", "text")
    val got = TextAnalysis.corpusComposition(docs, "text", "lang", "source")
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    got((Some("en"), "web")) shouldBe ((2L, 5L, 454545L))   // floor(5e6/11)
    got((Some("en"), "books")) shouldBe ((1L, 1L, 90909L))
    got((Some("fr"), "web")) shouldBe ((1L, 4L, 363636L))
    got((None, "web")) shouldBe ((1L, 1L, 90909L)) // null lang is real mass
    got.values.map(_._2).sum shouldBe 11L
  }

  test("frequentNgrams: df over instances, deterministic tie order") {
    val docs = Seq(
      (1L, "x y z x y z"),  // bigram "x y" twice here (2 instances, 1 df)
      (2L, "a b c d"),      // "a b", "b c", "c d" once each
      (3L, "a b e f")       // "a b" again -> df 2
    ).toDF("doc_id", "text")
    val got = TextAnalysis.frequentNgrams(docs, "doc_id", "text", n = 2, topN = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // "a b": df 2; then df-1 grams ranked by instances desc, gram asc:
    // "x y" (2 instances) beats "y z" (2 instances) alphabetically...
    // both have 2; "b c" etc. have 1 -> next is "x y" then "y z"
    got shouldBe Array(
      (1L, "a b", 2L, 2L), (2L, "x y", 1L, 2L), (3L, "y z", 1L, 2L))
  }

  test("filterVerdicts: each rule flags its reason; clean doc keeps") {
    // defaults: minTokens=20 maxTokens=90 minStop=0.01 atl in [3,5]
    //           minDistinct=0.35 maxTopUnigram=0.12
    // cycle the stopword so no single token dominates the unigram share
    val stops = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    def prose(n: Int) =
      (1 to n).map(i => s"${stops(i % 10)} word$i").mkString(" ")
    val clean = prose(40)  // 80 toks, stop .5, atl ~3.9, uni .05, ttr .625
    val short = prose(9)   // 18 toks: too_short only
    val repet = Seq.fill(40)("the spam").mkString(" ") // ttr .025, uni .5
    val longT = prose(50)  // 100 toks: too_long only
    val noStop = (1 to 40).map(i => s"wd$i xy$i").mkString(" ") // no stopwords
    val docs = Seq(
      (1L, clean), (2L, short), (3L, repet), (4L, longT), (5L, noStop)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.filterVerdicts(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getString(3))).toMap
    got(1L) shouldBe ((true, ""))
    got(2L) shouldBe ((false, "too_short"))
    got(3L)._1 shouldBe false
    got(3L)._2 should include ("repetitive")
    got(3L)._2 should include ("dominant_unigram")
    got(4L) shouldBe ((false, "too_long"))
    got(5L)._1 shouldBe false
    got(5L)._2 should include ("low_stopword")
  }

  test("duplicatedSpans: maximal islands with correct token extents") {
    val shared = "one two three four five six seven" // 7 tokens: 6 bigram positions
    val docs = Seq(
      (1L, s"intro $shared outro closing words here"),
      (2L, s"other text then $shared trailing bit"),
      (3L, "nothing shared with anybody at all today")
    ).toDF("doc_id", "text")
    // n=2: doc1 dup bigrams at positions 1..6 ("one two".."six seven");
    // "intro one" and "seven outro" exist only in doc1 -> excluded, so
    // the island is exactly [1..6] grams covering tokens [1, 7]
    val got = TextAnalysis.duplicatedSpans(docs, "doc_id", "text", n = 2, minRun = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    got.keySet shouldBe Set(1L, 2L)
    got(1L) shouldBe ((1L, 7L, 7L))  // tokens 1..7 = the shared phrase
    got(2L) shouldBe ((3L, 9L, 7L))  // shifted by its 3-token prefix
  }

  test("duplicatedSpans: two separated runs stay two spans; short runs drop") {
    val docs = Seq(
      (1L, "aa bb cc xx yy dd ee ff"),  // shares aa-bb-cc and dd-ee-ff with doc2
      (2L, "aa bb cc qq ww dd ee ff"),
      (3L, "zz aa ss tt uu vv ww xx")   // "aa" alone: 1-gram runs only
    ).toDF("doc_id", "text")
    val got = TextAnalysis.duplicatedSpans(docs, "doc_id", "text", n = 2, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc1: "aa bb","bb cc" at pos 0,1 -> span [0,2]; "dd ee","ee ff" at 5,6 -> [5,7]
    got shouldBe Set((1L, 0L, 2L), (1L, 5L, 7L), (2L, 0L, 2L), (2L, 5L, 7L))
  }

  test("removeDuplicatedSpans cuts exactly the spans; untouched docs survive whole") {
    val docs = Seq(
      (1L, "aa bb cc xx yy dd ee ff"),
      (2L, "aa bb cc qq ww dd ee ff"),
      (3L, "totally unique words only here"),
      (4L, null.asInstanceOf[String])  // must survive, rebuilt empty
    ).toDF("doc_id", "text")
    val got = TextAnalysis.removeDuplicatedSpans(docs, "doc_id", "text", n = 2, minRun = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc1 spans [0,2] and [5,7] -> kept tokens "xx yy"; doc2 -> "qq ww"
    got(1L)._1 shouldBe 2L
    got(1L)._2 shouldBe 6L
    got(1L)._3 shouldBe md5hex("xx yy")
    got(2L)._3 shouldBe md5hex("qq ww")
    got(3L) shouldBe ((5L, 0L, md5hex("totally unique words only here")))
    got(4L) shouldBe ((0L, 0L, md5hex("")))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("span family properties on a seeded random corpus vs independent recomputation") {
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 40L).map { i =>
      val len = 10 + rnd.nextInt(21)
      i -> Seq.fill(len)("w" + rnd.nextInt(12)).mkString(" ")
    }
    val docs = corpus.toDF("doc_id", "text")
    val n = 3

    // independent ground truth: gram -> set of docs containing it
    val toksOf = corpus.toMap.view.mapValues(_.split("\\s+").toSeq).toMap
    val gramDocs = corpus.flatMap { case (id, _) =>
      toksOf(id).sliding(n).map(_.mkString(" ")).distinct.map(g => (g, id))
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def isDupPos(id: Long, p: Int): Boolean = {
      val g = toksOf(id).slice(p, p + n).mkString(" ")
      (gramDocs(g) - id).nonEmpty
    }

    val spans = TextAnalysis.duplicatedSpans(docs, "doc_id", "text", n = n, minRun = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
    // every span in bounds, covering only dup gram positions, and MAXIMAL
    spans.foreach { case (id, s, e) =>
      val nt = toksOf(id).size
      assert(s >= 0 && e < nt && e - s + 1 >= n)
      (s to e - n + 1).foreach(p => assert(isDupPos(id, p), s"pos $p of doc $id"))
      if (s > 0) assert(!isDupPos(id, s - 1), s"span of doc $id not left-maximal")
      if (e - n + 1 < nt - n) assert(!isDupPos(id, e - n + 2), s"doc $id not right-maximal")
    }
    // gram RUNS of one doc are disjoint with a gap >= 1 (token extents
    // may overlap by up to n-2 — the documented contract; the cutter
    // unions extents)
    spans.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(s2 - (e1 - n + 1) >= 2)
        case _ =>
      }
    }
    // completeness: every dup position is covered by some span
    corpus.foreach { case (id, _) =>
      val covered = spans.filter(_._1 == id)
        .flatMap { case (_, s, e) => (s to e - n + 1) }.toSet
      (0 to toksOf(id).size - n).foreach { p =>
        assert(isDupPos(id, p) == covered.contains(p), s"doc $id pos $p")
      }
    }
    // bookkeeping of the cutter: kept + removed == n_tokens, removal ==
    // the union of span token extents
    val rebuilt = TextAnalysis.removeDuplicatedSpans(docs, "doc_id", "text",
      n = n, minRun = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    corpus.foreach { case (id, _) =>
      val nt = toksOf(id).size
      val cut = spans.filter(_._1 == id)
        .flatMap { case (_, s, e) => (s to e) }.toSet.size
      rebuilt(id) shouldBe ((nt.toLong - cut, cut.toLong))
    }
  }

  test("dsirScores: target-vocab docs score positive, off-target negative") {
    // token counts must DOMINATE the +1-over-128-buckets smoothing: with
    // only a handful of tokens the Laplace prior (tc+1)/(rc+1) ≈ 3/5
    // outweighs the true 2/4-vs-4/12 preference and flips the sign
    val rep = Seq.fill(100)("alpha beta").mkString(" ")
    val off = Seq.fill(100)("gamma delta").mkString(" ")
    val docs = Seq(
      (1L, rep, "en"),   // target, target-only vocab
      (2L, off, "fr"),   // non-target-only vocab
      (3L, rep, "fr"),   // target vocab, non-target doc
      (4L, "", "en")     // zero tokens: excluded
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.dsirScores(docs, "doc_id", "text",
      isTarget = col("lang") === "en", nBuckets = 128)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got.keySet shouldBe Set(1L, 2L, 3L)
    got(1L)._1 shouldBe 200L
    // docs 1 and 3 share text, so identical scores regardless of which
    // side of the target they sit on — the score is about the CONTENT
    got(1L)._2 shouldBe got(3L)._2
    got(1L)._2 should be > 0.0   // target-LM vocabulary
    got(2L)._2 should be < 0.0   // vocabulary the target never saw
  }

  test("dsirScores: one bucket collapses both LMs — every score exactly 0") {
    val docs = Seq(
      (1L, "a b c", "en"), (2L, "d e", "fr"), (3L, "f", "zh")
    ).toDF("doc_id", "text", "lang")
    // with a single hashed bucket, tc = tt and rc = tr for every token,
    // so each addend is tf * ln((tt+1)(tr+1) / ((tr+1)(tt+1))) = ln(1)
    val got = TextAnalysis.dsirScores(docs, "doc_id", "text",
      isTarget = col("lang") === "en", nBuckets = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got shouldBe Map(1L -> 0.0, 2L -> 0.0, 3L -> 0.0)
  }

  test("collocations: hand-computed bigram lift, adjacency only") {
    // corpus: "new york new york" + "old york" →
    // bigrams: (new,york)x2, (york,new)x1, (old,york)x1 → Nb=4
    // unigrams: new=2, york=3, old=1 → Nt=6
    val docs = Seq((1L, "new york new york"), (2L, "old york")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "doc_id", "text",
        minCount = 1L, topN = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // lift(new,york) = (2/4) / ((2/6)*(3/6)) = 3.0 → 3_000_000 ppm
    got(("new", "york")) shouldBe ((2L, 3000000L))
    // lift(old,york) = (1/4) / ((1/6)*(3/6)) = 3.0 as well
    got(("old", "york")) shouldBe ((1L, 3000000L))
    // lift(york,new) = (1/4) / ((3/6)*(2/6)) = 1.5
    got(("york", "new")) shouldBe ((1L, 1500000L))
  }

  test("collocations: minCount trims before the join, topN is total-ordered") {
    val docs = Seq((1L, "a b a b a b"), (2L, "c d")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "doc_id", "text",
        minCount = 2L, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    got shouldBe Set(("a", "b"), ("b", "a")) // (c,d) count 1 → trimmed
  }

  test("oovRate: exact integer ppm against a tiny vocabulary") {
    // vocab size 2 by doc_freq → {"the" (df 2), "a" (df 2)}
    val docs = Seq(
      (1L, "en", "the a zebra"),     // 3 tokens, 1 oov
      (2L, "de", "the a the a qux")) // 5 tokens, 1 oov
      .toDF("doc_id", "grp", "text")
    val got = TextAnalysis.oovRate(docs, "doc_id", "text", "grp", vocabSize = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    got("en") shouldBe ((3L, 1L, 333333L))
    got("de") shouldBe ((5L, 1L, 200000L))
  }

  test("docEntropy: uniform doc hits ln(n_distinct), repeated-token doc scores 0") {
    val docs = Seq(
      (1L, "a b c d"),       // uniform over 4 types → entropy ln 4, ratio 1
      (2L, "x x x x"),       // one type → entropy 0, ratio null (0/0)
      (3L, "a a a b"))       // skewed
      .toDF("doc_id", "text")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.docEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), Option(r.get(4))))).toMap
    got(1L)._3 shouldBe r6(math.log(4.0))
    got(1L)._4 shouldBe Some(1.0)
    got(2L) shouldBe ((4L, 1L, 0.0, None))
    // skewed: -(3/4)ln(3/4) - (1/4)ln(1/4), term-sorted fold a then b
    val e3 = 0.0 - (3.0 / 4) * math.log(3.0 / 4) - (1.0 / 4) * math.log(1.0 / 4)
    got(3L)._3 shouldBe r6(e3)
    got(3L)._1 shouldBe 4L
  }

  test("bm25: hand-computed Okapi scores, term-sorted fold") {
    val docs = Seq(
      (1L, "cat dog"),       // dl 2
      (2L, "cat cat fish"),  // dl 3
      (3L, "bird"))          // dl 1 — matches nothing, absent from output
      .toDF("doc_id", "text")
    // N = 3, total_dl = 6, avgdl = 2.0; df(cat) = 2, df(fish) = 1
    def idf(df: Long) = math.log((3L - df + 0.5) / (df + 0.5) + 1.0)
    def norm(tf: Long, dl: Long) =
      (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (6L / 3L.toDouble))))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = r6(0.0 + idf(2) * norm(1, 2))
    val exp2 = r6(0.0 + idf(2) * norm(2, 3) + idf(1) * norm(1, 3)) // cat then fish
    val got = TextAnalysis.bm25(docs, "doc_id", "text", Seq("cat", "fish"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    got.keySet shouldBe Set(1L, 2L)
    got(1L) shouldBe ((1L, exp1))
    got(2L) shouldBe ((2L, exp2))
  }

  test("bm25: rounded-score ordering with doc-id tiebreak, topN cut") {
    val docs = Seq(
      (3L, "cat x"), (1L, "cat x"), (2L, "cat x"), // exact ties → id order
      (4L, "cat cat cat y"))                       // higher tf, but longer doc
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text", Seq("cat"), topN = 3)
      .select("doc_id").as[Long].collect().toSeq
    got should have size 3
    // saturating tf vs length norm: ranks are deterministic; the tied
    // trio must appear in doc-id order within the result
    val tied = got.filter(Set(1L, 2L, 3L))
    tied shouldBe tied.sorted
  }

  test("bm25 is partitioning-independent") {
    val docs = (1L to 40L).map(i => (i, if (i % 3 == 0) "cat dog fish" else "dog only here"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.bm25(docs.repartition(1), "doc_id", "text", Seq("cat", "fish"), topN = 10)
      .collect().toSeq
    val b = TextAnalysis.bm25(docs.repartition(17), "doc_id", "text", Seq("cat", "fish"), topN = 10)
      .collect().toSeq
    a shouldBe b
  }

  test("linearQualityScore: exact ppm sums, bias-only empty docs, bounded scores") {
    import org.apache.spark.sql.functions._
    val w = Seq.tabulate(16)(i => (i.toLong * 101L) % 2001L - 1000L)
    val d = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.linearQualityScore(d, "doc_id", "text", w, biasPpm = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // bucket indices computed with the same engine-portable hash the op uses
    val idx = d.sparkSession.range(1).select(
      conv(substring(md5(lit("alpha").cast("binary")), 1, 8), 16, 10).cast("long") % 16,
      conv(substring(md5(lit("beta").cast("binary")), 1, 8), 16, 10).cast("long") % 16)
      .head()
    val expected = 2 * w(idx.getLong(0).toInt) + w(idx.getLong(1).toInt)
    out(1L)._1 shouldBe 3L
    out(1L)._2 shouldBe expected // BIGINT sum: exact, order-independent
    out(1L)._3 should (be > 0.0 and be < 1.0)
    out(2L) shouldBe ((0L, 0L, 0.5)) // empty doc: sigmoid(bias=0) exactly
    out(3L) shouldBe ((0L, 0L, 0.5)) // null text repairs to empty, not null row
  }

  test("filterFunnel conserves mass and bills docs to their first rule") {
    val docs = Seq(
      (1L, "a b"),                                   // too_short (2 tokens)
      (2L, Seq.fill(200)("the quick fox").mkString(" ")), // too_long fires first
      (3L, (1 to 25).map(i => s"the w$i of").mkString(" ")) // 75 tokens: survives
                                                    // the length gates, trips token_len
    ).toDF("doc_id", "text")
    val f = TextAnalysis.filterFunnel(docs, "doc_id", "text")
      .orderBy("stage").collect()
    f.length shouldBe 6
    // conservation: stage k's n_out is stage k+1's n_in; totals add up
    f.sliding(2).foreach { case Array(a, b) =>
      a.getAs[Long]("n_out") shouldBe b.getAs[Long]("n_in") }
    f.head.getAs[Long]("n_in") shouldBe 3L
    f.map(_.getAs[Long]("n_dropped")).sum + f.last.getAs[Long]("n_out") shouldBe 3L
    val byRule = f.map(r => r.getString(1) -> r.getAs[Long]("n_dropped")).toMap
    byRule("too_short") shouldBe 1L
    byRule("too_long") shouldBe 1L  // doc 2 billed here, not to later rules it also violates
    byRule("token_len") shouldBe 1L // doc 3 passes both length gates first
  }

  test("readability: hand-computed counts and formulas, guards, one-sentence fallback") {
    val d = Seq(
      (1L, "The cat sat. The dog ran away!"),
      (2L, "no terminator at all here"),
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readability(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 7 words; 2 sentences; syllable groups: the/cat/sat./the/
    // dog/ran = 1 each, away = "a","ay" = 2 → 8 total
    out(1L).getLong(1) shouldBe 7L
    out(1L).getLong(2) shouldBe 2L
    out(1L).getLong(3) shouldBe 8L
    out(1L).getDouble(4) shouldBe
      (206.835 - 1.015 * (7.0 / 2.0) - 84.6 * (8.0 / 7.0)) +- 1e-9
    out(1L).getDouble(5) shouldBe
      (0.39 * (7.0 / 2.0) + 11.8 * (8.0 / 7.0) - 15.59) +- 1e-9
    // no terminator → one sentence
    out(2L).getLong(2) shouldBe 1L
    // empty text → zero words, null scores (never NaN/Inf)
    out(3L).getLong(1) shouldBe 0L
    out(3L).isNullAt(4) shouldBe true
    out(3L).isNullAt(5) shouldBe true
    // null text filtered
    out.contains(4L) shouldBe false
  }

  test("scriptProfile: hand-counted scripts, whitespace excluded, empty-doc nulls") {
    val d = Seq(
      (1L, "abc где 中文 ال"),  // 3 latin, 3 cyrillic, 2 cjk, 2 arabic → 10 chars
      (2L, "   "),
      (3L, "no1! ?")            // digits/punct count in n_chars, no script
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    out(1L).getLong(1) shouldBe 10L
    out(1L).getLong(2) shouldBe 300000L  // latin
    out(1L).getLong(3) shouldBe 300000L  // cyrillic
    out(1L).getLong(4) shouldBe 200000L  // cjk
    out(1L).getLong(5) shouldBe 200000L  // arabic
    out(2L).getLong(1) shouldBe 0L
    out(2L).isNullAt(2) shouldBe true
    out(3L).getLong(1) shouldBe 5L
    out(3L).getLong(2) shouldBe 400000L  // 'n','o' of 5 chars
  }

  test("mixedScriptTokens: homoglyph tokens flagged, pure-script text clean") {
    import spark.implicits._
    val docs = Seq(
      // Cyrillic \u0430 inside a Latin token: the classic spoof
      (1L, "pay at p\u0430ypal now"),
      // Greek capital alpha leading a Latin token
      (2L, "buy \u0391pple stock"),
      // pure Cyrillic word next to Latin words: NOT mixed (per-token test)
      (3L, "the word \u043e\u0431\u044b\u0447\u043d\u043e is fine"),
      (4L, "plain ascii only")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.mixedScriptTokens(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_mixed"),
          r.getAs[Long]("mixed_ppm"), r.getAs[String]("first_mixed"))).toMap
    got(1L) shouldBe ((4L, 1L, 250000L, "p\u0430ypal"))
    got(2L) shouldBe ((3L, 1L, 333333L, "\u0391pple"))
    got(3L) shouldBe ((5L, 0L, 0L, ""))
    got(4L) shouldBe ((3L, 0L, 0L, ""))
  }

  test("compressionRatio: repetition compresses far below varied prose") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam " * 50),
      (2L, (1 to 150).map(i => s"w${i * 7919 % 9973}").mkString(" ")),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bytes"), r.getAs[Long]("n_deflated"),
          r.getAs[Long]("ratio_ppm"))).toMap
    got(1L)._3 should be < 100000L      // pure repetition: < 10%
    got(2L)._3 should be > 400000L      // varied tokens compress poorly
    got(3L) shouldBe ((0L, got(3L)._2, 0L)) // empty doc: ratio 0 by contract
    // determinism: the same corpus deflates to the same bytes
    val again = TextAnalysis.compressionRatio(docs.repartition(3), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_deflated")).toMap
    again(1L) shouldBe got(1L)._2
    again(2L) shouldBe got(2L)._2
  }

  test("compressionRatio: id column keeps its type (string ids work)") {
    import spark.implicits._
    val docs = Seq(("doc-001", "text text text text")).toDF("doc_id", "text")
    val r = TextAnalysis.compressionRatio(docs, "doc_id", "text").collect().head
    r.getString(0) shouldBe "doc-001"
    r.getAs[Long]("n_deflated") should be > 0L
  }

  test("zipfFit recovers a planted power law exactly (alpha 2, r2 1)") {
    import spark.implicits._
    // freqs 36, 9, 4 at ranks 1, 2, 3: ln f = ln 36 - 2 ln r exactly
    val text = (Seq.fill(36)("aa") ++ Seq.fill(9)("bb") ++ Seq.fill(4)("cc"))
      .mkString(" ")
    val got = TextAnalysis.zipfFit(
      Seq(("s1", text)).toDF("source", "text"), "source", "text")
      .collect().head
    got.getLong(1) shouldBe 3L
    got.getDouble(2) shouldBe 2.0 +- 1e-9
    got.getDouble(3) shouldBe 1.0 +- 1e-9
  }

  test("zipfFit: under 3 ranks masks to NULL; tied freqs are order-invariant") {
    import spark.implicits._
    val two = TextAnalysis.zipfFit(
      Seq(("s", "x x y")).toDF("source", "text"), "source", "text")
      .collect().head
    two.isNullAt(2) shouldBe true
    // ALL freqs tied: zero y-variance, the fit is undefined — masked by
    // the discrete fmin=fmax guard (never the engine-unstable fp residual)
    val tied = TextAnalysis.zipfFit(
      Seq(("s", "p p q q r r")).toDF("source", "text"), "source", "text")
      .collect().head
    tied.getLong(1) shouldBe 3L
    tied.isNullAt(2) shouldBe true
    tied.isNullAt(3) shouldBe true
    // ties: b and c both freq 2 -> rank permutation cannot move the fit
    val t = "a a a a b b c c d"
    val base = Seq(("s", t)).toDF("source", "text")
    val a = TextAnalysis.zipfFit(base, "source", "text").collect().head
    val b = TextAnalysis.zipfFit(base.repartition(5), "source", "text")
      .collect().head
    a.getDouble(2) shouldBe b.getDouble(2)
    a.getDouble(3) shouldBe b.getDouble(3)
  }

  test("encodingAudit flags each damage class at doc level, once per doc") {
    import spark.implicits._
    val df = Seq(
      ("s", "clean text"),
      ("s", "bad \uFFFD here and \uFFFD again"),   // counted once
      ("s", "caf\u00C3\u00A9 moji"),
      ("s", "c1 \u0085 control"),
      ("s", "nb\u00A0sp")
    ).toDF("source", "text")
    val r = TextAnalysis.encodingAudit(df, "source", "text").collect().head
    r.getLong(1) shouldBe 5L  // n_docs
    r.getLong(2) shouldBe 1L  // replacement docs (not occurrences)
    r.getLong(3) shouldBe 1L  // double-utf8
    r.getLong(4) shouldBe 1L  // c1
    r.getLong(5) shouldBe 1L  // nbsp
  }

  test("heapsFit matches the JVM ln-ln OLS over exact (N, V) points") {
    val docs = Seq(
      ("a", "a b c a"),        // N=4, V=3
      ("b", "x y"),            // N=2, V=2
      ("c", "p q r s t p q")   // N=7, V=5
    ).toDF("source", "text")
    val got = TextAnalysis.heapsFit(docs, "source", "text").collect().head
    val ordered = Seq((4L, 3L), (2L, 2L), (7L, 5L)) // fold order = source order
    def f(g: ((Long, Long)) => Double) = ordered.foldLeft(0.0)((a, p) => a + g(p))
    val (sx, sy) = (f(p => math.log(p._1.toDouble)), f(p => math.log(p._2.toDouble)))
    val sxy = f(p => math.log(p._1.toDouble) * math.log(p._2.toDouble))
    val sxx = f(p => math.log(p._1.toDouble) * math.log(p._1.toDouble))
    val n = 3.0
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.getLong(0) shouldBe 3L
    got.getDouble(1) shouldBe r6(slope)
    got.getDouble(2) shouldBe r6((sy - slope * sx) / n)
  }

  test("termDrift ranks by the exact integer cross-difference") {
    def bucket(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 2
    }
    // term "common" in every doc (zero drift when halves are equal
    // sized); "drifty" only in docs of one half
    val ids = (1L to 20L)
    val h0 = ids.filter(bucket(_) == 0)
    val docs = ids.map { i =>
      val extra = if (bucket(i) == 0) " drifty" else ""
      (i, s"common$extra")
    }
    val got = TextAnalysis.termDrift(docs.toDF("doc_id", "text"),
      "doc_id", "text", topK = 5).collect()
    got.head.getString(0) shouldBe "drifty"
    got.head.getLong(1) shouldBe h0.size.toLong
    got.head.getLong(2) shouldBe 0L
    got.head.getDouble(5) shouldBe
      (h0.size.toDouble / h0.size - 0.0 / (20 - h0.size))
    // "common" drift score is |n0*n1 - n1*n0| = 0
    val common = got.find(_.getString(0) == "common").get
    common.getDouble(5) shouldBe (1.0 - 1.0)
  }

  test("ngramDiversity counts cross-doc distinct and singleton shingles") {
    // doc1 distinct trigrams {xyz, yzx, zxy}; doc2 {xyz}
    // df: xyz=2, yzx=1, zxy=1 -> occ 4, distinct 3, singletons 2
    val docs = Seq(("a", "x y z x y z"), ("a", "x y z"))
      .toDF("source", "text")
    val got = TextAnalysis.ngramDiversity(docs, "source", "text", n = 3)
      .collect().head
    got.getLong(1) shouldBe 4L
    got.getLong(2) shouldBe 3L
    got.getLong(3) shouldBe 2L
    got.getLong(4) shouldBe 750000L
    got.getLong(5) shouldBe 666666L
  }

  test("heapsFit masks the all-equal-N degenerate spread to NULL") {
    val docs = Seq(("a", "x y"), ("b", "p q")).toDF("source", "text")
    val got = TextAnalysis.heapsFit(docs, "source", "text").collect().head
    got.getLong(0) shouldBe 2L
    got.isNullAt(1) shouldBe true
    got.isNullAt(2) shouldBe true
  }
}
