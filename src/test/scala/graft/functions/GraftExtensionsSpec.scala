package graft.functions

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {

  /** A session built THROUGH the SparkSessionExtensions injection path a
    * pure-SQL deployment uses. `spark.sql.extensions` is a STATIC conf —
    * it cannot attach to the already-running test SparkContext — so the
    * builder's `withExtensions` applies the SAME `GraftExtensions`
    * instance the conf would construct, over a fresh SparkSession on the
    * shared context. A broken `injectFunction` registration — wrong
    * arity check, bad builder — fails these tests, not just a manual
    * temp-function mirror of the registration.
    */
  private def withExtensionSession[T](body: SparkSession => T): T = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      body(s)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("extension injects dot_product_double; the function evaluates in SQL") {
    withExtensionSession { s =>
      val got = s.sql(
        "SELECT dot_product_double(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .collect().head.getDouble(0)
      got shouldBe 11.0
    }
  }

  test("extension injects nfc_normalize; SQL output matches the Scala kernel") {
    withExtensionSession { s =>
      val got = s.sql(s"SELECT nfc_normalize('cafe\u0301 A\u030a') AS n")
        .collect().head.getString(0)
      got shouldBe "caf\u00e9 \u00c5"
    }
  }

  test("minhash_sig in SQL is bit-identical to the Scala pipeline's signatures") {
    val sqlSig = withExtensionSession { s =>
      s.sql("SELECT minhash_sig(array(7L, 99L, 12345L), 8, 42) AS sig")
        .collect().head.getSeq[Long](0)
    }
    val (as, bs) = graft.ops.Dedup.hashCoeffs(8, 42L)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scalaSig = Seq(Seq(7L, 99L, 12345L)).toDF("xs")
      .select(VectorExpressions.minhashSig(col("xs"), as, bs, (1L << 61) - 1))
      .collect().head.getSeq[Long](0)
    sqlSig shouldBe scalaSig
  }

  test("simhash_sig in SQL matches the Dedup pipeline's signature") {
    withExtensionSession { s =>
      val sqlSig = s.sql("SELECT simhash_sig(array(42L)) AS s")
        .collect().head.getLong(0)
      sqlSig shouldBe 42L // single token: signature == the token hash
    }
  }

  test("injected builders enforce arity with a useful message") {
    withExtensionSession { s =>
      val ex = intercept[Exception] {
        s.sql("SELECT dot_product_double(array(1.0d))").collect()
      }
      ex.getMessage should include ("dot_product_double(arrayA, arrayB)")
    }
  }

  test("web-curation macros in SQL match the Scala Column chains bit-for-bit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val url = "HTTP://WWW.News.Example.COM:80/a//b/?b=2&utm_source=x&a=1#f"
    val html = "<p>Hello <b>world</b></p><script>x()</script>&amp;lt;"
    val (sqlCanon, sqlDom, sqlText) = withExtensionSession { s =>
      val r = s.sql(
        s"""SELECT canonical_url('$url') AS c,
           |       registrable_domain('news.example.com') AS d,
           |       strip_html('$html') AS t""".stripMargin).collect().head
      (r.getString(0), r.getString(1), r.getString(2))
    }
    val scala = Seq((url, html)).toDF("u", "h")
      .select(graft.ops.Web.canonicalUrl(col("u")),
        graft.ops.Web.registrableDomain(lit("news.example.com")),
        graft.ops.TextAnalysis.stripHtml(col("h")))
      .collect().head
    sqlCanon shouldBe scala.getString(0)
    sqlDom shouldBe scala.getString(1)
    sqlText shouldBe scala.getString(2)
    sqlCanon shouldBe "http://news.example.com/a/b?a=1&b=2"
  }

  // ---- r10 registration sweep: each macro must be BIT-EQUAL to the ----
  // ---- DataFrame op it mirrors, on the same fixture rows           ----

  /** Register `df`'s rows as a temp view INSIDE the extension session
    * (temp-view catalogs are per-session — a view on the outer test
    * session is invisible to the injected one) and run `sql` there.
    */
  private def sqlWithView(df: org.apache.spark.sql.DataFrame, view: String,
                          sql: String): Seq[org.apache.spark.sql.Row] =
    withExtensionSession { s =>
      s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
        .createOrReplaceTempView(view)
      s.sql(sql).collect().toSeq
    }

  private val auditFixtures = Seq(
    "The quick brown fox. It jumped! Was it high?",
    "Привет мир hello wоrld",          // homoglyph: Cyrillic о inside wоrld
    "der die das und le les canción",
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    "")

  test("readability macro in SQL is bit-equal to TextAnalysis.readability") {
    import spark.implicits._
    val docs = auditFixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaOp = graft.ops.TextAnalysis.readability(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val viaSql = sqlWithView(docs, "docs_ext",
      "SELECT doc_id, r.* FROM (SELECT doc_id, readability(text) AS r " +
        "FROM docs_ext) ORDER BY doc_id")
    viaSql shouldBe viaOp
  }

  test("script_profile macro in SQL is bit-equal to TextAnalysis.scriptProfile") {
    import spark.implicits._
    val docs = (auditFixtures :+ "شمس القاهرة 漢字文化圏")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaOp = graft.ops.TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val viaSql = sqlWithView(docs, "docs_ext",
      "SELECT doc_id, r.* FROM (SELECT doc_id, script_profile(text) AS r " +
        "FROM docs_ext) ORDER BY doc_id")
    viaSql shouldBe viaOp
  }

  test("mixed_script macro in SQL is bit-equal to TextAnalysis.mixedScriptTokens") {
    import spark.implicits._
    val docs = auditFixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaOp = graft.ops.TextAnalysis.mixedScriptTokens(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val viaSql = sqlWithView(docs, "docs_ext",
      "SELECT doc_id, r.* FROM (SELECT doc_id, mixed_script(text) AS r " +
        "FROM docs_ext) ORDER BY doc_id")
    viaSql shouldBe viaOp
    // and the fixture actually exercises the positive path
    viaSql.map(_.getLong(2)).sum should be > 0L
  }

  test("meta_robots macro in SQL is bit-equal to Web.metaRobots") {
    import spark.implicits._
    val docs = Seq(
      (1L, """<html><meta name="robots" content="noindex, nofollow"><p>x"""),
      (2L, """<meta content="NONE" name="robots">"""), // attribute order flipped
      (3L, """<META NAME='robots' CONTENT='all'>"""),
      (4L, "<p>no directive at all</p>"),
      (5L, "")).toDF("doc_id", "html")
    val viaOp = graft.ops.Web.metaRobots(docs, "html")
      .orderBy("doc_id").collect().toSeq
    val viaSql = sqlWithView(docs, "html_ext",
      "SELECT doc_id, html, r.* FROM (SELECT doc_id, html, " +
        "meta_robots(html) AS r FROM html_ext) ORDER BY doc_id")
    viaSql shouldBe viaOp
    // directive coverage: flipped-attribute NONE row gates both flags
    val none = viaSql.find(_.getLong(0) == 2L).get
    none.getBoolean(3) shouldBe true  // noindex
    none.getBoolean(4) shouldBe true  // nofollow
  }

  test("language_id and bpeish_token_count macros match the Scala kernels") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = auditFixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaOp = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.languageId(col("text")).as("lang"),
      graft.ops.TextAnalysis.bpeishTokenCount(col("text")).as("n_tok"))
      .orderBy("doc_id").collect().toSeq
    val viaSql = sqlWithView(docs, "docs_ext",
      "SELECT doc_id, language_id(text) AS lang, " +
        "bpeish_token_count(text) AS n_tok FROM docs_ext ORDER BY doc_id")
    viaSql shouldBe viaOp
    viaOp.map(_.getString(1)) should contain ("de") // fixture hits a non-und path
  }

  test("jaro_winkler and deflated_size SQL kernels match the Scala expressions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pairs = Seq(("martha", "marhta"), ("dwayne", "duane"), ("", "x"))
      .toDF("a", "b")
    val viaOp = pairs.select(
      graft.functions.StringExpressions.jaroWinkler(col("a"), col("b")).as("jw"),
      graft.functions.StringExpressions.deflatedSize(col("a"), 6).as("dz"))
      .collect().toSeq
    val viaSql = sqlWithView(pairs, "pairs_ext",
      "SELECT jaro_winkler(a, b) AS jw, deflated_size(a) AS dz FROM pairs_ext")
    viaSql shouldBe viaOp
    // and the 2-arg deflate form honors the level literal
    withExtensionSession { s =>
      val r = s.sql("SELECT deflated_size(repeat('ab', 1000), 1) AS d")
        .collect().head.getLong(0)
      r should be > 0L
      r should be < 2000L
    }
  }
}
