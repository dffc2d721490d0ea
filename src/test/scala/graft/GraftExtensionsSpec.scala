package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  test("graft_dot is callable from SQL and matches the Column API") {
    val row = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(row === 11.0)
  }

  test("graft_minhash / graft_simhash from SQL equal the Column API forms") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("ext_docs")
    val sqlRes = spark.sql(
      """SELECT graft_minhash(array(text), 4) AS sig,
        |       graft_simhash(split(text, ' '), 16) AS fp
        |FROM ext_docs""".stripMargin).collect().head
    val colRes = docs.select(
      graft.functions.DedupExpressions.minhashSig(array($"text"), 4).as("sig"),
      Dedup.simhash($"text", 16).as("fp")).collect().head
    assert(sqlRes.getSeq[String](0) === colRes.getSeq[String](0))
    assert(sqlRes.getLong(1) === colRes.getLong(1))
  }

  test("non-literal k is rejected with a clear error") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array('x'), 1 + 1)").collect()
    }
    assert(err.getMessage.contains("integer literal") || err.getMessage.contains("graft_minhash"))
  }

  test("graft_shingles / graft_repeat_ratio from SQL equal the Column API forms") {
    val sqlRes = spark.sql(
      """SELECT graft_shingles(split('a b c d', ' '), 3) AS sh,
        |       graft_repeat_ratio(split('x y x y x y', ' '), 2) AS rr""".stripMargin).head
    assert(sqlRes.getSeq[String](0) === Seq("a b c", "b c d"))
    // bigrams of x y x y x y: "x y" x3, "y x" x2 of 5 full windows -> 0.6
    assert(sqlRes.getDouble(1) === 0.6)
  }

  test("graft_collapse_runs from SQL equals the Column API form") {
    val got = spark.sql(
      "SELECT graft_collapse_runs(split('a a b b b a', ' '), 1) AS c").head.getSeq[String](0)
    assert(got === Seq("a", "b", "a"))
    val got2 = spark.sql(
      "SELECT graft_collapse_runs(split('a a a b', ' '), 2) AS c").head.getSeq[String](0)
    assert(got2 === Seq("a", "a", "b"))
  }

  test("graft_phash from SQL equals the Column API form; null payload -> null") {
    import org.apache.spark.sql.functions._
    val sqlRes = spark.sql(
      "SELECT graft_phash(CAST('some payload' AS BINARY), 16) AS fp").head.getLong(0)
    val colRes = spark.range(1)
      .select(graft.functions.DedupExpressions
        .phashOf(lit("some payload").cast("binary"), 16).as("fp"))
      .head.getLong(0)
    assert(sqlRes === colRes)
    assert(sqlRes >= 0L && sqlRes < (1L << 16))
    assert(spark.sql("SELECT graft_phash(CAST(NULL AS BINARY), 16) AS fp").head.isNullAt(0))
  }

  test("graft_token_pairs / graft_char_entropy / graft_nfc_normalize / graft_winnow from SQL equal the Column API forms") {
    val sqlRes = spark.sql(
      "SELECT graft_token_pairs('a b  c') AS p").head.getSeq[org.apache.spark.sql.Row](0)
    assert(sqlRes.map(r => (r.getString(0), r.getString(1))) === Seq(("a", "b"), ("b", "c")))
    assert(spark.sql("SELECT graft_token_pairs('solo') AS p").head.getSeq[Any](0).isEmpty)

    val eSql = spark.sql("SELECT graft_char_entropy('aabb') AS e").head.getDouble(0)
    val eCol = spark.range(1).select(graft.functions.DedupExpressions
      .charEntropyOf(lit("aabb")).as("e")).head.getDouble(0)
    assert(eSql === eCol && eSql === 1.0)

    // U+0065 U+0301 (e + combining acute) composes to U+00E9
    val n = spark.sql("SELECT graft_nfc_normalize('é') AS s").head.getString(0)
    assert(n === "é")

    val wSql = spark.sql("SELECT graft_winnow('abcdefghij', 3, 4) AS w").head.getSeq[org.apache.spark.sql.Row](0)
    val wCol = spark.range(1).select(graft.functions.DedupExpressions
      .winnowOf(lit("abcdefghij"), 3, 4).as("w")).head.getSeq[org.apache.spark.sql.Row](0)
    assert(wSql === wCol && wSql.nonEmpty)
  }

  test("graft_bpe_count from SQL equals the Column API form over the default table") {
    import org.apache.spark.sql.functions._
    val text = "the thing out there is the thing we want"
    val sqlRes = spark.sql(s"SELECT graft_bpe_count('$text') AS c").head.getInt(0)
    val colRes = spark.range(1)
      .select(graft.operators.TextAnalysis.bpeCount(lit(text)).as("c")).head.getInt(0)
    assert(sqlRes === colRes)
    assert(sqlRes > 0 && sqlRes < text.length)
    assert(spark.sql("SELECT graft_bpe_count(CAST(NULL AS STRING)) AS c").head.isNullAt(0))
    intercept[Exception](spark.sql("SELECT graft_bpe_count('a', 'b')").collect())
  }

  test("graft_bpe_encode from SQL equals the Column API form and sizes to graft_bpe_count") {
    import org.apache.spark.sql.functions._
    val text = "the thing out there is the thing we want"
    val sqlRes = spark.sql(s"SELECT graft_bpe_encode('$text') AS ids").head.getSeq[Int](0)
    val colRes = spark.range(1)
      .select(graft.operators.TextAnalysis.bpeEncode(lit(text)).as("ids")).head.getSeq[Int](0)
    assert(sqlRes === colRes && sqlRes.nonEmpty)
    val count = spark.sql(s"SELECT graft_bpe_count('$text') AS c").head.getInt(0)
    assert(sqlRes.size === count)
    assert(spark.sql("SELECT graft_bpe_encode(CAST(NULL AS STRING)) AS ids").head.isNullAt(0))
    intercept[Exception](spark.sql("SELECT graft_bpe_encode('a', 'b')").collect())
  }

  test("graft_phash rejects out-of-contract bit widths from SQL and Column surfaces") {
    // bits < 2 degenerates the mean; bits > 62 wraps the 1L << (bits-1-i)
    // weights mod 64 — both must error, not silently corrupt fingerprints
    for (bad <- Seq(0, 1, 63, 64, 128)) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT graft_phash(CAST('x' AS BINARY), $bad)").head
      }
      assert(e.getMessage.contains("[2, 62]"), s"bits=$bad: ${e.getMessage}")
      val e2 = intercept[Exception] {
        spark.range(1).select(graft.functions.DedupExpressions
          .phashOf(org.apache.spark.sql.functions.lit("x").cast("binary"), bad)).head
      }
      assert(e2.getMessage.contains("[2, 62]"), s"bits=$bad column: ${e2.getMessage}")
    }
  }

  // name -> (valid argument list, positions of the integer-literal args);
  // the 13 names of README § SQL, no more and no fewer
  private val sqlSurface: Map[String, (Seq[String], Seq[Int])] = Map(
    "graft_dot" -> ((Seq("array(1.0D)", "array(2.0D)"), Nil)),
    "graft_minhash" -> ((Seq("array('a')", "4"), Seq(1))),
    "graft_simhash" -> ((Seq("array('a')", "16"), Seq(1))),
    "graft_shingles" -> ((Seq("array('a')", "2"), Seq(1))),
    "graft_repeat_ratio" -> ((Seq("array('a')", "2"), Seq(1))),
    "graft_collapse_runs" -> ((Seq("array('a')", "1"), Seq(1))),
    "graft_phash" -> ((Seq("CAST('x' AS BINARY)", "16"), Seq(1))),
    "graft_token_pairs" -> ((Seq("'a b'"), Nil)),
    "graft_char_entropy" -> ((Seq("'a'"), Nil)),
    "graft_nfc_normalize" -> ((Seq("'a'"), Nil)),
    "graft_winnow" -> ((Seq("'abcdef'", "3", "4"), Seq(1, 2))),
    "graft_bpe_count" -> ((Seq("'a'"), Nil)),
    "graft_bpe_encode" -> ((Seq("'a'"), Nil)))

  test("the function registry holds exactly the 13 graft_* SQL names") {
    val registered = spark.catalog.listFunctions().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet
    assert(registered === sqlSurface.keySet)
    assert(GraftExtensions.functions.map(_._1.funcName).toSet === sqlSurface.keySet)
    // the Column-only kernels stay off the SQL surface
    for (name <- Seq("graft_char_grams", "graft_idn_host", "graft_http_parse",
        "graft_charset_decode", "graft_html_text", "graft_html_blocks")) {
      val e = intercept[Exception](spark.sql(s"SELECT $name('a')").collect())
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("every graft_* name runs its valid call and names itself on a bad call") {
    for ((name, (args, intArgs)) <- sqlSurface) {
      def call(as: Seq[String]) = spark.sql(s"SELECT $name(${as.mkString(", ")})").collect()
      assert(call(args).length === 1, name)
      for (bad <- Seq(args :+ "1", args.dropRight(1))) {
        val e = intercept[Exception](call(bad))
        assert(e.getMessage.contains(s"$name expects ${args.size} arg"), s"$name: ${e.getMessage}")
      }
      for (i <- intArgs) {
        val e = intercept[Exception](call(args.updated(i, "length('ab')")))
        assert(e.getMessage.contains(name) && e.getMessage.contains("must be an integer literal"),
          s"$name arg $i: ${e.getMessage}")
      }
    }
  }
}
