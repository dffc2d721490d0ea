package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.{DedupExpressions, VectorExpressions, WebExpressions}

/** Golden pins for every native expression in `graft.functions`: the
  * strings Catalyst prints for it (`toString`, `sql`), its result type and
  * nullability, its input type-check failure text, its canonical identity,
  * and result parity between the generated and the interpreted evaluation.
  *
  * The parity runs use an RDD-backed input, so no optimizer rule folds or
  * pre-evaluates the kernel call, and `spark.sql.codegen.fallback=false`,
  * so a generated body that fails to compile fails the test instead of
  * silently running interpreted. */
class KernelGoldenSpec extends SparkSpec {

  private val merges = Seq(("t", "h"), ("th", "e"))
  private val words = Array(0x5555555555555555L, 0x0f0f0f0f0f0f0f0fL)
  private val codebook = Vector(1.0, 0.0, 0.0, 1.0)

  private val BinType = BinaryType
  private val Toks = ArrayType(StringType)
  private val Vec = ArrayType(DoubleType)

  /** One kernel call: its input types, the Column factory over those
    * inputs, and (where it takes a plan-time argument) the same call with
    * one argument changed. */
  private case class Kernel(
      name: String,
      inputs: Seq[DataType],
      build: Seq[Column] => Column,
      otherArg: Option[Seq[Column] => Column])

  private val kernels: Seq[Kernel] = Seq(
    Kernel("minhash", Seq(Toks), c => DedupExpressions.minhashSig(c(0), 4),
      Some(c => DedupExpressions.minhashSig(c(0), 5))),
    Kernel("shingles", Seq(Toks), c => DedupExpressions.shinglesOf(c(0), 2),
      Some(c => DedupExpressions.shinglesOf(c(0), 3))),
    Kernel("repeat_ratio", Seq(Toks), c => DedupExpressions.repeatRatioOf(c(0), 2),
      Some(c => DedupExpressions.repeatRatioOf(c(0), 3))),
    Kernel("collapse_runs", Seq(Toks), c => DedupExpressions.collapseRunsOf(c(0), 1),
      Some(c => DedupExpressions.collapseRunsOf(c(0), 2))),
    Kernel("simhash", Seq(Toks), c => DedupExpressions.simhashOf(c(0), 16),
      Some(c => DedupExpressions.simhashOf(c(0), 64))),
    Kernel("winnow", Seq(StringType), c => DedupExpressions.winnowOf(c(0), 3, 4),
      Some(c => DedupExpressions.winnowOf(c(0), 3, 5))),
    Kernel("nfc", Seq(StringType), c => DedupExpressions.nfcNormalizeOf(c(0)), None),
    Kernel("char_grams", Seq(StringType), c => DedupExpressions.charGramsOf(c(0), 2),
      Some(c => DedupExpressions.charGramsOf(c(0), 3))),
    Kernel("idn_host", Seq(StringType), c => DedupExpressions.idnDecodeHostOf(c(0)), None),
    Kernel("char_entropy", Seq(StringType), c => DedupExpressions.charEntropyOf(c(0)), None),
    Kernel("phash", Seq(BinType), c => DedupExpressions.phashOf(c(0), 16),
      Some(c => DedupExpressions.phashOf(c(0), 62))),
    Kernel("token_pairs", Seq(StringType), c => DedupExpressions.tokenPairsOf(c(0)), None),
    Kernel("bloom_probe", Seq(StringType, StringType),
      c => DedupExpressions.bloomProbeOf(c(0), c(1), words, 128, 2, "x"),
      Some(c => DedupExpressions.bloomProbeOf(c(0), c(1), words, 128, 3, "x"))),
    Kernel("bpe_count", Seq(StringType), c => DedupExpressions.bpeCountOf(c(0), merges),
      Some(c => DedupExpressions.bpeCountOf(c(0), merges.take(1)))),
    Kernel("bpe_encode", Seq(StringType), c => DedupExpressions.bpeEncodeOf(c(0), merges),
      Some(c => DedupExpressions.bpeEncodeOf(c(0), merges.take(1)))),
    Kernel("http_parse", Seq(BinType), c => WebExpressions.httpParseOf(c(0)), None),
    Kernel("charset_decode", Seq(BinType, StringType),
      c => WebExpressions.charsetDecodeOf(c(0), c(1)), None),
    Kernel("html_text", Seq(StringType), c => WebExpressions.htmlTextOf(c(0)), None),
    Kernel("html_blocks", Seq(StringType), c => WebExpressions.htmlBlocksOf(c(0)), None),
    Kernel("dot", Seq(Vec, Vec), c => VectorExpressions.dotProduct(c(0), c(1)), None),
    Kernel("pq_adc", Seq(Vec), c => VectorExpressions.pqAdcTable(c(0), codebook, 0, 2),
      Some(c => VectorExpressions.pqAdcTable(c(0), codebook, 1, 2))),
    Kernel("pq_argbest", Seq(Vec),
      c => VectorExpressions.pqArgBest(c(0), codebook, Vector(1.0, 1.0), 0, 2),
      Some(c => VectorExpressions.pqArgBest(c(0), codebook, Vector(1.0, 1.0), 1, 2))))

  private def inputs(k: Kernel): Seq[Column] = k.inputs match {
    case Seq(StringType, StringType) => Seq(col("s"), col("s2"))
    case types => types.map {
      case Toks => col("toks")
      case BinType => col("bin")
      case Vec => col("vec")
      case _ => col("s")
    }
  }

  private def schema(nullable: Boolean, allInt: Boolean = false): StructType = {
    def t(dt: DataType) = if (allInt) IntegerType else dt
    StructType(Seq(
      StructField("s", t(StringType), nullable),
      StructField("s2", t(StringType), nullable),
      StructField("toks", t(ArrayType(StringType, containsNull = true)), nullable),
      StructField("bin", t(BinaryType), nullable),
      StructField("vec", t(ArrayType(DoubleType, containsNull = false)), nullable)))
  }

  /** The analyzed kernel calls over one input relation of `schema`. */
  private def resolved(schema: StructType, calls: Column*): Seq[Expression] = {
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    df.select(calls: _*).queryExecution.analyzed match {
      case Project(list, _) => list.map { case a: Alias => a.child }
      case other => fail(s"unexpected analyzed plan $other")
    }
  }

  private def resolved(k: Kernel, nullableInputs: Boolean): Expression =
    resolved(schema(nullableInputs), k.build(inputs(k))).head

  // toString, sql, dataType, nullable over nullable inputs, nullable over
  // non-nullable inputs, and the type-check failure on INT inputs
  private val golden: Map[String, (String, String, DataType, Boolean, Boolean, String)] = {
    val strArr = ArrayType(StringType, containsNull = false)
    Map(
      "minhash" -> (("graft_minhash(toks, 4)", "graft_minhash(toks, 4)", strArr, true, false,
        "graft_minhash requires array<string>, got INT")),
      "shingles" -> (("graft_shingles(toks, 2)", "graft_shingles(toks, 2)", strArr, true, false,
        "graft_shingles requires array<string>, got INT")),
      "repeat_ratio" -> (("graft_repeat_ratio(toks, 2)", "graft_repeat_ratio(toks, 2)", DoubleType,
        true, false, "graft_repeat_ratio requires array<string>, got INT")),
      "collapse_runs" -> (("graft_collapse_runs(toks, 1)", "graft_collapse_runs(toks, 1)", strArr,
        true, false, "graft_collapse_runs requires array<string>, got INT")),
      "simhash" -> (("graft_simhash(toks, 16)", "graft_simhash(toks, 16)", LongType, true, false,
        "graft_simhash requires array<string>, got INT")),
      "winnow" -> (("graft_winnow(s, 3, 4)", "graft_winnow(s, 3, 4)",
        ArrayType(StructType(Seq(StructField("gh", LongType, nullable = false),
          StructField("p", IntegerType, nullable = false))), containsNull = false),
        true, true, "graft_winnow requires string, got INT")),
      "nfc" -> (("graft_nfc_normalize(s)", "graft_nfc_normalize(s)", StringType, true, false,
        "graft_nfc_normalize requires string, got INT")),
      "char_grams" -> (("graft_char_grams(s, 2)", "graft_char_grams(s, 2)", strArr, true, false,
        "graft_char_grams requires string, got INT")),
      "idn_host" -> (("graft_idn_host(s)", "graft_idn_host(s)", StringType, true, false,
        "graft_idn_host requires string, got INT")),
      "char_entropy" -> (("graft_char_entropy(s)", "graft_char_entropy(s)", DoubleType, true,
        false, "graft_char_entropy requires string, got INT")),
      "phash" -> (("graft_phash(bin, 16)", "graft_phash(bin, 16)", LongType, true, false,
        "graft_phash requires binary, got INT")),
      "token_pairs" -> (("graft_token_pairs(s)", "graft_token_pairs(s)",
        ArrayType(StructType(Seq(StructField("w1", StringType, nullable = false),
          StructField("w2", StringType, nullable = false))), containsNull = false),
        true, false, "graft_token_pairs requires string, got INT")),
      "bloom_probe" -> (("graft_bloom_probe(s, s2, [J@, 128, 2, x)",
        "graft_bloom_probe(s, s2, 61b3cb0a, 128, 2, 'x')",
        BooleanType, true, false, "graft_bloom_probe requires (string, string), got (INT, INT)")),
      "bpe_count" -> (("graft_bpe_count(s, (t,h), (th,e))", "graft_bpe_count(s, 383ef607)",
        IntegerType, true, false, "graft_bpe_count requires string, got INT")),
      "bpe_encode" -> (("graft_bpe_encode(s, (t,h), (th,e))", "graft_bpe_encode(s, 383ef607)",
        ArrayType(IntegerType, containsNull = false), true, false,
        "graft_bpe_encode requires string, got INT")),
      "http_parse" -> (("graft_http_parse(bin)", "graft_http_parse(bin)",
        StructType(Seq(StructField("status", IntegerType), StructField("content_type", StringType),
          StructField("body", BinaryType), StructField("err", StringType))), true, false,
        "graft_http_parse requires binary, got INT")),
      "charset_decode" -> (("graft_charset_decode(bin, coalesce(s, ))",
        "graft_charset_decode(bin, coalesce(s, ''))",
        StructType(Seq(StructField("charset", StringType), StructField("text", StringType))),
        true, false, "graft_charset_decode requires (binary, string), got (INT, BIGINT)")),
      "html_text" -> (("graft_html_text(s)", "graft_html_text(s)", StringType, true, false,
        "graft_html_text requires string, got INT")),
      "html_blocks" -> (("graft_html_blocks(s)", "graft_html_blocks(s)",
        ArrayType(StructType(Seq(StructField("text", StringType),
          StructField("links", IntegerType), StructField("chars", IntegerType))),
          containsNull = false), true, false, "graft_html_blocks requires string, got INT")),
      "dot" -> (("graft_dot(vec, vec)", "graft_dot(vec, vec)", DoubleType, true, true,
        "graft_dot requires two numeric arrays, got INT and INT")),
      "pq_adc" -> (("graft_pq_adc(vec, 1.0, 0.0, 0.0, 1.0, 0, 2)", "graft_pq_adc(vec, 73dd6222, 0, 2)",
        ArrayType(DoubleType, containsNull = true), true, true,
        "graft_pq_adc requires a numeric array, got INT")),
      "pq_argbest" -> (("graft_pq_argbest(vec, 1.0, 0.0, 0.0, 1.0, 1.0, 1.0, 0, 2)",
        "graft_pq_argbest(vec, 73dd6222, 7b80af00, 0, 2)", IntegerType, true, true,
        "graft_pq_argbest requires a numeric array, got INT")))
  }

  test("the golden table covers every kernel") {
    assert(golden.keySet === kernels.map(_.name).toSet)
    assert(kernels.size === 22)
  }

  test("unaliased calls that differ only in an int argument get distinct column names") {
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema(nullable = true))
      .select(DedupExpressions.minhashSig(col("toks"), 4),
        DedupExpressions.minhashSig(col("toks"), 8))
    assert(df.columns.toSeq === Seq("graft_minhash(toks, 4)", "graft_minhash(toks, 8)"))
    assert(df.select(col("`graft_minhash(toks, 8)`")).columns.toSeq ===
      Seq("graft_minhash(toks, 8)"))
  }

  test("unaliased calls that differ only in a codebook or a filter get distinct column names") {
    val other = Array(words(1), words(0))
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema(nullable = true))
      .select(
        VectorExpressions.pqAdcTable(col("vec"), codebook, 0, 2),
        VectorExpressions.pqAdcTable(col("vec"), Vector(0.0, 1.0, 1.0, 0.0), 0, 2),
        VectorExpressions.pqArgBest(col("vec"), codebook, Vector(1.0, 1.0), 0, 2),
        VectorExpressions.pqArgBest(col("vec"), codebook, Vector(1.0, 2.0), 0, 2),
        DedupExpressions.bloomProbeOf(col("s"), col("s2"), words, 128, 2, "x"),
        DedupExpressions.bloomProbeOf(col("s"), col("s2"), other, 128, 2, "x"),
        DedupExpressions.bloomProbeOf(col("s"), col("s2"), words, 128, 2, "y"),
        DedupExpressions.bpeCountOf(col("s"), merges),
        DedupExpressions.bpeCountOf(col("s"), merges.take(1)))
    assert(df.columns.distinct.length === 9)
    df.columns.foreach(c => assert(df.select(col(s"`$c`")).columns.toSeq === Seq(c)))
  }

  for (k <- kernels) test(s"${k.name}: toString, sql, dataType, nullable and type-check text") {
    val (str, sql, dt, nullableIn, nullableNonNullIn, failure) = golden(k.name)
    val r = resolved(k, nullableInputs = true)
    assert(r.toString.replaceAll("#\\d+", "").replaceAll("\\[J@[0-9a-f]+", "[J@") === str)
    assert(r.sql === sql)
    assert(r.dataType === dt)
    assert(r.nullable === nullableIn)
    assert(resolved(k, nullableInputs = false).nullable === nullableNonNullIn)
    assert(r.checkInputDataTypes() === TypeCheckResult.TypeCheckSuccess)
    val e = intercept[AnalysisException] {
      resolved(schema(nullable = true, allInt = true), k.build(inputs(k)))
    }
    assert(e.getMessage.contains(failure), e.getMessage)
  }

  for (k <- kernels) test(s"${k.name}: identical calls are semanticEquals, a changed literal is not") {
    val calls = Seq(k.build(inputs(k)), k.build(inputs(k))) ++ k.otherArg.map(_(inputs(k)))
    val exprs = resolved(schema(nullable = true), calls: _*)
    assert(exprs(0).semanticEquals(exprs(1)))
    assert(exprs(0).semanticHash() === exprs(1).semanticHash())
    if (k.otherArg.isDefined) assert(!exprs(0).semanticEquals(exprs(2)))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally prior.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  private lazy val input: DataFrame = {
    val html = "<html><head><title>T</title><script>var x = 1;</script></head><body>" +
      "<p>Hello <a href=\"/a\">a link</a> world &amp; more</p><div>Zweiter Block äöü 日本語</div>" +
      "</body></html>"
    val multi = "Grüße aus Köln — 日本語のテキスト 😀 é bücher.xn--bcher-kva.ch"
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + html
    val latin1 = "HTTP/1.1 404 Not Found\r\nContent-Type: text/plain; charset=iso-8859-1\r\n\r\n"
      .getBytes("ISO-8859-1") ++ "Grüße".getBytes("ISO-8859-1")
    val rows = Seq(
      Row(null, null, null, null, null),
      Row("", "", Seq.empty[String], Array.emptyByteArray, Seq.empty[Double]),
      Row("the quick brown fox jumps over the lazy dog the quick brown fox",
        "text/html", "a a b b b a a c c".split(' ').toSeq, http.getBytes("UTF-8"),
        Seq(1.0, 2.0, 3.0, 4.0)),
      Row(multi, "text/plain; charset=utf-8", multi.split(' ').toSeq :+ null,
        multi.getBytes("UTF-8"), Seq(0.5, -1.0)),
      Row(html, "", Seq("日本", "日本", "語"), latin1, Seq(1.0)),
      Row("xn--bcher-kva.example.xn--p1ai", null, Seq("x"), "ab".getBytes("UTF-8"), Seq.empty[Double]))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema(nullable = true))
  }

  private def evaluate(k: Kernel, wholeStage: Boolean): Seq[String] = {
    val df = input.select(k.build(inputs(k)))
    val plan = df.queryExecution.executedPlan
    val codegenProject = plan.collectFirst {
      case w: WholeStageCodegenExec if w.collectFirst { case p: ProjectExec => p }.isDefined => w
    }
    assert(codegenProject.isDefined === wholeStage, s"${k.name}: plan was\n$plan")
    df.collect().toSeq.map(r => render(r.get(0)))
  }

  for (k <- kernels) test(s"${k.name}: generated and interpreted evaluation agree") {
    val generated = withConf(
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      evaluate(k, wholeStage = true)
    }
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      evaluate(k, wholeStage = false)
    }
    assert(generated === interpreted)
    assert(generated.size === 6 && generated.head === "null")
    assert(generated.exists(_ != "null"), s"${k.name}: every row evaluated to null")
  }
}
