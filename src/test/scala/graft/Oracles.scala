package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Executable specifications the kernel-parity specs compare the
  * codegen'd kernels against: each states its kernel's law in plain
  * higher-order-function Spark expressions. Interpreted, so test-only. */
object Oracles {

  /** Distinct word n-gram shingles: the law of `Dedup.shingles`. */
  def shinglesFold(text: Column, n: Int): Column = {
    val toks = Dedup.tokens(text)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Single-pass fold over an already-computed shingle array carrying k
    * running minima: the law of `Dedup.minhashSignature`'s kernel. */
  def minhashSignatureFold(sh: Column, k: Int): Column =
    aggregate(sh, array_repeat(lit("g"), k),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, j) => least(m, md5(concat(j.cast("string"), lit("#"), s)))))

  /** Value (0..15) of the hex digit at 1-based position `pos` of `hex`. */
  private def hexDigitVal(hex: Column, pos: Column): Column =
    conv(hex.substr(pos, lit(1)), 16, 10).cast("int")

  /** Bit `b` (0 = most significant of the first hex digit) of md5 hex
    * string `h`: arithmetic only, reproducible in engines without bitwise
    * builtins. */
  private def md5Bit(h: Column, b: Column): Column = {
    val digit = hexDigitVal(h, floor(b / 4).cast("int") + 1)
    val shift = lit(3) - pmod(b, lit(4))
    pmod(floor(digit / pow(lit(2.0), shift.cast("double"))).cast("int"), lit(2))
  }

  /** One digest per token, one fold carrying all bit balances: the law of
    * `Dedup.simhash`. */
  def simhashFold(text: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    val digests = transform(Dedup.tokens(text), t => md5(t))
    val balances = aggregate(digests, array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (bal, b) => bal + md5Bit(h, b) * 2 - 1))
    aggregate(
      zip_with(balances, sequence(lit(bits - 1), lit(0), lit(-1)),
        // pow(2, 63) does not survive a double->long cast (saturates at
        // Long.MaxValue), so the sign bit is set directly; positions <= 62
        // are exact powers of two in a double
        (bal, pos) => when(bal > 0,
          when(pos === lit(63), lit(Long.MinValue))
            .otherwise(pow(lit(2.0), pos.cast("double")).cast("long")))
          .otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** Stage 2 of the staged winnow fold: rightmost-min selection over every
    * w-window of an already-computed gram-hash array
    * (`TextAnalysis.winnowGramHashes`). KEEP THE TWO STAGES IN SEPARATE
    * PROJECTIONS when composing manually: higher-order
    * functions are interpreted, so if `ghs` is an inline expression rather
    * than an attribute reference, every one of the ~n windows re-evaluates
    * all n md5 hashes — O(n²) per document instead of O(n·w). The
    * many-reference shape here also stops `CollapseProject` from
    * re-inlining a staged alias. */
  def winnowSelect(ghs: Column, w: Int): Column = {
    require(w >= 1, "w must be positive")
    val n = size(ghs)
    val sel = transform(sequence(lit(1), greatest(n - (w - 1), lit(1))), a =>
      aggregate(slice(ghs, a, lit(w)), element_at(ghs, a),
        (best, x) => when(x("gh") < best("gh") ||
          (x("gh") === best("gh") && x("p") > best("p")), x).otherwise(best)))
    when(n >= 1, array_distinct(sel))
      .otherwise(lit(null).cast("array<struct<gh:bigint,p:int>>"))
  }

  /** Staged form of `TextAnalysis.winnowFingerprints` (also the shape the
    * DuckDB oracle mirrors). At corpus scale the HOF tree made the two
    * winnow queries 24% of the whole benchmark, hence the kernel. */
  def winnowFingerprintsFold(text: Column, k: Int = 12, w: Int = 8): Column =
    winnowSelect(TextAnalysis.winnowGramHashes(text, k), w)

  /** `TextAnalysis.collapseTokenRuns` at maxRun = 1 (also the shape the
    * DuckDB oracle mirrors). */
  def collapseTokenRunsFold(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    array_join(
      filter(
        transform(sequence(lit(1), size(toks)),
          i => when(i === 1 || element_at(toks, i) =!= element_at(toks, i - 1),
            element_at(toks, i))),
        x => x.isNotNull),
      " ")
  }

  /** The law of `TextAnalysis.topNgramRatio`. */
  def topNgramRatioFold(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    val total = size(toks) - (n - 1)
    val grams = transform(sequence(lit(0), greatest(total - 1, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    val top = array_max(transform(array_distinct(grams),
      g => size(filter(grams, x => x === g))))
    when(total <= 0, lit(0.0))
      .otherwise(round(top.cast("double") / total.cast("double"), 6))
  }

  /** The law of `TextAnalysis.charEntropy`. */
  def charEntropyFold(text: Column): Column = {
    val n = length(text)
    val chars = transform(sequence(lit(1), n), i => text.substr(i, lit(1)))
    val h = aggregate(
      transform(array_distinct(chars),
        c => size(filter(chars, x => x === c)).cast("double") / n.cast("double")),
      lit(0.0),
      (acc, p) => acc - p * log2(p))
    when(n === 0, lit(0.0)).otherwise(h)
  }

  /** Ordered-fold (`zip_with` + `aggregate`) dot product: the law of
    * `Similarity.dot`. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Punycode digit alphabet (RFC 3492 §5): a-z → 0-25, 0-9 → 26-35.
    * Hosts are lowercased before any label reaches the decoder, so the
    * uppercase arm never occurs. */
  private val PunyAlphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** Overflow guard for the decoder's accumulators — shared bit-for-bit
    * with the kernel (`graft.functions.HashKernels.PunyMax`) so the two
    * implementations fail on EXACTLY the same labels. Any valid 63-octet
    * label stays far below it (worst case delta ≈ 0x10FFFF × 64 ≈ 7·10⁷ —
    * an earlier 10⁷ under-bound made the fold reject exotic-but-valid
    * labels the kernel decoded), and every intermediate product
    * (≤ 35 × bound ≈ 7.5·10¹⁰) stays inside the fold's exact-double
    * window (< 2⁵²). */
  private val PunyMax = graft.functions.HashKernels.PunyMax

  /** Integer division for small positive longs inside the fold: values
    * are bounded by `PunyMax`, well inside exact double range. */
  private def idiv(a: Column, b: Column): Column =
    floor(a.cast("double") / b.cast("double")).cast("long")

  /** RFC 3492 §6.1 `adapt(delta, numpoints, firsttime)` as expressions.
    * The `while delta > 455` loop divides by 35 each round; deltas that
    * matter (group-completing, pre-fail) are bounded by `PunyMax` —
    * ⌈log₃₅(2³¹/455)⌉ = 5 — so a fixed 6-round unroll is exact with one
    * round of headroom. */
  private def punyAdapt(delta: Column, numpoints: Column, firsttime: Column): Column = {
    val d0 = idiv(delta, when(firsttime, lit(700L)).otherwise(lit(2L)))
    val d1 = d0 + idiv(d0, numpoints)
    val rounds = (1 to 6).scanLeft((d1, lit(0L))) { case ((d, k), _) =>
      (when(d > 455L, idiv(d, lit(35L))).otherwise(d),
        when(d > 455L, k + 36L).otherwise(k))
    }
    val (dF, kF) = rounds.last
    kF + idiv(lit(36L) * dF, dF + 38L)
  }

  /** UTF-8 byte sequence of one code point as a hex string — pure
    * arithmetic, so the decoded code points can become a string through
    * `unhex` + the binary→string cast (Spark has no codepoint→char
    * function). Surrogates and out-of-range values are excluded by the
    * decoder's validity checks before this runs. */
  private def utf8Hex(cp: Column): Column = {
    def byteHex(b: Column): Column = lpad(conv(b.cast("long"), 10, 16), 2, "0")
    when(cp < 0x80L, byteHex(cp))
      .when(cp < 0x800L, concat(
        byteHex(shiftright(cp, 6) + 0xC0L),
        byteHex(pmod(cp, lit(64L)) + 0x80L)))
      .when(cp < 0x10000L, concat(
        byteHex(shiftright(cp, 12) + 0xE0L),
        byteHex(pmod(shiftright(cp, 6), lit(64L)) + 0x80L),
        byteHex(pmod(cp, lit(64L)) + 0x80L)))
      .otherwise(concat(
        byteHex(shiftright(cp, 18) + 0xF0L),
        byteHex(pmod(shiftright(cp, 12), lit(64L)) + 0x80L),
        byteHex(pmod(shiftright(cp, 6), lit(64L)) + 0x80L),
        byteHex(pmod(cp, lit(64L)) + 0x80L)))
  }

  /** Decode ONE already-lowercased punycode label body (the part after
    * `xn--`) per RFC 3492 §6.2, as a pure expression fold — the
    * INTERPRETED EXECUTABLE SPECIFICATION of the codegen'd
    * `graft.functions.HashKernels.punycodeDecodeLabel` kernel (the
    * library's twin convention: the fold states the algorithm in
    * relational primitives, the kernel runs the hot path; kernel ≡ fold
    * is spec-pinned). The hot path is the kernel because this fold's
    * expression tree is large enough to push a whole projection out of
    * whole-stage codegen. Returns null when the label is not valid
    * punycode (bad digit, truncated digit group, overflow,
    * surrogate/out-of-range code point) — callers fall back to the
    * original label, the lenient convention `Urls.normalizePercentEncoding`
    * set.
    *
    * State per char: the inserted code points (`out`), the decoder
    * registers (n, i, bias, w, k, oldi — RFC names), and a failure flag.
    * Bounded per row: labels are ≤ 63 octets by DNS, and every
    * accumulator is capped at `PunyMax`. */
  private def punycodeDecodeLabel(body: Column): Column = {
    val chars = (s: Column) => filter(split(s, ""), c => c =!= "")
    // basic code points precede the LAST hyphen; no hyphen → all deltas
    val ext = substring_index(body, "-", -1)
    val basic = when(body.contains("-"),
      body.substr(lit(1), length(body) - length(ext) - 1)).otherwise(lit(""))
    val basicOk = basic.rlike("^[\\x00-\\x7f]*$")
    val init = struct(
      transform(chars(basic), c => ascii(c).cast("long")).as("out"),
      lit(128L).as("n"), lit(0L).as("i"), lit(72L).as("bias"),
      lit(1L).as("w"), lit(36L).as("k"), lit(0L).as("oldi"),
      (!basicOk).as("failed"))
    val folded = aggregate(chars(ext), init, (st, c) => {
      val digit = instr(lit(PunyAlphabet), c).cast("long") - 1L
      val i2 = st.getField("i") + digit * st.getField("w")
      val kb = st.getField("k") - st.getField("bias")
      val t = when(kb < 1L, 1L).when(kb > 26L, 26L).otherwise(kb)
      val lenp1 = size(st.getField("out")).cast("long") + 1L
      val n2 = st.getField("n") + idiv(i2, lenp1)
      val i3 = pmod(i2, lenp1)
      val bias2 = punyAdapt(i2 - st.getField("oldi"), lenp1,
        st.getField("oldi") === 0L)
      val out2 = concat(
        slice(st.getField("out"), lit(1), i3.cast("int")),
        array(n2),
        slice(st.getField("out"), (i3 + 1L).cast("int"),
          size(st.getField("out")) - i3.cast("int")))
      val w2 = st.getField("w") * (lit(36L) - t)
      // w2 only guards the CONTINUING branch: on a group-completing digit
      // it is discarded, and failing on it there would reject valid
      // labels the kernel accepts (kernel-parity bug fixed in r18 review)
      val fail = st.getField("failed") || digit < 0L || i2 > PunyMax ||
        (digit >= t && w2 > PunyMax) || n2 > 0x10FFFFL ||
        (digit < t && n2 >= 0xD800L && n2 <= 0xDFFFL)
      when(fail, struct(st.getField("out").as("out"), st.getField("n").as("n"),
          st.getField("i").as("i"), st.getField("bias").as("bias"),
          st.getField("w").as("w"), st.getField("k").as("k"),
          st.getField("oldi").as("oldi"), lit(true).as("failed")))
        .when(digit < t, struct(out2.as("out"), n2.as("n"),
          (i3 + 1L).as("i"), bias2.as("bias"), lit(1L).as("w"),
          lit(36L).as("k"), (i3 + 1L).as("oldi"), lit(false).as("failed")))
        .otherwise(struct(st.getField("out").as("out"), st.getField("n").as("n"),
          i2.as("i"), st.getField("bias").as("bias"), w2.as("w"),
          (st.getField("k") + 36L).as("k"), st.getField("oldi").as("oldi"),
          lit(false).as("failed")))
    })
    // a dangling digit group (last digit ≥ its threshold) leaves k ≠ 36;
    // an empty decode (empty ACE body) is not a hostname label
    val valid = !folded.getField("failed") && folded.getField("k") === 36L &&
      size(folded.getField("out")) > 0
    val hex = aggregate(folded.getField("out"), lit(""),
      (acc, cp) => concat(acc, utf8Hex(cp)))
    when(valid, unhex(hex).cast("string")).otherwise(lit(null).cast("string"))
  }

  /** `Urls.decodeIdnHost` as pure relational expressions (split /
    * transform / the [[punycodeDecodeLabel]] fold). */
  def decodeIdnHostFold(host: Column): Column =
    when(host.contains("xn--"),
      array_join(transform(split(host, "\\."), lbl =>
        when(lbl.startsWith("xn--"),
          coalesce(punycodeDecodeLabel(lbl.substr(lit(5), length(lbl) - 4)), lbl))
          .otherwise(lbl)), "."))
      .otherwise(host)

  /** The character n-gram array of `LangModel`'s classifier, empty when
    * null or shorter than n. */
  def gramArrayFold(t: Column, n: Int): Column =
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Window-rank cosine top-k: the law of `Similarity.bruteForceTopK`'s
    * bounded-heap aggregator path (ties break on corpus_id ascending). */
  def bruteForceTopKWindow(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("qv"))
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), col(corpusVecCol).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    c.join(broadcast(q), if (excludeSelf) col("query_id") =!= col("corpus_id") else lit(true))
      .withColumn("cos", round(Similarity.cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }
}
