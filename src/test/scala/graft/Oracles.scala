package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis, Urls}

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

  /** Staged form of `TextAnalysis.winnowFingerprints` (also the shape the
    * DuckDB oracle mirrors). At corpus scale the HOF tree made the two
    * winnow queries 24% of the whole benchmark, hence the kernel. */
  def winnowFingerprintsFold(text: Column, k: Int = 12, w: Int = 8): Column =
    TextAnalysis.winnowSelect(TextAnalysis.winnowGramHashes(text, k), w)

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

  /** `Urls.decodeIdnHost` as pure relational expressions (split /
    * transform / the `Urls.punycodeDecodeLabel` fold). */
  def decodeIdnHostFold(host: Column): Column =
    when(host.contains("xn--"),
      array_join(transform(split(host, "\\."), lbl =>
        when(lbl.startsWith("xn--"),
          coalesce(Urls.punycodeDecodeLabel(lbl.substr(lit(5), length(lbl) - 4)), lbl))
          .otherwise(lbl)), "."))
      .otherwise(host)

  /** The character n-gram array of `LangModel`'s classifier, empty when
    * null or shorter than n. */
  def gramArrayFold(t: Column, n: Int): Column =
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
}
