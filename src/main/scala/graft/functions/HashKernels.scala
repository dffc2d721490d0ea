package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the native dedup expressions (declared in
  * [[NativeKernel]]).
  *
  * Each computes bit-identical values to its `functions._` higher-order
  * form (the test-side `Oracles` executable specs): md5 is MD5 over UTF-8
  * bytes rendered lowercase-hex, exactly Spark's `md5(concat(...))`. The
  * kernels exist because HOF trees are
  * `CodegenFallback` — per-element interpreted evaluation with an
  * intermediate array allocation per lambda — while a kernel call is one
  * virtual dispatch per row from generated code.
  */
object HashKernels {

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val hexChars = "0123456789abcdef".toCharArray

  private def md5Hex(md: MessageDigest, bytes: Array[Byte]): Array[Byte] = {
    md.reset()
    val digest = md.digest(bytes)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((digest(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(digest(i) & 0xf).toByte
      i += 1
    }
    out
  }

  /** MinHash signature: for seed j in 0..k-1, the lexicographic minimum of
    * md5(s"$j#$shingle") over the shingle array. Equals
    * `Dedup.minhashSignatureOfShingles` value-for-value. */
  def minhashSignature(shingles: ArrayData, k: Int): ArrayData = {
    val md = mdLocal.get()
    val n = shingles.numElements()
    // fetch each shingle's bytes ONCE, not once per seed: k seeds over
    // n shingles would otherwise copy k*n byte arrays where n suffice.
    // Null elements are not shingles and are skipped.
    val shingleBytes = new Array[Array[Byte]](n)
    var i0 = 0
    while (i0 < n) {
      val u = shingles.getUTF8String(i0)
      shingleBytes(i0) = if (u == null) null else u.getBytes
      i0 += 1
    }
    val mins = new Array[Array[Byte]](k)
    var j = 0
    while (j < k) {
      val prefix = (j.toString + "#").getBytes("UTF-8")
      var best: Array[Byte] = null
      var i = 0
      while (i < n) {
        val s = shingleBytes(i)
        if (s != null) {
          val buf = new Array[Byte](prefix.length + s.length)
          System.arraycopy(prefix, 0, buf, 0, prefix.length)
          System.arraycopy(s, 0, buf, prefix.length, s.length)
          val h = md5Hex(md, buf)
          if (best == null || compareHex(h, best) < 0) best = h
        }
        i += 1
      }
      // empty shingle arrays cannot occur (shingles() always emits >= 1),
      // but mirror the fold's initial value if they ever do
      mins(j) = if (best == null) "g".getBytes("UTF-8") else best
      j += 1
    }
    new GenericArrayData(mins.map(UTF8String.fromBytes(_): Any))
  }

  /** Bloom membership probe over the digest pair: for each per-hash salt
    * suffix, position = (first 60 bits of md5(key ++ record ++ suffix))
    * mod `bits`; true iff every position's bit is set in `words`.
    * Bit-identical to the SQL forms in [[graft.operators.Cdc]]: the
    * 15-hex-char md5 prefix IS the digest's high 60 bits, and `>>> 4` of
    * the first 8 bytes recovers exactly that value. Short-circuits at the
    * first clear bit — definite-new rows cost one or two md5s, not k. */
  def bloomMightContain(
      kh: UTF8String,
      rh: UTF8String,
      words: Array[Long],
      bits: Int,
      suffixes: Array[Array[Byte]]): Boolean = {
    val md = mdLocal.get()
    val k = kh.getBytes
    val r = rh.getBytes
    var j = 0
    while (j < suffixes.length) {
      val sfx = suffixes(j)
      val buf = new Array[Byte](k.length + r.length + sfx.length)
      System.arraycopy(k, 0, buf, 0, k.length)
      System.arraycopy(r, 0, buf, k.length, r.length)
      System.arraycopy(sfx, 0, buf, k.length + r.length, sfx.length)
      md.reset()
      val d = md.digest(buf)
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      val pos = ((v >>> 4) % bits).toInt
      if (((words(pos >> 6) >>> (pos & 63)) & 1L) == 0L) return false
      j += 1
    }
    true
  }

  /** Byte-level BPE token count over a merges table (the public GPT-2
    * encoder algorithm, openai/gpt-2 encoder.py `bpe()`): split on the
    * space byte (non-first pre-tokens keep their leading space, the
    * GPT-2 convention), explode each pre-token to per-byte symbols, then
    * repeatedly merge ALL left-to-right non-overlapping occurrences of
    * the adjacent pair with the LOWEST rank until no ranked pair
    * remains; the count is the surviving symbol total. Symbols are
    * lowercase-hex byte strings; `ranks` maps "xx yy" → rank. */
  def bpeTokenCount(text: UTF8String, ranks: java.util.HashMap[String, Integer]): Int = {
    val s = text.toString
    val n = s.length
    var count = 0
    var tokStart = 0
    var first = true
    while (tokStart <= n) {
      val sp = s.indexOf(' ', tokStart)
      val end = if (sp < 0) n else sp
      val raw = s.substring(tokStart, end)
      val tok = if (first) raw else " " + raw
      if (tok.nonEmpty) count += bpeSymbolCount(tok, ranks)
      first = false
      tokStart = if (sp < 0) n + 1 else end + 1
    }
    count
  }

  private def bpeSymbolCount(tok: String, ranks: java.util.HashMap[String, Integer]): Int = {
    val bytes = tok.getBytes("UTF-8")
    if (bytes.length <= 1) bytes.length else bpeSymbolsOf(tok, ranks).size
  }

  /** Byte-level BPE token IDS of a full text — the id-emitting twin of
    * [[bpeTokenCount]] (same pre-tokenization, same merge loop via
    * [[bpeSymbolsOf]], so `ids.length == count` by construction).
    * Vocabulary ids follow the standard BPE construction: byte symbols
    * are ids 0..255 (parsed straight off the hex symbol), the rule at
    * rank r defines id 256 + r, first rule wins when two rules
    * concatenate to the same symbol. Every post-merge symbol is either a
    * single byte or some rule's concatenation, so the mapping is total —
    * a miss can only mean ranks and vocab came from different tables,
    * which the expression construction makes impossible. */
  def bpeEncodeIds(text: UTF8String, ranks: java.util.HashMap[String, Integer],
      vocab: java.util.HashMap[String, Integer]): ArrayData = {
    val s = text.toString
    val n = s.length
    val out = new java.util.ArrayList[Integer](math.max(8, n / 3))
    var tokStart = 0
    var first = true
    while (tokStart <= n) {
      val sp = s.indexOf(' ', tokStart)
      val end = if (sp < 0) n else sp
      val raw = s.substring(tokStart, end)
      val tok = if (first) raw else " " + raw
      if (tok.nonEmpty) {
        val syms = bpeSymbolsOf(tok, ranks)
        var i = 0
        while (i < syms.size) {
          val sym = syms.get(i)
          val id =
            if (sym.length == 2) Integer.parseInt(sym, 16)
            else {
              val v = vocab.get(sym)
              if (v == null) throw new IllegalStateException(
                s"BPE symbol '$sym' missing from vocabulary — ranks/vocab table mismatch")
              v.intValue()
            }
          out.add(Integer.valueOf(id))
          i += 1
        }
      }
      first = false
      tokStart = if (sp < 0) n + 1 else end + 1
    }
    val arr = new Array[Int](out.size)
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i).intValue(); i += 1 }
    new GenericArrayData(arr)
  }

  /** The shared merge loop: a pre-token's byte symbols (hex strings)
    * merged lowest-rank-first to convergence — the GPT-2 encoder loop. */
  private def bpeSymbolsOf(
      tok: String, ranks: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    val bytes = tok.getBytes("UTF-8")
    var syms = new java.util.ArrayList[String](bytes.length)
    var bi = 0
    while (bi < bytes.length) {
      syms.add(f"${bytes(bi) & 0xff}%02x")
      bi += 1
    }
    var done = false
    while (!done && syms.size > 1) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.size - 1) {
        val r = ranks.get(syms.get(i) + " " + syms.get(i + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestA = syms.get(i); bestB = syms.get(i + 1)
        }
        i += 1
      }
      if (bestA == null) done = true
      else {
        val merged = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j < syms.size - 1 && syms.get(j) == bestA && syms.get(j + 1) == bestB) {
            merged.add(bestA + bestB); j += 2
          } else { merged.add(syms.get(j)); j += 1 }
        }
        syms = merged
      }
    }
    syms
  }

  private def compareHex(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 32) {
      if (a(i) != b(i)) return (a(i) & 0xff) - (b(i) & 0xff)
      i += 1
    }
    0
  }

  /** Positional winnowing fingerprints over a text string: 60-bit gram
    * hashes (first 15 hex digits of md5 over the k-char gram's UTF-8
    * bytes, exactly `conv(md5(substr(text,p,k)),16,10)`) at every
    * position, then the rightmost-min of each w-window — value-identical
    * to the staged HOF form in
    * the test-side `Oracles.winnowSelect`. Texts shorter than k
    * yield null (no gram); fewer than w grams winnow the single
    * truncated window. One md5 per position and O(n·w) long compares —
    * versus the HOF tree's per-element interpreted evaluation, which made
    * the two winnow queries 24% of the whole benchmark.
    *
    * Selected positions are non-decreasing across windows (a later
    * window's rightmost-min can never sit left of an earlier one's), so
    * distinctness needs only a last-selected guard.
    *
    * @return array<struct<gh: long, p: int>> with p 1-based, or null
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    // char = CODE POINT, matching UTF8String.substr and DuckDB substring
    // (UTF-16 slicing would shift grams after any astral character and
    // could split surrogate pairs). ASCII fast path slices bytes directly.
    val ascii = bytes.length == text.numChars()
    val cps = if (ascii) null else text.toString.codePoints().toArray
    val n = (if (ascii) bytes.length else cps.length) - (k - 1)
    if (n < 1) return null
    val md = mdLocal.get()
    val ghs = new Array[Long](n)
    var p = 0
    while (p < n) {
      val gram =
        if (ascii) java.util.Arrays.copyOfRange(bytes, p, p + k)
        else new String(cps, p, k).getBytes("UTF-8")
      val hex = md5Hex(md, gram)
      var v = 0L
      var i = 0
      while (i < 15) {
        val c = hex(i)
        v = v * 16 + (if (c <= '9') c - '0' else c - 'a' + 10)
        i += 1
      }
      ghs(p) = v
      p += 1
    }
    val nWin = math.max(n - (w - 1), 1)
    val out = new scala.collection.mutable.ArrayBuffer[Any](2 * n / (w + 1) + 2)
    var lastP = -1
    var a = 0
    while (a < nWin) {
      val end = math.min(a + w, n)
      var bestP = a
      var i2 = a + 1
      while (i2 < end) {
        if (ghs(i2) <= ghs(bestP)) bestP = i2 // rightmost on ties
        i2 += 1
      }
      if (bestP != lastP) {
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](ghs(bestP), bestP + 1))
        lastP = bestP
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct word n-gram shingles over a token array: windows of up to
    * `n` tokens joined by a single space, first-occurrence order, window
    * starts 0..max(size-n, 0) — value-identical to the HOF form
    * `array_distinct(transform(sequence(...), i => concat_ws(" ",
    * slice(toks, i+1, n))))` in the test-side `Oracles.shinglesFold`,
    * including the empty-token edge ([""]). Assumes non-null tokens (the
    * tokenizer filters empties). */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val size = tokens.numElements()
    val last = math.max(size - n, 0)
    val seen = new java.util.LinkedHashSet[UTF8String]
    var i = 0
    while (i <= last) {
      val end = math.min(i + n, size)
      val parts = new Array[UTF8String](math.max(end - i, 0))
      var j = i
      while (j < end) { parts(j - i) = tokens.getUTF8String(j); j += 1 }
      seen.add(UTF8String.concatWs(UTF8String.fromString(" "), parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  /** Adjacent word pairs over a text's whitespace tokens, in reading
    * order, NON-distinct — the bigram event list an order-sensitive
    * language model counts. One byte-scan pass; tokenization is
    * value-identical to `filter(split(text, "\\s+"), t => length(t) > 0)`
    * (maximal runs of the six ASCII `\s` characters separate tokens; the
    * bytes compared are < 0x80, so multi-byte UTF-8 passes through
    * unsplit). Texts with fewer than two tokens yield an empty array, so
    * they contribute no exploded rows. Consecutive pairs share their
    * boundary token's UTF8String, so the pass allocates one object per
    * token plus one 2-field row per pair — not the O(tokens) array copy
    * per exploded row that an `explode(sequence)` + post-Generate
    * `element_at` formulation carries. */
  def tokenPairs(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val toks = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    while (i < n) {
      while (i < n && isSpaceByte(bytes(i))) i += 1
      val start = i
      while (i < n && !isSpaceByte(bytes(i))) i += 1
      if (i > start)
        toks += UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i))
    }
    val m = toks.length
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - 1)
    var j = 0
    while (j < m - 1) {
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](toks(j), toks(j + 1)))
      j += 1
    }
    new GenericArrayData(out)
  }

  // the six characters Java's \s matches (no UNICODE_CHARACTER_CLASS)
  @inline private def isSpaceByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Top n-gram repetition ratio: the frequency of the most common FULL
    * n-token window over the count of all full windows (0.0 when the text
    * has fewer than n tokens). The standard repetition signal in corpus
    * quality filtering (Gopher/C4-style rules, public literature). One
    * hash-map pass per row. */
  def repeatRatio(tokens: ArrayData, n: Int): Double = {
    val size = tokens.numElements()
    val total = size - n + 1
    if (total <= 0) return 0.0
    val counts = new java.util.HashMap[UTF8String, Int](total * 2)
    var max = 0
    var i = 0
    while (i < total) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      val gram = UTF8String.concatWs(UTF8String.fromString(" "), parts: _*)
      val c = counts.merge(gram, 1, (a, b) => a + b)
      if (c > max) max = c
      i += 1
    }
    max.toDouble / total.toDouble
  }

  /** Unicode NFC canonical composition — the normalization dedup
    * pipelines apply BEFORE hashing, so "é" and "e"+U+0301 dedup
    * together instead of passing as distinct content. Already-NFC
    * strings (the overwhelming majority; UTF-8 web text is mostly
    * composed) short-circuit through the JDK's quick-check without
    * allocation. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Shannon entropy in bits over the string's code-point distribution —
    * the gibberish/binary-junk signal of corpus quality filtering: natural
    * prose sits ~4-4.7 bits, base64/hex blobs higher, single-char padding
    * near 0. Code points (not UTF-16 units), matching engines whose
    * `substring` is code-point addressed; empty string → 0.0. */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    val len = str.length
    if (len == 0) return 0.0
    val counts = new java.util.HashMap[Integer, Integer](64)
    var i = 0
    var n = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1, (a, b) => a + b)
      i += Character.charCount(cp)
      n += 1
    }
    var h = 0.0
    val it = counts.values().iterator()
    val invLn2 = 1.0 / math.log(2.0)
    while (it.hasNext) {
      val p = it.next().toDouble / n
      h -= p * math.log(p) * invLn2
    }
    h
  }

  /** All code-point n-grams of `s` in reading order, NON-distinct — the
    * character-n-gram event list a char-level language model counts.
    * Code-point addressed (astral-plane safe), value-identical to the
    * interpreted HOF form `transform(sequence(1, numChars − (n−1)),
    * i -> substr(s, i, n))`; shorter-than-n strings yield an EMPTY array
    * (callers null-guard to keep the HOF form's null → empty contract).
    * One pass: code-point boundaries are collected once and each gram is
    * one substring copy — not the O(len) scan PER GRAM that repeated
    * codepoint-addressed `substr` costs on multi-byte text. */
  def charGrams(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    val len = str.length
    // code-point start offsets (UTF-16 indices) + the end sentinel
    val bounds = new java.util.ArrayList[Integer](len + 1)
    var i = 0
    while (i < len) {
      bounds.add(i)
      i += Character.charCount(str.codePointAt(i))
    }
    bounds.add(len)
    val m = bounds.size - 1
    if (m < n) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m - n + 1)
    var k = 0
    while (k <= m - n) {
      out(k) = UTF8String.fromString(str.substring(bounds.get(k), bounds.get(k + n)))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Collapse runs of consecutive identical tokens to at most `maxRun`
    * occurrences ("a a a b a" → "a b a" at maxRun = 1) — intra-document
    * repetition removal, the token-level sibling of C4's duplicate-line
    * drop. One pass, first `maxRun` of each run survive, order preserved. */
  def collapseRuns(tokens: ArrayData, maxRun: Int): ArrayData = {
    val n = tokens.numElements()
    val out = new java.util.ArrayList[Any](n)
    var prev: UTF8String = null
    var run = 0
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      // null elements are not tokens: skip them (a null after a non-null
      // would otherwise NPE, and a copied-through null would violate the
      // declared containsNull = false output schema)
      if (t != null) {
        if (prev != null && t.equals(prev)) run += 1
        else { run = 1; prev = t }
        if (run <= maxRun) out.add(t)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** SimHash fingerprint over a token array: per-token md5, per-bit
    * weighted majority, `bits`-wide long (bits <= 64; at 64 the sign bit
    * carries fingerprint bit 0). Equals `Dedup.simhash`'s fold
    * value-for-value (bit b reads hex digit b/4, shift 3-(b%4)). */
  def simhash(tokens: ArrayData, bits: Int): Long = {
    val md = mdLocal.get()
    val n = tokens.numElements()
    val balance = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val u = tokens.getUTF8String(i)
      if (u == null) { i += 1 }
      else {
      val h = md5Hex(md, u.getBytes)
      var b = 0
      while (b < bits) {
        val digit = Character.digit(h(b / 4).toChar, 16)
        val bit = (digit >> (3 - (b % 4))) & 1
        balance(b) += bit * 2 - 1
        b += 1
      }
      i += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (balance(b) > 0) fp |= 1L << (bits - 1 - b)
      b += 1
    }
    fp
  }

  /** Average-hash (aHash) fingerprint over a binary payload: `bits`
    * stub-decode features — feature i is the first 16 bits of
    * md5(payload ++ "#i") scaled to [-1, 1], exactly
    * `conv(md5(concat(payload, '#i')).substr(1,4), 16, 10) / 65535.0
    * * 2 - 1` — thresholded at their seeded left-to-right mean, packed
    * MSB-first. Value-identical to the staged HOF form
    * ([[graft.operators.Multimodal.perceptualHashStaged]]); one kernel
    * call per row replaces three interpreted-HOF projections and `bits`
    * re-walks of the feature array. */
  def phashFp(payload: Array[Byte], bits: Int): Long = {
    val md = mdLocal.get()
    val fs = new Array[Double](bits)
    var i = 0
    while (i < bits) {
      val suffix = ("#" + i).getBytes("UTF-8")
      val buf = new Array[Byte](payload.length + suffix.length)
      System.arraycopy(payload, 0, buf, 0, payload.length)
      System.arraycopy(suffix, 0, buf, payload.length, suffix.length)
      md.reset()
      val digest = md.digest(buf)
      val v = ((digest(0) & 0xff) << 8) | (digest(1) & 0xff)
      fs(i) = v / 65535.0 * 2 - 1
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < bits) { acc += fs(i); i += 1 }
    val mean = acc / bits
    var fp = 0L
    i = 0
    while (i < bits) {
      if (fs(i) > mean) fp |= 1L << (bits - 1 - i)
      i += 1
    }
    fp
  }

  /** RFC 3492 §6.1 bias adaptation (decoder direction). */
  private def punyAdapt(delta0: Int, numPoints: Int, first: Boolean): Int = {
    var delta = if (first) delta0 / 700 else delta0 / 2
    delta += delta / numPoints
    var k = 0
    while (delta > 455) { delta /= 35; k += 36 } // 455 = ((36-1)*26)/2
    k + 36 * delta / (delta + 38)
  }

  /** Overflow bound shared bit-for-bit with the expression-fold twin
    * ([[graft.operators.Urls]].PunyMax): the decoder's i/w accumulators
    * fail past it. Any VALID 63-octet label stays far below (worst case:
    * delta ≈ 0x10FFFF × 64 ≈ 7·10⁷), and the bound keeps every product
    * (≤ 35 × bound ≈ 7.5·10¹⁰) inside both Long range and the fold's
    * exact-double window. */
  val PunyMax: Long = Int.MaxValue.toLong

  /** RFC 3492 §6.2 punycode decode of one ACE label BODY (the part after
    * `xn--`, already lowercased). Returns null when the body is not valid
    * punycode — bad digit, truncated digit group, arithmetic overflow,
    * surrogate / out-of-range code point, or an empty decode — so callers
    * keep the original label verbatim (the lenient convention of
    * [[graft.operators.Urls.normalizePercentEncoding]]); NEVER throws (a
    * crafted digit group must cost one verbatim label, not the task).
    * All accumulators are Long with post-add bound checks in EXACTLY the
    * fold twin's form, so kernel ≡ fold holds on the overflow frontier
    * too — an Int `n` here once wrapped negative on a crafted group,
    * passed the range checks, and crashed appendCodePoint. The
    * interpreted expression-fold twin lives in
    * the test-side `Oracles.punycodeDecodeLabel`; kernel ≡ fold is
    * spec-pinned. */
  def punycodeDecodeLabel(body: String): String = {
    val d = body.lastIndexOf('-')
    val basic = if (d >= 0) body.substring(0, d) else ""
    val ext = if (d >= 0) body.substring(d + 1) else body
    var bi = 0
    while (bi < basic.length) {
      if (basic.charAt(bi) >= 0x80) return null
      bi += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    basic.foreach(c => out += c.toInt)
    var n = 128L; var i = 0L; var bias = 0L + 72
    var p = 0
    while (p < ext.length) {
      val oldi = i
      var w = 1L
      var k = 36L
      var done = false
      while (!done) {
        if (p >= ext.length) return null // dangling digit group
        val c = ext.charAt(p); p += 1
        val digit: Long =
          if (c >= 'a' && c <= 'z') c - 'a'
          else if (c >= '0' && c <= '9') c - '0' + 26
          else if (c >= 'A' && c <= 'Z') c - 'A'
          else return null
        i += digit * w // exact: both factors bounded by PunyMax checks below
        if (i > PunyMax) return null
        val t = if (k <= bias) 1L else if (k >= bias + 26) 26L else k - bias
        if (digit < t) done = true
        else {
          w *= 36 - t
          if (w > PunyMax) return null
          k += 36
        }
      }
      bias = punyAdapt((i - oldi).toInt, out.length + 1, oldi == 0)
      n += i / (out.length + 1)
      if (n > 0x10FFFFL || (n >= 0xD800L && n <= 0xDFFFL)) return null
      i %= out.length + 1
      out.insert(i.toInt, n.toInt)
      i += 1
    }
    if (out.isEmpty) return null
    val sb = new java.lang.StringBuilder(out.length + 8)
    out.foreach(cp => sb.appendCodePoint(cp))
    sb.toString
  }

  /** Decode every `xn--` (ACE) label of an already-lowercased host to its
    * Unicode form; invalid labels stay verbatim. Fast path: hosts without
    * the ACE marker return the INPUT object — one substring scan, zero
    * allocation, which is ~every host at web scale. */
  def idnDecodeHost(host: UTF8String): UTF8String = {
    val s = host.toString
    if (!s.contains("xn--")) return host
    val labels = s.split("\\.", -1)
    var changed = false
    var li = 0
    while (li < labels.length) {
      if (labels(li).startsWith("xn--")) {
        val dec = punycodeDecodeLabel(labels(li).substring(4))
        if (dec != null) { labels(li) = dec; changed = true }
      }
      li += 1
    }
    if (!changed) host else UTF8String.fromString(labels.mkString("."))
  }
}

/** Codegen'd Bloom-filter membership probe over the (KEY_HASH,
  * RECORD_HASH) digest pair. The word array and per-hash salt suffixes
  * ride along as REFERENCED objects (`ctx.addReferenceObj`), not plan
  * literals: a 2^22-bit filter is 64k longs, and embedding it as an
  * array-literal column bloated the plan, the generated source, and
  * every task's deserialization — MEASURED (sf0.1, min-of-3): the
  * literal-array SQL probe cost 4.18 s on the 1%-batch delta vs 0.56 s
  * for the plain anti-join; this kernel form is what makes the route
  * competitive. Bit positions are identical to the synopsis build's SQL
  * ([[graft.operators.Cdc.bloomSynopsis]]): first 60 bits of
  * md5(key ++ record ++ "#salt#j") mod bits. */
case class BloomProbe(
    left: Expression,
    right: Expression,
    words: Array[Long],
    bits: Int,
    numHashes: Int,
    salt: String) extends BinaryExpression {
  @transient private lazy val suffixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(j => s"#$salt#$j".getBytes("UTF-8"))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"
  // the plan-time arguments are part of the call: Spark names an
  // unaliased column by its `sql`, so two probes that differ only in the
  // filter (its words printed as a content digest) must not print alike
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql}, " +
    s"${ArgDigest(words)}, $bits, $numHashes, ${Literal(salt).sql})"

  // case-class equality on Array is REFERENCE equality, which would make
  // two semantically identical probes never compare equal — harmless for
  // results but it defeats Catalyst canonicalization / common-subexpression
  // reuse. Compare the filter CONTENT instead (cheap relative to the plan
  // work canonicalization saves; two probes only reach the array compare
  // when the scalar config already matches).
  override def equals(obj: Any): Boolean = obj match {
    case o: BloomProbe => (o eq this) ||
      (bits == o.bits && numHashes == o.numHashes && salt == o.salt &&
        left == o.left && right == o.right && java.util.Arrays.equals(words, o.words))
    case _ => false
  }
  // Catalyst hashes expressions repeatedly (ExpressionSet membership,
  // canonicalization, attribute maps); the words array is immutable for
  // this expression's lifetime, so its content hash is computed once —
  // not a 128k-long walk per hashCode call at the default filter size
  @transient private lazy val wordsHash: Int = java.util.Arrays.hashCode(words)
  override def hashCode(): Int = java.util.Objects.hash(
    left, right, Int.box(bits), Int.box(numHashes), salt, Int.box(wordsHash))

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got (${l.sql}, ${r.sql})")
  }

  override def nullSafeEval(kh: Any, rh: Any): Any =
    HashKernels.bloomMightContain(kh.asInstanceOf[UTF8String],
      rh.asInstanceOf[UTF8String], words, bits, suffixes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("bloomWords", words, "long[]")
    val s = ctx.addReferenceObj("bloomSuffixes", suffixes, "byte[][]")
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.bloomMightContain($a, $b, $w, $bits, $s)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomProbe =
    copy(left = newLeft, right = newRight)
}

/** The byte-level BPE kernels' shared shape: a string column over a
  * merges table whose rank map rides along as a referenced object. */
private[functions] sealed trait BpeKernel extends UnaryExpression {
  def merges: Seq[(String, String)]

  // the merges table is part of the call: Spark names an unaliased column
  // by its `sql`, so two calls over different tables must not print alike
  override def sql: String = s"$prettyName(${child.sql}, ${ArgDigest(merges)})"

  @transient protected lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, Integer.valueOf(i)) }
    m
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got ${t.sql}")
  }
}

/** Byte-level BPE ENCODE of a string to vocabulary ids — the id-emitting
  * twin of [[BpeCount]] (same pre-tokenization and merge loop, so the
  * array's length equals the count kernel's value on every input).
  * Vocabulary = the standard BPE construction over the SAME merges
  * table: byte symbols are ids 0..255, the rule at rank r defines id
  * 256 + r. This is what a training pipeline feeds the model: packing
  * decides membership by [[BpeCount]], this kernel emits the actual
  * token stream the pack concatenates. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)]) extends BpeKernel {
  @transient private lazy val vocab: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + b, Integer.valueOf(256 + i))
    }
    m
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  override def nullSafeEval(input: Any): Any =
    HashKernels.bpeEncodeIds(input.asInstanceOf[UTF8String], ranks, vocab)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    val v = ctx.addReferenceObj("bpeVocab", vocab, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.bpeEncodeIds($c, $r, $v)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** Codegen'd byte-level BPE token count over a merges table. The rank map
  * rides along as a referenced object; merging walks the GPT-2 encoder
  * loop (lowest-rank adjacent pair, all occurrences, to fixpoint). For a
  * training-well-formed merges table — every rule's symbols formed only
  * by strictly earlier rules — this loop coincides with sequential
  * rank-order application, which is what the DuckDB oracle replays. */
case class BpeCount(child: Expression, merges: Seq[(String, String)]) extends BpeKernel {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bpe_count"

  override def nullSafeEval(input: Any): Any =
    HashKernels.bpeTokenCount(input.asInstanceOf[UTF8String], ranks)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.bpeTokenCount($c, $r)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)
}

object DedupExpressions {
  /** Codegen'd MinHash signature of an `array<string>` shingle column. */
  def minhashSig(shingles: Column, k: Int): Column = MinHashSig(Seq(shingles), k)

  /** Codegen'd positional winnowing fingerprints of a string column. */
  def winnowOf(text: Column, k: Int, w: Int): Column = WinnowFps(Seq(text), k, w)

  /** Codegen'd distinct n-gram shingles of an `array<string>` token column. */
  def shinglesOf(tokens: Column, n: Int): Column = Shingles(Seq(tokens), n)

  /** Codegen'd top-n-gram repetition ratio of an `array<string>` token column. */
  def repeatRatioOf(tokens: Column, n: Int): Column = RepeatRatio(Seq(tokens), n)

  /** Codegen'd SimHash fingerprint of an `array<string>` token column. */
  def simhashOf(tokens: Column, bits: Int): Column = SimHash(Seq(tokens), bits)

  /** Codegen'd consecutive-run collapsing of an `array<string>` token column. */
  def collapseRunsOf(tokens: Column, maxRun: Int): Column = CollapseRuns(Seq(tokens), maxRun)

  /** Codegen'd code-point Shannon entropy (bits) of a string column. */
  def charEntropyOf(text: Column): Column = CharEntropy(Seq(text))

  /** Codegen'd code-point n-gram array of a string column. */
  def charGramsOf(text: Column, n: Int): Column = CharGrams(Seq(text), n)

  /** Codegen'd Unicode NFC composition of a string column. */
  def nfcNormalizeOf(text: Column): Column = NfcNormalize(Seq(text))

  /** Codegen'd IDN (punycode) host-label decode of a string column. */
  def idnDecodeHostOf(host: Column): Column = IdnDecodeHost(Seq(host))

  /** Codegen'd average-hash perceptual fingerprint of a binary column. */
  def phashOf(payload: Column, bits: Int): Column = PhashFp(Seq(payload), bits)

  /** Codegen'd adjacent-token bigram pairs of a string column. */
  def tokenPairsOf(text: Column): Column = TokenPairs(Seq(text))

  /** Codegen'd byte-level BPE token count of a string column. */
  def bpeCountOf(text: Column, merges: Seq[(String, String)]): Column =
    CatalystBridge.column(BpeCount(CatalystBridge.expression(text), merges))

  /** Codegen'd byte-level BPE encode of a string column to vocabulary
    * ids (array<int>). */
  def bpeEncodeOf(text: Column, merges: Seq[(String, String)]): Column =
    CatalystBridge.column(BpeEncode(CatalystBridge.expression(text), merges))

  /** Codegen'd Bloom membership probe of two string digest columns. */
  def bloomProbeOf(
      keyHash: Column, recordHash: Column,
      words: Array[Long], bits: Int, numHashes: Int, salt: String): Column =
    CatalystBridge.column(BloomProbe(CatalystBridge.expression(keyHash),
      CatalystBridge.expression(recordHash), words, bits, numHashes, salt))
}
