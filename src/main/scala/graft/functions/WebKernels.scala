package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the web-capture extraction expressions — the stages
  * that turn a raw WARC `response` payload (an HTTP message as captured
  * off the wire) into clean text a curation pipeline can gate:
  *
  *   HTTP envelope split (+ chunked / gzip transfer decode)
  *     → charset resolution + decode → HTML tag/script strip.
  *
  * The reference has no counterpart (its entry point is `pd.read_csv`,
  * `main.py:16`); every public WARC-first corpus recipe (C4, RefinedWeb,
  * FineWeb) extracts its own text from `response` records rather than
  * trusting the WET `conversion` extracts, which is why this exists as a
  * first-class path next to [[graft.sources.Warc.readWet]].
  *
  * All three stages are per-row byte/char state machines with bounded
  * state, exposed as codegen'd Catalyst expressions declared in
  * [[NativeKernel]] (the interpreted and the generated path call the SAME
  * static function, so they cannot drift). Malformed
  * input never throws — it surfaces in the struct's `err` field (the
  * [[graft.sources.Warc]] quarantine posture at column granularity: a bad
  * body costs its own `text`, never the task).
  */
object WebKernels {

  /** Decompressed-body cap: an HTTP-level gzip bomb must not OOM an
    * executor thread. 512 MiB is far beyond any real page and far below
    * task memory at the intended 4–8 GiB executor sizing. */
  private val MaxBodyBytes = 512 * 1024 * 1024

  /** Meta-charset sniff window, per the HTML5 prescan convention. */
  private val SniffBytes = 1024

  private def ascii(b: Byte): Char = (b & 0x7f).toChar

  private def findCrlfCrlf(p: Array[Byte]): Int = {
    // returns index AFTER the terminator; accepts \r\n\r\n or \n\n
    var i = 0
    while (i < p.length) {
      if (p(i) == '\n') {
        if (i + 1 < p.length && p(i + 1) == '\n') return i + 2
        if (i + 2 < p.length && p(i + 1) == '\r' && p(i + 2) == '\n') return i + 3
      }
      i += 1
    }
    -1
  }

  /** Split one captured HTTP response message into
    * (status, content_type, body, err).
    *
    * Documented subset (each the overwhelmingly-common capture form):
    *  - envelope = status line + `Name: value` headers to the first blank
    *    line (CRLF or bare LF);
    *  - a payload NOT starting with `HTTP/` is treated as a bare body
    *    (status/content_type null) — some archives store the entity only;
    *  - `Transfer-Encoding: chunked` is de-chunked (trailers dropped);
    *  - `Content-Encoding: gzip|x-gzip|deflate` is decompressed (deflate
    *    tried zlib-wrapped first, then raw — both occur in the wild);
    *    other codings (`br`, `zstd`: not in the JDK) set `err`;
    *  - malformed chunk framing / corrupt compressed body / a body past
    *    [[MaxBodyBytes]] sets `err` with `body` null — the record stays a
    *    row, the column explains itself.
    */
  def httpParse(payload: Array[Byte]): GenericInternalRow = {
    def row(status: Any, ct: UTF8String, body: Array[Byte], err: String) =
      new GenericInternalRow(Array[Any](status, ct, body,
        if (err == null) null else UTF8String.fromString(err)))
    if (payload.length < 5 || ascii(payload(0)) != 'H' || ascii(payload(1)) != 'T'
        || ascii(payload(2)) != 'T' || ascii(payload(3)) != 'P' || ascii(payload(4)) != '/')
      return row(null, null, payload, null)
    val hEnd = findCrlfCrlf(payload)
    if (hEnd < 0)
      return row(null, null, null, "no header terminator in HTTP envelope")
    // headers decode as ISO-8859-1 per RFC 9112 (token charset is ASCII;
    // the value bytes we consume — status digits, media types, coding
    // names — are ASCII either way)
    val envelope = new String(payload, 0, hEnd, java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = envelope.split("\r?\n")
    val statusTok = lines(0).split(" ", 3)
    val status: Any =
      if (statusTok.length >= 2 && statusTok(1).length == 3
          && statusTok(1).forall(_.isDigit)) statusTok(1).toInt
      else null
    var contentType: String = null
    var transferEnc: String = null
    var contentEnc: String = null
    var li = 1
    while (li < lines.length) {
      val l = lines(li)
      val c = l.indexOf(':')
      if (c > 0) {
        val name = l.substring(0, c).trim.toLowerCase
        val value = l.substring(c + 1).trim
        name match {
          case "content-type" => contentType = value
          case "transfer-encoding" => transferEnc = value.toLowerCase
          case "content-encoding" => contentEnc = value.toLowerCase
          case _ =>
        }
      }
      li += 1
    }
    val ctU = if (contentType == null) null else UTF8String.fromString(contentType)
    var body = java.util.Arrays.copyOfRange(payload, hEnd, payload.length)
    // transfer decode: chunked framing off first (it wraps the entity)
    if (transferEnc != null && transferEnc.contains("chunked")) {
      dechunk(body) match {
        case Right(b) => body = b
        case Left(msg) => return row(status, ctU, null, msg)
      }
    }
    // content decode: the entity's own compression
    if (contentEnc == null || contentEnc == "identity" || contentEnc.isEmpty) ()
    else if (contentEnc == "gzip" || contentEnc == "x-gzip") {
      decompress(body, gzip = true) match {
        case Right(b) => body = b
        case Left(msg) => return row(status, ctU, null, msg)
      }
    } else if (contentEnc == "deflate") {
      decompress(body, gzip = false) match {
        case Right(b) => body = b
        case Left(msg) => return row(status, ctU, null, msg)
      }
    } else
      return row(status, ctU, null, s"unsupported content-encoding: $contentEnc")
    row(status, ctU, body, null)
  }

  /** RFC 9112 §7.1 chunked framing: hex size line (extensions after `;`
    * dropped), that many bytes, CRLF, repeat; size 0 ends (trailer
    * fields dropped). */
  private def dechunk(b: Array[Byte]): Either[String, Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 20))
    var i = 0
    while (true) {
      // read the size line
      var j = i
      while (j < b.length && b(j) != '\n') j += 1
      if (j >= b.length) return Left("malformed chunked framing: no size line")
      var line = new String(b, i, j - i, java.nio.charset.StandardCharsets.ISO_8859_1).trim
      val semi = line.indexOf(';')
      if (semi >= 0) line = line.substring(0, semi).trim
      val size = try java.lang.Long.parseLong(line, 16) catch {
        case _: NumberFormatException =>
          return Left(s"malformed chunked framing: bad size line [${line.take(40)}]")
      }
      if (size < 0 || size > MaxBodyBytes || out.size().toLong + size > MaxBodyBytes)
        return Left(s"chunked body exceeds the $MaxBodyBytes-byte cap")
      if (size == 0) return Right(out.toByteArray) // trailers dropped
      i = j + 1
      if (i + size > b.length)
        return Left("malformed chunked framing: chunk runs past the body")
      out.write(b, i, size.toInt)
      i += size.toInt
      // skip the chunk-terminating CRLF (tolerate bare LF)
      if (i < b.length && b(i) == '\r') i += 1
      if (i < b.length && b(i) == '\n') i += 1
    }
    Right(out.toByteArray) // unreachable
  }

  private def decompress(b: Array[Byte], gzip: Boolean): Either[String, Array[Byte]] = {
    def drain(in: java.io.InputStream): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > MaxBodyBytes)
          throw new java.io.IOException(s"decompressed body exceeds the $MaxBodyBytes-byte cap")
        n = in.read(buf)
      }
      out.toByteArray
    }
    val enc = if (gzip) "gzip" else "deflate"
    try {
      if (gzip)
        Right(drain(new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))))
      else
        try Right(drain(new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(b))))
        catch {
          case _: java.io.IOException =>
            // "deflate" in the wild is often RAW deflate (no zlib wrapper)
            Right(drain(new java.util.zip.InflaterInputStream(
              new java.io.ByteArrayInputStream(b),
              new java.util.zip.Inflater(true))))
        }
    } catch {
      case e: java.io.IOException =>
        Left(s"undecodable $enc body: ${e.getMessage}")
    }
  }

  /** Resolve the body's charset and decode it: the `charset=` parameter of
    * the HTTP Content-Type header wins, else an HTML `<meta charset=…>` /
    * `http-equiv` prescan over the first [[SniffBytes]] bytes (every
    * charset that matters for the sniff is ASCII-compatible there), else
    * UTF-8. Unknown/illegal charset names fall back to UTF-8 rather than
    * erroring — the fallback is the documented posture for legacy junk
    * labels. Undecodable byte sequences decode with U+FFFD replacement
    * (never throw). A UTF-8 BOM is stripped. Returns (charset, text) with
    * `charset` = the java.nio canonical name, lowercase. */
  def charsetDecode(body: Array[Byte], contentType: UTF8String): GenericInternalRow = {
    val fromHeader =
      if (contentType == null) null else charsetParam(contentType.toString)
    val name = if (fromHeader != null) fromHeader else {
      val sniffed = metaCharsetSniff(body)
      if (sniffed != null) sniffed else "UTF-8"
    }
    val cs = try {
      if (java.nio.charset.Charset.isSupported(name))
        java.nio.charset.Charset.forName(name)
      else java.nio.charset.StandardCharsets.UTF_8
    } catch {
      case _: java.nio.charset.IllegalCharsetNameException =>
        java.nio.charset.StandardCharsets.UTF_8
      case _: IllegalArgumentException =>
        java.nio.charset.StandardCharsets.UTF_8
    }
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val skipBom = cs == java.nio.charset.StandardCharsets.UTF_8 &&
      body.length >= 3 && body(0) == 0xef.toByte && body(1) == 0xbb.toByte &&
      body(2) == 0xbf.toByte
    val text = dec.decode(java.nio.ByteBuffer.wrap(
      body, if (skipBom) 3 else 0, body.length - (if (skipBom) 3 else 0))).toString
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(cs.name().toLowerCase),
      UTF8String.fromString(text)))
  }

  /** `charset=` parameter scan, case-insensitive, quote/semicolon aware. */
  private def charsetParam(s: String): String = {
    val lower = s.toLowerCase
    val at = lower.indexOf("charset=")
    if (at < 0) return null
    var i = at + "charset=".length
    var j = i
    val quoted = i < s.length && (s.charAt(i) == '"' || s.charAt(i) == '\'')
    if (quoted) { i += 1; j = i; val q = s.charAt(i - 1)
      while (j < s.length && s.charAt(j) != q) j += 1 }
    else while (j < s.length && s.charAt(j) != ';' && !s.charAt(j).isWhitespace
      && s.charAt(j) != '"' && s.charAt(j) != '\'' && s.charAt(j) != '>'
      && s.charAt(j) != '/') j += 1 // '>' / '/': unquoted <meta charset=utf-8>
    val v = s.substring(i, j).trim
    if (v.isEmpty) null else v
  }

  /** HTML5-style prescan for `<meta charset=…>` or
    * `<meta http-equiv=… content="…; charset=…">` over the sniff window,
    * treating the bytes as ASCII (true for the window's markup in every
    * ASCII-compatible charset this subset decodes). */
  private def metaCharsetSniff(body: Array[Byte]): String = {
    val n = math.min(body.length, SniffBytes)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Character.toLowerCase(ascii(body(i)))); i += 1 }
    val window = sb.toString
    val at = window.indexOf("charset=")
    if (at < 0) return null
    // only honor it inside a <meta …> tag — "charset=" in visible text or
    // a script string is not a declaration
    val tagOpen = window.lastIndexOf("<meta", at)
    if (tagOpen < 0) return null
    val tagClose = window.indexOf('>', tagOpen)
    if (tagClose >= 0 && tagClose < at) return null
    charsetParam(window.substring(at))
  }

  /** Block-level elements: entering or leaving one breaks the text line.
    * The subset is the HTML5 flow-content blocks a corpus pipeline cares
    * about; unknown tags are treated inline (spans/anchors must not split
    * words). */
  private val blockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "br", "li", "ul", "ol", "dl", "dt", "dd",
      "h1", "h2", "h3", "h4", "h5", "h6", "table", "tr", "td", "th",
      "thead", "tbody", "tfoot", "caption", "blockquote", "pre", "hr",
      "section", "article", "aside", "header", "footer", "nav", "main",
      "form", "fieldset", "figure", "figcaption", "address", "center",
      "title", "option", "select", "textarea", "noscript", "body", "html",
      "head").foreach(s.add)
    s
  }

  /** Named character references — the high-frequency subset (the full
    * HTML5 table is ~2k names; unknown references pass through verbatim,
    * the lenient-parser convention). */
  private val entities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    Seq(
      "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
      "apos" -> "'", "nbsp" -> " ", "shy" -> "",
      "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
      "lsquo" -> "‘", "rsquo" -> "’",
      "ldquo" -> "“", "rdquo" -> "”",
      "laquo" -> "«", "raquo" -> "»",
      "copy" -> "©", "reg" -> "®", "trade" -> "™",
      "sect" -> "§", "para" -> "¶", "middot" -> "·",
      "bull" -> "•", "deg" -> "°", "plusmn" -> "±",
      "times" -> "×", "divide" -> "÷", "frac12" -> "½",
      "frac14" -> "¼", "frac34" -> "¾", "cent" -> "¢",
      "pound" -> "£", "euro" -> "€", "yen" -> "¥",
      "szlig" -> "ß", "auml" -> "ä", "ouml" -> "ö",
      "uuml" -> "ü", "Auml" -> "Ä", "Ouml" -> "Ö",
      "Uuml" -> "Ü", "eacute" -> "é", "egrave" -> "è",
      "agrave" -> "à", "ccedil" -> "ç", "ntilde" -> "ñ",
      "aacute" -> "á", "iacute" -> "í", "oacute" -> "ó",
      "uacute" -> "ú", "oslash" -> "ø", "aring" -> "å"
    ).foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Extract the visible text of an HTML document: `<script>`/`<style>`
    * element content, comments, CDATA sections and all tags are dropped;
    * block-element boundaries ([[blockTags]]) become line breaks;
    * character references decode ([[entities]] + numeric `&#…;` /
    * `&#x…;`); whitespace normalizes — any run containing a line break
    * collapses to ONE `\n`, any other run to one space, ends trimmed.
    * One pass, O(len) time, O(output) space. The normalization rule is
    * deliberately simple and deterministic: downstream gates tokenize on
    * whitespace anyway, and the oracle states expected text literally. */
  def htmlToText(html: UTF8String): UTF8String = {
    val s = html.toString
    val n = s.length
    val out = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var i = 0
    var rawUntil: String = null // inside <script>/<style>: the closing tag
    while (i < n) {
      val c = s.charAt(i)
      if (rawUntil != null) {
        // raw-text element: skip to the matching close tag, case-insens;
        // per the HTML5 rule the tag NAME must end there (else a
        // "</scripty>" inside a script string would close the element)
        if (c == '<' && s.regionMatches(true, i, rawUntil, 0, rawUntil.length) &&
            (i + rawUntil.length >= n || {
              val nc = s.charAt(i + rawUntil.length)
              nc == '>' || nc == '/' || Character.isWhitespace(nc)
            })) {
          i += rawUntil.length
          while (i < n && s.charAt(i) != '>') i += 1
          if (i < n) i += 1
          rawUntil = null
        } else i += 1
      } else if (c == '<' && i + 1 < n &&
          (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '/' ||
            s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (s.regionMatches(false, i, "<![CDATA[", 0, 9)) {
          val end = s.indexOf("]]>", i + 9)
          i = if (end < 0) n else end + 3
        } else {
          // tag: <[/]name attrs…> — attribute values may quote '>'
          val isClose = s.charAt(i + 1) == '/'
          var j = i + (if (isClose) 2 else 1)
          val nameStart = j
          while (j < n && s.charAt(j).isLetterOrDigit) j += 1
          val name = s.substring(nameStart, j).toLowerCase
          var q = 0.toChar
          while (j < n && (q != 0 || s.charAt(j) != '>')) {
            val cj = s.charAt(j)
            if (q == 0 && (cj == '"' || cj == '\'')) q = cj
            else if (q != 0 && cj == q) q = 0.toChar
            j += 1
          }
          val selfClosed = j < n && j - 1 > nameStart && s.charAt(j - 1) == '/'
          if ((name == "script" || name == "style") && !isClose && !selfClosed)
            rawUntil = "</" + name
          if (blockTags.contains(name)) out.append('\n')
          i = if (j < n) j + 1 else n
        }
      } else if (c == '&') {
        // character reference: bounded scan to ';'
        var j = i + 1
        val limit = math.min(n, i + 32)
        while (j < limit && s.charAt(j) != ';' && s.charAt(j) != '&' &&
          !s.charAt(j).isWhitespace && s.charAt(j) != '<') j += 1
        if (j < limit && j > i + 1 && s.charAt(j) == ';') {
          val body = s.substring(i + 1, j)
          val decoded: String =
            if (body.charAt(0) == '#') {
              val hex = body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X')
              val digits = if (hex) body.substring(2) else body.substring(1)
              try {
                val cp = Integer.parseInt(digits, if (hex) 16 else 10)
                // surrogate-range refs would decode to an UNPAIRED
                // surrogate char (mangled to '?' at UTF-8 conversion) —
                // invalid per HTML5, verbatim per the lenient convention
                if (Character.isValidCodePoint(cp) && cp > 0 &&
                    !(cp >= 0xD800 && cp <= 0xDFFF))
                  new String(Character.toChars(cp))
                else null
              } catch { case _: NumberFormatException => null }
            } else entities.get(body)
          if (decoded != null) { out.append(decoded); i = j + 1 }
          else { out.append(c); i += 1 } // unknown reference: verbatim
        } else { out.append(c); i += 1 }
      } else {
        out.append(c); i += 1 // incl. a literal '<' before a non-tag char
      }
    }
    // whitespace normalization: runs with a line break -> '\n', other
    // runs -> ' ', ends trimmed. NBSP counts as whitespace here (it is
    // layout, not content, once tags are gone; Java's isWhitespace
    // excludes it).
    def isWs(ch: Char): Boolean = Character.isWhitespace(ch) || ch == '\u00a0'
    val raw = out.toString
    val res = new java.lang.StringBuilder(raw.length)
    var k = 0
    while (k < raw.length) {
      val ch = raw.charAt(k)
      if (isWs(ch)) {
        var sawNl = ch == '\n'
        k += 1
        while (k < raw.length && isWs(raw.charAt(k))) {
          if (raw.charAt(k) == '\n') sawNl = true
          k += 1
        }
        if (res.length() > 0 && k < raw.length)
          res.append(if (sawNl) '\n' else ' ')
      } else { res.append(ch); k += 1 }
    }
    UTF8String.fromString(res.toString)
  }

  /** Segment an HTML document into visible-text BLOCKS — the jusText /
    * trafilatura content model (the block is the unit every density-based
    * boilerplate classifier scores): a block break at every block-level
    * tag (open or close, [[blockTags]]), everything else inline. Per
    * block:
    *
    *  - `text`  — the block's visible text, whitespace-normalized: any
    *    intra-block whitespace run collapses to ONE space (a literal
    *    newline in the markup is layout between inline content, NOT a
    *    block boundary — this is where the model deliberately diverges
    *    from [[htmlToText]], which preserves source line breaks; on
    *    newline-free markup the block texts joined with `\n` equal
    *    [[htmlToText]] exactly, spec-pinned),
    *  - `links` — non-whitespace chars emitted while at least one `<a>`
    *    element was open (the numerator of jusText's link density),
    *  - `chars` — all non-whitespace chars (the denominator; whitespace
    *    is excluded from both counts so padding can't dilute density).
    *    Both counts are UTF-16 units — a supplementary code point
    *    (emoji) counts 2; density is a ratio, the unit cancels.
    *
    * Blocks with no non-whitespace content are not emitted. Script /
    * style / comment / CDATA / entity handling is [[htmlToText]]'s
    * (entity-decoded characters count as emitted chars). Anchor depth
    * floors at zero (stray `</a>` is wild-HTML-normal) and persists
    * across block breaks (an anchor wrapping a `<div>` keeps its content
    * link-counted); a self-closing `<a/>` opens nothing. */
  def htmlToBlocks(html: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = html.toString
    val n = s.length
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Any]
    val cur = new java.lang.StringBuilder(256)
    var links = 0
    var chars = 0
    var anchorDepth = 0
    def isWs(ch: Char): Boolean = Character.isWhitespace(ch) || ch == '\u00a0'
    def emitChar(ch: Char): Unit = {
      cur.append(ch)
      if (!isWs(ch)) {
        chars += 1
        if (anchorDepth > 0) links += 1
      }
    }
    def emitStr(str: String): Unit = {
      var i = 0
      while (i < str.length) { emitChar(str.charAt(i)); i += 1 }
    }
    def flushBlock(): Unit = {
      if (chars > 0) {
        // intra-block normalization: ws runs -> one space, ends trimmed
        val raw = cur.toString
        val res = new java.lang.StringBuilder(raw.length)
        var k = 0
        while (k < raw.length) {
          val ch = raw.charAt(k)
          if (isWs(ch)) {
            k += 1
            while (k < raw.length && isWs(raw.charAt(k))) k += 1
            if (res.length() > 0 && k < raw.length) res.append(' ')
          } else { res.append(ch); k += 1 }
        }
        blocks += new GenericInternalRow(Array[Any](
          UTF8String.fromString(res.toString), links, chars))
      }
      cur.setLength(0); links = 0; chars = 0
    }
    var i = 0
    var rawUntil: String = null
    while (i < n) {
      val c = s.charAt(i)
      if (rawUntil != null) {
        if (c == '<' && s.regionMatches(true, i, rawUntil, 0, rawUntil.length) &&
            (i + rawUntil.length >= n || {
              val nc = s.charAt(i + rawUntil.length)
              nc == '>' || nc == '/' || Character.isWhitespace(nc)
            })) {
          i += rawUntil.length
          while (i < n && s.charAt(i) != '>') i += 1
          if (i < n) i += 1
          rawUntil = null
        } else i += 1
      } else if (c == '<' && i + 1 < n &&
          (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '/' ||
            s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (s.regionMatches(false, i, "<![CDATA[", 0, 9)) {
          val end = s.indexOf("]]>", i + 9)
          i = if (end < 0) n else end + 3
        } else {
          val isClose = s.charAt(i + 1) == '/'
          var j = i + (if (isClose) 2 else 1)
          val nameStart = j
          while (j < n && s.charAt(j).isLetterOrDigit) j += 1
          val name = s.substring(nameStart, j).toLowerCase
          var q = 0.toChar
          while (j < n && (q != 0 || s.charAt(j) != '>')) {
            val cj = s.charAt(j)
            if (q == 0 && (cj == '"' || cj == '\'')) q = cj
            else if (q != 0 && cj == q) q = 0.toChar
            j += 1
          }
          val selfClosed = j < n && j - 1 > nameStart && s.charAt(j - 1) == '/'
          if ((name == "script" || name == "style") && !isClose && !selfClosed)
            rawUntil = "</" + name
          if (name == "a") {
            if (isClose) anchorDepth = math.max(0, anchorDepth - 1)
            else if (!selfClosed) anchorDepth += 1
          }
          if (blockTags.contains(name)) flushBlock()
          i = if (j < n) j + 1 else n
        }
      } else if (c == '&') {
        var j = i + 1
        val limit = math.min(n, i + 32)
        while (j < limit && s.charAt(j) != ';' && s.charAt(j) != '&' &&
          !s.charAt(j).isWhitespace && s.charAt(j) != '<') j += 1
        if (j < limit && j > i + 1 && s.charAt(j) == ';') {
          val body = s.substring(i + 1, j)
          val decoded: String =
            if (body.charAt(0) == '#') {
              val hex = body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X')
              val digits = if (hex) body.substring(2) else body.substring(1)
              try {
                val cp = Integer.parseInt(digits, if (hex) 16 else 10)
                // surrogate-range refs would decode to an UNPAIRED
                // surrogate char (mangled to '?' at UTF-8 conversion) —
                // invalid per HTML5, verbatim per the lenient convention
                if (Character.isValidCodePoint(cp) && cp > 0 &&
                    !(cp >= 0xD800 && cp <= 0xDFFF))
                  new String(Character.toChars(cp))
                else null
              } catch { case _: NumberFormatException => null }
            } else entities.get(body)
          if (decoded != null) { emitStr(decoded); i = j + 1 }
          else { emitChar(c); i += 1 }
        } else { emitChar(c); i += 1 }
      } else {
        emitChar(c); i += 1
      }
    }
    flushBlock()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(blocks.toArray)
  }
}

/** Column factories for the web-extraction kernels. */
object WebExpressions {
  /** HTTP message split of a binary payload column:
    * struct(status, content_type, body, err). */
  def httpParseOf(payload: Column): Column = HttpParse(Seq(payload))

  /** Charset resolution + decode of (body, content_type):
    * struct(charset, text). A null content type means "no header" and
    * resolves through the sniff/fallback chain (coalesced to ""). */
  def charsetDecodeOf(body: Column, contentType: Column): Column =
    CharsetDecode(Seq(body, org.apache.spark.sql.functions.coalesce(contentType,
      org.apache.spark.sql.functions.lit(""))))

  /** Visible text of an HTML string column. */
  def htmlTextOf(html: Column): Column = HtmlToText(Seq(html))

  /** Visible-text BLOCKS of an HTML string column with per-block link /
    * char counts: array(struct(text, links, chars)) — the input every
    * density-based boilerplate classifier scores. */
  def htmlBlocksOf(html: Column): Column = HtmlBlocks(Seq(html))

  /** MAIN-CONTENT text of an HTML string column — the jusText-style
    * density selection every WARC-first recipe applies where
    * [[htmlTextOf]] keeps ALL visible text (nav bars, footers, link
    * farms included): keep the blocks with at least `minChars`
    * non-whitespace chars AND link density (`links / chars`) at most
    * `maxLinkDensity`, joined in document order with `\n`. Defaults are
    * the jusText ballpark (length_low≈70, max_link_density 0.2).
    *
    * Documented subset: no stop-word tier and no near-good neighbor
    * promotion (jusText's language-dependent refinements) — the
    * selection is a pure per-block law, so it stays declarative (plain
    * higher-order functions over [[htmlBlocksOf]], whole-stage codegen)
    * and replayable as four lines of SQL. A page with no qualifying
    * block yields the EMPTY string (a gate can drop it); null html stays
    * null. */
  def mainTextOf(html: Column, minChars: Int = 70,
      maxLinkDensity: Double = 0.2): Column = {
    import org.apache.spark.sql.functions._
    val kept = filter(htmlBlocksOf(html), b =>
      b.getField("chars") >= lit(minChars) &&
        b.getField("links").cast("double") <=
          b.getField("chars").cast("double") * lit(maxLinkDensity))
    when(html.isNull, lit(null).cast("string"))
      .otherwise(concat_ws("\n", transform(kept, b => b.getField("text"))))
  }
}
