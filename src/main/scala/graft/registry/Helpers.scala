package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{Currents, MetaColumns => M}
import graft.operators._
import graft.operators.Scd2.ValidFromMode
import graft.pipeline.Historization
import graft.sources.{Store, StoreIndex, Tables}

/** Shared fixtures and staged derived stores for the per-family query
  * registries: deterministic run timestamps, snapshot/enrichment frames,
  * staged pair/cluster/tier/manifest stores (built once per sf dir via
  * [[prebuildStaged]], so bench rows measure steady-state reads), and the
  * scratch-store writer. Moved verbatim from SparkEntry (r14 split). */
private[graft] object Helpers {
  /** CSV fixture for the L1 scan parity check; overridable where the
    * reference checkout lives elsewhere (query and oracle stay in sync
    * because both read this value). */
  private[graft] val gradesCsvPath: String =
    sys.env.getOrElse("GRAFT_GRADES_CSV", "/root/reference/data/grades_full.csv")

  /** Fixture dir for the real-binary-file ingestion check (query and oracle
    * both read this value, so they cannot disagree on the path). */
  private[graft] val mediaFixtureDir: String =
    sys.env.getOrElse("GRAFT_MEDIA_FIXTURE_DIR", "/tmp/graft_media_fixture")

  /** (Re)write a deterministic 16-file binary fixture: file i holds the 16
    * raw md5 bytes of "graft-media#i" — full 0..255 byte range, identical on
    * every run, so ingesting it is oracle-checkable without shipping test
    * data in the repo. */
  private[graft] def writeMediaFixture(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    // drop stale *.bin first: the ingest glob (and the oracle's read_blob)
    // match ALL .bin files, so leftovers from an older naming scheme would
    // silently diverge query and oracle. Materialize the listing before
    // deleting — DirectoryStream iteration concurrent with deletion is only
    // weakly consistent and provider-dependent.
    val listing = java.nio.file.Files.list(p)
    val stale =
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        listing.forEach(f => if (f.getFileName.toString.endsWith(".bin")) b += f)
        b.result()
      } finally listing.close()
    stale.foreach(java.nio.file.Files.delete)
    (0 until 16).foreach { i =>
      val bytes = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-media#$i".getBytes("UTF-8"))
      java.nio.file.Files.write(p.resolve(f"f$i%02d.bin"), bytes)
    }
  }

  /** Harness entry point: (re)write the media fixture without running any
    * query, so oracle-side consumers never depend on query execution order. */
  private[graft] def ensureMediaFixture(): Unit = writeMediaFixture(mediaFixtureDir)

  /** Fixture dir for the schema'd JSONL ingestion check (query and oracle
    * both read this value, so they cannot disagree on the path). */
  private[graft] val jsonlFixtureDir: String =
    sys.env.getOrElse("GRAFT_JSONL_FIXTURE_DIR", "/tmp/graft_jsonl_fixture")

  /** (Re)write a deterministic 24-line JSONL fixture exercising the parse
    * edges a schema'd reader must get right: an explicit null field
    * (title, every 7th-ish line), a MISSING nested object (meta, line 5
    * and 16 — absent key, not null literal), variable-length arrays, and
    * doubles that print exactly (multiples of 0.25). Identical on every
    * run, so ingestion is oracle-checkable without shipping test data. */
  private[graft] def writeJsonlFixture(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    val lines = (0 until 24).map { i =>
      val tags = (0 to i % 3).map(j => s""""t$j"""").mkString(",")
      val title = if (i % 7 == 3) "null" else s""""doc $i""""
      val meta =
        if (i % 11 == 5) ""
        else s""","meta":{"lang":"${if (i % 2 == 0) "en" else "de"}","tokens":${i * 3}}"""
      s"""{"id":$i,"title":$title,"score":${i * 0.25},"tags":[$tags]$meta}"""
    }
    java.nio.file.Files.write(p.resolve("docs.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  private[graft] def ensureJsonlFixture(): Unit = writeJsonlFixture(jsonlFixtureDir)

  /** Fixture dir for the WARC/WET ingestion check (query and oracle both
    * read the values derived from one record list, so they cannot drift). */
  private[graft] val warcFixtureDir: String =
    sys.env.getOrElse("GRAFT_WARC_FIXTURE_DIR", "/tmp/graft_warc_fixture")

  /** The GOOD records of the WARC fixture — (file, rec_idx, warc_type,
    * url, ts, mime, body) — the single source for BOTH the on-disk fixture
    * bytes ([[writeWarcFixture]]) and the oracle VALUES literal
    * ([[warcValuesSql]]). `rec_idx` is each record's 0-based position in
    * its file COUNTING the malformed records interleaved by the writer
    * (b.warc's quarantine slots are 0, 2, 4, 6), exactly the address
    * [[graft.sources.Warc.readWarc]] assigns. `a.warc.gz` is written one
    * gzip member per record (the Common Crawl layout); `b.warc` is plain
    * bytes with the malformed records in between. No single quotes in any
    * value (embedded in SQL). */
  private[graft] val warcGoodRecords
      : Seq[(String, Long, Option[String], Option[String], Option[String], Option[String], String)] = {
    def conv(f: String, i: Long, host: String, day: Int, body: String) =
      (f, i, Some("conversion"), Some(s"https://$host/p$i"),
        Some(f"2024-05-$day%02dT10:0$i%01d:00Z"), Some("text/plain"), body)
    Seq(
      // single-line body: these values embed in standard (non-escaped)
      // SQL string literals, so no \r\n may appear inside a payload
      ("a.warc.gz", 0L, Some("warcinfo"), None,
        Some("2024-05-01T10:00:00Z"), Some("application/warc-fields"),
        "software: graft-fixture 1.0"),
      conv("a.warc.gz", 1L, "w1.example.com", 1, "alpha beta gamma delta"),
      conv("a.warc.gz", 2L, "w2.example.com", 1, "the quick brown fox jumps over the dog"),
      conv("a.warc.gz", 3L, "w3.example.com", 2, "duplicate body shared across files"),
      conv("a.warc.gz", 4L, "w4.example.com", 2, ""),
      conv("a.warc.gz", 5L, "w5.example.com", 3,
        "unicode payload: uüber straße 中文"),
      ("a.warc.gz", 6L, Some("response"), Some("https://w6.example.com/raw"),
        Some("2024-05-03T11:00:00Z"), Some("text/html"),
        "<html><body>hello</body></html>"),
      conv("a.warc.gz", 7L, "w7.example.com", 4, "tail record of the gz stream"),
      conv("b.warc", 1L, "b1.example.com", 5, "first good record after leading garbage"),
      conv("b.warc", 3L, "b3.example.com", 5, "survives the bad content-length neighbor"),
      ("b.warc", 5L, Some("response"), Some("https://b5.example.com/page"),
        Some("2024-05-06T09:00:00Z"), Some("text/html; charset=UTF-8"),
        "<p>response capture</p>"))
  }

  /** (Re)write the two-file WARC fixture: every good record above plus
    * four malformed records in `b.warc` (leading garbage bytes, a
    * non-numeric Content-Length, a colon-less header line, a truncated
    * final payload) — each must quarantine as ONE `parse_error` row at
    * the rec_idx the good list skips, never break its neighbors. */
  private[graft] def writeWarcFixture(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    def recBytes(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
      val h = headers.map { case (k, v) => s"$k: $v\r\n" }.mkString
      (s"WARC/1.0\r\n$h" + s"Content-Length: ${body.length}\r\n\r\n")
        .getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8")
    }
    def headersOf(r: (String, Long, Option[String], Option[String], Option[String], Option[String], String)) =
      Seq("WARC-Type" -> r._3, "WARC-Target-URI" -> r._4,
        "WARC-Date" -> r._5, "Content-Type" -> r._6)
        .collect { case (k, Some(v)) => k -> v }
    def gzMember(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b); gz.close()
      bos.toByteArray
    }
    val aRecs = warcGoodRecords.filter(_._1 == "a.warc.gz")
    java.nio.file.Files.write(p.resolve("a.warc.gz"),
      aRecs.map(r => gzMember(recBytes(headersOf(r), r._7.getBytes("UTF-8"))))
        .reduce(_ ++ _))
    val bGood = warcGoodRecords.filter(_._1 == "b.warc")
      .map(r => recBytes(headersOf(r), r._7.getBytes("UTF-8")))
    val badClen = ("WARC/1.0\r\nWARC-Type: conversion\r\n"
      + "WARC-Target-URI: https://bad.example.com/clen\r\n"
      + "Content-Length: abc\r\n\r\nskipped body line\r\n\r\n").getBytes("UTF-8")
    val badHeader = ("WARC/1.0\r\nWARC-Type: conversion\r\n"
      + "NoColonHeaderLine\r\nContent-Length: 4\r\n\r\nbody\r\n\r\n").getBytes("UTF-8")
    val truncated = ("WARC/1.0\r\nWARC-Type: conversion\r\n"
      + "WARC-Target-URI: https://trunc.example.com/t\r\n"
      + "Content-Length: 100\r\n\r\nonly twenty bytes her").getBytes("UTF-8")
    java.nio.file.Files.write(p.resolve("b.warc"),
      "leading garbage that is not a warc record\r\n".getBytes("UTF-8")
        ++ bGood(0) ++ badClen ++ bGood(1) ++ badHeader ++ bGood(2) ++ truncated)
    ()
  }

  /** SQL VALUES literal of [[warcGoodRecords]] with each record's payload
    * byte length — the oracle twin of the good-record scan. */
  private[graft] val warcValuesSql: String = {
    def q(o: Option[String]) =
      o.map(s => s"'$s'").getOrElse("CAST(NULL AS VARCHAR)")
    require(warcGoodRecords.forall { r =>
      !r._7.contains("'") && !r._7.contains("\r") && !r._7.contains("\n") &&
        Seq(r._3, r._4, r._5, r._6).flatten.forall(!_.contains("'")) },
      "warc fixture values must be single-line and quote-free (embedded in SQL)")
    warcGoodRecords.map { r =>
      val nBytes = r._7.getBytes("UTF-8").length
      s"('${r._1}', ${r._2}, ${q(r._3)}, ${q(r._4)}, ${q(r._5)}, ${q(r._6)}, " +
        s"$nBytes, '${r._7}')"
    }.mkString(", ")
  }

  /** Fixture dir for the WARC `response` HTML-extraction check. */
  private[graft] val warcHtmlFixtureDir: String =
    sys.env.getOrElse("GRAFT_WARC_HTML_FIXTURE_DIR", "/tmp/graft_warc_html_fixture")

  /** One WARC `response` extraction vector: the record the fixture writer
    * serializes AND the hand-stated expectation the oracle holds as a
    * VALUES literal — one list, so bytes and expectation cannot drift.
    * `expTextNl` carries line breaks as the literal marker `<NL>` (the
    * query projects `regexp_replace(text, chr(10), ...)` to match — SQL
    * VALUES rows stay single-line). Expectations are STATED, not derived:
    * they encode what the HTTP split / charset resolution / HTML
    * extraction must produce, per [[graft.functions.WebKernels]]' spec. */
  private[graft] final case class WarcHtmlVector(
      url: String,
      httpHeaders: Seq[String], // full header lines incl. the status line
      body: Array[Byte],
      expStatus: Option[Int],
      expCt: Option[String],
      expCharset: Option[String],
      expTextNl: Option[String],
      expErr: Option[String])

  private[graft] def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** RFC 9112 chunked framing of a body, split at `at` (two chunks). */
  private def chunked(b: Array[Byte], at: Int): Array[Byte] = {
    def chunk(part: Array[Byte]): Array[Byte] =
      (part.length.toHexString + "\r\n").getBytes("ISO-8859-1") ++ part ++
        "\r\n".getBytes("ISO-8859-1")
    chunk(b.take(at)) ++ chunk(b.drop(at)) ++ "0\r\n\r\n".getBytes("ISO-8859-1")
  }

  /** The `response`-record extraction vectors, rec_idx = list position.
    * Bodies cover: charset from header / meta / http-equiv / fallback,
    * gzip + chunked + combined codings, script/style/comment/entity/
    * literal-angle HTML shapes, text/plain passthrough, BOM strip, bare
    * (envelope-less) captures, 404 bodies, and the deterministic error
    * classes (non-text body, unsupported coding, malformed chunking).
    * Non-deterministic error text (JDK exception messages for corrupt
    * gzip) is spec territory, not oracle territory. */
  private[graft] val warcHtmlVectors: Seq[WarcHtmlVector] = {
    def ok(ct: String, extra: String*): Seq[String] =
      Seq("HTTP/1.1 200 OK", s"Content-Type: $ct") ++ extra
    Seq(
      WarcHtmlVector("https://h0.example/full",
        ok("text/html; charset=utf-8"),
        ("<html><head><title>T1</title><script>var x = \"<p>not text</p>\";" +
          "</script><style>p{color:red}</style></head><body><h1>Head &amp; " +
          "Tail</h1><p>first para</p><p>3 &lt; 5 &#233;l&egrave;ve " +
          "😀 &foobar;</p><!-- gone --><div>a <b>bold</b> word" +
          "</div></body></html>").getBytes("UTF-8"),
        Some(200), Some("text/html; charset=utf-8"), Some("utf-8"),
        Some("T1<NL>Head & Tail<NL>first para<NL>3 < 5 élève " +
          "😀 &foobar;<NL>a bold word"), None),
      WarcHtmlVector("https://h1.example/latin",
        ok("text/html; charset=ISO-8859-1"),
        "<html><body><p>straße für alle</p></body></html>"
          .getBytes("ISO-8859-1"),
        Some(200), Some("text/html; charset=ISO-8859-1"), Some("iso-8859-1"),
        Some("straße für alle"), None),
      WarcHtmlVector("https://h2.example/meta1252",
        ok("text/html"),
        ("<html><head><meta charset=\"windows-1252\"></head><body><p>caf" +
          "é €50 — dash</p></body></html>").getBytes("windows-1252"),
        Some(200), Some("text/html"), Some("windows-1252"),
        Some("café €50 — dash"), None),
      WarcHtmlVector("https://h3.example/httpequiv",
        ok("text/html"),
        ("<html><head><meta http-equiv=\"Content-Type\" content=\"text/html; " +
          "charset=iso-8859-15\"></head><body><p>price €99</p></body></html>")
          .getBytes("ISO-8859-15"),
        Some(200), Some("text/html"), Some("iso-8859-15"),
        Some("price €99"), None),
      WarcHtmlVector("https://h4.example/gzip",
        ok("text/html; charset=utf-8", "Content-Encoding: gzip"),
        gzipBytes("<p>gzip body works</p>".getBytes("UTF-8")),
        Some(200), Some("text/html; charset=utf-8"), Some("utf-8"),
        Some("gzip body works"), None),
      WarcHtmlVector("https://h5.example/chunked",
        ok("text/html", "Transfer-Encoding: chunked"),
        chunked("<p>chunked body</p>".getBytes("UTF-8"), 7),
        Some(200), Some("text/html"), Some("utf-8"),
        Some("chunked body"), None),
      WarcHtmlVector("https://h6.example/both",
        ok("text/html", "Content-Encoding: gzip", "Transfer-Encoding: chunked"),
        chunked(gzipBytes("<p>both codings</p>".getBytes("UTF-8")), 11),
        Some(200), Some("text/html"), Some("utf-8"),
        Some("both codings"), None),
      WarcHtmlVector("https://h7.example/plain",
        ok("text/plain; charset=utf-8"),
        "plain text line one\ntags <kept> literal & raw line two"
          .getBytes("UTF-8"),
        Some(200), Some("text/plain; charset=utf-8"), Some("utf-8"),
        Some("plain text line one<NL>tags <kept> literal & raw line two"), None),
      WarcHtmlVector("https://h8.example/png",
        ok("image/png"),
        Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47),
        Some(200), Some("image/png"), None, None,
        Some("non-text body: image/png")),
      WarcHtmlVector("https://h9.example/brotli",
        ok("text/html", "Content-Encoding: br"),
        Array[Byte](1, 2, 3),
        Some(200), Some("text/html"), None, None,
        Some("unsupported content-encoding: br")),
      WarcHtmlVector("https://h10.example/badchunk",
        ok("text/html", "Transfer-Encoding: chunked"),
        "zz\r\nnot a chunk\r\n0\r\n\r\n".getBytes("ISO-8859-1"),
        Some(200), Some("text/html"), None, None,
        Some("malformed chunked framing: bad size line [zz]")),
      WarcHtmlVector("https://h11.example/boguscharset",
        ok("text/html; charset=bogus-enc"),
        "<p>fallback wins</p>".getBytes("UTF-8"),
        Some(200), Some("text/html; charset=bogus-enc"), Some("utf-8"),
        Some("fallback wins"), None),
      WarcHtmlVector("https://h12.example/bare",
        Nil, // no HTTP envelope at all: the capture stored the entity only
        "<p>bare entity capture</p>".getBytes("UTF-8"),
        None, None, Some("utf-8"), Some("bare entity capture"), None),
      WarcHtmlVector("https://h13.example/bom",
        ok("text/html; charset=utf-8"),
        Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
          "<p>bom stripped</p>".getBytes("UTF-8"),
        Some(200), Some("text/html; charset=utf-8"), Some("utf-8"),
        Some("bom stripped"), None),
      WarcHtmlVector("https://h14.example/notfound",
        Seq("HTTP/1.1 404 Not Found", "Content-Type: text/html"),
        "<h1>404</h1><p>page gone</p>".getBytes("UTF-8"),
        Some(404), Some("text/html"), Some("utf-8"),
        Some("404<NL>page gone"), None),
      WarcHtmlVector("https://h15.example/nbsp",
        ok("text/html; charset=utf-8"),
        "<p>a&nbsp;b c</p>".getBytes("UTF-8"),
        Some(200), Some("text/html; charset=utf-8"), Some("utf-8"),
        Some("a b c"), None))
  }

  /** (Re)write the `response`-record fixture: one gzip member per record
    * (the Common Crawl layout), payload = HTTP envelope + body bytes. */
  private[graft] def writeWarcHtmlFixture(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    val members = warcHtmlVectors.map { v =>
      val payload =
        if (v.httpHeaders.isEmpty) v.body
        else (v.httpHeaders.mkString("", "\r\n", "\r\n\r\n")
          .getBytes("ISO-8859-1") ++ v.body)
      val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: ${v.url}\r\n" +
        s"WARC-Date: 2024-06-01T12:00:00Z\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++
        payload ++ "\r\n\r\n".getBytes("UTF-8")
      gzipBytes(rec)
    }
    java.nio.file.Files.write(p.resolve("html.warc.gz"), members.reduce(_ ++ _))
    ()
  }

  /** SQL VALUES literal of [[warcHtmlVectors]]' expectations. */
  private[graft] val warcHtmlValuesSql: String = {
    def q(o: Option[String]) =
      o.map(s => s"'$s'").getOrElse("CAST(NULL AS VARCHAR)")
    def qi(o: Option[Int]) =
      o.map(_.toString).getOrElse("CAST(NULL AS INT)")
    require(warcHtmlVectors.flatMap(v =>
      Seq(v.expCt, v.expCharset, v.expTextNl, v.expErr).flatten :+ v.url)
      .forall(s => !s.contains("'") && !s.contains("\n") && !s.contains("\r")),
      "warc html expectations must be single-line and quote-free (embedded in SQL)")
    warcHtmlVectors.zipWithIndex.map { case (v, i) =>
      s"($i, '${v.url}', ${qi(v.expStatus)}, ${q(v.expCt)}, ${q(v.expCharset)}, " +
        s"${q(v.expTextNl)}, ${q(v.expErr)})"
    }.mkString(", ")
  }

  /** Hand-authored URL canonicalization edge vectors (url_id, url) — one
    * per rule of [[graft.operators.Urls.canonicalizeUrl]]'s scaladoc list,
    * shared verbatim with the DuckDB oracle (the VALUES literal is
    * GENERATED from this val, so the two engines cannot drift). No single
    * quotes allowed: the oracle embeds these as SQL string literals. */
  private[graft] val urlEdgeVectors: Seq[(Long, String)] = Seq(
    1000001L -> "HTTP://WWW.Example.COM/Path/File",
    1000002L -> "http://example.com:80/a",
    1000003L -> "https://example.com:443/a",
    1000004L -> "https://example.com:8443/a",
    1000005L -> "http://example.com:443/a",
    1000006L -> "https://a.com/x#section-2",
    1000007L -> "https://a.com/x?k=v#frag",
    1000008L -> "https://a.com",
    1000009L -> "https://a.com?b=2&a=1",
    1000010L -> "https://a.com/x?utm_source=tw&b=2&utm_medium=s&a=1",
    1000011L -> "https://a.com/x?fbclid=XYZ&gclid=1&msclkid=2&igshid=3&mc_eid=4",
    1000012L -> "https://a.com/x?utm_source=tw",
    1000013L -> "https://a.com/x?myutm_source=keep",
    1000014L -> "https://a.com/x?utmost=keep",
    1000015L -> "https://a.com/x?fbclid&a",
    1000016L -> "https://a.com/x?a=1&&b=2&",
    1000017L -> "https://a.com/x?",
    1000018L -> "http://User:Pw@HOST.Com:80/a",
    1000019L -> "https://a.com/x?to=user@b.com",
    1000020L -> "https://a.com/CaseSensitive?Key=Val",
    1000021L -> "  https://a.com/x  ",
    1000022L -> "not a url",
    1000023L -> "mailto:x@y.com",
    1000024L -> "/relative/path?utm_source=x",
    // canonical twins of 1000006/1000021 — URL-level dedup must collapse
    1000025L -> "HTTPS://A.COM:443/x?utm_campaign=z#frag2",
    1000026L -> "https://a.com/x")

  /** Internationalized-hostname vectors — (url_id, url, expected
    * canonical, expected host). The EXPECTED side is written literally
    * from the IDNA ground truth (RFC 3492's own examples and published
    * registrations), so the oracle states what the decoder must recover
    * rather than replaying it: DuckDB holds these literals as a VALUES
    * relation while Spark derives them at runtime. Mixed spellings of one
    * hostname (ACE, Unicode, uppercase-ACE) must collapse to ONE
    * canonical class; invalid ACE labels must pass through verbatim. */
  private[graft] val idnEdgeVectors: Seq[(Long, String, String, String)] = Seq(
    (3000001L, "https://xn--mnchen-3ya.de/path",
      "https://münchen.de/path", "münchen.de"),
    (3000002L, "https://münchen.de/path",
      "https://münchen.de/path", "münchen.de"),
    (3000003L, "HTTPS://XN--MNCHEN-3YA.DE:443/path",
      "https://münchen.de/path", "münchen.de"),
    (3000004L, "https://sub.xn--bcher-kva.example/x?b=2&a=1",
      "https://sub.bücher.example/x?a=1&b=2", "sub.bücher.example"),
    (3000005L, "https://xn--fiqs8s.cn/x", "https://中国.cn/x", "中国.cn"),
    (3000006L, "https://xn--d1acufc.xn--p1ai/x",
      "https://домен.рф/x", "домен.рф"),
    // invalid ACE bodies stay verbatim: digits-only overflow, empty body
    (3000007L, "https://xn--999999999.example/x",
      "https://xn--999999999.example/x", "xn--999999999.example"),
    (3000008L, "https://xn--.example/x",
      "https://xn--.example/x", "xn--.example"),
    (3000009L, "http://user@xn--mnchen-3ya.de:80/x#frag",
      "http://user@münchen.de/x", "münchen.de"),
    (3000010L, "https://xn--mnchen-3ya.de:8443/x",
      "https://münchen.de:8443/x", "münchen.de"),
    // ACE label in FINAL position WITH a surviving port: the decoder must
    // see the host alone, or the last label arrives as "xn--p1ai:8443"
    // and stays verbatim (r18 review finding)
    (3000011L, "https://xn--d1acufc.xn--p1ai:8443/x",
      "https://домен.рф:8443/x", "домен.рф"))

  /** SQL VALUES literal of [[idnEdgeVectors]] for the oracle side. */
  private[graft] val idnEdgeValuesSql: String = {
    require(idnEdgeVectors.forall(v =>
      !v._2.contains("'") && !v._3.contains("'") && !v._4.contains("'")),
      "idn edge vectors must not contain single quotes (embedded in SQL)")
    idnEdgeVectors.map { case (i, u, c, h) => s"($i, '$u', '$c', '$h')" }
      .mkString(", ")
  }

  /** SQL VALUES literal of [[urlEdgeVectors]] for the oracle side. */
  private[graft] val urlEdgeValuesSql: String = {
    require(urlEdgeVectors.forall(!_._2.contains("'")),
      "url edge vectors must not contain single quotes (embedded in SQL)")
    urlEdgeVectors.map { case (i, u) => s"($i, '$u')" }.mkString(", ")
  }

  /** URL fixture: the edge vectors plus a messy URL derived per document —
    * scheme/host case, a default port, param order, tracking params, and a
    * fragment all vary by doc_id while the CANONICAL form depends only on
    * doc_id % 250, so every 250-congruent pair of docs collapses under
    * URL dedup. The derivation is plain column arithmetic replayed
    * verbatim by the oracle's twin expression. */
  private[graft] def urlFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edge = urlEdgeVectors.toDF("url_id", "url")
    val doc = col("doc_id")
    val k = pmod(doc, lit(250))
    val derived = Tables.documents(s, d).select(
      (doc + 2000000L).as("url_id"),
      concat(
        when(pmod(doc, lit(2)) === 0, lit("HTTPS://")).otherwise(lit("https://")),
        when(pmod(doc, lit(3)) === 0, lit("Site")).otherwise(lit("site")),
        pmod(k, lit(37)).cast("string"), lit(".Example.com"),
        when(pmod(doc, lit(4)) === 0, lit(":443")).otherwise(lit("")),
        lit("/Docs/"), k.cast("string"),
        when(pmod(doc, lit(2)) === 0,
          concat(lit("?a="), pmod(k, lit(5)).cast("string"),
            lit("&b="), pmod(k, lit(7)).cast("string")))
          .otherwise(concat(lit("?b="), pmod(k, lit(7)).cast("string"),
            lit("&a="), pmod(k, lit(5)).cast("string"))),
        when(pmod(doc, lit(3)) === 1,
          concat(lit("&utm_source=feed&fbclid="), doc.cast("string")))
          .otherwise(lit("")),
        when(pmod(doc, lit(5)) === 0, concat(lit("#sec"), doc.cast("string")))
          .otherwise(lit(""))).as("url"))
    edge.unionByName(derived)
  }

  private[graft] val ts1 = "2024-01-01 10:00:00"
  private[graft] val ts2 = "2024-02-15 10:30:00"
  private[graft] val ts3 = "2024-03-01 09:30:00"
  private[graft] val ts4 = "2024-04-01 08:00:00"
  private[graft] def cur1 = Currents(ts1)
  private[graft] def cur2 = Currents(ts2)
  private[graft] def cur3 = Currents(ts3)
  private[graft] def cur4 = Currents(ts4)
  private[graft] val keys = Seq("l_orderkey", "l_linenumber")

  /** Deterministic lineitem projection used as CDC/SCD2 snapshot base:
    * doubles pre-cast to decimal so stringified hash inputs agree across
    * engines. */
  private[graft] def liProj(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_quantity").cast("decimal(18,2)").as("quantity"),
      col("l_returnflag").as("returnflag"),
      col("l_linestatus").as("linestatus"),
      col("l_shipdate").cast("date").as("shipdate"))

  /** Snapshot A: the "current" load — everything shipped before mid-1995. */
  private[graft] def snapA(spark: SparkSession, dir: String): DataFrame =
    liProj(spark, dir).filter(col("shipdate") < lit("1995-06-01").cast("date"))

  /** Snapshot B: the full table with a deterministic mutation — quantity
    * bumped for every 97th order key. Yields inserts (new keys) and
    * updates (changed records) against snapshot A. */
  private[graft] def snapB(spark: SparkSession, dir: String): DataFrame =
    liProj(spark, dir).withColumn("quantity",
      when(pmod(col("l_orderkey"), lit(97)) === 0,
        (col("quantity") + 10).cast("decimal(18,2)")).otherwise(col("quantity")))

  private[graft] def enrichedA(spark: SparkSession, dir: String): DataFrame =
    MetaEnrichment.addMetaColumns(snapA(spark, dir), cur1, keys)
  private[graft] def enrichedB(spark: SparkSession, dir: String): DataFrame =
    MetaEnrichment.addMetaColumns(snapB(spark, dir), cur2, keys)

  /** Run-2 full snapshot with every 3rd order key vanished (the d08
    * shrink) — the soft-delete feed: keys of snapshot A absent here are
    * the ones [[graft.operators.Cdc.stampDeleted]] stamps. */
  private[graft] def shrunkB(spark: SparkSession, dir: String): DataFrame =
    snapB(spark, dir).filter(pmod(col("l_orderkey"), lit(3)) =!= 0)

  /** Content tag of a table's parquet footprint (file names, sizes,
    * mtimes): staged derived stores embed it in their path so they rebuild
    * whenever the inputs change and are reused (across queries AND across
    * processes) while the inputs stand still. */
  private[graft] def dirTag(dir: String, table: String): String = {
    val f = new java.io.File(s"$dir/$table.parquet")
    val entries =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName).map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      else Array(s"${f.getName}:${f.length}:${f.lastModified}")
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Staged SimHash near-dup pair store ([[graft.sources.Store
    * .readOrCreate]]): the CC family's six questions all start from the
    * SAME pair set, and production computes that set once per corpus
    * generation (it is exactly the `pairsPath` store
    * `clusterMaintainStream` maintains), not once per question. The first
    * query to ask builds and commits the store; every later one — in this
    * process or the next — reads parquet. Content-tagged by the documents
    * table's footprint, so a regenerated corpus rebuilds it. */
  private[graft] def stagedSimhashPairs(
      s: SparkSession, d: String, bits: Int, maxHamming: Int): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "documents")}/simhash_pairs_b${bits}_h$maxHamming")(
      Dedup.simhashNearDuplicates(Tables.documents(s, d), "doc_id", "text", bits, maxHamming))

  /** Staged phash near-dup pair store — the MEDIA twin of
    * [[stagedSimhashPairs]]: perceptual-hash Hamming pairs over the
    * corpus treated as media payloads, computed once per corpus
    * generation (pigeonhole blocking, never all-pairs) and read by every
    * media-dedup question. */
  private[graft] def stagedPhashPairs(
      s: SparkSession, d: String, bits: Int, maxHamming: Int): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "documents")}/phash_pairs_b${bits}_h$maxHamming")(
      Multimodal.phashNearDuplicates(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"), bits, maxHamming))

  /** Staged curation PREFIX ([[graft.operators.Curation.curatePrefix]]):
    * the per-document facts (keep flag, model score, language, content
    * hash, contamination flag) every curate-family question shares.
    * Production computes them once per corpus generation — six questions
    * re-tokenizing the same corpus was 12% of the bench (VERDICT r15) —
    * and each question's own gates/dedup/election run over these narrow
    * columns in [[graft.operators.Curation.curateFromPrefix]]. The
    * x_curate row itself stays FRESH (the honest full-pipeline cost) and
    * x_stage_build_curate prices this build. */
  private[graft] def stagedCuratePrefix(s: SparkSession, d: String): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "documents")}/curate_prefix_n3") {
      val docs = Tables.documents(s, d)
      Curation.curatePrefix(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", shingleN = 3, minHits = 1L,
        qualityModel = Some((qualityWeights, qualityBias)))
    }

  /** Dirs whose documents table already passed the curateInc id-bound
    * check — the max(doc_id) probe is one eager aggregate job, and the
    * fixture builders below run inside bench-timed windows, so it must
    * run once per (immutable) sf dir, not once per call. */
  private val curateIncCheckedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The steady-state curation fixture's documents table (shared by the
    * registered rows, the staged-state builder, and the build-pricing
    * row: even non-bench docs play the ingested corpus; odd docs —
    * re-keyed +10000 per the increasing-id convention — play the new
    * batch), with its id-bound assumption enforced once per dir: the
    * re-key folds URL identity mod 10000 and the law oracles split
    * ingested/batch on `doc_id < 10000` — all silently wrong if the
    * corpus ever reaches id 10000 (every driver sf stays far below), so
    * fail loudly instead. */
  private def curateIncDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    if (!curateIncCheckedDirs.contains(d)) {
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      require(maxId < 10000L,
        s"curateInc fixture assumes doc_id < 10000, saw max id $maxId in $d")
      curateIncCheckedDirs.add(d)
      ()
    }
    docs
  }

  private[graft] def curateIncIngested(s: SparkSession, d: String): DataFrame = {
    val docs = curateIncDocs(s, d)
    docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 20 =!= 0)
  }

  private[graft] def curateIncBench(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 20 === 0)

  private[graft] def curateIncBatch(s: SparkSession, d: String): DataFrame = {
    val docs = curateIncDocs(s, d)
    val even = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("eid"), col("text").as("etext"))
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .join(even, col("doc_id") - 1 === col("eid"), "left")
      .select((col("doc_id") + 10000L).as("doc_id"),
        when(col("doc_id") % 9 === 1, concat(col("etext"), lit(" zmutivar")))
          .when(col("doc_id") % 9 === 4, col("etext"))
          .otherwise(col("text")).as("text"))
  }

  private[graft] def curateIncUrls(df: DataFrame): DataFrame = {
    val oid = pmod(col("doc_id"), lit(10000L))
    val p = when(pmod(oid, lit(5)) === 2, oid - 1).otherwise(oid)
    df.select(col("doc_id"), concat(lit("https://"),
      when(pmod(p, lit(11)) === 0, lit("ads.")).otherwise(lit("")),
      lit("site"), pmod(p, lit(37)).cast("string"),
      lit(".example.com/d/"), p.cast("string")).as("url"))
  }

  private[graft] def curateIncRules(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq("site5.example.com", "*.site7.example.com").toDF("rule")
  }

  /** The batch-0 run: the ingested corpus through [[graft.operators
    * .Curation.curateIncremental]] against EMPTY state — its novelty
    * outputs ARE the standing stores the steady-state row reads. */
  private[graft] def curateIncBatch0(s: SparkSession, d: String): Curation.CurationIncrement = {
    val ingested = curateIncIngested(s, d)
    Curation.curateIncremental(ingested, curateIncBench(s, d), "doc_id", "text",
      Curation.emptyState(s, url = true, near = true), shingleN = 3,
      urlGate = Some((curateIncUrls(ingested), "url", curateIncRules(s))),
      nearDup = Some((3, 8, 4)))
  }

  /** Staged steady-state curation stores (canonical URLs, content
    * digests, LSH band index) — production accumulates these across
    * ingestion runs; the bench row reads them so it measures the
    * STEADY-STATE batch cost, and `x_stage_build_curate_state` prices
    * the build. */
  private[graft] def stagedCurateState(s: SparkSession, d: String): Curation.CurationState = {
    val base = s"/tmp/graft_staged/${dirTag(d, "documents")}/curate_inc"
    lazy val inc0 = curateIncBatch0(s, d)
    val digests = Store.readOrCreate(s, s"$base/digests")(inc0.novelDigests)
    val canon = Store.readOrCreate(s, s"$base/canon")(inc0.novelCanonical.get)
    val bands = Store.readOrCreate(s, s"$base/bands")(inc0.novelBands.get)
    Curation.CurationState(digests, Some(canon), Some(bands))
  }

  /** The batch-0 run of the TRANSITIVE (CC) steady-state variant: the
    * ingested corpus against empty `nearCc` state — its novelty outputs
    * (digests, canonicals, blocked fingerprints, labeling) are the
    * standing stores the CC law row reads. Simhash 64-bit / Hamming ≤ 3 —
    * the corpus-scale wide geometry (16-bit over-clusters this fixture
    * into a handful of giant components), replayed by the shared wide
    * oracle CTEs. */
  private[graft] def curateIncBatch0Cc(s: SparkSession, d: String): Curation.CurationIncrement = {
    val ingested = curateIncIngested(s, d)
    Curation.curateIncremental(ingested, curateIncBench(s, d), "doc_id", "text",
      Curation.emptyState(s, url = true, nearCc = true), shingleN = 3,
      urlGate = Some((curateIncUrls(ingested), "url", curateIncRules(s))),
      nearCc = Some((64, 3)))
  }

  /** Staged steady-state CC-curation stores — the `nearCc` twin of
    * [[stagedCurateState]] (same digest/canonical stores rebuilt under
    * this variant's own root so neither fixture can poison the other,
    * plus the blocked fingerprint index and the maintained labeling). */
  private[graft] def stagedCurateCcState(s: SparkSession, d: String): Curation.CurationState = {
    val base = s"/tmp/graft_staged/${dirTag(d, "documents")}/curate_inc_cc"
    lazy val inc0 = curateIncBatch0Cc(s, d)
    val digests = Store.readOrCreate(s, s"$base/digests")(inc0.novelDigests)
    val canon = Store.readOrCreate(s, s"$base/canon")(inc0.novelCanonical.get)
    val fps = Store.readOrCreate(s, s"$base/fps")(inc0.novelFps.get)
    val labels = Store.readOrCreate(s, s"$base/labels")(inc0.ccLabels.get)
    Curation.CurationState(digests, Some(canon),
      fpIndex = Some(fps), ccLabels = Some(labels))
  }

  /** Staged standing labeling for the incremental-maintenance row: the
    * labels store as it stands BEFORE the 10%-batch arrives (pairs not
    * touching a doc_id ≡ 9 mod 10). */
  private[graft] def stagedStandingLabels(s: SparkSession, d: String): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "documents")}/simhash_standing_labels_b16_h2")(
      Dedup.duplicateClusters(
        stagedSimhashPairs(s, d, 16, 2)
          .filter(col("id_a") % 10 =!= 9 && col("id_b") % 10 =!= 9)))

  /** Staged cluster labeling over [[stagedSimhashPairs]] — the `labelsPath`
    * store of the maintenance loop: labels are computed once (then
    * maintained incrementally), and stats/canonical/election questions are
    * READS of the labeling. */
  private[graft] def stagedSimhashClusters(
      s: SparkSession, d: String, bits: Int, maxHamming: Int): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "documents")}/simhash_labels_b${bits}_h$maxHamming")(
      Dedup.duplicateClusters(stagedSimhashPairs(s, d, bits, maxHamming)))

  private[graft] def scd2v2(spark: SparkSession, dir: String): DataFrame = {
    // v1 (the bootstrap historization — a stamped scan, no join) is
    // referenced three times by the second merge, but re-deriving a
    // columnar scan + hash projection three times costs less than
    // building a cache of the full wide frame (the r19 measured pattern:
    // cache builds dominated every row that persisted a cheap subtree)
    val v1 = Scd2.historizeDataset(enrichedA(spark, dir), None, cur1, ValidFromMode.LoadDate)
    Scd2.historizeDataset(enrichedB(spark, dir), Some(v1), cur2, ValidFromMode.LoadDate)
  }

  /** Staged SCD2 two-merge store: `d06_scd2_merge` measures the merge
    * itself fresh; the split and as-of questions are READS of the standing
    * historized store in production — a time-travel query never re-runs
    * the merges that built the store it travels over. */
  private[graft] def stagedScd2v2(s: SparkSession, d: String): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "lineitem")}/scd2_v2")(scd2v2(s, d))

  /** Staged BUCKETED twin of the SCD2 store ([[graft.sources.Store
    * .writeStoreBucketed]] layout) for the point-lookup registration:
    * history point reads hit one bucket directory out of 8 with KEY_HASH
    * row groups pruned by the within-file sort. */
  private[graft] def stagedScd2v2BucketedPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_staged/${dirTag(d, "lineitem")}/scd2_v2_bucketed"
    Store.readOrCreateWith(s, path)(tmp =>
      Store.writeStoreBucketed(stagedScd2v2(s, d), tmp, buckets = 8))
    path
  }

  /** Deterministic orders projection — the SECOND historized dimension for
    * the temporal join: price pre-cast to decimal so stringified hash
    * inputs agree across engines (same discipline as [[liProj]]). */
  private[graft] def ordProj(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_orderstatus").as("orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").as("totalprice"),
      col("o_orderdate").cast("date").as("orderdate"))

  /** Orders run-2 snapshot: totalprice bumped for every 53rd order key — a
    * modulus DISJOINT from lineitem's 97, so the two histories version at
    * different keys and the temporal join exercises real window splits
    * (1 lineitem version × 2 order versions and vice versa), plus the
    * cross-epoch rejection on keys divisible by both. */
  private[graft] def ordSnapB(spark: SparkSession, dir: String): DataFrame =
    ordProj(spark, dir).withColumn("totalprice",
      when(pmod(col("o_orderkey"), lit(53)) === 0,
        (col("totalprice") + 100).cast("decimal(18,2)")).otherwise(col("totalprice")))

  /** Staged two-merge SCD2 store over ORDERS (key = o_orderkey), the right
    * side of `x_store_temporal_join`: same two-run scheme as the lineitem
    * store, mutation modulus 53. */
  private[graft] def stagedOrdersScd2(s: SparkSession, d: String): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "orders")}/scd2_orders") {
      val keysO = Seq("o_orderkey")
      val v1 = Scd2.historizeDataset(
        MetaEnrichment.addMetaColumns(ordProj(s, d), cur1, keysO),
        None, cur1, ValidFromMode.LoadDate).persist()
      Scd2.historizeDataset(
        MetaEnrichment.addMetaColumns(ordSnapB(s, d), cur2, keysO),
        Some(v1), cur2, ValidFromMode.LoadDate)
    }

  /** Orders run-4 snapshot for the compaction fixture: snapshot B with
    * every 31st key's totalprice bumped AGAIN (+50) — a third disjoint
    * modulus, so a 4-run tiered lifecycle closes rows in THREE distinct
    * runs (run 2: pre-change 53-versions; run 3: vanished 7-keys; run 4:
    * pre-change 31-versions) and the archive accrues three `run=`
    * partitions — the minimum on which [[graft.operators.Scd2Tier
    * .compactHistory]]'s keepRuns=2 fold does real work. */
  private[graft] def ordSnapC(spark: SparkSession, dir: String): DataFrame =
    ordSnapB(spark, dir).withColumn("totalprice",
      when(pmod(col("o_orderkey"), lit(31)) === 0,
        (col("totalprice") + 50).cast("decimal(18,2)")).otherwise(col("totalprice")))

  /** Staged tiered SCD2 store (orders) after runs 1–3 of the delete
    * lifecycle — the standing state the steady-state row
    * `x_scd2_tiered_run` applies run 4 to. Returns (activePath,
    * historyPath). Deliberately MUTABLE staging: the run-4 application
    * converges (crash contract: a replay against the advanced store
    * recomputes the identical active tier and an empty closed set), so
    * every call after the first measures the same per-run merge work and
    * reads the same store content. */
  private[graft] def stagedTierRuns13(s: SparkSession, d: String): (String, String) = {
    val root = Store.ensureStagedDir(s,
      s"/tmp/graft_staged/${dirTag(d, "orders")}/scd2_tier_r13") { tmp =>
      val keysO = Seq("o_orderkey")
      val m = ValidFromMode.LoadDate
      val (ap, hp) = (s"$tmp/active", s"$tmp/history")
      val b = MetaEnrichment.addMetaColumns(ordSnapB(s, d), cur2, keysO)
      Scd2Tier.historizeTiered(s,
        MetaEnrichment.addMetaColumns(ordProj(s, d), cur1, keysO), ap, hp, cur1, m)
      Scd2Tier.historizeTiered(s, b, ap, hp, cur2, m)
      Scd2Tier.historizeTiered(s,
        b.filter(pmod(col("o_orderkey"), lit(7)) =!= 0), ap, hp, cur3, m)
    }
    (s"$root/active", s"$root/history")
  }

  /** Staged tiered SCD2 store (orders) after the FULL 4-run compaction
    * fixture (bootstrap, 53-bump, 7-vanish, full re-delivery with
    * 31-bump): three closed-row `run=` partitions in the archive.
    * `x_scd2_tiered_compact` folds them and proves the fold is
    * reader-invisible. Immutable apart from [[graft.operators.Scd2Tier
    * .compactHistory]], which is content-preserving and idempotent. */
  private[graft] def stagedTier4Runs(s: SparkSession, d: String): (String, String) = {
    val root = Store.ensureStagedDir(s,
      s"/tmp/graft_staged/${dirTag(d, "orders")}/scd2_tier_4run") { tmp =>
      val keysO = Seq("o_orderkey")
      val m = ValidFromMode.LoadDate
      val (ap, hp) = (s"$tmp/active", s"$tmp/history")
      val b = MetaEnrichment.addMetaColumns(ordSnapB(s, d), cur2, keysO)
      Scd2Tier.historizeTiered(s,
        MetaEnrichment.addMetaColumns(ordProj(s, d), cur1, keysO), ap, hp, cur1, m)
      Scd2Tier.historizeTiered(s, b, ap, hp, cur2, m)
      Scd2Tier.historizeTiered(s,
        b.filter(pmod(col("o_orderkey"), lit(7)) =!= 0), ap, hp, cur3, m)
      Scd2Tier.historizeTiered(s,
        MetaEnrichment.addMetaColumns(ordSnapC(s, d), cur4, keysO), ap, hp, cur4, m)
    }
    (s"$root/active", s"$root/history")
  }

  /** The tiered read projection shared by the three x_scd2_tiered* rows. */
  private[graft] def tieredReadProjection(s: SparkSession, ap: String, hp: String): DataFrame =
    Scd2Tier.readTiered(s, ap, hp).get
      .select("o_orderkey", "totalprice", M.RecordHash, M.InsertTs,
        M.InsertRunId, M.UpdateTs, M.UpdateRunId, M.ValidFrom, M.ValidTo,
        M.Deleted)
      .withColumn("totalprice", col("totalprice").cast("double"))

  /** Driver-side KEY_HASH literal of `base`'s minimum (orderkey,
    * linenumber) key — the bounded two-scalar collect behind the bucketed
    * point reads, deriving exactly the md5 the meta enrichment defines. */
  private[graft] def minKeyHash(base: DataFrame): String = {
    val k = base.orderBy("l_orderkey", "l_linenumber")
      .select("l_orderkey", "l_linenumber").limit(1).collect()(0)
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${k.get(0)}#?${k.get(1)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Staged soft-delete-stamped two-run hash store: `x_store_deleted_stamp`
    * measures the stamping pass fresh; deletion-aware run travel reads the
    * standing stamped store. */
  private[graft] def stagedStamped2Run(s: SparkSession, d: String): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "lineitem")}/stamped_2run") {
      val r1 = Historization.historizeFrames(
        enrichedA(s, d).limit(0), snapA(s, d), cur1, keys)
      val shrunk = shrunkB(s, d)
      val r2 = Historization.historizeFrames(r1, shrunk, cur2, keys)
      Cdc.stampDeleted(
        r2, MetaEnrichment.addMetaColumns(shrunk, cur2, keys), cur2)
    }

  /** Staged GENERATION-committed hash store ([[graft.sources.Store
    * .writeStoreGeneration]]): maintenance pass 1 commits the run-1
    * historization as generation 1, pass 2 reads pass 1's pinned
    * generation and commits the two-run chain as generation 2 (keep=2 —
    * both passes stand). This is the concurrent-reader-safe commit shape:
    * a commit only ever creates a NEW directory, so a reader mid-scan of
    * pass 1 is untouched by pass 2's commit, and the pass-1 store remains
    * addressable afterwards — which is exactly what the travel query
    * reads. */
  private[graft] def stagedGenerationStore(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_staged/${dirTag(d, "lineitem")}/hash_store_gens"
    if (Store.listGenerations(s, path).size < 2) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val r1 = Historization.historizeFrames(
        enrichedA(s, d).limit(0), snapA(s, d), cur1, keys)
      val g1 = Store.writeStoreGeneration(r1, path, keep = 2)
      val r2 = Historization.historizeFrames(
        Store.readStoreGeneration(s, path, g1), snapB(s, d), cur2, keys)
      Store.writeStoreGeneration(r2, path, keep = 2)
    }
    path
  }

  /** The incremental-feed batch: every 100th order key's rows of run 2's
    * snapshot — ~1% of keys, a mix of rows new to the store (post-cutoff
    * shipdates), unchanged re-deliveries, and changed records (keys
    * divisible by 9700). The small-batch-vs-standing-store regime the
    * Bloom route exists for. */
  private[graft] def batchB(s: SparkSession, d: String): DataFrame =
    enrichedB(s, d).filter(pmod(col("l_orderkey"), lit(100)) === 0)

  /** Bloom sizing for the staged store synopsis: 2^22 bits over the
    * sf0.1 store's ~300k pairs ≈ 13 bits/pair → <1% false positives with
    * 4 hashes; the dense words are 512 KiB — bounded, store-size-free. */
  private[graft] val BloomBits = 1 << 22

  /** Staged ENRICHED hash store (run-1 content): the standing-store side
    * of the incremental-feed regime, read the way production reads it —
    * a committed parquet store with precomputed digests — instead of
    * re-deriving the md5 enrichment from the raw snapshot per question. */
  private[graft] def stagedHashStoreA(s: SparkSession, d: String): DataFrame =
    Store.readOrCreate(s,
      s"/tmp/graft_staged/${dirTag(d, "lineitem")}/hash_store_a")(enrichedA(s, d))

  /** Staged Bloom synopsis of the standing store's digest pairs
    * ([[graft.operators.Cdc.bloomSynopsis]]): built once per store
    * generation — the artifact a production store maintains on append
    * (word-wise bit_or merge) — so the per-batch delta pays only the
    * probe. One file: the synopsis is a bounded sliver (≤ 64k word rows
    * here), and a collect from 32 micro-files costs more open/footer
    * overhead than the data. */
  private[graft] def stagedBloomSynopsis(s: SparkSession, d: String): DataFrame =
    Store.readOrCreate(s,
      // path suffix `s1`: the synopsis now carries its bits sentinel row —
      // a stale committed pre-sentinel store must not be reused
      s"/tmp/graft_staged/${dirTag(d, "lineitem")}/bloom_synopsis_b22s1")(
      Cdc.bloomSynopsis(stagedHashStoreA(s, d), bits = BloomBits).coalesce(1))

  /** Staged two-pass CROSS-STORE snapshot ([[graft.sources.Store
    * .commitSnapshot]]): each maintenance pass commits the hash store
    * AND a stats store, then one manifest pinning both generations —
    * pass 1 holds the run-1 historization, pass 2 the two-run chain. */
  private[graft] def stagedManifestSnapshot(s: SparkSession, d: String): String = {
    val root = s"/tmp/graft_staged/${dirTag(d, "lineitem")}/manifest_pair"
    if (Store.listGenerations(s, s"$root/manifest").size < 2) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      def stats(df: DataFrame) = df.groupBy().agg(count(lit(1)).as("n_rows"))
      val r1 = Historization.historizeFrames(
        enrichedA(s, d).limit(0), snapA(s, d), cur1, keys)
      Store.commitSnapshot(s, s"$root/manifest", Seq(
        ("hash", s"$root/hash", r1), ("stats", s"$root/stats", stats(r1))), keep = 2)
      val r2 = Historization.historizeFrames(
        Store.readStoreLatest(s, s"$root/hash").get._2, snapB(s, d), cur2, keys)
      Store.commitSnapshot(s, s"$root/manifest", Seq(
        ("hash", s"$root/hash", r2), ("stats", s"$root/stats", stats(r2))), keep = 2)
      ()
    }
    root
  }

  /** Build the three spans-family stores (grams / ids / spans, each
    * partitioned by ingest_batch) by the driver-side twin of
    * [[graft.streaming.StreamingHistorization.spansStream]]'s batch body:
    * three batches split by `doc_id % 3`, each probing the standing gram
    * partitions of the earlier batches — the standing state
    * [[graft.operators.Dedup.purgeSpanStores]] repairs. */
  private[graft] def buildSpanStores(s: SparkSession, d: String, root: String): Unit = {
    val docs = Tables.documents(s, d).select(col("doc_id").as("id"), col("text").as("t"))
    // three concurrent WAVES instead of nine sequential actions (guide
    // §2.6): each batch's grams depend only on its own documents, so all
    // gram partitions write concurrently; each batch's spans then probe
    // the standing prefix (`ingest_batch < b`) from the completed gram
    // directory — the identical standing set the sequential loop read —
    // and the ids wave runs last, mirroring the streaming loop's
    // spans-then-maintenance order per batch
    graft.CacheScope.withScope { scope =>
      val batches = (0 to 2).map { b =>
        b -> scope.persist(docs.filter(pmod(col("id"), lit(3)) === b))
      }.toMap
      Dedup.runConcurrently((0 to 2).map(b => () =>
        Dedup.spanGramsOf(batches(b), "id", "t", k = 30, stride = 1, scope = scope)
          .write.mode("overwrite").parquet(s"$root/grams/ingest_batch=$b")))
      Dedup.stampGramKeyFormat(s, s"$root/grams")
      Dedup.runConcurrently((0 to 2).map(b => () =>
        Dedup.incrementalDuplicatedSpans(batches(b), "id", "t",
            if (b == 0) s.range(0).select(col("id").as("gh"))
            else s.read.parquet(s"$root/grams").filter(col("ingest_batch") < b).select("gh"),
            k = 30, stride = 1, scope = scope)
          .write.mode("overwrite").parquet(s"$root/spans/ingest_batch=$b")))
      Dedup.runConcurrently((0 to 2).map(b => () =>
        batches(b).select("id").write.mode("overwrite")
          .parquet(s"$root/ids/ingest_batch=$b")))
    }
  }

  /** Staged spans-family stores (build-once): the standing state the
    * purge row repairs a fresh copy of. */
  private[graft] def stagedSpanStores(s: SparkSession, d: String): String = {
    // path suffix `h64`: the gram stores persist spanGrams' hash keys,
    // which moved from md5-prefix to xxhash64 in r19 — a stale committed
    // md5-keyed store must not be probed by xxhash64 batch grams. A store
    // whose gram key-format marker is missing or stale (built before
    // writers stamped it) rebuilds too
    val root = s"/tmp/graft_staged/${dirTag(d, "documents")}/span_stores_h64"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), s.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$root/ids/ingest_batch=2/_SUCCESS")
    if (!fs.exists(done) ||
        !Dedup.gramKeyFormatOf(s, s"$root/grams").contains(Dedup.GramKeyFormat)) {
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      buildSpanStores(s, d, root)
    }
    root
  }

  /** Staged range-sorted lineitem store with its file-stats manifest
    * ([[graft.sources.StoreIndex.writeStoreSorted]]): the data-layout
    * artifact a production store maintains at write/compaction time so
    * selective reads touch only the files that can hold the answer.
    * Built once per corpus generation through the CAS commit (the
    * manifest records basenames, so it survives the commit rename). */
  private[graft] def stagedSortedLineitemPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_staged/${dirTag(d, "lineitem")}/lineitem_sorted_f16"
    Store.readOrCreateWith(s, path)(dir =>
      StoreIndex.writeStoreSorted(
        Tables.lineitem(s, d), dir, Seq("l_orderkey"), numFiles = 16))
    path
  }

  /** Staged ROLLUP-projection store: (l_orderkey, quantity as decimal),
    * key-sorted, manifest recording min/max/nulls/SUM for both columns —
    * the layout [[graft.sources.StoreIndex.aggRange]] answers range
    * rollups from. The decimal cast is the dump-layer convention applied
    * at the STORE layer: per-file partial sums re-associate addition, so
    * the measure must be exact-typed for the metadata path to reproduce
    * the oracle's global sum bit-for-bit (doubles would differ in the
    * last ulps by association order). */
  private[graft] def stagedRollupLineitemPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_staged/${dirTag(d, "lineitem")}/lineitem_rollup_f16"
    Store.readOrCreateWith(s, path)(dir =>
      StoreIndex.writeStoreSorted(
        Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_quantity").cast("decimal(18,2)").as("quantity_dec")),
        dir, Seq("l_orderkey"), numFiles = 16,
        statsCols = Seq("l_orderkey", "quantity_dec")))
    path
  }

  /** Staged TIME-sorted lineitem store (sorted + manifested on
    * `l_shipdate`): the time-slice layout — a fact store laid out by
    * event time is the single most common 100 TB read pattern ("last
    * week's data"), and the manifest prunes it exactly like a key range
    * (native TIMESTAMP min/max comparisons). */
  private[graft] def stagedTimeSortedLineitemPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_staged/${dirTag(d, "lineitem")}/lineitem_tsorted_f16"
    Store.readOrCreateWith(s, path)(dir =>
      StoreIndex.writeStoreSorted(
        Tables.lineitem(s, d), dir, Seq("l_shipdate"), numFiles = 16))
    path
  }

  /** Staged Z-ordered lineitem store on (l_partkey, l_suppkey): the
    * two-dimensional layout twin — per-file ranges tight on BOTH columns,
    * so [[graft.sources.StoreIndex.readStoreBox]] prunes either axis. */
  private[graft] def stagedZOrderLineitemPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_staged/${dirTag(d, "lineitem")}/lineitem_zorder_f16"
    Store.readOrCreateWith(s, path)(dir =>
      StoreIndex.writeStoreZOrdered(
        Tables.lineitem(s, d), dir, "l_partkey", "l_suppkey", numFiles = 16))
    path
  }

  /** Scratch store write for the `x_stage_build_*` accounting rows: these
    * rows measure BUILD cost (compute + persist) honestly on every run,
    * so they write to a throwaway path instead of the shared staging root
    * (which, once committed, is immutable) and return the written store's
    * content for the oracle compare. */
  private[graft] def buildScratch(s: SparkSession, name: String)(df: DataFrame): DataFrame = {
    val path = s"/tmp/graft_scratch/$name"
    Store.writeStoreSwap(df, path, Nil)
    s.read.parquet(path)
  }

  /** Build every staged derived store for `d` so a bench run measures
    * steady-state reads in every pass: called by [[graft.Bench]] OUTSIDE
    * the timed window (the one-time build cost otherwise lands on
    * whichever registered query touches a store first and distorts that
    * row — BENCH_r10's x_curate_neardup charged 38 s of pairs-store build
    * to a read query). Build cost stays visible in its own rows
    * (`x_stage_build_*`) and in the fresh-computation rows
    * (x_dedup_clusters, d06_scd2_merge, x_store_deleted_stamp). */
  def prebuildStaged(s: SparkSession, d: String): Unit = {
    stagedSimhashPairs(s, d, 16, 2).count()
    stagedSimhashPairs(s, d, 64, 3).count()
    stagedSimhashClusters(s, d, 16, 2).count()
    stagedSimhashClusters(s, d, 64, 3).count()
    stagedStandingLabels(s, d).count()
    stagedScd2v2(s, d).count()
    stagedScd2v2BucketedPath(s, d)
    stagedOrdersScd2(s, d).count()
    stagedStamped2Run(s, d).count()
    stagedGenerationStore(s, d)
    stagedHashStoreA(s, d).count()
    stagedBloomSynopsis(s, d).count()
    stagedPhashPairs(s, d, 16, 2).count()
    stagedCuratePrefix(s, d).count()
    stagedCurateState(s, d).knownDigests.count()
    stagedCurateCcState(s, d).knownDigests.count()
    stagedSpanStores(s, d)
    stagedManifestSnapshot(s, d)
    stagedTierRuns13(s, d)
    stagedTier4Runs(s, d)
    stagedSortedLineitemPath(s, d)
    stagedRollupLineitemPath(s, d)
    stagedZOrderLineitemPath(s, d)
    stagedTimeSortedLineitemPath(s, d)
    ()
  }

  /** Fixed public-shape quality-model weights shared by the standalone
    * score row, the curation composition row, and their oracles — one
    * val so the literal doubles (and so the IEEE dot product) cannot
    * drift between the engines. Signs follow the obvious priors: longer
    * mean tokens and alphabetic text up, repetition down. */
  private[graft] val qualityWeights: Seq[(String, Double)] = Seq(
    "mean_token_len" -> 0.4,
    "alpha_ratio" -> 2.5,
    "top_bigram_ratio" -> -3.0,
    "top_trigram_ratio" -> -2.0)
  private[graft] val qualityBias: Double = -2.0
  private[graft] val qualityMinScore: Double = 0.5

  /** Mixture-sampling setting shared by the x_sample_mixture query and
    * its oracle: 4 weighted sources splitting a 10k-char budget 4:3:2:1.
    * One val so the weight list (and so the normalized IEEE targets from
    * [[graft.operators.Sampling.budgetTargets]]) cannot drift between
    * the two engines. */
  private[graft] val mixtureWeights: Seq[(String, Double)] =
    Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)

  private[graft] def qtyAsDouble(df: DataFrame): DataFrame =
    df.withColumn("quantity", col("quantity").cast("double"))
}
