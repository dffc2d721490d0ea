package graft

import org.apache.spark.sql.functions._
import graft.operators.Urls

class UrlsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(url: String): String =
    Seq(url).toDF("u").select(Urls.canonicalizeUrl(col("u"))).collect()(0).getString(0)

  private def host(url: String): String =
    Seq(url).toDF("u").select(Urls.urlHost(col("u"))).collect()(0).getString(0)

  test("canonicalization rule list, one vector per rule") {
    val vectors = Seq(
      // case-fold scheme + host only
      ("HTTP://WWW.Example.COM/Path/File", "http://www.example.com/Path/File"),
      // default ports strip, non-default ports stay
      ("http://example.com:80/a", "http://example.com/a"),
      ("https://example.com:443/a", "https://example.com/a"),
      ("https://example.com:8443/a", "https://example.com:8443/a"),
      ("http://example.com:443/a", "http://example.com:443/a"),
      // fragment strips
      ("https://a.com/x#section-2", "https://a.com/x"),
      ("https://a.com/x?k=v#frag", "https://a.com/x?k=v"),
      // empty path normalizes, also in front of a query
      ("https://a.com", "https://a.com/"),
      ("https://a.com?b=2&a=1", "https://a.com/?a=1&b=2"),
      // tracking params drop (utm_ prefix + click-id set), rest sorts
      ("https://a.com/x?utm_source=tw&b=2&utm_medium=s&a=1", "https://a.com/x?a=1&b=2"),
      ("https://a.com/x?fbclid=XYZ&gclid=1&msclkid=2&igshid=3&mc_eid=4",
        "https://a.com/x"),
      ("https://a.com/x?utm_source=tw", "https://a.com/x"),
      // a param merely CONTAINING utm_ is not a tracking param
      ("https://a.com/x?myutm_source=keep", "https://a.com/x?myutm_source=keep"),
      ("https://a.com/x?utmost=keep", "https://a.com/x?utmost=keep"),
      // bare (valueless) tracking names drop too; bare others survive
      ("https://a.com/x?fbclid&a", "https://a.com/x?a"),
      // empty params collapse; fully-empty query drops its ?
      ("https://a.com/x?a=1&&b=2&", "https://a.com/x?a=1&b=2"),
      ("https://a.com/x?", "https://a.com/x"),
      // userinfo preserved case-sensitively, host behind it still folds
      ("http://User:Pw@HOST.Com/a", "http://User:Pw@host.com/a"),
      // @ inside the QUERY must not confuse the authority split
      ("https://a.com/x?to=user@b.com", "https://a.com/x?to=user@b.com"),
      // path and query case preserved
      ("https://a.com/CaseSensitive?Key=Val", "https://a.com/CaseSensitive?Key=Val"),
      // whitespace trims
      ("  https://a.com/x  ", "https://a.com/x"),
      // non-URL strings pass through trimmed
      ("not a url", "not a url"),
      ("mailto:x@y.com", "mailto:x@y.com"),
      ("/relative/path?utm_source=x", "/relative/path?utm_source=x"))
    vectors.foreach { case (in, want) =>
      assert(canon(in) === want, s"canonicalizeUrl($in)")
    }
    // null-safe
    val n = Seq(Option.empty[String]).toDF("u")
      .select(Urls.canonicalizeUrl(col("u"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("canonicalization is idempotent on every vector") {
    val messy = Seq(
      "HTTP://WWW.Example.COM:80/Path?z=1&utm_source=x&y=2#frag",
      "https://User@B.com:443?b&a&fbclid=1",
      "not a url")
    messy.foreach { u =>
      val once = canon(u)
      assert(canon(once) === once, s"not idempotent on $u -> $once")
    }
  }

  test("urlHost: lowercased, userinfo and port stripped; empty for non-URLs") {
    assert(host("HTTPS://User@WWW.Example.COM:8443/a?x=1") === "www.example.com")
    assert(host("http://a.com") === "a.com")
    assert(host("not a url") === "")
  }

  test("duplicateUrls collapses canonical twins to the smallest id") {
    val df = Seq(
      (3L, "https://a.com/x?b=2&a=1"),
      (1L, "HTTPS://A.com:443/x?a=1&b=2&utm_source=t#f"),
      (2L, "https://a.com/y")
    ).toDF("url_id", "url")
    val got = Urls.duplicateUrls(df, "url_id", "url")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("https://a.com/x?a=1&b=2", 1L, 2L), ("https://a.com/y", 2L, 1L)))
  }

  test("hostStats counts pages and distinct canonical urls per host") {
    val df = Seq(
      (1L, "https://A.com/x"), (2L, "https://a.com:443/x#f"), (3L, "https://a.com/y"),
      (4L, "http://b.com/")
    ).toDF("url_id", "url")
    val got = Urls.hostStats(df, "url").as[(String, Long, Long)].collect().toSet
    assert(got === Set(("a.com", 3L, 2L), ("b.com", 1L, 1L)))
  }

  test("dedup plan is one hash aggregation, nothing pairwise") {
    val df = Seq((1L, "https://a.com/x")).toDF("url_id", "url")
    val p = Urls.duplicateUrls(df, "url_id", "url")
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") && !p.contains("Join"), p)
  }

  test("blocklist: exact rule matches the full host only, wildcard only proper subdomains") {
    val df = Seq(
      (1L, "https://spam.com/a"),        // exact target of neither rule form below
      (2L, "https://x.spam.com/b"),      // proper subdomain -> wildcard blocks
      (3L, "https://a.b.spam.com/c"),    // deeper subdomain -> wildcard blocks
      (4L, "https://ham.com/d"),
      (5L, "https://notspam.com/e"),     // suffix of the STRING, not of the labels
      (6L, "https://exact.org/f"),       // exact rule blocks
      (7L, "https://sub.exact.org/g"),   // exact rule does NOT block subdomains
      (8L, "not a url")                  // no host -> never blocked
    ).toDF("id", "url")
    val rules = Seq("*.spam.com", "exact.org", "", "  EXACT.org  ").toDF("rule")
    val blocked = Urls.blockedHostIds(df, "id", "url", rules)
      .as[Long].collect().sorted.toSeq
    assert(blocked === Seq(2L, 3L, 6L),
      s"wildcard = proper subdomains, exact = full host, labels not substrings: $blocked")
    val kept = Urls.filterBlockedHosts(df, "id", "url", rules)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 4L, 5L, 7L, 8L))
    // both forms listed block the domain and its subdomains together
    val both = Seq("spam.com", "*.spam.com").toDF("rule")
    assert(Urls.blockedHostIds(df, "id", "url", both)
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("blocklist plan: broadcast suffix equi-join, no rule-driven regex over the corpus") {
    val df = Seq((1L, "https://x.spam.com/b")).toDF("id", "url")
    val rules = Seq("*.spam.com").toDF("rule")
    val plan = Urls.filterBlockedHosts(df, "id", "url", rules)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the only RLike in the plan is canonicalization's CONSTANT tracking-
    // param pattern; no expression derives a regex from the rule table —
    // pinned by the join being a plain equi hash join above
  }

  test("incrementalDuplicateUrls: standing canonicals absorb; second run ingests nothing") {
    val batch = Seq(
      (10L, "HTTPS://A.com:443/x?b=2&a=1#f"),
      (11L, "https://a.com/x?a=1&b=2"),
      (12L, "https://b.com/y")
    ).toDF("url_id", "url")
    val empty = Seq.empty[String].toDF("canonical_url")
    val novel1 = Urls.incrementalDuplicateUrls(batch, "url_id", "url", empty)
    assert(novel1.as[(String, Long)].collect().toSet ===
      Set(("https://a.com/x?a=1&b=2", 10L), ("https://b.com/y", 12L)),
      "canonical twins collapse keep-min within the batch")
    // the returned canonicals ARE the store append: a second identical
    // run against the grown store ingests nothing
    val novel2 = Urls.incrementalDuplicateUrls(
      batch, "url_id", "url", novel1.select("canonical_url"))
    assert(novel2.count() === 0)
    // a genuinely new URL still lands
    val batch2 = batch.unionByName(Seq((13L, "https://c.com/z")).toDF("url_id", "url"))
    val novel3 = Urls.incrementalDuplicateUrls(
      batch2, "url_id", "url", novel1.select("canonical_url"))
    assert(novel3.as[(String, Long)].collect().toSet ===
      Set(("https://c.com/z", 13L)))
  }

  test("robotsDisallowedHosts: REP-subset hand vectors, composes into the gate") {
    val robots = Seq(
      ("h0.com", "User-agent: *\nDisallow: /"),                 // plain full block
      ("h1.com", "User-agent: *\nDisallow: /private\n\nUser-agent: badbot\nDisallow: /"),
      ("h2.com", "# note\nUSER-AGENT: *   \n Disallow:   /  "), // case/space/comment
      ("h3.com", "User-agent: badbot\nUser-agent: *\nDisallow: /"), // agent-run accumulation
      ("h4.com", "User-agent: badbot\nDisallow: /"),            // other agent only
      ("h5.com", "Disallow: /"),                                // directive before any group
      ("h6.com", null.asInstanceOf[String])                     // no robots at all
    ).toDF("host", "robots_txt")
    val rules = Urls.robotsDisallowedHosts(robots, "host", "robots_txt")
    assert(rules.as[String].collect().sorted.toSeq === Seq("h0.com", "h2.com", "h3.com"),
      "only groups naming * (incl. accumulated runs) with a root Disallow block")
    // a named agent matches its own group AND *
    val mine = Urls.robotsDisallowedHosts(robots, "host", "robots_txt",
      userAgent = "badbot")
    assert(mine.as[String].collect().sorted.toSeq ===
      Seq("h0.com", "h1.com", "h2.com", "h3.com", "h4.com"))
    // the derived rules feed the same gate as a curated blocklist
    val pages = Seq((1L, "https://h0.com/x"), (2L, "https://h1.com/x"),
      (3L, "https://sub.h0.com/x")).toDF("id", "url")
    val kept = Urls.filterBlockedHosts(pages, "id", "url", rules)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 3L),
      "exact-host robots rules block the host itself, not its subdomains")
  }

  test("robotsBlocksAll: a comment/blank line does not end a User-agent run") {
    // RFC 9309: groups are delimited by directive lines, not by comments
    // or blank lines — 'User-agent: *' / '# note' / 'User-agent: badbot'
    // / 'Disallow: /' is ONE group naming both agents
    val robots = Seq(
      ("c0.com", "User-agent: *\n# note\nUser-agent: badbot\nDisallow: /"),
      ("c1.com", "User-agent: *\n\nUser-agent: badbot\nDisallow: /"),
      // control: a DIRECTIVE between the UA lines still splits the groups
      ("c2.com", "User-agent: *\nDisallow: /private\nUser-agent: badbot\nDisallow: /")
    ).toDF("host", "robots_txt")
    val rules = Urls.robotsDisallowedHosts(robots, "host", "robots_txt")
    assert(rules.as[String].collect().sorted.toSeq === Seq("c0.com", "c1.com"),
      "comment and blank lines keep the UA run open; a directive closes it")
  }

  test("robotsPathRules + robotsBlockedPathIds: RFC 9309 longest-match hand vectors") {
    val robots = Seq(
      // Allow carve-out under a longer match
      ("p0.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok"),
      // LENGTH TIE between Allow and Disallow -> Allow wins (RFC least-
      // restrictive rule); an unrelated Disallow still blocks
      ("p1.com", "User-agent: *\nAllow: /p\nDisallow: /p\nDisallow: /public"),
      // tier selection: a specific group exists -> '*' must NOT leak
      ("p2.com", "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\nDisallow: /private"),
      // empty Disallow matches nothing
      ("p3.com", "User-agent: *\nDisallow:"),
      // an EMPTY specific group allows everything ('*' still must not leak)
      ("p4.com", "User-agent: *\nDisallow: /\n\nUser-agent: graftbot"),
      // prefix rules are not segment-aligned: /foo matches /foobar
      ("p5.com", "User-agent: *\nDisallow: /foo")
    ).toDF("host", "robots_txt")
    val rules = Urls.robotsPathRules(robots, "host", "robots_txt", userAgent = "graftbot")
    // rule-set shape: p2/p4 keep only their graftbot tier, p3 parses to
    // no rules at all (empty path), p4's specific group is empty
    val r2 = rules.filter($"host" === "p2.com")
      .select("allow", "path").as[(Boolean, String)].collect().toSeq
    assert(r2 === Seq((false, "/private")), "specific tier only — '*' rules dropped")
    assert(rules.filter($"host" === "p3.com").count() === 0, "empty Disallow parses away")
    assert(rules.filter($"host" === "p4.com").count() === 0,
      "an empty specific group yields no rules AND suppresses the '*' tier")
    val pages = Seq(
      (0L, "https://p0.com/private/ok/x"),  // Allow /private/ok (11) > Disallow /private (8)
      (1L, "https://p0.com/private/y"),     // Disallow /private -> blocked
      (2L, "https://p1.com/p/z"),           // tie at /p -> Allow wins
      (3L, "https://p1.com/public"),        // Disallow /public -> blocked
      (4L, "https://p2.com/private/y"),     // graftbot tier -> blocked
      (5L, "https://p2.com/anything"),      // '*' root Disallow must not leak
      (6L, "https://p3.com/x"),             // no rules -> allowed
      (7L, "https://p4.com/x"),             // empty specific group -> allowed
      (8L, "https://p5.com/foobar"),        // octet prefix, not segment -> blocked
      (9L, "https://p5.com/fo"),            // shorter than the rule -> allowed
      (10L, "https://unlisted.com/x")       // host without robots -> allowed
    ).toDF("id", "url")
    val blocked = Urls.robotsBlockedPathIds(pages, "id", "url", rules)
      .as[Long].collect().sorted.toSeq
    assert(blocked === Seq(1L, 3L, 4L, 8L))
    val kept = Urls.filterRobotsPathBlocked(pages, "id", "url", rules)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(0L, 2L, 5L, 6L, 7L, 9L, 10L))
  }

  test("robots path gate: '*' wildcards, '$' end anchor, LIKE metachars stay literal") {
    val robots = Seq(
      ("w0.com", "User-agent: *\nDisallow: /*.pdf$"),
      ("w1.com", "User-agent: *\nDisallow: /a*z\nAllow: /a*zz"),
      // rules containing the LIKE metachars '%' and '_' — RFC treats them
      // as literal octets; the pattern compile must escape them
      ("w2.com", "User-agent: *\nDisallow: /100%\nDisallow: /x_y")
    ).toDF("host", "robots_txt")
    val rules = Urls.robotsPathRules(robots, "host", "robots_txt")
    val pages = Seq(
      (0L, "https://w0.com/docs/r.pdf"),  // anchored wildcard suffix hits
      (1L, "https://w0.com/docs/r.pdfx"), // '$' anchor: must NOT match
      (2L, "https://w0.com/r.pdf"),       // '*' matches a one-octet gap
      (3L, "https://w1.com/abcz"),        // /a*z matches, /a*zz does not
      (4L, "https://w1.com/abczz"),       // both match; Allow is longer
      (5L, "https://w1.com/ab"),          // neither matches
      (6L, "https://w2.com/100%off"),     // literal '%' octet matches
      (7L, "https://w2.com/100toff"),     // would match only if % were a wildcard
      (8L, "https://w2.com/x_y/z"),       // literal '_' octet matches
      (9L, "https://w2.com/xAy/z")        // would match only if _ were a wildcard
    ).toDF("id", "url")
    val blocked = Urls.robotsBlockedPathIds(pages, "id", "url", rules)
      .as[Long].collect().sorted.toSeq
    assert(blocked === Seq(0L, 2L, 3L, 6L, 8L))
  }

  test("robots path gate: percent-encoding equivalence, %2A stays literal, query rules") {
    val robots = Seq(
      // encoded unreserved octets in the rule (incl. lowercase hex):
      // must block the decoded URL form and the differently-encoded form
      ("e0.com", "User-agent: *\nDisallow: /s%65cret\nAllow: /s%65cret/pub%6cic"),
      // %2A is an ENCODED asterisk: literal match only, never a wildcard
      ("e1.com", "User-agent: *\nDisallow: /item%2A"),
      // query-bearing rules match path?query; plain rules never see the query
      ("e2.com", "User-agent: *\nDisallow: /search?q=\nAllow: /search?q=safe"),
      ("e3.com", "User-agent: *\nDisallow: /login")
    ).toDF("host", "robots_txt")
    val rules = Urls.robotsPathRules(robots, "host", "robots_txt")
    val pages = Seq(
      (0L, "https://e0.com/secret/x"),        // decoded form blocked
      (1L, "https://e0.com/s%65cret/y"),      // encoded URL ≡ decoded rule
      (2L, "https://e0.com/secret/public/z"), // longer decoded Allow wins
      (3L, "https://e0.com/sXcret/x"),        // %65 is 'e', not a wildcard
      (4L, "https://e1.com/item%2a"),         // hex case-folds; literal %2A hits
      (5L, "https://e1.com/item*"),           // a real '*' octet is NOT %2A
      (6L, "https://e1.com/itemX"),           // %2A must not wildcard
      (7L, "https://e2.com/search?q=test"),   // query rule gates the query
      (8L, "https://e2.com/search?q=safe1"),  // longer query Allow wins
      (9L, "https://e2.com/search/results"),  // path-only URL unaffected
      (10L, "https://e3.com/login?next=/x"),  // plain rule matches sans query
      (11L, "https://e3.com/log")             // prefix miss stays a miss
    ).toDF("id", "url")
    val blocked = Urls.robotsBlockedPathIds(pages, "id", "url", rules)
      .as[Long].collect().sorted.toSeq
    assert(blocked === Seq(0L, 1L, 4L, 7L, 10L))
    // malformed escapes pass through literally on both surfaces
    val norm = Seq("/a%zz", "/b%4", "/c%4G", "/d%7e", "/e%2F")
      .toDF("p").select(Urls.normalizePercentEncoding($"p")).as[String]
      .collect().toSeq
    assert(norm === Seq("/a%zz", "/b%4", "/c%4G", "/d~", "/e%2F"))
  }

  test("robots path gate plan: rules broadcast, host hash equi-join, no corpus regex") {
    val robots = Seq(("p0.com", "User-agent: *\nDisallow: /private"))
      .toDF("host", "robots_txt")
    val rules = Urls.robotsPathRules(robots, "host", "robots_txt")
    val pages = Seq((1L, "https://p0.com/private/y")).toDF("id", "url")
    val plan = Urls.robotsBlockedPathIds(pages, "id", "url", rules)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the rule probe must be a broadcast hash equi-join on the host")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "prefix verify rides the equi-join as a residual, never a loop join")
  }

  test("incrementalDuplicateUrls absorbs the NULL canonical class across runs") {
    // a null URL canonicalizes to a null key; a plain = anti-join never
    // matches null, so without the null-safe probe the null class would
    // re-ingest on EVERY run — a steady-state leak
    val batch = Seq((20L, Option.empty[String]), (21L, None), (22L, Some("https://a.com/")))
      .toDF("url_id", "url")
    val empty = Seq.empty[String].toDF("canonical_url")
    val novel1 = Urls.incrementalDuplicateUrls(batch, "url_id", "url", empty)
    assert(novel1.count() === 2, "null class collapses keep-min like any other")
    assert(novel1.filter($"canonical_url".isNull).select("keep_id")
      .as[Long].collect().toSeq === Seq(20L))
    val novel2 = Urls.incrementalDuplicateUrls(
      batch, "url_id", "url", novel1.select("canonical_url"))
    assert(novel2.count() === 0, "the ingested null class is absorbed, not re-emitted")
  }

  // ---- internationalized (IDN / punycode) hostnames ----

  test("IDN kernel equals the interpreted expression-fold twin on every vector class") {
    // the codegen'd kernel is the hot path; the relational fold is its
    // executable specification — parity across valid ACE of several
    // scripts, invalid bodies (digit, overflow, empty, dangling group),
    // multi-label hosts, astral code points, and decode-free hosts
    val hosts = Seq(
      "xn--mnchen-3ya.de", "xn--bcher-kva.example", "xn--nxasmq6b.example",
      "xn--d1acufc.xn--p1ai", "xn--fiqs8s.cn", "xn--ls8h.example",
      "xn--.example", "xn--999999999.example", "xn--a!b.example",
      "xn--abc", "xn--abc-", "mixed.xn--mnchen-3ya.de", "plain.example.com",
      "xn--80akhbyknj4f.example", "")
    val got = hosts.toDF("h")
      .select(Urls.decodeIdnHost($"h").as("k"), Oracles.decodeIdnHostFold($"h").as("f"))
      .as[(String, String)].collect()
    hosts.zip(got).foreach { case (h, (k, f)) =>
      assert(k === f, s"kernel/fold divergence on $h")
    }
  }

  test("punycode decode matches java.net.IDN across real registrations and RFC samples") {
    // the expression fold vs the JDK's IDNA implementation over ACE forms
    // covering Latin diacritics, Greek, Cyrillic, Arabic, Hebrew, CJK,
    // multi-label TLDs, and a decode-free ASCII host
    val hosts = Seq(
      "xn--mnchen-3ya.de", "xn--bcher-kva.example", "xn--nxasmq6b.example",
      "xn--wgbh1c.example", "xn--d1acufc.xn--p1ai", "xn--fiqs8s.cn",
      "xn--80akhbyknj4f.example", "xn--mgbh0fb.xn--kgbechtv",
      "xn--4dbrk0ce.example", "xn--mgba3a4f16a.example",
      "xn--ogbpf8fl.example", "xn--kprw13d.example",
      "mixed.xn--mnchen-3ya.de", "plain.example.com")
    val got = hosts.toDF("h")
      .select($"h", Urls.decodeIdnHost($"h").as("d"))
      .as[(String, String)].collect().toMap
    hosts.foreach { h =>
      assert(got(h) === java.net.IDN.toUnicode(h), s"host $h")
    }
  }

  test("invalid ACE labels pass through verbatim; astral decode stays valid UTF-8") {
    val vec = Seq(
      "xn--.example",          // empty body
      "xn--999999999.example", // overflow
      "xn--a!b.example",       // digit outside the alphabet
      "xn--abc",               // dangling digit group body decodes or stays — never throws
      "xn--ls8h.example")      // U+1F4A9, beyond the JDK's IDNA2003 range
    val got = vec.toDF("h").select(Urls.decodeIdnHost($"h")).as[String].collect()
    assert(got(0) === "xn--.example")
    assert(got(1) === "xn--999999999.example")
    assert(got(2) === "xn--a!b.example")
    // the astral label is VALID RFC 3492 (the JDK rejects it only because
    // it implements IDNA2003); the fold decodes it to the real code point
    assert(got(4) === new String(Character.toChars(0x1F4A9)) + ".example")
  }

  test("overflow frontier: crafted groups stay verbatim without throwing; " +
    "exotic valid labels decode identically on both paths") {
    // 'xn--j416146o' encodes a digit group whose value wraps Int — an
    // Int-typed `n` once went negative, slipped past the range checks,
    // and crashed appendCodePoint inside the task (r18 review, confirmed
    // crash). Ground truth (python punycode codec): invalid. Must stay
    // verbatim on BOTH paths, never throw.
    val crafted = "xn--j416146o.com"
    val k1 = Seq(crafted).toDF("h").select(Urls.decodeIdnHost($"h")).as[String].head()
    val f1 = Seq(crafted).toDF("h").select(Oracles.decodeIdnHostFold($"h")).as[String].head()
    assert(k1 === crafted && f1 === crafted)
    // a long basic prefix + astral code point: VALID punycode whose delta
    // (~2.9e7) exceeded the fold's old 1e7 bound — the fold rejected what
    // the kernel decoded (r18 review). Ground truth (python punycode
    // codec): 'a'*30 + U+E0001.
    val exotic = "xn--aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa-1j923u.example"
    val want = ("a" * 30) + new String(Character.toChars(0xE0001)) + ".example"
    val k2 = Seq(exotic).toDF("h").select(Urls.decodeIdnHost($"h")).as[String].head()
    val f2 = Seq(exotic).toDF("h").select(Oracles.decodeIdnHostFold($"h")).as[String].head()
    assert(k2 === want, "kernel must decode the exotic-but-valid label")
    assert(f2 === want, "fold must agree past its old under-bound")
  }

  test("a final-position ACE label with a surviving port still decodes") {
    // with the port attached, the last label reaches the decoder as
    // 'p1ai:8443' and stays verbatim — the decode must see the host alone
    // (r18 review); urlHost strips ports first and was never affected
    val u = "https://xn--d1acufc.xn--p1ai:8443/x"
    val got = Seq(u).toDF("u")
      .select(Urls.canonicalizeUrl($"u"), Urls.urlHost($"u"))
      .as[(String, String)].head()
    val host = "домен.рф" // домен.рф
    assert(got._1 === s"https://$host:8443/x")
    assert(got._2 === host)
  }

  test("mixed IDN spellings collapse to one canonical class and one blocklist rule") {
    val urls = Seq(
      (1L, "https://xn--mnchen-3ya.de/x"),
      (2L, "https://münchen.de/x"),
      (3L, "HTTPS://XN--MNCHEN-3YA.DE:443/x"),
      (4L, "https://a.xn--mnchen-3ya.de/y"),
      (5L, "https://a.münchen.de/y"),
      (6L, "https://other.example.com/z")).toDF("url_id", "url")
    val classes = Urls.duplicateUrls(urls, "url_id", "url")
      .as[(String, Long, Long)].collect()
    assert(classes.find(_._1 == "https://münchen.de/x").map(c => (c._2, c._3))
      === Some((1L, 3L)), "three spellings, ONE canonical class, min id kept")
    // a wildcard rule in EITHER spelling gates BOTH host spellings
    for (rule <- Seq("*.xn--mnchen-3ya.de", "*.münchen.de")) {
      val blocked = Urls.blockedHostIds(urls, "url_id", "url",
        Seq(rule).toDF("rule")).as[Long].collect().toSet
      assert(blocked === Set(4L, 5L),
        s"rule $rule must hit both subdomain spellings, never the apex or others")
    }
    // and an exact rule in either spelling gates the apex in both spellings
    for (rule <- Seq("xn--mnchen-3ya.de", "münchen.de")) {
      val blocked = Urls.blockedHostIds(urls, "url_id", "url",
        Seq(rule).toDF("rule")).as[Long].collect().toSet
      assert(blocked === Set(1L, 2L, 3L), s"exact rule $rule")
    }
  }
}
