package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization and URL-level dedup — the FIRST stage of every
  * public web-corpus recipe (CCNet, RefinedWeb, C4 all dedupe by
  * normalized URL before any content pass): at 100 TB the cheapest
  * duplicate is the one dropped on a 100-byte key before its payload is
  * ever shingled, embedded, or even read past the metadata column.
  *
  * Everything here is Spark built-ins (trim / regexp / array ops) — no
  * UDFs, whole-stage codegen end to end, and a DuckDB oracle can replay
  * the identical rule list. The rules (applied in order):
  *
  *  1. trim surrounding whitespace;
  *  2. strings without a `scheme://` pass through unchanged (relative
  *     URLs, mailto:, data: — not this operator's job to guess at);
  *  3. strip the fragment (`#...` — never reaches the server);
  *  4. lowercase the scheme and the host[:port] (RFC 3986 §6.2.2.1;
  *     userinfo, path and query stay case-sensitive);
  *  5. strip the scheme's default port (`:80` for http, `:443` for
  *     https);
  *  6. an empty path becomes `/` (RFC 3986 §6.2.3);
  *  7. drop tracking parameters — names starting `utm_` plus the
  *     [[Urls.TrackingParams]] click-id set — and empty params
  *     (`a=1&&b=2`), then SORT the survivors bytewise and rejoin; a
  *     query left empty drops its `?`;
  *  8. decode internationalized (`xn--`, RFC 3492 punycode) host labels
  *     to their Unicode form ([[Urls.decodeIdnHost]]), so the ACE and
  *     Unicode spellings of one hostname share one canonical class —
  *     invalid ACE labels pass through verbatim.
  *
  * MIGRATION NOTE (rule 8, added r18): a standing canonical-URL store
  * written by the PRE-IDN rule list keeps ACE spellings; against such a
  * store the incremental novelty probe and takedown purge (which both
  * canonicalize with the NEW rules) will not match those rows. Before
  * resuming a steady-state loop across this upgrade, re-canonicalize the
  * store once: `store.select(decodeIdnHost(col("canonical_url"))
  * .as("canonical_url")).distinct()` through the swap write — a single
  * narrow map over keys, no corpus read. Stores without `xn--` rows
  * (greppable in one scan) need nothing.
  *
  * Deliberately NOT done (each changes which pages a URL names):
  * percent-encoding normalization beyond case, `www.` stripping, path
  * dot-segment removal, trailing-slash collapse on non-empty paths —
  * recipes disagree on all four; callers wanting them can compose more
  * regexp passes on top of the canonical form.
  */
object Urls {

  /** Click-id / mail-campaign parameters dropped by rule 7 (alongside the
    * `utm_*` prefix family). Exact, case-sensitive names — the forms the
    * ad platforms actually emit. */
  val TrackingParams: Seq[String] = Seq("fbclid", "gclid", "msclkid", "igshid", "mc_eid")

  /** Java-regex form of rule 7's drop test against a single `k=v` (or
    * bare `k`) query param. */
  private[operators] val trackingParamPattern: String =
    s"^(utm_[A-Za-z0-9_]*|${TrackingParams.mkString("|")})(=|$$)"

  /** Internationalized-hostname normalization: every `xn--` (ACE) label
    * of an already-lowercased host decodes to its Unicode form, so
    * `xn--mnchen-3ya.de` and `münchen.de` share ONE canonical class, one
    * host-stats row, and one blocklist rule ([[parsedRules]] folds rule
    * hosts through the same decoder). Invalid ACE labels pass through
    * verbatim (lenient, never throws); hosts without `xn--` skip the
    * fold entirely — the guard keeps the common path at one `contains`.
    * Decoding (RFC 5895's display direction) rather than encoding keeps
    * the canonical form human-auditable; either direction would collapse
    * the class, but only one canonical spelling may exist and the
    * decoder is the side expressible without Unicode case-fold tables
    * (the encoder's nameprep step is engine-specific).
    *
    * Hot path = the codegen'd [[graft.functions.IdnDecodeHost]] kernel
    * (one `contains` scan for the ~every-host non-IDN case); the
    * interpreted relational twin (the test-side `Oracles.decodeIdnHostFold`)
    * is the executable specification, parity-pinned in UrlsSpec. */
  def decodeIdnHost(host: Column): Column =
    graft.functions.DedupExpressions.idnDecodeHostOf(host)

  /** Canonical form of `url` per the rule list above. Null-safe (null →
    * null); never throws on malformed input — a string that does not
    * look like `scheme://...` is returned trimmed, unchanged. */
  def canonicalizeUrl(url: Column): Column = {
    val t = trim(url)
    val noFrag = regexp_replace(t, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val authority = regexp_extract(rest, "^([^/?]*)", 1)
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    // greedy (.*@) captures through the LAST @, the RFC authority split
    val userinfo = regexp_extract(authority, "^(.*@)?", 1)
    val hostport = lower(regexp_replace(authority, "^.*@", ""))
    val noDefault = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    // IDN decode sees the HOST alone: with a surviving explicit port the
    // final label would reach the decoder as "tld:8443" — ':' is not a
    // punycode digit, so a final-position ACE label would silently stay
    // verbatim and the ACE/Unicode spellings would NOT share a class
    // (r18 review finding); the port re-attaches after the decode
    val portPart = regexp_extract(noDefault, "(:[0-9]*)$", 1)
    val noDefPort = concat(
      decodeIdnHost(regexp_replace(noDefault, ":[0-9]*$", "")), portPart)
    val path = regexp_extract(pathq, "^([^?]*)", 1)
    val normPath = when(path === "", lit("/")).otherwise(path)
    val query = when(pathq.contains("?"), regexp_replace(pathq, "^[^?]*\\?", ""))
      .otherwise(lit(""))
    val kept = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(trackingParamPattern)))
    val queryPart = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    when(scheme === "", t)
      .otherwise(concat(scheme, lit("://"), userinfo, noDefPort, normPath, queryPart))
  }

  /** Registrable host of the canonical form — lowercased, ports and
    * userinfo stripped — the per-host aggregation key (host-level crawl
    * budgeting, spam-domain cuts). Empty string for non-URL strings. */
  def urlHost(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*", "")
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    when(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1) === "", lit(""))
      .otherwise(decodeIdnHost(lower(regexp_replace(
        regexp_replace(regexp_extract(rest, "^([^/?]*)", 1), "^.*@", ""),
        ":[0-9]*$", ""))))
  }

  /** URL-level exact dedup: one row per canonical URL — the smallest
    * `idCol` as the survivor plus the duplicate count. The
    * [[Dedup.exactDuplicates]] shape keyed on the canonical string: one
    * hash aggregation, map-side combined, nothing pairwise. */
  def duplicateUrls(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-host corpus accounting over canonical URLs: page count and
    * distinct canonical-URL count per registrable host — the numbers a
    * crawl-budget or domain-blocklist pass keys on. One aggregation. */
  def hostStats(df: DataFrame, urlCol: String): DataFrame =
    df.select(urlHost(col(urlCol)).as("host"),
        canonicalizeUrl(col(urlCol)).as("__canon"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_pages"),
        count_distinct(col("__canon")).as("n_urls"))

  /** Cross-run (incremental) URL dedup: batch rows whose canonical URL
    * already exists in the standing canonical-URL store drop via ONE
    * anti-join on the ~100-byte key; intra-batch repeats then collapse
    * keep-min — the [[Dedup.incrementalExact]] pattern applied to the
    * cheapest dedup stage, so at steady state the first web-corpus gate
    * costs one batch scan, never a corpus re-read. The returned rows are
    * both the ingestible novelty AND exactly what the caller appends to
    * the standing store for the next run.
    *
    * NULL-safe: a null URL canonicalizes to a null key, which
    * [[duplicateUrls]]' groupBy already treats as ONE class — the
    * standing-store probe matches it null-safely (`<=>`), so a null
    * class ingested once is absorbed forever instead of re-emitted every
    * run (a plain `=` anti-join never matches null and would leak one
    * null row per batch at steady state).
    *
    * @param knownCanonical standing store, `canonical_url` column
    * @return (canonical_url, keep_id) — one row per NOVEL canonical URL,
    *         smallest `idCol` surviving
    */
  def incrementalDuplicateUrls(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      knownCanonical: DataFrame): DataFrame =
    df.select(col(idCol), canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .join(knownCanonical.select(col("canonical_url").as("__known")),
        col("canonical_url") <=> col("__known"), "left_anti")
      .groupBy("canonical_url")
      .agg(min(col(idCol)).as("keep_id"))

  /** TRUE iff a robots.txt body fully disallows `userAgent` at root —
    * the "respect robots" half of the domain gate, as one column
    * expression over the raw text (scan-local: robots bodies live one
    * per host row, no explode, no shuffle). Implements the documented
    * deterministic subset of the Robots Exclusion Protocol (RFC 9309
    * shapes, public literature): groups start at a RUN of consecutive
    * `User-agent:` lines (later UA lines after a directive start a new
    * group), a group applies when any of its agents is `*` or equals
    * `userAgent` (case-insensitive), and the host is fully disallowed
    * when an applying group contains `Disallow: /` (path exactly `/`
    * after trimming). Comments (`#…`) strip, CR strips, matching is
    * whitespace-tolerant; a line that is EMPTY after comment-stripping
    * is skipped entirely — per RFC 9309 a comment or blank line neither
    * ends a `User-agent:` run nor a group (`User-agent: *` / `# note` /
    * `User-agent: badbot` / `Disallow: /` blocks for BOTH agents).
    * Deliberately NOT implemented here (the PATH-rule surface is
    * [[robotsPathRules]]/[[robotsBlockedPathIds]]): Allow-precedence,
    * path prefixes shorter than the full root cut, crawl-delay.
    *
    * One interpreted fold over the row's own lines — bounded per row;
    * NULL body → false (no robots, nothing disallowed). */
  def robotsBlocksAll(robotsTxt: Column, userAgent: String = "*"): Column = {
    val ua = userAgent.toLowerCase
    val fold = aggregate(
      split(regexp_replace(robotsTxt, "\r", ""), "\n"),
      struct(lit(false).as("accum"), lit(false).as("matches"),
        lit(false).as("blocked")),
      (st, l) => {
        val c = trim(regexp_replace(l, "#.*", ""))
        val lc = lower(c)
        val after = trim(regexp_replace(c, "^[^:]*:", ""))
        val isUa = lc.startsWith("user-agent:")
        val isDis = lc.startsWith("disallow:")
        val m = lower(after) === "*" || lower(after) === lit(ua)
        // comment-only / blank lines pass the state through untouched —
        // they must not end a UA run (RFC 9309 group shape)
        when(c === "", st).otherwise(struct(
          isUa.as("accum"),
          when(isUa,
              when(st.getField("accum"), st.getField("matches") || m).otherwise(m))
            .otherwise(st.getField("matches")).as("matches"),
          (st.getField("blocked") ||
            (isDis && st.getField("matches") && after === "/")).as("blocked")))
      },
      st => st.getField("blocked"))
    coalesce(fold, lit(false))
  }

  /** Hosts whose robots.txt fully disallows `userAgent` at root, as
    * EXACT-host `rule` rows — feed them straight into
    * [[filterBlockedHosts]] beside the curated blocklist: the robots
    * corpus is per-host (tiny next to the document corpus), so deriving
    * the rules costs one scan of it and the gate stays the same
    * broadcast suffix equi-join. */
  def robotsDisallowedHosts(
      robots: DataFrame,
      hostCol: String,
      robotsCol: String,
      userAgent: String = "*"): DataFrame =
    robots.filter(robotsBlocksAll(col(robotsCol), userAgent))
      .select(lower(trim(col(hostCol))).as("rule"))
      .filter(col("rule") =!= "")
      .distinct()

  /** Path component of a URL string (before `?`/`#`; empty path → `/`,
    * the RFC 3986 §6.2.3 form [[canonicalizeUrl]] applies) — what the
    * robots path gate matches rules against. Empty string for strings
    * without a `scheme://` (nothing to gate). */
  def urlPath(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*", "")
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_extract(pathq, "^([^?]*)", 1)
    when(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1) === "", lit(""))
      .otherwise(when(path === "", lit("/")).otherwise(path))
  }

  /** RFC 3986 §2.3 unreserved characters — the octets whose
    * percent-encoded and literal forms are EQUIVALENT by the RFC, so
    * normalization may decode them. Everything else stays encoded (a
    * decoded `%2F` would change which slashes are path separators; a
    * decoded `%2A` would turn a literal asterisk into a wildcard). */
  private[graft] val UnreservedChars: String =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"

  /** Uppercase hex codes of [[UnreservedChars]], index-aligned. */
  private[graft] val UnreservedHex: Seq[String] =
    UnreservedChars.map(c => f"${c.toInt}%02X")

  /** Percent-encoding normalization (RFC 3986 §6.2.2): hex digits
    * case-fold to uppercase and encoded UNRESERVED octets decode to
    * their literal character, so equivalent encodings of the same path
    * compare equal (`/s%65cret` ≡ `/secret`, `%7e` ≡ `%7E` ≡ `~`).
    * Reserved and non-ASCII octets stay encoded — decoding them would
    * change the path's structure. A `%` not followed by two hex digits
    * passes through literally (the lenient public-matcher convention).
    * Pure expression fold over the `%`-split pieces — bounded per-row
    * state, no UDF. */
  def normalizePercentEncoding(s: Column): Column = {
    val pieces = split(s, "%", -1)
    val rest = slice(pieces, lit(2), greatest(size(pieces) - 1, lit(0)))
    aggregate(rest, element_at(pieces, 1), (acc, pc) => {
      val hh = upper(pc.substr(lit(1), lit(2)))
      val tail = pc.substr(lit(3), greatest(length(pc) - 2, lit(0)))
      val idx = array_position(lit(UnreservedHex.toArray), hh)
      val norm = when(!pc.rlike("^[0-9A-Fa-f]{2}"), concat(lit("%"), pc))
        .otherwise(when(idx > 0,
            concat(lit(UnreservedChars).substr(idx.cast("int"), lit(1)), tail))
          .otherwise(concat(lit("%"), hh, tail)))
      concat(acc, norm)
    })
  }

  /** Path PLUS query of a URL string (before `#`; empty path → `/`) —
    * what query-bearing robots rules match against. Same scheme/empty
    * conventions as [[urlPath]]. */
  def urlPathQuery(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*", "")
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    when(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1) === "", lit(""))
      .otherwise(when(pathq === "", lit("/"))
        .when(pathq.startsWith("?"), concat(lit("/"), pathq))
        .otherwise(pathq))
  }

  /** Per-host PATH rules of the Robots Exclusion Protocol — the
    * longest-match surface [[robotsBlocksAll]]'s root-only cut deliberately
    * skips (real hosts mostly disallow PATHS, not roots): every
    * `Allow:`/`Disallow:` directive of the groups RFC 9309 selects for
    * `userAgent`, as one (host, allow, path) row each, ready for
    * [[robotsBlockedPathIds]].
    *
    * Group selection per RFC 9309 §2.2.1: when ANY group names
    * `userAgent` exactly (case-insensitive), only those groups apply —
    * even if they are empty (an empty specific group means "this crawler
    * may fetch everything", and `*` groups must NOT leak through);
    * otherwise the `*` groups apply. Groups start at a run of consecutive
    * `User-agent:` lines; comment-only/blank lines neither end a run nor
    * a group; a directive line ends the run (later UA lines start a new
    * group). Directives with an EMPTY path match nothing (RFC: an empty
    * `Disallow:` allows everything) and are dropped at parse.
    *
    * Path values pass through VERBATIM (trimmed) — the matching
    * semantics (RFC 9309 `*` wildcards, the trailing `$` end anchor,
    * percent-encoding normalization, query-bearing rules) live in
    * [[robotsBlockedPathIds]]. Documented subset (a caller-visible
    * policy choice, not an approximation): `crawl-delay`/`sitemap`
    * lines are ignored.
    *
    * One scan-local fold per robots row (bodies are bounded); the output
    * is rules-shaped (rows ≈ directives across hosts — robots-file-sized,
    * broadcastable), never corpus-shaped. */
  def robotsPathRules(
      robots: DataFrame,
      hostCol: String,
      robotsCol: String,
      userAgent: String = "*"): DataFrame = {
    val ua = userAgent.toLowerCase
    val emptyRules = array().cast("array<struct<ua:boolean,allow:boolean,path:string>>")
    val fold = aggregate(
      split(regexp_replace(col(robotsCol), "\r", ""), "\n"),
      struct(lit(false).as("accum"), lit(false).as("mstar"),
        lit(false).as("mua"), lit(false).as("sawua"),
        emptyRules.as("rules")),
      (st, l) => {
        val c = trim(regexp_replace(l, "#.*", ""))
        val lc = lower(c)
        val after = trim(regexp_replace(c, "^[^:]*:", ""))
        val isUa = lc.startsWith("user-agent:")
        val isAllow = lc.startsWith("allow:")
        val isDis = lc.startsWith("disallow:")
        val mS = lower(after) === "*"
        val mU = lower(after) === lit(ua)
        val inRun = st.getField("accum")
        // group membership AFTER this line: UA lines extend (in a run) or
        // restart (new run) the group's agent set; other lines keep it
        val newStar = when(isUa,
            when(inRun, st.getField("mstar") || mS).otherwise(mS))
          .otherwise(st.getField("mstar"))
        val newUa = when(isUa,
            when(inRun, st.getField("mua") || mU).otherwise(mU))
          .otherwise(st.getField("mua"))
        val emit = (isAllow || isDis) && (newStar || newUa) && after =!= ""
        when(c === "", st).otherwise(struct(
          isUa.as("accum"),
          newStar.as("mstar"),
          newUa.as("mua"),
          (st.getField("sawua") || (isUa && mU)).as("sawua"),
          when(emit,
              concat(st.getField("rules"), array(struct(
                newUa.as("ua"), isAllow.as("allow"), after.as("path")))))
            .otherwise(st.getField("rules")).as("rules")))
      },
      // tier selection: a specific group exists -> only its rules; else
      // the star groups' rules (ua = sawua covers both arms: when sawua
      // is false every surviving rule is a star rule by construction)
      st => filter(st.getField("rules"),
        r => r.getField("ua") === st.getField("sawua")))
    robots
      .select(lower(trim(col(hostCol))).as("host"), explode(fold).as("__r"))
      .filter(col("host") =!= "")
      .select(col("host"), col("__r.allow").as("allow"), col("__r.path").as("path"))
      .distinct()
  }

  /** Ids whose URL the robots PATH rules disallow under RFC 9309
    * longest-match with FULL pattern semantics: a rule path matches as an
    * octet prefix of the URL path, `*` inside it matches any octet
    * sequence (including empty), and a TRAILING `$` anchors the match to
    * the end of the path (a non-trailing `$` is a literal octet, the
    * public-implementation convention). Both sides normalize
    * percent-encodings first ([[normalizePercentEncoding]]: uppercase
    * hex, unreserved octets decoded), so `/s%65cret` in a rule blocks
    * `/secret` in a URL and vice versa — and two spellings of the same
    * rule collapse to ONE broadcast row; an encoded `%2A` stays encoded,
    * i.e. is matched literally, never as a wildcard. A rule whose path
    * carries a `?` matches against the URL's `path?query`
    * ([[urlPathQuery]]); plain rules keep matching the query-stripped
    * path (`Disallow: /search?q=` gates the query without gating
    * `/search/results`). Among a host's matching rules the MOST SPECIFIC
    * wins — specificity = the NORMALIZED rule path's length (equivalent
    * encodings of one rule get equal priority), the public
    * robots-matcher shape — and a specificity tie between an Allow and a
    * Disallow resolves to Allow (the RFC's least-restrictive tie rule);
    * no matching rule (or no rules for the host) means allowed.
    *
    * Join shape: the rule set is robots-corpus-sized (directives across
    * hosts — thousands-to-millions of short rows), so it BROADCASTS and
    * the corpus meets it in one hash equi-join on the exact host string
    * with the pattern test as the join's residual filter. Each rule
    * compiles ONCE (on the broadcast side) to a SQL LIKE pattern — `%`/
    * `_`/`\` escaped, `*` → `%`, trailing-`$` anchor vs appended `%` —
    * so the residual is the engine's native LIKE, never a per-rule regex
    * over the corpus; per-URL fan-out is bounded by that one host's rule
    * count (a robots file is ≤ a few hundred directives). Deliberately
    * NOT bucketed by first path segment: a prefix rule is not
    * segment-aligned (`/foo` must match `/foobar`), so a segment
    * equi-key would silently under-block — host equality already bounds
    * the verify work to one file's directives.
    *
    * @param rules (host, allow, path) rows — [[robotsPathRules]] output
    * @return distinct blocked `idCol` values
    */
  def robotsBlockedPathIds(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      rules: DataFrame): DataFrame = {
    val anchored = col("__rpath").endsWith("$")
    val body = when(anchored,
        col("__rpath").substr(lit(1), length(col("__rpath")) - 1))
      .otherwise(col("__rpath"))
    // LIKE compile: escape the LIKE metachars in literal octets, then *
    // becomes %; an anchored rule must match the WHOLE path, an
    // unanchored one any prefix (trailing %)
    val esc = replace(replace(replace(body,
      lit("\\"), lit("\\\\")), lit("%"), lit("\\%")), lit("_"), lit("\\_"))
    val pat = replace(esc, lit("*"), lit("%"))
    val pr = rules.select(lower(trim(col("host"))).as("__rhost"),
        col("allow").cast("boolean").as("__rallow"),
        // normalize at compile: equivalent encodings of one rule collapse
        // to one broadcast row, and specificity reads the normalized form
        normalizePercentEncoding(col("path")).as("__rpath"))
      .filter(col("__rhost") =!= "" && col("__rpath").isNotNull && col("__rpath") =!= "")
      .distinct()
      .withColumn("__rpat", when(anchored, pat).otherwise(concat(pat, lit("%"))))
      // a query-bearing rule matches path?query; a plain rule matches the
      // query-stripped path (an encoded %3F stays encoded = literal, so
      // only a structural '?' flips a rule to the query surface)
      .withColumn("__rq", col("__rpath").contains("?"))
    df.select(col(idCol), urlHost(col(urlCol)).as("__h"),
        normalizePercentEncoding(urlPath(col(urlCol))).as("__p"),
        normalizePercentEncoding(urlPathQuery(col(urlCol))).as("__pq"))
      .filter(col("__h") =!= "")
      .join(broadcast(pr),
        col("__h") === col("__rhost") &&
          like(when(col("__rq"), col("__pq")).otherwise(col("__p")),
            col("__rpat"), lit('\\')))
      .groupBy(col(idCol))
      // most specific match, Allow wins ties: lexicographic struct max
      // over (rule length, allow) — (5, true) > (5, false) > (4, true)
      .agg(max(struct(length(col("__rpath")).as("l"),
        col("__rallow").as("allow"))).as("__best"))
      .filter(!col("__best").getField("allow"))
      .select(col(idCol))
  }

  /** `df` with every robots-path-disallowed row removed — the
    * transformation side of [[robotsBlockedPathIds]], all input columns
    * preserved (the [[filterBlockedHosts]] contract for the path gate). */
  def filterRobotsPathBlocked(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      rules: DataFrame): DataFrame =
    df.join(robotsBlockedPathIds(df, idCol, urlCol, rules), Seq(idCol), "left_anti")

  /** Blocklist rules parsed to the join-ready form: `rule` (the first
    * column of `rules`, trimmed, lowercased, empties dropped) becomes
    * `(__dom, __wild)` — `"spam.com"` is an EXACT host rule
    * (`__wild = false`), `"*.spam.com"` a WILDCARD rule
    * (`__wild = true`, `__dom = "spam.com"`) blocking every PROPER
    * subdomain (`a.spam.com`, `x.y.spam.com`) but NOT `spam.com` itself
    * — callers wanting both list both forms, the convention of the
    * public blocklist formats that distinguish them. */
  private def parsedRules(rules: DataFrame): DataFrame = {
    val ruleCol = rules.columns.head
    rules.select(trim(lower(col(ruleCol))).as("__rule"))
      .filter(col("__rule") =!= "")
      .select(
        // rule hosts fold through the same IDN decode as URL hosts, so
        // the ACE and Unicode spellings of one rule are ONE broadcast row
        // gating both spellings of the host
        decodeIdnHost(
          when(col("__rule").startsWith("*."), col("__rule").substr(lit(3), length(col("__rule"))))
            .otherwise(col("__rule"))).as("__dom"),
        col("__rule").startsWith("*.").as("__wild"))
      // a bare "*." rule leaves an empty domain, which would match the
      // empty trailing suffix of a (malformed) trailing-dot host — drop it
      .filter(col("__dom") =!= "")
      .distinct()
  }

  /** All label-suffixes of a host as (suf, proper) structs: for
    * `a.b.spam.com` — `(a.b.spam.com, false)`, `(b.spam.com, true)`,
    * `(spam.com, true)`, `(com, true)`. Bounded by the host's label
    * count (≤ ~10 for real hostnames); empty array for non-URL rows. */
  private def hostSuffixStructs(host: Column): Column = {
    val labels = split(host, "\\.")
    when(length(host) > 0, transform(sequence(lit(1), size(labels)), i =>
        struct(
          array_join(slice(labels, i, size(labels) - i + 1), ".").as("suf"),
          (i > 1).as("proper"))))
      .otherwise(array().cast("array<struct<suf:string,proper:boolean>>"))
  }

  /** Ids whose URL's host a blocklist blocks — the domain/robots gate
    * every public web recipe (C4, RefinedWeb) applies before content
    * passes. An exact rule matches the FULL host; a wildcard rule
    * (`*.dom`) matches any PROPER label-suffix — both as ONE broadcast
    * equi-join on exploded label-suffix strings, so the corpus is never
    * regex-scanned against the rule list (an `rlike`/LIKE per rule would
    * be rules × corpus regex work; this is corpus × labels 8-byte-ish
    * string equality, map-side). Rules are a caller-supplied frame: at
    * 100 TB a curated blocklist is thousands-to-millions of rows —
    * broadcastable — and never justifies a scan-side regex.
    *
    * @param rules one-column frame of rules: `host` (exact) or
    *              `*.domain` (proper subdomains)
    * @return distinct blocked `idCol` values
    */
  def blockedHostIds(df: DataFrame, idCol: String, urlCol: String,
      rules: DataFrame): DataFrame =
    df.select(col(idCol),
        explode(hostSuffixStructs(urlHost(col(urlCol)))).as("__s"))
      .join(broadcast(parsedRules(rules)),
        col("__s.suf") === col("__dom") && col("__s.proper") === col("__wild"),
        "left_semi")
      .select(col(idCol)).distinct()

  /** `df` with every blocklist-blocked row removed — [[blockedHostIds]]'s
    * transformation side, all input columns preserved. Survivors =
    * corpus anti-joined on the (distinct, narrow) blocked-id set. */
  def filterBlockedHosts(df: DataFrame, idCol: String, urlCol: String,
      rules: DataFrame): DataFrame =
    df.join(blockedHostIds(df, idCol, urlCol, rules), Seq(idCol), "left_anti")
}
