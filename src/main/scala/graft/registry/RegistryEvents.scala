package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{Currents, MetaColumns => M}
import graft.operators._
import graft.operators.Scd2.ValidFromMode
import graft.pipeline.Historization
import graft.sources.{Store, StoreIndex, Tables}
import graft.registry.Helpers._
import graft.registry.OracleCtes._

/** Registrations: event analytics, as-of joins, and multimodal/JSONL ingestion.
  * One entry per implemented operator, each paired with its DuckDB
  * oracle twin; composed into the driver contract by
  * [[graft.SparkEntry]]. Entries moved verbatim from SparkEntry
  * (r14 split — VERDICT r13 item 7). */
private[graft] object RegistryEvents {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- extensions: multimodal plumbing ----
    // real files on disk through the binaryFile source (not text-as-binary):
    // a deterministic fixture is (re)written driver-side, Spark ingests the
    // raw bytes, DuckDB's read_blob reads the same files as the oracle
    // schema'd JSONL ingestion (the interchange format of training-data
    // pipelines): explicit schema (no inference pass), nested struct and
    // array fields, null vs MISSING keys distinguished correctly; output
    // projects to scalars so the dump/oracle compare stays canonical
    "x_jsonl_scan" -> ((s, _) => {
      writeJsonlFixture(jsonlFixtureDir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("title", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("tags",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("meta", org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tokens", org.apache.spark.sql.types.LongType))))))
      Store.readJsonl(s, s"$jsonlFixtureDir/docs.jsonl", Some(schema))
        .select(col("id"), col("title"), col("score"),
          size(col("tags")).as("n_tags"),
          col("meta.lang").as("lang"), col("meta.tokens").as("tokens"))
    }),
    "x_media_binary" -> ((s, _) => {
      writeMediaFixture(mediaFixtureDir)
      Store.readBinaryFiles(s, mediaFixtureDir, Some("*.bin"))
        .select(
          substring_index(col("path"), "/", -1).as("name"),
          col("length").as("byte_len"),
          lower(hex(col("content"))).as("content_hex"))
    }),
    // WARC/WET ingestion — the web-archive entry format every public
    // corpus recipe starts from: a two-file fixture (one gzip member per
    // record à la Common Crawl + a plain file carrying four malformed
    // records) is (re)written driver-side, parsed one streaming pass per
    // file, malformed records quarantined per row (spec-pinned in
    // WarcSpec); the oracle is a VALUES literal generated from the SAME
    // record list the fixture writer serializes, so bytes and expectation
    // cannot drift
    "x_warc_scan" -> ((s, _) => {
      writeWarcFixture(warcFixtureDir)
      graft.sources.Warc.readWarc(s, warcFixtureDir)
        .filter(col("parse_error").isNull)
        .select(substring_index(col("file"), "/", -1).as("fname"),
          col("rec_idx"), col("warc_type"), col("url"), col("ts"),
          col("mime"), col("n_bytes"), col("text"))
    }),
    // the WET consumption surface: good conversion records only, the
    // (url, ts, text) projection the curation loop ingests
    "x_warc_wet" -> ((s, _) => {
      writeWarcFixture(warcFixtureDir)
      graft.sources.Warc.readWet(s, warcFixtureDir)
        .select(substring_index(col("file"), "/", -1).as("fname"),
          col("rec_idx"), col("url"), col("ts"), col("text"))
    }),
    // the raw-capture text path: response records → HTTP split (chunked/
    // gzip decoded) → charset resolve → HTML extraction; expectations are
    // HAND-STATED per vector (the x_warc_scan convention — DuckDB holds
    // the ground truth, Spark derives it). Line breaks project as the
    // <NL> marker so the VALUES rows stay single-line.
    "x_warc_html" -> ((s, _) => {
      writeWarcHtmlFixture(warcHtmlFixtureDir)
      graft.sources.Warc.readResponses(s, warcHtmlFixtureDir)
        .select(col("rec_idx"), col("url"), col("http_status"),
          col("content_type"), col("charset"),
          regexp_replace(col("text"), "\n", "<NL>").as("text_nl"),
          col("extract_error"))
    }),
    // block segmentation ground truth: the per-block (text, links, chars)
    // rows every density-based boilerplate classifier scores —
    // expectations HAND-STATED per vector ([[WebVectors]]); `chars`
    // derives from the stated text by definition (non-ws count)
    "x_warc_blocks" -> ((s, _) => {
      import s.implicits._
      WebVectors.htmlBlockVectors.map(v => (v.vecId, v.html))
        .toDF("vec_id", "html")
        .select(col("vec_id"),
          posexplode(graft.functions.WebExpressions.htmlBlocksOf(col("html"))))
        .select(col("vec_id"), col("pos").as("block_idx"),
          col("col.text").as("text"), col("col.links").as("links"),
          col("col.chars").as("chars"))
    }),
    // jusText-style main-content selection: Spark derives it from the RAW
    // html (kernel + higher-order-function filter), DuckDB replays the
    // selection LAW over the stated block table — two independent routes
    // to the same rows, so both the segmentation and the density gate are
    // cross-checked
    "x_warc_main" -> ((s, _) => {
      import s.implicits._
      WebVectors.htmlBlockVectors.map(v => (v.vecId, v.html))
        .toDF("vec_id", "html")
        .select(col("vec_id"),
          regexp_replace(
            graft.functions.WebExpressions.mainTextOf(col("html"),
              WebVectors.mainMinChars, WebVectors.mainMaxLinkDensity),
            "\n", "<NL>").as("main_nl"))
    }),
    // cross-page boilerplate: blocks repeated on >= 2 distinct pages of
    // one HOST cut everywhere (site templates pass any density gate);
    // Spark derives hosts/blocks from raw (url, html) rows, DuckDB
    // replays the census + density law over the STATED block table —
    // incl. the per-host scoping (the footer survives on the other host)
    // and IDN spellings pooling one host
    "x_warc_main_site" -> ((s, _) => {
      import s.implicits._
      val rows = WebVectors.siteDocVectors.map(v => (v.docId, v.url, v.html)) ++
        WebVectors.siteSpecialDocs
      graft.operators.WebContent.mainContentByHost(
        rows.toDF("doc_id", "url", "html"), "doc_id", "url", "html",
        WebVectors.mainMinChars, WebVectors.mainMaxLinkDensity,
        WebVectors.siteHostRepeatMin)
        .select(col("doc_id"),
          regexp_replace(col("main_text"), "\n", "<NL>").as("main_nl"))
    }),
    // the steady-state twin: the batch extracts against a STANDING
    // census (docs 1-4 staged as census rows) at O(batch) probe cost;
    // the oracle replays the corpus-wide law (census over standing UNION
    // batch) restricted to the batch — standing-driven, accumulated, and
    // intra-batch cuts all pinned
    "x_warc_main_site_incremental" -> ((s, _) => {
      import s.implicits._
      val standing = WebVectors.siteDocVectors
        .filter(_.docId <= WebVectors.siteIncStandingMaxId)
        .map(v => (v.docId, v.url, v.html)).toDF("doc_id", "url", "html")
      val census = graft.operators.WebContent.siteCensusRows(
        standing, "doc_id", "url", "html")
      val batch = (WebVectors.siteIncBatchVectors.map(v => (v.docId, v.url, v.html)) ++
        WebVectors.siteIncSpecialDocs).toDF("doc_id", "url", "html")
      graft.operators.WebContent.mainContentByHostIncremental(
        batch, "doc_id", "url", "html", census,
        WebVectors.mainMinChars, WebVectors.mainMaxLinkDensity,
        WebVectors.siteHostRepeatMin)
        .main
        .select(col("doc_id"),
          regexp_replace(col("main_text"), "\n", "<NL>").as("main_nl"))
    }),
    // census takedown + re-opening: erase all host-A standing pages,
    // then a new host-A page KEEPS the former template (count below the
    // threshold — no legacy suppression) while host B's retained row
    // still accumulates to a cut on its new page
    "x_warc_main_site_takedown" -> ((s, _) => {
      import s.implicits._
      val standing = WebVectors.siteDocVectors
        .filter(_.docId <= WebVectors.siteIncStandingMaxId)
        .map(v => (v.docId, v.url, v.html)).toDF("doc_id", "url", "html")
      val purged = graft.operators.WebContent.siteCensusTakedown(
        graft.operators.WebContent.siteCensusRows(standing, "doc_id", "url", "html"),
        WebVectors.siteTakedownRemovedIds.toDF("doc_id"), "doc_id")
      val batch = WebVectors.siteIncBatchVectors
        .filter(_.docId <= WebVectors.siteTakedownBatchMaxId)
        .map(v => (v.docId, v.url, v.html)).toDF("doc_id", "url", "html")
      graft.operators.WebContent.mainContentByHostIncremental(
        batch, "doc_id", "url", "html", purged,
        WebVectors.mainMinChars, WebVectors.mainMaxLinkDensity,
        WebVectors.siteHostRepeatMin)
        .main
        .select(col("doc_id"),
          regexp_replace(col("main_text"), "\n", "<NL>").as("main_nl"))
    }),
    "x_media_meta" -> ((s, d) =>
      Multimodal.decodeMetaSql(Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"))),
    "x_media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"))),
    // Dump projections canonicalize non-scalar outputs (the driver's pandas
    // compare cannot sort array/binary cells): features -> comma-joined
    // floor(x*1e6) ints, payload -> lowercase hex. The operators themselves
    // keep the real types.
    "x_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"), dims = 8)
        .select(col("id"),
          when(col("features").isNotNull,
            concat_ws(",",
              transform(col("features"), x => floor(x * lit(1e6)).cast("long").cast("string"))))
            .as("features_q"))),
    "x_media_resize" -> ((s, d) =>
      Multimodal.resizeStub(Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"), 64, 64)
        .select(col("id"), col("width"), col("height"),
          lower(hex(col("payload"))).as("payload_hex"))),
    // perceptual-hash near-dup pairs: aHash fingerprints (mean-threshold
    // over the stub-decode features), pigeonhole Hamming blocking
    "x_media_phash" -> ((s, d) =>
      Multimodal.phashNearDuplicates(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
        bits = 16, maxHamming = 2)),
    // ---- extensions: as-of join (point-in-time lookup) ----
    "x_asof_purchase" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_", rightTieBreak = Some("event_id"))
    }),
    "x_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_", rightTieBreak = Some("event_id"),
        tolerance = Some("30 MINUTES"))
    }),
    // ---- extensions: event analytics (batch twins of the streaming path) ----
    "x_events_tumbling" -> ((s, d) => EventAnalytics.tumblingAgg(Tables.events(s, d), 60)),
    "x_events_running" -> ((s, d) => EventAnalytics.userRunning(Tables.events(s, d))),
    "x_events_sessionize" -> ((s, d) => EventAnalytics.sessionize(Tables.events(s, d), 30)),
    // the NATIVE session_window twin: engine-managed merge, no session_no;
    // boundary semantics match sessionize (gap strictly greater splits) at
    // full microsecond precision — the oracle compares raw timestamps,
    // not floor-second epochs
    "x_events_sessionize_native" -> ((s, d) =>
      EventAnalytics.sessionizeNative(Tables.events(s, d), 30)),
    "x_events_top_types" -> ((s, d) => EventAnalytics.topTypesPerHour(Tables.events(s, d), 3)),
    "x_events_cohort" -> ((s, d) => EventAnalytics.cohortRetention(Tables.events(s, d))),
    // ordered conversion funnel view -> click -> purchase: each step's
    // time must be strictly after the previous step's
    "x_events_funnel" -> ((s, d) =>
      EventAnalytics.funnelCounts(Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),
    // attribution: purchases joined to the same user's clicks in the
    // preceding 2 hours — an EQUI-join on user_id with the window as a
    // post-join filter (never a cartesian); the stream-stream twin
    // (intervalJoinStream) is pinned ≡ to this operator in StreamingSpec
    "x_events_attribution" -> ((s, d) =>
      EventAnalytics.attributionCounts(Tables.events(s, d), "purchase", "click", 120)),
  )

  /** The main-site law after its `boiler` (host, text) CTE: the blocks
    * of `pages` that are not boilerplate and pass the density rule,
    * joined per doc of `docs` by '<NL>' (NULL for a doc without html). */
  private def duckMainSiteTail(pages: String): String =
    s"""kept AS (
       |  SELECT b.doc_id, b.block_idx, b.text
       |  FROM $pages b LEFT JOIN boiler o
       |    ON b.host = o.host AND b.text = o.text
       |  WHERE o.text IS NULL AND b.chars >= ${WebVectors.mainMinChars}
       |    AND b.links <= b.chars * ${WebVectors.mainMaxLinkDensity}
       |), agg AS (
       |  SELECT doc_id, string_agg(text, '<NL>' ORDER BY block_idx) AS m
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       CASE WHEN NOT d.has_html THEN NULL
       |            ELSE coalesce(a.m, '') END AS main_nl
       |FROM docs d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** The main-site law of the incremental rows: the boilerplate census
    * over `standing` UNION `batch`, the batch pages' main text. */
  private val duckMainSiteUnionTail: String =
    s"""boiler AS (
       |  SELECT host, text FROM (
       |    SELECT host, text, doc_id FROM standing
       |    UNION ALL SELECT host, text, doc_id FROM batch
       |  ) GROUP BY host, text
       |  HAVING count(DISTINCT doc_id) >= ${WebVectors.siteHostRepeatMin}
       |), ${duckMainSiteTail("batch")}""".stripMargin

  /** The as-of rows' sides: clicks (`l`) and purchases (`r`). */
  private val duckClicksPurchasesCtes: String =
    """l AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'click'
      |),
      |r AS (
      |  SELECT user_id, event_id AS p_event_id, CAST(ts AS TIMESTAMP) AS p_ts, value AS p_value
      |  FROM events WHERE event_type = 'purchase'
      |)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    // DuckDB reads the same on-disk JSONL fixture the Spark query ingests
    // with an equivalent explicit column spec — null literals, missing
    // nested keys, and array lengths must all agree
    "x_jsonl_scan" ->
      s"""SELECT id, title, score, CAST(len(tags) AS INT) AS n_tags,
         |       meta.lang AS lang, meta.tokens AS tokens
         |FROM read_json('$jsonlFixtureDir/docs.jsonl',
         |  format='newline_delimited',
         |  columns={id:'BIGINT', title:'VARCHAR', score:'DOUBLE',
         |           tags:'VARCHAR[]',
         |           meta:'STRUCT(lang VARCHAR, tokens BIGINT)'})""".stripMargin,
    // DuckDB reads the same on-disk fixture files the Spark query ingests;
    // the shared mediaFixtureDir value keeps the two paths in sync
    "x_media_binary" ->
      s"""SELECT regexp_extract(filename, '[^/]+$$') AS name,
         |       size AS byte_len,
         |       lower(hex(content)) AS content_hex
         |FROM read_blob('$mediaFixtureDir/*.bin')""".stripMargin,
    // the good-record expectation generated from the same Scala record
    // list the fixture writer serializes to disk — DuckDB cannot parse
    // WARC, so the oracle states the ground truth the parser must recover
    // (incl. the rec_idx gaps where b.warc's malformed records quarantine)
    "x_warc_scan" ->
      s"""SELECT fname, CAST(rec_idx AS BIGINT) AS rec_idx, warc_type, url,
         |       ts, mime, CAST(n_bytes AS BIGINT) AS n_bytes, body AS text
         |FROM (VALUES $warcValuesSql)
         |  t(fname, rec_idx, warc_type, url, ts, mime, n_bytes, body)""".stripMargin,
    "x_warc_wet" ->
      s"""SELECT fname, CAST(rec_idx AS BIGINT) AS rec_idx, url, ts, body AS text
         |FROM (VALUES $warcValuesSql)
         |  t(fname, rec_idx, warc_type, url, ts, mime, n_bytes, body)
         |WHERE warc_type = 'conversion'""".stripMargin,
    // hand-stated extraction ground truth per response vector (DuckDB
    // cannot parse WARC or run the HTTP/HTML machinery — it holds what
    // the extractor must produce)
    "x_warc_html" ->
      s"""SELECT CAST(rec_idx AS BIGINT) AS rec_idx, url,
         |       CAST(http_status AS INT) AS http_status, content_type,
         |       charset, text_nl, extract_error
         |FROM (VALUES $warcHtmlValuesSql)
         |  t(rec_idx, url, http_status, content_type, charset, text_nl,
         |    extract_error)""".stripMargin,
    // hand-stated block rows (chars derived from the stated text)
    "x_warc_blocks" ->
      s"""SELECT vec_id, block_idx, text, links, chars
         |FROM (VALUES ${WebVectors.htmlBlocksValuesSql})
         |  t(vec_id, block_idx, text, links, chars)""".stripMargin,
    // the selection law replayed over the stated block table: keep
    // chars >= minChars AND links <= chars * maxLinkDensity, join kept
    // texts in block order; vectors with no kept block emit ''
    "x_warc_main" ->
      s"""WITH blocks AS (
         |  SELECT * FROM (VALUES ${WebVectors.htmlBlocksValuesSql})
         |    t(vec_id, block_idx, text, links, chars)
         |), vecs AS (
         |  SELECT * FROM (VALUES ${WebVectors.htmlVecIdsSql}) v(vec_id)
         |), kept AS (
         |  SELECT vec_id, block_idx, text FROM blocks
         |  WHERE chars >= ${WebVectors.mainMinChars}
         |    AND links <= chars * ${WebVectors.mainMaxLinkDensity}
         |)
         |SELECT v.vec_id,
         |       coalesce(string_agg(k.text, '<NL>' ORDER BY k.block_idx), '')
         |         AS main_nl
         |FROM vecs v LEFT JOIN kept k USING (vec_id)
         |GROUP BY v.vec_id""".stripMargin,
    // census + density law over the stated block table; hosts stated
    // post-canonicalization (both IDN spellings pool under one host)
    "x_warc_main_site" ->
      s"""WITH blocks AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteBlocksValuesSql})
         |    t(doc_id, host, block_idx, text, links, chars)
         |), docs AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteDocsValuesSql}) d(doc_id, has_html)
         |), boiler AS (
         |  SELECT host, text FROM blocks
         |  GROUP BY host, text
         |  HAVING count(DISTINCT doc_id) >= ${WebVectors.siteHostRepeatMin}
         |), ${duckMainSiteTail("blocks")}""".stripMargin,
    // the corpus-wide law over standing UNION batch, restricted to the
    // batch — exactly what the incremental probe must reproduce
    "x_warc_main_site_incremental" ->
      s"""WITH standing AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteBlocksValuesSql})
         |    t(doc_id, host, block_idx, text, links, chars)
         |  WHERE doc_id <= ${WebVectors.siteIncStandingMaxId}
         |), batch AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteIncBlocksValuesSql})
         |    t(doc_id, host, block_idx, text, links, chars)
         |), docs AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteIncDocsValuesSql}) d(doc_id, has_html)
         |), $duckMainSiteUnionTail""".stripMargin,
    // the union census over (standing MINUS removed) and the batch —
    // erased pages never count, retained pages still do
    "x_warc_main_site_takedown" ->
      s"""WITH standing AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteBlocksValuesSql})
         |    t(doc_id, host, block_idx, text, links, chars)
         |  WHERE doc_id <= ${WebVectors.siteIncStandingMaxId}
         |    AND doc_id NOT IN (${WebVectors.siteTakedownRemovedIds.mkString(", ")})
         |), batch AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteIncBlocksValuesSql})
         |    t(doc_id, host, block_idx, text, links, chars)
         |  WHERE doc_id <= ${WebVectors.siteTakedownBatchMaxId}
         |), docs AS (
         |  SELECT * FROM (VALUES ${WebVectors.siteTakedownDocsValuesSql}) d(doc_id, has_html)
         |), $duckMainSiteUnionTail""".stripMargin,
    "x_media_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        |       CAST(length(text) AS INT) AS "byteLen",
        |       md5(text) AS "contentHash",
        |       CAST(length(text) % 640 + 1 AS INT) AS width,
        |       CAST(length(text) % 480 + 1 AS INT) AS height,
        |       CASE WHEN length(text) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents""".stripMargin,
    "x_media_frames" ->
      """WITH fl AS (
        |  SELECT doc_id, text,
        |    list_filter(range(0, greatest(CAST(floor(length(text) / 16) AS INT), 1)),
        |      x -> x % 4 = 0) AS frames
        |  FROM documents
        |)
        |SELECT CAST(doc_id AS BIGINT) AS id,
        |       CAST(unnest(frames) AS INT) AS frame_no,
        |       md5(substring(text, unnest(frames) * 16 + 1, 16)) AS frame_hash
        |FROM fl""".stripMargin,
    "x_asof_purchase" ->
      s"""WITH $duckClicksPurchasesCtes
        |SELECT l.user_id, l.event_id, l.ts, r.p_event_id, r.p_ts, r.p_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.p_ts""".stripMargin,
    "x_asof_tolerance" ->
      s"""WITH $duckClicksPurchasesCtes,
        |m AS (
        |  SELECT l.user_id, l.event_id, l.ts, r.p_event_id, r.p_ts, r.p_value
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.p_ts
        |)
        |SELECT user_id, event_id, ts,
        |  CASE WHEN p_ts >= ts - INTERVAL 30 MINUTES THEN p_event_id END AS p_event_id,
        |  CASE WHEN p_ts >= ts - INTERVAL 30 MINUTES THEN p_ts END AS p_ts,
        |  CASE WHEN p_ts >= ts - INTERVAL 30 MINUTES THEN p_value END AS p_value
        |FROM m""".stripMargin,
    "x_media_phash" ->
      s"""$phashFpCte,
         |${duckHammingPairs(16, 2)}
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    "x_media_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        |  CASE WHEN text IS NULL THEN NULL ELSE
        |    array_to_string(list_transform(range(0, 8), i ->
        |      CAST(CAST(floor((CAST(list_sum(list_transform(range(1, 5), j ->
        |        (strpos('0123456789abcdef',
        |           substring(md5(text || '#' || CAST(i AS VARCHAR)), j, 1)) - 1)
        |        * CAST(pow(16, 4 - j) AS BIGINT))) AS DOUBLE) / 65535.0 * 2 - 1)
        |        * 1e6) AS BIGINT) AS VARCHAR)), ',')
        |  END AS features_q
        |FROM documents""".stripMargin,
    "x_media_resize" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        |       CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
        |       md5(text || '#64x64') AS payload_hex
        |FROM documents""".stripMargin,
    // sequential min-joins mirror funnelTimes step for step; left joins
    // keep users at the depth they reached, count(tN) skips nulls
    "x_events_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS et, CAST(ts AS TIMESTAMP) AS ts FROM events
        |),
        |s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM ev WHERE et = 'view' GROUP BY 1
        |),
        |s2 AS (
        |  SELECT s1.user_id, min(e.ts) AS t2
        |  FROM s1 LEFT JOIN ev e
        |    ON e.user_id = s1.user_id AND e.et = 'click' AND e.ts > s1.t1
        |  GROUP BY 1
        |),
        |s3 AS (
        |  SELECT s2.user_id, min(e.ts) AS t3
        |  FROM s2 LEFT JOIN ev e
        |    ON e.user_id = s2.user_id AND e.et = 'purchase' AND e.ts > s2.t2
        |  GROUP BY 1
        |)
        |SELECT 1 AS step, 'view' AS step_name, count(t1) AS n_users FROM s1
        |UNION ALL
        |SELECT 2 AS step, 'click' AS step_name, count(t2) AS n_users FROM s2
        |UNION ALL
        |SELECT 3 AS step, 'purchase' AS step_name, count(t3) AS n_users FROM s3""".stripMargin,
    // equi-join on user + the 5-minute window as a filter, grouped to
    // per-purchase counts — identical timestamp arithmetic in both engines
    "x_events_attribution" ->
      """WITH t AS (
        |  SELECT user_id, event_id AS target_id, CAST(ts AS TIMESTAMP) AS target_ts
        |  FROM events WHERE event_type = 'purchase'
        |),
        |s AS (
        |  SELECT user_id, event_id AS source_id, CAST(ts AS TIMESTAMP) AS source_ts
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT target_id, count(*) AS n_sources, min(source_ts) AS first_source_ts
        |FROM t JOIN s USING (user_id)
        |WHERE source_ts >= target_ts - INTERVAL 120 MINUTE AND source_ts <= target_ts
        |GROUP BY target_id""".stripMargin,
    "x_events_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "x_events_running" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
        |  CAST(row_number() OVER w AS INT) AS seq,
        |  lag(event_type, 1) OVER w AS prev_type,
        |  CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) -
        |    CAST(floor(date_part('epoch', lag(CAST(ts AS TIMESTAMP), 1) OVER w)) AS BIGINT)
        |    AS gap_sec,
        |  CAST(sum(CAST(value AS DECIMAL(18,6)))
        |       OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)""".stripMargin,
    "x_events_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP), 1)
        |              OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) IS NULL
        |           OR CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) -
        |              CAST(floor(date_part('epoch', lag(CAST(ts AS TIMESTAMP), 1)
        |                OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC))) AS BIGINT)
        |              > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |),
        |sess AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged
        |)
        |SELECT user_id, session_no, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY 1, 2""".stripMargin,
    // native session_window twin: same split rule at FULL microsecond
    // precision (interval comparison, not floor-second epoch diff), no
    // session_no in the output (the engine tracks identity internally)
    "x_events_sessionize_native" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    coalesce(CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP), 1)
        |              OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |              > INTERVAL 1800 SECOND THEN 1 ELSE 0 END, 1) AS is_new
        |  FROM events
        |),
        |sess AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM flagged
        |)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_no""".stripMargin,
    "x_events_top_types" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT hour, event_type, sum_value,
        |       CAST(row_number() OVER (PARTITION BY hour
        |              ORDER BY sum_value DESC, event_type ASC) AS INT) AS rank
        |FROM hourly QUALIFY rank <= 3""".stripMargin,
    "x_events_cohort" ->
      """WITH first_seen AS (
        |  SELECT user_id, CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS cohort_day
        |  FROM events GROUP BY user_id
        |),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS active_day
        |  FROM events
        |),
        |cells AS (
        |  SELECT f.cohort_day,
        |         CAST(date_diff('day', f.cohort_day, a.active_day) AS INT) AS day_offset,
        |         count(DISTINCT a.user_id) AS n_active
        |  FROM activity a JOIN first_seen f USING (user_id)
        |  GROUP BY 1, 2
        |),
        |sizes AS (
        |  SELECT cohort_day, count(DISTINCT user_id) AS cohort_size
        |  FROM first_seen GROUP BY 1
        |)
        |SELECT c.cohort_day, c.day_offset, c.n_active, s.cohort_size,
        |       round(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
        |FROM cells c JOIN sizes s USING (cohort_day)""".stripMargin,
  )
}
