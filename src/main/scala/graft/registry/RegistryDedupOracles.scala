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
import graft.registry.OracleCtesVectors._

/** DuckDB oracle twins of [[RegistryDedup]]'s registrations — the SQL
  * statements the driver replays per row. Split from the registration
  * lambdas (r18 hygiene: the registry files were drifting back toward
  * the pre-r14 monolith); keys are byte-identical to the query side,
  * enforced by SparkEntry's key-parity check. */
private[graft] object RegistryDedupOracles {
  /** Survivor = rank-1 by (n_chars DESC, id) within each recursive-CTE
    * component of `pairs`; NULLS LAST mirrors the struct-max's null-loses
    * rule. The statement after the CTEs ending in `pairs`: every doc that
    * loses no election. */
  private val duckKeepBestTail: String =
    s"""${duckConnectedComponents("pairs")},
       |comp AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id),
       |ranked AS (
       |  SELECT c.id, row_number() OVER (PARTITION BY c.cluster_id
       |    ORDER BY d.n_chars DESC NULLS LAST, c.id) AS rn
       |  FROM comp c JOIN documents d ON d.doc_id = c.id
       |),
       |losers AS (SELECT id FROM ranked WHERE rn > 1)
       |SELECT d.doc_id FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)""".stripMargin

  /** The paragraph rows' chain: every 7th doc upper-cased (`up`), for the
    * `near` rows every 3rd doc's "the" mutated (`mu`), paragraphs of 20
    * words (`para`, split into `sp.ls`), each canonicalized (`cn`) and
    * hashed (`el`, which keeps the canonical text `cu` when `near`). */
  private def duckParagraphsCte(near: Boolean): String = {
    val mu =
      if (near)
        s"""
           |mu AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 3 = 1
           |              THEN regexp_replace(text, '\\bthe\\b', 'th3', 'g')
           |              ELSE text END AS text
           |  FROM up
           |),""".stripMargin
      else ""
    s"""WITH up AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
       |  FROM documents
       |),$mu
       |para AS (
       |  SELECT doc_id,
       |         regexp_replace(text, '((?:\\S+ ){20})',
       |                        '\\1' || chr(10) || chr(10), 'g') AS text
       |  FROM ${if (near) "mu" else "up"}
       |),
       |sp AS (SELECT doc_id, text,
       |              string_split(text, chr(10) || chr(10)) AS ls FROM para),
       |ex AS (
       |  SELECT doc_id, CAST(i AS INT) - 1 AS p, ls[CAST(i AS INT)] AS u
       |  FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i FROM sp)
       |),
       |cn AS (SELECT doc_id, p,
       |              lower(trim(regexp_replace(u, '\\s+', ' ', 'g'))) AS cu
       |       FROM ex),
       |el AS (SELECT doc_id, p, ${if (near) "cu, " else ""}${duckHash60("cu")} AS ph FROM cn
       |       WHERE length(cu) >= 1)""".stripMargin
  }

  /** MinHash bands of paragraph classes — the minhash oracles' hash
    * arithmetic: the signature of each class's words `<p>cw.w` (`<p>sg`)
    * and its band keys (`<p>bd`). */
  private def duckParagraphBands(p: String): String =
    s"""${p}sg AS (
       |  SELECT ph,
       |    list_transform(range(0, 8), j -> list_min(list_transform(
       |      list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
       |        i -> array_to_string(w[i+1:i+3], ' '))),
       |      s -> md5(CAST(j AS VARCHAR) || '#' || s)))) AS sig
       |  FROM ${p}cw
       |),
       |${p}bd AS (
       |  SELECT s.ph, g.band,
       |         md5(array_to_string(s.sig[g.band*2+1:g.band*2+2], '|')) AS key
       |  FROM ${p}sg s, generate_series(0, 3) g(band)
       |)""".stripMargin

  /** The bucket-election losers (`lsr`) among the classes banded in
    * `bands`: every class that is not the first, by its first occurrence
    * `mk`, of a bucket it is in. */
  private def duckParagraphLosers(bands: String): String =
    s"""bj AS (SELECT b.ph, b.band, b.key, m.mk_doc, m.mk_p
       |       FROM $bands b JOIN mk m USING (ph)),
       |lsr AS (
       |  SELECT DISTINCT ph FROM (
       |    SELECT ph, row_number() OVER (PARTITION BY band, key
       |                                  ORDER BY mk_doc, mk_p) AS brn
       |    FROM bj
       |  ) WHERE brn > 1
       |)""".stripMargin

  /** The paragraph rows' final select: each doc's paragraphs without the
    * dropped positions `dl.dp`, rejoined from the ORIGINAL text. */
  private val duckParagraphsCut: String =
    """SELECT s.doc_id,
      |       CASE WHEN d.dp IS NULL THEN s.text
      |            ELSE coalesce(array_to_string(
      |              list_filter(s.ls, (x, i) -> NOT list_contains(d.dp, i - 1)),
      |              chr(10) || chr(10)), '')
      |       END AS cleaned
      |FROM sp s LEFT JOIN dl d USING (doc_id)""".stripMargin

  /** The robots rows' parse of each host's `txt` (CTE `robots`): numbered
    * lines (`l`); comment-only and blank lines dropped before grouping
    * (they end no UA run — RFC 9309) and each remaining line flagged as a
    * User-agent (`is_ua`), Allow (`is_allow`, only with `allowRules`) or
    * Disallow (`is_dis`) line with its value `after` (`f`); a group
    * starts at each User-agent RUN (`g.grp`). */
  private def duckRobotsGroupsCte(allowRules: Boolean): String = {
    val flags = Seq("user-agent" -> "is_ua") ++
      (if (allowRules) Seq("allow" -> "is_allow") else Nil) :+ ("disallow" -> "is_dis")
    val flagCols = flags.map { case (directive, col) =>
      s"""         starts_with(lower(trim(regexp_replace(line, '#.*', ''))),
         |                     '$directive:') AS $col,""".stripMargin
    }.mkString("\n")
    s"""l AS (
       |  SELECT host, CAST(i AS INT) AS i, ls[CAST(i AS INT)] AS line
       |  FROM (SELECT host,
       |               string_split(regexp_replace(txt, chr(13), '', 'g'),
       |                            chr(10)) AS ls,
       |               unnest(range(1,
       |                 len(string_split(regexp_replace(txt, chr(13), '', 'g'),
       |                                  chr(10))) + 1)) AS i
       |        FROM robots)
       |),
       |f AS (
       |  SELECT host, i,
       |$flagCols
       |         trim(regexp_replace(trim(regexp_replace(line, '#.*', '')),
       |                             '^[^:]*:', '')) AS after
       |  FROM l
       |  WHERE trim(regexp_replace(line, '#.*', '')) <> ''
       |),
       |r AS (
       |  SELECT *, coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY i),
       |                     false) AS prev_ua
       |  FROM f
       |),
       |g AS (
       |  SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
       |              OVER (PARTITION BY host ORDER BY i) AS grp
       |  FROM r
       |)""".stripMargin
  }

  /** The fuzzy-join fixture: each customer's 12-hex key (`clean`) and a
    * copy with one character replaced (`dirty`). */
  private val duckFuzzyKeysCte: String =
    """WITH clean AS (
      |  SELECT c_custkey AS cid,
      |         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS k
      |  FROM customer
      |),
      |dirty AS (
      |  SELECT cid AS did,
      |         substr(k, 1, CAST(cid % 12 AS INT)) || 'x' ||
      |           substr(k, CAST(cid % 12 AS INT) + 2) AS k2
      |  FROM clean
      |)""".stripMargin

  /** The pairs of `inter (id_a, id_b, n_inter)` whose shingle Jaccard
    * over `sizes (id, n_sh)`, rounded to 6, is at least `min`. */
  private def duckJaccardSelect(min: String): String =
    s"""SELECT id_a, id_b,
       |       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.id = id_a
       |JOIN sizes sb ON sb.id = id_b
       |WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= $min""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "x_dedup_exact" ->
      """SELECT md5(coalesce(CAST(text AS VARCHAR), 'nan')) AS content_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "x_dedup_jaccard" ->
      s"""$containmentInterCte
         |${duckJaccardSelect("0.1")}""".stripMargin,
    // same CTE chain as the Jaccard statement; only the denominator
    // changes — containment of the smaller shingle set (shared CTE with
    // the election twin so the derivations cannot drift)
    "x_dedup_containment" ->
      s"""$containmentInterCte
         |SELECT id_a, id_b,
         |       round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS containment
         |FROM inter
         |JOIN sizes sa ON sa.id = id_a
         |JOIN sizes sb ON sb.id = id_b
         |WHERE round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) >= 0.5""".stripMargin,
    // containment pairs through CC + the n_chars election: identical
    // ranked/losers tail as x_dedup_keep_best, over the containment CTE
    "x_dedup_containment_elect" ->
      s"""${containmentInterCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.id = id_a
         |  JOIN sizes sb ON sb.id = id_b
         |  WHERE round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) >= 0.5
         |),
         |$duckKeepBestTail""".stripMargin,
    "x_dedup_minhash" ->
      s"""$minhashBandedCte
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.key = b.key AND a.id < b.id""".stripMargin,
    // batch (odd ids) probes the accumulated band index (even ids): the
    // same banded derivation, restricted on each join side
    "x_dedup_minhash_incremental" ->
      s"""$minhashBandedCte
         |SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
         |FROM banded b JOIN banded c
         |  ON b.band = c.band AND b.key = c.key
         | AND b.id % 2 = 1 AND c.id % 2 = 0""".stripMargin,
    "x_dedup_minhash_verified" ->
      s"""$minhashBandedCte,
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key AND a.id < b.id
         |),
         |ex AS (SELECT doc_id AS id, unnest(shingles) AS s FROM sh),
         |sizes AS (SELECT id, count(*) AS n_sh FROM ex GROUP BY id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN ex a ON a.id = c.id_a
         |  JOIN ex b ON b.id = c.id_b AND b.s = a.s
         |  GROUP BY 1, 2
         |)
         |${duckJaccardSelect("0.3")}""".stripMargin,
    "x_dedup_simhash" ->
      s"""$simhashFpCte
         |SELECT fp AS simhash, min(doc_id) AS keep_id, count(*) AS n_docs
         |FROM fp GROUP BY 1""".stripMargin,
    "x_dedup_simhash_near" ->
      s"""$simhashNearPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // the pairs-store build row persists exactly this pair set
    "x_stage_build_neardup_pairs" ->
      s"""$simhashNearPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // 64-bit twin: same pigeonhole pipeline, blocks generated from the
    // SAME hammingBlocks computation; DuckDB's arithmetic >> differs from
    // Spark's unsigned shift only above the masked width, so the block
    // values agree bit-for-bit even when the sign bit is set
    "x_dedup_simhash_wide" ->
      s"""$simhashWideNearPairsCte
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,
    // the wide pair graph through the SAME recursive-CC and election
    // statements as the 16-bit family
    "x_dedup_clusters_wide" ->
      s"""${simhashWideNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |${duckConnectedComponents("pairs")}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM cc GROUP BY id""".stripMargin,
    "x_dedup_keep_best_wide" ->
      s"""${simhashWideNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |$duckKeepBestTail""".stripMargin,
    // the blocking is an implementation detail; the contract is the O(n²)
    // definition, which the oracle states directly
    "x_dedup_editdist" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        |       CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin,
    // min-label connected components as a recursive CTE: cc enumerates
    // (node, reachable node) over the symmetric edge list, so min(label)
    // per node is the component minimum — the same fixpoint the iterative
    // Spark loop converges to
    "x_dedup_clusters" ->
      s"""${simhashNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |${duckConnectedComponents("pairs")}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM cc GROUP BY id""".stripMargin,
    // incremental ≡ full recompute on the union graph, so the oracle is
    // the same recursive-CC statement as x_dedup_clusters
    "x_dedup_clusters_incremental" ->
      s"""${simhashNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |${duckConnectedComponents("pairs")}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM cc GROUP BY id""".stripMargin,
    // takedown ≡ full recompute over the pairs not touching a removed id
    // (other docs' fingerprints are unchanged, so kept pairs ARE the
    // surviving corpus's pairs) — over the WIDE pair graph, the width
    // whose small components make affected-component repair meaningful
    "x_dedup_clusters_removed" ->
      s"""${simhashWideNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |kept AS (
         |  SELECT id_a, id_b FROM pairs WHERE id_a % 25 <> 3 AND id_b % 25 <> 3
         |),
         |${duckConnectedComponents("kept")}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM cc GROUP BY id""".stripMargin,
    "x_dedup_cluster_stats" ->
      s"""${simhashNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |${duckConnectedComponents("pairs")},
         |comp AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id),
         |szs AS (SELECT cluster_id, count(*) AS sz FROM comp GROUP BY cluster_id)
         |SELECT count(*) AS n_clusters,
         |       CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_docs_clustered,
         |       CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster_size,
         |       CAST(coalesce(sum(sz - 1), 0) AS BIGINT) AS n_removable
         |FROM szs""".stripMargin,
    "x_dedup_canonical" ->
      s"""${simhashNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |${duckCcLosers("pairs")}
         |SELECT d.doc_id FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)""".stripMargin,
    // survivor = rank-1 by (n_chars DESC, id) within the recursive-CTE
    // component — NULLS LAST mirrors the struct-max's null-loses rule
    "x_dedup_keep_best" ->
      s"""${simhashNearPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |$duckKeepBestTail""".stripMargin,
    // same position set (1-based starts, stride 1), raw-substring joins
    // instead of the 60-bit hashes, identical island-merge windows
    "x_dedup_spans" -> duckSpansSql(),
    // the staged spans stores' accumulated content: the ingestion loop
    // over the full corpus, replayed batch-aware
    "x_stage_build_spans" -> duckSpansBatchedSql("1 = 1"),
    // after purging every 7th doc, the stores equal the ingestion loop
    // over the SURVIVOR corpus — including survivor spans that existed
    // only through a removed doc's grams, which must be gone
    "x_dedup_spans_purged" -> duckSpansBatchedSql("doc_id % 7 <> 0"),
    // strided twin: position set steps by 4 and the island-merge group key
    // subtracts row_number()*4, so runs of stride-spaced duplicated
    // positions merge exactly as the Scala window does
    "x_dedup_spans_strided" -> duckSpansSql(stride = 4),
    // removal twin of the span report: same position set, but a position
    // is cut only when this doc is not the gram's min-id keeper; islands
    // interval-merge (strictly-overlapping only), then the cleaned text
    // reassembles from lag-segments + string_agg + tail — equivalent to
    // the Spark fold over disjoint sorted spans
    "x_dedup_spans_removed" ->
      s"""${duckSpanPositionsCte()},
         |st AS (
         |  SELECT gram, min(doc_id) AS keeper FROM pos
         |  GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
         |),
         |cut AS (
         |  SELECT pos.doc_id, pos.p FROM pos JOIN st USING (gram)
         |  WHERE pos.doc_id <> st.keeper
         |),
         |${duckSpanSurgery("documents")}""".stripMargin,
    "x_dedup_incremental" ->
      """WITH h AS (
        |  SELECT doc_id, md5(coalesce(CAST(text AS VARCHAR), 'nan')) AS content_hash
        |  FROM documents
        |),
        |known AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % 2 = 0),
        |novel AS (
        |  SELECT h.* FROM h LEFT JOIN known k USING (content_hash)
        |  WHERE k.content_hash IS NULL
        |)
        |SELECT doc_id, content_hash FROM (
        |  SELECT doc_id, content_hash,
        |    row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        |  FROM novel
        |) WHERE rn = 1""".stripMargin,
    "x_text_url_canonical" ->
      s"""$urlCanonCte
         |SELECT url_id, canonical_url, host FROM urlcanon""".stripMargin,
    "x_dedup_url" ->
      s"""$urlCanonCte
         |SELECT canonical_url, min(url_id) AS keep_id, count(*) AS n_dups
         |FROM urlcanon GROUP BY canonical_url""".stripMargin,
    "x_text_url_hosts" ->
      s"""$urlCanonCte
         |SELECT host, count(*) AS n_pages,
         |       count(DISTINCT canonical_url) AS n_urls
         |FROM urlcanon GROUP BY host""".stripMargin,
    "x_text_url_idn" ->
      s"""SELECT CAST(url_id AS BIGINT) AS url_id, canonical_url, host
         |FROM (VALUES $idnEdgeValuesSql)
         |  t(url_id, url, canonical_url, host)""".stripMargin,
    // the REP-subset parse replayed relationally: lines numbered,
    // comment-only/blank lines DROPPED before grouping (they end no UA
    // run — RFC 9309), groups = cumulative count of User-agent RUN
    // starts over the remaining lines, a group matches when any of its
    // UA lines names '*', blocked = matching group holding a root
    // Disallow
    "x_text_robots" ->
      s"""WITH robots AS (
        |  SELECT DISTINCT
        |    'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS host,
        |    CASE CAST((doc_id % 37) % 6 AS INT)
        |      WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /'
        |      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow: /private'
        |                  || chr(10) || chr(10) || 'User-agent: badbot'
        |                  || chr(10) || 'Disallow: /'
        |      WHEN 2 THEN '# note' || chr(10) || 'USER-AGENT: *   '
        |                  || chr(10) || ' Disallow:   /  '
        |      WHEN 3 THEN 'User-agent: badbot' || chr(10) || 'User-agent: *'
        |                  || chr(10) || 'Disallow: /'
        |      WHEN 4 THEN 'User-agent: *' || chr(10) || '# interleaved note'
        |                  || chr(10) || 'User-agent: badbot'
        |                  || chr(10) || 'Disallow: /'
        |      ELSE 'User-agent: badbot' || chr(10) || 'Disallow: /'
        |    END AS txt
        |  FROM documents
        |),
        |${duckRobotsGroupsCte(allowRules = false)},
        |m AS (
        |  SELECT host, grp, bool_or(is_ua AND lower(after) = '*') AS matches
        |  FROM g GROUP BY host, grp
        |)
        |SELECT DISTINCT g.host AS rule
        |FROM g JOIN m USING (host, grp)
        |WHERE g.is_dis AND g.after = '/' AND m.matches""".stripMargin,
    // the PATH-rule parse + longest-match gate replayed relationally:
    // the x_text_robots line/group machinery extended with Allow
    // directives and per-group agent sets; tier selection keeps a host's
    // graftbot-group rules when any exist, else its '*' rules; rules
    // compile to LIKE patterns (escape %/_/\, '*' -> '%', trailing-$
    // anchor vs appended '%') and the decision is the
    // (rule length DESC, allow DESC) election, blocked = best rule is a
    // Disallow
    "x_text_robots_paths" ->
      s"""WITH robots AS (
        |  SELECT DISTINCT
        |    'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS host,
        |    CASE CAST((doc_id % 37) % 9 AS INT)
        |      WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /private'
        |                  || chr(10) || 'Allow: /private/ok'
        |      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Allow: /p'
        |                  || chr(10) || 'Disallow: /p'
        |                  || chr(10) || 'Disallow: /public'
        |      WHEN 2 THEN 'User-agent: *' || chr(10) || 'Disallow: /'
        |                  || chr(10) || chr(10) || 'User-agent: graftbot'
        |                  || chr(10) || 'Disallow: /private'
        |      WHEN 3 THEN 'User-agent: *' || chr(10) || 'Disallow:'
        |      WHEN 4 THEN 'User-agent: *' || chr(10) || 'Disallow: /a'
        |           || chr(10) || 'Allow: /a/b' || chr(10) || 'Disallow: /a/b/c'
        |      WHEN 5 THEN 'User-agent: *' || chr(10) || 'Disallow: /*.pdf$$'
        |      WHEN 6 THEN 'User-agent: *' || chr(10) || 'Disallow: /a*z'
        |           || chr(10) || 'Allow: /a*zz'
        |      WHEN 7 THEN 'User-agent: *' || chr(10) || 'Disallow: /s%65cret'
        |           || chr(10) || 'Allow: /s%65cret/pub%6cic'
        |           || chr(10) || 'Disallow: /item%2A'
        |      ELSE 'User-agent: *' || chr(10) || 'Disallow: /search?q='
        |           || chr(10) || 'Allow: /search?q=safe'
        |    END AS txt
        |  FROM documents
        |),
        |${duckRobotsGroupsCte(allowRules = true)},
        |m AS (
        |  SELECT host, grp,
        |         bool_or(is_ua AND lower(after) = '*') AS m_star,
        |         bool_or(is_ua AND lower(after) = 'graftbot') AS m_ua
        |  FROM g GROUP BY host, grp
        |),
        |saw AS (SELECT host, bool_or(m_ua) AS saw_ua FROM m GROUP BY host),
        |eff AS (
        |  SELECT DISTINCT g.host, g.is_allow AS allow, g.after AS path
        |  FROM g
        |  JOIN m USING (host, grp)
        |  JOIN saw USING (host)
        |  WHERE (g.is_allow OR g.is_dis) AND g.after <> ''
        |    AND (m.m_star OR m.m_ua) AND m.m_ua = saw.saw_ua
        |),
        |nrm AS (
        |  SELECT host, allow, ${duckNormPct("path")} AS path FROM eff
        |),
        |cmp AS (
        |  SELECT host, allow, path, contains(path, '?') AS rq,
        |    CASE WHEN ends_with(path, '$$')
        |         THEN replace(replace(replace(replace(
        |                substr(path, 1, length(path) - 1),
        |                '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')
        |         ELSE replace(replace(replace(replace(path,
        |                '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%') || '%'
        |    END AS pat
        |  FROM nrm
        |),
        |urls AS (
        |  SELECT doc_id AS url_id,
        |    'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS host,
        |    (['/', '/private/ok/x', '/private/y', '/p/z', '/a/b/c/d',
        |      '/a/b/q', '/a/x', '/public', '/docs/r.pdf', '/docs/r.pdfx',
        |      '/abcz', '/abczz', '/s%65cret/x', '/secret/public/y',
        |      '/search?q=test', '/search?q=safe1', '/item%2a', '/item*'
        |     ])[CAST(doc_id % 18 AS INT) + 1] AS rawp
        |  FROM documents
        |),
        |np AS (
        |  SELECT url_id, host,
        |    ${duckNormPct("regexp_extract(rawp, '^([^?]*)', 1)")} AS p,
        |    ${duckNormPct("rawp")} AS pq
        |  FROM urls
        |),
        |matched AS (
        |  SELECT u.url_id, e.allow,
        |    row_number() OVER (PARTITION BY u.url_id
        |                       ORDER BY length(e.path) DESC, e.allow DESC) AS rn
        |  FROM np u
        |  JOIN cmp e ON u.host = e.host
        |    AND (CASE WHEN e.rq THEN u.pq ELSE u.p END) LIKE e.pat ESCAPE '\\'
        |)
        |SELECT url_id FROM matched WHERE rn = 1 AND NOT allow""".stripMargin,
    // cross-run URL dedup ≡ the full-fixture dedup restricted to
    // canonicals absent from the standing (even-id) store
    "x_dedup_url_incremental" ->
      s"""$urlCanonCte,
         |known AS (
         |  SELECT DISTINCT canonical_url FROM urlcanon WHERE url_id % 2 = 0
         |),
         |novel AS (
         |  SELECT u.* FROM urlcanon u LEFT JOIN known k USING (canonical_url)
         |  WHERE k.canonical_url IS NULL
         |)
         |SELECT canonical_url, min(url_id) AS keep_id
         |FROM novel GROUP BY canonical_url""".stripMargin,
    // normalized-paragraph dedup: canonical form = whitespace runs
    // collapsed, trimmed, lower-cased; keep-min (doc_id, position);
    // survivors rejoin with ORIGINAL text. Mirrors x_text_dedup_lines'
    // CTE chain with the canonicalization inserted before the hash.
    "x_dedup_paragraphs" ->
      s"""${duckParagraphsCte(near = false)},
         |rk AS (SELECT doc_id, p,
         |              row_number() OVER (PARTITION BY ph ORDER BY doc_id, p) AS rn
         |       FROM el),
         |dl AS (SELECT doc_id, list(p) AS dp FROM rk WHERE rn > 1 GROUP BY doc_id)
         |$duckParagraphsCut""".stripMargin,
    // incremental paragraph dedup: the exact-paragraph chain with the
    // keep-min election split into the standing-store hit (every batch
    // occurrence cut) and the batch-internal keep-min (rest cut)
    "x_dedup_paragraphs_incremental" ->
      s"""${duckParagraphsCte(near = false)},
         |standing AS (SELECT DISTINCT ph FROM el WHERE doc_id % 2 = 0),
         |batch AS (SELECT * FROM el WHERE doc_id % 2 = 1),
         |rk AS (
         |  SELECT b.doc_id, b.p, b.ph,
         |         s.ph IS NOT NULL AS hit,
         |         row_number() OVER (PARTITION BY b.ph ORDER BY b.doc_id, b.p) AS rn
         |  FROM batch b LEFT JOIN standing s USING (ph)
         |),
         |dl AS (SELECT doc_id, list(p) AS dp FROM rk
         |       WHERE hit OR rn > 1 GROUP BY doc_id)
         |$duckParagraphsCut
         |WHERE s.doc_id % 2 = 1""".stripMargin,
    // paragraph NEAR-dup: the exact-paragraph chain extended by the
    // MinHash/LSH replay (identical hash arithmetic to the minhash
    // oracles: md5(j || '#' || shingle) mins, md5-of-band-slice keys)
    // and the per-bucket keep-min election; drops = every occurrence of
    // a losing class + every non-first occurrence of a survivor
    "x_dedup_paragraphs_near" ->
      s"""${duckParagraphsCte(near = true)},
         |occ AS (SELECT ph, doc_id, p,
         |               row_number() OVER (PARTITION BY ph ORDER BY doc_id, p) AS rn
         |        FROM el),
         |mk AS (SELECT ph, doc_id AS mk_doc, p AS mk_p FROM occ WHERE rn = 1),
         |cw AS (
         |  SELECT ph, list_filter(regexp_split_to_array(min(cu), '\\s+'),
         |                         t -> length(t) > 0) AS w
         |  FROM el GROUP BY ph
         |),
         |${duckParagraphBands("")},
         |${duckParagraphLosers("bd")},
         |drops AS (
         |  SELECT o.doc_id, o.p FROM occ o LEFT JOIN lsr USING (ph)
         |  WHERE lsr.ph IS NOT NULL OR o.rn > 1
         |),
         |dl AS (SELECT doc_id, list(p) AS dp FROM drops GROUP BY doc_id)
         |$duckParagraphsCut""".stripMargin,
    // incremental paragraph NEAR-dup: the near chain split into the
    // standing (even-doc) side — distinct classes + their band keys —
    // and the batch (odd-doc) side; cuts = exact standing hits, batch
    // classes sharing a bucket with ANY standing class, batch-internal
    // bucket-election losers (over ALL novel classes — a near-hit class
    // still occupies its buckets, the one-pass election), and survivors'
    // non-first occurrences
    "x_dedup_paragraphs_near_incremental" ->
      s"""${duckParagraphsCte(near = true)},
         |sel AS (SELECT * FROM el WHERE doc_id % 2 = 0),
         |bel AS (SELECT * FROM el WHERE doc_id % 2 = 1),
         |sph AS (SELECT DISTINCT ph FROM sel),
         |scw AS (
         |  SELECT ph, list_filter(regexp_split_to_array(min(cu), '\\s+'),
         |                         t -> length(t) > 0) AS w
         |  FROM sel GROUP BY ph
         |),
         |${duckParagraphBands("s")},
         |occ AS (SELECT ph, doc_id, p,
         |               row_number() OVER (PARTITION BY ph ORDER BY doc_id, p) AS rn
         |        FROM bel),
         |hitocc AS (SELECT o.doc_id, o.p FROM occ o JOIN sph USING (ph)),
         |nocc AS (SELECT o.* FROM occ o LEFT JOIN sph s USING (ph)
         |         WHERE s.ph IS NULL),
         |mk AS (SELECT ph, doc_id AS mk_doc, p AS mk_p FROM nocc WHERE rn = 1),
         |bcw AS (
         |  SELECT b.ph, list_filter(regexp_split_to_array(min(b.cu), '\\s+'),
         |                           t -> length(t) > 0) AS w
         |  FROM bel b JOIN mk USING (ph) GROUP BY b.ph
         |),
         |${duckParagraphBands("b")},
         |nearhit AS (
         |  SELECT DISTINCT b.ph FROM bbd b
         |  JOIN sbd s ON b.band = s.band AND b.key = s.key
         |),
         |${duckParagraphLosers("bbd")},
         |cut AS (SELECT ph FROM nearhit UNION SELECT ph FROM lsr),
         |drops AS (
         |  SELECT doc_id, p FROM hitocc
         |  UNION ALL
         |  SELECT o.doc_id, o.p FROM nocc o LEFT JOIN cut USING (ph)
         |  WHERE cut.ph IS NOT NULL OR o.rn > 1
         |),
         |dl AS (SELECT doc_id, list(p) AS dp FROM drops GROUP BY doc_id)
         |$duckParagraphsCut
         |WHERE s.doc_id % 2 = 1""".stripMargin,
    "x_fuzzy_join" ->
      s"""$duckFuzzyKeysCte
        |SELECT c.cid AS left_id, d.did AS right_id,
        |       CAST(levenshtein(c.k, d.k2) AS INT) AS dist
        |FROM clean c CROSS JOIN dirty d
        |WHERE levenshtein(c.k, d.k2) <= 1""".stripMargin,
    "x_fuzzy_join_best" ->
      s"""$duckFuzzyKeysCte,
        |pairs AS (
        |  SELECT c.cid AS left_id, d.did AS right_id,
        |         CAST(levenshtein(c.k, d.k2) AS INT) AS dist
        |  FROM clean c CROSS JOIN dirty d
        |  WHERE levenshtein(c.k, d.k2) <= 1
        |)
        |SELECT left_id, right_id, dist FROM pairs
        |QUALIFY row_number() OVER (PARTITION BY right_id
        |                           ORDER BY dist, left_id) = 1""".stripMargin,
  )
}
