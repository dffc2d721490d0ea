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
import graft.registry.RegistryText.{duckBpeTrainSql, duckBpeVocabSql, duckDni, duckIban, duckLangModelSql, duckLuhn, duckQualityTrainSql, duckRedactStage, qcTraceSelect, qcTrainedSelect}

/** DuckDB oracle twins of [[RegistryText]]'s registrations — the SQL
  * statements the driver replays per row. Split from the registration
  * lambdas (r18 hygiene: the registry files were drifting back toward
  * the pre-r14 monolith); keys are byte-identical to the query side,
  * enforced by SparkEntry's key-parity check. */
private[graft] object RegistryTextOracles {
  /** The packing rows' token counts: whitespace words per doc, sharded by
    * doc_id % 8 (`t (doc_id, shard, n_tokens)`). */
  private val duckWordCountsCte: String =
    """t AS (
      |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      |      x -> length(x) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents
      |)""".stripMargin

  /** [[duckWordCountsCte]] over the BPE rows' per-doc counts `cnt`. */
  private val duckShardedCountsCte: String =
    """t AS (
      |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, n_tokens FROM cnt
      |)""".stripMargin

  /** The greedy sequence-packing chain over the counts `counts` (the CTE
    * `t`): each shard's running token sum in doc order (`c`), and a doc's
    * pack = floor(tokens before it / `capacity`) (`p`, keeping `cols`). */
  private def duckPackCtes(counts: String, cols: String, capacity: String): String =
    s"""$counts,
       |c AS (
       |  SELECT doc_id, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
       |  FROM t
       |),
       |p AS (
       |  SELECT $cols,
       |    CAST(floor(CAST(cum - n_tokens AS DOUBLE) / $capacity) AS BIGINT) AS pack_id
       |  FROM c
       |)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    // the full-depth stress-table replay: re-derive all 55,005 rules from
    // the published construction (95 printable bytes -> digrams in
    // lexicographic (a, b) order; 22 frequent letters -> trigram
    // composites over their digram products), keep the rules whose
    // pattern bytes occur in the sample (merges never create byte
    // content, so any pattern that ever matches during replay is a
    // contiguous byte substring of some initial pre-token — dropped
    // rules are provably no-op replaces), and apply the survivors in
    // rank order, one per recursion step. MATERIALIZED pins the live
    // rule table: DuckDB would otherwise re-derive the 55k rules inside
    // every recursion step.
    "x_text_bpe50k_count" ->
      """WITH RECURSIVE
        |pr AS (SELECT printf('%02x', r) AS h, CAST(r - 32 AS BIGINT) AS i
        |       FROM range(32, 127) t(r)),
        |fq AS (
        |  SELECT printf('%02x', unicode(c)) AS h, CAST(o - 1 AS BIGINT) AS i
        |  FROM (SELECT unnest(string_split('e t a o i n s h r d l u c m f w y p v b g k', ' ')) AS c,
        |               unnest(range(1, 23)) AS o)
        |),
        |rules AS (
        |  SELECT a.i * 95 + b.i AS rank, a.h AS lhs, b.h AS rhs FROM pr a, pr b
        |  UNION ALL
        |  SELECT 9025 + (fa.i * 22 + fb.i) * 95 + c.i AS rank, fa.h || fb.h AS lhs, c.h AS rhs
        |  FROM fq fa, fq fb, pr c
        |),
        |tok AS (
        |  SELECT doc_id, CASE WHEN i = 1 THEN tok0 ELSE ' ' || tok0 END AS tok, i
        |  FROM (
        |    SELECT doc_id,
        |      unnest(string_split(text, ' ')) AS tok0,
        |      unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |    FROM documents WHERE doc_id % 83 = 0
        |  )
        |),
        |sym0 AS MATERIALIZED (
        |  SELECT doc_id,
        |    string_agg(regexp_replace(lower(hex(encode(tok))), '(..)', '>\1|', 'g'),
        |               '#' ORDER BY i) AS w
        |  FROM tok WHERE tok <> ''
        |  GROUP BY doc_id
        |),
        |hx AS MATERIALIZED (
        |  SELECT string_agg(replace(replace(w, '>', ''), '|', ''), '#') AS all_hex
        |  FROM sym0
        |),
        |live AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY rank) - 1 AS step, lhs, rhs
        |  FROM rules, hx WHERE contains(hx.all_hex, lhs || rhs)
        |),
        |steps AS (
        |  SELECT doc_id, w, CAST(0 AS BIGINT) AS r FROM sym0
        |  UNION ALL
        |  SELECT s.doc_id,
        |    replace(s.w, '>' || ru.lhs || '|>' || ru.rhs || '|',
        |            '>' || ru.lhs || ru.rhs || '|'),
        |    s.r + 1
        |  FROM steps s JOIN live ru ON ru.step = s.r
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(length(s.w) - length(replace(s.w, '>', '')), 0) AS BIGINT) AS n_tok
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 83 = 0) d
        |LEFT JOIN (SELECT doc_id, w FROM steps
        |           WHERE r = (SELECT count(*) FROM live)) s USING (doc_id)""".stripMargin,
    "x_text_bpe_train" -> duckBpeTrainSql(rounds = 8, minPairCount = 2L),
    "x_text_bpe_vocab" -> duckBpeVocabSql(rounds = 8, minPairCount = 2L),
    // token-run collapsing: keep w[i] iff it differs from w[i-1] (i = 1
    // always kept; w[0] is NULL in DuckDB's 1-based lists, and NULL <>
    // never passes, so the i = 1 arm carries the first token)
    "x_text_collapse" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |  array_to_string(list_filter(list_transform(range(1, len(w) + 1),
        |    i -> CASE WHEN i = 1 OR w[i] <> w[i-1] THEN w[i] END),
        |    x -> x IS NOT NULL), ' ') AS collapsed
        |FROM toks""".stripMargin,
    // global line dedup: keeper = row_number 1 over (doc_id, p) per line
    // hash — the same lexicographic-min convention as Spark's
    // min(struct(id, p)); DuckDB list lambdas are 1-based, hence i - 1
    "x_text_dedup_lines" ->
      s"""WITH lined AS (
         |  SELECT doc_id,
         |         regexp_replace(text, '((?:\\S+ ){8})', '\\1' || chr(10), 'g') AS text
         |  FROM documents
         |),
         |sp AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lined),
         |ex AS (
         |  SELECT doc_id, CAST(i AS INT) - 1 AS p, ls[CAST(i AS INT)] AS line
         |  FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i FROM sp)
         |),
         |el AS (SELECT doc_id, p, ${duckHash60("line")} AS lh FROM ex
         |       WHERE length(line) >= 1),
         |rk AS (SELECT doc_id, p,
         |              row_number() OVER (PARTITION BY lh ORDER BY doc_id, p) AS rn
         |       FROM el),
         |dl AS (SELECT doc_id, list(p) AS dp FROM rk WHERE rn > 1 GROUP BY doc_id)
         |SELECT s.doc_id,
         |       CASE WHEN d.dp IS NULL THEN s.text
         |            -- coalesce: DuckDB's array_to_string is NULL on an empty
         |            -- list, but a fully-deduplicated doc keeps empty text
         |            ELSE coalesce(array_to_string(
         |              list_filter(s.ls, (x, i) -> NOT list_contains(d.dp, i - 1)),
         |              chr(10)), '')
         |       END AS cleaned
         |FROM sp s LEFT JOIN dl d USING (doc_id)""".stripMargin,
    // contiguous-fill packing: pack = floor(preceding-cumsum / budget)
    // within an id-ordered shard window — byte-identical window semantics
    // in Spark and DuckDB
    // per-doc token-ID stream: the replay chain split back into symbols
    // and joined to the standard BPE vocabulary (bytes 0..255, rule at
    // rank r = id 256 + r)
    "x_text_bpe_encode" ->
      s"""WITH ${duckBpeIdCtes("doc_id % 13 = 0")}
         |SELECT doc_id, CAST(tok_pos AS INT) AS tok_pos, id AS token_id
         |FROM ord""".stripMargin,
    // packed training sequences: the x_pack_bpe pack derivation (counts
    // from the id stream, same cum/floor fill) restricted to the 1/13
    // corpus, then each pack's stream = member docs' ids in
    // (pack_pos, tok_pos) order
    "x_pack_bpe_sequences" ->
      s"""WITH ${duckBpeIdCtes("doc_id % 13 = 0")},
         |cnt AS (
         |  SELECT d.doc_id, CAST(coalesce(count(o.id), 0) AS BIGINT) AS n_tokens
         |  FROM (SELECT doc_id FROM documents WHERE doc_id % 13 = 0) d
         |  LEFT JOIN ord o ON o.doc_id = d.doc_id
         |  GROUP BY d.doc_id
         |),
         |${duckPackCtes(duckShardedCountsCte, "doc_id, shard", "2048.0")},
         |pp AS (
         |  SELECT doc_id, shard, pack_id,
         |    row_number() OVER (PARTITION BY shard, pack_id ORDER BY doc_id) AS pack_pos
         |  FROM p
         |),
         |seq AS (
         |  SELECT pp.shard, pp.pack_id, o.id,
         |    row_number() OVER (PARTITION BY pp.shard, pp.pack_id
         |                       ORDER BY pp.pack_pos, o.tok_pos) AS seq_pos
         |  FROM pp JOIN ord o ON o.doc_id = pp.doc_id
         |)
         |SELECT shard, pack_id, CAST(seq_pos AS BIGINT) AS seq_pos, id AS token_id
         |FROM seq""".stripMargin,
    "x_pack_bpe" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CASE WHEN i = 1 THEN tok0 ELSE ' ' || tok0 END AS tok
         |  FROM (
         |    SELECT doc_id,
         |      unnest(string_split(text, ' ')) AS tok0,
         |      unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
         |    FROM documents
         |  )
         |),
         |sym AS (
         |  SELECT doc_id, ${duckBpeSymExpr("tok")} AS s
         |  FROM tok WHERE tok <> ''
         |),
         |cnt AS (
         |  SELECT d.doc_id,
         |    CAST(coalesce(sum(length(s) - length(replace(s, '>', ''))), 0) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d LEFT JOIN sym ON sym.doc_id = d.doc_id
         |  GROUP BY d.doc_id
         |),
         |${duckPackCtes(duckShardedCountsCte, "doc_id, shard, n_tokens", "2048.0")}
         |SELECT doc_id, shard, n_tokens, pack_id,
         |  CAST(row_number() OVER (PARTITION BY shard, pack_id ORDER BY doc_id) AS BIGINT)
         |    AS pack_pos
         |FROM p""".stripMargin,
    // the BFD assignment replayed sequentially: the recursive CTE steps
    // one document per shard per iteration, carrying the open-bin list
    // (bin id, fill) as a struct list; the pick = the fullest feasible
    // bin via list_sort on (used, -bin) structs (last = max fill, min id)
    "x_pack_bfd" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
        |    CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> length(x) > 0)), 0) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |d AS (
        |  SELECT doc_id, shard, n_tokens,
        |    row_number() OVER (PARTITION BY shard
        |                       ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM t
        |),
        |step AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rn,
        |         CAST([] AS STRUCT(bin BIGINT, used BIGINT)[]) AS bins,
        |         CAST(NULL AS BIGINT) AS doc_id,
        |         CAST(NULL AS BIGINT) AS n_tokens,
        |         CAST(NULL AS BIGINT) AS pack_id
        |  FROM (SELECT DISTINCT shard FROM d)
        |  UNION ALL
        |  SELECT shard, rn,
        |    CASE WHEN pick IS NULL
        |         THEN list_append(bins, {'bin': nb, 'used': nt})
        |         ELSE list_transform(bins, b ->
        |           CASE WHEN b.bin = pick
        |                THEN {'bin': b.bin, 'used': b.used + nt}
        |                ELSE b END)
        |    END AS bins,
        |    doc_id, nt AS n_tokens, coalesce(pick, nb) AS pack_id
        |  FROM (
        |    SELECT s.shard, s.rn + 1 AS rn, s.bins AS bins, d.doc_id,
        |           d.n_tokens AS nt, CAST(len(s.bins) AS BIGINT) AS nb,
        |           CASE WHEN len(list_filter(s.bins,
        |                          b -> b.used + d.n_tokens <= 512)) = 0
        |                THEN NULL
        |                ELSE -(list_last(list_sort(list_transform(
        |                    list_filter(s.bins, b -> b.used + d.n_tokens <= 512),
        |                    b -> {'used': b.used, 'negbin': -b.bin}))).negbin)
        |           END AS pick
        |    FROM step s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1
        |  )
        |)
        |SELECT doc_id, shard, n_tokens, pack_id,
        |  CAST(row_number() OVER (PARTITION BY shard, pack_id ORDER BY rn)
        |       AS BIGINT) AS pack_pos
        |FROM step WHERE doc_id IS NOT NULL""".stripMargin,
    "x_pack_sequences" ->
      s"""WITH ${duckPackCtes(duckWordCountsCte, "doc_id, shard, n_tokens", "512.0")}
        |SELECT doc_id, shard, n_tokens, pack_id,
        |  CAST(row_number() OVER (PARTITION BY shard, pack_id ORDER BY doc_id) AS BIGINT)
        |    AS pack_pos
        |FROM p""".stripMargin,
    // the export's assignment law replayed: the x_pack_sequences chain
    // rolled to pack level, file_idx = floor(rank/16) per shard stream,
    // manifest = per-file counts + the deterministic address
    "x_pack_shard_export" ->
      s"""WITH ${duckPackCtes(duckWordCountsCte, "shard, n_tokens", "512.0")},
        |seqs AS (SELECT shard, pack_id FROM p GROUP BY shard, pack_id),
        |a AS (
        |  SELECT shard, pack_id,
        |    CAST(floor((row_number() OVER (PARTITION BY shard ORDER BY pack_id)
        |                - 1) / 16.0) AS BIGINT) AS file_idx
        |  FROM seqs
        |)
        |SELECT shard, file_idx, count(*) AS n_seqs
        |FROM a GROUP BY shard, file_idx""".stripMargin,
    // the boundary arrays replayed flat: per (shard, pack) position in
    // doc_id order, offset = running token sum of the PRECEDING members
    "x_pack_shard_boundaries" ->
      s"""WITH ${duckPackCtes(duckWordCountsCte, "doc_id, shard, n_tokens", "512.0")}
        |SELECT shard, pack_id,
        |  CAST(row_number() OVER (PARTITION BY shard, pack_id ORDER BY doc_id)
        |       AS BIGINT) AS seq_pos,
        |  doc_id,
        |  CAST(coalesce(sum(n_tokens) OVER (
        |    PARTITION BY shard, pack_id ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS doc_offset
        |FROM p""".stripMargin,
    // groups pack as units by total tokens (window over GROUPS, keyed and
    // sharded by each group's smallest doc_id), then join back to rows
    "x_pack_groups" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 100 AS BIGINT) AS grp,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |g AS (
        |  SELECT grp, sum(n_tokens) AS grp_tokens, min(doc_id) AS grp_key
        |  FROM t GROUP BY grp
        |),
        |c AS (
        |  SELECT grp, grp_tokens, grp_key, CAST(grp_key % 8 AS BIGINT) AS shard,
        |    sum(grp_tokens) OVER (PARTITION BY grp_key % 8 ORDER BY grp_key) AS cum
        |  FROM g
        |),
        |p AS (
        |  SELECT grp, shard,
        |    CAST(floor(CAST(cum - grp_tokens AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id
        |  FROM c
        |)
        |SELECT t.doc_id, t.grp, p.shard, p.pack_id
        |FROM t JOIN p USING (grp)""".stripMargin,
    // the group-atomic BFD replayed sequentially over GROUP totals — the
    // x_pack_bfd recursive chain with (grp_tokens DESC, grp_key, grp)
    // as the pinned processing order
    "x_pack_groups_bfd" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, CAST(doc_id % 100 AS BIGINT) AS grp,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |g AS (
        |  SELECT grp, CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS grp_tokens,
        |         min(doc_id) AS grp_key
        |  FROM t GROUP BY grp
        |),
        |d AS (
        |  SELECT grp, grp_tokens, grp_key, CAST(grp_key % 8 AS BIGINT) AS shard,
        |    row_number() OVER (PARTITION BY grp_key % 8
        |                       ORDER BY grp_tokens DESC, grp_key, grp) AS rn
        |  FROM g
        |),
        |step AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rn,
        |         CAST([] AS STRUCT(bin BIGINT, used BIGINT)[]) AS bins,
        |         CAST(NULL AS BIGINT) AS grp, CAST(NULL AS BIGINT) AS pack_id
        |  FROM (SELECT DISTINCT shard FROM d)
        |  UNION ALL
        |  SELECT shard, rn,
        |    CASE WHEN pick IS NULL
        |         THEN list_append(bins, {'bin': nb, 'used': nt})
        |         ELSE list_transform(bins, b ->
        |           CASE WHEN b.bin = pick
        |                THEN {'bin': b.bin, 'used': b.used + nt}
        |                ELSE b END)
        |    END AS bins,
        |    grp, coalesce(pick, nb) AS pack_id
        |  FROM (
        |    SELECT s.shard, s.rn + 1 AS rn, s.bins AS bins, d.grp,
        |           d.grp_tokens AS nt, CAST(len(s.bins) AS BIGINT) AS nb,
        |           CASE WHEN len(list_filter(s.bins,
        |                          b -> b.used + d.grp_tokens <= 2048)) = 0
        |                THEN NULL
        |                ELSE -(list_last(list_sort(list_transform(
        |                    list_filter(s.bins, b -> b.used + d.grp_tokens <= 2048),
        |                    b -> {'used': b.used, 'negbin': -b.bin}))).negbin)
        |           END AS pick
        |    FROM step s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1
        |  )
        |)
        |SELECT t.doc_id, t.grp, p.shard, p.pack_id, p.pack_pos
        |FROM t JOIN (SELECT grp, shard, pack_id,
        |               CAST(row_number() OVER (PARTITION BY shard, pack_id
        |                                       ORDER BY rn) AS BIGINT) AS pack_pos
        |             FROM step WHERE grp IS NOT NULL) p USING (grp)""".stripMargin,
    "x_pack_summary" ->
      s"""WITH ${duckPackCtes(duckWordCountsCte, "shard, n_tokens", "512.0")}
        |SELECT shard, pack_id, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |       round(CAST(sum(n_tokens) AS DOUBLE) / 512.0, 6) AS fill_ratio
        |FROM p GROUP BY shard, pack_id""".stripMargin,
    "x_text_profile" -> textProfileOracle,
    "x_text_lang" -> langIdOracle,
    "x_text_logprob" ->
      s"""WITH $duckToksCte,
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(w) AS term FROM toks)
         |  GROUP BY 1, 2
         |),
         |freq AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
         |tot AS (SELECT sum(cf) AS total FROM freq)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(ln(CAST(cf AS DOUBLE) / CAST(total AS DOUBLE))
         |                       * CAST(tf AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |        / CAST(sum(tf) AS DOUBLE), 6) AS logprob
         |FROM tf JOIN freq USING (term), tot
         |GROUP BY doc_id""".stripMargin,
    // bigram mirror of x_text_logprob: P(w2|w1) = cbg/cp where cp sums
    // the bigram counts sharing the prefix; 1-based list indexing, i in
    // [1, len-1] pairs w[i] with w[i+1], so <2-token docs vanish
    "x_text_bigram" ->
      s"""WITH $duckToksCte,
         |bg AS (
         |  SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)
         |),
         |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
         |bgf AS (SELECT w1, w2, sum(tf) AS cbg FROM tf GROUP BY 1, 2),
         |pref AS (SELECT w1, sum(cbg) AS cp FROM bgf GROUP BY 1)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(CAST(ln(CAST(cbg AS DOUBLE) / CAST(cp AS DOUBLE))
         |                       * CAST(tf AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |        / CAST(sum(tf) AS DOUBLE), 6) AS logprob
         |FROM tf JOIN bgf USING (w1, w2) JOIN pref USING (w1)
         |GROUP BY doc_id""".stripMargin,
    "x_text_boilerplate" ->
      s"""$docShinglesCte,
         |ex AS (SELECT doc_id, unnest(shingles) AS gram FROM sh)
         |SELECT gram, count(*) AS df FROM ex GROUP BY gram
         |ORDER BY df DESC, gram LIMIT 20""".stripMargin,
    // weights, dot products and norms mirror TextAnalysis.tfidfCosinePairs
    // operand-for-operand: round(tf*ln(1+n/df),6) weights, decimal sums
    "x_text_tfidf_pairs" ->
      s"""$docShinglesCte,
         |tf AS (
         |  SELECT id, term, count(*) AS tf
         |  FROM (SELECT doc_id AS id, unnest(w) AS term FROM toks)
         |  GROUP BY 1, 2
         |),
         |st AS (SELECT count(DISTINCT id) AS n FROM tf),
         |dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |  HAVING count(*) <= 100
         |),
         |wt AS (
         |  SELECT id, term,
         |         round(CAST(tf AS DOUBLE)
         |               * ln(1.0 + CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS w
         |  FROM tf JOIN dfreq USING (term), st
         |),
         |nrm AS (
         |  SELECT id, sum(CAST(w * w AS DECIMAL(28,12))) AS nrm FROM wt GROUP BY id
         |),
         |num AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         sum(CAST(a.w * b.w AS DECIMAL(28,12))) AS dot
         |  FROM wt a JOIN wt b ON a.term = b.term AND a.id < b.id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b,
         |       round(CAST(dot AS DOUBLE)
         |             / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6)
         |         AS cosine
         |FROM num
         |JOIN nrm na ON na.id = id_a
         |JOIN nrm nb ON nb.id = id_b
         |WHERE round(CAST(dot AS DOUBLE)
         |            / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6) >= 0.3""".stripMargin,
    "x_text_winnow" ->
      s"""$winnowFpsCte
         |SELECT doc_id, pos, fp FROM fps""".stripMargin,
    "x_text_winnow_pairs" ->
      s"""$winnowFpsCte,
         |dfp AS (SELECT DISTINCT doc_id AS id, fp FROM fps),
         |jn AS (
         |  SELECT fp FROM dfp GROUP BY fp HAVING count(*) BETWEEN 2 AND 100
         |),
         |fl AS (SELECT id, d.fp FROM dfp d JOIN jn USING (fp))
         |SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         |FROM fl a JOIN fl b ON a.fp = b.fp AND a.id < b.id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "x_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS w
        |  FROM documents
        |),
        |d AS (SELECT doc_id, w, len(w) AS dl FROM toks),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
        |terms AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM terms WHERE term IN ('spark', 'vector', 'join', 'hash')
        |  GROUP BY doc_id, term
        |),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT doc_id,
        |    (ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2)) /
        |    (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS s
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |)
        |SELECT CAST(doc_id AS BIGINT) AS id,
        |  round(CAST(sum(CAST(s AS DECIMAL(28,12))) AS DOUBLE), 6) AS bm25,
        |  count(*) AS n_terms
        |FROM scored GROUP BY doc_id""".stripMargin,
    // generated from the same pattern list the operator uses, so query and
    // oracle cannot drift; DuckDB needs the 'g' flag for replace-all
    "x_text_redact" -> {
      val chain = TextAnalysis.piiPatterns.foldLeft("text") { case (acc, (tag, p)) =>
        s"regexp_replace($acc, '$p', '<$tag>', 'g')"
      }
      s"SELECT doc_id, $chain AS redacted FROM documents"
    },
    // the trained-language-ID replay (training + argmax, one statement)
    "x_text_lang_model" -> duckLangModelSql(
      """SELECT doc_id,
        |  CASE WHEN maxm = 0 THEN 'und' ELSE lang END AS lang,
        |  CASE WHEN maxm = 0 THEN NULL ELSE score END AS lang_score
        |FROM rk WHERE rn = 1""".stripMargin),
    "x_text_lang_model_gate" -> duckLangModelSql(
      """SELECT doc_id
        |FROM rk WHERE rn = 1 AND maxm > 0 AND lang = 'en'""".stripMargin),
    // the extended classes replayed stage by stage: base regex trio, then
    // one conditional-redaction CTE per checksum class (IBAN mod-97, card
    // Luhn, DNI check letter — list_filter with the fold spelled out),
    // then the format-only SSN replace; the planted-vector CASE mirrors
    // the registered row's when-chain
    "x_text_redact_pii2" -> {
      val base = TextAnalysis.piiPatterns.foldLeft("t") { case (acc, (tag, p)) =>
        s"regexp_replace($acc, '$p', '<$tag>', 'g')"
      }
      s"""WITH src AS (
         |  SELECT doc_id, text || ' ' || CASE CAST(doc_id % 8 AS INT)
         |    WHEN 0 THEN 'pay 4111 1111 1111 1111 today'
         |    WHEN 1 THEN 'fake 1234 5678 9012 3456 stays'
         |    WHEN 2 THEN 'iban DE89370400440532013000 ok'
         |    WHEN 3 THEN 'iban DE89370400440532013001 bad'
         |    WHEN 4 THEN 'id 12345678Z ssn 123-45-6789'
         |    WHEN 5 THEN 'id 12345678A stays amex 378282246310005 goes'
         |    WHEN 6 THEN 'card 5500-0000-0000-0004 mail a@b.co tel +49 151 234 5678'
         |    ELSE 'ref 12345678901234567890 is an id not a card' END AS t
         |  FROM documents
         |),
         |p0 AS (SELECT doc_id, $base AS t FROM src),
         |p1 AS (SELECT doc_id,
         |  ${duckRedactStage(TextAnalysis.IbanPattern, duckIban, "IBAN")} AS t FROM p0),
         |p2 AS (SELECT doc_id,
         |  ${duckRedactStage(TextAnalysis.CardPattern, duckLuhn, "CARD")} AS t FROM p1),
         |p3 AS (SELECT doc_id,
         |  ${duckRedactStage(TextAnalysis.DniPattern, duckDni, "DNI")} AS t FROM p2)
         |SELECT doc_id,
         |  regexp_replace(t, '${TextAnalysis.SsnPattern}', '<SSN>', 'g') AS redacted
         |FROM p3""".stripMargin
    },
    // stride = size - overlap = 96; generate_series is inclusive like
    // Spark's sequence, and both substrings are code-point addressed
    // redundant-tail rule mirrored: a non-first start within `overlap`
    // (24) of the end is entirely contained in its predecessor and drops
    "x_text_chunks" ->
      """WITH st AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, length(text), 96)) AS start
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |)
        |SELECT doc_id,
        |  CAST((start - 1) // 96 AS INT) AS chunk_idx,
        |  CAST(start AS INT) AS chunk_start,
        |  substring(text, CAST(start AS INT), 120) AS chunk_text
        |FROM st
        |WHERE start = 1 OR start + 23 < length(text)""".stripMargin,
    // the suffix is built from chr() so the oracle text is unambiguous:
    // chr(769) = combining acute, chr(8491) = Angstrom sign; DuckDB's
    // nfc_normalize must produce the same precomposed bytes as the
    // JDK Normalizer, and \s is ASCII whitespace in both regex engines
    "x_text_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    nfc_normalize(text || '  cafe' || chr(769) || ' ' || chr(8491) || ' end ')
        |      AS nfc
        |  FROM documents
        |)
        |SELECT doc_id, trim(regexp_replace(nfc, '\s+', ' ', 'g')) AS norm_text,
        |       CAST(length(trim(regexp_replace(nfc, '\s+', ' ', 'g'))) AS INT) AS n_chars_norm
        |FROM raw""".stripMargin,
    // same whitespace tokenization CTE shape as x_text_quality; vocab =
    // distinct tokens of the every-5th-doc slice
    "x_text_oov" ->
      """WITH voc AS (
        |  SELECT DISTINCT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |           t -> length(t) > 0)) AS tok
        |  FROM documents WHERE doc_id % 5 = 0
        |),
        |d AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |           t -> length(t) > 0) AS w
        |  FROM documents WHERE doc_id % 5 <> 0
        |),
        |ex AS (SELECT doc_id, unnest(w) AS tok FROM d),
        |kn AS (
        |  SELECT doc_id, count(*) AS n_known
        |  FROM ex JOIN voc USING (tok) GROUP BY doc_id
        |)
        |SELECT d.doc_id, len(w) AS n_tokens,
        |       len(w) - coalesce(n_known, 0) AS n_oov,
        |       round(CASE WHEN len(w) = 0 THEN 0.0
        |             ELSE CAST(len(w) - coalesce(n_known, 0) AS DOUBLE) / len(w)
        |             END, 6) AS oov_rate
        |FROM d LEFT JOIN kn USING (doc_id)""".stripMargin,
    // DuckDB's entropy aggregate is log2-based and substring is
    // code-point addressed, both matching the kernel; empty list → 0.0
    // on both engines
    "x_text_entropy" ->
      """SELECT doc_id,
        |  round(list_aggregate(list_transform(range(1, length(text) + 1),
        |          i -> substring(text, i, 1)), 'entropy'), 6) AS char_entropy
        |FROM documents""".stripMargin,
    "x_text_quality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS w
         |  FROM documents
         |),
         |$qualityMetricsCte
         |SELECT doc_id, n_tokens, mean_token_len, alpha_ratio,
         |       top_bigram_ratio, top_trigram_ratio,
         |       $qualityKeepPredicate AS keep
         |FROM m""".stripMargin,
    "x_text_quality_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS w
         |  FROM documents
         |),
         |$qualityMetricsCte
         |SELECT doc_id, n_tokens,
         |       ${duckQualityScore(Helpers.qualityWeights, Helpers.qualityBias)}
         |         AS quality_score
         |FROM m""".stripMargin,
    // the trained classifier's WHOLE weight trace replayed: one chained
    // CTE per GD iteration (Elliott activation, decimal gradient sums,
    // 6-decimal weight re-rounding), generated from the same constants
    "x_text_quality_train" -> duckQualityTrainSql(qcTraceSelect),
    // the last iteration's weights applied back over the scaled corpus
    "x_text_quality_trained" -> duckQualityTrainSql(qcTrainedSelect),
    "x_text_report" ->
      """WITH toks AS (
        |  SELECT text, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS w
        |  FROM documents
        |),
        |d AS (SELECT text, len(w) AS n_tok FROM toks)
        |SELECT count(*) AS n_docs,
        |  count(CASE WHEN text IS NULL THEN 1 END) AS n_null,
        |  count(CASE WHEN length(text) = 0 THEN 1 END) AS n_empty,
        |  quantile_cont(n_tok, 0.5) AS tokens_p50,
        |  quantile_cont(n_tok, 0.9) AS tokens_p90,
        |  quantile_cont(n_tok, 0.99) AS tokens_p99,
        |  round(CAST(sum(CAST(n_tok AS DECIMAL(28,6))) AS DOUBLE) / count(n_tok), 6)
        |    AS tokens_mean
        |FROM d""".stripMargin,
    // the sketched report: count/mean columns are x_text_report's; the
    // percentiles read the bottom-k sample (the x_sketch_quantiles CTE,
    // one global group keyed on doc_id) at floor(q*(m-1))
    "x_text_report_sketched" ->
      s"""WITH toks AS (
         |  SELECT doc_id, text,
         |         list_filter(regexp_split_to_array(text, '\\s+'),
         |                     t -> length(t) > 0) AS w
         |  FROM documents
         |),
         |d AS (SELECT doc_id, text, len(w) AS n_tok FROM toks),
         |sm AS (
         |  SELECT DISTINCT ${duckHashUniform("doc_id", "bkq")} AS u,
         |         CAST(n_tok AS DOUBLE) AS v
         |  FROM d WHERE doc_id IS NOT NULL AND n_tok IS NOT NULL
         |),
         |r AS (SELECT u, v, row_number() OVER (ORDER BY u, v) AS rn FROM sm),
         |s AS (SELECT list_sort(list(v)) AS vs, count(*) AS m FROM r WHERE rn <= 256),
         |c AS (
         |  SELECT count(*) AS n_docs,
         |    count(CASE WHEN text IS NULL THEN 1 END) AS n_null,
         |    count(CASE WHEN length(text) = 0 THEN 1 END) AS n_empty,
         |    round(CAST(sum(CAST(n_tok AS DECIMAL(28,6))) AS DOUBLE) / count(n_tok), 6)
         |      AS tokens_mean
         |  FROM d
         |)
         |SELECT c.n_docs, c.n_null, c.n_empty,
         |  round(s.vs[CAST(floor(CAST(0.5 AS DOUBLE) * (s.m - 1)) AS INT) + 1], 6)
         |    AS tokens_p50,
         |  round(s.vs[CAST(floor(CAST(0.9 AS DOUBLE) * (s.m - 1)) AS INT) + 1], 6)
         |    AS tokens_p90,
         |  round(s.vs[CAST(floor(CAST(0.99 AS DOUBLE) * (s.m - 1)) AS INT) + 1], 6)
         |    AS tokens_p99,
         |  c.tokens_mean, CAST(s.m AS INT) AS n_sample
         |FROM c, s""".stripMargin,
  )
}
