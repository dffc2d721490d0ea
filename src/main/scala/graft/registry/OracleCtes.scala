package graft.registry

import graft.operators.{Dedup, Sketches, TextAnalysis}
import graft.registry.Helpers._

/** Shared DuckDB-dialect SQL fragments for the oracle twins: snapshot and
  * SCD2 CTE chains, generated Hamming/connected-components/k-means/PQ/BPE
  * relational forms, and the URL canonicalization CTE. Every generator is
  * driven by the SAME Scala vals the Spark queries use, so the two engines
  * cannot drift. Moved verbatim from SparkEntry (r14 split). */
private[graft] object OracleCtes {
  /** Meta enrichment of the two lineitem snapshots `snapA` and `snapB`
    * (`enrichA`, `enrichB`): the key hash, the record hash over every
    * column (`extraHash`: further hash terms, each on a new line), and the
    * insert/update stamps of run 1 resp. run 2. */
  private[registry] def duckEnrichCtes(snapA: String, snapB: String,
      extraHash: String = ""): String = {
    def enrich(name: String, snap: String, ts: String, runId: String): String =
      s"""$name AS (
         |  SELECT *,
         |    md5(concat_ws('#?', coalesce(CAST(l_orderkey AS VARCHAR),'nan'),
         |                        coalesce(CAST(l_linenumber AS VARCHAR),'nan'))) AS "KEY_HASH",
         |    md5(concat_ws('#?', coalesce(CAST(l_orderkey AS VARCHAR),'nan'),
         |                        coalesce(CAST(l_linenumber AS VARCHAR),'nan'),
         |                        coalesce(CAST(quantity AS VARCHAR),'nan'),
         |                        coalesce(returnflag,'nan'), coalesce(linestatus,'nan'),
         |                        coalesce(CAST(shipdate AS VARCHAR),'nan')$extraHash)) AS "RECORD_HASH",
         |    TIMESTAMP '$ts' AS "INSERT_TS", TIMESTAMP '$ts' AS "UPDATE_TS",
         |    '$runId' AS "INSERT_RUN_ID", '$runId' AS "UPDATE_RUN_ID",
         |    CAST(NULL AS TIMESTAMP) AS "DELETED"
         |  FROM $snap
         |)""".stripMargin
    enrich("enrichA", snapA, ts1, "20240101100000") + ",\n" +
      enrich("enrichB", snapB, ts2, "20240215103000")
  }

  /** Run 2's delta (`delta`): the `enrichB` rows whose (key, record) hash
    * pair is not in `enrichA`. */
  private[registry] val duckRun2DeltaCte: String =
    """delta AS (
      |  SELECT n.* FROM enrichB n LEFT JOIN enrichA c
      |    ON n."KEY_HASH" = c."KEY_HASH" AND n."RECORD_HASH" = c."RECORD_HASH"
      |  WHERE c."KEY_HASH" IS NULL
      |)""".stripMargin

  /** The two-run append-only store over `ctes` (ending in `enrichA` and
    * `enrichB`): run 1's rows plus run 2's delta, quantity as double;
    * `where` (a trailing line, or empty) filters it. */
  private[registry] def duckTwoRunStoreSql(ctes: String, where: String = ""): String =
    s"""$ctes,
       |$duckRun2DeltaCte
       |SELECT * REPLACE (CAST(quantity AS DOUBLE) AS quantity)
       |FROM (SELECT * FROM enrichA UNION ALL BY NAME SELECT * FROM delta)$where""".stripMargin

  /** Shared CTE text: deterministic snapshots + meta enrichment. */
  private[graft] val snapshotsCte: String =
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber,
       |         CAST(l_quantity AS DECIMAL(18,2)) AS quantity,
       |         l_returnflag AS returnflag, l_linestatus AS linestatus,
       |         CAST(l_shipdate AS DATE) AS shipdate
       |  FROM lineitem
       |),
       |snapA AS (SELECT * FROM base WHERE shipdate < DATE '1995-06-01'),
       |snapB AS (
       |  SELECT l_orderkey, l_linenumber,
       |         CASE WHEN l_orderkey % 97 = 0
       |              THEN CAST(quantity + 10 AS DECIMAL(18,2)) ELSE quantity END AS quantity,
       |         returnflag, linestatus, shipdate
       |  FROM base
       |),
       |${duckEnrichCtes("snapA", "snapB")}""".stripMargin

  /** The delete-closure SELECT over `v2` — shared by `x_scd2_delete_close`
    * and the reopen row so the two statements cannot drift. */
  private[graft] val scd2CloseSelect: String =
    s"""SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
       |       "RECORD_HASH",
       |       CASE WHEN "VALID_TO" = DATE '9999-12-31' AND l_orderkey % 7 = 0
       |            THEN TIMESTAMP '$ts3' ELSE "UPDATE_TS" END AS "UPDATE_TS",
       |       CASE WHEN "VALID_TO" = DATE '9999-12-31' AND l_orderkey % 7 = 0
       |            THEN '20240301093000' ELSE "UPDATE_RUN_ID" END AS "UPDATE_RUN_ID",
       |       "VALID_FROM",
       |       CASE WHEN "VALID_TO" = DATE '9999-12-31' AND l_orderkey % 7 = 0
       |            THEN DATE '2024-02-29' ELSE "VALID_TO" END AS "VALID_TO",
       |       CASE WHEN "VALID_TO" = DATE '9999-12-31' AND l_orderkey % 7 = 0
       |            THEN TIMESTAMP '$ts3' ELSE "DELETED" END AS "DELETED"
       |FROM v2""".stripMargin

  /** SCD2 CTE chain on top of the snapshots: bootstrap merge of A, then the
    * five-branch merge of B (semantics of SCDHelpers.py:129-220). */
  private[graft] val scd2Cte: String =
    s"""$snapshotsCte,
       |v1 AS (
       |  SELECT *, DATE '2024-01-01' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO"
       |  FROM enrichA
       |),
       |cur_only AS (
       |  SELECT c.* FROM v1 c LEFT JOIN enrichB n ON c."KEY_HASH" = n."KEY_HASH"
       |  WHERE n."KEY_HASH" IS NULL OR c."VALID_TO" <> DATE '9999-12-31'
       |),
       |new_only AS (
       |  SELECT n.*, DATE '2024-02-15' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO"
       |  FROM enrichB n WHERE n."KEY_HASH" NOT IN (SELECT "KEY_HASH" FROM v1)
       |),
       |unchanged AS (
       |  SELECT c.* FROM v1 c JOIN enrichB n
       |  ON c."KEY_HASH" = n."KEY_HASH" AND c."RECORD_HASH" = n."RECORD_HASH"
       |     AND c."VALID_TO" = DATE '9999-12-31'
       |),
       |changed_cur AS (
       |  SELECT c.* REPLACE (TIMESTAMP '$ts2' AS "UPDATE_TS",
       |                      '20240215103000' AS "UPDATE_RUN_ID",
       |                      DATE '2024-02-14' AS "VALID_TO")
       |  FROM v1 c JOIN enrichB n
       |  ON c."KEY_HASH" = n."KEY_HASH" AND c."RECORD_HASH" <> n."RECORD_HASH"
       |     AND c."VALID_TO" = DATE '9999-12-31'
       |),
       |changed_new AS (
       |  SELECT n.*, DATE '2024-02-15' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO"
       |  FROM enrichB n JOIN v1 c
       |  ON c."KEY_HASH" = n."KEY_HASH" AND c."RECORD_HASH" <> n."RECORD_HASH"
       |     AND c."VALID_TO" = DATE '9999-12-31'
       |),
       |v2 AS (
       |  SELECT * FROM cur_only UNION ALL BY NAME
       |  SELECT * FROM new_only UNION ALL BY NAME
       |  SELECT * FROM unchanged UNION ALL BY NAME
       |  SELECT * FROM changed_cur UNION ALL BY NAME
       |  SELECT * FROM changed_new
       |)""".stripMargin

  /** Pigeonhole-blocked Hamming-pair CTEs over a preceding CTE named `fp`
    * with columns (doc_id, fp) — the SQL twin of
    * [[Dedup.hammingNearDuplicates]], blocks generated from the SAME
    * (lo, width) computation the operator uses, so query and oracle
    * cannot drift. Ends in `pairs (id_a, id_b, hamming)`. */
  private[graft] def duckHammingPairs(bits: Int, maxHamming: Int): String = {
    val blocks = Dedup.hammingBlocks(bits, maxHamming).zipWithIndex.map { case ((lo, w), j) =>
      s"SELECT doc_id AS id, fp, $j AS blk, (fp >> $lo) & ${(1L << w) - 1} AS bval FROM fp"
    }.mkString("\n  UNION ALL ")
    s"""blocked AS (
       |  $blocks
       |),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.fp AS fp_a, b.fp AS fp_b
       |  FROM blocked a JOIN blocked b
       |    ON a.blk = b.blk AND a.bval = b.bval AND a.id < b.id
       |),
       |pairs AS (
       |  SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
       |  FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $maxHamming
       |)""".stripMargin
  }

  private[graft] lazy val simhashNearPairsCte: String =
    s"""$simhashFpCte,
       |${duckHammingPairs(16, 2)}""".stripMargin

  /** The 64-bit sibling of [[simhashNearPairsCte]] — one definition shared
    * by the wide pair, cluster, and election oracles so the corpus-scale
    * width's arithmetic cannot drift between them. */
  private[graft] lazy val simhashWideNearPairsCte: String =
    s"""WITH $duckToksCte,
       |${simhashFpTail(64)},
       |${duckHammingPairs(64, 3)}""".stripMargin

  /** Recursive min-label connected-components CTEs over a pair relation
    * (`id_a`, `id_b`): `cc` enumerates (node, reachable node) over the
    * symmetric edge list — min(label) per id is the component minimum,
    * the same fixpoint [[Dedup.duplicateClusters]] converges to. One
    * definition shared by every cluster oracle so the recursion rule
    * cannot drift between them. Requires a `WITH RECURSIVE` statement. */
  private[graft] def duckConnectedComponents(pairsRel: String): String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM $pairsRel
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM $pairsRel
       |),
       |cc AS (
       |  SELECT src AS id, src AS label FROM edges
       |  UNION
       |  SELECT e.src AS id, c.label FROM edges e JOIN cc c ON c.id = e.dst
       |)""".stripMargin

  /** [[duckConnectedComponents]] plus the `losers` CTE: every node that is
    * not its component's minimum — the set [[Dedup.keepCanonical]] drops. */
  private[graft] def duckCcLosers(pairsRel: String): String =
    s"""${duckConnectedComponents(pairsRel)},
       |losers AS (
       |  SELECT id FROM cc GROUP BY id HAVING id <> min(label)
       |)""".stripMargin

  private[graft] def duckBpeSymExpr(tokCol: String): String = {
    val base = s"regexp_replace(lower(hex(encode($tokCol))), '(..)', '>\\1|', 'g')"
    graft.operators.TextAnalysis.DefaultBpeMerges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, '>$a|>$b|', '>$a$b|')"
    }
  }

  /** CTE chain from `documents` (restricted by `where`) to the per-doc
    * BPE token-ID stream `ord(doc_id, id, tok_pos)`: the replay chain of
    * [[duckBpeSymExpr]] split back into symbols, joined to the standard
    * BPE vocabulary — byte symbols are ids 0..255, the rule at rank r
    * defines id 256 + r (first rule wins on a duplicated concatenation,
    * mirroring the kernel's putIfAbsent). */
  private[graft] def duckBpeIdCtes(where: String): String = {
    val seen = scala.collection.mutable.HashSet[String]()
    val mergeRows = graft.operators.TextAnalysis.DefaultBpeMerges.zipWithIndex.flatMap {
      case ((a, b), i) => if (seen.add(a + b)) Some(s"('${a + b}', ${256 + i})") else None
    }.mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, CASE WHEN i = 1 THEN tok0 ELSE ' ' || tok0 END AS tok, i
       |  FROM (
       |    SELECT doc_id,
       |      unnest(string_split(text, ' ')) AS tok0,
       |      unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
       |    FROM documents WHERE $where
       |  )
       |),
       |sym AS (
       |  SELECT doc_id, i, ${duckBpeSymExpr("tok")} AS s
       |  FROM tok WHERE tok <> ''
       |),
       |sp AS (
       |  SELECT doc_id, i,
       |    unnest(string_split(s, '|')) AS piece,
       |    unnest(range(1, len(string_split(s, '|')) + 1)) AS j
       |  FROM sym
       |),
       |ts AS (
       |  SELECT doc_id, i, j, substring(piece, 2) AS sym FROM sp WHERE piece <> ''
       |),
       |vocab AS (
       |  SELECT lpad(lower(hex(r)), 2, '0') AS sym, CAST(r AS INT) AS id
       |  FROM range(0, 256) t(r)
       |  UNION ALL
       |  SELECT * FROM (VALUES $mergeRows) v(sym, id)
       |),
       |ord AS (
       |  SELECT ts.doc_id, v.id,
       |    row_number() OVER (PARTITION BY ts.doc_id ORDER BY ts.i, ts.j) AS tok_pos
       |  FROM ts JOIN vocab v USING (sym)
       |)""".stripMargin
  }

  /** Perceptual-hash CTE: aHash over the same md5 feature derivation the
    * media-features oracle uses; `list_reduce` mirrors the Spark fold's
    * left-to-right double addition order. Null payloads are excluded
    * entirely, mirroring the query's `fp IS NOT NULL` filter (without the
    * guard a null text folds to fp = 0 here and would pair). Ends in
    * `fp (doc_id, fp)`. */
  /** Perceptual-hash fingerprint CTE tail (no WITH prefix; CTE names
    * pf/pm/fp avoid the quality CTEs' `m`), ending in `fp (doc_id, fp)` —
    * shared by the standalone phash oracle and the curation-media oracle. */
  private[graft] lazy val phashFpTailCte: String =
    """pf AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    list_transform(range(0, 16), i ->
      |      CAST(list_sum(list_transform(range(1, 5), j ->
      |        (strpos('0123456789abcdef',
      |           substring(md5(text || '#' || CAST(i AS VARCHAR)), j, 1)) - 1)
      |        * CAST(pow(16, 4 - j) AS BIGINT))) AS DOUBLE) / 65535.0 * 2 - 1) AS f
      |  FROM documents
      |  WHERE text IS NOT NULL
      |),
      |pm AS (
      |  SELECT doc_id, f, list_reduce(f, (a, b) -> a + b) / 16 AS mean FROM pf
      |),
      |fp AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), i ->
      |    CASE WHEN f[CAST(i + 1 AS INT)] > mean
      |         THEN CAST(pow(2, 15 - i) AS BIGINT) ELSE CAST(0 AS BIGINT) END))
      |    AS BIGINT) AS fp
      |  FROM pm
      |)""".stripMargin

  private[graft] lazy val phashFpCte: String = s"WITH $phashFpTailCte"

  /** Shared whitespace-token CTE body (no WITH prefix) — the one `toks`
    * definition every document oracle builds on. */
  private[graft] val duckToksCte: String =
    """toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS w
      |  FROM documents
      |)""".stripMargin

  /** SimHash fingerprint CTE tail (expects `toks`), ending in
    * `fp (doc_id, fp)`. Fingerprint bit b lands on the long's bit
    * `bits-1-b`, so at bits = 64 fingerprint bit 0 is the SIGN bit —
    * `pow(2, 63)` does not fit a BIGINT, so that one position adds
    * Long.MinValue directly, exactly as the Spark fold does
    * (the test-side `Oracles.simhashFold`); every lower position is an
    * exact power of two in a double. */
  private[graft] def simhashFpTail(bits: Int): String = {
    val signSafePow =
      if (bits == 64)
        s"""CASE WHEN b = 0 THEN (-9223372036854775807 - 1)
           |                ELSE CAST(pow(2, ${bits - 1} - b) AS BIGINT) END""".stripMargin
      else s"CAST(pow(2, ${bits - 1} - b) AS BIGINT)"
    s"""fp0 AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(range(0, $bits), b ->
       |      CASE WHEN list_sum(list_transform(w, t ->
       |             (CAST(floor((strpos('0123456789abcdef',
       |                         substring(md5(t), CAST(floor(b / 4) AS INT) + 1, 1)) - 1)
       |                  / pow(2, 3 - (b % 4))) AS INT) % 2) * 2 - 1)) > 0
       |           THEN $signSafePow ELSE CAST(0 AS BIGINT) END)) AS simhash
       |  FROM toks
       |),
       |fp AS (
       |  SELECT doc_id, CAST(coalesce(simhash, 0) AS BIGINT) AS fp FROM fp0
       |)""".stripMargin
  }

  private[graft] val simhashFpTailCte: String = simhashFpTail(16)

  /** SimHash fingerprint CTE (16-bit, mirrors the kernel bit-for-bit) shared
    * by the grouping and Hamming-neighborhood oracles. `fp` is the
    * null-coalesced BIGINT fingerprint. */
  private[graft] val simhashFpCte: String =
    s"""WITH $duckToksCte,
       |$simhashFpTailCte""".stripMargin

  /** Distinct-3-gram shingle CTE body (expects `toks`). */
  private[graft] val duckShinglesTailCte: String =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |      i -> array_to_string(w[i+1:i+3], ' '))) AS shingles
      |  FROM toks
      |)""".stripMargin

  /** MinHash signatures (`sig`) and LSH band keys (`banded (id, band,
    * key)`) of the docs' shingle lists in `shingles (doc_id, shingles)`. */
  private[registry] def duckMinhashBands(shingles: String): String =
    s"""sig AS (
       |  SELECT doc_id AS id,
       |    list_transform(range(0, 8),
       |      j -> list_min(list_transform(shingles,
       |             s -> md5(concat(CAST(j AS VARCHAR), '#', s))))) AS sig
       |  FROM $shingles
       |),
       |banded AS (
       |  SELECT id, g.band,
       |         md5(array_to_string(sig[g.band*2+1:g.band*2+2], '|')) AS key
       |  FROM sig, generate_series(0, 3) g(band)
       |)""".stripMargin

  /** MinHash sig + LSH banded CTE chain ending in `banded (id, band,
    * key)` — shared by the all-pairs and incremental-probe oracles. */
  private[graft] lazy val minhashBandedCte: String =
    s"""$docShinglesCte,
       |${duckMinhashBands("sh")}""".stripMargin

  /** Grouped HLL estimate over `events` — mirrors [[graft.operators
    * .Sketches.hllRegisters]]/[[graft.operators.Sketches.hllEstimate]]
    * digit for digit: same 60-bit md5 hash, bucket = h mod m (low bits),
    * rho by BINARY-STRING length of the value part (exact, no floating
    * log2), register max, fixed-point harmonic sum (integer terms
    * 2^(maxRho−M), absent buckets contributing the register-0 term), and
    * the identical Scala-computed double literal for α_m·m²·2^maxRho. */
  private[graft] def duckHllSql(valueCol: String, p: Int, where: String = "1=1"): String = {
    val m = 1 << p
    val w = 60 - p
    val maxRho = w + 1
    val num = Sketches.hllNumerator(p)
    s"""WITH h AS (
       |  SELECT event_type,
       |         ${duckHash60(s"CAST($valueCol AS VARCHAR) || '#hll'")} AS h
       |  FROM events WHERE $valueCol IS NOT NULL AND ($where)
       |),
       |r AS (
       |  SELECT event_type, CAST(h % $m AS INT) AS b,
       |         CAST(CASE WHEN h // $m = 0 THEN $maxRho
       |                   ELSE $w + 1 - length(bin(h // $m)) END AS INT) AS m_part
       |  FROM h
       |),
       |regs AS (SELECT event_type, b, max(m_part) AS m_reg FROM r GROUP BY event_type, b),
       |agg AS (
       |  SELECT event_type, count(*) AS np,
       |         sum(CAST(1 AS BIGINT) << CAST($maxRho - m_reg AS INT)) AS sp
       |  FROM regs GROUP BY event_type
       |),
       |est AS (
       |  SELECT event_type,
       |         CAST(sp + ($m - np) * (CAST(1 AS BIGINT) << $maxRho) AS DOUBLE) AS s,
       |         CAST($m - np AS INT) AS n_zero_regs
       |  FROM agg
       |)
       |SELECT event_type,
       |       round(CASE WHEN CAST($num AS DOUBLE) / s <= CAST(${2.5 * m} AS DOUBLE)
       |                   AND n_zero_regs > 0
       |                  THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / n_zero_regs)
       |                  ELSE CAST($num AS DOUBLE) / s END, 6) AS est_distinct,
       |       n_zero_regs
       |FROM est""".stripMargin
  }

    /** DuckDB twin of the byte-level BPE count: the per-byte hex symbol
    * string ('>xx|' per byte) pushed through the merges table as a
    * sequential replace chain — rank order, all non-overlapping
    * occurrences per rule, exactly the encoder loop's result for the
    * training-well-formed [[graft.operators.TextAnalysis
    * .DefaultBpeMerges]] (see its scaladoc for the argument). */

  /** Document tokenization / shingling CTEs shared by the dedup oracles. */
  private[graft] val docShinglesCte: String =
    s"""WITH $duckToksCte,
       |$duckShinglesTailCte""".stripMargin

  /** Containment-pair derivation through its intersection counts (ends at
    * the `inter` CTE) — shared by the pair report and the election twin
    * so the two statements cannot drift. */
  private[graft] lazy val containmentInterCte: String =
    s"""$docShinglesCte,
       |ex AS (SELECT doc_id AS id, unnest(shingles) AS s FROM sh),
       |joinable AS (
       |  SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 1000
       |),
       |fil AS (SELECT ex.* FROM ex JOIN joinable USING (s)),
       |sizes AS (SELECT id, count(*) AS n_sh FROM ex GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
       |  FROM fil a JOIN fil b ON a.s = b.s AND a.id < b.id
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** Gopher/C4 quality-metric CTE body (expects `toks`) + keep predicate —
    * shared between the standalone quality oracle and the composed
    * curation-pipeline oracle so the two cannot drift. */
  private[graft] val qualityMetricsCte: String =
    """m AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS INT) AS n_tokens,
      |    round(CAST(coalesce(list_sum(list_transform(w, t -> length(t))), 0) AS DOUBLE)
      |          / greatest(len(w), 1), 6) AS mean_token_len,
      |    round(CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
      |          / greatest(len(w), 1), 6) AS alpha_ratio,
      |    CASE WHEN len(w) >= 2 THEN
      |      round(CAST(list_max(map_values(list_aggregate(
      |        list_transform(range(0, len(w) - 1), i -> array_to_string(w[i+1:i+2], ' ')),
      |        'histogram'))) AS DOUBLE) / (len(w) - 1), 6)
      |    ELSE 0.0 END AS top_bigram_ratio,
      |    CASE WHEN len(w) >= 3 THEN
      |      round(CAST(list_max(map_values(list_aggregate(
      |        list_transform(range(0, len(w) - 2), i -> array_to_string(w[i+1:i+3], ' ')),
      |        'histogram'))) AS DOUBLE) / (len(w) - 2), 6)
      |    ELSE 0.0 END AS top_trigram_ratio
      |  FROM toks
      |)""".stripMargin

  /** DuckDB twin of [[graft.operators.TextAnalysis.qualityScoreExpr]]:
    * the identical left-associated dot product (feature × literal weight
    * in weight-list order) and sigmoid, rounded to 6 — built from the
    * same Seq as the Spark side so the literals cannot drift. Expects the
    * [[qualityMetricsCte]] metric columns in scope. */
  private[graft] def duckQualityScore(
      weights: Seq[(String, Double)], bias: Double): String = {
    val z = weights.foldLeft(s"CAST($bias AS DOUBLE)") { case (acc, (f, w)) =>
      s"($acc + CAST($f AS DOUBLE) * CAST($w AS DOUBLE))"
    }
    s"round(1.0 / (1.0 + exp(-($z))), 6)"
  }

  private[graft] val qualityKeepPredicate: String =
    """(n_tokens BETWEEN 20 AND 100000)
      |       AND (mean_token_len BETWEEN 2.0 AND 12.0)
      |       AND alpha_ratio >= 0.8
      |       AND top_bigram_ratio <= 0.30
      |       AND top_trigram_ratio <= 0.20""".stripMargin

  /** DuckDB mirror of [[Dedup.shingleHash]]: first 15 hex digits of md5 as
    * a 60-bit BIGINT. Powers of 16 are exactly representable as doubles up
    * to 16^14, and every partial product and the sum stay under 2^63, so
    * the arithmetic is exact integer on both engines. */
  private[graft] def duckHash60(expr: String): String =
    s"""CAST(list_sum(list_transform(range(1, 16), j ->
       |      (strpos('0123456789abcdef', substring(md5($expr), j, 1)) - 1)
       |      * CAST(pow(16, 15 - j) AS BIGINT))) AS BIGINT)""".stripMargin

  /** Winnowing selection CTE chain (k = 12, w = 8; mirrors
    * [[TextAnalysis.winnowFingerprints]] hash-for-hash) ending in
    * `fps (doc_id, pos, fp)` — shared by the fingerprint-table oracle and
    * the overlap-pairs oracle. */
  private[graft] lazy val winnowFpsCte: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, CAST(length(text) - 11 AS INT) AS n FROM documents
       |),
       |g AS (
       |  SELECT doc_id, CAST(p AS INT) AS p,
       |         ${duckHash60("substring(text, CAST(p AS INT), 12)")} AS gh
       |  FROM (SELECT doc_id, text, unnest(range(1, n + 1)) AS p
       |        FROM base WHERE n >= 1)
       |),
       |win AS (
       |  SELECT doc_id, CAST(a AS INT) AS a
       |  FROM (SELECT doc_id, unnest(range(1, greatest(n - 7, 1) + 1)) AS a
       |        FROM base WHERE n >= 1)
       |),
       |sel AS (
       |  SELECT w.doc_id, w.a, g.p, g.gh,
       |         row_number() OVER (PARTITION BY w.doc_id, w.a
       |                            ORDER BY g.gh ASC, g.p DESC) AS rn
       |  FROM win w JOIN g ON g.doc_id = w.doc_id
       |                   AND g.p >= w.a AND g.p < w.a + 8
       |),
       |fps AS (
       |  SELECT DISTINCT doc_id, p AS pos, gh AS fp FROM sel WHERE rn = 1
       |)""".stripMargin

  /** DuckDB mirror of [[graft.operators.Sampling.hashUniform]]: first 8 hex
    * digits of md5(s"$$id#$$salt") as a 32-bit integer over 2^32. */
  private[graft] def duckHashUniform(idExpr: String, salt: String): String =
    s"""CAST(list_sum(list_transform(range(1, 9), j ->
       |      (strpos('0123456789abcdef',
       |         substring(md5(CAST($idExpr AS VARCHAR) || '#$salt'), j, 1)) - 1)
       |      * CAST(pow(16, 8 - j) AS BIGINT))) AS DOUBLE) / 4294967296.0""".stripMargin

  /** The order snapshot of run 1 (`obase`). */
  private[registry] val duckOrdersBaseCte: String =
    """obase AS (
      |  SELECT o_orderkey, o_orderstatus AS orderstatus,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice,
      |         CAST(o_orderdate AS DATE) AS orderdate
      |  FROM orders
      |)""".stripMargin

  /** The tiered-SCD2 fixtures' first two order snapshots: run 1 (`obase`)
    * and run 2 (`snapb`, every 53rd order repriced). */
  private val duckTieredSnapsCte: String =
    s"""$duckOrdersBaseCte,
       |snapb AS (
       |  SELECT o_orderkey, orderstatus,
       |         CASE WHEN o_orderkey % 53 = 0
       |              THEN CAST(totalprice + 100 AS DECIMAL(18,2))
       |              ELSE totalprice END AS totalprice,
       |         orderdate
       |  FROM obase
       |)""".stripMargin

  /** The tiered closed forms' first row class: the run-1 versions (`h1`)
    * of the orders run 2 repriced, closed the day before run 2. */
  private val duckTieredRun1ClosedSelect: String =
    s"""SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice,
       |       rh AS "RECORD_HASH",
       |       TIMESTAMP '$ts1' AS "INSERT_TS", '20240101100000' AS "INSERT_RUN_ID",
       |       TIMESTAMP '$ts2' AS "UPDATE_TS", '20240215103000' AS "UPDATE_RUN_ID",
       |       DATE '2024-01-01' AS "VALID_FROM", DATE '2024-02-14' AS "VALID_TO",
       |       CAST(NULL AS TIMESTAMP) AS "DELETED"
       |FROM h1 WHERE o_orderkey % 53 = 0
       |UNION ALL BY NAME""".stripMargin

  /** 4-run tiered delete-lifecycle closed form — shared by the fresh
    * (`x_scd2_tiered`) and steady-state (`x_scd2_tiered_run`) rows. */
  private[graft] val scd2TieredLifecycleSql: String =
    s"""WITH $duckTieredSnapsCte,
         |h1 AS (
         |  SELECT *, md5(concat_ws('#?',
         |    coalesce(CAST(o_orderkey AS VARCHAR),'nan'),
         |    coalesce(orderstatus,'nan'),
         |    coalesce(CAST(totalprice AS VARCHAR),'nan'),
         |    coalesce(CAST(orderdate AS VARCHAR),'nan'))) AS rh FROM obase
         |),
         |h2 AS (
         |  SELECT *, md5(concat_ws('#?',
         |    coalesce(CAST(o_orderkey AS VARCHAR),'nan'),
         |    coalesce(orderstatus,'nan'),
         |    coalesce(CAST(totalprice AS VARCHAR),'nan'),
         |    coalesce(CAST(orderdate AS VARCHAR),'nan'))) AS rh FROM snapb
         |)
         |$duckTieredRun1ClosedSelect
         |SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice,
         |       rh AS "RECORD_HASH",
         |       CASE WHEN o_orderkey % 53 = 0 THEN TIMESTAMP '$ts2'
         |            ELSE TIMESTAMP '$ts1' END AS "INSERT_TS",
         |       CASE WHEN o_orderkey % 53 = 0 THEN '20240215103000'
         |            ELSE '20240101100000' END AS "INSERT_RUN_ID",
         |       CASE WHEN o_orderkey % 7 = 0 THEN TIMESTAMP '$ts3'
         |            WHEN o_orderkey % 53 = 0 THEN TIMESTAMP '$ts2'
         |            ELSE TIMESTAMP '$ts1' END AS "UPDATE_TS",
         |       CASE WHEN o_orderkey % 7 = 0 THEN '20240301093000'
         |            WHEN o_orderkey % 53 = 0 THEN '20240215103000'
         |            ELSE '20240101100000' END AS "UPDATE_RUN_ID",
         |       CASE WHEN o_orderkey % 53 = 0 THEN DATE '2024-02-15'
         |            ELSE DATE '2024-01-01' END AS "VALID_FROM",
         |       CASE WHEN o_orderkey % 7 = 0 THEN DATE '2024-02-29'
         |            ELSE DATE '9999-12-31' END AS "VALID_TO",
         |       CASE WHEN o_orderkey % 7 = 0 THEN TIMESTAMP '$ts3'
         |            ELSE CAST(NULL AS TIMESTAMP) END AS "DELETED"
         |FROM h2
         |UNION ALL BY NAME
         |SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice,
         |       rh AS "RECORD_HASH",
         |       TIMESTAMP '$ts2' AS "INSERT_TS", '20240215103000' AS "INSERT_RUN_ID",
         |       TIMESTAMP '$ts2' AS "UPDATE_TS", '20240215103000' AS "UPDATE_RUN_ID",
         |       DATE '2024-04-01' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO",
         |       CAST(NULL AS TIMESTAMP) AS "DELETED"
         |FROM h2 WHERE o_orderkey % 7 = 0""".stripMargin

  /** Closed form of the 4-run COMPACTION fixture ([[stagedTier4Runs]]);
    * see the `x_scd2_tiered_compact` registration for the row classes. */
  private[graft] val scd2TieredCompactSql: String =
    s"""WITH $duckTieredSnapsCte,
       |snapc AS (
       |  SELECT o_orderkey, orderstatus,
       |         CASE WHEN o_orderkey % 31 = 0
       |              THEN CAST(totalprice + 50 AS DECIMAL(18,2))
       |              ELSE totalprice END AS totalprice,
       |         orderdate
       |  FROM snapb
       |),
       |h1 AS (SELECT *, md5(concat_ws('#?', coalesce(CAST(o_orderkey AS VARCHAR),'nan'), coalesce(orderstatus,'nan'), coalesce(CAST(totalprice AS VARCHAR),'nan'), coalesce(CAST(orderdate AS VARCHAR),'nan'))) AS rh FROM obase),
       |h2 AS (SELECT *, md5(concat_ws('#?', coalesce(CAST(o_orderkey AS VARCHAR),'nan'), coalesce(orderstatus,'nan'), coalesce(CAST(totalprice AS VARCHAR),'nan'), coalesce(CAST(orderdate AS VARCHAR),'nan'))) AS rh FROM snapb),
       |h4 AS (SELECT *, md5(concat_ws('#?', coalesce(CAST(o_orderkey AS VARCHAR),'nan'), coalesce(orderstatus,'nan'), coalesce(CAST(totalprice AS VARCHAR),'nan'), coalesce(CAST(orderdate AS VARCHAR),'nan'))) AS rh FROM snapc)
       |$duckTieredRun1ClosedSelect
       |SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice,
       |       rh AS "RECORD_HASH",
       |       CASE WHEN o_orderkey % 53 = 0 THEN TIMESTAMP '$ts2'
       |            ELSE TIMESTAMP '$ts1' END AS "INSERT_TS",
       |       CASE WHEN o_orderkey % 53 = 0 THEN '20240215103000'
       |            ELSE '20240101100000' END AS "INSERT_RUN_ID",
       |       TIMESTAMP '$ts3' AS "UPDATE_TS", '20240301093000' AS "UPDATE_RUN_ID",
       |       CASE WHEN o_orderkey % 53 = 0 THEN DATE '2024-02-15'
       |            ELSE DATE '2024-01-01' END AS "VALID_FROM",
       |       DATE '2024-02-29' AS "VALID_TO",
       |       TIMESTAMP '$ts3' AS "DELETED"
       |FROM h2 WHERE o_orderkey % 7 = 0
       |UNION ALL BY NAME
       |SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice,
       |       rh AS "RECORD_HASH",
       |       CASE WHEN o_orderkey % 53 = 0 THEN TIMESTAMP '$ts2'
       |            ELSE TIMESTAMP '$ts1' END AS "INSERT_TS",
       |       CASE WHEN o_orderkey % 53 = 0 THEN '20240215103000'
       |            ELSE '20240101100000' END AS "INSERT_RUN_ID",
       |       TIMESTAMP '$ts4' AS "UPDATE_TS", '20240401080000' AS "UPDATE_RUN_ID",
       |       CASE WHEN o_orderkey % 53 = 0 THEN DATE '2024-02-15'
       |            ELSE DATE '2024-01-01' END AS "VALID_FROM",
       |       DATE '2024-03-31' AS "VALID_TO",
       |       CAST(NULL AS TIMESTAMP) AS "DELETED"
       |FROM h2 WHERE o_orderkey % 31 = 0 AND o_orderkey % 7 <> 0
       |UNION ALL BY NAME
       |SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice,
       |       rh AS "RECORD_HASH",
       |       TIMESTAMP '$ts4' AS "INSERT_TS", '20240401080000' AS "INSERT_RUN_ID",
       |       TIMESTAMP '$ts4' AS "UPDATE_TS", '20240401080000' AS "UPDATE_RUN_ID",
       |       DATE '2024-04-01' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO",
       |       CAST(NULL AS TIMESTAMP) AS "DELETED"
       |FROM h4 WHERE o_orderkey % 7 = 0 OR o_orderkey % 31 = 0
       |UNION ALL BY NAME
       |SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice,
       |       rh AS "RECORD_HASH",
       |       CASE WHEN o_orderkey % 53 = 0 THEN TIMESTAMP '$ts2'
       |            ELSE TIMESTAMP '$ts1' END AS "INSERT_TS",
       |       CASE WHEN o_orderkey % 53 = 0 THEN '20240215103000'
       |            ELSE '20240101100000' END AS "INSERT_RUN_ID",
       |       CASE WHEN o_orderkey % 53 = 0 THEN TIMESTAMP '$ts2'
       |            ELSE TIMESTAMP '$ts1' END AS "UPDATE_TS",
       |       CASE WHEN o_orderkey % 53 = 0 THEN '20240215103000'
       |            ELSE '20240101100000' END AS "UPDATE_RUN_ID",
       |       CASE WHEN o_orderkey % 53 = 0 THEN DATE '2024-02-15'
       |            ELSE DATE '2024-01-01' END AS "VALID_FROM",
       |       DATE '9999-12-31' AS "VALID_TO",
       |       CAST(NULL AS TIMESTAMP) AS "DELETED"
       |FROM h2 WHERE o_orderkey % 7 <> 0 AND o_orderkey % 31 <> 0""".stripMargin

  /** Shared oracle fragment: the URL fixture (edge VALUES + the derived
    * per-document mess) canonicalized by the DuckDB replay of
    * [[graft.operators.Urls.canonicalizeUrl]]'s rule list. Yields table
    * `urlcanon(url_id, canonical_url, host)`. */
  private[graft] val urlCanonCte: String =
    s"""WITH raw AS (
       |  SELECT * FROM (VALUES $urlEdgeValuesSql) AS t(url_id, url)
       |  UNION ALL
       |  SELECT 2000000 + doc_id,
       |         CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
       |         CASE WHEN doc_id % 3 = 0 THEN 'Site' ELSE 'site' END ||
       |         CAST((doc_id % 250) % 37 AS VARCHAR) || '.Example.com' ||
       |         CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
       |         '/Docs/' || CAST(doc_id % 250 AS VARCHAR) ||
       |         CASE WHEN doc_id % 2 = 0
       |              THEN '?a=' || CAST((doc_id % 250) % 5 AS VARCHAR) ||
       |                   '&b=' || CAST((doc_id % 250) % 7 AS VARCHAR)
       |              ELSE '?b=' || CAST((doc_id % 250) % 7 AS VARCHAR) ||
       |                   '&a=' || CAST((doc_id % 250) % 5 AS VARCHAR) END ||
       |         CASE WHEN doc_id % 3 = 1
       |              THEN '&utm_source=feed&fbclid=' || CAST(doc_id AS VARCHAR)
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id AS VARCHAR)
       |              ELSE '' END
       |  FROM documents
       |),
       |u1 AS (SELECT url_id, trim(url) AS t FROM raw),
       |u2 AS (SELECT *, regexp_replace(t, '#.*', '') AS nofrag FROM u1),
       |u3 AS (SELECT *,
       |         lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |         regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u2),
       |u4 AS (SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS authority,
       |         regexp_replace(rest, '^[^/?]*', '') AS pathq FROM u3),
       |u5 AS (SELECT *, regexp_extract(authority, '^(.*@)?', 1) AS userinfo,
       |         lower(regexp_replace(authority, '^.*@', '')) AS hostport FROM u4),
       |u6 AS (SELECT *,
       |         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |              ELSE hostport END AS hostport2,
       |         regexp_extract(pathq, '^([^?]*)', 1) AS path0,
       |         CASE WHEN contains(pathq, '?')
       |              THEN regexp_replace(pathq, '^[^?]*\\?', '') ELSE '' END AS query
       |       FROM u5),
       |u7 AS (SELECT *, CASE WHEN path0 = '' THEN '/' ELSE path0 END AS norm_path,
       |         list_sort(list_filter(str_split(query, '&'),
       |           p -> p <> '' AND NOT regexp_matches(p,
       |             '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|igshid|mc_eid)(=|$$)'))) AS kept
       |       FROM u6),
       |urlcanon AS (
       |  SELECT url_id,
       |         CASE WHEN scheme = '' THEN t
       |              ELSE scheme || '://' || userinfo || hostport2 || norm_path ||
       |                   CASE WHEN len(kept) > 0
       |                        THEN '?' || array_to_string(kept, '&') ELSE '' END
       |         END AS canonical_url,
       |         CASE WHEN scheme = '' THEN ''
       |              ELSE lower(regexp_replace(
       |                     regexp_replace(authority, '^.*@', ''), ':[0-9]*$$', ''))
       |         END AS host
       |  FROM u7
       |)""".stripMargin

  /** Shared CTE chain for the store-diff rows: snapshot A vs the shrunk
    * mutated run-2 feed, both reduced to (key, record digest), full-outer
    * joined and classified — `finalSelect` reads from `diff`. */
  private[graft] def storeDiffOracle(finalSelect: String): String = {
    val digest = (q: String) =>
      s"""md5(concat_ws('#?', coalesce(CAST(quantity AS VARCHAR),'nan'),
         |                     coalesce(returnflag,'nan'), coalesce(linestatus,'nan'),
         |                     coalesce(CAST(shipdate AS VARCHAR),'nan'))) AS $q""".stripMargin
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DECIMAL(18,2)) AS quantity,
       |         l_returnflag AS returnflag, l_linestatus AS linestatus,
       |         CAST(l_shipdate AS DATE) AS shipdate
       |  FROM lineitem
       |),
       |a AS (SELECT * FROM base WHERE shipdate < DATE '1995-06-01'),
       |b AS (
       |  SELECT l_orderkey, l_linenumber,
       |         CASE WHEN l_orderkey % 97 = 0 THEN CAST(quantity + 10 AS DECIMAL(18,2))
       |              ELSE quantity END AS quantity,
       |         returnflag, linestatus, shipdate
       |  FROM base WHERE l_orderkey % 3 <> 0
       |),
       |ha AS (
       |  SELECT l_orderkey, l_linenumber, max(h) AS record_hash_a
       |  FROM (SELECT l_orderkey, l_linenumber, ${digest("h")} FROM a)
       |  GROUP BY 1, 2
       |),
       |hb AS (
       |  SELECT l_orderkey, l_linenumber, max(h) AS record_hash_b
       |  FROM (SELECT l_orderkey, l_linenumber, ${digest("h")} FROM b)
       |  GROUP BY 1, 2
       |),
       |diff AS (
       |  SELECT coalesce(ha.l_orderkey, hb.l_orderkey) AS l_orderkey,
       |         coalesce(ha.l_linenumber, hb.l_linenumber) AS l_linenumber,
       |         record_hash_a, record_hash_b,
       |         CASE WHEN record_hash_a IS NULL THEN 'added'
       |              WHEN record_hash_b IS NULL THEN 'removed'
       |              WHEN record_hash_a <> record_hash_b THEN 'changed'
       |              ELSE 'unchanged' END AS diff_status
       |  FROM ha FULL OUTER JOIN hb
       |    ON ha.l_orderkey = hb.l_orderkey AND ha.l_linenumber = hb.l_linenumber
       |)
       |$finalSelect""".stripMargin
  }

  /** Run-1 store content minus the erased keys — shared by the
    * generation-purge and manifest-purge rows (both read "pass 1, after
    * erasure" through different resolution axes). */
  private[graft] lazy val duckRun1PurgedSql: String = duckTwoRunStoreSql(snapshotsCte,
    "\nWHERE \"INSERT_RUN_ID\" <= '20240101100000' AND l_orderkey % 7 <> 0")

  /** The span rows' 30-gram positions (1-based starts, every `stride`-th)
    * of the docs of at least 30 chars: `docs`, `pos (doc_id, p, gram)`. */
  private[registry] def duckSpanPositionsCte(stride: Int = 1): String = {
    val step = if (stride == 1) "" else s", $stride"
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents WHERE length(text) >= 30
       |),
       |pos AS (
       |  SELECT doc_id, CAST(p AS INT) AS p, substring(text, CAST(p AS INT), 30) AS gram
       |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 28$step)) AS p FROM docs)
       |)""".stripMargin
  }

  /** Islands of the positions `rel (doc_id, p)` taken every `stride`
    * chars: a run of consecutive positions shares `grp` (`isl`). */
  private[registry] def duckIslandsCte(rel: String, stride: Int = 1): String = {
    val step = if (stride == 1) "" else s" * $stride"
    s"""isl AS (
       |  SELECT doc_id, p,
       |    p - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p) AS INT)$step AS grp
       |  FROM $rel
       |)""".stripMargin
  }

  /** The exact-span statement over raw substrings instead of the 60-bit
    * hashes: a position is duplicated when its 30-gram is in ≥ 2
    * distinct docs, `dpWhere` (a trailing predicate line, or empty)
    * restricts the reported positions, and each island of duplicated
    * positions is one span. */
  private[graft] def duckSpansSql(stride: Int = 1, dpWhere: String = ""): String =
    s"""${duckSpanPositionsCte(stride)},
       |dup AS (
       |  SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
       |),
       |dp AS (
       |  SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (gram)$dpWhere
       |),
       |${duckIslandsCte("dp", stride)}
       |SELECT doc_id, min(p) AS span_start, max(p) + 29 AS span_end
       |FROM isl GROUP BY doc_id, grp""".stripMargin

  /** The span-removal surgery over the cut positions `cut (doc_id, p)`:
    * islands become spans, spans interval-merge (strictly-overlapping
    * only), and each doc of `textRel (doc_id, text)` is reassembled from
    * the lag-segments between its merged spans + string_agg + the tail —
    * equivalent to the Spark fold over disjoint sorted spans. A doc with
    * no cut keeps its text. */
  private[registry] def duckSpanSurgery(textRel: String): String =
    s"""${duckIslandsCte("cut")},
       |sp AS (
       |  SELECT doc_id, min(p) AS s, max(p) + 29 AS e FROM isl GROUP BY doc_id, grp
       |),
       |mk AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |  FROM sp
       |),
       |mg AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS mgrp
       |  FROM mk
       |),
       |merged AS (
       |  SELECT doc_id, min(s) AS s, max(e) AS e FROM mg GROUP BY doc_id, mgrp
       |),
       |segs AS (
       |  SELECT m.doc_id, m.s,
       |    substring(d.text,
       |      coalesce(lag(m.e) OVER (PARTITION BY m.doc_id ORDER BY m.s), 0) + 1,
       |      m.s - coalesce(lag(m.e) OVER (PARTITION BY m.doc_id ORDER BY m.s), 0) - 1) AS seg
       |  FROM merged m JOIN $textRel d USING (doc_id)
       |),
       |heads AS (
       |  SELECT doc_id, string_agg(seg, '' ORDER BY s) AS head FROM segs GROUP BY doc_id
       |),
       |tails AS (
       |  SELECT doc_id, max(e) AS me FROM merged GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  CASE WHEN t.me IS NULL THEN d.text
       |       ELSE coalesce(h.head, '') || substring(d.text, t.me + 1) END AS cleaned
       |FROM $textRel d
       |LEFT JOIN heads h USING (doc_id)
       |LEFT JOIN tails t USING (doc_id)""".stripMargin

  /** Batch-aware spans twin shared by the staged-build and purge rows:
    * the spansStream contract is prefix-asymmetric — a position of a doc
    * in batch b (= doc_id % 3) is duplicated iff ANOTHER doc of an
    * earlier-or-same batch shares its 30-gram — which the join condition
    * `o.b <= a.b` replays; `where` restricts the corpus (the purge row
    * passes the survivor filter). */
  private[graft] def duckSpansBatchedSql(where: String): String =
    s"""WITH docs AS (
       |  SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS b
       |  FROM documents WHERE $where AND length(text) >= 30
       |),
       |pos AS (
       |  SELECT doc_id, b, CAST(p AS INT) AS p, substring(text, CAST(p AS INT), 30) AS gram
       |  FROM (SELECT doc_id, text, b, unnest(range(1, length(text) - 28)) AS p FROM docs)
       |),
       |dp AS (
       |  SELECT DISTINCT a.doc_id, a.b, a.p
       |  FROM pos a JOIN pos o ON o.gram = a.gram AND o.doc_id <> a.doc_id AND o.b <= a.b
       |),
       |isl AS (
       |  SELECT doc_id, b, p,
       |    p - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p) AS INT) AS grp
       |  FROM dp
       |)
       |SELECT doc_id, min(p) AS span_start, max(p) + 29 AS span_end, b AS ingest_batch
       |FROM isl GROUP BY doc_id, grp, b""".stripMargin


  /** DuckDB mirror of TextAnalysis.stopwordHits over token list `w`:
    * generated from the SAME stopwords val the Spark expressions use. */
  private[graft] def duckLangHits(lang: String): String = {
    val words = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(w, t -> list_contains([$words], t)))"
  }

  /** DuckDB mirror of TextAnalysis.langId's argmax (expects c_<lang>
    * count columns): fixed check order, strict > 0, 'und' fallback. */
  private[graft] def duckLangCase: String = {
    val best = s"greatest(${TextAnalysis.langOrder.map(l => s"c_$l").mkString(", ")})"
    TextAnalysis.langOrder
      .map(l => s"WHEN c_$l = $best AND $best > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** x_text_lang oracle: mirrors TextAnalysis.languageId. */
  private[graft] def langIdOracle: String = {
    val hitCols = TextAnalysis.langOrder
      .map(l => s"${duckLangHits(l)} AS c_$l").mkString(", ")
    val best = s"greatest(${TextAnalysis.langOrder.map(l => s"c_$l").mkString(", ")})"
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS w
       |  FROM documents
       |),
       |feat AS (
       |  SELECT doc_id, len(w) AS n_tokens,
       |    $hitCols
       |  FROM toks
       |)
       |SELECT doc_id,
       |  $duckLangCase AS lang,
       |  round(CAST($best AS DOUBLE) / greatest(n_tokens, 1), 6) AS confidence
       |FROM feat""".stripMargin
  }

  /** x_text_profile oracle: mirrors every TextAnalysis expression. */
  private[graft] def textProfileOracle: String = {
    def hits(lang: String): String = duckLangHits(lang)
    s"""WITH toks AS (
       |  SELECT doc_id, text,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS w
       |  FROM documents
       |),
       |feat AS (
       |  SELECT doc_id, text, w,
       |    len(w) AS n_tokens,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpeish,
       |    ${hits("en")} AS c_en, ${hits("de")} AS c_de,
       |    ${hits("fr")} AS c_fr, ${hits("es")} AS c_es,
       |    length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N} \\t\\n\\r]', '', 'g')) AS n_punct
       |  FROM toks
       |),
       |scored AS (
       |  SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(n_bpeish AS INT) AS n_bpeish,
       |    greatest(c_en, c_de, c_fr, c_es) AS best,
       |    CASE WHEN c_en = greatest(c_en, c_de, c_fr, c_es) AND greatest(c_en, c_de, c_fr, c_es) > 0 THEN 'en'
       |         WHEN c_de = greatest(c_en, c_de, c_fr, c_es) AND greatest(c_en, c_de, c_fr, c_es) > 0 THEN 'de'
       |         WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) AND greatest(c_en, c_de, c_fr, c_es) > 0 THEN 'fr'
       |         WHEN c_es = greatest(c_en, c_de, c_fr, c_es) AND greatest(c_en, c_de, c_fr, c_es) > 0 THEN 'es'
       |         ELSE 'und' END AS lang_id,
       |    round(CAST(c_en AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio,
       |    round(CAST(n_punct AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
       |    round(CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE)
       |          / greatest(n_tokens, 1), 6) AS mean_token_len,
       |    round((least(CAST(length(text) AS DOUBLE) / 500, 1.0)
       |           + least(round(CAST(c_en AS DOUBLE) / greatest(n_tokens, 1), 6) * 5, 1.0)
       |           + (1.0 - least(round(CAST(n_punct AS DOUBLE) / greatest(length(text), 1), 6) * 5, 1.0)))
       |          / 3, 6) AS quality,
       |    list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
       |      i -> md5(substring(text, i, 8)))) AS fingerprint
       |  FROM feat
       |)
       |SELECT doc_id, n_tokens, n_bpeish, lang_id, stopword_ratio, punct_ratio,
       |       mean_token_len, quality, fingerprint
       |FROM scored""".stripMargin
  }
}
