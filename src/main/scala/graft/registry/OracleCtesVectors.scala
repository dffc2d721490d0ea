package graft.registry

import graft.operators.{Dedup, TextAnalysis}

/** Shared DuckDB CTE text for the VECTOR-SEARCH oracle family — k-means,
  * IVF, PQ, IVF-PQ (split from [[OracleCtes]], r18 hygiene: no registry
  * file above 1,000 lines). Same convention: every numeric derivation is
  * generated from the SAME constants the operators use, so the two
  * engines cannot drift. */
private[graft] object OracleCtesVectors {
  /** The vectors with their L2 norms: `v (id, vv, nrm)`. */
  private[registry] def duckVecNormsCte(dims: Int = 64): String =
    s"""v AS (
       |  SELECT vec_id AS id, embedding AS vv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |)""".stripMargin

  /** The top-k tail of the ANN oracles over `scored (query_id, corpus_id,
    * cos)`: the first `k` corpus ids per query by (cos DESC, id ASC). */
  private[graft] def duckTopKTail(k: Int = 10): String =
    s"""ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, corpus_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, corpus_id, cos, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** The PQ oracles' re-rank over the ADC scores `adc`: the `probe` best
    * corpus ids per query (`sl`), rescored by exact cosine over `v` and
    * cut to the top `k`. */
  private def duckShortlistRerank(probe: Int, k: Int, dims: Int): String =
    s"""sl AS (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cos DESC, corpus_id ASC) AS rn
       |    FROM adc
       |  ) WHERE rn <= $probe
       |),
       |scored AS (
       |  SELECT query_id, corpus_id,
       |    round(list_sum(list_transform(range(1, ${dims + 1}),
       |            i -> CAST(vq.vv[i] AS DOUBLE) * CAST(vc.vv[i] AS DOUBLE)))
       |          / (vq.nrm * vc.nrm), 6) AS cos
       |  FROM sl JOIN v vq ON vq.id = query_id JOIN v vc ON vc.id = corpus_id
       |),
       |${duckTopKTail(k)}""".stripMargin

  /** Deterministic-k-means CTE chain (the SQL twin of
    * [[Similarity.kmeansAssign]]): `v` = vectors with norms, `c0` =
    * smallest-md5(id) seed centroids as doubles, then per Lloyd round r a
    * norm CTE `n{r}`, cosine-argmax assignment `a{r}` (ties toward the
    * larger cid, the IVF rule), and decimal-sum means `c{r+1}` with
    * empty clusters keeping their previous centroid. Ends with the final
    * assignment `a{iters} (id, vv, nrm, cid)`. Every numeric step reuses
    * an already-green derivation: the x_sim_ivf init/argmax and the
    * x_emb_meanpool decimal-mean. */
  private[graft] def duckKmeansCtes(k: Int, iters: Int, dims: Int = 64): String = {
    val d1 = dims + 1
    val head =
      s"""${duckVecNormsCte(dims)},
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS INT) AS cid,
         |         list_transform(range(1, $d1), i -> CAST(vv[i] AS DOUBLE)) AS cv
         |  FROM v ORDER BY md5(CAST(id AS VARCHAR)) LIMIT $k
         |)""".stripMargin
    def round_(r: Int): String = {
      val mean =
        s"""m${r + 1} AS (
           |  SELECT cid, CAST(i AS INT) AS i,
           |    round(CAST(sum(CAST(CAST(vv[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
           |          / count(vv[CAST(i AS INT)]), 6) AS m
           |  FROM a$r, range(1, $d1) t(i) GROUP BY cid, i
           |),
           |g${r + 1} AS (SELECT cid, list(m ORDER BY i) AS cv FROM m${r + 1} GROUP BY cid),
           |c${r + 1} AS (
           |  SELECT c.cid, coalesce(g.cv, c.cv) AS cv
           |  FROM c$r c LEFT JOIN g${r + 1} g USING (cid)
           |)""".stripMargin
      s"""${assignCte(r, d1)}${if (r < iters) ",\n" + mean else ""}"""
    }
    (head +: (0 to iters).map(round_)).mkString(",\n")
  }

  /** Shared IVF CTE chain through the inverted file `assign` (id, vv,
    * nrm, cid): vectors+norms, deterministic centroid sample, all-pairs
    * cell scores, per-vector argmax. The x_sim_ivf probe statement and
    * the batch-assign oracle both build on it. */
  private[graft] val duckIvfAssignCtes: String =
    s"""${duckVecNormsCte()},
      |cent AS (
      |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS INT) AS cid,
      |         vv AS cv, nrm AS cnrm
      |  FROM v ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16
      |),
      |pairs AS (
      |  SELECT v.id, v.vv, v.nrm, c.cid,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(v.vv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))) / (v.nrm * c.cnrm) AS s
      |  FROM v CROSS JOIN cent c
      |),
      |assign AS (
      |  SELECT id, vv, nrm, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid DESC) AS rn
      |    FROM pairs
      |  ) WHERE rn = 1
      |)""".stripMargin

  /** Shared PQ CTE chain through the corpus code table `ec` (id, cs —
    * the per-vector code list): training head + Lloyd rounds + encode.
    * [[duckPqSql]] appends the ADC probe; the batch-encode oracle selects
    * from `ec` directly. */
  private[graft] def duckPqCtes(m: Int, ks: Int, iters: Int, dims: Int = 64): String = {
    val d0 = dims / m
    val d1 = d0 + 1
    val head =
      s"""WITH ${duckVecNormsCte(dims)},
         |sub AS (
         |  SELECT id, CAST(t.s AS INT) AS s,
         |    list_transform(range(CAST(t.s AS INT) * $d0 + 1, CAST(t.s AS INT) * $d0 + $d1),
         |      i -> CAST(vv[CAST(i AS INT)] AS DOUBLE)) AS sv
         |  FROM v, range(0, $m) t(s)
         |),
         |sd AS (
         |  SELECT id, vv,
         |    CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS INT) AS cid
         |  FROM v ORDER BY md5(CAST(id AS VARCHAR)) LIMIT $ks
         |),
         |c0 AS (
         |  SELECT CAST(t.s AS INT) AS s, cid,
         |    list_transform(range(CAST(t.s AS INT) * $d0 + 1, CAST(t.s AS INT) * $d0 + $d1),
         |      i -> CAST(vv[CAST(i AS INT)] AS DOUBLE)) AS cv
         |  FROM sd, range(0, $m) t(s)
         |)""".stripMargin
    val rounds = (0 to iters).map { r =>
      if (r < iters) duckPqAssignRound(r, d1) + ",\n" + duckPqMeanRound(r, d1)
      else duckPqAssignRound(r, d1)
    }
    val ec = s"ec AS (SELECT id, list(cid ORDER BY s) AS cs FROM a$iters GROUP BY id)"
    (head +: rounds :+ ec).mkString(",\n")
  }

  /** One Lloyd assignment round of the DuckDB PQ trainer (n/p/a CTEs over
    * `sub` and `c\$r`) — shared by the flat-PQ chain ([[duckPqCtes]]) and
    * the residual-PQ chain of the composed IVF-PQ oracle. */
  private[graft] def duckPqAssignRound(r: Int, d1: Int): String =
    s"""n$r AS (
       |  SELECT s, cid, cv,
       |    list_sum(list_transform(range(1, $d1), i -> cv[CAST(i AS INT)] * cv[CAST(i AS INT)])) AS cn2
       |  FROM c$r
       |),
       |p$r AS (
       |  SELECT x.id, x.s, x.sv, c.cid,
       |    2.0 * list_sum(list_transform(range(1, $d1),
       |      i -> x.sv[CAST(i AS INT)] * c.cv[CAST(i AS INT)])) - c.cn2 AS sc
       |  FROM sub x JOIN n$r c USING (s)
       |),
       |a$r AS (
       |  SELECT id, s, sv, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY sc DESC, cid DESC) AS rn
       |    FROM p$r
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** One Lloyd mean-update round of the DuckDB PQ trainer (decimal sums,
    * 6-decimal rounded means, empty clusters keep their centroid). */
  private[graft] def duckPqMeanRound(r: Int, d1: Int): String =
    s"""m${r + 1} AS (
       |  SELECT s, cid, CAST(i AS INT) AS i,
       |    round(CAST(sum(CAST(CAST(sv[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
       |          / count(sv[CAST(i AS INT)]), 6) AS mn
       |  FROM a$r, range(1, $d1) t(i) GROUP BY s, cid, i
       |),
       |g${r + 1} AS (SELECT s, cid, list(mn ORDER BY i) AS cv FROM m${r + 1} GROUP BY s, cid),
       |c${r + 1} AS (
       |  SELECT c.s, c.cid, coalesce(g.cv, c.cv) AS cv
       |  FROM c$r c LEFT JOIN g${r + 1} g ON g.s = c.s AND g.cid = c.cid
       |)""".stripMargin

  /** DuckDB twin of [[graft.operators.Urls.normalizePercentEncoding]]:
    * fold over the `%`-split pieces — malformed escapes pass through,
    * unreserved octets decode via the SAME alphabet/hex constants the
    * operator uses, everything else case-folds its hex. */
  private[graft] def duckNormPct(e: String): String = {
    val hexList = graft.operators.Urls.UnreservedHex.map(h => s"'$h'").mkString(", ")
    val alpha = graft.operators.Urls.UnreservedChars
    val pos = s"list_position([$hexList], upper(substring(pc, 1, 2)))"
    s"list_reduce(list_prepend(string_split($e, '%')[1], string_split($e, '%')[2:]), " +
      "(acc, pc) -> acc || CASE " +
      "WHEN NOT regexp_matches(pc, '^[0-9A-Fa-f]{2}') THEN '%' || pc " +
      s"WHEN coalesce($pos, 0) > 0 THEN substring('$alpha', $pos, 1) || substring(pc, 3) " +
      "ELSE '%' || upper(substring(pc, 1, 2)) || substring(pc, 3) END)"
  }

  /** The composed IVF-PQ oracle (IVFADC): IVF assignment
    * ([[duckIvfAssignCtes]]) → residuals → the SAME Lloyd PQ trainer over
    * the residuals → per-query probe of the `nprobe` best cells scoring
    * coded postings by q·c + ADC(q·r) over true norms → exact re-rank of
    * the `probe` shortlist. Every arithmetic step mirrors the Spark
    * operator operand-for-operand. */
  private[graft] def duckIvfPqSql(
      m: Int, ks: Int, iters: Int, nprobe: Int, probe: Int, k: Int,
      dims: Int = 64): String = {
    val d0 = dims / m
    val d1 = d0 + 1
    val head =
      s"""WITH $duckIvfAssignCtes,
         |rv AS (
         |  SELECT a.id, list_transform(range(1, ${dims + 1}),
         |    i -> CAST(a.vv[CAST(i AS INT)] AS DOUBLE) - CAST(c.cv[CAST(i AS INT)] AS DOUBLE)) AS vv
         |  FROM assign a JOIN cent c USING (cid)
         |),
         |sub AS (
         |  SELECT id, CAST(t.s AS INT) AS s,
         |    list_transform(range(CAST(t.s AS INT) * $d0 + 1, CAST(t.s AS INT) * $d0 + $d1),
         |      i -> vv[CAST(i AS INT)]) AS sv
         |  FROM rv, range(0, $m) t(s)
         |),
         |sd AS (
         |  SELECT id, vv,
         |    CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS INT) AS cid
         |  FROM rv ORDER BY md5(CAST(id AS VARCHAR)) LIMIT $ks
         |),
         |c0 AS (
         |  SELECT CAST(t.s AS INT) AS s, cid,
         |    list_transform(range(CAST(t.s AS INT) * $d0 + 1, CAST(t.s AS INT) * $d0 + $d1),
         |      i -> vv[CAST(i AS INT)]) AS cv
         |  FROM sd, range(0, $m) t(s)
         |)""".stripMargin
    val rounds = (0 to iters).map { r =>
      if (r < iters) duckPqAssignRound(r, d1) + ",\n" + duckPqMeanRound(r, d1)
      else duckPqAssignRound(r, d1)
    }
    val tail =
      s"""ec AS (SELECT id, list(cid ORDER BY s) AS cs FROM a$iters GROUP BY id),
         |qcell AS (
         |  SELECT id AS qid, cid FROM (
         |    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid DESC) AS rn
         |    FROM pairs WHERE id < 5
         |  ) WHERE rn <= $nprobe
         |),
         |dcc AS (
         |  SELECT q.qid, q.cid,
         |    list_sum(list_transform(range(1, ${dims + 1}),
         |      i -> CAST(vq.vv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))) AS dotc
         |  FROM qcell q JOIN v vq ON vq.id = q.qid JOIN cent c ON c.cid = q.cid
         |),
         |subq AS (
         |  SELECT id, CAST(t.s AS INT) AS s,
         |    list_transform(range(CAST(t.s AS INT) * $d0 + 1, CAST(t.s AS INT) * $d0 + $d1),
         |      i -> CAST(vv[CAST(i AS INT)] AS DOUBLE)) AS sv
         |  FROM v, range(0, $m) t(s) WHERE id < 5
         |),
         |tq AS (
         |  SELECT x.id AS qid, x.s, c.cid,
         |    list_sum(list_transform(range(1, $d1),
         |      i -> x.sv[CAST(i AS INT)] * c.cv[CAST(i AS INT)])) AS d
         |  FROM subq x JOIN n$iters c USING (s)
         |),
         |tqa AS (SELECT qid, s, list(d ORDER BY cid) AS ds FROM tq GROUP BY qid, s),
         |tqq AS (SELECT qid, list(ds ORDER BY s) AS tabs FROM tqa GROUP BY qid),
         |adc AS (
         |  SELECT q.qid AS query_id, e.id AS corpus_id,
         |    round(CASE WHEN vq.nrm * ve.nrm = 0 THEN 0.0
         |      ELSE (d.dotc + list_sum(list_transform(range(0, $m),
         |             u -> t.tabs[CAST(u AS INT) + 1][ec.cs[CAST(u AS INT) + 1] + 1])))
         |           / (vq.nrm * ve.nrm) END, 6) AS cos
         |  FROM qcell q
         |  JOIN assign e ON e.cid = q.cid AND e.id <> q.qid
         |  JOIN dcc d ON d.qid = q.qid AND d.cid = q.cid
         |  JOIN tqq t ON t.qid = q.qid
         |  JOIN ec ON ec.id = e.id
         |  JOIN v vq ON vq.id = q.qid
         |  JOIN v ve ON ve.id = e.id
         |),
         |${duckShortlistRerank(probe, k, dims)}""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }

  /** Product-quantization ANN mirror ([[graft.operators.Similarity.pqTopK]]):
    * every CTE carries the subspace index `s` as a column, so one set of
    * CTEs covers all m subspaces. Parity pins, operand for operand:
    * md5-smallest seed rows sliced per subspace; L2 assignment score
    * `2.0 * dot - cn2` with ties toward the larger code; decimal-sum
    * means rounded to 6; ADC dot and reconstructed norm as list_sum over
    * ascending s (Spark's reduceLeft order); the zero-denominator guard;
    * round-then-rank with (cos DESC, id ASC) at both the probe shortlist
    * and the final exact re-rank. */
  private[graft] def duckPqSql(m: Int, ks: Int, iters: Int, probe: Int, k: Int,
      dims: Int = 64): String = {
    val d0 = dims / m
    val d1 = d0 + 1
    val tail =
      s"""tq AS (
         |  SELECT x.id AS qid, x.s, c.cid,
         |    list_sum(list_transform(range(1, $d1),
         |      i -> x.sv[CAST(i AS INT)] * c.cv[CAST(i AS INT)])) AS d,
         |    c.cn2
         |  FROM sub x JOIN n$iters c USING (s) WHERE x.id < 5
         |),
         |tqa AS (
         |  SELECT qid, s, list(d ORDER BY cid) AS ds, list(cn2 ORDER BY cid) AS c2
         |  FROM tq GROUP BY qid, s
         |),
         |tqq AS (
         |  SELECT qid, list(ds ORDER BY s) AS tabs, list(c2 ORDER BY s) AS cn2s
         |  FROM tqa GROUP BY qid
         |),
         |adc AS (
         |  SELECT t.qid AS query_id, e.id AS corpus_id,
         |    round(CASE WHEN vq.nrm * sqrt(list_sum(list_transform(range(0, $m),
         |        u -> cn2s[CAST(u AS INT) + 1][e.cs[CAST(u AS INT) + 1] + 1]))) = 0 THEN 0.0
         |      ELSE list_sum(list_transform(range(0, $m),
         |             u -> tabs[CAST(u AS INT) + 1][e.cs[CAST(u AS INT) + 1] + 1]))
         |           / (vq.nrm * sqrt(list_sum(list_transform(range(0, $m),
         |               u -> cn2s[CAST(u AS INT) + 1][e.cs[CAST(u AS INT) + 1] + 1]))))
         |      END, 6) AS cos
         |  FROM ec e CROSS JOIN tqq t JOIN v vq ON vq.id = t.qid
         |  WHERE t.qid <> e.id
         |),
         |${duckShortlistRerank(probe, k, dims)}""".stripMargin
    duckPqCtes(m, ks, iters, dims) + ",\n" + tail
  }

  /** One k-means assignment round: centroid norms `n{r}`, all-pairs
    * cosine `p{r}`, argmax `a{r}`. */
  private[graft] def assignCte(r: Int, d1: Int): String =
    s"""n$r AS (
       |  SELECT cid, cv,
       |    sqrt(list_sum(list_transform(range(1, $d1), i -> cv[i] * cv[i]))) AS cnrm
       |  FROM c$r
       |),
       |p$r AS (
       |  SELECT v.id, v.vv, v.nrm, c.cid,
       |    list_sum(list_transform(range(1, $d1),
       |      i -> CAST(v.vv[i] AS DOUBLE) * c.cv[i])) / (v.nrm * c.cnrm) AS s
       |  FROM v CROSS JOIN n$r c
       |),
       |a$r AS (
       |  SELECT id, vv, nrm, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid DESC) AS rn
       |    FROM p$r
       |  ) WHERE rn = 1
       |)""".stripMargin
}
