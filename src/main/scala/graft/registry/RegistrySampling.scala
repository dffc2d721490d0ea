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

/** Registrations: deterministic sampling/splits and mergeable sketches.
  * One entry per implemented operator, each paired with its DuckDB
  * oracle twin; composed into the driver contract by
  * [[graft.SparkEntry]]. Entries moved verbatim from SparkEntry
  * (r14 split — VERDICT r13 item 7). */
private[graft] object RegistrySampling {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- extensions: deterministic sampling / splits ----
    "x_split_assign" -> ((s, d) =>
      Sampling.assignSplit(Tables.documents(s, d).select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
    "x_sample_stratified" -> ((s, d) =>
      Sampling.sampleStratified(Tables.events(s, d), "event_id", "event_type",
        Map("click" -> 0.5, "view" -> 0.1, "purchase" -> 1.0))
        .select("event_id", "event_type")),
    // mixture down-sampling to a char budget: 4 weighted sources share
    // 10k chars 4:3:2:1, the rest of the corpus is dropped; the oracle
    // embeds the SAME Sampling.budgetTargets doubles as literals
    "x_sample_mixture" -> ((s, d) =>
      Sampling.sampleToBudget(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", budget = 10000.0, mixtureWeights)),
    // epoch oversampling at weight 2.3: two full copies + a 0.3 draw
    "x_sample_weighted" -> ((s, d) =>
      Sampling.sampleWithWeight(Tables.documents(s, d).select("doc_id"), "doc_id", 2.3)
        .select("doc_id", "copy")),
    // domain-cap curation: at most 10 docs survive per source, elected by
    // the deterministic hash order (every source has 25 at this SF, so
    // every group truncates and the election itself is what's checked)
    "x_sample_cap" -> ((s, d) =>
      Sampling.capPerGroup(Tables.documents(s, d), "doc_id", "source", maxPerGroup = 10)
        .select("doc_id", "source")),
    // deterministic global training order: contiguous 0-based positions
    // by hash order — the zipWithIndex build (range exchange + two
    // narrow stages), never a single-partition global window
    "x_sample_shuffle" -> ((s, d) =>
      Sampling.shufflePositions(
        Tables.documents(s, d).select("doc_id"), "doc_id", "ord")),
    // quality-band mixture: tertile the corpus by (rounded) char entropy
    // via the bottom-k cutpoint sketch, keep 20%/50%/100% per band — the
    // no-global-sort "sample harder from better data" recipe; the score
    // rounds to 6dp upstream so both engines band identical doubles
    "x_sample_band" -> ((s, d) =>
      Sampling.sampleByScoreBand(
          Tables.documents(s, d).select(col("doc_id"),
            round(TextAnalysis.charEntropy(col("text")), 6).as("score")),
          "doc_id", "score", fractions = Seq(0.2, 0.5, 1.0), k = 64)
        .select(col("doc_id"), col("score"), col("band").cast("int").as("band"))),
    // KMV distinct-count sketch: per event type, distinct users estimated
    // from the 64 smallest user-id hash uniforms (150 true distinct, so
    // the (k-1)/U(k) estimator path is exercised, not the exact fallback)
    "x_sketch_distinct" -> ((s, d) =>
      Sketches.approxDistinctKmv(Tables.events(s, d), Seq("event_type"), "user_id",
        k = 64)),
    // Count-Min frequencies: lineitem part keys sketched into 4×256
    // cells, probed for every 50th part key; width is deliberately small
    // relative to ~2k distinct keys so the min-over-rows estimate path
    // (not a collision-free identity) is what's being checked
    "x_sketch_cms" -> ((s, d) =>
      Sketches.cmsFrequencies(Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d).filter(col("p_partkey") % 50 === 0), "p_partkey",
        width = 256, depth = 4)),
    // bottom-k quantiles: per-priority order totals from the 256
    // hash-smallest orders per group (~3k rows/group, so the sampled
    // path is exercised, not the exact small-group fallback)
    "x_sketch_quantiles" -> ((s, d) =>
      Sketches.approxQuantilesBottomK(Tables.orders(s, d), Seq("o_orderpriority"),
        "o_orderkey", "o_totalprice", Seq(0.25, 0.5, 0.75, 0.9, 0.99), k = 256)),
    // robust anomaly detection: event values score by |v-med|/MAD with
    // med and MAD from the bottom-k row sample; the value column is
    // right-skewed, so mean/stddev would mask exactly these outliers
    "x_sketch_outliers" -> ((s, d) =>
      Sketches.robustOutliers(
        Tables.events(s, d).select("event_id", "value"),
        "event_id", "value", threshold = 3.0, k = 256)),
    // MERGED KMV synopses: three disjoint ingest batches each persist a
    // ≤ 64-row synopsis; the roll-up (merge + estimate) must EQUAL the
    // fresh whole-corpus estimate — the lossless-merge law that lets a
    // store answer "distinct users so far" per batch without re-reading
    // any shard. The oracle computes the fresh global estimate
    "x_sketch_kmv_merged" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val parts = (0 to 2).map(b =>
        Sketches.kmvSynopsis(ev.filter(pmod(col("event_id"), lit(3)) === b), "user_id", k = 64))
      Sketches.kmvEstimate(Sketches.kmvMerge(parts, k = 64), k = 64)
    }),
    // MERGED quantile synopses: three disjoint order batches each persist
    // a ≤ 256-pair bottom-k synopsis; merge + estimate must EQUAL the
    // fresh single-pass estimate — the semilattice merge law that makes
    // bottom-k the right mergeable quantile sketch here (KLL's
    // order-sensitive compaction could not hash-match any replay). The
    // oracle computes the fresh whole-corpus statement
    "x_sketch_quantile_merged" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val parts = (0 to 2).map(b =>
        Sketches.quantileSynopsis(ord.filter(pmod(col("o_orderkey"), lit(3)) === b),
          "o_orderkey", "o_totalprice", k = 256))
      Sketches.quantileEstimate(Sketches.quantileMerge(parts, k = 256),
        Seq(0.25, 0.5, 0.75, 0.9, 0.99), k = 256)
    }),
    // MERGED Count-Min sketches: per-batch cell counts sum to exactly
    // the fresh corpus sketch (counts are linear), so probing the merged
    // cells answers the SAME estimates as x_sketch_cms — same oracle
    "x_sketch_cms_merged" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val parts = (0 to 2).map(b =>
        Sketches.cmsSketch(li.filter(pmod(col("l_orderkey"), lit(3)) === b),
          "l_partkey", width = 256, depth = 4))
      Sketches.cmsProbe(Sketches.cmsMerge(parts),
        Tables.part(s, d).filter(col("p_partkey") % 50 === 0), "p_partkey",
        width = 256, depth = 4)
    }),
    // HLL distinct per event type (deterministic md5 registers, p=8):
    // the harmonic-mean sum runs in fixed point (integer terms
    // 2^(maxRho−M)), so the estimate is association-order-free and
    // hash-matches the oracle's identical integer arithmetic; event_id
    // (~1–3k distinct per type vs m=256) keeps the raw branch active
    "x_sketch_hll" -> ((s, d) =>
      Sketches.approxDistinctHll(Tables.events(s, d), Seq("event_type"), "event_id", p = 8)),
    // MERGED HLL register synopses: per-(group,bucket) MAX over three
    // event-sharded synopses of user_id (the same user lands in many
    // shards — the merge must be idempotent, not just additive) equals
    // the fresh whole-corpus registers, so the merged estimate answers
    // the fresh statement; p=4 exercises the small-m alpha constant
    "x_sketch_hll_merged" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val parts = (0 to 2).map(b =>
        Sketches.hllRegisters(ev.filter(pmod(col("event_id"), lit(3)) === b),
          Seq("event_type"), "user_id", p = 4))
      Sketches.hllEstimate(Sketches.hllMerge(parts, Seq("event_type")), Seq("event_type"), p = 4)
    }),
    // EXACT heavy hitters (bot/abuse detection shape): Misra-Gries
    // candidates (pass 1, bounded state) -> exact recount of candidates
    // (pass 2, broadcast). Output is exact regardless of sketch
    // internals, so the oracle is a plain GROUP BY ... HAVING; the MG
    // superset guarantee itself is property-tested in SketchesSpec
    "x_sketch_heavy" -> ((s, d) =>
      Sketches.heavyHitters(Tables.events(s, d), "user_id", minShare = 0.005)),
  )

  /** KMV distinct-count estimate per event type: the k-th smallest
    * distinct hash-uniform of user_id; 63.0/U(64) is the same double
    * division on the same operands in both engines. */
  private[registry] val duckKmvDistinctSql: String =
    s"""WITH u AS (
       |  SELECT DISTINCT event_type, ${duckHashUniform("user_id", "kmv")} AS u
       |  FROM events
       |),
       |r AS (
       |  SELECT event_type, u,
       |         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS nd
       |  FROM u
       |)
       |SELECT event_type,
       |       round(CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
       |             ELSE 63.0 / max(CASE WHEN rn = 64 THEN u END) END, 6)
       |         AS est_distinct,
       |       CAST(least(max(nd), 64) AS INT) AS n_kept
       |FROM r GROUP BY event_type""".stripMargin

  /** Bottom-k quantiles per order priority: the k hash-smallest DISTINCT
    * (uniform, value) pairs are the sample in both engines; quantile q
    * reads the sorted sample at floor(q*(m-1)) (lower-value convention). */
  private[registry] val duckBottomKQuantilesSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT o_orderpriority, ${duckHashUniform("o_orderkey", "bkq")} AS u,
       |         CAST(o_totalprice AS DOUBLE) AS v
       |  FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
       |),
       |r AS (
       |  SELECT o_orderpriority, u, v,
       |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY u, v) AS rn
       |  FROM d
       |),
       |s AS (
       |  SELECT o_orderpriority, list_sort(list(v)) AS vs, count(*) AS m
       |  FROM r WHERE rn <= 256 GROUP BY o_orderpriority
       |)
       |SELECT o_orderpriority, CAST(q AS DOUBLE) AS q,
       |       round(vs[CAST(floor(CAST(q AS DOUBLE) * (m - 1)) AS INT) + 1], 6) AS est_value,
       |       CAST(m AS INT) AS n_sample
       |FROM s, (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    // same bottom-k sample CTE as x_sketch_quantiles (one global group,
    // salt "mad"); med and MAD read the sorted sample / sorted absolute
    // deviations at the same floor(0.5*(m-1)) index
    "x_sketch_outliers" ->
      s"""WITH d AS (
         |  SELECT DISTINCT ${duckHashUniform("event_id", "mad")} AS u,
         |         CAST(value AS DOUBLE) AS v
         |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
         |),
         |r AS (SELECT u, v, row_number() OVER (ORDER BY u, v) AS rn FROM d),
         |s AS (SELECT list_sort(list(v)) AS vs, count(*) AS m FROM r WHERE rn <= 256),
         |model AS (
         |  SELECT vs[CAST(floor(CAST(0.5 AS DOUBLE) * (m - 1)) AS INT) + 1] AS med, m, vs
         |  FROM s
         |),
         |model2 AS (
         |  SELECT med,
         |    list_sort(list_transform(vs, x -> abs(x - med)))
         |      [CAST(floor(CAST(0.5 AS DOUBLE) * (m - 1)) AS INT) + 1] AS mad
         |  FROM model
         |)
         |SELECT e.event_id, e.value,
         |       round(abs(CAST(e.value AS DOUBLE) - med) / mad, 6) AS score
         |FROM events e, model2
         |WHERE e.event_id IS NOT NULL AND e.value IS NOT NULL AND mad > 0
         |  AND round(abs(CAST(e.value AS DOUBLE) - med) / mad, 6) > CAST(3.0 AS DOUBLE)""".stripMargin,
    "x_split_assign" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |    ${duckHashUniform("doc_id", "split")} AS u
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM u""".stripMargin,
    "x_sample_stratified" ->
      s"""WITH u AS (
         |  SELECT event_id, event_type,
         |    ${duckHashUniform("event_id", "stratified")} AS u
         |  FROM events
         |)
         |SELECT event_id, event_type FROM u
         |WHERE u < CASE event_type
         |  WHEN 'click' THEN 0.5 WHEN 'view' THEN 0.1 WHEN 'purchase' THEN 1.0
         |  ELSE NULL END""".stripMargin,
    // mixture sampling: per-source fraction = least(1, target/total) with
    // the target literals produced by the SAME Sampling.budgetTargets
    // call the operator uses — interpolated via Double.toString, whose
    // shortest round-trip repr DuckDB parses back to the identical IEEE
    // double
    "x_sample_mixture" -> {
      val targetCase = graft.operators.Sampling
        .budgetTargets(10000.0, mixtureWeights)
        .map { case (g, t) => s"WHEN '$g' THEN CAST($t AS DOUBLE)" }
        .mkString(" ")
      val inList = mixtureWeights.map(w => s"'${w._1}'").mkString(", ")
      s"""WITH t AS (
         |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS total
         |  FROM documents WHERE source IN ($inList) GROUP BY source
         |),
         |f AS (
         |  SELECT source,
         |    least(CAST(1.0 AS DOUBLE),
         |          CASE source $targetCase ELSE NULL END / total) AS frac
         |  FROM t
         |)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN f USING (source)
         |WHERE ${duckHashUniform("d.doc_id", "mixture")} < frac""".stripMargin
    },
    "x_sketch_distinct" -> duckKmvDistinctSql,
    // Count-Min: cell counts are plain sums over md5-bucketed rows, the
    // estimate is the min over the 4 hash rows — identical integer
    // arithmetic in both engines
    // the depth index is named hj, NOT j: duckHash60 embeds its argument
    // inside a list_transform lambda whose variable is j, which would
    // shadow an outer j and hash the wrong string
    "x_sketch_cms" ->
      s"""WITH cells AS (
         |  SELECT hj,
         |         ${duckHash60("CAST(l_partkey AS VARCHAR) || '#cms#' || CAST(hj AS VARCHAR)")}
         |           % 256 AS b
         |  FROM lineitem, (SELECT unnest(range(0, 4)) AS hj)
         |  WHERE l_partkey IS NOT NULL
         |),
         |sk AS (SELECT hj, b, count(*) AS c FROM cells GROUP BY hj, b),
         |cand AS (SELECT DISTINCT p_partkey FROM part WHERE p_partkey % 50 = 0),
         |pr AS (
         |  SELECT p_partkey, hj,
         |         ${duckHash60("CAST(p_partkey AS VARCHAR) || '#cms#' || CAST(hj AS VARCHAR)")}
         |           % 256 AS b
         |  FROM cand, (SELECT unnest(range(0, 4)) AS hj)
         |)
         |SELECT p_partkey, min(coalesce(c, 0)) AS est_count
         |FROM pr LEFT JOIN sk USING (hj, b)
         |GROUP BY p_partkey""".stripMargin,
    // merged synopsis ≡ single pass (the quantile merge law), so the
    // oracle IS the fresh global bottom-k statement on the same
    // parameters — the x_sketch_kmv_merged accounting, quantile flavor
    "x_sketch_quantile_merged" ->
      s"""WITH d AS (
         |  SELECT DISTINCT ${duckHashUniform("o_orderkey", "bkq")} AS u,
         |         CAST(o_totalprice AS DOUBLE) AS v
         |  FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
         |),
         |r AS (SELECT u, v, row_number() OVER (ORDER BY u, v) AS rn FROM d),
         |s AS (SELECT list_sort(list(v)) AS vs, count(*) AS m FROM r WHERE rn <= 256)
         |SELECT CAST(q AS DOUBLE) AS q,
         |       round(vs[CAST(floor(CAST(q AS DOUBLE) * (m - 1)) AS INT) + 1], 6)
         |         AS est_value,
         |       CAST(m AS INT) AS n_sample
         |FROM s, (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q)""".stripMargin,
    "x_sketch_quantiles" -> duckBottomKQuantilesSql,
    // heavy hitters are EXACT (the sketch only proposes candidates), so
    // the oracle is the definition itself; the threshold literal is cast
    // to DOUBLE so both engines compare against the identical IEEE value
    "x_sketch_heavy" ->
      """WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM e)
        |SELECT user_id, count(*) AS cnt,
        |       round(CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share
        |FROM e, n GROUP BY user_id, n
        |HAVING count(*) >= CAST(0.005 AS DOUBLE) * n""".stripMargin,
    // the fractional bound is written as (2.3 - 2), not 0.3, so both
    // engines compare against the identical IEEE double
    "x_sample_weighted" ->
      s"""WITH c AS (
         |  SELECT doc_id, g.copy FROM documents, generate_series(0, 2) g(copy)
         |)
         |SELECT doc_id, CAST(copy AS INT) AS copy FROM c
         |WHERE copy < 2
         |   OR ${duckHashUniform("doc_id", "weight#2")} < (2.3 - 2)""".stripMargin,
    // the cutpoint sample mirrors x_sketch_quantiles' bottom-k CTE (one
    // global group); tertile q literals are the operator's own doubles
    // via toString round-trip, CAST to DOUBLE because DuckDB otherwise
    // parses them as exact DECIMALs and floors q*(m-1) one ulp lower
    // than the IEEE multiply both engines must share; band = count of
    // cuts <= score
    "x_sample_band" -> {
      val q1 = s"CAST(${(1.0 / 3).toString} AS DOUBLE)"
      val q2 = s"CAST(${(2.0 / 3).toString} AS DOUBLE)"
      s"""WITH e AS (
         |  SELECT doc_id,
         |    round(list_aggregate(list_transform(range(1, length(text) + 1),
         |            i -> substring(text, i, 1)), 'entropy'), 6) AS score
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |),
         |d AS (
         |  SELECT DISTINCT ${duckHashUniform("doc_id", "band#cut")} AS u, score AS v
         |  FROM e
         |),
         |r AS (SELECT u, v, row_number() OVER (ORDER BY u, v) AS rn FROM d),
         |s AS (SELECT list_sort(list(v)) AS vs, count(*) AS m FROM r WHERE rn <= 64),
         |banded AS (
         |  SELECT e.doc_id, e.score,
         |    (CASE WHEN e.score >= s.vs[CAST(floor($q1 * (s.m - 1)) AS INT) + 1]
         |          THEN 1 ELSE 0 END +
         |     CASE WHEN e.score >= s.vs[CAST(floor($q2 * (s.m - 1)) AS INT) + 1]
         |          THEN 1 ELSE 0 END) AS band
         |  FROM e, s
         |)
         |SELECT doc_id, score, CAST(band AS INT) AS band FROM banded
         |WHERE ${duckHashUniform("doc_id", "band#keep")} <
         |      (CASE band WHEN 0 THEN 0.2 WHEN 1 THEN 0.5 ELSE 1.0 END)""".stripMargin
    },
    // the bounded-heap election is the implementation; the contract is
    // "the 10 smallest (hash-uniform, id) rows per source", which the
    // oracle states as a window rank
    "x_sample_cap" ->
      s"""WITH u AS (
         |  SELECT doc_id, source, ${duckHashUniform("doc_id", "cap")} AS u
         |  FROM documents WHERE doc_id IS NOT NULL
         |)
         |SELECT doc_id, source FROM u
         |QUALIFY row_number() OVER (PARTITION BY source ORDER BY u, doc_id) <= 10""".stripMargin,
    // the global hash order reproduces engine-for-engine: md5 of the
    // same salted string, row_number along it
    "x_sample_shuffle" ->
      """SELECT doc_id,
        |       CAST(row_number() OVER (
        |         ORDER BY md5(CAST(doc_id AS VARCHAR) || '#ord'), doc_id) - 1
        |         AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin,
  )
}
