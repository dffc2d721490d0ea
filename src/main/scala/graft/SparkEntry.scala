package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{Currents, MetaColumns => M}
import graft.operators._
import graft.operators.Scd2.ValidFromMode
import graft.pipeline.Historization
import graft.sources.{Store, StoreIndex, Tables}
import graft.registry._
import graft.registry.Helpers.{enrichedA, enrichedB}
import graft.registry.OracleCtes._
import graft.registry.OracleCtesVectors._


/** Driver contract: one registered query per implemented operator
  * (SURVEY.md §2 + north-star extensions), each with DuckDB-equivalent
  * oracle SQL over the same parquet tables.
  *
  * Cross-engine determinism rules used throughout (SURVEY.md §5.2/§7.4):
  *  - fixed injected run timestamps, never wall clock;
  *  - doubles that feed hashes or aggregates go through decimal casts
  *    (raw double→string and double-sum order differ between engines);
  *  - md5-hex everywhere a hash is needed — both engines agree bit-for-bit;
  *  - ranking ties broken by an id column;
  *  - the events table's nanosecond timestamps are truncated to micros on
  *    both sides (Tables.events here, CAST(ts AS TIMESTAMP) in DuckDB).
  */
object SparkEntry {

  // Fixtures, staged stores, and oracle CTE text live in graft.registry
  // (Helpers / OracleCtes); the thin delegators below keep the external
  // surface (driver, specs, Bench/Verify) unchanged across the r14 split.
  private[graft] def writeMediaFixture(dir: String): Unit = Helpers.writeMediaFixture(dir)
  private[graft] def ensureMediaFixture(): Unit = Helpers.ensureMediaFixture()
  private[graft] def writeJsonlFixture(dir: String): Unit = Helpers.writeJsonlFixture(dir)
  private[graft] def ensureJsonlFixture(): Unit = Helpers.ensureJsonlFixture()
  private[graft] def stagedTierRuns13(s: SparkSession, d: String): (String, String) =
    Helpers.stagedTierRuns13(s, d)

  /** Build every staged derived store for `d` outside the timed bench
    * window — see [[graft.registry.Helpers.prebuildStaged]]. */
  def prebuildStaged(s: SparkSession, d: String): Unit = Helpers.prebuildStaged(s, d)

  /** Flagship (driver smoke, sf0.001): the reference's production path over
    * two lineitem snapshots — enrich, delta anti-join, append — returning
    * the versioned store content (SURVEY.md §7.5). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val current = enrichedA(spark, dir)
    current.unionByName(Cdc.delta(current, enrichedB(spark, dir)))
  }

  // --------------------------------------------------------------------
  // queries: composed from the per-family registries (entries verbatim;
  // same keys, same lambdas — the r14 split is file layout only)
  // --------------------------------------------------------------------

  /** Compose per-family registry Seqs into one Map, REFUSING duplicate
    * keys: `Seq ++ Seq ... .toMap` silently last-wins on a key registered
    * in two families, and the queries/oracle key-parity check cannot see
    * a collision when both sides define the key — so a future family
    * accidentally re-registering an existing name would silently shadow
    * the original entry instead of failing the build. */
  private def composed[V](parts: Seq[(String, V)]*): Map[String, V] = {
    val all = parts.flatten
    val dupes = all.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dupes.isEmpty,
      s"duplicate registry keys across families: ${dupes.toSeq.sorted.mkString(", ")}")
    all.toMap
  }

  /** Dump-layer canonicalization: decimal columns hash-diverge between the
    * Spark parquet dump and DuckDB (CORRECTNESS_r01: rows+schema matched,
    * hash didn't, on every quantity-carrying entry). Decimal math stays
    * internal; only the dumped projection casts to double (values are exact
    * halves — lossless). Oracles mirror with CAST(... AS DOUBLE). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    composed(RegistryParity.queries, RegistryDedup.queries, RegistryCuration.queries,
      RegistryText.queries, RegistrySimilarity.queries, RegistrySampling.queries,
      RegistryEvents.queries, RegistryAnalytics.queries)

  /** Bench-only rows (run by [[Bench]] beside `queries`, never dumped by
    * [[Verify]]): cost measurements whose algorithm is oracle-checked by a
    * registered row but whose corpus-wide statement has no SQL twin.
    * Composed through the same duplicate-key guard INCLUDING the
    * registered keys, so an extra can never shadow a registered query. */
  def benchExtras: Map[String, (SparkSession, String) => DataFrame] = {
    val extras = composed(RegistryText.benchExtras)
    val clashes = extras.keySet.intersect(queries.keySet)
    require(clashes.isEmpty,
      s"bench extras shadow registered queries: ${clashes.toSeq.sorted.mkString(", ")}")
    extras
  }

  private lazy val baseOracles: Map[String, String] =
    composed(RegistryParity.oracles, RegistryDedupOracles.oracles, RegistryCuration.oracles,
      RegistryTextOracles.oracles, RegistrySimilarity.oracles, RegistrySampling.oracles,
      RegistryEvents.oracles, RegistryAnalytics.oracles)

  def oracleSql: Map[String, String] = baseOracles ++ Map(
    // deliberately the SAME statements as x_sim_pq / x_sim_ivf: probing a
    // stored codebook + code table (resp. centroid frame + inverted file)
    // is an implementation strategy — persist-then-probe — not a semantic
    // change, exactly the l09_delta_bucketed precedent
    "x_sim_pq_index" -> baseOracles("x_sim_pq"),
    "x_sim_ivf_index" -> baseOracles("x_sim_ivf"),
    // batch-cost legs: the fresh-path encode/assign statements restricted
    // to the batch — encoding through the stored model is definitionally
    // the same argmax (the x_emb_kmeans_incremental precedent)
    "x_sim_pq_incremental" ->
      s"""${duckPqCtes(16, 16, 2)}
         |SELECT id AS vec_id, array_to_string(cs, ',') AS codes_csv
         |FROM ec WHERE id % 5 = 4""".stripMargin,
    "x_sim_ivf_incremental" ->
      s"""WITH $duckIvfAssignCtes
         |SELECT id AS vec_id, cid FROM assign WHERE id % 5 = 4""".stripMargin,
    // Lloyd-refined IVF: the kmeans trainer's final round already emits
    // the refined centroids (n2), the all-pairs cell scores (p2), and
    // the inverted file (a2) — the probe statement is x_sim_ivf's over
    // those CTEs
    "x_sim_ivf_kmeans" ->
      s"""WITH ${duckKmeansCtes(16, 2)},
         |probe AS (
         |  SELECT id AS query_id, vv AS qv, nrm AS qn, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid DESC) AS rn
         |    FROM p2 WHERE id < 5
         |  ) WHERE rn <= 8
         |),
         |scored AS (
         |  SELECT p.query_id, a.id AS corpus_id,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> CAST(p.qv[i] AS DOUBLE) * CAST(a.vv[i] AS DOUBLE))) / (p.qn * a.nrm), 6) AS cos
         |  FROM probe p JOIN a2 a ON a.cid = p.cid AND a.id <> p.query_id
         |),
         |${duckTopKTail()}""".stripMargin,
    // the composed-index oracle reproduces the whole IVFADC pipeline:
    // IVF assignment, residuals, the Lloyd trainer over residuals, the
    // q·c + ADC(q·r) probe, exact re-rank
    "x_sim_ivfpq_index" ->
      duckIvfPqSql(m = 16, ks = 32, iters = 2, nprobe = 10, probe = 80, k = 10),
    // incremental ≡ the full-corpus spans statement restricted to the
    // batch's documents: a gram is in ≥2 distinct docs overall iff it
    // hits the standing store or a second batch doc
    "x_dedup_spans_incremental" -> duckSpansSql(dpWhere = "\n  WHERE pos.doc_id % 2 = 1"),
    // the exact spans row shares x_dedup_spans' statement: that oracle
    // already decides duplication by the gram STRING, which is exactly
    // the exact operator's semantics (the hashed operator merely has no
    // collisions to expose at this scale)
    "x_dedup_spans_exact" -> baseOracles("x_dedup_spans"),
    // deliberately the SAME statement as x_store_asof_run: generation 1
    // IS the store run 1 left behind, preserved physically — generation
    // travel and run travel answer the same question through different
    // axes (physical rewrites vs logical loads)
    "x_store_generation_travel" -> baseOracles("x_store_asof_run"),
    // the pass-1 manifest pins the pass-1 hash-store generation, whose
    // content IS the run-1 historization — same statement again through
    // the cross-store snapshot axis
    "x_store_manifest_snapshot" -> baseOracles("x_store_asof_run"),
    // the purged twin of generation 1 = run-1 content minus the removed
    // keys, recomputed independently from the snapshots — no retained
    // generation may contain a removed key (spec-pinned in StoreSpec;
    // here the oracle pins the surviving content exactly)
    "x_store_generation_purged" -> duckRun1PurgedSql,
    // the remapped pass-1 manifest resolves the purged twin of the
    // pass-1 hash-store generation: run-1 content minus the erased keys
    // — the same statement through the snapshot axis
    "x_store_manifest_purged" -> duckRun1PurgedSql,
    // merged per-batch CMS cells ≡ fresh corpus sketch (linearity), so
    // the probe answers the same estimates — same statement
    "x_sketch_cms_merged" -> baseOracles("x_sketch_cms"),
    // HLL registers and the fixed-point harmonic sum re-derived in SQL —
    // identical integer arithmetic, identical double literals
    "x_sketch_hll" -> duckHllSql("event_id", 8),
    // merged register synopses ≡ fresh whole-corpus registers (max is
    // idempotent), so the merged estimate answers the fresh statement
    // over the same (value, p) parameters
    "x_sketch_hll_merged" -> duckHllSql("user_id", 4),
    // maintained HLL after the touched-group repair ≡ the fresh statement
    // over survivors (the merge law + recompute-repair law in one row)
    "x_agg_maintain_hll" -> duckHllSql("user_id", 4,
      where = "NOT (event_type = 'purchase' AND user_id % 2 = 0)"),
    // rolling 7-day distinct: per-(type, day) registers window-merged by
    // register max — the identical fixed-point estimate arithmetic as
    // duckHllSql, grouped by (type, window day); p=4: m=16, maxRho=57
    "x_agg_rolling_hll" -> {
      val m = 16; val w = 56; val maxRho = 57
      val num = graft.operators.Sketches.hllNumerator(4)
      s"""WITH h AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |         ${duckHash60("CAST(user_id AS VARCHAR) || '#hll'")} AS h
         |  FROM events WHERE user_id IS NOT NULL
         |),
         |r AS (
         |  SELECT event_type, day, CAST(h % $m AS INT) AS b,
         |         CAST(CASE WHEN h // $m = 0 THEN $maxRho
         |                   ELSE $w + 1 - length(bin(h // $m)) END AS INT) AS m_part
         |  FROM h
         |),
         |regs AS (
         |  SELECT event_type, day, b, max(m_part) AS m_reg
         |  FROM r GROUP BY 1, 2, 3
         |),
         |days AS (SELECT DISTINCT event_type, day FROM regs),
         |wnd AS (
         |  SELECT d.event_type, d.day, r.b, max(r.m_reg) AS m_reg
         |  FROM days d JOIN regs r ON r.event_type = d.event_type
         |    AND r.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1, 2, 3
         |),
         |nwin AS (
         |  SELECT d.event_type, d.day, CAST(count(*) AS INT) AS n_days
         |  FROM days d JOIN days e ON e.event_type = d.event_type
         |    AND e.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1, 2
         |),
         |agg AS (
         |  SELECT event_type, day, count(*) AS np,
         |         sum(CAST(1 AS BIGINT) << CAST($maxRho - m_reg AS INT)) AS sp
         |  FROM wnd GROUP BY 1, 2
         |),
         |est AS (
         |  SELECT event_type, day,
         |         CAST(sp + ($m - np) * (CAST(1 AS BIGINT) << $maxRho) AS DOUBLE) AS s,
         |         CAST($m - np AS INT) AS n_zero_regs
         |  FROM agg
         |)
         |SELECT e.event_type, e.day,
         |       round(CASE WHEN CAST($num AS DOUBLE) / s <= CAST(${2.5 * m} AS DOUBLE)
         |                   AND n_zero_regs > 0
         |                  THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / n_zero_regs)
         |                  ELSE CAST($num AS DOUBLE) / s END, 6) AS est_distinct,
         |       n_zero_regs, n.n_days
         |FROM est e JOIN nwin n ON n.event_type = e.event_type AND n.day = e.day""".stripMargin
    },
    // the three insert-delta triples union to exactly the from-scratch
    // inner join — the oracle is the join's definition
    "x_join_maintain" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    // maintained leaderboard ≡ the fresh top-k definition (semilattice
    // trim law); both engines tie-break by the id STRING (binary order)
    "x_agg_maintain_topk" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(o_orderkey AS VARCHAR) AS id,
        |         CAST(o_totalprice AS DOUBLE) AS value,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY CAST(o_totalprice AS DOUBLE) DESC,
        |                    CAST(o_orderkey AS VARCHAR)) AS rk
        |  FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
        |)
        |SELECT o_orderpriority, CAST(rk AS INT) AS rank, id, value
        |FROM r WHERE rk <= 10""".stripMargin,
    // composed IVM: the merged per-batch-delta aggregate state answers
    // the aggregate over the join's definition
    "x_join_agg_maintain" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_v,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*), 6)
        |    AS avg_v,
        |  min(CAST(l_quantity AS DOUBLE)) AS min_v,
        |  max(CAST(l_quantity AS DOUBLE)) AS max_v
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // refreshed view ≡ the join over the updated dimension's definition
    "x_join_refresh_dim" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       CASE WHEN o_orderkey % 10 = 0 THEN 'R-' || o_orderpriority
        |            ELSE o_orderpriority END AS o_orderpriority,
        |       o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    // star maintenance ≡ the 3-way join's definition
    "x_join_maintain_star" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |       o_orderpriority, p_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey""".stripMargin,
    // provenance retraction ≡ recompute over surviving left rows
    "x_join_maintain_retract" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_linenumber <> 3""".stripMargin,
    // merged per-batch KMV synopses ≡ fresh global synopsis (lossless
    // merge), so the estimate is the ungrouped x_sketch_distinct
    "x_sketch_kmv_merged" ->
      s"""WITH u AS (
         |  SELECT DISTINCT ${duckHashUniform("user_id", "kmv")} AS u FROM events
         |),
         |r AS (
         |  SELECT u, row_number() OVER (ORDER BY u) AS rn, count(*) OVER () AS nd
         |  FROM u
         |)
         |SELECT round(CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
         |             ELSE 63.0 / max(CASE WHEN rn = 64 THEN u END) END, 6)
         |         AS est_distinct,
         |       CAST(least(max(nd), 64) AS INT) AS n_kept
         |FROM r""".stripMargin,
    // symmetric diff: both sides reduce to (key, digest) then one full
    // outer join; the digest recipe is the library record hash
    "x_store_diff" -> storeDiffOracle(
      """SELECT l_orderkey, l_linenumber, diff_status, record_hash_a, record_hash_b
        |FROM diff WHERE diff_status <> 'unchanged'""".stripMargin),
    // CAST each sum to BIGINT: Spark's sum(when) is LongType but DuckDB's
    // bare sum(CASE) over INTEGER yields HUGEINT — value-identical yet
    // typed-hash-distinct on the driver (the r12 red row).
    "x_store_diff_summary" -> storeDiffOracle(
      """SELECT CAST(sum(CASE WHEN diff_status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |       CAST(sum(CASE WHEN diff_status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       CAST(sum(CASE WHEN diff_status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |       CAST(sum(CASE WHEN diff_status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM diff""".stripMargin),
    // skipping reads are row-identical to the full filtered scan —
    // the pruning is a fast-path, never a semantic
    "x_store_skipping" ->
      "SELECT * FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 1999",
    // the metadata-only count must equal the exact filtered count —
    // manifest arithmetic plus boundary scans is a fast-path, never a
    // semantic
    "x_store_count_range" ->
      "SELECT count(*) AS n_rows FROM lineitem WHERE l_orderkey BETWEEN 5000 AND 35000",
    "x_store_sum_range" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 5000 AND 35000""".stripMargin,
    // the full quad rollup is a fast path over the same exact aggregate;
    // avg is one double division over exact decimal/long totals on both
    // engines, rounded on both sides
    "x_store_minmax_range" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
        |       CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |             / count(l_quantity), 6) AS avg_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 5000 AND 35000""".stripMargin,
    "x_store_point_lookup" ->
      "SELECT * FROM lineitem WHERE l_orderkey IN (123, 7777, 14000)",
    "x_store_time_slice" ->
      """SELECT * FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-03-01 00:00:00'
        |                     AND TIMESTAMP '1997-03-31 23:59:59'""".stripMargin,
    "x_store_zorder_box" ->
      """SELECT * FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 10 AND 39""".stripMargin,
    // the manifest's totals must reproduce the table's (faithfulness)
    "x_stage_build_sorted" ->
      """SELECT count(*) AS n_rows, min(l_orderkey) AS min_k,
        |       max(l_orderkey) AS max_k, CAST(0 AS BIGINT) AS n_nulls
        |FROM lineitem""".stripMargin,
    // the rollup store's quad manifest reproduces the projected table
    "x_stage_build_rollup" ->
      """SELECT count(*) AS n_rows, min(l_orderkey) AS min_k,
        |       max(l_orderkey) AS max_k, CAST(0 AS BIGINT) AS n_nulls,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem""".stripMargin)
}
