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

/** Registrations: star-schema benchmarks, reshape, and incrementally-maintained aggregates/joins.
  * One entry per implemented operator, each paired with its DuckDB
  * oracle twin; composed into the driver contract by
  * [[graft.SparkEntry]]. Entries moved verbatim from SparkEntry
  * (r14 split — VERDICT r13 item 7). */
private[graft] object RegistryAnalytics {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- extensions: analytic benchmarks over the star schema ----
    "x_agg_pricing" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))),
    "x_join_revenue" -> ((s, d) => {
      val li  = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),
    // TPC-H Q5-style star join: two fact SMJs, every dimension broadcast;
    // exercises join ordering + broadcast selection on a 6-table plan
    "x_join_region_revenue" -> ((s, d) => {
      val li   = Tables.lineitem(s, d)
      val ord  = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val supp = Tables.supplier(s, d)
      val nat  = Tables.nation(s, d)
      val reg  = Tables.region(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),
    // ---- extensions: reshape (pandas pivot_table / melt / crosstab) ----
    // wide pivot with a DECLARED vocabulary: single hash aggregate, no
    // distinct-discovery pass over the pivot column
    "x_reshape_pivot" -> ((s, d) =>
      Reshape.pivotAgg(Tables.lineitem(s, d), Seq("l_linestatus"), "l_returnflag",
        Seq("A", "N", "R"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), "qty_")),
    // long melt: zero-shuffle row expansion, NULL cells kept
    "x_reshape_unpivot" -> ((s, d) =>
      Reshape.melt(Tables.part(s, d), Seq("p_partkey"),
        Seq("p_retailprice", "p_size"), "metric", "value")),
    // contingency counts, empty cells 0 (total-preserving)
    "x_reshape_crosstab" -> ((s, d) =>
      Reshape.crosstabCounts(Tables.documents(s, d), "source", "lang",
        Seq("de", "en", "es", "fr", "zh"))),
    // hierarchical subtotals with explicit grouping flags (subtotal NULL
    // vs data NULL disambiguated)
    "x_agg_rollup" -> ((s, d) =>
      Reshape.rollupAgg(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
        Seq(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty")))),
    // ---- extensions: incrementally-maintained materialized aggregates ----
    // three ingest batches -> three partial states -> one merge: the
    // finalized view must hash-match the from-scratch recompute no matter
    // how the corpus was batched
    "x_agg_maintain" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val batches = (0 until 3).map(i =>
        MaterializedAgg.partialState(
          li.filter(pmod(col("l_orderkey"), lit(3)) === i), Seq("l_returnflag"), "l_quantity"))
      MaterializedAgg.finalizeView(
        MaterializedAgg.mergeStates(batches, Seq("l_returnflag")), Seq("l_returnflag"))
    }),
    // delete maintenance: batch 2 retracted from the standing state
    // (algebraic measures by negative merge, extrema by touched-group
    // repair over survivors) ≡ recompute over batches 0+1 only
    "x_agg_maintain_retract" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val g = Seq("l_returnflag")
      val b = (0 until 3).map(i => li.filter(pmod(col("l_orderkey"), lit(3)) === i))
      val standing = MaterializedAgg.mergeStates(
        b.map(MaterializedAgg.partialState(_, g, "l_quantity")), g)
      val retracted = MaterializedAgg.mergeStates(
        Seq(standing, MaterializedAgg.retractState(b(2), g, "l_quantity")), g)
      val survivors = b(0).unionByName(b(1))
      MaterializedAgg.finalizeView(
        MaterializedAgg.repairGroups(retracted, survivors, b(2), g, "l_quantity"), g)
    }),
    // rolling 7-day revenue per priority over DAILY PARTIALS: the window
    // sorts per-(priority, day) synopsis rows (groups × days,
    // corpus-independent), never the orders facts
    "x_agg_rolling" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      MaterializedAgg.rollingOver(daily, Seq("o_orderpriority"), "day", "rev", 6)
        .select(col("o_orderpriority"), col("day"),
          col("rev").cast("double").as("day_rev"),
          col("roll_sum").cast("double").as("roll7_rev"),
          col("n_in_window").as("n_days"))
    }),
    // rolling DISTINCT over maintained daily HLL partials: sums cannot
    // roll a distinct (the same user across two days counts once in the
    // week), register-max can — each day merges its trailing 7 days'
    // registers and estimates. The window works on synopsis rows
    // (|types| x |days| x <=16 registers at p=4), never the events
    "x_agg_rolling_hll" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val daily = MaterializedAgg.partialDistinctHll(
        ev, Seq("event_type", "day"), "user_id", p = 4)
      MaterializedAgg.rollingDistinctHll(daily, Seq("event_type"), "day", 7, p = 4)
    }),
    // distinct-count measure maintained the same way: per-batch KMV
    // synopses merged across batches ≡ the single-pass estimate (merge
    // law); holistic, so deletes go through touched-group repair, not
    // retraction
    "x_agg_maintain_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val g = Seq("event_type")
      val b = (0 until 3).map(i => ev.filter(pmod(col("user_id"), lit(3)) === i))
      MaterializedAgg.finalizeDistinct(
        MaterializedAgg.mergeDistinct(
          b.map(MaterializedAgg.partialDistinct(_, g, "user_id")), g), g)
    }),
    // HLL flavor of the maintained distinct — the many-groups regime
    // (2^p registers per group beat k doubles once groups are millions);
    // shards overlap on user_id so the register-max merge must be
    // idempotent, then a delete touching ONE group repairs from
    // survivors (HLL cannot retract), untouched groups' registers stand
    "x_agg_maintain_hll" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val g = Seq("event_type")
      val b = (0 to 2).map(i => ev.filter(pmod(col("event_id"), lit(3)) === i))
      val state = MaterializedAgg.mergeDistinctHll(
        b.map(MaterializedAgg.partialDistinctHll(_, g, "user_id", p = 4)), g)
      val gone = col("event_type") === "purchase" && pmod(col("user_id"), lit(2)) === 0
      val repaired = MaterializedAgg.repairDistinctHll(
        state, ev.filter(!gone), ev.filter(gone), g, "user_id", p = 4)
      MaterializedAgg.finalizeDistinctHll(repaired, g, p = 4)
    }),
    // quantile measure maintained the same way: per-batch bottom-k
    // (hash, value) synopses — the persisted hash coordinate is what
    // makes the sample re-mergeable — merged ≡ the single-pass sketch
    "x_agg_maintain_quantile" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val g = Seq("o_orderpriority")
      val b = (0 until 3).map(i => ord.filter(pmod(col("o_orderkey"), lit(3)) === i))
      MaterializedAgg.finalizeQuantile(
        MaterializedAgg.mergeQuantile(
          b.map(MaterializedAgg.partialQuantile(_, g, "o_orderkey", "o_totalprice", k = 256)),
          g, k = 256),
        g, Seq(0.25, 0.5, 0.75, 0.9, 0.99))
    }),
    // leaderboard measure maintained the same way: per-batch top-k
    // (value desc, id asc) synopses — the same semilattice trim law as
    // the extrema — merged ≡ the fresh whole-corpus leaderboard; the
    // distinct in the merge absorbs a replayed batch (idempotent)
    "x_agg_maintain_topk" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val g = Seq("o_orderpriority")
      val b = (0 until 3).map(i => ord.filter(pmod(col("o_orderkey"), lit(3)) === i))
      MaterializedAgg.finalizeTopK(
        MaterializedAgg.mergeTopK(
          b.map(MaterializedAgg.partialTopK(_, g, "o_orderkey", "o_totalprice", k = 10)),
          g, k = 10), g)
    }),
    // ---- extensions: incrementally-maintained materialized joins ----
    // three ingest rounds with BOTH sides growing — (L0,R0), (L1,R1),
    // (∅,R2) — each round contributing only its delta triple
    // ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR against the sides standing BEFORE it; the
    // union of the three deltas must hash-match the from-scratch join,
    // in any batching (the Blakeley SIGMOD'86 insert algebra)
    "x_join_maintain" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val lB = (0 until 2).map(i => li.filter(pmod(col("l_orderkey"), lit(2)) === i))
      val rB = (0 until 3).map(i => ord.filter(pmod(col("l_orderkey"), lit(3)) === i))
      val keys = Seq("l_orderkey")
      // the demo batches are table-halves, not small production deltas:
      // leave strategy choice to AQE instead of forcing a broadcast
      val d1 = MaterializedJoin.insertDelta(li.limit(0), lB(0), ord.limit(0), rB(0), keys,
        broadcastDeltas = false)
      val d2 = MaterializedJoin.insertDelta(lB(0), lB(1), rB(0), rB(1), keys,
        broadcastDeltas = false)
      val d3 = MaterializedJoin.insertDelta(lB(0).unionByName(lB(1)), li.limit(0),
        rB(0).unionByName(rB(1)), rB(2), keys, broadcastDeltas = false)
      d1.unionByName(d2).unionByName(d3)
    }),
    // the two IVM halves COMPOSE: each batch's join delta feeds an
    // aggregate partial, and the merged state must equal the aggregate
    // over the from-scratch join — a maintained dashboard over a
    // maintained join pays |ΔJ| + |touched groups| per batch, never |J|
    "x_join_agg_maintain" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val lB = (0 until 2).map(i => li.filter(pmod(col("l_orderkey"), lit(2)) === i))
      val rB = (0 until 3).map(i => ord.filter(pmod(col("l_orderkey"), lit(3)) === i))
      val keys = Seq("l_orderkey")
      val deltas = Seq(
        MaterializedJoin.insertDelta(li.limit(0), lB(0), ord.limit(0), rB(0), keys,
          broadcastDeltas = false),
        MaterializedJoin.insertDelta(lB(0), lB(1), rB(0), rB(1), keys,
          broadcastDeltas = false),
        MaterializedJoin.insertDelta(lB(0).unionByName(lB(1)), li.limit(0),
          rB(0).unionByName(rB(1)), rB(2), keys, broadcastDeltas = false))
      val g = Seq("o_orderpriority")
      MaterializedAgg.finalizeView(
        MaterializedAgg.mergeStates(
          deltas.map(MaterializedAgg.partialState(_, g, "l_quantity")), g), g)
    }),
    // dimension refresh (the UPDATE third of the lifecycle): every 10th
    // order's priority changes; the view retracts rows joined to the
    // touched keys and re-joins the standing facts against just the new
    // dimension rows — and must equal the recompute over the updated
    // dimension
    "x_join_refresh_dim" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val view = MaterializedJoin.insertDeltaLeft(li, ord, Seq("l_orderkey"),
        broadcastDelta = false)
      val updated = ord.filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .withColumn("o_orderpriority", concat(lit("R-"), col("o_orderpriority")))
      MaterializedJoin.refreshDimension(view, li, updated, Seq("l_orderkey"))
    }),
    // star-schema maintenance: fact batches star-join ALL standing
    // dimensions in one pass (ΔF⋈D1⋈D2, fold of broadcast delta joins —
    // the dominant 100 TB regime: facts grow continuously, dimensions
    // maintain on their own cadence); batch-delta union ≡ 3-way join
    "x_join_maintain_star" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val ordDim = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val partDim = Tables.part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_name"))
      val b = (0 until 3).map(i => li.filter(pmod(col("l_orderkey"), lit(3)) === i))
      b.map(MaterializedJoin.insertDeltaStar(_,
          Seq((ordDim, Seq("l_orderkey")), (partDim, Seq("l_partkey"))),
          broadcastDelta = false))
        .reduce(_ unionByName _)
    }),
    // delete maintenance by PROVENANCE: left rows with l_linenumber = 3
    // are deleted; the standing view retracts by anti-join on the left
    // row id (l_orderkey, l_linenumber) — never a re-join — and must
    // equal the recompute over surviving left rows
    "x_join_maintain_retract" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val view = MaterializedJoin.insertDeltaLeft(li, ord, Seq("l_orderkey"),
        broadcastDelta = false)
      MaterializedJoin.retractByIds(view,
        li.filter(col("l_linenumber") === 3), Seq("l_orderkey", "l_linenumber"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "x_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "x_join_revenue" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "x_join_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "x_reshape_pivot" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_returnflag = 'A'
        |           THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
        |  CAST(sum(CASE WHEN l_returnflag = 'N'
        |           THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
        |  CAST(sum(CASE WHEN l_returnflag = 'R'
        |           THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY 1""".stripMargin,
    "x_reshape_unpivot" ->
      """SELECT p_partkey, 'p_retailprice' AS metric,
        |       CAST(p_retailprice AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part""".stripMargin,
    "x_reshape_crosstab" ->
      """SELECT source,
        |  count(CASE WHEN lang = 'de' THEN 1 END) AS n_de,
        |  count(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
        |  count(CASE WHEN lang = 'es' THEN 1 END) AS n_es,
        |  count(CASE WHEN lang = 'fr' THEN 1 END) AS n_fr,
        |  count(CASE WHEN lang = 'zh' THEN 1 END) AS n_zh
        |FROM documents GROUP BY 1""".stripMargin,
    "x_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_l_returnflag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_l_linestatus,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "x_agg_maintain" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_v,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*), 6)
        |    AS avg_v,
        |  min(CAST(l_quantity AS DOUBLE)) AS min_v,
        |  max(CAST(l_quantity AS DOUBLE)) AS max_v
        |FROM lineitem GROUP BY 1""".stripMargin,
    "x_agg_maintain_retract" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_v,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*), 6)
        |    AS avg_v,
        |  min(CAST(l_quantity AS DOUBLE)) AS min_v,
        |  max(CAST(l_quantity AS DOUBLE)) AS max_v
        |FROM lineitem WHERE l_orderkey % 3 <> 2 GROUP BY 1""".stripMargin,
    "x_agg_rolling" ->
      """WITH daily AS (
        |  SELECT o_orderpriority, CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT o_orderpriority, day,
        |  CAST(rev AS DOUBLE) AS day_rev,
        |  CAST(sum(rev) OVER (PARTITION BY o_orderpriority ORDER BY day
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll7_rev,
        |  CAST(count(*) OVER (PARTITION BY o_orderpriority ORDER BY day
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS INT) AS n_days
        |FROM daily""".stripMargin,
    // merged synopsis ≡ single pass (the merge law), so the oracle IS
    // x_sketch_quantiles' single-pass form on the same parameters
    "x_agg_maintain_quantile" -> RegistrySampling.duckBottomKQuantilesSql,
    // same estimator twin as x_sketch_distinct: the merged synopsis must
    // equal the single-pass KMV, so the oracle IS the single-pass form
    "x_agg_maintain_distinct" -> RegistrySampling.duckKmvDistinctSql,
  )
}
