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

/** Registrations: reference-parity operators (SURVEY §2.1/§2.2), the versioned store layer, and the SCD2 lifecycle (tiered, delete-closure, resurrection).
  * One entry per implemented operator, each paired with its DuckDB
  * oracle twin; composed into the driver contract by
  * [[graft.SparkEntry]]. Entries moved verbatim from SparkEntry
  * (r14 split — VERDICT r13 item 7). */
private[graft] object RegistryParity {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- parity: live operators (SURVEY §2.1) ----
    "l01_csv_scan" -> ((s, _) =>
      Store.readCsv(s, gradesCsvPath).select(
        col("Lastname"), col("Firstname"), col("SSN"),
        col("Test1").cast("double").as("Test1"), col("Test2").cast("double").as("Test2"),
        col("Test3").cast("double").as("Test3"), col("Test4").cast("double").as("Test4"),
        col("Final").cast("double").as("Final"), col("Grade"))),
    "l05_meta_enrich" -> ((s, d) => qtyAsDouble(enrichedA(s, d))),
    "l11_hash_projection" -> ((s, d) => enrichedA(s, d).select(M.KeyHash, M.RecordHash)),
    "l09_delta" -> ((s, d) => qtyAsDouble(Cdc.delta(enrichedA(s, d), enrichedB(s, d))
      .select("l_orderkey", "l_linenumber", "quantity", M.KeyHash, M.RecordHash))),
    // the bucketed-store delta form: must produce EXACTLY the pair
    // anti-join's rows (same oracle SQL), while re-keying the join so a
    // KEY_HASH-bucketed store is read with zero Exchange
    "l09_delta_bucketed" -> ((s, d) => qtyAsDouble(Cdc.deltaBucketed(enrichedA(s, d), enrichedB(s, d))
      .select("l_orderkey", "l_linenumber", "quantity", M.KeyHash, M.RecordHash))),
    // the incremental-feed regime pair: a SMALL batch (every 100th order
    // key of run 2 — ~1% of keys) against the large standing store. The
    // plain-anti-join twin measures what the regime costs without routing…
    "l09_delta_batch" -> ((s, d) => qtyAsDouble(Cdc.delta(stagedHashStoreA(s, d), batchB(s, d))
      .select("l_orderkey", "l_linenumber", "quantity", M.KeyHash, M.RecordHash))),
    // …and the Bloom route probes the STAGED store synopsis (built once
    // per store generation, its cost visible in x_stage_build_bloom):
    // definite-new rows bypass the store entirely, maybe rows resolve
    // through the broadcast residual — the store is scanned once
    // (pair columns only) and never shuffled. Must produce EXACTLY the
    // pair anti-join's rows (same oracle SQL — false positives cost a
    // probe, never a wrong answer)
    "l09_delta_bloom" -> ((s, d) => qtyAsDouble(
      Cdc.deltaBloomWith(stagedHashStoreA(s, d), batchB(s, d),
        stagedBloomSynopsis(s, d), bits = BloomBits)
        .select("l_orderkey", "l_linenumber", "quantity", M.KeyHash, M.RecordHash))),
    "x_stage_build_bloom" -> ((s, d) =>
      buildScratch(s, "bloom_synopsis_b22")(
        Cdc.bloomSynopsis(stagedHashStoreA(s, d), bits = BloomBits).coalesce(1))),
    "l13_inserts" -> ((s, d) => Cdc.inserts(enrichedA(s, d), enrichedB(s, d))
      .select("l_orderkey", "l_linenumber", M.KeyHash)),
    "l14_updates" -> ((s, d) => qtyAsDouble(Cdc.updates(enrichedA(s, d), enrichedB(s, d))
      .select("l_orderkey", "l_linenumber", "quantity", M.RecordHash))),
    "l10_union_append" -> ((s, d) => {
      val cur = enrichedA(s, d)
      qtyAsDouble(cur.unionByName(Cdc.delta(cur, enrichedB(s, d)))
        .select("l_orderkey", "l_linenumber", "quantity", "returnflag", "linestatus",
          "shipdate", M.KeyHash, M.RecordHash, M.InsertRunId))
    }),
    "l16_historize_runs" -> ((s, d) => {
      // The reference's only end-to-end path (main.py:14-34) as the pure
      // two-run chain: bootstrap run over snapshot A, incremental run over B.
      val r1 = Historization.historizeFrames(
        enrichedA(s, d).limit(0), snapA(s, d), cur1, keys)
      qtyAsDouble(Historization.historizeFrames(r1, snapB(s, d), cur2, keys))
    }),
    // ---- parity: design-spec operators (SURVEY §2.2) ----
    "d03_schema_evolution" -> ((s, d) => {
      val base = snapA(s, d)
      val target = org.apache.spark.sql.types.StructType(
        base.schema.fields.filterNot(_.name == "linestatus") :+
          org.apache.spark.sql.types.StructField("load_source",
            org.apache.spark.sql.types.StringType, nullable = true))
      qtyAsDouble(SchemaEvolution.prepareSchema(base, target,
        Map("load_source" -> "batch"), removeColumns = true))
    }),
    "d04_merge_cdc" -> ((s, d) => {
      val cur  = enrichedA(s, d)
      val newD = enrichedB(s, d).filter(pmod(col("l_orderkey"), lit(7)) === 0)
      val del  = cur.filter(pmod(col("l_orderkey"), lit(13)) === 0).select(M.KeyHash)
      qtyAsDouble(Cdc.mergeCdc(cur, newD, Seq(M.KeyHash), Some(del))
        .select("l_orderkey", "l_linenumber", "quantity", M.KeyHash, M.RecordHash))
    }),
    "d06_scd2_merge" -> ((s, d) => qtyAsDouble(scd2v2(s, d))),
    // D1 bootstrap + D5 valid-from policy variants (LoadDate is covered by d06)
    "d05_valid_from_lower" -> ((s, d) => qtyAsDouble(
      Scd2.historizeDataset(enrichedA(s, d), None, cur1, ValidFromMode.LowerBound))),
    "d05_valid_from_custom" -> ((s, d) => qtyAsDouble(
      Scd2.historizeDataset(enrichedA(s, d), None, cur1, ValidFromMode.Custom("2020-06-15")))),
    "d07_deletes_by_column" -> ((s, d) =>
      Cdc.deletesByColumn(enrichedA(s, d), "returnflag", "R")),
    "d08_deleted_full_load" -> ((s, d) => {
      val shrunk = enrichedB(s, d).filter(pmod(col("l_orderkey"), lit(3)) =!= 0)
      Cdc.deletedByFullLoad(enrichedA(s, d), shrunk)
    }),
    // D7/D8 composed INTO the history — the closure the reference's dead
    // code never wires: run-3 full load drops every 7th order key; the
    // vanished keys' ACTIVE rows close (runDay − 1 = leap-day 02-29) and
    // stamp DELETED, closed history and surviving keys pass through
    "x_scd2_delete_close" -> ((s, d) => {
      val snap3 = enrichedB(s, d).filter(pmod(col("l_orderkey"), lit(7)) =!= 0)
      qtyAsDouble(Scd2.closeVanished(stagedScd2v2(s, d), snap3, cur3)
        .select("l_orderkey", "l_linenumber", "quantity", M.RecordHash,
          M.UpdateTs, M.UpdateRunId, M.ValidFrom, M.ValidTo, M.Deleted))
    }),
    // resurrection: run 4 re-delivers the FULL load, so every key the
    // run-3 closure closed comes back — a fresh interval opens at the
    // run-4 day and the validity gap (the deleted epoch) is preserved.
    // The store-maintenance composition (closure pass + reopen pass) is
    // registered because the fixture's snapshot is NOT key-unique (the
    // synthetic lineitem duplicates (orderkey, linenumber)), which the
    // merge forms' contract excludes; reopenClosed makes no such
    // assumption. mergeScd2Reopen (merge + reopen in one run) is
    // property-tested in Scd2Spec under the key-unique contract.
    "x_scd2_reopen" -> ((s, d) => {
      val snap3 = enrichedB(s, d).filter(pmod(col("l_orderkey"), lit(7)) =!= 0)
      val closed = Scd2.closeVanished(stagedScd2v2(s, d), snap3, cur3)
      qtyAsDouble(Scd2.reopenClosed(closed, enrichedB(s, d), cur4)
        .select("l_orderkey", "l_linenumber", "quantity", M.RecordHash,
          M.UpdateTs, M.UpdateRunId, M.ValidFrom, M.ValidTo, M.Deleted))
    }),
    // TIERED twin of the whole 4-run delete lifecycle: active rows in one
    // store, closed intervals appended to a run-partitioned archive —
    // merges touch the active tier plus a KEY_HASH-projected archive
    // probe, never the history payload (the layout that stops merge cost
    // scaling with history length). The tiering must be INVISIBLE to
    // readers: (archive ∪ active) after runs 1-4 (bootstrap, 53-modulus
    // change, 7-modulus vanish, full re-delivery) answers the flat
    // lifecycle's closed-form statement. The fixture is ORDERS — the
    // key-unique dimension — because the tiered lifecycle composes the
    // merge forms, whose contract is a key-unique full load (the
    // duplicate-keyed lineitem is the documented reason x_scd2_reopen
    // uses the pass forms instead). Fresh build each call — this row
    // measures the tiered lifecycle itself.
    "x_scd2_tiered" -> ((s, d) => {
      val base = s"/tmp/graft_scratch/scd2_tier_${dirTag(d, "orders")}"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val m = ValidFromMode.LoadDate
      val (ap, hp) = (s"$base/active", s"$base/history")
      val keysO = Seq("o_orderkey")
      val a = MetaEnrichment.addMetaColumns(ordProj(s, d), cur1, keysO)
      val b = MetaEnrichment.addMetaColumns(ordSnapB(s, d), cur2, keysO)
      Scd2Tier.historizeTiered(s, a, ap, hp, cur1, m)
      Scd2Tier.historizeTiered(s, b, ap, hp, cur2, m)
      Scd2Tier.historizeTiered(s,
        b.filter(pmod(col("o_orderkey"), lit(7)) =!= 0), ap, hp, cur3, m)
      Scd2Tier.historizeTiered(s, b, ap, hp, cur4, m)
      tieredReadProjection(s, ap, hp)
    }),
    // STEADY-STATE tiered row: the number that matters at year N of a
    // daily-merged dimension is the per-run slice, not the lifecycle
    // rebuild — runs 1-3 are staged once (cold cost in the staging pass,
    // like every other staged store) and this row times run 4 ALONE:
    // archive KEY_HASH probe, active merge, reopen, closure, swap. The
    // application is in-place and CONVERGENT (the crash contract: a
    // replay against the advanced store recomputes the identical active
    // tier and appends nothing), so re-running the row measures the same
    // merge work and answers the same flat closed-form statement as the
    // fresh-lifecycle twin x_scd2_tiered.
    "x_scd2_tiered_run" -> ((s, d) => {
      val (ap, hp) = stagedTierRuns13(s, d)
      Scd2Tier.historizeTiered(s,
        MetaEnrichment.addMetaColumns(ordSnapB(s, d), cur2, Seq("o_orderkey")),
        ap, hp, cur4, ValidFromMode.LoadDate)
      tieredReadProjection(s, ap, hp)
    }),
    // ARCHIVE COMPACTION is reader-invisible: fold the staged 4-run
    // archive's older `run=` partitions (3 partitions -> keepRuns=2
    // keeps the newest, folds the other two) and answer the SAME
    // closed-form statement the uncompacted store answers — under the
    // driver's hash, compaction changed nothing a reader can see.
    // Idempotent: a second call finds <= keepRuns partitions and
    // returns without rewriting.
    "x_scd2_tiered_compact" -> ((s, d) => {
      val (ap, hp) = stagedTier4Runs(s, d)
      Scd2Tier.compactHistory(s, hp, keepRuns = 2)
      tieredReadProjection(s, ap, hp)
    }),
    "l15_split_active" -> ((s, d) => Scd2.splitMergedDataset(stagedScd2v2(s, d))._2
      .select("l_orderkey", "l_linenumber", M.RecordHash, M.ValidFrom, M.ValidTo)),
    "l15_split_hist" -> ((s, d) => Scd2.splitMergedDataset(stagedScd2v2(s, d))._1
      .select("l_orderkey", "l_linenumber", M.RecordHash, M.ValidFrom, M.ValidTo)),
    // point-in-time reconstruction: the historized table as it was on a
    // mid-history day (run 1 live, run 2 not yet — every v1 row valid)
    // and on the close-out boundary day itself (closed rows' VALID_TO is
    // inclusive, so 2024-02-14 still reads the pre-change versions)
    "x_store_asof" -> ((s, d) => qtyAsDouble(Scd2.asOf(stagedScd2v2(s, d), "2024-02-01")
      .select("l_orderkey", "l_linenumber", "quantity",
        M.RecordHash, M.ValidFrom, M.ValidTo))),
    "x_store_asof_boundary" -> ((s, d) =>
      qtyAsDouble(Scd2.asOf(stagedScd2v2(s, d), "2024-02-14")
        .select("l_orderkey", "l_linenumber", "quantity",
          M.RecordHash, M.ValidFrom, M.ValidTo))),
    // bucketed point-in-time POINT lookup: "the version of key X live on
    // day D" against the writeStoreBucketed layout — one bucket directory
    // of 8, KEY_HASH row-group pruned, validity bounds pushed (plan
    // pinned in StoreSpec). The demo key is the snapshot's minimum
    // business key; its KEY_HASH literal derives driver-side exactly as
    // the md5 enrichment defines it (bounded collect: two scalars)
    "x_store_asof_point" -> ((s, d) =>
      qtyAsDouble(Store.readStoreBucketAsOf(s, stagedScd2v2BucketedPath(s, d),
        minKeyHash(snapA(s, d)), "2024-02-01", buckets = 8)
        .select("l_orderkey", "l_linenumber", "quantity",
          M.RecordHash, M.ValidFrom, M.ValidTo))),
    // full version chain of one key — the point lookup without the day
    // restriction; the demo key is the minimum CHANGED key (modulus-97
    // bump), so the history has both the closed row and its successor
    "x_store_key_history" -> ((s, d) =>
      qtyAsDouble(Store.readStoreBucketKey(s, stagedScd2v2BucketedPath(s, d),
        minKeyHash(snapA(s, d).filter(pmod(col("l_orderkey"), lit(97)) === 0)),
        buckets = 8)
        .select("l_orderkey", "l_linenumber", "quantity",
          M.RecordHash, M.ValidFrom, M.ValidTo))),
    // interval audit read: every version valid at any point of
    // [2024-01-05, 2024-02-10] — the window ends BEFORE the run-2
    // boundary, so run-1 rows qualify (including ones later closed on
    // Feb 14: they were live during the window) while every Feb 15
    // opening is excluded; both bounds push to the scan like asOf
    "x_store_between" -> ((s, d) =>
      qtyAsDouble(Scd2.between(stagedScd2v2(s, d), "2024-01-05", "2024-02-10")
        .select("l_orderkey", "l_linenumber", "quantity",
          M.RecordHash, M.ValidFrom, M.ValidTo))),
    // temporal join: align the lineitem history (versions at keys % 97)
    // with the orders history (versions at keys % 53) on the time axis —
    // equi-join on orderkey, windows intersected, empty intersections
    // dropped. Both sides read standing stores; the plan is a plain
    // equi-join with the overlap test as a post-join filter (no nested
    // loop — pinned in PlanAuditSpec)
    "x_store_temporal_join" -> ((s, d) =>
      Scd2.temporalJoin(
        stagedScd2v2(s, d), stagedOrdersScd2(s, d),
        Seq("l_orderkey" -> "o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("quantity").cast("double").as("quantity"),
          col("totalprice").cast("double").as("totalprice"),
          col(M.RecordHash),
          col(M.RecordHash + "_R").as("RECORD_HASH_R"),
          col(M.ValidFrom), col(M.ValidTo))),
    // run-based time travel over the APPEND-ONLY hash store (the l16
    // loop's sink): filtering the two-run chain to run 1's INSERT_RUN_ID
    // must reproduce exactly the run-1 snapshot content — the
    // "reproduce the training set a past run trained on" query
    "x_store_asof_run" -> ((s, d) => {
      val r1 = Historization.historizeFrames(
        enrichedA(s, d).limit(0), snapA(s, d), cur1, keys)
      val full = Historization.historizeFrames(r1, snapB(s, d), cur2, keys)
      qtyAsDouble(full.filter(col(M.InsertRunId) <= cur1.runId))
    }),
    // generation travel: the physical-rewrite axis of time travel — the
    // store exactly as maintenance pass 1 committed it, read AFTER pass 2
    // committed its successor generation (pass 1's directory is never
    // touched by the commit, so the read is the pass-1 run-1 content)
    "x_store_generation_travel" -> ((s, d) => {
      val path = stagedGenerationStore(s, d)
      qtyAsDouble(Store.readStoreGeneration(s, path, Store.listGenerations(s, path).head))
    }),
    // CROSS-STORE snapshot travel: resolve the PASS-1 manifest and read
    // the hash store at its pinned generation — after pass 2 committed
    // both stores and its own manifest. The pin must land on pass 1's
    // run-1 content (the oracle recomputes it); that the companion stats
    // store pins to the SAME pass is the consistency property the specs
    // exercise (a latest-per-store read would race the pass boundary)
    "x_store_manifest_snapshot" -> ((s, d) => {
      val root = stagedManifestSnapshot(s, d)
      val firstGen = Store.listGenerations(s, s"$root/manifest").head
      val pinned = Store.readSnapshot(s, s"$root/manifest",
        Map("hash" -> s"$root/hash", "stats" -> s"$root/stats"), Some(firstGen)).get._2
      qtyAsDouble(pinned("hash"))
    }),
    // erasure COMPOSED with snapshots: purging a pinned store renumbers
    // its generations, so purgeSnapshot rewrites the retained manifest
    // history through the purge mapping — the pass-1 manifest still
    // resolves pass 1, now minus the erased keys (the stats store is
    // untouched and keeps its original pins). Copy + purge + remap each
    // run: the honest per-erasure cost on a snapshot deployment
    "x_store_manifest_purged" -> ((s, d) => {
      val src = stagedManifestSnapshot(s, d)
      val path = s"/tmp/graft_scratch/manifest_purge_${dirTag(d, "lineitem")}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src),
        fs, new org.apache.hadoop.fs.Path(path), false, conf)
      val removed = liProj(s, d).select("l_orderkey").distinct()
        .filter(pmod(col("l_orderkey"), lit(7)) === 0)
      val mapping = Store.purgeSnapshot(s, s"$path/manifest",
        Seq(("hash", s"$path/hash", "l_orderkey")), removed)
      val pass1 = mapping(mapping.keys.min)
      qtyAsDouble(Store.readSnapshot(s, s"$path/manifest",
        Map("hash" -> s"$path/hash"), Some(pass1)).get._2("hash"))
    }),
    // cross-generation ERASURE: takedown repairs the latest generation,
    // but retention keeps prior passes that still hold the removed rows —
    // purgeGenerations rewrites EVERY retained generation (order
    // preserved, each rewrite committed as a new generation so pinned
    // readers stay safe) and prunes the pre-purge passes. Purges a fresh
    // COPY of the staged two-generation store (purge mutates; staged
    // stores are immutable), returning the purged twin of generation 1:
    // run-1 content minus the removed keys, which the oracle recomputes
    // independently. The full-pass measurement (copy + 2 rewrites +
    // prune) is the honest per-erasure cost.
    "x_store_generation_purged" -> ((s, d) => {
      val src = stagedGenerationStore(s, d)
      val path = s"/tmp/graft_scratch/gens_purge_${dirTag(d, "lineitem")}"
      val conf = s.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src),
        fs, new org.apache.hadoop.fs.Path(path), false, conf)
      val removed = liProj(s, d).select("l_orderkey").distinct()
        .filter(pmod(col("l_orderkey"), lit(7)) === 0)
      val mapping = Store.purgeGenerations(s, path, removed, "l_orderkey")
      qtyAsDouble(Store.readStoreGeneration(s, path, mapping(mapping.keys.min)))
    }),
    // symmetric store diff: run-1 snapshot vs the SHRUNK mutated run-2
    // feed — all three statuses present (added: post-cutoff keys,
    // removed: the vanished 3rd keys, changed: the 97th-key mutation).
    // Payloads never shuffle: both sides reduce to (key, digest) first
    "x_store_diff" -> ((s, d) =>
      Cdc.storeDiff(snapA(s, d), shrunkB(s, d),
        Seq("l_orderkey", "l_linenumber"),
        Seq("quantity", "returnflag", "linestatus", "shipdate"))),
    // the publish-gate roll-up of the same diff
    "x_store_diff_summary" -> ((s, d) =>
      Cdc.storeDiffSummary(snapA(s, d), shrunkB(s, d),
        Seq("l_orderkey", "l_linenumber"),
        Seq("quantity", "returnflag", "linestatus", "shipdate"))),
    // file-skipping manifest read: a range over the SORT key of the
    // staged range-sorted store — the driver-side manifest proves which
    // of the 16 files can intersect [1000, 1999] (file-level pruning,
    // before any footer is opened), the exact predicate re-applies over
    // the kept files, so the result is row-identical to a full filtered
    // scan — which is exactly what the oracle computes
    "x_store_skipping" -> ((s, d) =>
      StoreIndex.readStoreSkipping(
        s, stagedSortedLineitemPath(s, d), "l_orderkey", 1000L, 1999L)),
    // metadata-only range count: files wholly inside the range contribute
    // straight from their manifest rows (no data IO), only the two edge
    // files of the sorted layout are scanned — single-column, pushed-down.
    // The wide range makes most of the 16 files interior, so the row
    // exercises the metadata path, not the scan fallback
    "x_store_count_range" -> ((s, d) =>
      StoreIndex.countRange(
        s, stagedSortedLineitemPath(s, d), "l_orderkey", 5000L, 35000L)),
    // metadata-first rollup over the rollup-projection store: contained
    // files contribute their manifest sums (count AND sum(quantity))
    // without being opened; only the range's edge files are scanned.
    // The decimal store column keeps the re-associated partial sums
    // bit-equal to the oracle's global sum; the dump casts to double
    "x_store_sum_range" -> ((s, d) =>
      StoreIndex.aggRange(
        s, stagedRollupLineitemPath(s, d), "l_orderkey", 5000L, 35000L,
        Seq("quantity_dec"))
        .select(col("n_rows"),
          col("sum_quantity_dec").cast("double").as("sum_qty"))),
    // the FULL metadata-first rollup quad: contained files contribute
    // count, stored sum, AND recorded min/max without being opened (the
    // min/max were already in the manifest; avg = double(sum)/count is
    // free) — only the range's edge files are scanned. One double
    // division over exact decimal/long totals keeps both engines (and
    // both paths) bit-identical
    "x_store_minmax_range" -> ((s, d) =>
      StoreIndex.statsRange(
        s, stagedRollupLineitemPath(s, d), "l_orderkey", 5000L, 35000L,
        Seq("quantity_dec"))
        .select(col("n_rows"),
          col("sum_quantity_dec").cast("double").as("sum_qty"),
          col("min_quantity_dec").cast("double").as("min_qty"),
          col("max_quantity_dec").cast("double").as("max_qty"),
          round(col("avg_quantity_dec"), 6).as("avg_qty"))),
    // time-slice read over the shipdate-sorted store: the "one month of
    // a years-spanning fact store" pattern — the manifest's native
    // TIMESTAMP min/max prove which files overlap the slice
    "x_store_time_slice" -> ((s, d) =>
      // LocalDateTime literals: the parquet column reads as
      // TIMESTAMP_NTZ in Spark 4, and NTZ compares only against NTZ
      StoreIndex.readStoreSkipping(
        s, stagedTimeSortedLineitemPath(s, d), "l_shipdate",
        java.time.LocalDateTime.parse("1997-03-01T00:00:00"),
        java.time.LocalDateTime.parse("1997-03-31T23:59:59"))),
    // scattered point lookups through the manifest: each key's file is
    // proven by [min, max] containment before any footer opens; parquet
    // row-group stats narrow further inside the kept files
    "x_store_point_lookup" -> ((s, d) =>
      StoreIndex.readStoreKeys(
        s, stagedSortedLineitemPath(s, d), "l_orderkey", Seq(123L, 7777L, 14000L))),
    // two-dimensional box over the Z-ordered store: BOTH range predicates
    // prune through the per-file stats (the Z-layout keeps min/max tight
    // on both columns; a single-column sort would leave the second
    // column's per-file range spanning the whole domain)
    "x_store_zorder_box" -> ((s, d) =>
      StoreIndex.readStoreBox(s, stagedZOrderLineitemPath(s, d),
        "l_partkey", 100L, 299L, "l_suppkey", 10L, 39L)),
    // layout-build accounting row: sort + write + manifest scan, honest
    // cost of the artifact the two reads above amortize. The returned
    // row aggregates the MANIFEST — its totals must reproduce the
    // table's, which is the faithfulness property skipping depends on
    "x_stage_build_sorted" -> ((s, d) => {
      val path = "/tmp/graft_scratch/lineitem_sorted_f16"
      StoreIndex.writeStoreSorted(
        Tables.lineitem(s, d), path, Seq("l_orderkey"), numFiles = 16)
      s.read.parquet(StoreIndex.statsManifestPath(path)).agg(
        sum("n_rows").as("n_rows"),
        min("min_l_orderkey").as("min_k"), max("max_l_orderkey").as("max_k"),
        sum("nulls_l_orderkey").as("n_nulls"))
    }),
    // rollup-STORE build accounting, split out of x_stage_build_sorted
    // (r14 landed the sum-quad manifest and the rollup-projection store
    // inside one timed row, making a regression in either unattributable):
    // this row measures projection + decimal cast + sort + write + the
    // two-column quad-stats manifest scan. The returned row aggregates the
    // MANIFEST — its totals must reproduce the table's, the faithfulness
    // property aggRange/statsRange depend on
    "x_stage_build_rollup" -> ((s, d) => {
      val path = "/tmp/graft_scratch/lineitem_rollup_f16"
      StoreIndex.writeStoreSorted(
        Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_quantity").cast("decimal(18,2)").as("quantity_dec")),
        path, Seq("l_orderkey"), numFiles = 16,
        statsCols = Seq("l_orderkey", "quantity_dec"))
      s.read.parquet(StoreIndex.statsManifestPath(path)).agg(
        sum("n_rows").as("n_rows"),
        min("min_l_orderkey").as("min_k"), max("max_l_orderkey").as("max_k"),
        sum("nulls_quantity_dec").as("n_nulls"),
        sum("sum_quantity_dec").cast("double").as("sum_qty"))
    }),
    // soft-delete stamping: run 2 delivers a SHRUNK full snapshot (every
    // 3rd order key vanished); instead of dropping the vanished keys'
    // rows (D8/mergeCdc), stampDeleted writes DELETED = run-2 ts and
    // keeps every row — the reference's declared-but-never-populated
    // DELETED timestamp (MetaColumnHelpers.py:150) completed
    "x_store_deleted_stamp" -> ((s, d) => {
      val r1 = Historization.historizeFrames(
        enrichedA(s, d).limit(0), snapA(s, d), cur1, keys)
      val shrunk = shrunkB(s, d)
      val r2 = Historization.historizeFrames(r1, shrunk, cur2, keys)
      val stamped = Cdc.stampDeleted(
        r2, MetaEnrichment.addMetaColumns(shrunk, cur2, keys), cur2)
      qtyAsDouble(stamped.select("l_orderkey", "l_linenumber", "quantity",
        M.KeyHash, M.RecordHash, M.InsertRunId, M.Deleted))
    }),
    // deletion-aware run travel: as of run 2 — the run that stamped the
    // deletions — the vanished keys' rows are invisible (DELETED <= the
    // as-of instant), while travel to run 1 still sees them (spec-pinned
    // in CdcSpec); time travel stays truthful for removals. Reads the
    // STAGED stamped store: travel is a read of standing state
    // (x_store_deleted_stamp keeps measuring the stamping pass fresh)
    "x_store_asof_run_deleted" -> ((s, d) =>
      qtyAsDouble(Historization.asOfRun(stagedStamped2Run(s, d), cur2.runId)
        .select("l_orderkey", "l_linenumber", "quantity", M.KeyHash, M.InsertRunId))),
    // schema evolution INSIDE the historization loop: run 1 delivers the
    // base schema, run 2 adds a source_sys column (populated for every
    // 5th order key). Evolution to the target schema happens before
    // enrichment, so run-1 rows hash with the null default and run-2
    // re-deliveries carrying a value re-version, while re-deliveries
    // still at the default stay unchanged — drifting feed schemas do not
    // fork the store
    "x_historize_evolving" -> ((s, d) => {
      val target = org.apache.spark.sql.types.StructType(
        snapA(s, d).schema.fields :+ org.apache.spark.sql.types.StructField(
          "source_sys", org.apache.spark.sql.types.StringType, nullable = true))
      val run2 = snapB(s, d).withColumn("source_sys",
        when(pmod(col("l_orderkey"), lit(5)) === 0, lit("sys2")))
      val bootstrap = MetaEnrichment.addMetaColumns(
        SchemaEvolution.prepareSchema(snapA(s, d), target), cur1, keys).limit(0)
      val r1 = Historization.historizeFramesEvolving(
        bootstrap, snapA(s, d), cur1, keys, target)
      qtyAsDouble(Historization.historizeFramesEvolving(
        r1, run2, cur2, keys, target))
    }),
  )

  /** The run-2 delta of the snapshots chain — the `enrichB` rows whose
    * (key, record) hash pair is not in `enrichA` — narrowed by `and` (a
    * further conjunct, or empty). */
  private def duckDeltaSql(and: String): String =
    s"""$snapshotsCte
       |SELECT n.l_orderkey, n.l_linenumber, CAST(n.quantity AS DOUBLE) AS quantity,
       |       n."KEY_HASH", n."RECORD_HASH"
       |FROM enrichB n LEFT JOIN enrichA c
       |  ON n."KEY_HASH" = c."KEY_HASH" AND n."RECORD_HASH" = c."RECORD_HASH"
       |WHERE c."KEY_HASH" IS NULL$and""".stripMargin

  /** The two-run store over the SHRUNK run-2 snapshot (`store`) and the
    * keys it holds that the shrunk snapshot lacks (`gone`). */
  private val duckShrunkStoreCtes: String =
    s"""$snapshotsCte,
       |shrunk AS (SELECT * FROM enrichB WHERE l_orderkey % 3 <> 0),
       |delta AS (
       |  SELECT n.* FROM shrunk n LEFT JOIN enrichA c
       |    ON n."KEY_HASH" = c."KEY_HASH" AND n."RECORD_HASH" = c."RECORD_HASH"
       |  WHERE c."KEY_HASH" IS NULL
       |),
       |store AS (SELECT * FROM enrichA UNION ALL BY NAME SELECT * FROM delta),
       |gone AS (
       |  SELECT DISTINCT s."KEY_HASH" FROM store s
       |  WHERE NOT EXISTS (SELECT 1 FROM shrunk n WHERE n."KEY_HASH" = s."KEY_HASH")
       |)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "l01_csv_scan" ->
      s"""SELECT Lastname, Firstname, SSN,
        |       CAST(Test1 AS DOUBLE) AS Test1, CAST(Test2 AS DOUBLE) AS Test2,
        |       CAST(Test3 AS DOUBLE) AS Test3, CAST(Test4 AS DOUBLE) AS Test4,
        |       CAST(Final AS DOUBLE) AS Final, Grade
        |FROM read_csv('$gradesCsvPath', header = true)""".stripMargin,
    "l16_historize_runs" -> duckTwoRunStoreSql(snapshotsCte),
    // the l16 statement filtered to run 1's INSERT_RUN_ID: run-based
    // time travel over the append-only store = the run-1 snapshot content
    "x_store_asof_run" ->
      duckTwoRunStoreSql(snapshotsCte, "\nWHERE \"INSERT_RUN_ID\" <= '20240101100000'"),
    // the l16 chain over the SHRUNK run-2 snapshot, then the stamp: keys
    // in the store absent from the shrunk snapshot get DELETED = run-2 ts
    // (all rows kept; first observation wins)
    "x_store_deleted_stamp" ->
      s"""$duckShrunkStoreCtes
         |SELECT s.l_orderkey, s.l_linenumber, CAST(s.quantity AS DOUBLE) AS quantity,
         |  s."KEY_HASH", s."RECORD_HASH", s."INSERT_RUN_ID",
         |  CASE WHEN g."KEY_HASH" IS NOT NULL AND s."DELETED" IS NULL
         |       THEN TIMESTAMP '$ts2' ELSE s."DELETED" END AS "DELETED"
         |FROM store s LEFT JOIN gone g ON g."KEY_HASH" = s."KEY_HASH"""".stripMargin,
    // the stamped store traveled to run 2: inserted at or before run 2
    // AND not deleted at or before it — the vanished keys' rows drop out
    "x_store_asof_run_deleted" ->
      s"""$duckShrunkStoreCtes,
         |stamped AS (
         |  SELECT s.*, CASE WHEN g."KEY_HASH" IS NOT NULL AND s."DELETED" IS NULL
         |                   THEN TIMESTAMP '$ts2' ELSE s."DELETED" END AS "DELETED2"
         |  FROM store s LEFT JOIN gone g ON g."KEY_HASH" = s."KEY_HASH"
         |)
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "KEY_HASH", "INSERT_RUN_ID"
         |FROM stamped
         |WHERE "INSERT_RUN_ID" <= '20240215103000'
         |  AND ("DELETED2" IS NULL OR "DELETED2" > TIMESTAMP '$ts2')""".stripMargin,
    // evolve-then-historize: both snapshots coerced to the target schema
    // (base + source_sys) BEFORE enrichment, so source_sys participates
    // in RECORD_HASH — run-2 rows where it left the default re-version,
    // rows still at the default (and otherwise unchanged) do not
    "x_historize_evolving" -> duckTwoRunStoreSql(
      s"""WITH base AS (
         |  SELECT l_orderkey, l_linenumber,
         |         CAST(l_quantity AS DECIMAL(18,2)) AS quantity,
         |         l_returnflag AS returnflag, l_linestatus AS linestatus,
         |         CAST(l_shipdate AS DATE) AS shipdate
         |  FROM lineitem
         |),
         |evA AS (
         |  SELECT *, CAST(NULL AS VARCHAR) AS source_sys
         |  FROM base WHERE shipdate < DATE '1995-06-01'
         |),
         |evB AS (
         |  SELECT l_orderkey, l_linenumber,
         |         CASE WHEN l_orderkey % 97 = 0
         |              THEN CAST(quantity + 10 AS DECIMAL(18,2)) ELSE quantity END AS quantity,
         |         returnflag, linestatus, shipdate,
         |         CASE WHEN l_orderkey % 5 = 0 THEN 'sys2' END AS source_sys
         |  FROM base
         |),
         |${duckEnrichCtes("evA", "evB", ",\n                        coalesce(source_sys,'nan')")}""".stripMargin),
    "d05_valid_from_lower" ->
      s"""$snapshotsCte
         |SELECT * REPLACE (CAST(quantity AS DOUBLE) AS quantity),
         |       DATE '1900-01-01' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO"
         |FROM enrichA""".stripMargin,
    "d05_valid_from_custom" ->
      s"""$snapshotsCte
         |SELECT * REPLACE (CAST(quantity AS DOUBLE) AS quantity),
         |       DATE '2020-06-15' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO"
         |FROM enrichA""".stripMargin,
    "l05_meta_enrich" ->
      s"""$snapshotsCte
         |SELECT * REPLACE (CAST(quantity AS DOUBLE) AS quantity) FROM enrichA""".stripMargin,
    "l11_hash_projection" ->
      s"""$snapshotsCte SELECT "KEY_HASH", "RECORD_HASH" FROM enrichA""",
    "l09_delta" -> duckDeltaSql(""),
    // deliberately the SAME statement as l09_delta: the bucketed re-keyed
    // join is an implementation strategy, not a semantic change
    "l09_delta_bucketed" -> duckDeltaSql(""),
    // the incremental-feed regime: the delta statement restricted to the
    // 1% batch — identical SQL for the plain twin and the Bloom route
    // (the route is an implementation strategy: false positives fall
    // through to the exact residual, so the output is the anti-join's)
    "l09_delta_batch" -> duckDeltaSql(" AND n.l_orderkey % 100 = 0"),
    "l09_delta_bloom" -> duckDeltaSql(" AND n.l_orderkey % 100 = 0"),
    // build-accounting rows return the built artifact's content, so the
    // oracle is the artifact's defining statement. The bloom synopsis
    // twin walks the identical md5 bit derivation: 15-hex-char prefix →
    // 60-bit value (exact in BIGINT: per-digit products are ≤ 15·16^14),
    // position mod 2^22, word = pos/64, mask = OR of 2^(pos%64) — the OR
    // as SUM(DISTINCT) over HUGEINT, folded back to the signed 64-bit
    // word Spark's shiftleft produces
    "x_stage_build_bloom" ->
      s"""$snapshotsCte,
         |hx AS (
         |  SELECT md5("KEY_HASH" || "RECORD_HASH" || '#bloom#' || CAST(j AS VARCHAR)) AS h
         |  FROM enrichA, (SELECT unnest([0, 1, 2, 3]) AS j)
         |),
         |pos AS (
         |  SELECT list_sum(list_transform(range(1, 16),
         |    i -> CAST(strpos('0123456789abcdef', substr(h, CAST(i AS INT), 1)) - 1 AS BIGINT)
         |         * CAST(pow(16, 15 - i) AS BIGINT))) % 4194304 AS p
         |  FROM hx
         |),
         |words AS (
         |  SELECT CAST(p // 64 AS INT) AS w,
         |         SUM(DISTINCT CAST(pow(2, p % 64) AS HUGEINT)) AS s
         |  FROM pos GROUP BY 1
         |)
         |SELECT w, CAST(CASE WHEN s >= 9223372036854775808 THEN s - 18446744073709551616
         |                    ELSE s END AS BIGINT) AS m
         |FROM words
         |UNION ALL SELECT -1 AS w, CAST($BloomBits AS BIGINT) AS m""".stripMargin,
    "l13_inserts" ->
      s"""$snapshotsCte
         |SELECT n.l_orderkey, n.l_linenumber, n."KEY_HASH"
         |FROM enrichB n WHERE NOT EXISTS
         |  (SELECT 1 FROM enrichA c WHERE c."KEY_HASH" = n."KEY_HASH")""".stripMargin,
    "l14_updates" ->
      s"""$snapshotsCte
         |SELECT n.l_orderkey, n.l_linenumber, CAST(n.quantity AS DOUBLE) AS quantity,
         |       n."RECORD_HASH"
         |FROM enrichB n JOIN enrichA c
         |  ON n."KEY_HASH" = c."KEY_HASH" AND n."RECORD_HASH" <> c."RECORD_HASH"""".stripMargin,
    "l10_union_append" ->
      s"""$snapshotsCte,
         |$duckRun2DeltaCte
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       returnflag, linestatus, shipdate,
         |       "KEY_HASH", "RECORD_HASH", "INSERT_RUN_ID"
         |FROM (SELECT * FROM enrichA UNION ALL BY NAME SELECT * FROM delta)""".stripMargin,
    "d03_schema_evolution" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
        |       l_returnflag AS returnflag,
        |       CAST(l_shipdate AS DATE) AS shipdate,
        |       'batch' AS load_source
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1995-06-01'""".stripMargin,
    "d04_merge_cdc" ->
      s"""$snapshotsCte,
         |newd AS (SELECT * FROM enrichB WHERE l_orderkey % 7 = 0),
         |del AS (SELECT "KEY_HASH" FROM enrichA WHERE l_orderkey % 13 = 0),
         |kept AS (
         |  SELECT c.* FROM enrichA c
         |  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d."KEY_HASH" = c."KEY_HASH")
         |    AND NOT EXISTS (SELECT 1 FROM newd n WHERE n."KEY_HASH" = c."KEY_HASH")
         |)
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "KEY_HASH", "RECORD_HASH"
         |FROM (SELECT * FROM kept UNION ALL BY NAME SELECT * FROM newd)""".stripMargin,
    "d06_scd2_merge" ->
      s"""$scd2Cte
         |SELECT * REPLACE (CAST(quantity AS DOUBLE) AS quantity) FROM v2""".stripMargin,
    "d07_deletes_by_column" ->
      s"""$snapshotsCte SELECT "KEY_HASH" FROM enrichA WHERE returnflag = 'R'""",
    "d08_deleted_full_load" ->
      s"""$snapshotsCte
         |SELECT c."KEY_HASH" FROM enrichA c
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM enrichB n
         |  WHERE n.l_orderkey % 3 <> 0 AND n."KEY_HASH" = c."KEY_HASH")""".stripMargin,
    // delete closure: CASE-close the active rows of vanished keys (run-3
    // drops every 7th order key; key digest <-> business key is bijective
    // here, so the modulus states the vanished set directly)
    "x_scd2_delete_close" ->
      s"""$scd2Cte
         |$scd2CloseSelect""".stripMargin,
    // resurrection: the closure's output plus a fresh run-4 interval for
    // every closed key (the full load re-delivers them); the gap between
    // the close and the reopen is preserved — no row covers it
    "x_scd2_reopen" ->
      s"""$scd2Cte,
         |closed AS (
         |$scd2CloseSelect
         |)
         |SELECT * FROM closed
         |UNION ALL BY NAME
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "RECORD_HASH", "UPDATE_TS", "UPDATE_RUN_ID",
         |       DATE '2024-04-01' AS "VALID_FROM", DATE '9999-12-31' AS "VALID_TO",
         |       "DELETED"
         |FROM enrichB WHERE l_orderkey % 7 = 0""".stripMargin,
    // tiered lifecycle ≡ flat lifecycle: the archive/active split is a
    // storage layout, not a semantics change. Orders is key-unique and
    // the mutations are modulus-determined, so the 4-run outcome has a
    // CLOSED FORM: (a) the pre-change version of every 53-key, closed at
    // the run-2 boundary; (b) every key's current content — closed with
    // the DELETED stamp iff it is a 7-key (vanished in run 3); (c) a
    // fresh run-4 interval for every 7-key (re-delivered in run 4), the
    // deleted epoch left as a gap
    "x_scd2_tiered" -> scd2TieredLifecycleSql,
    // the steady-state row applies run 4 to the staged runs-1-3 tiers;
    // the converged end state is the same 4-run lifecycle, so the oracle
    // is the same closed-form statement
    "x_scd2_tiered_run" -> scd2TieredLifecycleSql,
    // compaction fixture closed form (runs: bootstrap, 53-bump, 7-vanish,
    // full re-delivery with 31-bump): per key k with original content O,
    // run-2 content B = O(+100 if 53|k), run-4 content C = B(+50 if 31|k)
    // the store holds (a) O closed at the run-2 boundary for 53-keys,
    // (b) B closed DELETED at the run-3 boundary for 7-keys, (c) B closed
    // at the run-4 boundary for 31-keys still active then (not 7-keys),
    // (d) a run-4 interval with content C for every 7-key (reopen) and
    // 31-key (update), (e) untouched active rows for everything else.
    // compactHistory folded the run-2 partition into run-3's before the
    // read -- the statement is the UNCOMPACTED store's: the fold must be
    // invisible under the driver's hash
    "x_scd2_tiered_compact" -> scd2TieredCompactSql,
    "l15_split_active" ->
      s"""$scd2Cte
         |SELECT l_orderkey, l_linenumber, "RECORD_HASH", "VALID_FROM", "VALID_TO"
         |FROM v2 WHERE "VALID_TO" = DATE '9999-12-31'""".stripMargin,
    "l15_split_hist" ->
      s"""$scd2Cte
         |SELECT l_orderkey, l_linenumber, "RECORD_HASH", "VALID_FROM", "VALID_TO"
         |FROM v2 WHERE "VALID_TO" < DATE '9999-12-31'""".stripMargin,
    // definitional as-of: both validity bounds inclusive
    "x_store_asof" ->
      s"""$scd2Cte
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "RECORD_HASH", "VALID_FROM", "VALID_TO"
         |FROM v2 WHERE "VALID_FROM" <= DATE '2024-02-01'
         |  AND DATE '2024-02-01' <= "VALID_TO"""".stripMargin,
    "x_store_asof_boundary" ->
      s"""$scd2Cte
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "RECORD_HASH", "VALID_FROM", "VALID_TO"
         |FROM v2 WHERE "VALID_FROM" <= DATE '2024-02-14'
         |  AND DATE '2024-02-14' <= "VALID_TO"""".stripMargin,
    // the point lookup: the as-of statement restricted to the snapshot's
    // minimum business key (min orderkey, then min linenumber within it —
    // the Spark side's orderBy-limit-1 selection)
    "x_store_asof_point" ->
      s"""$scd2Cte
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "RECORD_HASH", "VALID_FROM", "VALID_TO"
         |FROM v2 WHERE "VALID_FROM" <= DATE '2024-02-01'
         |  AND DATE '2024-02-01' <= "VALID_TO"
         |  AND l_orderkey = (SELECT min(l_orderkey) FROM lineitem
         |        WHERE l_shipdate < DATE '1995-06-01')
         |  AND l_linenumber = (SELECT min(l_linenumber) FROM lineitem
         |        WHERE l_shipdate < DATE '1995-06-01'
         |          AND l_orderkey = (SELECT min(l_orderkey) FROM lineitem
         |                WHERE l_shipdate < DATE '1995-06-01'))""".stripMargin,
    // temporal join: the lineitem SCD2 chain joined to the orders history
    // on orderkey with intersected validity windows. The orders side uses
    // the closed form of the two-run merge (key sets equal across runs;
    // a key versions iff its modulus-53 bump changes the record): version
    // 1 closes 2024-02-14 exactly for changed keys, version 2 opens
    // 2024-02-15 for them — the same rows the five-branch chain yields
    "x_store_temporal_join" ->
      s"""$scd2Cte,
         |$duckOrdersBaseCte,
         |ohist AS (
         |  SELECT o_orderkey, totalprice,
         |         md5(concat_ws('#?', coalesce(CAST(o_orderkey AS VARCHAR),'nan'),
         |                             coalesce(orderstatus,'nan'),
         |                             coalesce(CAST(totalprice AS VARCHAR),'nan'),
         |                             coalesce(CAST(orderdate AS VARCHAR),'nan'))) AS record_hash_r,
         |         DATE '2024-01-01' AS vf,
         |         CASE WHEN o_orderkey % 53 = 0 THEN DATE '2024-02-14'
         |              ELSE DATE '9999-12-31' END AS vt
         |  FROM obase
         |  UNION ALL
         |  SELECT o_orderkey, CAST(totalprice + 100 AS DECIMAL(18,2)) AS totalprice,
         |         md5(concat_ws('#?', coalesce(CAST(o_orderkey AS VARCHAR),'nan'),
         |                             coalesce(orderstatus,'nan'),
         |                             coalesce(CAST(CAST(totalprice + 100 AS DECIMAL(18,2)) AS VARCHAR),'nan'),
         |                             coalesce(CAST(orderdate AS VARCHAR),'nan'))) AS record_hash_r,
         |         DATE '2024-02-15' AS vf, DATE '9999-12-31' AS vt
         |  FROM obase WHERE o_orderkey % 53 = 0
         |)
         |SELECT v.l_orderkey, v.l_linenumber, CAST(v.quantity AS DOUBLE) AS quantity,
         |       CAST(o.totalprice AS DOUBLE) AS totalprice,
         |       v."RECORD_HASH", o.record_hash_r AS "RECORD_HASH_R",
         |       greatest(v."VALID_FROM", o.vf) AS "VALID_FROM",
         |       least(v."VALID_TO", o.vt) AS "VALID_TO"
         |FROM v2 v JOIN ohist o ON v.l_orderkey = o.o_orderkey
         |WHERE greatest(v."VALID_FROM", o.vf) <= least(v."VALID_TO", o.vt)""".stripMargin,
    // the key history: v2 restricted to the minimum modulus-97 key of
    // snapshot A (the Spark side's filtered orderBy-limit-1 selection)
    "x_store_key_history" ->
      s"""$scd2Cte
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "RECORD_HASH", "VALID_FROM", "VALID_TO"
         |FROM v2 WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem
         |        WHERE l_shipdate < DATE '1995-06-01' AND l_orderkey % 97 = 0)
         |  AND l_linenumber = (SELECT min(l_linenumber) FROM lineitem
         |        WHERE l_shipdate < DATE '1995-06-01'
         |          AND l_orderkey = (SELECT min(l_orderkey) FROM lineitem
         |                WHERE l_shipdate < DATE '1995-06-01'
         |                  AND l_orderkey % 97 = 0))""".stripMargin,
    // the interval audit read: window-overlap against [Feb 1, Feb 20]
    "x_store_between" ->
      s"""$scd2Cte
         |SELECT l_orderkey, l_linenumber, CAST(quantity AS DOUBLE) AS quantity,
         |       "RECORD_HASH", "VALID_FROM", "VALID_TO"
         |FROM v2 WHERE "VALID_FROM" <= DATE '2024-02-10'
         |  AND DATE '2024-01-05' <= "VALID_TO"""".stripMargin,
  )
}
