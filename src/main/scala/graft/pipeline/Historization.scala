package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.meta.Currents
import graft.operators.{Cdc, MetaEnrichment, SchemaEvolution}
import graft.sources.Store

/** Append-only meta-column historization: the reference's production path.
  *
  * Re-expresses `meta_column_historization` + `simulate_runs`
  * (main.py:14-34): enrich the new snapshot with meta columns, anti-join
  * against the current store on (KEY_HASH, RECORD_HASH), append the delta,
  * rewrite the store.
  *
  * One lazy Spark plan per run: scan → withColumn chain → left_anti join →
  * unionByName → partitioned write. The reference's pandas↔SQLite
  * round-trip (main.py:22) disappears; the only exchange is the anti-join
  * (broadcast when the new snapshot is small, AQE decides) and the write.
  *
  * Determinism: callers inject `loadTs` per run instead of the reference's
  * `time.sleep(2)` (main.py:31) — same effect (distinct second-granularity
  * run ids), reproducible.
  */
object Historization {

  /** One incremental run: returns the updated store content and persists it.
    *
    * @param newData the already-read new snapshot (business columns only)
    * @param storePath current-store location (partitioned Parquet)
    * @param keyColumns business-key columns (also the store partitioning)
    * @param loadTs injected run timestamp `yyyy-MM-dd HH:mm:ss`; None = wall clock
    */
  def historizeRun(
      spark: SparkSession,
      newData: DataFrame,
      storePath: String,
      keyColumns: Seq[String],
      loadTs: Option[String] = None,
      recordHashExclude: Seq[String] = Nil): DataFrame = {
    val currents = loadTs.map(Currents(_)).getOrElse(Currents.now())
    val enriched = MetaEnrichment.addMetaColumns(newData, currents, keyColumns, recordHashExclude)

    // healed read: a rename gap must not bootstrap over the history
    Store.readForSwap(spark, storePath) match {
      case None =>
        // Bootstrap: no current store yet (main.py:20-21) — everything is delta.
        Store.writeStore(enriched, storePath, keyColumns)
      case Some(standing) =>
        // the standing schema comes from one footer read on the driver (no
        // job); the re-read pins the keys' types, which path inference
        // may have changed
        val pinned = keysPinned(standing.schema, enriched.schema, keyColumns)
        val stored = spark.read.schema(pinned).parquet(storePath)
        val current = Store.canonicalize(stored, enriched.schema)
        val delta   = Cdc.delta(current, enriched)
        val updated = current.unionByName(delta)
        // The plan reads storePath; swap-write avoids overwrite-while-reading.
        Store.writeStoreSwap(updated, storePath, keyColumns)
    }
    spark.read.schema(enriched.schema).parquet(storePath)
  }

  /** `stored` with the key (partition) columns and the columns it lacks
    * taken from `target`: inference re-types all-numeric string keys
    * ("007" -> 7 -> "7") while KEY_HASH still encodes the original; every
    * other column keeps its stored type for [[Store.canonicalize]] to cast
    * (int to string, which the parquet reader cannot convert). */
  private def keysPinned(stored: StructType, target: StructType, keys: Seq[String]) = {
    def in(fs: Seq[StructField])(f: StructField) = fs.exists(_.name.equalsIgnoreCase(f.name))
    val pinned = target.filter(f => keys.exists(_.equalsIgnoreCase(f.name)) || !in(stored)(f))
    StructType(stored.filterNot(in(pinned)) ++ pinned)
  }

  /** [[historizeRun]] against a catalog BUCKETED table instead of a path —
    * the production write path at scale, and append-only like the
    * reference's (main.py:14-24). Run N's store is a `bucketBy(KEY_HASH)`
    * table, so run N+1's delta ([[Cdc.deltaBucketed]]) reads the
    * accumulated store with NO Exchange (the bucketed scan IS the shuffle
    * output; only the incoming snapshot and its keys are exchanged), and
    * the commit appends just the delta rows under the table's own bucket
    * spec ([[Store.appendStoreTable]]): per run, the store payload never
    * moves and the write is O(delta) — at most `buckets` new files.
    *
    * `buckets` applies only at bootstrap; later runs keep the table's
    * spec. Compaction of the accumulated small files, or re-bucketing, is
    * `Store.writeStoreTableSwap(Store.readStoreTable(spark, t), t, n)`.
    *
    * Crash contract: a failed write job leaves the table as it was. A
    * crash inside the job commit can leave part of one run's delta in the
    * table; re-running that batch (same `loadTs`) converges to the clean
    * store, because the delta skips every (KEY_HASH, RECORD_HASH) pair
    * already stored — the stranded rows are re-derived identically and
    * not appended twice (StoreSpec pins both cases).
    */
  def historizeRunTable(
      spark: SparkSession,
      newData: DataFrame,
      table: String,
      keyColumns: Seq[String],
      loadTs: Option[String] = None,
      buckets: Int = 256,
      recordHashExclude: Seq[String] = Nil): DataFrame = {
    val currents = loadTs.map(Currents(_)).getOrElse(Currents.now())
    val enriched = MetaEnrichment.addMetaColumns(newData, currents, keyColumns, recordHashExclude)
    // a store last written by a crashed compaction swap must not read as
    // "no store yet" — the bootstrap branch below would silently discard
    // the whole history
    Store.healTableSwap(spark, table)
    if (!spark.catalog.tableExists(table)) {
      // Bootstrap (main.py:20-21): everything is delta.
      Store.writeStoreTable(enriched, table, buckets)
    } else {
      val current = Store.canonicalize(Store.readStoreTable(spark, table), enriched.schema)
      // deltaBucketed, not delta: the pair-keyed anti-join would re-shuffle
      // the store (bucketing is KEY_HASH-only); the re-keyed form reads the
      // store with zero Exchange (StoreSpec pins this on the actual plan)
      Store.appendStoreTable(Cdc.deltaBucketed(current, enriched), table)
    }
    Store.readStoreTable(spark, table)
  }

  /** Multi-run driver (main.py:26-34): reset the store, feed each snapshot
    * in order with its injected timestamp, return the final store. */
  def simulateRuns(
      spark: SparkSession,
      runs: Seq[(DataFrame, String)],
      storePath: String,
      keyColumns: Seq[String]): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storePath), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(storePath), true)
    runs.foreach { case (df, loadTs) => historizeRun(spark, df, storePath, keyColumns, Some(loadTs)) }
    Store.readParquetSafe(spark, storePath).get
  }

  /** Pure (storage-free) variant of one run's transform: enrich + delta +
    * append, without persisting. This is the unit the driver's oracle can
    * check and the composable core for `foreachBatch` streaming
    * historization. */
  def historizeFrames(
      current: DataFrame,
      newData: DataFrame,
      currents: Currents,
      keyColumns: Seq[String],
      recordHashExclude: Seq[String] = Nil): DataFrame = {
    val enriched = MetaEnrichment.addMetaColumns(newData, currents, keyColumns, recordHashExclude)
    current.unionByName(Cdc.delta(current, enriched))
  }

  /** Schema evolution INSIDE the loop: [[historizeFrames]] over a snapshot
    * first coerced to `targetSchema` ([[graft.operators.SchemaEvolution
    * .prepareSchema]]) — the reference's design intent (SCDHelpers.py:44-61
    * feeds `prepare_schema` output into the merge), which the standalone D3
    * operator leaves un-composed. Drifting snapshot schemas are the normal
    * case in long-lived feeds: a run that starts delivering a new column
    * must not fork the store.
    *
    * Evolution happens BEFORE meta enrichment, so RECORD_HASH is computed
    * over the full target column set: a run-1 row hashed with the default
    * in the new column and a run-2 re-delivery carrying a real value differ
    * in RECORD_HASH and version correctly; re-deliveries where the new
    * column still holds the default stay unchanged and are not re-appended.
    * Extra columns outside the target schema are dropped (the store's
    * schema is the contract, not the feed's).
    */
  def historizeFramesEvolving(
      current: DataFrame,
      newData: DataFrame,
      currents: Currents,
      keyColumns: Seq[String],
      targetSchema: org.apache.spark.sql.types.StructType,
      defaultValues: Map[String, Any] = Map.empty,
      recordHashExclude: Seq[String] = Nil): DataFrame = {
    val evolved =
      SchemaEvolution.prepareSchema(newData, targetSchema, defaultValues, removeColumns = true)
    // widen the STANDING frame too, as [[historizeRunEvolving]] widens the
    // stored generation: a current accumulated under an older
    // schema would otherwise fail the unionByName with the new-column
    // delta — the advertised drift case would crash instead of evolving.
    // The enriched target schema derives from an empty-plan enrichment
    // (schema-only, no action).
    val metaSchema = MetaEnrichment
      .addMetaColumns(evolved.limit(0), currents, keyColumns, recordHashExclude).schema
    historizeFrames(
      SchemaEvolution.prepareSchema(current, metaSchema),
      evolved, currents, keyColumns, recordHashExclude)
  }

  /** [[historizeRun]] with in-loop schema evolution: the persisted twin of
    * [[historizeFramesEvolving]]: [[historizeRun]] over the snapshot
    * coerced to `targetSchema`. Its store read evolves a store
    * bootstrapped under an older schema in place: old rows take null in
    * new columns and every stored column is cast to its target type (int
    * to long, int to string), except the partition keys, which are read
    * as the target types them ("007" stays "007"). Stored RECORD_HASH values are
    * kept as-is (hashes are facts about what was loaded), so a key
    * re-delivered unchanged except for the widening re-versions exactly
    * once: its record now hashes with the new column's default included.
    * After that one bump the feed is stable again — the schema change
    * itself is versioned, the honest historization of a contract change. */
  def historizeRunEvolving(
      spark: SparkSession,
      newData: DataFrame,
      storePath: String,
      keyColumns: Seq[String],
      targetSchema: org.apache.spark.sql.types.StructType,
      defaultValues: Map[String, Any] = Map.empty,
      loadTs: Option[String] = None,
      recordHashExclude: Seq[String] = Nil): DataFrame =
    historizeRun(spark,
      SchemaEvolution.prepareSchema(newData, targetSchema, defaultValues, removeColumns = true),
      storePath, keyColumns, loadTs, recordHashExclude)

  /** Run-based time travel filter over an append-only hash-historized
    * frame: rows inserted at or before `runId`, minus rows whose
    * soft-delete stamp ([[graft.operators.Cdc.stampDeleted]]) is at or
    * before the as-of instant — `DELETED IS NULL OR DELETED > runTs`, so
    * travel lands BEFORE a deletion sees the row and travel at-or-after
    * does not. Run ids are `yyyyMMddHHmmss` ([[Currents]]); both
    * comparisons are literal bounds that push to a parquet scan. */
  def asOfRun(df: DataFrame, runId: String): DataFrame = {
    import graft.meta.MetaColumns
    val base = df.filter(col(MetaColumns.InsertRunId) <= runId)
    if (!df.columns.contains(MetaColumns.Deleted)) base
    else {
      val ts = java.time.LocalDateTime
        .parse(runId, java.time.format.DateTimeFormatter.ofPattern(MetaColumns.RunIdFormat))
        .format(java.time.format.DateTimeFormatter.ofPattern(MetaColumns.TsFormat))
      base.filter(col(MetaColumns.Deleted).isNull ||
        col(MetaColumns.Deleted) > lit(ts).cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
