package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.meta.{Currents, MetaColumns}
import graft.sources.Store

/** Tiered SCD2 store: ACTIVE rows in one store, closed history in an
  * append-only archive — the layout that stops merge cost from scaling
  * with history length.
  *
  * The flat store ([[Scd2.historizeDataset]] over one table, the
  * reference's shape — SCDHelpers.py:297-301 merges the WHOLE store every
  * run) rereads and rewrites every closed interval a key has ever had on
  * every merge: at year N of a daily-merged 100 TB dimension the run cost
  * is dominated by rows that can never change again. Here each run
  * touches:
  *
  *  - the ACTIVE tier (bounded by the entity count, not by history),
  *    merged with the same branch semantics as the flat form and
  *    swap-replaced;
  *  - the HISTORY tier only twice, both cheaply: a KEY_HASH-projected
  *    scan (32-byte column, parquet-pruned — the [[Store
  *    .readCurrentHashes]] trick) to distinguish resurrected keys from
  *    brand-new ones, and one append of the rows THIS run closed, under
  *    a `run=<runId>` partition. Closed intervals are immutable, so the
  *    archive is write-once — object-store friendly, compactable and
  *    stats-manifestable offline without touching the merge path.
  *
  * Each run is the ONE fused merge of the flat lifecycle
  * ([[Scd2.fusedMerge]] with close and reopen on, as
  * [[Scd2.mergeScd2FastClosing]] runs it over a flat store): the flat form
  * guards its active slice with its own closed slice's keys, the tier
  * with the archive's key digests. So [[historizeTiered]] over a sequence
  * of full loads yields (active ∪ history) row-identical to
  * [[Scd2.mergeScd2Reopen]] + [[Scd2.closeVanished]] over a flat store —
  * merge branches, vanished-key closure with the DELETED stamp, and
  * resurrection with the validity gap preserved (the `x_scd2_tiered`
  * oracle answers the flat statement; Scd2TierSpec and Scd2Spec pin it).
  *
  * Crash contract (history first, active swap second): a replay BEFORE
  * the active swap recomputes the identical closed set and overwrites
  * the run partition byte-identically; a replay AFTER the swap finds the
  * active tier already advanced, computes an EMPTY closed set, and the
  * non-empty guard leaves the already-committed run partition in place —
  * every crash point converges to the same store pair.
  */
object Scd2Tier {
  import MetaColumns._

  /** One full-load run of the SCD2 delete lifecycle over the tiered
    * store: merge-with-resurrection against the active tier, vanished-key
    * closure, newly-closed rows appended to the history tier, survivors
    * swap-written as the new active tier. `newDf` must be meta-enriched
    * ([[MetaEnrichment.addMetaColumns]]). */
  def historizeTiered(
      spark: SparkSession,
      newDf: DataFrame,
      activePath: String,
      historyPath: String,
      currents: Currents,
      mode: Scd2.ValidFromMode): Unit = {
    // both tiers (active: a run's swap; archive: compactHistory's) are read
    // healed: a replay in a rename gap must NOT see "no store yet"
    Store.readForSwap(spark, activePath) match {
      case None =>
        // bootstrap: every row is new_only; nothing can close on run 1.
        // REFUSE to bootstrap over a standing archive — an active tier
        // lost out-of-band with closed history still present would open
        // fresh mode-epoch intervals OVERLAPPING the archived ones (asOf
        // would return two rows for covered days); that store needs
        // operator repair, not a silent re-genesis
        require(Store.readForSwap(spark, historyPath, Some(ArchiveKeys)).forall(_.isEmpty),
          s"active tier at $activePath is missing but the archive at "
            + s"$historyPath holds closed history — refusing to bootstrap "
            + "overlapping epochs over it")
        Store.writeStoreSwap(
          Scd2.historizeDataset(newDf, None, currents, mode), activePath, Nil)
      case Some(active) =>
        graft.CacheScope.withScope { scope =>
          // ONE fused merge: the active tier full-outer-joins the FULL
          // snapshot and the archive's KEY_HASH digests guard it — a
          // snapshot key with no active row whose key is archived is a
          // closed-only key and reopens at the run day instead of opening
          // at the new-key epoch; an active key absent from the snapshot
          // closes in the same emit. The active tier holds open rows only
          // (every closed row is routed to the archive), so it needs no
          // closed-slice split; with no archive yet there is no guard join.
          // Each input is scanned once, so neither is cached; only the
          // merge output persists: three actions consume it (the isEmpty
          // guard and both writes).
          val merged = scope.persist(Scd2.fusedMerge(active, newDf,
            historyKeys(spark, historyPath), currents, mode, closeAndReopen = true))
          val (hist, activeRows) = Scd2.splitMergedDataset(merged)
          appendHistory(spark, hist, historyPath, currents)
          Store.writeStoreSwap(activeRows, activePath, Nil)
        }
    }
  }

  /** The whole historized table: archive ∪ active — row-identical to the
    * flat store the same runs would have produced. None until the first
    * run commits.
    *
    * Each tier is listed once and its schema read from one parquet footer
    * on the driver ([[Store.readParquet]]): building this frame runs no
    * Spark job, and a count over it runs two. A tier racing a swap's
    * rename gap (active: a concurrent run; archive: [[compactHistory]])
    * reads from its `.old` aside, and a tier reads as absent only when
    * both are missing or it holds no data file (an archive with only a
    * failed append's empty `run=` directory) — [[Store.readThroughSwap]].
    * Any other failure of either tier throws: an archive read as absent
    * would make every closed version vanish from this read. */
  def readTiered(
      spark: SparkSession,
      activePath: String,
      historyPath: String): Option[DataFrame] =
    Store.readThroughSwap(spark, activePath).map { active =>
      Store.readThroughSwap(spark, historyPath)
        .map(h => h.drop("run").select(active.columns.map(col).toSeq: _*)
          .unionByName(active))
        .getOrElse(active)
    }

  /** Point-in-time read over the tiered store. Both validity bounds push
    * to the parquet scans of BOTH tiers; the archive's immutability makes
    * it the natural home for offline sort/stats-manifest layout so old
    * days prune to a few files. */
  def asOfTiered(
      spark: SparkSession,
      activePath: String,
      historyPath: String,
      day: String): Option[DataFrame] =
    readTiered(spark, activePath, historyPath).map(Scd2.asOf(_, day))

  /** Consolidate the archive's older run partitions: a daily-merged
    * dimension accrues one `run=` partition per run (365/year of mostly
    * small files), and closed intervals never change — so everything
    * older than the newest `keepRuns` partitions collapses into the
    * oldest KEPT boundary's partition, rewritten through the aside-rename
    * swap (readers see the old or the new archive, never both — no crash
    * window where rows exist twice). The newest partitions stay as-is so
    * the crash-replay guard of in-flight runs still finds its own
    * partition. Rows are re-sorted by validity inside each written
    * partition, tightening the parquet row-group min/max on
    * VALID_FROM/VALID_TO — exactly the stats [[asOfTiered]]'s pushed
    * bounds prune on, so compaction makes old days CHEAPER to travel to,
    * not just fewer files. Content-preserving and idempotent; ops
    * cadence, never on the merge path.
    *
    * Writer contract: runs in the SAME writer's schedule as
    * [[historizeTiered]], between runs — the tiered store is single-
    * writer by construction (every run swap-replaces the active tier, so
    * two concurrent runs are already excluded), and compaction inherits
    * that slot; it does not need the concurrent-appender discipline the
    * tombstone stores carry, because nothing appends to the archive
    * except the run that is by contract not executing while this is. */
  def compactHistory(
      spark: SparkSession,
      historyPath: String,
      keepRuns: Int = 8): Unit = {
    // >= 2, not >= 1: the NEWEST partition must never be a fold target.
    // The one run that can legitimately replay after a crash is the
    // latest, and its replay overwrites its own `run=` partition — if
    // compaction had folded the whole archive into that partition
    // (keepRuns = 1), the replay's overwrite would destroy every older
    // closed interval. With the newest kept as-is, a fold target is
    // always a completed run that can no longer replay.
    require(keepRuns >= 2,
      "keepRuns must be >= 2: the newest run partition must stay out of the fold "
        + "so a crash-replay's partition overwrite cannot destroy folded history")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(historyPath), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(historyPath)
    if (!fs.exists(root)) return
    val runs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("run="))
      .map(_.stripPrefix("run=")).sorted
    if (runs.length <= keepRuns) return
    val cutoff = runs(runs.length - keepRuns)
    val remapped = Store.readParquet(spark, historyPath)
      .withColumn("run",
        when(col("run").cast("string") < lit(cutoff), lit(cutoff))
          .otherwise(col("run").cast("string")))
      .repartition(col("run"))
      .sortWithinPartitions(col("run"), col(ValidTo), col(ValidFrom))
    Store.writeStoreSwap(remapped, historyPath, Seq("run"))
  }

  /** Distinct KEY_HASH digests of the archive (None when no history
    * exists yet). Column-pruned: 32 bytes per row reach the driver plan,
    * the payload columns never leave parquet. */
  private[graft] def historyKeys(
      spark: SparkSession,
      historyPath: String): Option[DataFrame] =
    Store.readForSwap(spark, historyPath, Some(ArchiveKeys))
      .map(_.select(col(KeyHash)).distinct())

  /** The archive reads' pinned schema: a failed first [[appendHistory]]
    * leaves `run=<id>/` with no data files, which reads as empty instead
    * of failing inference on every later run. */
  private val ArchiveKeys = StructType(Seq(StructField(KeyHash, StringType)))

  /** Commit this run's closed rows as `run=<runId>`. Overwrite makes the
    * pre-swap replay idempotent; the non-empty guard makes the post-swap
    * replay (which recomputes an empty closed set against the advanced
    * active tier) leave the committed partition alone instead of wiping
    * it. A genuine zero-closure run writes nothing. */
  private def appendHistory(
      spark: SparkSession,
      hist: DataFrame,
      historyPath: String,
      currents: Currents): Unit = {
    if (!hist.isEmpty) {
      hist.drop("run").write.mode("overwrite")
        .parquet(s"$historyPath/run=${currents.runId}")
    }
    ()
  }
}
