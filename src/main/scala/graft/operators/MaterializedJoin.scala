package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized JOIN views — the join half of
  * the incremental-view-maintenance family ([[MaterializedAgg]] is the
  * aggregate half).
  *
  * North-star extension: a 100 TB fact store joined to a large dimension
  * cannot be re-joined from scratch per ingest batch — the standing
  * sides' read alone is the cost ceiling. The classical answer
  * (Blakeley, Larson & Tompa, "Efficiently Updating Materialized
  * Views", SIGMOD'86; Gupta & Mumick's IVM survey) is to persist the
  * join result and maintain it with the DELTA algebra of the inner
  * equi-join under bag semantics:
  *
  *   Δ(L ⋈ R) = ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR
  *
  * where L and R are the standing sides BEFORE the batch. Inserts
  * compose additively (bag union), so a maintained store appends ONLY
  * the delta rows — batch cost tracks |ΔJ|, never |J|.
  *
  * Scale posture of each term: the deltas are batch-sized, so both
  * delta-probing joins broadcast the delta against the standing side —
  * the standing stores NEVER shuffle (and when the standing side lives
  * in a sorted/manifested layout, [[graft.sources.StoreIndex
  * .readStoreKeys]] restricts the scan to the files that can contain
  * the delta's keys before any footer opens). ΔL ⋈ ΔR is batch × batch.
  *
  * Deletes ride on PROVENANCE, not re-joins: every view row carries its
  * source rows' id columns (the natural join output already does), so
  * retracting a deleted source row is an anti-join of the view on those
  * ids ([[retractByIds]]) — cost |J ⋉ deleted|, with the merge-on-read
  * tombstone form ([[tombstoneView]]) deferring even that rewrite the
  * way Delta/Iceberg deletion vectors do: the physical purge composes
  * with the existing store layer ([[graft.sources.Store
  * .deleteFromStore]], [[graft.sources.Store.purgeGenerations]])
  * whenever compaction runs.
  *
  * Contract: an inner equi-join on `keys` with the non-key columns of
  * the two sides disjoint (the usual star-schema shape; rename before
  * joining otherwise). Outer joins do not maintain by this algebra — a
  * new right match must RETRACT a standing null-extended row — and are
  * out of scope here.
  */
object MaterializedJoin {

  /** The view delta of J = L ⋈ R for one ingest batch that appended
    * `deltaL` to L and `deltaR` to R (either may be empty; standing
    * sides EXCLUDE their deltas). Returns exactly the rows the batch
    * adds to the view — append them ([[appendDelta]]) and the store
    * equals the from-scratch re-join, in any batching.
    *
    * The two standing-side probes broadcast the delta by default: a
    * batch is small by construction, and broadcasting it turns the
    * probe into a shuffle-free scan of the standing store. Disable for
    * a rare jumbo batch and AQE picks the join strategy instead. */
  def insertDelta(
      standingL: DataFrame,
      deltaL: DataFrame,
      standingR: DataFrame,
      deltaR: DataFrame,
      keys: Seq[String],
      broadcastDeltas: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    requireDisjoint(standingL, standingR, keys)
    val dl = if (broadcastDeltas) broadcast(deltaL) else deltaL
    val dr = if (broadcastDeltas) broadcast(deltaR) else deltaR
    dl.join(standingR, keys)
      .unionByName(standingL.join(dr, keys))
      .unionByName(dl.join(dr, keys))
  }

  /** One-sided convenience: the delta when only the LEFT side grew
    * (the streaming-facts-static-dimension shape). */
  def insertDeltaLeft(
      deltaL: DataFrame,
      standingR: DataFrame,
      keys: Seq[String],
      broadcastDelta: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    requireDisjoint(deltaL, standingR, keys)
    (if (broadcastDelta) broadcast(deltaL) else deltaL).join(standingR, keys)
  }

  /** Dimension refresh — the UPDATE third of the maintenance lifecycle
    * (inserts: [[insertDelta]]; deletes: [[retractByIds]]/tombstones).
    * `updatedDim` carries the dimension rows that changed (SCD1 upsert:
    * new attribute values under existing keys, or entirely new keys);
    * the view retracts every row joined to a touched key (the join key
    * IS the dimension's provenance) and re-joins the standing fact side
    * against just the new dimension rows. Cost: \|J ⋉ touched\| +
    * \|L ⋈ touched\| — the update batch broadcasts twice, the view and
    * fact stores never shuffle, and nothing scales with \|J\| or \|L\|
    * beyond the scan. A dimension DELETE is [[retractByIds]] with the
    * keys directly; an SCD2-style history join is [[Scd2.temporalJoin]]'s
    * territory, not this operator's. */
  def refreshDimension(
      standingView: DataFrame,
      standingL: DataFrame,
      updatedDim: DataFrame,
      keys: Seq[String],
      broadcastDim: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    requireDisjoint(standingL, updatedDim, keys)
    val dim = if (broadcastDim) broadcast(updatedDim) else updatedDim
    retractByIds(standingView, updatedDim, keys)
      .unionByName(standingL.join(dim, keys))
  }

  /** The contract's loud half: the inner equi-join on `keys` assumes the
    * sides' NON-KEY columns are disjoint (the star-schema shape) — an
    * overlap would produce ambiguous duplicate output columns that only
    * fail on first downstream reference. Fail at the operator instead. */
  private def requireDisjoint(l: DataFrame, r: DataFrame, keys: Seq[String]): Unit = {
    val overlap = l.columns.toSet.intersect(r.columns.toSet) -- keys.toSet
    require(overlap.isEmpty,
      s"non-key columns must be disjoint (rename before joining): ${overlap.mkString(", ")}")
  }

  /** Star-schema convenience: the view delta when a FACT batch arrives
    * against several standing dimensions (the dominant 100 TB shape —
    * facts grow continuously, dimensions change on their own slower
    * cadence through [[insertDelta]]'s two-sided form). Folds
    * [[insertDeltaLeft]] across the dimensions: the batch broadcasts
    * once per dimension, no standing side ever shuffles, and the result
    * is ΔF ⋈ D1 ⋈ … ⋈ Dn. */
  def insertDeltaStar(
      deltaFact: DataFrame,
      dims: Seq[(DataFrame, Seq[String])],
      broadcastDelta: Boolean = true): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension")
    dims.foldLeft(deltaFact) { case (acc, (dim, keys)) =>
      insertDeltaLeft(acc, dim, keys, broadcastDelta)
    }
  }

  /** Retract view rows sourced from deleted input rows, by provenance:
    * `removed` carries the deleted side's id columns (`idCols`, e.g. the
    * left row's primary key), and every view row that matches on ALL of
    * them leaves. An anti-join on ids — never a re-join of the sides. */
  def retractByIds(
      standingView: DataFrame,
      removed: DataFrame,
      idCols: Seq[String]): DataFrame = {
    require(idCols.nonEmpty, "need at least one provenance id column")
    standingView.join(
      removed.select(idCols.map(col): _*).distinct(), idCols, "left_anti")
  }

  /** Merge-on-read deletion: the view with `tombstones` (provenance ids
    * of retracted source rows) masked out at READ time — the physical
    * rows stay until compaction, so a delete is an O(|ids|) tombstone
    * append instead of a store rewrite. Same plan shape as
    * [[retractByIds]]; the distinction is the caller's lifecycle (the
    * tombstone store accumulates across batches and clears when a
    * compaction pass applies it physically). */
  def tombstoneView(
      standingView: DataFrame,
      tombstones: DataFrame,
      idCols: Seq[String]): DataFrame =
    retractByIds(standingView, tombstones, idCols)

  /** Append one batch's view delta under its own `ingest_batch=N`
    * partition directory: the maintained store is the union of its
    * batch partitions, standing rows are never rewritten, and a re-run
    * of the same batch id overwrites (idempotent under at-least-once
    * delivery). The partition column is layout, not content — readers
    * drop it ([[readView]]). */
  def appendDelta(path: String, batchId: Long, delta: DataFrame): Unit =
    delta.write.mode("overwrite").parquet(s"$path/ingest_batch=$batchId")

  /** The maintained view: all appended deltas, minus tombstoned
    * provenance ids when a tombstone store exists. None until the first
    * batch lands. */
  def readView(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      tombstonesPath: Option[String] = None,
      idCols: Seq[String] = Nil): Option[DataFrame] =
    graft.sources.Store.readParquetSafe(spark, path).map { view =>
      val v = view.drop("ingest_batch")
      tombstonesPath.flatMap(graft.sources.Store.readParquetSafe(spark, _)) match {
        case Some(ts) => tombstoneView(v, ts.drop("ingest_batch"), idCols)
        case None => v
      }
    }

  /** COMPACTION for the merge-on-read deletes: physically drop the
    * tombstoned rows from the view store, preserving its per-batch
    * partition layout, then clear the tombstone store. The rewrite goes
    * through the aside-rename swap ([[graft.sources.Store
    * .writeStoreSwap]]), so a concurrent reader sees the pre- or
    * post-compaction store, never a half-applied one; the tombstones
    * clear strictly AFTER the swap commits, so a crash between the two
    * leaves the already-removed ids still masked at read — a no-op — and
    * a re-run converges. Run this out-of-band of the maintaining stream
    * (the usual compaction cadence), like [[graft.sources.Store
    * .compactStore]] for the file-count half of the same story. */
  def applyTombstones(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      tombstonesPath: String,
      idCols: Seq[String]): Unit = {
    require(idCols.nonEmpty, "need at least one provenance id column")
    // no view store → nothing to compact; leave any tombstones in place
    // (they still mask correctly if a view appears via replay)
    if (graft.sources.Store.readParquetSafe(spark, path).isEmpty) return
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tombstonesPath), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(tombstonesPath)
    if (!fs.exists(root)) return
    // SNAPSHOT the tombstone batch partitions up front and apply/delete
    // only those: a lazy whole-store scan followed by a recursive delete
    // would silently discard tombstone batches a maintaining stream
    // appended between the compaction scan and the delete — their rows
    // would come back unmasked. Listed-but-later-appended batches stay in
    // place for the next compaction pass, making concurrency with the
    // single appending stream safe, not just documented.
    val parts = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("ingest_batch="))
      .map(_.toString).toSeq
    applyTombstoneBatches(spark, path, idCols, parts)
  }

  /** Apply exactly the LISTED tombstone batch partitions, then delete
    * exactly those directories — the snapshot core of [[applyTombstones]],
    * separated so the stale-listing race (a batch appended after the
    * listing) is directly testable. */
  private[graft] def applyTombstoneBatches(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCols: Seq[String],
      parts: Seq[String]): Unit = {
    // Pair each listed partition with its read: a partition whose read
    // fails (e.g. an in-flight batch the listing caught mid-write, no
    // committed footer yet) must NOT be deleted — its ids were never
    // applied, and destroying it would resurrect the rows it masks.
    // Only successfully-read partitions are applied-then-deleted; the
    // rest stay for the next compaction pass.
    val readParts = parts
      .map(p => p -> graft.sources.Store.readParquetSafe(spark, p))
      .collect { case (p, Some(df)) => p -> df }
    if (readParts.isEmpty) return
    val applied = readParts.map(_._1)
    val ids = readParts.map(_._2).reduce(_ unionByName _)
      .select(idCols.map(col): _*).distinct()
    // keep the partition column: the store must stay appendable by
    // later batch ids after compaction. No broadcast hint: tombstones
    // accumulate between compactions and may outgrow a broadcast —
    // AQE picks the strategy from the actual size
    val kept = graft.sources.Store.readParquet(spark, path).join(ids, idCols, "left_anti")
    graft.sources.Store.writeStoreSwap(kept, path, Seq("ingest_batch"))
    applied.foreach { p =>
      val pp = new org.apache.hadoop.fs.Path(p)
      org.apache.hadoop.fs.FileSystem.get(
        pp.toUri, spark.sparkContext.hadoopConfiguration).delete(pp, true)
      ()
    }
  }
}
