package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.meta.{Currents, MetaColumns}

/** Slowly-Changing-Dimension Type 2 merge.
  *
  * Re-expresses the reference's design-spec SCD2 path — the PySpark code
  * inside the dead `'''` blocks of src/PandasETLHelpers/SCDHelpers.py
  * (`merge_scd2` :129-220, `get_valid_from_date` :88-108,
  * `historize_dataset` :297-301, `split_merged_dataset` :311-316).
  *
  * One semantic contract, one physical merge:
  *
  *  - [[mergeScd2]] — the faithful five-branch classification (current-only,
  *    new-only, unchanged, changed-current, changed-new) unioned together,
  *    exactly as SCDHelpers.py:139-216 specifies. Re-joins the two inputs
  *    four times → four shuffles of the same data. Kept as the executable
  *    specification.
  *
  *  - [[fusedMerge]] — the merge every other form runs: one full-outer
  *    join of the OPEN rows against the new snapshot on KEY_HASH, one
  *    digest-only left join against a guard set of closed keys, then a
  *    single explode that emits 0–2 output rows per joined row. Closed
  *    history rows never enter the join. One shuffle of each input; at
  *    100 TB this is the difference between 2 exchanges and 8. With close
  *    and reopen off it is the plain merge ([[mergeScd2Fast]]); with them
  *    on, the same emit also closes vanished keys and reopens closed-only
  *    ones — the whole full-load lifecycle ([[mergeScd2FastClosing]] over
  *    a flat store, [[Scd2Tier.historizeTiered]] over the tiered one, whose
  *    archive keys are the guard set).
  *
  * Day-granularity anomaly reproduced as specified (SURVEY.md §7.4#4):
  * changed rows close at `date_sub(runDay, 1)` while successors open at
  * `runDay` — two merges on the same calendar day yield a closed row ending
  * the day before its successor opens. Faithful to SCDHelpers.py:191-212.
  */
object Scd2 {
  import MetaColumns._

  /** valid-from policy for brand-new keys (SCDHelpers.py:88-108). */
  sealed trait ValidFromMode
  object ValidFromMode {
    /** open at the SCD2 epoch `1900-01-01` */
    case object LowerBound extends ValidFromMode
    /** open at the run day */
    case object LoadDate extends ValidFromMode
    /** open at a caller-supplied `yyyy-MM-dd` date */
    final case class Custom(date: String) extends ValidFromMode
  }

  /** Resolve the valid-from date string per mode (SCDHelpers.py:88-108). */
  def validFromDate(mode: ValidFromMode, currents: Currents): String = mode match {
    case ValidFromMode.LowerBound   => Scd2LowerBound
    case ValidFromMode.LoadDate     => currents.runDay
    case ValidFromMode.Custom(date) => date
  }

  /** Empty frame from an explicit schema (SCDHelpers.py:26-30). */
  def emptyFromSchema(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def upperBound: Column = to_date(lit(Scd2UpperBound))

  /** Faithful five-branch SCD2 merge (SCDHelpers.py:129-220).
    *
    * @param currentDf current store: meta columns + VALID_FROM/VALID_TO
    * @param newDf new snapshot: meta columns (no validity columns yet)
    */
  def mergeScd2(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents,
      mode: ValidFromMode): DataFrame = {
    val c = currentDf.alias("c")
    val n = newDf.alias("n")
    val keyEq    = col("c." + KeyHash) === col("n." + KeyHash)
    val recEq    = col("c." + RecordHash) === col("n." + RecordHash)
    val recNeq   = col("c." + RecordHash) =!= col("n." + RecordHash)
    val cActive  = col("c." + ValidTo) === upperBound
    val runDay   = to_date(lit(currents.runDay))

    // (a) rows staying untouched on the current side: key vanished from the
    //     snapshot, or the row is already closed out (SCDHelpers.py:139-145)
    val currentOnly = c.join(n, keyEq, "left_outer")
      .filter(col("n." + KeyHash).isNull || col("c." + ValidTo) =!= upperBound)
      .select("c.*")

    // (b) brand-new keys (SCDHelpers.py:154-160)
    val newOnly = n.join(c, keyEq, "left_anti")
      .withColumn(ValidFrom, to_date(lit(validFromDate(mode, currents))))
      .withColumn(ValidTo, upperBound)

    // (c) unchanged active rows (SCDHelpers.py:165-172)
    val unchangedCurrent = c.join(n, keyEq && recEq && cActive, "inner").select("c.*")

    // (d) changed rows, current side → close out (SCDHelpers.py:177-194)
    val changedCurrent = c.join(n, keyEq && recNeq && cActive, "inner").select("c.*")
      .withColumn(UpdateTs, lit(currents.runTs).cast("timestamp"))
      .withColumn(UpdateRunId, lit(currents.runId))
      .withColumn(ValidTo, date_sub(runDay, 1))

    // (e) changed rows, new side → open successor (SCDHelpers.py:199-212)
    val changedNew = n.join(c, keyEq && recNeq && cActive, "inner").select("n.*")
      .withColumn(ValidFrom, runDay)
      .withColumn(ValidTo, upperBound)

    currentOnly
      .unionByName(newOnly)
      .unionByName(unchangedCurrent)
      .unionByName(changedCurrent)
      .unionByName(changedNew)
  }

  /** Single-shuffle SCD2 merge: same result as [[mergeScd2]] (assuming
    * key-unique active slice and key-unique snapshot — the reference's
    * implicit contract): closed rows pass through untouched, the active
    * slice runs through [[fusedMerge]] with close and reopen off, and the
    * distinct closed keys are its guard set — the faithful path's `NOT IN
    * (full current)` semantics for keys surviving only as closed rows.
    *
    * When `currentDf` is a derived plan (not a store read), persist it first
    * — the closed/active/closed-key splits reference it three times.
    */
  def mergeScd2Fast(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents,
      mode: ValidFromMode): DataFrame =
    flatMerge(currentDf, newDf, currents, mode, closeAndReopen = false)

  /** The full delete lifecycle of one full load in ONE merge: [[mergeScd2Fast]]
    * with resurrection and vanished-key closure fused into the same
    * full-outer join. Row-identical (spec-pinned by Scd2Spec's seeded
    * lifecycle property) to the sequential composition
    * `closeVanished(mergeScd2Reopen(currentDf, newDf, currents, mode), newDf, currents)`
    * under the merge forms' key-unique contract, at a fraction of the
    * passes: the sequential form joins the snapshot three times (merge,
    * reopen semi-join, closure anti-join) and the merged output once more;
    * here the one join already proves what the extra joins re-prove — an
    * active row with no snapshot match IS the vanished key, a snapshot row
    * with no active match whose key is in the closed slice IS the
    * closed-only key. Like the reopen delta, the reopen branch makes no
    * key-uniqueness assumption: every snapshot row of a closed-only key
    * opens a fresh interval. Persist `currentDf` first when it is a derived
    * plan, as for [[mergeScd2Fast]]. */
  def mergeScd2FastClosing(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents,
      mode: ValidFromMode): DataFrame =
    flatMerge(currentDf, newDf, currents, mode, closeAndReopen = true)

  /** [[fusedMerge]] over a flat store: the closed slice passes through and
    * its distinct keys guard the active slice's merge. */
  private def flatMerge(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents,
      mode: ValidFromMode,
      closeAndReopen: Boolean): DataFrame = {
    val closed = currentDf.filter(col(ValidTo) =!= upperBound || col(ValidTo).isNull)
    val active = currentDf.filter(col(ValidTo) === upperBound)
    closed.unionByName(fusedMerge(active, newDf,
      Some(closed.select(col(KeyHash)).distinct()), currents, mode, closeAndReopen))
  }

  /** The one physical SCD2 merge: ONE full-outer join of the open rows
    * against the snapshot on KEY_HASH, at most one left join against the
    * guard set, then `explode(filter(array(structs), notNull))` emits 0–2
    * rows per joined row — whole-stage codegen end to end, one shuffle of
    * each input, no repeated scans, no driver round-trips. Per joined row:
    *
    *  - both sides, same RECORD_HASH: the active row as-is;
    *  - both sides, changed: the active row closes (`VALID_TO = runDay −
    *    1`, UPDATE_TS/UPDATE_RUN_ID stamped) and its successor opens at
    *    runDay;
    *  - active row only: as-is, or with `closeAndReopen` closed like a
    *    change plus DELETED stamped when still null (first observation
    *    wins, [[closeDeleted]]'s branches);
    *  - snapshot row only, key not guarded: a new key, opens at the
    *    `mode` epoch;
    *  - snapshot row only, key guarded (closed history, no open row):
    *    dropped (the reference's `new_only` anti-join against the FULL
    *    store), or with `closeAndReopen` reopened at runDay — the
    *    validity gap since the close stays an honest `asOf` gap.
    *
    * @param active open rows only (VALID_TO at the upper bound); its
    *               column order is the output's
    * @param guardKeys distinct KEY_HASH digests of the keys with closed
    *               history; None when none can exist (adds no join)
    */
  private[graft] def fusedMerge(
      active: DataFrame,
      newDf: DataFrame,
      guardKeys: Option[DataFrame],
      currents: Currents,
      mode: ValidFromMode,
      closeAndReopen: Boolean): DataFrame = {
    val outCols  = active.columns.toSeq
    val runDay   = to_date(lit(currents.runDay))
    val c = active.alias("c")
    val n = newDf.alias("n")
    val base = c.join(n, col("c." + KeyHash) === col("n." + KeyHash), "full_outer")
    // guard on the SNAPSHOT key: only a snapshot row without an active
    // match consults it. The join moves only 32-byte digests; at scale it
    // is broadcast- or bucket-joinable
    val joined = guardKeys.fold(base)(g =>
      base.join(g.select(col(KeyHash).as("__guard_key")),
        col("n." + KeyHash) === col("__guard_key"), "left_outer"))

    val hasC     = col("c." + KeyHash).isNotNull
    val hasN     = col("n." + KeyHash).isNotNull
    val guarded  = if (guardKeys.isEmpty) lit(false) else col("__guard_key").isNotNull
    val changed  = hasC && hasN && (col("c." + RecordHash) =!= col("n." + RecordHash))
    val vanished = if (closeAndReopen) hasC && !hasN else lit(false)
    val closeOut = changed || vanished
    val fresh    = !hasC && !guarded
    val opens    = changed || (if (closeAndReopen) !hasC else fresh)

    val currentSide = struct(outCols.map {
      case UpdateTs    => when(closeOut, lit(currents.runTs).cast("timestamp"))
                            .otherwise(col("c." + UpdateTs)).as(UpdateTs)
      case UpdateRunId => when(closeOut, lit(currents.runId))
                            .otherwise(col("c." + UpdateRunId)).as(UpdateRunId)
      case ValidTo     => when(closeOut, date_sub(runDay, 1))
                            .otherwise(col("c." + ValidTo)).as(ValidTo)
      case Deleted     => when(vanished && col("c." + Deleted).isNull,
                            lit(currents.runTs).cast("timestamp"))
                            .otherwise(col("c." + Deleted)).as(Deleted)
      case other       => col("c." + other).as(other)
    }: _*)

    // new-side output row: a fresh key opens per mode; a successor or a
    // reopened key opens at runDay
    val newSide = struct(outCols.map {
      case ValidFrom => when(fresh, to_date(lit(validFromDate(mode, currents))))
                          .otherwise(runDay).as(ValidFrom)
      case ValidTo   => upperBound.as(ValidTo)
      case other     => col("n." + other).as(other)
    }: _*)

    joined.select(
      explode(filter(array(
        when(hasC, currentSide),
        when(opens, newSide)
      ), x => x.isNotNull)).as("r"))
      .select(outCols.map(cn => col("r." + cn)): _*)
  }

  /** Bootstrap-aware wrapper (SCDHelpers.py:297-301): when no current store
    * exists yet, merge against the empty historized frame.
    *
    * The bootstrap case short-circuits: against an empty current store every
    * snapshot row is a `new_only` row, so the merge degenerates to stamping
    * VALID_FROM/VALID_TO — no join, no closed-key distinct, no shuffle. The
    * general merge over an explicit empty frame returns the identical
    * result, just through two pointless exchanges. */
  def historizeDataset(
      newDf: DataFrame,
      currentDf: Option[DataFrame],
      currents: Currents,
      mode: ValidFromMode): DataFrame = currentDf match {
    case None =>
      newDf
        .withColumn(ValidFrom, to_date(lit(validFromDate(mode, currents))))
        .withColumn(ValidTo, upperBound)
    case Some(current) => mergeScd2Fast(current, newDf, currents, mode)
  }

  /** Delete CLOSURE — the lifecycle step the reference's dead code
    * gestures at but never wires: its delete detectors produce key lists
    * (in-band flags SCDHelpers.py:233-235, full-load diff :246-266) that
    * no merge consumes, so a key vanishing from a full load stays ACTIVE
    * forever in the merged store. This composes them into the history:
    * each deleted key's ACTIVE row closes out exactly like the merge's
    * changed-current branch — `VALID_TO = runDay − 1`, `UPDATE_TS` /
    * `UPDATE_RUN_ID` stamped — and additionally carries the `DELETED`
    * run timestamp when the store has the column (first observation
    * wins, the [[Cdc.stampDeleted]] convention, so travel can tell a
    * delete-closure from a change-closure). Closed rows and untouched
    * keys pass through bit-identical.
    *
    * Convergent by construction: a closed key has no active row, so
    * re-feeding the same deleted keys (or the detector re-observing the
    * vanished key next run) changes nothing, and intervals stay
    * non-overlapping because only the open row is ever touched — both
    * property-tested in Scd2Spec. Resurrection is a later snapshot's
    * `new_only` row opening a fresh interval; note [[mergeScd2Fast]]'s
    * closed-key guard means a resurrected key needs an explicit re-open
    * policy (the reference's semantics: once closed, a key re-inserts
    * only through the faithful path's active-slice contract).
    *
    * Scale shape: `deletedKeys` reduces to distinct 32-byte digests
    * before ONE left join against the store (AQE broadcasts the small
    * takedown side), then per-row conditionals — the store payload moves
    * once, nothing scales with history length.
    */
  def closeDeleted(
      currentDf: DataFrame,
      deletedKeys: DataFrame,
      currents: Currents): DataFrame = {
    require(deletedKeys.columns.contains(KeyHash),
      s"deletedKeys must carry $KeyHash (the Cdc delete detectors' output)")
    val del = deletedKeys.select(col(KeyHash)).distinct()
      .withColumn("__del", lit(true))
    val runDay = to_date(lit(currents.runDay))
    val joined = currentDf.join(del, Seq(KeyHash), "left_outer")
      // capture the hit BEFORE mutating VALID_TO: only the OPEN row of a
      // deleted key closes; history rows of the same key stay untouched
      .withColumn("__hit", col("__del").isNotNull && col(ValidTo) === upperBound)
    val stamped = joined
      .withColumn(UpdateTs, when(col("__hit"),
        lit(currents.runTs).cast("timestamp")).otherwise(col(UpdateTs)))
      .withColumn(UpdateRunId, when(col("__hit"),
        lit(currents.runId)).otherwise(col(UpdateRunId)))
      .withColumn(ValidTo, when(col("__hit"),
        date_sub(runDay, 1)).otherwise(col(ValidTo)))
    val withDeleted =
      if (currentDf.columns.contains(Deleted))
        stamped.withColumn(Deleted,
          when(col("__hit") && col(Deleted).isNull,
            lit(currents.runTs).cast("timestamp")).otherwise(col(Deleted)))
      else stamped
    withDeleted.select(currentDf.columns.map(col).toSeq: _*)
  }

  /** Full-load composition of the closure: close every key whose ACTIVE
    * row is absent from the new full snapshot — the reference's D8
    * detector ([[Cdc.deletedByFullLoad]], SCDHelpers.py:246-266) finally
    * consumed by the SCD2 lifecycle. The diff runs on the ACTIVE slice
    * only (a key surviving solely as closed history is already closed —
    * diffing the whole store would re-flag it forever); both sides
    * reduce to key digests before the anti-join, so the probe moves
    * 32-byte columns, never payloads. */
  def closeVanished(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents): DataFrame = {
    require(newDf.columns.contains(KeyHash),
      s"newDf must carry $KeyHash (enrich the snapshot first)")
    val activeKeys = currentDf.filter(col(ValidTo) === upperBound).select(col(KeyHash))
    val gone = activeKeys.join(newDf.select(col(KeyHash)), Seq(KeyHash), "left_anti")
    closeDeleted(currentDf, gone, currents)
  }

  /** Resurrection — the re-OPEN half of the delete lifecycle
    * ([[closeDeleted]] is the closing half): snapshot keys that exist in
    * the store ONLY as closed rows open a fresh interval at the run day.
    * The plain merge drops such keys silently — its closed-key guard is
    * faithful to the reference's `new_only` anti-join against the FULL
    * store (SCDHelpers.py:154-156, spec'd as "keys existing only as
    * closed rows are NOT re-inserted") — which is correct for a
    * change-closed store but wrong the moment [[closeDeleted]] enters
    * the lifecycle: a key deleted in March and re-delivered in May must
    * come back.
    *
    * Semantics: the validity GAP is preserved — `asOf` on a day between
    * the close and the reopen shows no row for the key, which is the
    * honest answer (it was deleted then). The reopened row opens at the
    * run day (not `mode`: the key has history, so the new-key epoch
    * policies don't apply) and carries the snapshot's delivered meta
    * columns, like the merge's own `new_only` branch. Idempotent: after
    * the reopen the key is active again, so re-feeding the same snapshot
    * routes it through the ordinary unchanged/changed branches and the
    * closed-only set is empty.
    *
    * Scale shape: [[mergeScd2Fast]]'s single-shuffle plan plus two
    * digest-only joins (closed-minus-active keys, then a semi-join of
    * the snapshot) — broadcast-friendly, payloads move once. As with
    * the fast merge, persist `currentDf` first when it is a derived
    * plan — it is referenced five times across the splits. */
  def mergeScd2Reopen(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents,
      mode: ValidFromMode): DataFrame =
    mergeScd2Fast(currentDf, newDf, currents, mode)
      .unionByName(reopenDelta(currentDf, newDf, currents)
        .select(currentDf.columns.map(col).toSeq: _*))

  /** The reopen composed as a STORE-MAINTENANCE pass (no merge): the
    * store plus the reopen delta — the shape for composing with
    * [[closeDeleted]]/[[closeVanished]] between merges, when the run's
    * snapshot has already been merged and only the resurrection is
    * outstanding. Unlike [[mergeScd2Reopen]] this makes no key-unique
    * assumption about the snapshot: it touches nothing in the store and
    * appends exactly the closed-only keys' snapshot rows. */
  def reopenClosed(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents): DataFrame =
    currentDf.unionByName(reopenDelta(currentDf, newDf, currents)
      .select(currentDf.columns.map(col).toSeq: _*))

  /** Fresh intervals for the snapshot rows whose keys exist in the store
    * ONLY as closed rows — the shared delta of [[mergeScd2Reopen]] and
    * [[reopenClosed]]. Digest-only joins: closed-minus-active keys, then
    * a semi-join of the snapshot. */
  private def reopenDelta(
      currentDf: DataFrame,
      newDf: DataFrame,
      currents: Currents): DataFrame = {
    require(newDf.columns.contains(KeyHash),
      s"newDf must carry $KeyHash (enrich the snapshot first)")
    val activeKeys = currentDf.filter(col(ValidTo) === upperBound)
      .select(col(KeyHash)).distinct()
    val closedOnly = currentDf.select(col(KeyHash)).distinct()
      .join(activeKeys, Seq(KeyHash), "left_anti")
    newDf.join(closedOnly, Seq(KeyHash), "left_semi")
      .withColumn(ValidFrom, to_date(lit(currents.runDay)))
      .withColumn(ValidTo, upperBound)
  }

  /** Split a historized table into (closed history, active rows) by the
    * SCD2 upper bound.
    *
    * Deviation recorded (SURVEY.md §7.4#5): the literal reference code
    * (SCDHelpers.py:312) tests `VALID_TO > '9999-12-31'`, which can never be
    * true; the documented intent (:307-308) is to split *at* the bound, so
    * hist = strictly before it.
    *
    * Total: null `VALID_TO` (unreachable post-merge, but possible on raw
    * input) lands on the ACTIVE side — in the common SCD2 convention a null
    * VALID_TO marks the open/current row, and either way `< bound` alone
    * would drop such rows from BOTH halves. hist.count + active.count
    * always equals df.count. */
  def splitMergedDataset(df: DataFrame): (DataFrame, DataFrame) = {
    val hist   = df.filter(col(ValidTo) < upperBound)
    val active = df.filter(col(ValidTo) === upperBound || col(ValidTo).isNull)
    (hist, active)
  }

  /** Point-in-time reconstruction of a historized table: the rows valid
    * ON `day` — `VALID_FROM <= day <= VALID_TO`, both bounds inclusive
    * (a closed row ends the day BEFORE its successor opens, so exactly
    * one version per key covers any day; the SCD2 invariant a spec
    * asserts). A null `VALID_TO` (possible on raw input, never
    * post-merge) reads as the open bound, matching
    * [[splitMergedDataset]]'s active side.
    *
    * This is the most common consumer query against a historized store —
    * "the table as it was on day d". It is a pure per-row filter: both
    * comparisons push down to a parquet scan (see
    * [[graft.sources.Store.readStoreAsOf]] for the store-read
    * composition whose plan is audited for `PushedFilters`), so a 100 TB
    * store reads only row groups whose [min, max] validity ranges cover
    * the day. */
  def asOf(df: DataFrame, day: Column): DataFrame =
    df.filter(col(ValidFrom) <= day &&
      (col(ValidTo).isNull || day <= col(ValidTo)))

  /** [[asOf]] with an ISO `yyyy-MM-dd` day literal. */
  def asOf(df: DataFrame, day: String): DataFrame =
    asOf(df, to_date(lit(day)))

  /** Every version valid at ANY point of the inclusive day interval
    * `[fromDay, toDay]` — the audit read ("what was live during
    * February", "what changed this quarter" = between minus the asOf
    * endpoints). Window-overlap is two per-row comparisons, so — like
    * [[asOf]] — both bounds push down to the parquet scan and row groups
    * wholly outside the interval are never read. `between(d, d)` ≡
    * `asOf(d)`. */
  def between(df: DataFrame, fromDay: String, toDay: String): DataFrame = {
    require(fromDay <= toDay, s"need fromDay <= toDay, got [$fromDay, $toDay]")
    df.filter(col(ValidFrom) <= to_date(lit(toDay)) &&
      (col(ValidTo).isNull || to_date(lit(fromDay)) <= col(ValidTo)))
  }

  /** Temporal join of two SCD2 histories: one output row per pair of
    * versions that share the business key AND whose validity windows
    * intersect, carrying the INTERSECTED window — `VALID_FROM` =
    * greatest of the two froms, `VALID_TO` = least of the two tos. This
    * aligns two slowly-changing histories on the time axis in one pass:
    * where either side versions, the output splits at that boundary, so
    * `asOf(temporalJoin(l, r), d)` ≡ `asOf(l, d) ⋈ asOf(r, d)` for every
    * day `d` (the commutation spec in Scd2Spec pins this). The reference
    * historizes tables independently and leaves cross-table time
    * alignment to the reader (SCDHelpers.py:297-316 ends at the single
    * store); this is that missing reader.
    *
    * Right-side columns whose names collide with left output names
    * (including the meta columns) are suffixed with `rightSuffix`; the
    * right key columns and both sides' validity columns are consumed by
    * the join and replaced by the intersected window. A null (still-open)
    * `VALID_TO` on either side is treated as — and emitted as — the SCD2
    * upper bound `9999-12-31`.
    *
    * Plan shape at 100 TB: a plain equi-join on the key pairs (Catalyst
    * picks SMJ or broadcast) with the overlap test as a post-join filter
    * — never a nested-loop join, because the equi conjuncts alone drive
    * the join. Version counts per key are small by construction (one row
    * per change), so the overlap filter rejects only the few cross-epoch
    * pairs of multi-version keys.
    *
    * @param joinKeys (left column, right column) equi pairs
    */
  def temporalJoin(
      left: DataFrame,
      right: DataFrame,
      joinKeys: Seq[(String, String)],
      rightSuffix: String = "_R"): DataFrame = {
    require(joinKeys.nonEmpty, "need at least one join key pair")
    require(rightSuffix.nonEmpty, "rightSuffix must be non-empty")
    val leftCols = left.columns.toSet
    val renamed = right.columns.map(c => if (leftCols(c)) c + rightSuffix else c)
    require(renamed.distinct.length == renamed.length &&
      renamed.toSet.intersect(leftCols).isEmpty,
      s"suffix '$rightSuffix' does not make right columns unique against the left")
    val r = right.toDF(renamed.toIndexedSeq: _*)
    val rKeys = joinKeys.map { case (_, rc) => if (leftCols(rc)) rc + rightSuffix else rc }
    val cond = joinKeys.map(_._1).zip(rKeys)
      .map { case (lc, rc) => col(lc) === col(rc) }.reduce(_ && _)
    val (vfR, vtR) = (ValidFrom + rightSuffix, ValidTo + rightSuffix)
    val lo = greatest(col(ValidFrom), col(vfR))
    val hi = least(coalesce(col(ValidTo), upperBound), coalesce(col(vtR), upperBound))
    left.join(r, cond)
      .filter(lo <= hi)
      .withColumn(ValidFrom, lo)
      .withColumn(ValidTo, hi)
      .drop(vfR, vtR)
      .drop(rKeys: _*)
  }
}
