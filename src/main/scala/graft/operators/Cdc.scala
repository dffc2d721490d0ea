package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.meta.MetaColumns

/** Hash-based change-data-capture: delta / insert / update / delete
  * classification between a current store and a new snapshot, plus the
  * SCD1-style CDC merge.
  *
  * Re-expresses the reference's live delta operators
  * (src/PandasETLHelpers/MetaColumnHelpers.py:180-208, main.py:12) and the
  * dead-code CDC merge / delete detection
  * (src/PandasETLHelpers/SCDHelpers.py:67-73, :233-235, :246-266).
  *
  * Every operator is an equi-join on one or two md5 hash columns — that is
  * the reference's core design: precomputed digests reduce wide-row
  * comparison to fixed-width column equality, so all change detection is
  * broadcast- or shuffle-hash-joinable and scales linearly. Hashes are
  * non-null by construction, so `left_anti` is exactly the reference's
  * `LEFT JOIN ... IS NULL` / `NOT IN` semantics.
  */
object Cdc {
  import MetaColumns.{Deleted, KeyHash, RecordHash}

  /** [[delta]]'s output column order (the Seq-join puts the join keys
    * first) — shared by every alternate delta route so their outputs
    * stay provably column-aligned with the reference form. */
  private def deltaOutputOrder(newData: DataFrame): Seq[String] =
    Seq(KeyHash, RecordHash) ++ newData.columns.filterNot(Set(KeyHash, RecordHash))

  /** Inserts + updates: rows of `newData` with no (KEY_HASH, RECORD_HASH)
    * match in `currentData` (MetaColumnHelpers.py:180-184; SQL main.py:12). */
  def delta(currentData: DataFrame, newData: DataFrame): DataFrame =
    newData.join(currentData.select(KeyHash, RecordHash), Seq(KeyHash, RecordHash), "left_anti")

  /** [[delta]] re-keyed for a KEY_HASH-bucketed current store. The pair
    * anti-join's (KEY_HASH, RECORD_HASH) keys cannot use KEY_HASH-only
    * bucketing — the planner disables the bucketed scan and shuffles the
    * whole store. This form joins on KEY_HASH alone:
    *
    *  1. the store side is first left-semi-joined to the batch's keys, so
    *     only keys the batch carries survive the scan (the bucketed scan
    *     satisfies the semi-join's distribution; only the batch's keys are
    *     exchanged or broadcast);
    *  2. the survivors' record hashes collapse into a per-key set (a
    *     groupBy on KEY_HASH — satisfied BY the bucketing, no Exchange);
    *  3. the batch left-joins the sets on KEY_HASH.
    *
    * The aggregate, and anything AQE broadcasts from it, is bounded by the
    * batch's distinct keys, not by the store; the accumulated store is
    * scanned once and never moves (CdcSpec pins the aggregate's row count).
    * A new row is delta iff its key is absent or its record hash is not in
    * the key's set — exactly [[delta]]'s pair semantics (CdcSpec pins
    * equivalence; the l09_delta oracle checks this form end-to-end).
    * Versions per key are few, so the sets stay tiny. */
  def deltaBucketed(currentData: DataFrame, newData: DataFrame): DataFrame = {
    val sets = currentData.join(newData.select(KeyHash), Seq(KeyHash), "left_semi")
      .groupBy(col(KeyHash))
      .agg(collect_set(col(RecordHash)).as("__cur_rhs"))
    val deltaOrder = deltaOutputOrder(newData)
    newData.join(sets, Seq(KeyHash), "left_outer")
      .filter(col("__cur_rhs").isNull || !array_contains(col("__cur_rhs"), col(RecordHash)))
      .select(deltaOrder.map(col): _*)
  }

  /** j-th Bloom bit position of a row's digest pair: 60-bit md5 prefix
    * mod `bits` (SQL-string form: the pos feeds variable-distance shifts,
    * which the Scala DSL wrappers fix at literal distances). */
  private def bloomPosSql(bits: Int, salt: String)(j: Int): String = {
    // the salt lands inside a SQL string literal: a quote (or backslash)
    // would terminate it early and silently change the hash recipe —
    // refuse rather than escape, so Scala-DSL and SQL forms stay
    // byte-identical on the same salt
    require(!salt.exists(c => c == '\'' || c == '\\'),
      s"bloom salt must not contain quotes or backslashes: $salt")
    s"pmod(CAST(conv(substring(md5(concat(`$KeyHash`, `$RecordHash`, '#$salt#$j')), 1, 15)" +
      s", 16, 10) AS BIGINT), ${bits}L)"
  }

  /** PERSISTABLE Bloom synopsis of a store's (KEY_HASH, RECORD_HASH)
    * pairs: sparse (w, m) word rows — word index, 64-bit mask — built
    * with one map-side-combinable aggregation over the store. This is
    * the store-maintained artifact the incremental-feed regime wants:
    * build it once per store generation (or maintain it on append — the
    * synopsis of a union is the word-wise `bit_or` of the parts'
    * synopses, a spec-pinned merge law), persist it next to the store,
    * and route every incoming batch through [[deltaBloomWith]] without
    * touching the store at all for definite-new rows. At most `bits/64`
    * rows (2^23 bits → 1 MiB), bounded by `bits`, never by the store.
    *
    * The synopsis CARRIES its own `bits` in a sentinel row (w = -1,
    * m = bits): the probe's correctness depends on build and probe
    * agreeing on the modulus, and a caller-supplied mismatch is silent
    * wrong answers otherwise (a synopsis built SMALLER than the probe's
    * `bits` passes every bounds check while store-present rows read as
    * definite-new). The sentinel survives the merge law — bit_or of
    * identical sentinels is the sentinel — and mismatched sentinels are
    * rejected at probe time in both directions. */
  def bloomSynopsis(
      currentData: DataFrame,
      bits: Int = 1 << 23,
      numHashes: Int = 4,
      salt: String = "bloom"): DataFrame = {
    require(bits >= 64 && bits % 64 == 0, "bits must be a positive multiple of 64")
    require(numHashes >= 1, "numHashes must be at least 1")
    val posSql = bloomPosSql(bits, salt) _
    val words = currentData
      .selectExpr(s"explode(array(${(0 until numHashes).map(posSql).mkString(", ")})) AS p")
      .groupBy(expr("CAST(shiftright(p, 6) AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pmod(p, 64) AS INT)))").as("m"))
    words.unionByName(currentData.sparkSession.range(1)
      .select(lit(-1).cast("int").as("w"), lit(bits.toLong).as("m")))
  }

  /** Collect a [[bloomSynopsis]] into the dense word array the probe
    * broadcasts — the bounded-synopsis collect (≤ bits/64 longs).
    * Word-wise OR on the way in, so a synopsis store that accumulated
    * per-append rows (the merge law) collapses correctly. Validates the
    * sentinel bits row against the probe's `bits` — a mismatch in EITHER
    * direction is a hard error, not a silent wrong delta. (A legacy
    * synopsis without the sentinel only gets the one-directional bounds
    * check below; rebuild to upgrade.) */
  private def collectBloomWords(synopsis: DataFrame, bits: Int): Array[Long] = {
    val words = new Array[Long](bits / 64)
    synopsis.select(col("w"), col("m")).collect().foreach { r =>
      val w = r.getInt(0)
      if (w == -1) {
        require(r.getLong(1) == bits.toLong,
          s"synopsis was built with bits=${r.getLong(1)} but probed with bits=$bits — " +
            "the bit derivations disagree; rebuild the synopsis or probe with the build's size")
      } else {
        require(w >= 0 && w < words.length,
          s"synopsis word index $w out of range for bits=$bits — bits mismatch with the build?")
        words(w) |= r.getLong(1)
      }
    }
    words
  }

  /** Map-side Bloom probe: `newData` plus a `__maybe` flag — false means
    * definitely absent from the filtered set. One kernel call per row
    * ([[graft.functions.BloomProbe]]): the word array rides along as a
    * referenced object, never a plan literal (a 2^22-bit filter as an
    * array-literal column cost 7× the whole route — measured note on the
    * expression), and the probe short-circuits at the first clear bit. */
  private def bloomFlag(
      newData: DataFrame,
      words: Array[Long],
      bits: Int,
      numHashes: Int,
      salt: String): DataFrame =
    newData.withColumn("__maybe",
      graft.functions.DedupExpressions.bloomProbeOf(
        col(KeyHash), col(RecordHash), words, bits, numHashes, salt))

  /** [[delta]] with a Bloom-filter pre-route (Bloom, CACM'70) for a
    * small incoming batch against a large standing store whose synopsis
    * ([[bloomSynopsis]]) is already persisted. Building the filter
    * in-query instead pays a full store pass that the plain anti-join
    * doesn't (5.2× slower at sf0.1 on equal-sized sides, BENCH_r10), so
    * snapshot-sized batches use [[delta]]. The store maintains its
    * synopsis (merge law:
    * word-wise `bit_or` across appends), and the per-batch cost is
    *
    *  1. collect the synopsis (≤ bits/64 longs, store-size-independent);
    *  2. probe the batch map-side — definite-new rows are delta by
    *     construction and never touch the store;
    *  3. residually decide the maybe rows with a BROADCAST route: the
    *     store is scanned once, pair columns only, map-side semi-probed
    *     by the broadcast maybe-pairs, and the (batch-bounded) matches
    *     broadcast back into an anti-join — the standing store is never
    *     shuffled, sorted, or exchanged.
    *
    * Output is row-identical to [[delta]] (false positives fall through
    * to the exact residual; spec-pinned). Contract: the maybe side is
    * batch-bounded, so both broadcasts are bounded by the batch — for
    * snapshot-sized `newData` use [[delta]] instead.
    *
    * MEASURED (sf0.1, local[32], min-of-3, 1% batch vs the ~300k-pair
    * staged store): 0.92 s vs 0.51 s for the plain anti-join twin
    * (`l09_delta_batch`) — down from 12.1 s for the in-query-build form
    * this replaces (BENCH_r10). The residual gap is the route's FIXED
    * cost: one synopsis-collect job plus two batch-bounded broadcast
    * builds, ~0.4 s of driver round-trips that do not grow with the
    * store. The plain twin's cost DOES grow with the store (its
    * anti-join exchanges the store's pair projection once the store
    * outgrows the broadcast threshold), while this plan holds ZERO
    * shuffle exchanges at any store size — the store is read once,
    * map-side, under a broadcast semi-join (pinned in PlanAuditSpec).
    * The crossover is a store a few× larger than sf0.1's; at the 100 TB
    * target the comparison is not close. */
  def deltaBloomWith(
      currentData: DataFrame,
      newData: DataFrame,
      synopsis: DataFrame,
      bits: Int = 1 << 23,
      numHashes: Int = 4,
      salt: String = "bloom",
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(bits >= 64 && bits % 64 == 0, "bits must be a positive multiple of 64")
    require(numHashes >= 1, "numHashes must be at least 1")
    val words = collectBloomWords(synopsis, bits)
    // persist the probed batch: three consumers (definite branch, maybe
    // branch, the broadcast pair projection) would otherwise re-run the
    // batch's source pipeline per branch — the batch is small by the
    // regime's contract, so the cache is batch-bounded
    val flagged = scope.persist(bloomFlag(newData, words, bits, numHashes, salt))
    val deltaOrder = deltaOutputOrder(newData)
    val definite = flagged.filter(!col("__maybe"))
      .drop("__maybe").select(deltaOrder.map(col): _*)
    val maybe = flagged.filter(col("__maybe")).drop("__maybe")
    // no distinct(): a semi-join build side tolerates duplicate pairs, and
    // the distinct would be the route's ONLY shuffle — the whole plan
    // stays exchange-free below the broadcasts (pinned in PlanAuditSpec)
    val maybePairs = maybe.select(col(KeyHash), col(RecordHash))
    // `matched` is batch-bounded because (KEY_HASH, RECORD_HASH) is
    // UNIQUE in the historized store by construction — the append path
    // only ever adds pairs the anti-join proved novel — so the semi-join
    // returns at most one store row per maybe pair. A store that
    // violates that contract (hand-built, duplicated pairs) would grow
    // this broadcast with its duplication factor; dedup here would cost
    // the route's only exchange, so the contract is documented instead.
    val matched = currentData.select(col(KeyHash), col(RecordHash))
      .join(broadcast(maybePairs), Seq(KeyHash, RecordHash), "left_semi")
    val viaJoin = maybe.join(broadcast(matched), Seq(KeyHash, RecordHash), "left_anti")
      .select(deltaOrder.map(col): _*)
    definite.unionByName(viaJoin)
  }

  /** Inserts only: KEY_HASH present in `newData` but not in `currentData`
    * (MetaColumnHelpers.py:194-196). */
  def inserts(currentData: DataFrame, newData: DataFrame): DataFrame =
    newData.join(currentData.select(KeyHash), Seq(KeyHash), "left_anti")

  /** Updates only: same KEY_HASH, differing RECORD_HASH
    * (MetaColumnHelpers.py:206-208).
    *
    * Deviation recorded (SURVEY.md §7.4#5): the reference omits the join
    * type, producing a raw inner join that carries *both* sides' columns.
    * The documented intent is "the update rows from new_data", so we project
    * back to the new side. The current side is pruned to its two hash
    * columns before the join — at scale that means the join only moves
    * 32-byte digests, never the wide current rows.
    *
    * Inner-join caveat, faithful to the reference's shape: against a
    * MULTI-VERSION current store (several record hashes per key, the
    * regime [[deltaBucketed]] supports) each matching current version
    * emits the new row once — the reference's pandas inner merge does
    * the same. For one-row-per-update semantics over such a store,
    * dedupe the current side to distinct pairs first (or use [[delta]]
    * minus [[inserts]]).
    */
  def updates(currentData: DataFrame, newData: DataFrame): DataFrame = {
    val cur = currentData.select(col(KeyHash).as("__cur_key"), col(RecordHash).as("__cur_rec"))
    newData
      .join(cur, newData(KeyHash) === cur("__cur_key") && newData(RecordHash) =!= cur("__cur_rec"))
      .drop("__cur_key", "__cur_rec")
  }

  /** SCD1-style CDC merge (SCDHelpers.py:67-73): drop current rows whose key
    * is deleted, drop current rows re-delivered in `newData`, append
    * `newData`. Key equality is on `keyColumns` (the reference passes
    * business keys or KEY_HASH). */
  def mergeCdc(
      currentDf: DataFrame,
      newDf: DataFrame,
      keyColumns: Seq[String],
      deletedDf: Option[DataFrame] = None): DataFrame = {
    val afterDeletes = deletedDf.fold(currentDf) { del =>
      currentDf.join(del.select(keyColumns.map(col): _*), keyColumns, "left_anti")
    }
    afterDeletes
      .join(newDf.select(keyColumns.map(col): _*), keyColumns, "left_anti")
      .unionByName(newDf.select(currentDf.columns.map(col).toSeq: _*))
  }

  /** Deleted keys flagged in-band: KEY_HASHes of rows where `delColName`
    * equals `delColValue` (SCDHelpers.py:233-235). Returns a DataFrame —
    * the reference collects to a driver-side list, which dies at scale;
    * `deletesByColumnList` keeps that behavior for parity. */
  def deletesByColumn(df: DataFrame, delColName: String, delColValue: Any): DataFrame =
    df.filter(col(delColName) === lit(delColValue)).select(KeyHash)

  /** Driver-side list variant, faithful to SCDHelpers.py:233-235. */
  def deletesByColumnList(df: DataFrame, delColName: String, delColValue: Any): Seq[String] =
    deletesByColumn(df, delColName, delColValue).collect().map(_.getString(0)).toSeq

  /** Deleted keys by full-load diff: keys in current absent from the new
    * full snapshot (SCDHelpers.py:246-266). */
  def deletedByFullLoad(currentDf: DataFrame, newDf: DataFrame): DataFrame =
    currentDf.select(KeyHash).join(newDf.select(KeyHash), Seq(KeyHash), "left_anti")

  /** Soft-delete stamping — the third option between "keep the row" and
    * [[mergeCdc]]'s physical removal: keys present in the current store but
    * absent from the new full snapshot get `DELETED` = the run timestamp,
    * and every row is KEPT. The reference declares exactly this hook — a
    * DELETED *timestamp* meta column initialized to NaT
    * (MetaColumnHelpers.py:150) with full-load diff detection
    * (SCDHelpers.py:246-266) — but never stamps it; this completes the
    * design so run-based time travel stays truthful for removals
    * ([[graft.pipeline.Historization.asOfRun]] reads the stamp).
    *
    * Re-delivered keys are NOT un-stamped: a stamp is an audit fact about
    * the run that observed the disappearance; resurrection arrives as a
    * fresh row version with a null DELETED, so travel sees both epochs
    * correctly. Already-stamped rows keep their original stamp (first
    * observation wins), which keeps the operator idempotent under re-runs.
    *
    * Scale shape: the diff is a hash-only anti-join (32-byte digests), the
    * stamp itself a broadcast-friendly left join on KEY_HASH followed by a
    * per-row conditional — the store payload moves once, map-side when the
    * vanished-key set is small (AQE broadcasts it).
    */
  def stampDeleted(currentDf: DataFrame, newDf: DataFrame, currents: graft.meta.Currents): DataFrame = {
    val gone = deletedByFullLoad(currentDf, newDf)
      .distinct()
      .withColumn("__gone", lit(true))
    currentDf.join(gone, Seq(KeyHash), "left")
      .withColumn(Deleted,
        when(col("__gone") && col(Deleted).isNull,
          lit(currents.runTs).cast(org.apache.spark.sql.types.TimestampType))
          .otherwise(col(Deleted)))
      .drop("__gone")
      .select(currentDf.columns.map(col).toSeq: _*)
  }

  /** Driver-side list variant, faithful to SCDHelpers.py:264-265. */
  def deletedByFullLoadList(currentDf: DataFrame, newDf: DataFrame): Seq[String] =
    deletedByFullLoad(currentDf, newDf).collect().map(_.getString(0)).toSeq

  /** Symmetric store diff — the ops-facing "what changed between these
    * two snapshots" report that [[delta]]/[[deletedByFullLoad]] answer
    * only half of each: one FULL OUTER join on the key columns, rows
    * classified `added` (in b only), `removed` (in a only), `changed`
    * (both sides, differing record digest over `compareCols`). Unchanged
    * rows are dropped by default (at 100 TB they are ~all rows; the
    * report should be delta-sized) — pass `keepUnchanged = true` for the
    * audit variant.
    *
    * Scale shape: both sides reduce to (key cols, 32-byte digest) BEFORE
    * the join — payloads never shuffle; the join is the one exchange.
    * The digest is the library's md5 record hash
    * ([[graft.functions.HashColumns.hashExpr]]), so the report composes
    * with stores that already carry RECORD_HASH.
    *
    * @return key columns + (diff_status, record_hash_a, record_hash_b)
    */
  def storeDiff(
      a: DataFrame,
      b: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      keepUnchanged: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val ha = graft.functions.HashColumns.hashExpr(compareCols.map(col))
    def side(df: DataFrame, out: String) =
      df.select((keyCols.map(col) :+ ha.as(out)): _*)
        // one digest per key: a multi-version side would explode the
        // outer join; last-writer ambiguity is the caller's to resolve
        .groupBy(keyCols.map(col): _*)
        .agg(max(col(out)).as(out))
    // NULL-SAFE key equality: a using-join never matches null keys, so a
    // row with a null key column would misreport as added AND removed on
    // every diff even when both sides are identical — inflating a publish
    // gate's counts. groupBy above already treats null as a real group;
    // the join must agree.
    val right = side(b, "record_hash_b")
      .select((keyCols.map(c => col(c).as(s"__r_$c")) :+ col("record_hash_b")): _*)
    val joined = side(a, "record_hash_a")
      .join(right, keyCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _),
        "full_outer")
      .select((keyCols.map(c => coalesce(col(c), col(s"__r_$c")).as(c)) :+
        col("record_hash_a") :+ col("record_hash_b")): _*)
      .withColumn("diff_status",
        when(col("record_hash_a").isNull, lit("added"))
          .when(col("record_hash_b").isNull, lit("removed"))
          .when(col("record_hash_a") =!= col("record_hash_b"), lit("changed"))
          .otherwise(lit("unchanged")))
    (if (keepUnchanged) joined else joined.filter(col("diff_status") =!= "unchanged"))
      .select((keyCols.map(col) :+ col("diff_status")
        :+ col("record_hash_a") :+ col("record_hash_b")): _*)
  }

  /** One-row roll-up of [[storeDiff]]: the counts a publish gate reads. */
  def storeDiffSummary(
      a: DataFrame,
      b: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame =
    storeDiff(a, b, keyCols, compareCols, keepUnchanged = true)
      .agg(
        sum(when(col("diff_status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("diff_status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("diff_status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("diff_status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
}
