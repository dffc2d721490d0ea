package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.meta.{Currents, MetaColumns}
import graft.operators.{MetaEnrichment, Scd2, Scd2Tier}
import graft.operators.Scd2.ValidFromMode
import graft.sources.Store

class Scd2Spec extends SparkSpec {
  import spark.implicits._
  import MetaColumns._

  private val keys = Seq("k")
  private val c1 = Currents("2024-01-01 10:00:00")
  private val c2 = Currents("2024-02-15 10:00:00")
  private val c3 = Currents("2024-03-20 10:00:00")

  private def snapshot(rows: Seq[(String, String)], c: Currents): DataFrame =
    MetaEnrichment.addMetaColumns(rows.toDF("k", "v"), c, keys)

  private def sortedRows(df: DataFrame) =
    df.select(df.columns.sorted.map(col).toSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq

  private def assertSameResult(a: DataFrame, b: DataFrame): Unit =
    assert(sortedRows(a) === sortedRows(b))

  /** Run stamps at 09:00 on `day` days after 2024-01-01. */
  private def cur(day: Int) = Currents(java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
    .atTime(9, 0).format(java.time.format.DateTimeFormatter.ofPattern(TsFormat)))

  test("bootstrap merge opens every key; LowerBound mode uses 1900-01-01") {
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2"), c1)
    val merged = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LowerBound)
    assert(merged.count() === 2)
    assert(merged.filter(col(ValidFrom) === to_date(lit("1900-01-01"))).count() === 2)
    assert(merged.filter(col(ValidTo) === to_date(lit("9999-12-31"))).count() === 2)
  }

  test("change closes old version the day before and opens successor at run day") {
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LoadDate)
    val s2 = snapshot(Seq("a" -> "1", "b" -> "9", "c" -> "3"), c2)
    val v2 = Scd2.historizeDataset(s2, Some(v1), c2, ValidFromMode.LoadDate)

    assert(v2.count() === 4) // a active, b closed + b', c new
    val bRows = v2.filter($"k" === "b")
      .select(col("v"), col(ValidFrom).cast("string"), col(ValidTo).cast("string"))
      .as[(String, String, String)].collect().sortBy(_._2).toSeq
    assert(bRows === Seq(
      ("2", "2024-01-01", "2024-02-14"),
      ("9", "2024-02-15", "9999-12-31")))
    // closed row carries the update stamps of run 2
    val closedB = v2.filter($"k" === "b" && col(ValidTo) =!= to_date(lit("9999-12-31")))
    assert(closedB.select(UpdateRunId).as[String].head() === c2.runId)
    assert(closedB.select(InsertRunId).as[String].head() === c1.runId)
  }

  test("idempotence: re-merging the same snapshot adds no versions") {
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LoadDate)
    val s1again = snapshot(Seq("a" -> "1", "b" -> "2"), c2)
    val v2 = Scd2.historizeDataset(s1again, Some(v1), c2, ValidFromMode.LoadDate)
    assertSameResult(v1, v2)
  }

  test("faithful five-branch and single-shuffle fast variant agree over 3 runs") {
    val runs = Seq(
      (Seq("a" -> "1", "b" -> "2", "c" -> "3"), c1),
      (Seq("a" -> "1", "b" -> "X", "d" -> "4"), c2), // b changed, c vanished, d new
      (Seq("a" -> "Z", "b" -> "X", "c" -> "3"), c3)) // a changed, c returns, d vanished

    def drive(fast: Boolean): DataFrame =
      runs.foldLeft(Option.empty[DataFrame]) { case (cur, (rows, cts)) =>
        Some(Scd2.historizeDataset(snapshot(rows, cts), cur, cts, ValidFromMode.LoadDate, fast))
      }.get

    val slow = drive(false)
    val fast = drive(true)
    assertSameResult(slow, fast)

    // SCD2 invariants: per key at most one active row; intervals ordered
    val perKeyActive = fast.filter(col(ValidTo) === to_date(lit("9999-12-31")))
      .groupBy("k").count().select("count").as[Long].collect()
    assert(perKeyActive.forall(_ === 1L))

    // seeded multi-run sequences over an 8-key universe, with the faithful
    // form as the oracle at every step: random changes, vanished keys
    // (which stay open — the plain merge detects no deletes), returning
    // keys, and closed-only keys (an active row closed out between runs,
    // so the key survives only as closed history)
    val rnd = new scala.util.Random(20261018L)
    val universe = ('a' to 'h').map(_.toString)
    def snapAt(day: Int) = {
      val rows = universe.flatMap(k =>
        if (rnd.nextInt(4) < 3) Some(k -> rnd.nextInt(3).toString) else None)
      snapshot(if (rows.isEmpty) Seq("a" -> "0") else rows, cur(day))
    }
    for (trial <- 1 to 3) {
      val day0 = 100 * trial
      (1 to 5).foldLeft(Scd2.historizeDataset(snapAt(day0), None, cur(day0),
          ValidFromMode.LoadDate)) { (store, i) =>
        val day = day0 + 10 * i
        val closeOut = universe.filter(_ => rnd.nextInt(5) == 0)
        val before = if (closeOut.isEmpty) store else Scd2.closeDeleted(store,
          store.filter(col("k").isin(closeOut: _*)).select(KeyHash), cur(day - 5))
        val snap = snapAt(day)
        val faithful = Scd2.mergeScd2(before, snap, cur(day), ValidFromMode.LoadDate)
          .localCheckpoint()
        assertSameResult(Scd2.mergeScd2Fast(before, snap, cur(day), ValidFromMode.LoadDate),
          faithful)
        faithful
      }
    }
  }

  test("vanished keys stay active (no delete detection inside merge)") {
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LoadDate)
    val s2 = snapshot(Seq("a" -> "1"), c2)
    val v2 = Scd2.historizeDataset(s2, Some(v1), c2, ValidFromMode.LoadDate)
    assert(v2.filter($"k" === "b" && col(ValidTo) === to_date(lit("9999-12-31"))).count() === 1)
  }

  test("delete closure: vanished keys close, re-feed converges, intervals stay disjoint") {
    // three-run history: b changed (so it has closed history), then run-3
    // full load loses b and c — their active rows must close at runDay − 1
    val v1 = Scd2.historizeDataset(
      snapshot(Seq("a" -> "1", "b" -> "2", "c" -> "3"), c1), None, c1, ValidFromMode.LoadDate)
    val v2 = Scd2.historizeDataset(
      snapshot(Seq("a" -> "1", "b" -> "X", "c" -> "3"), c2), Some(v1), c2, ValidFromMode.LoadDate)
    val s3 = snapshot(Seq("a" -> "1"), c3)
    val closed = Scd2.closeVanished(v2, s3, c3)

    // closed keys have NO active row; the surviving key is untouched
    val active = closed.filter(col(ValidTo) === to_date(lit("9999-12-31")))
    assert(active.select("k").as[String].collect().toSeq === Seq("a"))
    // the closure stamps exactly like a change close-out, plus DELETED
    val bClosed = closed.filter($"k" === "b" && col("v") === "X")
    assert(bClosed.select(col(ValidTo).cast("string")).as[String].head() === "2024-03-19")
    assert(bClosed.select(UpdateRunId).as[String].head() === c3.runId)
    assert(bClosed.select(col(Deleted).cast("string")).as[String].head() === c3.runTs)
    // b's EARLIER closed row is bit-identical (no restamp, no re-close)
    val bHist = closed.filter($"k" === "b" && col("v") === "2")
    assert(bHist.select(col(ValidTo).cast("string")).as[String].head() === "2024-02-14")
    assert(bHist.select(Deleted).collect().head.isNullAt(0))
    // intervals per key stay pairwise disjoint after the closure
    val overlaps = closed.alias("x").join(closed.alias("y"),
      col("x.k") === col("y.k") && col("x." + ValidFrom) < col("y." + ValidFrom) &&
        col("y." + ValidFrom) <= col("x." + ValidTo))
    assert(overlaps.count() === 0)
    // convergence: re-feeding the same load (or the same key list) is a no-op
    assertSameResult(closed, Scd2.closeVanished(closed, s3, c3))
    assertSameResult(closed,
      Scd2.closeDeleted(closed, v2.filter($"k" =!= "a").select(KeyHash), c3))
    // row count preserved: closure never adds or drops rows
    assert(closed.count() === v2.count())
  }

  test("reopen: a delete-closed key re-delivered later opens a fresh interval, gap preserved") {
    val v1 = Scd2.historizeDataset(
      snapshot(Seq("a" -> "1", "b" -> "2"), c1), None, c1, ValidFromMode.LoadDate)
    val closed = Scd2.closeDeleted(v1,
      v1.filter($"k" === "b").select(KeyHash), c2).persist()
    // the plain merge drops the resurrected key (reference semantics)
    val s3 = snapshot(Seq("a" -> "1", "b" -> "7"), c3)
    assert(Scd2.mergeScd2Fast(closed, s3, c3, ValidFromMode.LoadDate)
      .filter($"k" === "b" && col(ValidTo) === to_date(lit("9999-12-31"))).count() === 0)
    val reopened = Scd2.mergeScd2Reopen(closed, s3, c3, ValidFromMode.LoadDate)
    // b: the closed interval stands (DELETED stamp intact), a fresh one opens at run day
    val bRows = reopened.filter($"k" === "b")
      .select(col("v"), col(ValidFrom).cast("string"), col(ValidTo).cast("string"))
      .as[(String, String, String)].collect().sortBy(_._2).toSeq
    assert(bRows === Seq(
      ("2", "2024-01-01", "2024-02-14"),
      ("7", "2024-03-20", "9999-12-31")))
    assert(reopened.filter($"k" === "b" && col(Deleted).isNotNull).count() === 1)
    // the deleted epoch is a GAP: no b version covers a day inside it
    assert(Scd2.asOf(reopened, "2024-03-01").filter($"k" === "b").count() === 0)
    assert(Scd2.asOf(reopened, "2024-03-20").filter($"k" === "b").count() === 1)
    // idempotent: the key is active again, so re-feeding routes through
    // the unchanged branch and the closed-only set is empty
    assertSameResult(reopened,
      Scd2.mergeScd2Reopen(reopened.persist(), s3, c3, ValidFromMode.LoadDate))
    // with no closed-only key in the snapshot, reopen ≡ the plain fast merge
    val sA = snapshot(Seq("a" -> "9"), c3)
    assertSameResult(
      Scd2.mergeScd2Reopen(v1, sA, c3, ValidFromMode.LoadDate),
      Scd2.mergeScd2Fast(v1, sA, c3, ValidFromMode.LoadDate))
    // the store-maintenance composition: merge the snapshot, then the
    // reopen pass — equals the one-run merge+reopen form
    assertSameResult(reopened,
      Scd2.reopenClosed(
        Scd2.mergeScd2Fast(closed, s3, c3, ValidFromMode.LoadDate).persist(), s3, c3))
    // reopenClosed touches nothing in the store: minus the delta it IS the store
    val viaPass = Scd2.reopenClosed(closed, s3, c3)
    assert(viaPass.count() === closed.count() + 1)
    assertSameResult(viaPass.filter(col(ValidFrom) =!= to_date(lit("2024-03-20"))
      || $"k" =!= "b"), closed)
  }

  test("splitMergedDataset separates closed history from active rows") {
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LoadDate)
    val s2 = snapshot(Seq("a" -> "2", "b" -> "2"), c2)
    val v2 = Scd2.historizeDataset(s2, Some(v1), c2, ValidFromMode.LoadDate)
    val (hist, active) = Scd2.splitMergedDataset(v2)
    assert(hist.count() === 1)
    assert(active.count() === 2)
    assert(hist.select("k").as[String].head() === "a")
  }

  test("splitMergedDataset is total: null VALID_TO routes to active, counts preserved") {
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LoadDate)
    val s2 = snapshot(Seq("a" -> "2", "b" -> "2"), c2)
    val v2 = Scd2.historizeDataset(s2, Some(v1), c2, ValidFromMode.LoadDate)
    // raw input convention: a null VALID_TO marks the open/current row
    val withNull = v2.unionByName(
      snapshot(Seq("z" -> "9"), c1)
        .withColumn(ValidFrom, to_date(lit("2024-01-01")))
        .withColumn(ValidTo, lit(null).cast("date")))
    val (hist, active) = Scd2.splitMergedDataset(withNull)
    assert(hist.count() + active.count() === withNull.count())
    assert(active.filter($"k" === "z").count() === 1)
    assert(hist.filter(col(ValidTo).isNull).count() === 0)
  }

  test("asOf reconstructs the table on any day; one version per key; bounds inclusive") {
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LoadDate)
    val s2 = snapshot(Seq("a" -> "1", "b" -> "9", "c" -> "3"), c2)
    val v2 = Scd2.historizeDataset(s2, Some(v1), c2, ValidFromMode.LoadDate)

    def state(day: String): Map[String, String] =
      Scd2.asOf(v2, day).select("k", "v").as[(String, String)].collect().toMap
    // mid-history: run 1's world (b still "2", c absent)
    assert(state("2024-02-01") === Map("a" -> "1", "b" -> "2"))
    // boundary: the closed row's VALID_TO (2024-02-14) is inclusive
    assert(state("2024-02-14") === Map("a" -> "1", "b" -> "2"))
    // run-2 day onward: successor visible, new key arrived
    assert(state("2024-02-15") === Map("a" -> "1", "b" -> "9", "c" -> "3"))
    // before history began: empty
    assert(state("2023-12-31") === Map.empty)
    // the SCD2 invariant: at most one version per key on EVERY day
    for (day <- Seq("2024-01-01", "2024-02-01", "2024-02-14", "2024-02-15", "2024-06-01")) {
      val dups = Scd2.asOf(v2, day).groupBy(KeyHash)
        .agg(count(lit(1)).as("n")).filter($"n" > 1).count()
      assert(dups === 0, s"multiple versions valid on $day")
    }
    // null VALID_TO on raw input reads as the open bound (active row)
    val raw = Seq(("x", "7", java.sql.Date.valueOf("2024-01-01"), null: java.sql.Date))
      .toDF("k", "v", ValidFrom, ValidTo)
    assert(Scd2.asOf(raw, "2024-05-05").count() === 1)
  }

  test("custom valid-from mode stamps the supplied date on new keys") {
    val s1 = snapshot(Seq("a" -> "1"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.Custom("2020-06-01"))
    assert(v1.select(col(ValidFrom).cast("string")).as[String].head() === "2020-06-01")
  }

  test("D2: emptyFromSchema builds an empty frame from an explicit schema") {
    val schema = snapshot(Seq("a" -> "1"), c1).schema
    val empty = Scd2.emptyFromSchema(spark, schema)
    assert(empty.count() === 0)
    assert(empty.schema === schema)
  }

  test("keys existing only as closed rows are NOT re-inserted (fast = faithful)") {
    val s1 = snapshot(Seq("a" -> "1"), c1)
    val v1 = Scd2.historizeDataset(s1, None, c1, ValidFromMode.LoadDate)
    // a store where key 'a' survives only closed (e.g. a manually closed-out
    // row): the faithful new_only branch anti-joins the FULL store, so an
    // incoming 'a' must be dropped, not re-opened
    val closedOnly = v1.withColumn(ValidTo, to_date(lit("2024-02-01")))
    val s2 = snapshot(Seq("a" -> "2"), c2)
    val slow = Scd2.historizeDataset(s2, Some(closedOnly), c2, ValidFromMode.LoadDate, fast = false)
    val fast = Scd2.historizeDataset(s2, Some(closedOnly), c2, ValidFromMode.LoadDate, fast = true)
    assertSameResult(slow, fast)
    assert(fast.count() === 1)
    assert(fast.filter(col(ValidTo) === to_date(lit("9999-12-31"))).count() === 0)
  }

  /** The sequential lifecycle composition the fused merge replaces. */
  private def lifecycleRef(cur: DataFrame, snap: DataFrame, c: Currents): DataFrame =
    Scd2.closeVanished(Scd2.mergeScd2Reopen(cur, snap, c, ValidFromMode.LoadDate), snap, c)

  /** One lifecycle run applied three ways — the sequential reference on
    * the flat store, the fused merge on the same flat store, and the tier
    * form at `base` — asserting all three agree; returns the new flat
    * store (lineage truncated, so long sequences do not re-plan history). */
  private def lifecycleStep(flat: DataFrame, snap: DataFrame, c: Currents, base: String)
      : DataFrame = {
    val ref = lifecycleRef(flat, snap, c).localCheckpoint()
    assertSameResult(Scd2.mergeScd2FastClosing(flat, snap, c, ValidFromMode.LoadDate), ref)
    Scd2Tier.historizeTiered(spark, snap, s"$base/active", s"$base/history", c,
      ValidFromMode.LoadDate)
    assertSameResult(Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get, ref)
    ref
  }

  test("fused lifecycle merge: first DELETED wins, vanish-and-return, duplicated reopen key") {
    val base = Files.createTempDirectory("graft-fused").toString
    val (ap, hp) = (s"$base/active", s"$base/history")
    val m = ValidFromMode.LoadDate
    val c4 = Currents("2024-04-10 10:00:00")
    val s1 = snapshot(Seq("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4"), c1)
    Scd2Tier.historizeTiered(spark, s1, ap, hp, c1, m)
    // an in-band soft delete observed c while its row stays open (the
    // Cdc.stampDeleted convention) — on both stores alike
    val softTs = "2024-02-01 08:00:00"
    def softDelete(df: DataFrame) = df.withColumn(Deleted,
      when($"k" === "c", lit(softTs).cast("timestamp")).otherwise(col(Deleted)))
    Store.writeStoreSwap(softDelete(spark.read.parquet(ap)), ap, Nil)
    val v1 = softDelete(Scd2.historizeDataset(s1, None, c1, m)).localCheckpoint()

    // run 2, the first merge with no archive yet: no guard join and no
    // placeholder frame — the plan joins exactly the two inputs once
    val s2 = snapshot(Seq("a" -> "1", "b" -> "9", "c" -> "3"), c2)
    assert(Scd2Tier.historyKeys(spark, hp).isEmpty)
    val first = Scd2.fusedMerge(spark.read.parquet(ap), s2,
      Scd2Tier.historyKeys(spark, hp), c2, m, closeAndReopen = true).queryExecution.analyzed
    assert(first.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      .size === 1)
    assert(first.collectLeaves().size === 2)
    // b changes, d vanishes
    val v2 = lifecycleStep(v1, s2, c2, base)
    // run 3: c vanishes (its earlier soft-delete stamp must survive the
    // closure), d returns — delivered twice, both rows reopen
    val s3 = snapshot(Seq("a" -> "1", "b" -> "9", "d" -> "5", "d" -> "5"), c3)
    val v3 = lifecycleStep(v2, s3, c3, base)
    // run 4: c returns with a new value; the twice-reopened d is unchanged
    val v4 = lifecycleStep(v3, snapshot(Seq("a" -> "1", "b" -> "9", "c" -> "7", "d" -> "5"), c4),
      c4, base)

    def rowsOf(k: String) = v4.filter($"k" === k)
      .select(col("v"), col(ValidFrom).cast("string"), col(ValidTo).cast("string"),
        col(Deleted).cast("string"))
      .as[(String, String, String, String)].collect().sortBy(r => (r._2, r._1)).toSeq
    assert(rowsOf("c") === Seq(
      ("3", "2024-01-01", "2024-03-19", softTs),   // first observation wins
      ("7", "2024-04-10", "9999-12-31", null)))    // resurrected at the run day
    assert(rowsOf("d") === Seq(
      ("4", "2024-01-01", "2024-02-14", c2.runTs),
      ("5", "2024-03-20", "9999-12-31", null),
      ("5", "2024-03-20", "9999-12-31", null)))
    // the deleted epochs are as-of gaps
    assert(Scd2.asOf(v4, "2024-03-01").filter($"k" === "d").count() === 0)
    assert(Scd2.asOf(v4, "2024-04-01").filter($"k" === "c").count() === 0)
  }

  test("fused lifecycle merge equals closeVanished ∘ mergeScd2Reopen over seeded sequences") {
    // random change/vanish/return interleavings over a 6-key universe;
    // every step compares the fused flat form and the tier form with the
    // sequential composition applied to the same store
    val rnd = new scala.util.Random(20261017L)
    val universe = ('a' to 'f').map(_.toString)
    (1 to 2).foreach { trial =>
      val base = Files.createTempDirectory(s"graft-fused-prop$trial").toString
      def snapAt(day: Int) = {
        val rows = universe.flatMap(k =>
          if (rnd.nextInt(3) < 2) Some(k -> rnd.nextInt(3).toString) else None)
        snapshot(if (rows.isEmpty) Seq("a" -> "0") else rows, cur(day))
      }
      val c0 = cur(10 * trial)
      val s0 = snapAt(10 * trial)
      Scd2Tier.historizeTiered(spark, s0, s"$base/active", s"$base/history", c0,
        ValidFromMode.LoadDate)
      (1 until 5).foldLeft(Scd2.historizeDataset(s0, None, c0, ValidFromMode.LoadDate)) {
        (flat, i) =>
          val day = 10 * trial + i
          lifecycleStep(flat, snapAt(day), cur(day), base)
      }
    }
  }

  private def snapshotR(rows: Seq[(String, String)], c: Currents): DataFrame =
    MetaEnrichment.addMetaColumns(rows.toDF("k2", "w"), c, Seq("k2"))

  test("temporalJoin: self-join is the diagonal — a key's versions never overlap each other") {
    val v1 = Scd2.historizeDataset(snapshot(Seq("a" -> "1", "b" -> "2"), c1), None, c1, ValidFromMode.LoadDate)
    val v2 = Scd2.historizeDataset(snapshot(Seq("a" -> "1", "b" -> "9"), c2), Some(v1), c2, ValidFromMode.LoadDate)
    val j = Scd2.temporalJoin(v2, v2, Seq("k" -> "k"))
    assert(j.count() === v2.count())
    // every surviving pair is a version with itself: the close-at-day-
    // before / open-at-run-day convention leaves no self-overlap
    assert(j.filter(col(RecordHash) =!= col(RecordHash + "_R")).count() === 0)
  }

  test("temporalJoin: windows split at either side's boundaries; asOf commutes with the join") {
    // left versions key b at Feb 15; right (keyed k2) versions b at Mar 20
    val l1 = Scd2.historizeDataset(snapshot(Seq("a" -> "1", "b" -> "2"), c1), None, c1, ValidFromMode.LoadDate)
    val l2 = Scd2.historizeDataset(snapshot(Seq("a" -> "1", "b" -> "9"), c2), Some(l1), c2, ValidFromMode.LoadDate)
    val r1 = Scd2.historizeDataset(snapshotR(Seq("a" -> "x", "b" -> "y"), c1), None, c1, ValidFromMode.LoadDate)
    val r2 = Scd2.historizeDataset(snapshotR(Seq("a" -> "x", "b" -> "z"), c3), Some(r1), c3, ValidFromMode.LoadDate)
    val j = Scd2.temporalJoin(l2, r2, Seq("k" -> "k2"))
    // right key and both validity originals are consumed; unsuffixed
    // payloads from both sides survive
    assert(!j.columns.contains("k2") && j.columns.contains("v") && j.columns.contains("w"))
    // b: [jan1,feb14],[feb15,∞) × [jan1,mar19],[mar20,∞) → three slices
    // (the cross-epoch pair [jan1,feb14]×[mar20,∞) is rejected)
    val bwins = j.filter($"k" === "b")
      .select(col(ValidFrom).cast("string"), col(ValidTo).cast("string"))
      .as[(String, String)].collect().toSet
    assert(bwins === Set(
      ("2024-01-01", "2024-02-14"),
      ("2024-02-15", "2024-03-19"),
      ("2024-03-20", "9999-12-31")))
    assert(j.count() === 4) // a: one full-window row; b: the three slices
    for (day <- Seq("2024-01-31", "2024-02-20", "2024-03-25")) {
      val viaJoin = Scd2.asOf(j, day).select("k", "v", "w")
      val direct = Scd2.asOf(l2, day).select("k", "v")
        .join(Scd2.asOf(r2, day).select(col("k2"), col("w")), col("k") === col("k2"))
        .select("k", "v", "w")
      assertSameResult(viaJoin, direct)
    }
  }
}
