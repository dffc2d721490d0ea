package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.meta.{Currents, MetaColumns}
import graft.operators.{MetaEnrichment, Scd2, Scd2Tier}
import graft.sources.Store

class Scd2TierSpec extends SparkSpec {
  import spark.implicits._
  import MetaColumns._

  private val fmt =
    java.time.format.DateTimeFormatter.ofPattern(MetaColumns.TsFormat)
  private def tsOf(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).atTime(9, 0).format(fmt)
  private val mode = Scd2.ValidFromMode.LoadDate

  private def enriched(rows: Seq[(String, String)], cur: Currents) =
    MetaEnrichment.addMetaColumns(rows.toDF("k", "v"), cur, Seq("k"))

  // the 4-run lifecycle: bootstrap, change, vanish (delete-closure), return
  private val snapA = Seq(("a", "1"), ("b", "2"), ("c", "3"))
  private val snapB = Seq(("a", "9"), ("b", "2"), ("c", "3")) // a changes
  private val snapC = Seq(("a", "9"), ("b", "2"))             // c vanishes
  private val snapD = Seq(("a", "9"), ("b", "2"), ("c", "4")) // c returns

  private def runAll(base: String): Unit =
    Seq(snapA, snapB, snapC, snapD).zipWithIndex.foreach { case (snap, i) =>
      val cur = Currents(tsOf(i))
      Scd2Tier.historizeTiered(spark, enriched(snap, cur),
        s"$base/active", s"$base/history", cur, mode)
    }

  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("tiered lifecycle equals the flat merge + closure + reopen composition") {
    val base = Files.createTempDirectory("graft-tier").toString
    runAll(base)
    // flat twin with identical run contexts
    val curs = (0 to 3).map(i => Currents(tsOf(i)))
    var flat = Scd2.historizeDataset(enriched(snapA, curs(0)), None, curs(0), mode)
    Seq(snapB, snapC, snapD).zip(curs.drop(1)).foreach { case (snap, cur) =>
      val e = enriched(snap, cur)
      flat = Scd2.closeVanished(Scd2.mergeScd2Reopen(flat, e, cur, mode), e, cur)
    }
    val tiered = Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get
    assert(rowSet(tiered) === rowSet(flat))
    // the split really is active-only vs closed-only
    val active = spark.read.parquet(s"$base/active")
    assert(active.filter(col(ValidTo) =!= to_date(lit("9999-12-31"))).count() === 0)
    val hist = spark.read.parquet(s"$base/history")
    assert(hist.filter(col(ValidTo) === to_date(lit("9999-12-31"))).count() === 0)
    // and the as-of read sees through the tiering, gap included
    assert(Scd2Tier.asOfTiered(spark, s"$base/active", s"$base/history", "2024-01-03")
      .get.filter($"k" === "c").count() === 0) // c's deleted epoch
    assert(Scd2Tier.asOfTiered(spark, s"$base/active", s"$base/history", "2024-01-01")
      .get.filter($"k" === "a" && $"v" === "1").count() === 1)
  }

  test("the archive is append-only: committed run partitions never change") {
    val base = Files.createTempDirectory("graft-tier-append").toString
    val cur0 = Currents(tsOf(0)); val cur1 = Currents(tsOf(1))
    Scd2Tier.historizeTiered(spark, enriched(snapA, cur0),
      s"$base/active", s"$base/history", cur0, mode)
    Scd2Tier.historizeTiered(spark, enriched(snapB, cur1),
      s"$base/active", s"$base/history", cur1, mode)
    def filesOf(run: String) = {
      val d = new java.io.File(s"$base/history/run=$run")
      if (!d.exists()) Set.empty[(String, Long)]
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val run1Files = filesOf(cur1.runId)
    assert(run1Files.nonEmpty, "run 2 closed a's old version")
    // two more runs (closure + resurrection) must not touch run 2's files
    val cur2 = Currents(tsOf(2)); val cur3 = Currents(tsOf(3))
    Scd2Tier.historizeTiered(spark, enriched(snapC, cur2),
      s"$base/active", s"$base/history", cur2, mode)
    Scd2Tier.historizeTiered(spark, enriched(snapD, cur3),
      s"$base/active", s"$base/history", cur3, mode)
    assert(filesOf(cur1.runId) === run1Files,
      "committed archive partitions must be immutable")
    assert(filesOf(cur2.runId).nonEmpty, "run 3's closure landed in its own partition")
  }

  test("replay of a completed run is a fixpoint, history partition preserved") {
    val base = Files.createTempDirectory("graft-tier-replay").toString
    val cur0 = Currents(tsOf(0)); val cur1 = Currents(tsOf(1))
    Scd2Tier.historizeTiered(spark, enriched(snapA, cur0),
      s"$base/active", s"$base/history", cur0, mode)
    Scd2Tier.historizeTiered(spark, enriched(snapC, cur1),
      s"$base/active", s"$base/history", cur1, mode) // b stays, c closes
    val once = rowSet(Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get)
    // post-swap replay: the closed set recomputes EMPTY — the guard must
    // leave run 1's committed partition in place, not overwrite it away
    Scd2Tier.historizeTiered(spark, enriched(snapC, cur1),
      s"$base/active", s"$base/history", cur1, mode)
    val twice = rowSet(Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get)
    assert(twice === once)
  }

  test("archive compaction consolidates old runs, preserves content and as-of reads") {
    val base = Files.createTempDirectory("graft-tier-compact").toString
    runAll(base) // runs 1-4: archive holds run partitions for runs 2 and 3
    // run 5 changes b, closing its old version into a third partition
    val cur4 = Currents(tsOf(4))
    Scd2Tier.historizeTiered(spark,
      enriched(Seq(("a", "9"), ("b", "7"), ("c", "4")), cur4),
      s"$base/active", s"$base/history", cur4, mode)
    val before = rowSet(Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get)
    val asofBefore = rowSet(
      Scd2Tier.asOfTiered(spark, s"$base/active", s"$base/history", "2024-01-02").get)
    def runDirs = new java.io.File(s"$base/history").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("run=")).sorted
    assert(runDirs.length === 3)
    Scd2Tier.compactHistory(spark, s"$base/history", keepRuns = 2)
    assert(runDirs.length === 2,
      "old runs fold into the oldest KEPT partition; the newest stays as-is")
    assert(rowSet(Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get)
      === before, "compaction must be content-preserving")
    assert(rowSet(Scd2Tier.asOfTiered(spark, s"$base/active", s"$base/history",
      "2024-01-02").get) === asofBefore)
    // idempotent: a second pass changes nothing
    Scd2Tier.compactHistory(spark, s"$base/history", keepRuns = 2)
    assert(rowSet(Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get)
      === before)
    // keepRuns larger than the partition count: no-op
    Scd2Tier.compactHistory(spark, s"$base/history", keepRuns = 8)
    assert(runDirs.length === 2)
    // keepRuns = 1 would let a crash-replay's partition overwrite destroy
    // the folded archive — refused outright
    intercept[IllegalArgumentException] {
      Scd2Tier.compactHistory(spark, s"$base/history", keepRuns = 1)
    }
  }

  test("tiered equals flat over randomized snapshot sequences (seeded)") {
    // the hand-built 4-run case exercises each lifecycle branch once;
    // this drives RANDOM interleavings of change/vanish/return across a
    // 6-key universe — the orderings that tend to break incremental
    // stores (vanish-then-change-then-vanish, same-run change+return of
    // different keys, multi-epoch resurrection)
    val rnd = new scala.util.Random(20260814L)
    val keysUniverse = ('a' to 'f').map(_.toString)
    (1 to 3).foreach { trial =>
      val base = Files.createTempDirectory(s"graft-tier-prop$trial").toString
      var flat: Option[org.apache.spark.sql.DataFrame] = None
      (0 until 5).foreach { runIdx =>
        val cur = Currents(tsOf(runIdx + 10 * trial))
        // every key present with probability 2/3; value changes freely
        val rows = keysUniverse.flatMap(k =>
          if (rnd.nextInt(3) < 2) Some(k -> rnd.nextInt(3).toString) else None)
        // run 0 must be non-empty for a meaningful bootstrap
        val snap = if (rows.isEmpty) Seq("a" -> "0") else rows
        val e = enriched(snap, cur)
        Scd2Tier.historizeTiered(spark, e,
          s"$base/active", s"$base/history", cur, mode)
        // localCheckpoint truncates the flat chain's lineage each round —
        // five stacked merges of un-truncated plans re-analyze the whole
        // history per action and turn this spec into minutes of planning
        flat = Some((flat match {
          case None => Scd2.historizeDataset(e, None, cur, mode)
          case Some(f) =>
            Scd2.closeVanished(Scd2.mergeScd2Reopen(f, e, cur, mode), e, cur)
        }).localCheckpoint())
      }
      val tiered = Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get
      assert(rowSet(tiered) === rowSet(flat.get), s"trial $trial diverged")
    }
  }

  test("a corrupt archive fails the tiered read instead of reading as absent") {
    val base = Files.createTempDirectory("graft-tier-corrupt").toString
    runAll(base)
    val archived = Files.walk(java.nio.file.Paths.get(s"$base/history")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".parquet"))
    assert(archived.nonEmpty)
    archived.foreach { f =>
      Files.write(f, "not a parquet file".getBytes)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    // read as absent, the archive would drop every closed version and
    // leave only the active rows
    val ex = intercept[java.io.IOException](
      Scd2Tier.readTiered(spark, s"$base/active", s"$base/history"))
    assert(ex.getMessage.contains(s"$base/history"))
    intercept[java.io.IOException](
      Scd2Tier.asOfTiered(spark, s"$base/active", s"$base/history", "2024-01-02"))
  }

  test("bootstrap over a standing archive is refused, not silently re-genesised") {
    val base = Files.createTempDirectory("graft-tier-regen").toString
    runAll(base)
    // simulate the active tier lost out-of-band; the archive still holds
    // closed intervals — re-bootstrapping would overlap their epochs
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$base/active"))
    val cur = Currents(tsOf(9))
    val ex = intercept[IllegalArgumentException] {
      Scd2Tier.historizeTiered(spark, enriched(snapD, cur),
        s"$base/active", s"$base/history", cur, mode)
    }
    assert(ex.getMessage.contains("refusing to bootstrap"))
  }

  test("the archive probe is KEY_HASH-projected: history payload never loads") {
    val base = Files.createTempDirectory("graft-tier-probe").toString
    runAll(base)
    val probe = Scd2Tier.historyKeys(spark, s"$base/history").get
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains(s"ReadSchema: struct<$KeyHash:string>"),
      s"archive probe must prune to the key digest column:\n$scan")
  }
}
