package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct, lit}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.meta.{Currents, MetaColumns}
import graft.operators.{Dedup, MetaEnrichment, Scd2, Scd2Tier}
import graft.pipeline.Historization
import graft.sources.Store
import graft.streaming.StreamingHistorization

/** Every writer that reads a swap-committed path store before rewriting
  * it reads through one read, [[graft.sources.Store.readForSwap]]: a
  * crashed swap's rename gap is healed instead of read as "no store yet",
  * string partition keys keep their type, and any other read failure
  * stops the run before it writes. */
class SwapReadSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = java.time.format.DateTimeFormatter.ofPattern(MetaColumns.TsFormat)
  private def tsOf(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).atTime(9, 0).format(fmt)
  private val keys = Seq("k")
  private val target = StructType(Seq(StructField("k", StringType), StructField("v", StringType)))
  // LowerBound: a key the archive guards reopens at the run day, a key
  // it does not opens at the lower bound, so a lost guard shows
  private val mode = Scd2.ValidFromMode.LowerBound

  // day 0 bootstraps; day 1 changes a and drops c; day 2 brings c back
  // and adds d; day 3 changes a again
  private val days = Seq(
    Seq("a" -> "1", "b" -> "1", "c" -> "1"),
    Seq("a" -> "2", "b" -> "1"),
    Seq("a" -> "2", "b" -> "1", "c" -> "1", "d" -> "1"),
    Seq("a" -> "3", "b" -> "1", "c" -> "1", "d" -> "1"))
  private def snap(day: Int) = days(day).toDF("k", "v")

  /** `steps` build the stores under a base directory one step at a time,
    * the rename gap of `gapped(base)` opens before step `gapBefore`, and
    * `read(base)` returns everything the stores hold. */
  private case class Writer(
      name: String,
      steps: Seq[String => Unit],
      gapBefore: Int,
      read: String => DataFrame,
      gapped: String => String)

  private def tiered(base: String, day: Int): Unit = {
    val cur = Currents(tsOf(day))
    Scd2Tier.historizeTiered(spark, MetaEnrichment.addMetaColumns(snap(day), cur, keys),
      s"$base/active", s"$base/history", cur, mode)
  }
  private def readTiered(base: String) =
    Scd2Tier.readTiered(spark, s"$base/active", s"$base/history").get
  private def readStore(base: String) = spark.read.parquet(s"$base/store")
  // day 1 opens the archive, so its gap opens before day 2 for every writer
  private def daily(name: String, run: (String, Int) => Unit, read: String => DataFrame,
      gapped: String => String) =
    Writer(name, days.indices.map(d => (b: String) => run(b, d)), 2, read, gapped)

  // the dedup maintenance stores: labels and pairs, one row set
  private def readClusters(base: String) =
    spark.read.parquet(s"$base/labels").select(lit("labels"), col("id"), col("cluster_id"))
      .union(spark.read.parquet(s"$base/pairs").select(lit("pairs"), col("id_a"), col("id_b")))
  private def seedClusters(base: String): Unit = {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    Store.writeStoreSwap(pairs, s"$base/pairs", Nil)
    Store.writeStoreSwap(Dedup.duplicateClusters(pairs), s"$base/labels", Nil)
  }
  private def takedown(base: String): Unit =
    Dedup.removeDocs(spark, Seq(1L).toDF("id"), s"$base/index", s"$base/pairs", s"$base/labels")
  // batch 0 holds two duplicate pairs, batch 1 a third that joins neither
  private val docBatches = Seq(
    Seq(1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "the quick brown fox jumps over the lazy dog near the river bank",
      3L -> "a completely different sentence about parquet stores and swaps",
      4L -> "a completely different sentence about parquet stores and swaps"),
    Seq(5L -> "seven silent swans swam slowly south under a silver sky",
      6L -> "seven silent swans swam slowly south under a silver sky"))
  private def maintain(base: String, batch: Int): Unit = {
    docBatches(batch).toDF("doc_id", "text").write.parquet(s"$base/in/d$batch")
    val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$base/in/*")
    StreamingHistorization.runOnce(StreamingHistorization.clusterMaintainStream(
      docs, "doc_id", "text", s"$base/index", s"$base/pairs", s"$base/labels", s"$base/chk"))
  }

  private val writers = Seq(
    daily("historizeRun",
      (b, d) => Historization.historizeRun(spark, snap(d), s"$b/store", keys, Some(tsOf(d))),
      readStore, b => s"$b/store"),
    daily("historizeRunEvolving",
      (b, d) => Historization.historizeRunEvolving(
        spark, snap(d), s"$b/store", keys, target, loadTs = Some(tsOf(d))),
      readStore, b => s"$b/store"),
    daily("historizeTiered active tier", tiered, readTiered, b => s"$b/active"),
    daily("historizeTiered archive", tiered, readTiered, b => s"$b/history"),
    daily("scd2LifecycleBatch",
      (b, d) => StreamingHistorization.scd2LifecycleBatch(snap(d), s"$b/store", keys, mode, tsOf(d)),
      readStore, b => s"$b/store"),
    Writer("removeDocs labels", Seq(seedClusters, takedown), 1, readClusters, b => s"$b/labels"),
    Writer("removeDocs pairs", Seq(seedClusters, takedown), 1, readClusters, b => s"$b/pairs"),
    Writer("deleteFromStore",
      Seq(b => Store.writeStoreSwap(Seq(1L -> "x", 2L -> "y").toDF("id", "v"), s"$b/store", Nil),
        b => { Store.deleteFromStore(spark, s"$b/store", Seq(1L).toDF("id"), "id"); () }),
      1, readStore, b => s"$b/store"),
    Writer("clusterMaintainStream labels", Seq(maintain(_, 0), maintain(_, 1)), 1,
      readClusters, b => s"$b/labels"))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("a run in a crashed swap's rename gap merges into the restored store") {
    // every writer runs, so a failure names all writers that lose history
    val failures = writers.flatMap { w =>
      val clean = Files.createTempDirectory("graft-swap-clean").toString
      val gap = Files.createTempDirectory("graft-swap-gap").toString
      w.steps.foreach(_(clean))
      w.steps.zipWithIndex.foreach { case (step, i) =>
        // the crash window of a swap: the store renamed aside to `.old`,
        // its replacement never renamed in
        if (i == w.gapBefore)
          assert(new File(w.gapped(gap)).renameTo(new File(w.gapped(gap) + ".old")), w.name)
        step(gap)
      }
      if (new File(w.gapped(gap) + ".old").exists()) Some(s"${w.name}: the aside was not restored")
      else {
        val (want, got) = (rows(w.read(clean)), rows(w.read(gap)))
        if (got != want) Some(s"${w.name}: ${(want -- got).size} rows lost, ${(got -- want).size} rows wrong")
        else None
      }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("historizeTiered runs over an archive whose first write left no data files") {
    val clean = Files.createTempDirectory("graft-archive-clean").toString
    val torn = Files.createTempDirectory("graft-archive-torn").toString
    days.indices.foreach(tiered(clean, _))
    tiered(torn, 0)
    // day 1's archive write failed inside its job: the partition holds
    // only the committer's hidden staging directory
    assert(new File(s"$torn/history/run=${Currents(tsOf(1)).runId}/_temporary/0").mkdirs())
    days.indices.drop(1).foreach(tiered(torn, _))
    assert(rows(readTiered(torn)) === rows(readTiered(clean)))
  }

  test("historizeRunEvolving keeps all-numeric string keys as strings") {
    val path = Files.createTempDirectory("graft-swap-keys").toString + "/store"
    def run(rows: Seq[(String, String)], day: Int) = Historization.historizeRunEvolving(
      spark, rows.toDF("k", "v"), path, keys, target, loadTs = Some(tsOf(day)))
    run(Seq("007" -> "1", "010" -> "1"), 0)
    val out = run(Seq("007" -> "2", "010" -> "1"), 1)
    assert(out.schema("k").dataType === StringType)
    assert(out.select("k").as[String].collect().toSet === Set("007", "010"))
    assert(out.count() === 3)
    // each key value still carries the one KEY_HASH it was enriched with
    assert(out.groupBy("k").agg(countDistinct(MetaColumns.KeyHash)).as[(String, Long)]
      .collect().forall(_._2 == 1L))
    assert(new File(path).list().filter(_.startsWith("k=")).toSet === Set("k=007", "k=010"))
  }

  test("historizeRunEvolving casts a stored non-key column to its new type") {
    val path = Files.createTempDirectory("graft-swap-drift").toString + "/store"
    val before = StructType(Seq(StructField("k", StringType), StructField("v", IntegerType)))
    Historization.historizeRunEvolving(spark, Seq("a" -> 1, "b" -> 2).toDF("k", "v"),
      path, keys, before, loadTs = Some(tsOf(0)))
    // v drifts int -> string, a parquet reader cannot convert that; w is new
    val after = StructType(Seq(StructField("k", StringType), StructField("v", StringType),
      StructField("w", LongType)))
    val out = Historization.historizeRunEvolving(spark,
      Seq(("a", "1", 7L), ("b", "3", 8L)).toDF("k", "v", "w"), path, keys, after,
      loadTs = Some(tsOf(1)))
    assert(out.schema("v").dataType === StringType)
    assert(out.schema("w").dataType === LongType)
    val got = out.select("k", "v", "w").as[(String, String, Option[Long])].collect().toSet
    // stored rows keep their values, cast, with null in the new column;
    // both keys re-version once under the new schema
    assert(got === Set(("a", "1", None), ("b", "2", None), ("a", "1", Some(7L)), ("b", "3", Some(8L))))
  }

  test("historizeRunEvolving throws on a corrupt store and leaves every file as it was") {
    val base = Files.createTempDirectory("graft-swap-corrupt")
    val path = base.toString + "/store"
    Historization.historizeRunEvolving(spark, snap(0), path, keys, target, loadTs = Some(tsOf(0)))
    def files(): Seq[Path] = {
      val s = Files.walk(base)
      try s.filter(Files.isRegularFile(_)).sorted().toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    // break every parquet footer's trailing magic; drop the checksums so
    // the read fails on the footer itself
    files().foreach { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".parquet.crc")) Files.delete(f)
      else if (name.endsWith(".parquet")) {
        val bytes = Files.readAllBytes(f)
        "XXXX".getBytes.copyToArray(bytes, bytes.length - 4)
        Files.write(f, bytes)
      }
    }
    val before = files().map(f => base.relativize(f).toString -> Files.readAllBytes(f).toSeq)
    val e = intercept[SparkException](Historization.historizeRunEvolving(
      spark, snap(1), path, keys, target, loadTs = Some(tsOf(1))))
    // the read of the corrupt footer stopped the run, nothing else
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.getMessage != null &&
      c.getMessage.contains("is not a Parquet file")), causes.map(_.getMessage).mkString(" <- "))
    val after = files().map(f => base.relativize(f).toString -> Files.readAllBytes(f).toSeq)
    assert(after === before)
  }
}
