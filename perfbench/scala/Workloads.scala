package perfbench

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Scratch.WarmUpReads

import graft.CacheScope
import graft.meta.{Currents, MetaColumns}
import graft.operators.{Dedup, MetaEnrichment, Scd2, Scd2Tier}
import graft.pipeline.Historization
import graft.sources.Store

object Scratch {
  /** Reads after the warm-up operation: enough to compile their plans. */
  val WarmUpReads = 2

  def wipe(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  def bytes(dir: String): Long =
    Trace.files(dir).map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
}

/** Daily full loads of an orders dimension into the tiered SCD2 store,
  * each followed by point-in-time and key-history reads. The batch is the
  * size of the store: the merge, the history append and the active swap
  * do the work. Keeps everything under `data`. */
final class Scd2Daily(c: Ctx, data: String) extends Workload {
  import MetaColumns._
  private val spark = c.spark
  private val Keys = 15000
  private val HeldOut = 1500
  private val ReadsPerLoad = 4
  private val store = s"$data/store"
  private val active = s"$store/active"
  private val history = s"$store/history"
  private val keyCols = Seq("o_orderkey")

  private var src: Gen.Orders = _
  private var closed = 0L
  private var sample: IndexedSeq[(String, Long)] = IndexedSeq.empty
  private val events = ArrayBuffer.empty[Gen.DayEvents]
  private var rnd: scala.util.Random = _

  def storeDirs: Seq[String] = Seq(store)

  private def snapshotPath(d: Int) = s"$data/input/day=$d"
  private def currents(d: Int) = Currents(s"${LocalDate.of(2024, 1, 1).plusDays(d)} 06:00:00")

  def generate(): Unit = {
    Scratch.wipe(data)
    src = new Gen.Orders(c.seed, Keys, HeldOut)
    src.writeSnapshot(spark, snapshotPath(0))
    events.clear()
    events += src.advance()
    src.writeSnapshot(spark, snapshotPath(1))
  }

  /** Load day `d`'s snapshot (already written) and check the two tiers. */
  private def load(d: Int): Unit = c.rec.attempt(s"load day $d") {
    val op = c.nextOp()
    val rows = src.present(d).toLong
    c.rec.op("load", rows) {
      val snap = spark.read.parquet(snapshotPath(d))
      val enriched = c.span("MetaEnrichment.addMetaColumns", op) { _ =>
        MetaEnrichment.addMetaColumns(snap, currents(d), keyCols)
      }
      c.span("Scd2Tier.historizeTiered", op, Seq(active, history)) { s =>
        s.set("input_batch_b", Scratch.bytes(snapshotPath(d)).toDouble)
        Scd2Tier.historizeTiered(spark, enriched, active, history, currents(d),
          Scd2.ValidFromMode.LoadDate)
      }
    }
    val act = spark.read.parquet(active).count()
    c.rec.expect(act == rows, s"day $d: active tier holds $act rows, snapshot $rows keys")
    val hist = Store.readParquetSafe(spark, history).map(_.count()).getOrElse(0L)
    c.rec.expect(hist == closed,
      s"day $d: history tier holds $hist closed rows, generator closed $closed")
  }

  private def reads(d: Int, count: Int): Unit = for (r <- 0 until count) {
    if (r % 2 == 0) {
      val day = rnd.nextInt(d + 1)
      c.rec.attempt(s"asOf day $day") {
        val op = c.nextOp()
        val n = c.rec.read("asof") {
          c.span("Scd2Tier.asOfTiered", op) { s =>
            val n = Scd2Tier.asOfTiered(spark, active, history, currents(day).runDay).get.count()
            s.set("rows_returned", n.toDouble)
            n
          }
        }
        c.rec.expect(n == src.present(day),
          s"asOf day $day returned $n rows, ${src.present(day)} keys were present")
      }
    } else {
      val (kh, key) = sample(rnd.nextInt(sample.size))
      c.rec.attempt(s"history of key $key") {
        val op = c.nextOp()
        val n = c.rec.read("key") {
          c.span("Scd2Tier.readTiered", op) { s =>
            val n = Scd2Tier.readTiered(spark, active, history).get
              .filter(col(KeyHash) === kh).count()
            s.set("rows_returned", n.toDouble)
            n
          }
        }
        c.rec.expect(n == src.rowsOf(key), s"key $key has $n rows, expected ${src.rowsOf(key)}")
      }
    }
  }

  def prepare(): Unit = {
    generate()
    closed = 0L
    rnd = new scala.util.Random(c.seed)
    load(0)
    // seeded key sample for the key-history reads: about 100 keys
    sample = spark.read.parquet(active)
      .filter(pmod(xxhash64(lit(c.seed), col(KeyHash)), lit(Keys / 100)) === 0)
      .select(col(KeyHash), col("o_orderkey")).orderBy(KeyHash).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toIndexedSeq
  }

  def warmUp(): Unit = {
    closed += events.last.changed + events.last.vanished
    load(1)
    reads(1, WarmUpReads)
  }

  def step(): Unit = {
    val ev = src.advance()
    events += ev
    closed += ev.changed + ev.vanished
    src.writeSnapshot(spark, snapshotPath(ev.day))
    load(ev.day)
    reads(ev.day, ReadsPerLoad)
  }

  def finish(): Unit = {
    val d = src.day
    val tiered = Scd2Tier.readTiered(spark, active, history).get
    c.rec.attempt("at most one open row per key") {
      val multi = spark.read.parquet(active).groupBy(KeyHash).count()
        .filter(col("count") > 1).count()
      c.rec.expect(multi == 0, s"$multi keys have more than one open row")
    }
    c.rec.attempt("no overlapping intervals") {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(KeyHash).orderBy(ValidFrom)
      val overlaps = tiered.withColumn("prev_to", lag(col(ValidTo), 1).over(w))
        .filter(col("prev_to") >= col(ValidFrom)).count()
      c.rec.expect(overlaps == 0, s"$overlaps intervals overlap their predecessor")
    }
    c.rec.attempt("active keys equal the snapshot keys") {
      val act = spark.read.parquet(active).select("o_orderkey")
      val snap = spark.read.parquet(snapshotPath(d)).select("o_orderkey")
      val diff = act.exceptAll(snap).count() + snap.exceptAll(act).count()
      c.rec.expect(diff == 0, s"active tier and day $d snapshot differ in $diff keys")
    }
    c.rec.attempt("closed rows equal changes plus vanished keys") {
      val hist = spark.read.parquet(history).count()
      c.rec.expect(hist == closed, s"history holds $hist rows, generator closed $closed")
    }
  }

  def inputs: Map[String, Any] = {
    val present = events.map(_.present.toDouble)
    def rate(f: Gen.DayEvents => Int) =
      if (events.isEmpty) 0.0 else events.map(e => f(e).toDouble).sum / present.sum
    Map("keys" -> Keys, "held_out_keys" -> HeldOut, "days" -> events.size,
      "snapshot_rows" -> (if (src == null) 0 else src.present(src.day)),
      "snapshot_bytes" -> (if (src == null) 0L else Scratch.bytes(snapshotPath(src.day))),
      "change_rate" -> rate(_.changed), "vanish_rate" -> rate(_.vanished),
      "return_rate" -> rate(_.returned), "arrive_rate" -> rate(_.arrived),
      "batch_to_store" -> 1.0)
  }
}

/** A lineitem store fed by small CDC batches through the append-only
  * bucketed-table load, each followed by run-travel reads. The batch is
  * far smaller than the store: fixed driver cost and the O(store) rewrite
  * dominate. Keeps its inputs under `data`, its table in the warehouse. */
final class CdcFeed(c: Ctx, data: String) extends Workload {
  import MetaColumns._
  private val spark = c.spark
  private val Orders = 25000L
  private val NewOrders = 50L
  private val UpdateRate = 0.002
  private val RedeliverRate = 0.002
  private val ReadsPerLoad = 1
  private val Table = "lineitem_store"
  // the bucket count the store API asks for: the session's join parallelism
  private val Buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
  private val keyCols = Seq("l_orderkey", "l_linenumber")
  private val basePath = s"$data/input/base"

  private var base: DataFrame = _
  private var baseRows = 0L
  private var batch = 0
  // (run id, store rows after that run), oldest first
  private val runs = ArrayBuffer.empty[(String, Long)]
  private val batches = ArrayBuffer.empty[Gen.BatchCounts]
  private var rnd: scala.util.Random = _

  def storeDirs: Seq[String] = Seq(s"${c.work}/warehouse/$Table")

  private def batchPath(b: Int) = s"$data/input/batch=$b"
  private def loadTs(b: Int) = f"2024-01-01 ${b / 60}%02d:${b % 60}%02d:00"

  def generate(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"DROP TABLE IF EXISTS ${Table}__swap")
    if (base != null) base.unpersist()
    Scratch.wipe(data)
    storeDirs.foreach(Scratch.wipe)
    Gen.lineitem(spark, c.seed, 1, Orders, 4).write.parquet(basePath)
    base = spark.read.parquet(basePath).persist()
    baseRows = base.count()
    batches.clear()
    batch = 1
    batches += Gen.feedBatch(spark, c.seed, base, Orders, batch, UpdateRate, RedeliverRate,
      NewOrders, batchPath(batch))
  }

  private def load(b: Int, path: String, expected: Long): Unit =
    c.rec.attempt(s"load batch $b") {
      val op = c.nextOp()
      val rows = spark.read.parquet(path).count()
      c.rec.op("load", rows) {
        c.span("Historization.historizeRunTable", op, storeDirs) { s =>
          s.set("input_batch_b", Scratch.bytes(path).toDouble)
          Historization.historizeRunTable(spark, spark.read.parquet(path), Table, keyCols,
            Some(loadTs(b)), buckets = Buckets)
        }
      }
      runs += Currents(loadTs(b)).runId -> expected
      val n = Store.readStoreTable(spark, Table).count()
      c.rec.expect(n == expected, s"batch $b: store holds $n rows, expected $expected")
    }

  private def reads(count: Int): Unit = for (_ <- 0 until count) {
    val (runId, expected) = runs(rnd.nextInt(runs.size))
    c.rec.attempt(s"asOfRun $runId") {
      val op = c.nextOp()
      val n = c.rec.read("asof") {
        c.span("Historization.asOfRun", op) { s =>
          val n = Historization.asOfRun(Store.readStoreTable(spark, Table), runId).count()
          s.set("rows_returned", n.toDouble)
          n
        }
      }
      c.rec.expect(n == expected, s"asOfRun $runId returned $n rows, expected $expected")
    }
  }

  def prepare(): Unit = {
    generate()
    runs.clear()
    rnd = new scala.util.Random(c.seed)
    load(0, basePath, baseRows)
  }

  def warmUp(): Unit = {
    val b = batches.last
    load(b.batch, batchPath(b.batch), runs.last._2 + b.updates + b.newRows)
    reads(ReadsPerLoad)
  }

  def step(): Unit = {
    batch += 1
    val b = Gen.feedBatch(spark, c.seed, base, Orders, batch, UpdateRate, RedeliverRate,
      NewOrders, batchPath(batch))
    batches += b
    load(batch, batchPath(batch), runs.last._2 + b.updates + b.newRows)
    reads(ReadsPerLoad)
  }

  def finish(): Unit = {
    val store = Store.readStoreTable(spark, Table)
    c.rec.attempt("(KEY_HASH, RECORD_HASH) is unique") {
      val dups = store.groupBy(KeyHash, RecordHash).count().filter(col("count") > 1).count()
      c.rec.expect(dups == 0, s"$dups (KEY_HASH, RECORD_HASH) pairs repeat")
    }
    c.rec.attempt("each run adds its updates and new keys, re-deliveries add nothing") {
      val got = store.groupBy(InsertRunId).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = runs.zip(0L +: runs.map(_._2).toSeq).map { case ((id, n), prev) => id -> (n - prev) }
        .filter(_._2 > 0).toMap
      c.rec.expect(got == want, s"rows per run ${got.toSeq.sorted} != ${want.toSeq.sorted}")
    }
  }

  def inputs: Map[String, Any] = {
    val n = batches.size.max(1).toDouble
    val rows = batches.map(_.rows).sum / n
    Map("store_rows" -> baseRows, "batches" -> batches.size, "batch_rows" -> rows,
      "batch_bytes" -> (if (batches.isEmpty) 0L else Scratch.bytes(batchPath(batches.last.batch))),
      "update_rate" -> batches.map(_.updates).sum / n / baseRows.max(1),
      "redelivery_rate" -> batches.map(_.redeliveries).sum / n / baseRows.max(1),
      "new_row_rate" -> batches.map(_.newRows).sum / n / baseRows.max(1),
      "batch_to_store" -> rows / baseRows.max(1))
  }
}

/** Runs its parts in turn: each loop iteration is one iteration of every
  * part, so an operation's time is the sum of the parts' operations. */
final class Composite(parts: Seq[(String, Workload)]) extends Workload {
  def prepare(): Unit = parts.foreach(_._2.prepare())
  def warmUp(): Unit = parts.foreach(_._2.warmUp())
  def step(): Unit = parts.foreach(_._2.step())
  def finish(): Unit = parts.foreach(_._2.finish())
  def storeDirs: Seq[String] = parts.flatMap(_._2.storeDirs)
  def inputs: Map[String, Any] = parts.map { case (n, w) => n -> w.inputs }.toMap
  def generate(): Unit = parts.foreach(_._2.generate())
}

/** Passes of exact, MinHash and exact-span dedup over a corpus with
  * planted duplicates, each followed by lookups on the written results.
  * Bound by executor compute and shuffle; never touches Store or SCD2. */
final class DedupCorpus(c: Ctx) extends Workload {
  private val spark = c.spark
  private val BaseDocs = 1500
  private val ExactCopies = 75
  private val NearCopies = 75
  private val Passages = 15
  private val ReadsPerPass = 4
  private val corpusPath = s"${c.data}/input/docs"
  private val out = s"${c.data}/out"
  private val outputs = Seq("exact", "minhash", "spans")

  private var corpus: Gen.Corpus = _
  private var digest: Seq[(Long, Long)] = Nil
  private var pairsOf = Map.empty[Long, Long]
  private var spansOf = Map.empty[Long, Long]
  private var rnd: scala.util.Random = _

  def storeDirs: Seq[String] = Seq(out)

  def generate(): Unit = {
    Scratch.wipe(c.data)
    corpus = Gen.corpus(spark, c.seed, BaseDocs, ExactCopies, NearCopies, Passages, corpusPath)
  }

  private def pass(): Unit = c.rec.attempt("dedup pass") {
    val op = c.nextOp()
    val docs = spark.read.parquet(corpusPath)
    var mh: Span = null
    c.rec.op("pass", corpus.docs.toLong) {
      CacheScope.withScope { scope =>
        c.span("Dedup.exactDuplicates", op) { _ =>
          Dedup.exactDuplicates(docs, "doc_id", Seq("text"))
            .write.mode("overwrite").parquet(s"$out/exact")
        }
        c.span("Dedup.minhashNearDuplicates", op) { s =>
          mh = s
          Dedup.minhashNearDuplicates(docs, "doc_id", "text", n = 3, k = 8, bands = 4,
            minSim = 0.3, scope = scope).write.mode("overwrite").parquet(s"$out/minhash")
        }
        c.span("Dedup.duplicatedSpansExact", op) { _ =>
          Dedup.duplicatedSpansExact(docs, "doc_id", "text", k = 30, minDocFreq = 2,
            scope = scope).write.mode("overwrite").parquet(s"$out/spans")
        }
      }
    }
    if (c.trace.exists(_.active)) CacheScope.withScope { scope =>
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text", 3, 8, 4, scope).count()
      val verified = spark.read.parquet(s"$out/minhash").count()
      mh.set("verified_per_candidate", verified.toDouble / cand.max(1))
    }
    val d = outputs.map { o =>
      val r = spark.read.parquet(s"$out/$o")
      val row = r.agg(count(lit(1)),
        sum(pmod(xxhash64(r.columns.map(col).toSeq: _*), lit(Int.MaxValue.toLong)))).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    if (digest.isEmpty) digest = d
    c.rec.expect(d == digest, s"pass output $d differs from the first pass $digest")
  }

  /** Checks on the first pass: planted copies and passages are found. */
  private def checkPlanted(): Unit = {
    c.rec.attempt("every planted exact copy is found") {
      val groups = spark.read.parquet(s"$out/exact").filter(col("n_dups") > 1)
        .select("keep_id", "n_dups").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val missed = corpus.exactGroups.filterNot(g => groups.get(g.min).exists(_ >= g.size))
      c.rec.expect(missed.isEmpty, s"${missed.size} planted copy groups not found: ${missed.take(3)}")
    }
    c.rec.attempt("every planted passage is covered by a span") {
      val spans = spark.read.parquet(s"$out/spans").collect()
        .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(r => (r.getInt(1), r.getInt(2))) }
      val missed = corpus.placements.filterNot(p =>
        spans.getOrElse(p.doc, Array.empty[(Int, Int)]).exists { case (s, e) =>
          s <= p.start && e >= p.end })
      c.rec.expect(missed.isEmpty, s"${missed.size} planted passages not covered: ${missed.take(3)}")
    }
    val pairs = spark.read.parquet(s"$out/minhash").select("id_a", "id_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    pairsOf = pairs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    spansOf = spark.read.parquet(s"$out/spans").groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def reads(count: Int): Unit = for (r <- 0 until count) {
    val id = rnd.nextInt(corpus.docs).toLong
    if (r % 2 == 0) c.rec.attempt(s"near duplicates of doc $id") {
      val n = c.rec.read("pairs") {
        spark.read.parquet(s"$out/minhash")
          .filter(col("id_a") === id || col("id_b") === id).count()
      }
      c.rec.expect(n == pairsOf.getOrElse(id, 0L), s"doc $id: $n near-duplicate pairs")
    } else c.rec.attempt(s"spans of doc $id") {
      val n = c.rec.read("spans") {
        spark.read.parquet(s"$out/spans").filter(col("doc_id") === id).count()
      }
      c.rec.expect(n == spansOf.getOrElse(id, 0L), s"doc $id: $n spans")
    }
  }

  def prepare(): Unit = {
    generate()
    digest = Nil
    rnd = new scala.util.Random(c.seed)
  }

  def warmUp(): Unit = {
    pass()
    checkPlanted()
    reads(WarmUpReads)
  }

  def step(): Unit = {
    pass()
    reads(ReadsPerPass)
  }

  def finish(): Unit = ()

  def inputs: Map[String, Any] =
    if (corpus == null) Map.empty
    else Map("docs" -> corpus.docs, "bytes" -> corpus.bytes,
      "exact_dup_rate" -> corpus.exactGroups.map(_.size - 1).sum.toDouble / corpus.docs,
      "near_dup_rate" -> corpus.nearCopies.toDouble / corpus.docs,
      "planted_passages" -> Passages, "passage_placements" -> corpus.placements.size)
}
