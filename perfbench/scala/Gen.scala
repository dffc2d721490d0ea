package perfbench

import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Every input is a pure function of the seed and
  * of the step that asks for it, so the same seed gives the same parquet
  * files byte for byte up to the footer, whose per-column encoding lists
  * parquet-mr writes in hash-set order. The generator also keeps the
  * ground truth the output checks compare against (change, vanish and
  * return counts per day; row kinds per feed batch; planted copies and
  * passages). */
object Gen {

  /** splitmix64 finalizer over (seed, salt, key): a uniform 64-bit word. */
  def mix(seed: Long, salt: Long, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + key * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) from (seed, salt, key). */
  def unit(seed: Long, salt: Long, key: Long): Double = (mix(seed, salt, key) >>> 11) / 9007199254740992.0

  /** Uniform integer in [0, n) from (seed, salt, key). */
  def pick(seed: Long, salt: Long, key: Long, n: Int): Int = ((mix(seed, salt, key) >>> 1) % n).toInt

  /** Spark-side twin of [[unit]] for generators that run as a plan. */
  def unitCol(seed: Long, salt: String, cs: Column*): Column =
    pmod(xxhash64(lit(seed) +: lit(salt) +: cs: _*), lit(1000000L)).cast("double") / 1e6

  // --- scd2_daily: orders, one full snapshot per day ----------------------

  final case class DayEvents(day: Int, changed: Int, vanished: Int, returned: Int,
      arrived: Int, present: Int)

  private val Statuses = Array("F", "O", "P")

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("orderstatus", StringType),
    StructField("totalprice", DecimalType(18, 2)),
    StructField("orderdate", DateType)))

  /** A source system holding `keys` orders on day 0 plus `heldOut` orders
    * that do not exist yet. Each [[advance]] moves one day: a present key
    * vanishes with `vanishRate`, otherwise changes with `changeRate`; a
    * vanished key comes back with `returnRate`; a held-out key arrives
    * with `arriveRate`. A change always yields a new record hash: the
    * payload is a function of (key, version). */
  final class Orders(seed: Long, keys: Int, heldOut: Int,
      val changeRate: Double = 0.01, val vanishRate: Double = 0.005,
      val returnRate: Double = 0.2, val arriveRate: Double = 0.02) {
    private val n = keys + heldOut
    // 0 = not yet arrived, 1 = present, 2 = vanished
    private val state = Array.tabulate[Byte](n)(i => if (i < keys) 1 else 0)
    private val version = new Array[Int](n)
    // SCD2 rows a key owns so far: one per open, change and return
    private val rows = Array.tabulate[Int](n)(i => if (i < keys) 1 else 0)
    private val presentByDay = ArrayBuffer(keys)
    var day = 0

    def present(d: Int): Int = presentByDay(d)

    def advance(): DayEvents = {
      day += 1
      var ch, va, re, ar, pr = 0
      var i = 0
      while (i < n) {
        val u = unit(seed, day, i)
        state(i) match {
          case 1 =>
            if (u < vanishRate) { state(i) = 2; va += 1 }
            else if (u < vanishRate + changeRate) { version(i) += 1; rows(i) += 1; ch += 1 }
          case 2 => if (u < returnRate) { state(i) = 1; rows(i) += 1; re += 1 }
          case _ => if (u < arriveRate) { state(i) = 1; rows(i) += 1; ar += 1 }
        }
        if (state(i) == 1) pr += 1
        i += 1
      }
      presentByDay += pr
      DayEvents(day, ch, va, re, ar, pr)
    }

    /** SCD2 rows the store must hold for order key `orderKey` by now. */
    def rowsOf(orderKey: Long): Int = rows((orderKey - 1).toInt)

    private def row(i: Int): Row = {
      val h = mix(seed, 7, i)
      val v = version(i)
      Row((i + 1).toLong, Statuses(((h & 0xff) + v).toInt % 3),
        java.math.BigDecimal.valueOf(100000L + (h >>> 1) % 49000000L + 713L * v, 2),
        Date.valueOf(LocalDate.of(1992, 1, 1).plusDays((h >>> 33) % 2400)))
    }

    def writeSnapshot(spark: SparkSession, path: String): Unit = {
      val out = new java.util.ArrayList[Row](n)
      var i = 0
      while (i < n) { if (state(i) == 1) out.add(row(i)); i += 1 }
      spark.createDataFrame(out, OrdersSchema).write.mode("overwrite").parquet(path)
    }
  }

  // --- cdc_feed: lineitem store and small delta batches --------------------

  /** `orders` orders of 1–7 lines each (about 4 × orders rows), in the
    * lineitem projection the CDC examples use. */
  def lineitem(spark: SparkSession, seed: Long, firstOrder: Long, orders: Long,
      parts: Int): DataFrame = {
    val ok = col("l_orderkey")
    spark.range(firstOrder, firstOrder + orders, 1, parts).toDF("l_orderkey")
      .select(ok, explode(sequence(lit(1),
        (pmod(xxhash64(lit(seed), lit("lines"), ok), lit(7L)) + 1).cast("int")))
        .as("l_linenumber"))
      .select(ok, col("l_linenumber"),
        ((pmod(xxhash64(lit(seed), lit("qty"), ok, col("l_linenumber")), lit(5000L)) + 100)
          / 100).cast("decimal(18,2)").as("quantity"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(xxhash64(lit(seed), lit("rf"), ok, col("l_linenumber")), lit(3L)) + 1)
            .cast("int")).as("returnflag"),
        element_at(array(lit("F"), lit("O")),
          (pmod(xxhash64(lit(seed), lit("ls"), ok, col("l_linenumber")), lit(2L)) + 1)
            .cast("int")).as("linestatus"),
        date_add(lit("1992-01-01").cast("date"),
          pmod(xxhash64(lit(seed), lit("sd"), ok, col("l_linenumber")), lit(2500L))
            .cast("int")).as("shipdate"))
  }

  final case class BatchCounts(batch: Int, updates: Long, redeliveries: Long, newRows: Long) {
    def rows: Long = updates + redeliveries + newRows
  }

  /** Delta batch `b` (b >= 1) against the bootstrap `base`: `updateRate`
    * of the base rows with quantity + b (a record hash no earlier batch
    * produced), `redeliverRate` of them unchanged, and `newOrders` orders
    * with keys above every earlier one. */
  def feedBatch(spark: SparkSession, seed: Long, base: DataFrame, baseOrders: Long,
      b: Int, updateRate: Double, redeliverRate: Double, newOrders: Long,
      path: String): BatchCounts = {
    val u = unitCol(seed, s"batch$b", col("l_orderkey"), col("l_linenumber"))
    val kind = when(u < updateRate, lit(1))
      .when(u < updateRate + redeliverRate, lit(2)).otherwise(lit(0))
    val picked = base.withColumn("kind", kind).filter(col("kind") > 0)
      .withColumn("quantity", when(col("kind") === 1, col("quantity") + b)
        .otherwise(col("quantity")).cast("decimal(18,2)"))
    val fresh = lineitem(spark, seed, baseOrders + 1 + (b - 1) * newOrders, newOrders, 1)
      .withColumn("kind", lit(3))
    val batch = picked.unionByName(fresh).coalesce(1)
    batch.drop("kind").write.mode("overwrite").parquet(path)
    val counts = spark.read.parquet(path).count()
    val byKind = picked.groupBy("kind").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nf = counts - byKind.values.sum
    BatchCounts(b, byKind.getOrElse(1, 0L), byKind.getOrElse(2, 0L), nf)
  }

  // --- dedup_corpus: documents with planted duplicates ---------------------

  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer",
    "fast", "filter", "group", "hash", "join", "line", "merge", "order", "part",
    "query", "scan", "slow", "small", "sort", "spark", "stream", "string", "value",
    "vector", "window", "table", "index", "shuffle", "cache", "plan", "row")

  /** A passage planted at 1-based inclusive characters [start, end] of doc. */
  final case class Placement(doc: Long, start: Int, end: Int)

  final case class Corpus(docs: Int, exactGroups: Seq[Seq[Long]], nearCopies: Int,
      placements: Seq[Placement], bytes: Long)

  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  /** `base` random documents of 8–96 words (the shape of the documents
    * fixture), then `exact` verbatim copies, `near` copies with about a
    * tenth of their words replaced, and `passages` shared passages of at
    * least 100 characters, each planted into 2–4 base documents. */
  def corpus(spark: SparkSession, seed: Long, base: Int, exact: Int, near: Int,
      passages: Int, path: String): Corpus = {
    def words(salt: Long, id: Long, n: Int): Array[String] =
      Array.tabulate(n)(j => Vocab(pick(seed, salt, id * 1000 + j, Vocab.length)))
    val texts = Array.tabulate(base)(i =>
      words(11, i, 8 + pick(seed, 12, i, 89)))
    val shared = Array.tabulate(passages) { p =>
      val ws = words(13, p, 60)
      ws.take(ws.indices.find(j => ws.take(j + 1).mkString(" ").length >= 100).get + 1)
        .mkString(" ")
    }
    val placements = ArrayBuffer.empty[Placement]
    val planted = new Array[Boolean](base)
    for (p <- 0 until passages) {
      val passage = shared(p)
      val hosts = 2 + pick(seed, 14, p, 3)
      var h = 0
      var probe = 0L
      while (h < hosts) {
        val d = pick(seed, 15, p * 100000L + probe, base)
        probe += 1
        if (!planted(d)) {
          planted(d) = true
          val cut = pick(seed, 16, d, texts(d).length + 1)
          val (pre, post) = texts(d).splitAt(cut)
          texts(d) = (pre :+ passage) ++ post
          h += 1
        }
      }
    }
    val text = texts.map(_.mkString(" "))
    // placements are located after all plants: a later plant may shift an
    // earlier passage within the same document only if both land there,
    // which `planted` rules out
    for (d <- 0 until base if planted(d)) {
      val t = text(d)
      val p = shared.find(t.contains).get
      val at = t.indexOf(p)
      placements += Placement(d.toLong, at + 1, at + p.length)
    }
    val out = new java.util.ArrayList[Row](base + exact + near)
    text.zipWithIndex.foreach { case (t, i) => out.add(Row(i.toLong, t)) }
    val groups = scala.collection.mutable.LinkedHashMap.empty[Long, ArrayBuffer[Long]]
    var id = base.toLong
    for (c <- 0 until exact) {
      val src = pick(seed, 17, c, base).toLong
      out.add(Row(id, text(src.toInt)))
      groups.getOrElseUpdate(src, ArrayBuffer(src)) += id
      id += 1
    }
    for (c <- 0 until near) {
      val src = pick(seed, 18, c, base)
      val w = texts(src).clone()
      for (j <- w.indices if unit(seed, 19, c * 1000L + j) < 0.1)
        w(j) = Vocab(pick(seed, 20, c * 1000L + j, Vocab.length))
      out.add(Row(id, w.mkString(" ")))
      id += 1
    }
    spark.createDataFrame(out, DocsSchema).write.mode("overwrite").parquet(path)
    Corpus(out.size, groups.values.map(_.toSeq).toSeq, near, placements.toSeq,
      out.asScala.map(_.getString(1).length.toLong).sum)
  }
}
