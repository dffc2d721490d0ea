package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col

import graft.meta.{Currents, MetaColumns}
import graft.operators.{MetaEnrichment, Scd2, Scd2Tier}
import graft.sources.{Store, StoreIndex}

/** [[Store.readParquet]] is `spark.read.parquet` with the schema read
  * from one footer on the driver: for every layout graft writes it gives
  * the same schema (partition columns included), rows and input files,
  * it lists the store no more often, it runs no Spark job, and where the
  * footer cannot decide it falls back to Spark's own inference. */
class StoreReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(s"graft_read_$name").toString

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  private def assertSameRead(paths: String*): Unit = {
    val ours = Store.readParquetPaths(spark, paths)
    val inferred = spark.read.parquet(paths: _*)
    val at = paths.mkString(", ")
    assert(ours.schema === inferred.schema, at)
    assert(rows(ours) === rows(inferred), at)
    assert(ours.inputFiles.sorted.toSeq === inferred.inputFiles.sorted.toSeq, at)
  }

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous, so earlier events drain before the listener is added
    * and this run's events arrive before it is read. */
  private def jobsOf[T](body: => T): (T, Int) = {
    Thread.sleep(300)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(500)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val fmt = java.time.format.DateTimeFormatter.ofPattern(MetaColumns.TsFormat)
  private def tiered(base: String, snaps: Seq[Seq[(String, String)]]): Unit =
    snaps.zipWithIndex.foreach { case (snap, day) =>
      val cur = Currents(java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
        .atTime(9, 0).format(fmt))
      Scd2Tier.historizeTiered(spark,
        MetaEnrichment.addMetaColumns(snap.toDF("k", "v"), cur, Seq("k")),
        s"$base/active", s"$base/history", cur, Scd2.ValidFromMode.LoadDate)
    }
  // two runs: the second changes a and drops c, so the archive holds a run
  private val twoRuns = Seq(Seq("a" -> "1", "b" -> "1", "c" -> "1"), Seq("a" -> "2", "b" -> "1"))

  /** The single data file a one-partition write left in `dir`. */
  private def partFile(dir: String) = Files.list(Paths.get(dir)).toArray
    .map(_.asInstanceOf[java.nio.file.Path])
    .filter(_.getFileName.toString.endsWith(".parquet")).head

  test("writeStore flat and key-partitioned on numeric string keys read as spark.read does") {
    val base = tmp("flat")
    val df = Seq(("007", "x", 1), ("010", "y", 2), ("7", "z", 3)).toDF("k", "v", "n")
    Store.writeStore(df, s"$base/flat", Nil)
    Store.writeStore(df, s"$base/keyed", Seq("k"))
    assertSameRead(s"$base/flat")
    assertSameRead(s"$base/keyed")
    // the key is still path-inferred: "007" comes back as Spark infers it
    assert(Store.readParquet(spark, s"$base/keyed").schema("k").dataType ===
      spark.read.parquet(s"$base/keyed").schema("k").dataType)
  }

  test("tiered active and run= archive, with a failed append's empty run dir, read as spark.read does") {
    val base = tmp("tiered")
    tiered(base, twoRuns)
    Files.createDirectories(Paths.get(s"$base/history/run=00000000000000"))
    Files.createDirectories(Paths.get(s"$base/history/run=99999999999999/_temporary"))
    assertSameRead(s"$base/active")
    assertSameRead(s"$base/history")
    assert(Store.readParquet(spark, s"$base/history").columns.last === "run")
  }

  test("bucketed, generation and StoreIndex stores read as spark.read does") {
    val base = tmp("layouts")
    val df = (1 to 40).map(i => (f"$i%032x", s"r$i", i.toLong)).toDF(MetaColumns.KeyHash, "v", "n")
    Store.writeStoreBucketed(df, s"$base/bucketed", buckets = 4)
    assertSameRead(s"$base/bucketed")
    assert(Store.readParquet(spark, s"$base/bucketed").columns.last === "KEY_BUCKET")
    val gen = Store.writeStoreGeneration(df, s"$base/gens", Seq("n"))
    assertSameRead(Store.generationPath(s"$base/gens", gen))
    StoreIndex.writeStoreSorted(df, s"$base/indexed", Seq("n"), numFiles = 4)
    assert(Files.isDirectory(Paths.get(StoreIndex.statsManifestPath(s"$base/indexed"))))
    assertSameRead(s"$base/indexed")
  }

  test("several roots, a partitioned export and one of its files read as spark.read does") {
    val base = tmp("roots")
    val gens = (1 to 3).map(i =>
      Store.writeStoreGeneration(Seq((i, s"v$i")).toDF("n", "v"), s"$base/deltas", keep = 5))
    val dirs = gens.map(Store.generationPath(s"$base/deltas", _))
    assertSameRead(dirs: _*)
    assert(jobsOf(Store.readParquetPaths(spark, dirs))._2 === 0)
    Seq((0L, 0L, "x"), (0L, 1L, "y"), (1L, 0L, "z")).toDF("shard", "file_idx", "v")
      .write.partitionBy("shard", "file_idx").parquet(s"$base/shards")
    assertSameRead(s"$base/shards")
    assertSameRead(partFile(s"$base/shards/shard=0/file_idx=1").toString)
  }

  test("two files with different schemas: the file Spark's inference reads wins") {
    val base = tmp("two")
    Seq((1, "x")).toDF("a", "b").coalesce(1).write.parquet(s"$base/ab")
    Seq(("y", 2L)).toDF("b", "c").coalesce(1).write.parquet(s"$base/bc")
    for ((first, second) <- Seq(("ab", "bc"), ("bc", "ab"))) {
      val dir = s"$base/mixed_$first"
      Files.createDirectories(Paths.get(dir))
      Seq(first, second).zipWithIndex.foreach { case (src, i) =>
        Files.copy(partFile(s"$base/$src"), Paths.get(dir, s"part-$i.parquet"))
      }
      assertSameRead(dir)
      assert(Store.readParquet(spark, dir).schema === spark.read.parquet(s"$base/$first").schema)
    }
  }

  test("a directory with no data files: readParquetSafe gives None, readParquetStrict throws") {
    val dir = tmp("empty")
    Files.createFile(Paths.get(dir, "_SUCCESS"))
    Files.createDirectories(Paths.get(dir, "run=1"))
    assert(Store.readParquetSafe(spark, dir).isEmpty)
    intercept[AnalysisException](Store.readParquetStrict(spark, dir))
    assert(Store.readParquetSafe(spark, s"$dir/missing").isEmpty)
    assert(Store.readParquetStrict(spark, s"$dir/missing").isEmpty)
  }

  test("a footer without the Spark schema falls back to Spark's inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("plain")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int32 a; optional binary s (UTF8); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      writer.write(groups.newGroup().append("a", 1).append("s", "x"))
      writer.write(groups.newGroup().append("a", 2))
    } finally writer.close()
    val (ours, jobs) = jobsOf(Store.readParquet(spark, dir))
    assert(jobs === 1) // Spark's own inference job: the fallback ran
    assertSameRead(dir)
    assert(rows(ours) === Seq("[1,x]", "[2,null]"))
  }

  test("a footer naming a partition column, or a data file outside a partition dir, falls back") {
    val base = tmp("overlap")
    // the footer holds k, and so does the directory name
    Seq(("1", "x")).toDF("k", "v").coalesce(1).write.parquet(s"$base/both/k=2")
    val (_, jobs) = jobsOf(Store.readParquet(spark, s"$base/both"))
    assert(jobs === 1)
    assertSameRead(s"$base/both")
    // a plain sub-directory is left to Spark's partition discovery
    Seq(("1", "x")).toDF("a", "v").coalesce(1).write.parquet(s"$base/nested/sub/k=1")
    Seq(("2", "y")).toDF("a", "v").coalesce(1).write.parquet(s"$base/nested/k=0")
    assert(jobsOf(Store.readParquet(spark, s"$base/nested/sub"))._2 === 0)
    assertSameRead(s"$base/nested/sub")
    assert(Store.readParquetSafe(spark, s"$base/nested").map(_.schema) ===
      scala.util.Try(spark.read.parquet(s"$base/nested")).toOption.map(_.schema))
  }

  test("mergeSchema on falls back to Spark's merged inference") {
    val dir = tmp("merge")
    Seq((1, "x")).toDF("a", "b").coalesce(1).write.parquet(s"$dir/k=1")
    Seq(("y", 2L)).toDF("b", "c").coalesce(1).write.parquet(s"$dir/k=2")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertSameRead(dir)
      assert(Store.readParquet(spark, dir).columns.toSeq === Seq("a", "b", "c", "k"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(Store.readParquet(spark, dir).columns.toSeq ===
      spark.read.parquet(dir).columns.toSeq)
  }

  test("store reads and tiered read frames run no Spark job") {
    val base = tmp("jobs")
    tiered(base, twoRuns)
    val active = s"$base/active"
    val history = s"$base/history"
    assert(jobsOf(Store.readParquet(spark, history))._2 === 0)
    assert(jobsOf(Store.readForSwap(spark, active))._2 === 0)
    val (read, readJobs) = jobsOf(Scd2Tier.readTiered(spark, active, history))
    assert(readJobs === 0)
    val (asOf, asOfJobs) = jobsOf(Scd2Tier.asOfTiered(spark, active, history, "2024-01-01"))
    assert(asOfJobs === 0)
    // the frames are the full tiered table: both tiers' rows
    assert(read.get.count() === 4)
    assert(asOf.get.filter(col("k") === "c").count() === 1)
  }

  test("a store read lists each tier exactly as often as spark.read.parquet does") {
    val base = tmp("lists")
    // four days, a changing daily: the archive holds three run partitions
    tiered(base, (1 to 4).map(v => Seq("a" -> v.toString, "b" -> "1")))
    val (active, history) = (s"$base/active", s"$base/history")
    def lists(body: => Any): Int = {
      val before = ListCountingFileSystem.lists.get
      body
      ListCountingFileSystem.lists.get - before
    }
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[ListCountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val bySpark = Seq(active, history).map(p => p -> lists(spark.read.parquet(p))).toMap
      assert(bySpark.values.forall(_ > 0), bySpark)
      for (p <- Seq(active, history)) assert(lists(Store.readParquet(spark, p)) === bySpark(p), p)
      assert(lists(Scd2Tier.readTiered(spark, active, history)) === bySpark.values.sum)
    } finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("an append onto a manifested store reads its fresh files under the written schema") {
    val dir = tmp("append") + "/store"
    StoreIndex.writeStoreSorted(spark.range(0, 1000).select(col("id").as("k"), col("id").as("v")),
      dir, Seq("k"), numFiles = 4)
    val (_, jobs) = jobsOf(StoreIndex.appendStoreSorted(
      spark.range(5000, 5500).select(col("id").as("k"), col("id").as("v")), dir, Seq("k")))
    // the fresh files are read under the written schema (no inference
    // job), and the freshness proof checks the token on the manifest rows
    // the append collects anyway
    assert(jobs === 12)
    assert(spark.read.parquet(StoreIndex.statsManifestPath(dir)).count() === 5)
  }
}

/** The local file system counting directory listings. Counters are
  * static: with `fs.file.impl.disable.cache` every lookup makes a new
  * instance. */
class ListCountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
  import ListCountingFileSystem.lists
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet(); super.listStatusIterator(p)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def globStatus(p: Path): Array[FileStatus] = { lists.incrementAndGet(); super.globStatus(p) }
}

object ListCountingFileSystem {
  val lists = new AtomicInteger
}
