package graft

import org.apache.spark.sql.functions._

import graft.meta.{Currents, MetaColumns}
import graft.operators.MetaEnrichment
import graft.sources.Store

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val enriched = MetaEnrichment.addMetaColumns(
    (1 to 500).map(i => (s"k$i", s"v${i % 7}")).toDF("k", "v"),
    Currents("2024-01-01 10:00:00"), Seq("k"))

  test("bucketed store round-trips all rows under a bounded directory count") {
    val path = java.nio.file.Files.createTempDirectory("graft_store").toString + "/bucketed"
    Store.writeStoreBucketed(enriched, path, buckets = 16)
    val back = spark.read.parquet(path)
    assert(back.count() === 500)
    val dirs = new java.io.File(path).listFiles.count(f => f.getName.startsWith("KEY_BUCKET="))
    assert(dirs <= 16 && dirs > 1)
  }

  test("readStoreAsOf pushes both validity bounds to the scan and matches asOf") {
    import graft.operators.Scd2
    import graft.operators.Scd2.ValidFromMode
    val c1 = Currents("2024-01-01 10:00:00")
    val c2 = Currents("2024-02-15 10:00:00")
    def snap(rows: Seq[(String, String)], c: Currents) =
      MetaEnrichment.addMetaColumns(rows.toDF("k", "v"), c, Seq("k"))
    val v1 = Scd2.historizeDataset(snap(Seq("a" -> "1", "b" -> "2"), c1),
      None, c1, ValidFromMode.LoadDate)
    val v2 = Scd2.historizeDataset(snap(Seq("a" -> "1", "b" -> "9"), c2),
      Some(v1), c2, ValidFromMode.LoadDate)
    val path = java.nio.file.Files.createTempDirectory("graft_asof").toString + "/store"
    Store.writeStore(v2, path, Seq.empty)
    val got = Store.readStoreAsOf(spark, path, "2024-02-01").get
    assert(got.select("k", "v").as[(String, String)].collect().toMap ===
      Map("a" -> "1", "b" -> "2"))
    // both comparisons reach the parquet reader as pushed filters
    val plan = got.queryExecution.executedPlan.toString
    // (the VALID_TO bound pushes inside Or(IsNull(VALID_TO), GreaterThan-
    // OrEqual(...)); the plan string truncates the Or's tail, so assert on
    // its stable prefix)
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(VALID_FROM") &&
      plan.contains("Or(IsNull(VALID_TO)"),
      s"validity bounds not pushed to the scan:\n$plan")
    // missing store reads as None, like readParquetSafe
    assert(Store.readStoreAsOf(spark, path + "_missing", "2024-02-01").isEmpty)
  }

  test("readStoreAsOfRun reproduces the store a past run left behind") {
    import graft.pipeline.Historization
    val c1 = Currents("2024-01-01 10:00:00")
    val c2 = Currents("2024-02-15 10:00:00")
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_run").toString + "/store"
    Historization.historizeRun(spark, Seq(("a", "1"), ("b", "2")).toDF("k", "v"),
      dir, Seq("k"), Some("2024-01-01 10:00:00"))
    val afterRun1 = spark.read.parquet(dir).collect().toSet
    Historization.historizeRun(spark,
      Seq(("a", "1"), ("b", "9"), ("c", "3")).toDF("k", "v"),
      dir, Seq("k"), Some("2024-02-15 10:00:00"))
    assert(spark.read.parquet(dir).count() > afterRun1.size)
    // time travel back to run 1: exactly the rows run 1 left behind
    val got = Store.readStoreAsOfRun(spark, dir, c1.runId).get
    assert(got.collect().toSet === afterRun1)
    // as of run 2: the whole store; missing path: None
    assert(Store.readStoreAsOfRun(spark, dir, c2.runId).get.count() ===
      spark.read.parquet(dir).count())
    assert(Store.readStoreAsOfRun(spark, dir + "_missing", c1.runId).isEmpty)
  }

  test("compactStore collapses append-born small files without changing rows") {
    val path = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/digests"
    // simulate continuous ingestion: 20 per-batch appends, 2 files each
    (1 to 20).foreach { b =>
      (1 to 25).map(i => (s"k${b}_$i", b)).toDF("digest", "batch")
        .repartition(2).write.mode("append").parquet(path)
    }
    val rowsBefore = spark.read.parquet(path).collect().toSet
    val (before, after) = Store.compactStore(spark, path, targetBytes = 64L * 1024 * 1024)
    assert(before === 40L)
    assert(after === 1L) // tiny store, one target-sized file
    assert(spark.read.parquet(path).collect().toSet === rowsBefore)
  }

  test("compactStore keeps partition directories and rows on a partitioned store") {
    val path = java.nio.file.Files.createTempDirectory("graft_compact_p").toString + "/store"
    (1 to 10).foreach { b =>
      (1 to 40).map(i => (s"k${b}_$i", i % 4, b)).toDF("k", "part", "batch")
        .repartition(3).write.mode("append").partitionBy("part").parquet(path)
    }
    val rowsBefore = spark.read.parquet(path)
      .select("k", "part", "batch").collect().toSet
    val (before, after) = Store.compactStore(spark, path, Seq("part"))
    assert(after < before)
    val back = spark.read.parquet(path)
    assert(back.select("k", "part", "batch").collect().toSet === rowsBefore)
    val dirs = new java.io.File(path).listFiles.count(_.getName.startsWith("part="))
    assert(dirs === 4)
  }

  test("JSONL round-trips documents with an explicit schema") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(100)
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/docs"
    Store.writeJsonl(docs, path)
    val back = Store.readJsonl(spark, path, Some(docs.schema))
    assert(back.schema === docs.schema)
    assert(back.exceptAll(docs).count() === 0)
    assert(docs.exceptAll(back).count() === 0)
  }

  test("schema'd JSONL fixture scan: null literal vs missing key both parse to null") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_fx").toString
    SparkEntry.writeJsonlFixture(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("title", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("meta", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tokens", org.apache.spark.sql.types.LongType))))))
    val back = Store.readJsonl(spark, s"$dir/docs.jsonl", Some(schema))
      .select($"id", $"title", $"meta.lang".as("lang"))
    assert(back.count() === 24)
    // line 3: explicit "title": null; lines 5 and 16: meta key absent
    assert(back.filter($"id" === 3 && $"title".isNull).count() === 1)
    assert(back.filter($"title".isNull).count() === 3) // ids 3, 10, 17 (i % 7 == 3)
    assert(back.filter($"lang".isNull).count() === 2)
  }

  test("ORC round-trips documents losslessly") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(100)
    val path = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/docs"
    Store.writeOrc(docs, path)
    val back = Store.readOrc(spark, path)
    assert(back.exceptAll(docs).count() === 0)
    assert(docs.exceptAll(back).count() === 0)
  }

  test("binaryFile ingestion reads blobs with metadata and honors the glob") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin")
    java.nio.file.Files.write(dir.resolve("a.png"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.png"), Array[Byte](4, 5))
    java.nio.file.Files.write(dir.resolve("c.txt"), Array[Byte](6))
    val all = Store.readBinaryFiles(spark, dir.toString)
    assert(all.count() === 3)
    val pngs = Store.readBinaryFiles(spark, dir.toString, Some("*.png"))
      .select($"path", $"length", $"content")
    assert(pngs.count() === 2)
    val a = pngs.filter($"path".endsWith("a.png")).head
    assert(a.getLong(1) === 3L)
    assert(a.getAs[Array[Byte]](2).toSeq === Seq[Byte](1, 2, 3))
    // feeds the multimodal path directly
    val media = graft.operators.Multimodal.decodeMetaSql(
      pngs.select(monotonically_increasing_id().as("id"), $"content".as("payload")))
    assert(media.count() === 2)
  }

  test("bucketed-table SCD2 round trip: store side joins with no Exchange, result matches in-memory chain") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Scd2
    import graft.operators.Scd2.ValidFromMode

    val c1 = Currents("2024-01-01 10:00:00")
    val c2 = Currents("2024-02-15 10:30:00")
    val enr1 = MetaEnrichment.addMetaColumns(
      (1 to 500).map(i => (s"k$i", s"v${i % 7}")).toDF("k", "v"), c1, Seq("k"))
    val v1 = Scd2.historizeDataset(enr1, None, c1, ValidFromMode.LoadDate)

    val path = java.nio.file.Files.createTempDirectory("graft_scd2_table").toString + "/store"
    Store.writeStoreTable(v1, "graft_scd2_e2e", buckets = 4, path = Some(path))
    val enr2 = MetaEnrichment.addMetaColumns(
      (1 to 520).map(i => (s"k$i", s"v${i % 5}")).toDF("k", "v"), c2, Seq("k"))

    // AQE off for the plan inspection: the adaptive wrapper hides the tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val current = Store.readStoreTable(spark, "graft_scd2_e2e")
      val fromStore = Scd2.mergeScd2Fast(current, enr2, c2, ValidFromMode.LoadDate)
      val expected = Scd2.historizeDataset(enr2, Some(v1), c2, ValidFromMode.LoadDate)
      assert(fromStore.count() === expected.count())
      assert(fromStore.exceptAll(expected).count() === 0)
      assert(expected.exceptAll(fromStore).count() === 0)

      // the scale claim itself: the store scan keeps its bucketed
      // distribution and no shuffle sits anywhere above it — only the
      // incoming snapshot side is exchanged
      val plan = fromStore.queryExecution.executedPlan
      val bucketedScans = plan.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      assert(bucketedScans.nonEmpty, "store read lost its bucketed-scan form")
      val shuffledStoreReads = plan.collect {
        case e: ShuffleExchangeExec
            if e.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty => e
      }
      assert(shuffledStoreReads.isEmpty,
        s"bucketed store side is being shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS graft_scd2_e2e")
    }
  }

  /** A table's data files and their lengths, as its scan lists them. */
  private def dataFiles(table: String): Map[String, Long] =
    spark.table(table).inputFiles.map(f => f -> new java.io.File(new java.net.URI(f)).length).toMap

  /** Every file under a table's location, hidden ones included. */
  private def allFiles(table: String): Set[String] = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter($"col_name" === "Location").select("data_type").as[String].head()
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(new java.net.URI(loc)))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
    } finally walk.close()
  }

  test("pipeline bucketed-table historization: append-only commits match the in-memory chain, store never shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.pipeline.Historization

    val table = "graft_hist_table_e2e"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}__swap")

    val snap1 = (1 to 400).map(i => (s"k$i", s"v${i % 7}")).toDF("k", "v")
    val snap2 = (1 to 430).map(i => (s"k$i", s"v${i % 5}")).toDF("k", "v")
    val snap3 = (1 to 430).map(i => (s"k$i", s"v${i % 3}")).toDF("k", "v")
    val (t1, t2, t3) = ("2024-01-01 10:00:00", "2024-02-15 10:30:00", "2024-03-01 09:00:00")
    try {
      Historization.historizeRunTable(spark, snap1, table, Seq("k"), Some(t1), buckets = 4)
      assert(!spark.catalog.tableExists(s"${table}__swap"))
      val files1 = dataFiles(table)

      // the scale claim, audited on run 2's merge plan before it executes:
      // the accumulated store enters the delta join as a bucketed scan with
      // NO shuffle anywhere above it. AQE off so the tree is bare, and
      // broadcast off because at scale the store CANNOT broadcast — with it
      // on, the tiny test store broadcasts and the planner rightly skips
      // the bucketed scan, hiding the distribution this test pins.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val enr2 = MetaEnrichment.addMetaColumns(snap2, Currents(t2), Seq("k"))
      val current = Store.canonicalize(Store.readStoreTable(spark, table), enr2.schema)
      val updated = current.unionByName(graft.operators.Cdc.deltaBucketed(current, enr2))
      val plan = updated.queryExecution.executedPlan
      val bucketedScans = plan.collect { case f: FileSourceScanExec if f.bucketedScan => f }
      assert(bucketedScans.nonEmpty, "store read lost its bucketed-scan form")
      assert(plan.collect {
        case e: ShuffleExchangeExec
            if e.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty => e
      }.isEmpty, s"bucketed store side is being shuffled:\n$plan")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

      // runs 2 and 3 append their deltas (each reads the table it appends
      // to): every earlier data file survives byte-for-byte, each run adds
      // at most `buckets` files, and no swap table ever appears
      Historization.historizeRunTable(spark, snap2, table, Seq("k"), Some(t2), buckets = 4)
      assert(!spark.catalog.tableExists(s"${table}__swap"))
      val files2 = dataFiles(table)
      Historization.historizeRunTable(spark, snap3, table, Seq("k"), Some(t3), buckets = 4)
      assert(!spark.catalog.tableExists(s"${table}__swap"))
      val files3 = dataFiles(table)
      for ((before, after) <- Seq(files1 -> files2, files2 -> files3, files1 -> files3))
        assert(before.forall { case (f, n) => after.get(f).contains(n) },
          s"an earlier data file was rewritten or removed:\n$before\n$after")
      assert((files2.size - files1.size) <= 4 && (files3.size - files2.size) <= 4,
        s"a run added more files than buckets: ${files1.size} -> ${files2.size} -> ${files3.size}")
      assert(files3.size > files1.size, "the delta runs appended nothing")

      // final store content ≡ the storage-free historizeFrames chain
      val e1 = MetaEnrichment.addMetaColumns(snap1, Currents(t1), Seq("k"))
      val m2 = Historization.historizeFrames(e1, snap2, Currents(t2), Seq("k"))
      val m3 = Historization.historizeFrames(m2, snap3, Currents(t3), Seq("k"))
      val got = Store.canonicalize(Store.readStoreTable(spark, table), m3.schema)
      assert(got.count() === m3.count())
      assert(got.exceptAll(m3).count() === 0)
      assert(m3.exceptAll(got).count() === 0)

      // compaction is the swap rewrite of the table onto itself
      Store.writeStoreTableSwap(Store.readStoreTable(spark, table), table, 4)
      val compacted = Store.canonicalize(Store.readStoreTable(spark, table), m3.schema)
      assert(compacted.exceptAll(m3).count() === 0 && m3.exceptAll(compacted).count() === 0)
      assert(!spark.catalog.tableExists(s"${table}__swap"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__swap")
    }
  }

  test("table historization crash contract: a partial commit converges when re-run, a failed write changes nothing") {
    import graft.operators.Cdc
    import graft.pipeline.Historization
    val (table, clean) = ("graft_hist_table_crash", "graft_hist_table_clean")
    Seq(table, clean).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val snap1 = (1 to 200).map(i => (s"k$i", s"v${i % 7}")).toDF("k", "v")
    val snap2 = (1 to 230).map(i => (s"k$i", s"v${i % 5}")).toDF("k", "v")
    val (t1, t2, t3) = ("2024-01-01 10:00:00", "2024-02-15 10:30:00", "2024-03-01 09:00:00")
    def run(t: String, snap: org.apache.spark.sql.DataFrame, ts: String) =
      Historization.historizeRunTable(spark, snap, t, Seq("k"), Some(ts), buckets = 4)
    try {
      Seq(table, clean).foreach(run(_, snap1, t1))
      run(clean, snap2, t2)

      // a commit that crashed half-way: part of run 2's delta, with run 2's
      // stamps, is already in the table
      val enr2 = MetaEnrichment.addMetaColumns(snap2, Currents(t2), Seq("k"))
      val delta2 = Cdc.delta(Store.readStoreTable(spark, table), enr2).localCheckpoint()
      val partial = delta2.filter(pmod(hash(col(MetaColumns.KeyHash)), lit(2)) === 0)
      val (nPartial, nDelta) = (partial.count(), delta2.count())
      assert(nPartial > 0 && nPartial < nDelta)
      Store.appendStoreTable(partial, table)
      assert(Store.readStoreTable(spark, table).count() === 200 + nPartial)

      // re-running the batch appends exactly the rest: the clean store
      run(table, snap2, t2)
      val got = Store.readStoreTable(spark, table)
      val want = Store.readStoreTable(spark, clean)
      assert(got.count() === want.count())
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
      assert(got.groupBy(MetaColumns.KeyHash, MetaColumns.RecordHash).count()
        .filter($"count" > 1).count() === 0, "a (KEY_HASH, RECORD_HASH) pair was stored twice")

      // a load that fails at execution leaves no trace: the hashed column
      // of one row raises while the delta is computed
      val (rowsBefore, filesBefore) = (got.count(), allFiles(table))
      val poisoned = (1 to 230).map(i => (s"k$i", s"w$i")).toDF("k", "v")
        .withColumn("v", when($"k" === "k17", raise_error(lit("poisoned row"))).otherwise($"v"))
      intercept[Exception](run(table, poisoned, t3))
      assert(Store.readStoreTable(spark, table).count() === rowsBefore)
      assert(allFiles(table) === filesBefore)
    } finally Seq(table, clean).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("readOrCreate builds once, then reads the committed store") {
    val path = java.nio.file.Files.createTempDirectory("graft_once").toString + "/derived"
    var builds = 0
    def build() = { builds += 1; (1 to 50).map(i => (i.toLong, i % 5)).toDF("id", "g") }
    val first = Store.readOrCreate(spark, path)(build())
    assert(first.count() === 50)
    assert(builds === 1)
    // second ask: served from the store, the builder never runs
    val second = Store.readOrCreate(spark, path)(build())
    assert(builds === 1)
    assert(second.exceptAll(first).count() === 0)
    assert(first.exceptAll(second).count() === 0)
  }

  test("generation store: a reader holding the pre-commit frame completes during a swap") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen").toString + "/store"
    val g1 = Store.writeStoreGeneration(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    // the continuous reader resolves and PINS generation 1
    val Some((pinnedGen, pinned)) = Store.readStoreLatest(spark, path)
    assert(pinnedGen === g1)
    // a maintenance pass commits generation 2 (keep=2: gen 1 survives)
    val g2 = Store.writeStoreGeneration(Seq((1L, "a2")).toDF("id", "v"), path)
    assert(g2 === g1 + 1)
    // the pinned plan still reads generation 1's files — no vanished-store
    // failure, old content intact (the writeStoreSwap weakness closed)
    assert(pinned.count() === 2)
    assert(pinned.filter($"v" === "b").count() === 1)
    // a fresh resolve sees the new generation
    assert(Store.readStoreLatest(spark, path).get._2.count() === 1)
  }

  test("generation store: retention prunes to keep newest, travel reads a pinned pass") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen_keep").toString + "/store"
    val g1 = Store.writeStoreGeneration(Seq(1L).toDF("id"), path, keep = 2)
    val g2 = Store.writeStoreGeneration(Seq(1L, 2L).toDF("id"), path, keep = 2)
    assert(Store.readStoreGeneration(spark, path, g1).count() === 1)
    val g3 = Store.writeStoreGeneration(Seq(1L, 2L, 3L).toDF("id"), path, keep = 2)
    assert(Store.listGenerations(spark, path) === Seq(g2, g3))
    // generation travel: pass 2's store exactly as it was committed
    assert(Store.readStoreGeneration(spark, path, g2).as[Long].collect().toSet === Set(1L, 2L))
    // pruned generations refuse loudly
    intercept[IllegalArgumentException](Store.readStoreGeneration(spark, path, g1))
  }

  test("generation store: uncommitted debris is invisible and never re-entered") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen_dead").toString + "/store"
    val g1 = Store.writeStoreGeneration(Seq(1L).toDF("id"), path)
    // a dead writer's directory: exists, no _SUCCESS
    val dead = new java.io.File(Store.generationPath(path, g1 + 1))
    assert(dead.mkdirs())
    assert(Store.listGenerations(spark, path) === Seq(g1))
    assert(Store.readStoreLatest(spark, path).get._1 === g1)
    // the next commit skips PAST the dead directory instead of writing into it
    val g3 = Store.writeStoreGeneration(Seq(1L, 2L).toDF("id"), path)
    assert(g3 === g1 + 2)
    assert(Store.listGenerations(spark, path) === Seq(g1, g3))
  }

  test("generation store: compaction commits a compacted NEW pass, priors undisturbed") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen_compact").toString + "/store"
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val g1 = Store.writeStoreGeneration(df.repartition(40), path, keep = 3)
    val pinned = Store.readStoreGeneration(spark, path, g1)
    val (before, after) = Store.compactStoreGenerations(spark, path, keep = 3)
    assert(before >= 40 && after < before, s"files $before -> $after")
    // rows identical in the compacted pass; the pre-compaction pass still reads
    val latest = Store.readStoreLatest(spark, path).get
    assert(latest._1 === g1 + 1)
    assert(latest._2.as[(Long, String)].collect().toSet ===
      df.as[(Long, String)].collect().toSet)
    assert(pinned.count() === 500)
    intercept[IllegalArgumentException](
      Store.compactStoreGenerations(spark, path + "_missing"))
  }

  test("generation store: run travel across generations composes both axes") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen_run").toString + "/store"
    val cur1 = Currents("2024-01-01 10:00:00")
    val cur2 = Currents("2024-02-15 10:00:00")
    val r1 = graft.pipeline.Historization.historizeFrames(
      MetaEnrichment.addMetaColumns(Seq(("a", "1")).toDF("k", "v"), cur1, Seq("k")).limit(0),
      Seq(("a", "1"), ("b", "2")).toDF("k", "v"), cur1, Seq("k"))
    val gen1 = Store.writeStoreGeneration(r1, path)
    val r2 = graft.pipeline.Historization.historizeFrames(
      Store.readStoreGeneration(spark, path, gen1),
      Seq(("a", "1x"), ("b", "2")).toDF("k", "v"), cur2, Seq("k"))
    val gen2 = Store.writeStoreGeneration(r2, path)
    // pass 2 preserved: travel within it to run 1 reproduces run 1's content
    val traveled = Store.readStoreGenerationAsOfRun(spark, path, gen2, cur1.runId)
    assert(traveled.select("k", "v").as[(String, String)].collect().toSet ===
      Set(("a", "1"), ("b", "2")))
    // and the full pass-2 store holds the run-2 version too
    assert(Store.readStoreGeneration(spark, path, gen2).count() === 3)
  }

  test("generation store: interleaved concurrent writers commit distinct generations") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = java.nio.file.Files.createTempDirectory("graft_gen_cas").toString + "/store"
    // 3 writers × 3 commits each, racing on the next sequence number; the
    // CAS commit (build private, rename-if-absent, retry on collision)
    // must land every commit in its OWN directory
    val written = Await.result(Future.traverse((0 until 3).toList) { w =>
      Future {
        (0 until 3).map { i =>
          val tag = s"w$w-$i"
          val gen = Store.writeStoreGeneration(
            (1 to 10).map(r => (tag, r)).toDF("tag", "r"), path, keep = 100)
          (gen, tag)
        }
      }
    }.map(_.flatten), 120.seconds)
    // every commit got a DISTINCT generation number
    assert(written.map(_._1).distinct.size === 9, s"collided: $written")
    assert(Store.listGenerations(spark, path).toSet === written.map(_._1).toSet)
    // and no directory interleaves files from two writers: each committed
    // generation holds exactly its writer's 10 rows, one tag
    written.foreach { case (gen, tag) =>
      val rows = Store.readStoreGeneration(spark, path, gen)
      assert(rows.count() === 10, s"gen $gen row count")
      assert(rows.select("tag").distinct().as[String].collect().toSeq === Seq(tag),
        s"gen $gen interleaved writers")
    }
    // no build debris left behind
    val leftovers = new java.io.File(path).listFiles.filter(_.getName.startsWith("_gen_build_"))
    assert(leftovers.isEmpty, s"stale builds: ${leftovers.mkString(",")}")
  }

  test("commitSnapshot/readSnapshot: cross-store reads are all-from-one-pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapshot").toString
    def pass(tag: String) = Seq(
      ("a", s"$dir/a", Seq((1L, tag)).toDF("id", "v")),
      ("b", s"$dir/b", Seq((2L, tag)).toDF("id", "v")))
    val m1 = Store.commitSnapshot(spark, s"$dir/manifest", pass("p1"))
    val paths = Map("a" -> s"$dir/a", "b" -> s"$dir/b")
    // a reader resolves the pass-1 manifest, then pass 2 commits UNDER it
    val (g1, pinned1) = Store.readSnapshot(spark, s"$dir/manifest", paths).get
    assert(g1 === m1)
    Store.commitSnapshot(spark, s"$dir/manifest", pass("p2"))
    // the held snapshot still reads pass 1 from BOTH stores — commits
    // only ever create new directories
    assert(pinned1("a").select("v").as[String].head() === "p1")
    assert(pinned1("b").select("v").as[String].head() === "p1")
    // a fresh resolve sees pass 2 from both
    val (_, pinned2) = Store.readSnapshot(spark, s"$dir/manifest", paths).get
    assert(pinned2("a").select("v").as[String].head() === "p2")
    assert(pinned2("b").select("v").as[String].head() === "p2")
    // snapshot TRAVEL: the pass-1 manifest still resolves the pass-1 pair
    val (_, back) = Store.readSnapshot(spark, s"$dir/manifest", paths, Some(m1)).get
    assert(back("a").select("v").as[String].head() === "p1")
    assert(back("b").select("v").as[String].head() === "p1")
    // a subset read is fine; an unpinned name fails loudly (a silent
    // latest-fallback would reintroduce the mixed-pass read)
    assert(Store.readSnapshot(spark, s"$dir/manifest",
      Map("a" -> s"$dir/a")).get._2.keySet === Set("a"))
    intercept[IllegalArgumentException](Store.readSnapshot(spark, s"$dir/manifest",
      Map("c" -> s"$dir/c")))
    // no manifest ever committed -> None
    assert(Store.readSnapshot(spark, s"$dir/none", paths) === None)
  }

  test("commitSnapshot crash contract: store generations without a manifest stay invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapshot_crash").toString
    val paths = Map("a" -> s"$dir/a", "b" -> s"$dir/b")
    Store.commitSnapshot(spark, s"$dir/manifest", Seq(
      ("a", s"$dir/a", Seq((1L, "p1")).toDF("id", "v")),
      ("b", s"$dir/b", Seq((2L, "p1")).toDF("id", "v"))))
    // pass 2 crashes AFTER committing both stores but BEFORE the
    // manifest: snapshot readers keep resolving the complete pass-1 set
    Store.writeStoreGeneration(Seq((1L, "p2")).toDF("id", "v"), s"$dir/a")
    Store.writeStoreGeneration(Seq((2L, "p2")).toDF("id", "v"), s"$dir/b")
    val (_, pinned) = Store.readSnapshot(spark, s"$dir/manifest", paths).get
    assert(pinned("a").select("v").as[String].head() === "p1")
    assert(pinned("b").select("v").as[String].head() === "p1")
    // the restarted pass re-commits and the new manifest exposes it
    Store.commitSnapshot(spark, s"$dir/manifest", Seq(
      ("a", s"$dir/a", Seq((1L, "p2")).toDF("id", "v")),
      ("b", s"$dir/b", Seq((2L, "p2")).toDF("id", "v"))))
    val (_, after) = Store.readSnapshot(spark, s"$dir/manifest", paths).get
    assert(after("a").select("v").as[String].head() === "p2")
    assert(after("b").select("v").as[String].head() === "p2")
  }

  test("purgeSnapshot: erasure preserves the manifest history, minus the erased rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_purge").toString
    def pass(rows: Seq[Long], tag: String) = Seq(
      ("subj", s"$dir/subj", rows.map(i => (i, tag)).toDF("id", "v")),
      ("stats", s"$dir/stats", Seq((tag, rows.size)).toDF("tag", "n")))
    val m1 = Store.commitSnapshot(spark, s"$dir/m", pass(1L to 20L, "p1"))
    val m2 = Store.commitSnapshot(spark, s"$dir/m", pass(1L to 30L, "p2"))
    val paths = Map("subj" -> s"$dir/subj", "stats" -> s"$dir/stats")
    val mapping = Store.purgeSnapshot(spark, s"$dir/m",
      Seq(("subj", s"$dir/subj", "id")), Seq(7L, 13L).toDF("id"))
    // history preserved: both manifests rewritten, in order, old pruned
    assert(mapping.keySet === Set(m1, m2))
    assert(mapping(m1) < mapping(m2))
    assert(Store.listGenerations(spark, s"$dir/m").toSet === mapping.values.toSet)
    // the remapped pass-1 manifest resolves pass 1 minus the erased ids,
    // with the UNTOUCHED stats store still pinned to its pass-1 row
    val (_, p1) = Store.readSnapshot(spark, s"$dir/m", paths, Some(mapping(m1))).get
    assert(p1("subj").select("id").as[Long].collect().toSet ===
      (1L to 20L).filterNot(Set(7L, 13L)).toSet)
    assert(p1("stats").select("tag").as[String].head() === "p1")
    // latest resolves pass 2 minus the erased ids
    val (_, p2) = Store.readSnapshot(spark, s"$dir/m", paths).get
    assert(p2("subj").select("id").as[Long].collect().toSet ===
      (1L to 30L).filterNot(Set(7L, 13L)).toSet)
    assert(p2("stats").select("tag").as[String].head() === "p2")
    // no retained generation of the subject store holds an erased id
    Store.listGenerations(spark, s"$dir/subj").foreach { g =>
      val got = Store.readStoreGeneration(spark, s"$dir/subj", g)
        .select("id").as[Long].collect().toSet
      assert(!got.contains(7L) && !got.contains(13L), s"generation $g leaks erased ids")
    }
    // empty manifest store -> nothing to do
    assert(Store.purgeSnapshot(spark, s"$dir/none",
      Seq(("subj", s"$dir/subj", "id")), Seq(7L).toDF("id")) === Map.empty)
  }

  test("purgeSnapshot crash window: a run after a mid-purge crash still converges") {
    // nothing is pruned until stores are rewritten AND manifests are
    // remapped — so a crash that left purged store twins WITHOUT manifest
    // remaps keeps the old generations standing, and a re-run resolves
    // every old pin and finishes the erasure
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_crash").toString
    def pass(rows: Seq[Long], tag: String) = Seq(
      ("subj", s"$dir/subj", rows.map(i => (i, tag)).toDF("id", "v")))
    val m1 = Store.commitSnapshot(spark, s"$dir/m", pass(1L to 20L, "p1"), keep = 4)
    val m2 = Store.commitSnapshot(spark, s"$dir/m", pass(1L to 30L, "p2"), keep = 4)
    // the crashed run: subject generations rewritten minus id 7, nothing
    // pruned, manifests untouched
    Store.writeStoreGeneration(
      (1L to 20L).filterNot(_ == 7L).map(i => (i, "p1")).toDF("id", "v"),
      s"$dir/subj", keep = 10)
    Store.writeStoreGeneration(
      (1L to 30L).filterNot(_ == 7L).map(i => (i, "p2")).toDF("id", "v"),
      s"$dir/subj", keep = 10)
    // old manifests still resolve (old generations stand)
    val paths = Map("subj" -> s"$dir/subj")
    assert(Store.readSnapshot(spark, s"$dir/m", paths, Some(m1)).get
      ._2("subj").count() === 20)
    // the recovery run completes the erasure
    val mapping = Store.purgeSnapshot(spark, s"$dir/m", Seq(("subj", s"$dir/subj", "id")),
      Seq(7L).toDF("id"))
    assert(mapping.keySet === Set(m1, m2))
    Store.listGenerations(spark, s"$dir/subj").foreach { g =>
      assert(!Store.readStoreGeneration(spark, s"$dir/subj", g)
        .select("id").as[Long].collect().contains(7L), s"generation $g leaks")
    }
    Store.listGenerations(spark, s"$dir/m").foreach { m =>
      val (_, pinned) = Store.readSnapshot(spark, s"$dir/m", paths, Some(m)).get
      val got = pinned("subj").select("id").as[Long].collect().toSet
      assert(!got.contains(7L))
      assert(got === (1L to got.max).filterNot(_ == 7L).toSet,
        s"manifest $m resolves a torn pass: $got")
    }
  }

  test("snapshot rebase: the pinned delta union restarts at the base generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_rebase").toString
    val dp = Map("d" -> s"$dir/d")
    def delta(rows: Seq[Long], bases: Map[String, Long] = Map.empty) =
      Store.commitSnapshot(spark, s"$dir/m",
        Seq(("d", s"$dir/d", rows.toDF("id"))), keep = Int.MaxValue, bases = bases)
    def pinnedIds(gen: Option[Long] = None): Set[Long] =
      Store.readSnapshotDeltas(spark, s"$dir/m", dp, Map.empty, gen).get
        ._2("d").select("id").as[Long].collect().toSet
    val m1 = delta(Seq(1L, 2L))
    val m2 = delta(Seq(3L))
    assert(pinnedIds() === Set(1L, 2L, 3L), "plain delta union before any rebase")
    // the rebase: a FULL generation (here: the union minus an erased id)
    // becomes its own base — pre-base deltas stop backing the pin
    val m3 = Store.commitSnapshot(spark, s"$dir/m",
      Seq(("d", s"$dir/d", Seq(1L, 3L).toDF("id"))),
      keep = Int.MaxValue, rebase = Set("d"))
    assert(pinnedIds() === Set(1L, 3L), "the rebased pin reads the full generation only")
    // older manifests still resolve their pre-rebase unions (travel)
    assert(pinnedIds(Some(m1)) === Set(1L, 2L) && pinnedIds(Some(m2)) === Set(1L, 2L, 3L))
    // a later delta commit CARRIES the base forward: union = [base, pin]
    val base3 = Store.readManifestPins(spark, s"$dir/m").get._2("d")._2
    assert(base3 > 0L, "the rebase recorded its own generation as base")
    delta(Seq(4L), bases = Map("d" -> base3))
    assert(pinnedIds() === Set(1L, 3L, 4L),
      "post-rebase deltas stack on the base, never on the pre-base rows")
    // a commit that FORGETS the base resurrects pre-base rows — the
    // contract readManifestPins exists for
    delta(Seq(5L))
    assert(pinnedIds() === Set(1L, 2L, 3L, 4L, 5L))
    assert(m3 > m2)
  }

  test("snapshot rebase: pre-base-column manifests read as base 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_legacy").toString
    Store.writeStoreGeneration(Seq(1L, 2L).toDF("id"), s"$dir/d", keep = Int.MaxValue)
    Store.writeStoreGeneration(Seq(3L).toDF("id"), s"$dir/d", keep = Int.MaxValue)
    // a manifest written BEFORE the base column existed: (store, generation)
    Store.writeStoreGeneration(
      Seq(("d", 2L)).toDF("store", "generation").coalesce(1), s"$dir/m")
    assert(Store.readManifestPins(spark, s"$dir/m").get._2 === Map("d" -> (2L, 0L)))
    val got = Store.readSnapshotDeltas(spark, s"$dir/m",
      Map("d" -> s"$dir/d"), Map.empty).get._2("d")
    assert(got.select("id").as[Long].collect().toSet === Set(1L, 2L, 3L),
      "legacy manifests union every delta up to the pin")
  }

  test("compactSnapshotDeltas folds the pinned union into one rebased full generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_compact").toString
    val dp = Map("d" -> s"$dir/d")
    val fp = Map("f" -> s"$dir/f")
    def commitBatch(rows: Seq[Long], tag: String, bases: Map[String, Long]) =
      Store.commitSnapshot(spark, s"$dir/m", Seq(
        ("d", s"$dir/d", rows.toDF("id")),
        ("f", s"$dir/f", Seq(tag).toDF("v"))), keep = Int.MaxValue, bases = bases)
    commitBatch(Seq(1L, 2L), "p1", Map.empty)
    commitBatch(Seq(3L), "p2", Map.empty)
    // a crash orphan below the next pin: duplicate delta rows in the union
    Store.writeStoreGeneration(Seq(3L).toDF("id"), s"$dir/d", keep = Int.MaxValue)
    commitBatch(Seq(4L), "p3", Map.empty)
    def read() = Store.readSnapshotDeltas(spark, s"$dir/m", dp, fp).get._2
    assert(read()("d").count() === 5, "the orphan duplicates a row pre-compaction")
    assert(Store.compactSnapshotDeltas(spark, s"$dir/m", dp, fp).nonEmpty)
    // content-neutral as a SET, physically one directory, duplicates gone
    val after = read()
    assert(after("d").select("id").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    assert(after("d").count() === 4, "compaction collapsed the orphan duplicate")
    assert(after("f").select("v").as[String].head() === "p3",
      "full stores re-commit their pinned content unchanged")
    val (pin, base) = Store.readManifestPins(spark, s"$dir/m").get._2("d")
    assert(base === pin, "the compacted generation is its own base")
    // the loop stacks new deltas on the base by carrying it forward
    commitBatch(Seq(5L), "p4", Map("d" -> base))
    assert(read()("d").select("id").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L, 5L))
    assert(read()("d").count() === 5, "pre-base generations stay out of the union")
    // no manifest -> None
    assert(Store.compactSnapshotDeltas(spark, s"$dir/none", dp) === None)
  }

  test("pruneSnapshotHistory drops aged manifests and the generations nothing retained references") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_retain").toString
    val dp = Map("d" -> s"$dir/d")
    val fp = Map("f" -> s"$dir/f")
    def commitBatch(rows: Seq[Long], tag: String, bases: Map[String, Long]) =
      Store.commitSnapshot(spark, s"$dir/m", Seq(
        ("d", s"$dir/d", rows.toDF("id")),
        ("f", s"$dir/f", Seq(tag).toDF("v"))), keep = Int.MaxValue, bases = bases)
    val m1 = commitBatch(Seq(1L, 2L), "p1", Map.empty)
    commitBatch(Seq(3L), "p2", Map.empty)
    val m3 = Store.compactSnapshotDeltas(spark, s"$dir/m", dp, fp).get
    val base = Store.readManifestPins(spark, s"$dir/m").get._2("d")._2
    commitBatch(Seq(4L), "p4", Map("d" -> base))
    // keep 3: the oldest retained manifest pins base 0, which needs every
    // delta from generation 1 — the base-0 pin BLOCKS delta pruning
    val r1 = Store.pruneSnapshotHistory(spark, s"$dir/m", dp, fp, keepManifests = 3)
    assert(r1 === Map("d" -> 0, "f" -> 1, "manifest" -> 1),
      "m1 and the full store's unreferenced pass prune; base-0 blocks the deltas")
    assert(Store.listGenerations(spark, s"$dir/m").size === 3 &&
      Store.listGenerations(spark, s"$dir/d").size === 4)
    // keep 2: every retained manifest is post-rebase — the pre-rebase
    // deltas have nothing referencing them and go
    val r2 = Store.pruneSnapshotHistory(spark, s"$dir/m", dp, fp, keepManifests = 2)
    assert(r2 === Map("d" -> 2, "f" -> 1, "manifest" -> 1))
    // the newest read is untouched, and travel to the oldest RETAINED
    // manifest still resolves its full window
    val now = Store.readSnapshotDeltas(spark, s"$dir/m", dp, fp).get._2
    assert(now("d").select("id").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    assert(now("f").select("v").as[String].head() === "p4")
    val back = Store.readSnapshotDeltas(spark, s"$dir/m", dp, fp, Some(m3)).get._2
    assert(back("d").select("id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(back("f").select("v").as[String].head() === "p2")
    assert(!Store.listGenerations(spark, s"$dir/m").contains(m1), "aged manifests are gone")
    // guard rails
    intercept[IllegalArgumentException](
      Store.pruneSnapshotHistory(spark, s"$dir/m", dp, fp, keepManifests = 0))
    assert(Store.pruneSnapshotHistory(spark, s"$dir/none", dp, fp) === Map.empty)
  }

  test("purgeSnapshot remaps base generations alongside the pins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_purge_base").toString
    val dp = Map("d" -> s"$dir/d")
    Store.commitSnapshot(spark, s"$dir/m",
      Seq(("d", s"$dir/d", Seq((1L, "x"), (7L, "x")).toDF("id", "v"))),
      keep = Int.MaxValue)
    // rebase to a full generation, then one more delta on top of it
    Store.commitSnapshot(spark, s"$dir/m",
      Seq(("d", s"$dir/d", Seq((1L, "x"), (7L, "y")).toDF("id", "v"))),
      keep = Int.MaxValue, rebase = Set("d"))
    val base = Store.readManifestPins(spark, s"$dir/m").get._2("d")._2
    val mLast = Store.commitSnapshot(spark, s"$dir/m",
      Seq(("d", s"$dir/d", Seq((9L, "z")).toDF("id", "v"))),
      keep = Int.MaxValue, bases = Map("d" -> base))
    val mapping = Store.purgeSnapshot(spark, s"$dir/m",
      Seq(("d", s"$dir/d", "id")), Seq(7L).toDF("id"))
    // the remapped latest manifest still reads [base', pin']: the erased
    // id is gone AND the pre-base generation stays invisible — base
    // remapped through the same old->new mapping as the pin
    val (_, m) = Store.readSnapshotDeltas(spark, s"$dir/m", dp, Map.empty,
      Some(mapping(mLast))).get
    assert(m("d").select("id").as[Long].collect().toSet === Set(1L, 9L))
    val (pin, base2) = Store.readManifestPins(spark, s"$dir/m",
      Some(mapping(mLast))).get._2("d")
    assert(base2 > 0L && base2 < pin, "the purged manifest carries a remapped base")
  }

  test("purgeGenerations scrubs removed ids from every retained generation") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen_purge").toString + "/store"
    val g1 = Store.writeStoreGeneration(
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), path, keep = 3)
    val g2 = Store.writeStoreGeneration(
      (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v"), path, keep = 3)
    val g3 = Store.writeStoreGeneration(
      (1L to 40L).map(i => (i, s"w$i")).toDF("id", "v"), path, keep = 3)
    // a swap-layout past left an aside holding pre-purge content too
    Seq((7L, "aside")).toDF("id", "v").write.parquet(path + ".old")
    val preContents = Seq(g1, g2, g3).map(g =>
      g -> Store.readStoreGeneration(spark, path, g).as[(Long, String)].collect().toSet).toMap
    val removed = Seq(7L, 13L, 35L).toDF("id")
    val mapping = Store.purgeGenerations(spark, path, removed, "id")
    assert(mapping.keySet === Set(g1, g2, g3))
    // order preserved: g1's purge committed before g2's before g3's
    assert(mapping(g1) < mapping(g2) && mapping(g2) < mapping(g3))
    // only the purged replacements remain
    assert(Store.listGenerations(spark, path).toSet === mapping.values.toSet)
    // each replacement = its pre-purge content minus the removed ids —
    // which also means NO retained generation contains a removed id
    mapping.foreach { case (old, nw) =>
      val got = Store.readStoreGeneration(spark, path, nw).as[(Long, String)].collect().toSet
      assert(got === preContents(old).filterNot(r => Set(7L, 13L, 35L)(r._1)))
    }
    // latest content ≡ recompute over survivors
    assert(Store.readStoreLatest(spark, path).get._2.as[(Long, String)].collect().toSet ===
      (1L to 40L).filterNot(Set(7L, 13L, 35L)).map(i => (i, s"w$i")).toSet)
    // pre-purge generations provably pruned; the aside is gone
    Seq(g1, g2, g3).foreach(g =>
      intercept[IllegalArgumentException](Store.readStoreGeneration(spark, path, g)))
    assert(!new java.io.File(path + ".old").exists())
    // nothing standing → nothing to purge
    assert(Store.purgeGenerations(spark, path + "_missing", removed, "id") === Map.empty)
  }

  test("purgeGenerations: a reader pinned pre-purge completes inside the grace window") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = java.nio.file.Files.createTempDirectory("graft_gen_grace").toString + "/store"
    val g1 = Store.writeStoreGeneration(
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), path, keep = 2)
    val pinned = Store.readStoreGeneration(spark, path, g1)
    val purge = Future {
      Store.purgeGenerations(spark, path, Seq(3L).toDF("id"), "id", graceMillis = 6000)
    }
    // wait until the purge has committed its rewrites (pre-purge dirs
    // still standing — the grace window is now open)
    val deadline = System.currentTimeMillis() + 60000
    while (Store.listGenerations(spark, path).size < 2 &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(Store.listGenerations(spark, path).size >= 2, "purge rewrite never committed")
    // the pinned reader completes during the grace window
    assert(pinned.count() === 50)
    val mapping = Await.result(purge, 120.seconds)
    // after the window: the pre-purge generation is provably pruned
    intercept[IllegalArgumentException](Store.readStoreGeneration(spark, path, g1))
    assert(Store.readStoreGeneration(spark, path, mapping(g1)).count() === 49)
  }

  test("migrateToGenerations adopts a swap-layout store as generation 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_migrate").toString
    val path = s"$dir/labels"
    Store.writeStoreSwap(Seq((1L, 10L), (2L, 10L)).toDF("id", "cluster_id"), path, Nil)
    // plain layout reads as ABSENT through the generation API — the silent
    // data-loss shape the migration exists to close
    assert(Store.readStoreLatest(spark, path).isEmpty)
    val gen = Store.migrateToGenerations(spark, path)
    assert(gen.isDefined)
    val (g, adopted) = Store.readStoreLatest(spark, path).get
    assert(g === gen.get)
    assert(adopted.as[(Long, Long)].collect().toSet === Set((1L, 10L), (2L, 10L)))
    // idempotent: a second call finds generation layout, nothing to do
    assert(Store.migrateToGenerations(spark, path) === None)
    // and the generation loop continues on top of the adopted content
    val g2 = Store.writeStoreGeneration(Seq((1L, 10L)).toDF("id", "cluster_id"), path)
    assert(g2 === g + 1)
    // mixed layout (root _SUCCESS AND committed generations) refuses
    val mixed = s"$dir/mixed"
    Store.writeStoreGeneration(Seq(1L).toDF("id"), mixed)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(mixed, "_SUCCESS"))
    intercept[IllegalArgumentException](Store.migrateToGenerations(spark, mixed))
  }

  test("readOrCreate sweeps stale crashed-builder siblings of a committed store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sweep").toString
    val path = s"$dir/derived"
    Store.readOrCreate(spark, path)(Seq(1L, 2L).toDF("id"))
    // a crashed builder's debris: _build_* sibling, 25 h old
    val stale = new java.io.File(dir, "_build_deadbeef")
    assert(stale.mkdirs())
    assert(stale.setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
    // a LIVE builder's sibling (fresh mtime) must survive the sweep
    val live = new java.io.File(dir, "_build_12345678")
    assert(live.mkdirs())
    assert(Store.readOrCreate(spark, path)(Seq(1L, 2L).toDF("id")).count() === 2)
    assert(!stale.exists(), "stale builder debris not swept")
    assert(live.exists(), "live builder directory must not be touched")
  }

  test("writeStoreSwap self-heals a crash between the aside and final renames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_swap_heal").toString
    val path = s"$dir/store"
    Seq((1L, "old")).toDF("id", "v").write.parquet(path)
    // simulate the crash window: target renamed aside, tmp never renamed in
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    assert(!new java.io.File(path).exists())
    // next swap restores the old generation first (its lineage may read it),
    // then commits the new one; no data is ever lost
    Store.writeStoreSwap(Seq((2L, "new")).toDF("id", "v"), path, Nil)
    assert(spark.read.parquet(path).select("v").as[String].collect().toSeq === Seq("new"))
    assert(!new java.io.File(path + ".old").exists())
    assert(!new java.io.File(path + ".tmp").exists())
  }

  test("table swap heals its rename-gap crash instead of bootstrapping over history") {
    import graft.pipeline.Historization
    val table = "graft_heal_table"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}__swap")
    try {
      val snap1 = (1 to 50).map(i => (s"k$i", "v1")).toDF("k", "v")
      Historization.historizeRunTable(spark, snap1, table, Seq("k"),
        Some("2024-01-01 10:00:00"), buckets = 2)
      // simulate the crash window of a later swap: table dropped, the new
      // generation stranded under the swap name
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__swap")
      assert(!spark.catalog.tableExists(table))
      // the next run must heal and MERGE — a raw existence check would
      // bootstrap and silently discard the accumulated history
      val snap2 = (1 to 50).map(i => (s"k$i", "v2")).toDF("k", "v")
      val out = Historization.historizeRunTable(spark, snap2, table, Seq("k"),
        Some("2024-02-01 10:00:00"), buckets = 2)
      assert(out.count() === 100, "history must survive the crash-heal (50 v1 + 50 v2)")
      assert(!spark.catalog.tableExists(s"${table}__swap"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__swap")
      ()
    }
  }

  test("generation compaction and purge preserve a hive-partitioned layout") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen_part").toString + "/store"
    val df = (1 to 300).map(i => (i.toLong, s"p${i % 3}", s"v$i")).toDF("id", "p", "v")
    Store.writeStoreGeneration(df.repartition(10), path, partitionColumns = Seq("p"), keep = 3)
    def partDirs(gen: Long) = new java.io.File(Store.generationPath(path, gen))
      .listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("p=")).sorted
    val (_, _) = Store.compactStoreGenerations(spark, path, keep = 3)
    val compacted = Store.readStoreLatest(spark, path).get
    assert(partDirs(compacted._1).toSeq === Seq("p=p0", "p=p1", "p=p2"),
      "compaction must keep the hive layout, not flatten it")
    assert(compacted._2.count() === 300)
    // purge rewrite: same preservation without an explicit partitionColumns
    val mapping = Store.purgeGenerations(spark, path,
      Seq(1L, 2L).toDF("id"), "id")
    val purged = Store.readStoreLatest(spark, path).get
    assert(mapping.nonEmpty)
    assert(partDirs(purged._1).toSeq === Seq("p=p0", "p=p1", "p=p2"),
      "purge must keep the hive layout, not flatten it")
    assert(purged._2.count() === 298)
  }

  test("removal frames: named id column wins, ambiguous multi-column frames are refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_removal").toString + "/s"
    (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v").write.parquet(dir)
    // a frame carrying extra columns BUT the id column by name: id wins
    val takedown = Seq(("gdpr", 3L), ("gdpr", 4L)).toDF("reason", "id")
    val n = Store.deleteFromStore(spark, dir, takedown, "id", countDeleted = true)
    assert(n === Some(2L))
    assert(spark.read.parquet(dir).count() === 18)
    // a multi-column frame with NO column named id is ambiguous — refused
    // (selecting whichever column is first would silently purge nothing)
    val ambiguous = Seq(("gdpr", 5L)).toDF("reason", "doc")
    intercept[IllegalArgumentException] {
      Store.deleteFromStore(spark, dir, ambiguous, "id")
    }
  }

  test("listGenerations skips non-numeric gen-like directories instead of failing") {
    val path = java.nio.file.Files.createTempDirectory("graft_gen_junk").toString + "/store"
    val g1 = Store.writeStoreGeneration(Seq(1L).toDF("id"), path)
    // an operator's manual aside: looks like a generation, parses as none
    val junk = new java.io.File(s"$path/gen-0000000000009.bak")
    assert(junk.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/gen-0000000000009.bak/_SUCCESS"), Array[Byte]())
    assert(Store.listGenerations(spark, path) === Seq(g1))
    assert(Store.readStoreLatest(spark, path).get._1 === g1)
  }

  test("bucketed point-lookup as-of reads one bucket and matches the full-scan path") {
    import graft.operators.Scd2
    import graft.operators.Scd2.ValidFromMode
    val c1 = Currents("2024-01-01 10:00:00")
    val c2 = Currents("2024-02-15 10:00:00")
    def snap(n: Int, c: Currents, salt: Int) = MetaEnrichment.addMetaColumns(
      (1 to n).map(i => (s"k$i", s"v${i % salt}")).toDF("k", "v"), c, Seq("k"))
    val v1 = Scd2.historizeDataset(snap(300, c1, 7), None, c1, ValidFromMode.LoadDate)
    val v2 = Scd2.historizeDataset(snap(300, c2, 5), Some(v1), c2, ValidFromMode.LoadDate)
    val path = java.nio.file.Files.createTempDirectory("graft_basof").toString + "/store"
    Store.writeStoreBucketed(v2, path, buckets = 16)
    val keyHash = v2.filter($"k" === "k42").select(MetaColumns.KeyHash).as[String].head()
    Seq("2024-01-15", "2024-03-01").foreach { day =>
      val hit = Store.readStoreBucketAsOf(spark, path, keyHash, day, buckets = 16)
      // exactly the version live that day: full-scan twin agrees
      val full = Store.readStoreAsOf(spark, path, day).get
        .filter(col(MetaColumns.KeyHash) === keyHash).drop("KEY_BUCKET")
      val cols = hit.columns.sorted.toSeq.map(col)
      assert(hit.count() === 1)
      assert(hit.select(cols: _*).exceptAll(full.select(cols: _*)).count() === 0)
      assert(full.select(cols: _*).exceptAll(hit.select(cols: _*)).count() === 0)
      // one bucket directory scanned; KEY_HASH and both validity bounds
      // reach the scan as pushed filters (read from the scan node's
      // metadata — the rendered plan string truncates the filter list)
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scans = hit.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty)
      val parts = scans.flatMap(_.metadata.get("PartitionFilters")).mkString
      assert(parts.contains("KEY_BUCKET"), s"no bucket pruning: $parts")
      val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString
      assert(pushed.contains("EqualTo(KEY_HASH") &&
        pushed.contains("LessThanOrEqual(VALID_FROM"),
        s"point-lookup filters not pushed: $pushed")
    }
  }

  test("bucket-pruned read finds the key and scans one partition") {
    val path = java.nio.file.Files.createTempDirectory("graft_store").toString + "/bucketed"
    Store.writeStoreBucketed(enriched, path, buckets = 16)
    val someHash = enriched.filter($"k" === "k42")
      .select(MetaColumns.KeyHash).as[String].head()
    val hit = Store.readStoreBucket(spark, path, someHash, buckets = 16)
    assert(hit.filter(col(MetaColumns.KeyHash) === someHash).count() === 1)
    // partition pruning: the scan's partition filter pins KEY_BUCKET
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("KEY_BUCKET"))
  }
}
