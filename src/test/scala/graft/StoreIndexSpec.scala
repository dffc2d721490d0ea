package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.StoreIndex

class StoreIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Interpreted reference for the z-value: interleave bit-by-bit. */
  private def zRef(x: Long, y: Long, bits: Int): Long = {
    val cap = (1L << bits) - 1
    val cx = math.min(math.max(x, 0L), cap)
    val cy = math.min(math.max(y, 0L), cap)
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((cx >> i) & 1L) << (2 * i + 1)) | (((cy >> i) & 1L) << (2 * i))
    }
  }

  test("zValue matches the interpreted bit-interleave reference, incl. clamping") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (12345L, 54321L),
      (1L << 20, (1L << 21) - 1), (-7L, 99L), (1L << 30, 2L))
    val got = cases.toDF("x", "y")
      .select(StoreIndex.zValue(col("x"), col("y"), 21).as("z"))
      .as[Long].collect()
    val want = cases.map { case (x, y) => zRef(x, y, 21) }
    assert(got.toSeq === want)
  }

  test("zValue is monotone along each axis within a fixed other coordinate's block") {
    // not globally monotone (that's the point of the curve), but for a
    // fixed y, increasing x strictly increases z — ordering never inverts
    // inside an axis, which is what keeps per-file ranges meaningful
    val rows = for (x <- 0L until 64L) yield (x, 17L)
    val zs = rows.toDF("x", "y").select(StoreIndex.zValue(col("x"), col("y"), 8).as("z"))
      .as[Long].collect()
    assert(zs.toSeq === zs.sorted.toSeq)
  }

  test("sorted store + manifest: skipping read is row-identical and reads fewer files") {
    val dir = Files.createTempDirectory("graft-skip").toString + "/store"
    val df = spark.range(0, 10000).select(
      (col("id") % 5000).as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 8)

    val skipped = StoreIndex.readStoreSkipping(spark, dir, "k", 100L, 300L)
    val expected = spark.read.parquet(dir).filter(col("k").between(100, 300))
    assert(skipped.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(skipped).count() === 0)
    val total = spark.read.parquet(dir).inputFiles.length
    assert(total === 8)
    assert(skipped.inputFiles.length < total,
      s"expected pruning: ${skipped.inputFiles.length} vs $total files")
  }

  test("two-level manifest: a bounded probe reads only the intersecting group slices") {
    // 64 files (16x the suite's usual 4-file fixtures), 4 files per group
    // -> 16 groups: a probe inside one file's key range must consult at
    // most ceil(files/groups) + 1 = 2 slices, never the whole manifest
    val dir = Files.createTempDirectory("graft-skip-2level").toString + "/store"
    val df = spark.range(0, 64000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 64)
    StoreIndex.writeStatsManifest(spark, dir, Seq("k"), groupSize = 4)
    // manifest is physically sliced: 16 group partitions on disk
    val groupDirs = new java.io.File(StoreIndex.statsManifestPath(dir))
      .listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("group="))
    assert(groupDirs.length === 16, groupDirs.toSeq)
    // a probe covering ~one file's range consults <= 2 groups
    val probed = StoreIndex.probeManifestGroups(spark, dir, Seq(("k", 10100L, 10200L)))
    assert(probed.isDefined, "summary must be usable")
    assert(probed.get.size <= 2, s"expected <= 2 group slices, got ${probed.get}")
    // and the read through the sliced path stays row-identical + pruned
    val skipped = StoreIndex.readStoreSkipping(spark, dir, "k", 10100L, 10200L)
    val expected = spark.read.parquet(dir).filter(col("k").between(10100, 10200))
    assert(skipped.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(skipped).count() === 0)
    assert(skipped.inputFiles.length <= 2, s"file pruning: ${skipped.inputFiles.length}")
    // a file appended behind the manifest's back stales the FINGERPRINT:
    // the probe refuses the summary and the read falls back, still correct
    spark.range(100000, 100100).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(dir)
    assert(StoreIndex.probeManifestGroups(spark, dir, Seq(("k", 10100L, 10200L))).isEmpty)
    assert(StoreIndex.readStoreSkipping(spark, dir, "k", 100000L, 100050L).count() === 51)
  }

  test("appendStoreSorted keeps the two-level summary fresh and the probe bounded") {
    val dir = Files.createTempDirectory("graft-skip-2append").toString + "/store"
    val df = spark.range(0, 8000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 16)
    StoreIndex.writeStatsManifest(spark, dir, Seq("k"), groupSize = 4)
    StoreIndex.appendStoreSorted(
      spark.range(8000, 8500).select(col("id").as("k"), col("id").as("v")),
      dir, Seq("k"))
    // the append REGROUPED the manifest: summary fresh, probe still bounded
    val probed = StoreIndex.probeManifestGroups(spark, dir, Seq(("k", 8100L, 8200L)))
    assert(probed.isDefined, "summary must be fresh after the append")
    assert(probed.get.size <= 2, s"expected <= 2 group slices, got ${probed.get}")
    val out = StoreIndex.readStoreSkipping(spark, dir, "k", 8100L, 8200L)
    assert(out.count() === 101)
  }

  test("empty-intersection range returns zero rows with the store schema, zero files") {
    val dir = Files.createTempDirectory("graft-skip-empty").toString + "/store"
    val df = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 4)
    val out = StoreIndex.readStoreSkipping(spark, dir, "k", 5000L, 6000L)
    assert(out.count() === 0)
    assert(out.schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("stale manifest falls back to the full scan and stays correct") {
    val dir = Files.createTempDirectory("graft-skip-stale").toString + "/store"
    val df = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 4)
    // append rows OUTSIDE the manifest (a writer that didn't refresh it):
    // new file holds keys the manifest knows nothing about
    spark.range(2000, 2100).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(dir)
    val out = StoreIndex.readStoreSkipping(spark, dir, "k", 2000L, 2050L)
    assert(out.count() === 51) // correct despite the manifest never covering these keys
  }

  test("missing manifest column falls back; nulls are handled soundly") {
    val dir = Files.createTempDirectory("graft-skip-null").toString + "/store"
    val df = spark.range(0, 1000)
      .select(when(col("id") < 100, null).otherwise(col("id")).as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 4)
    // range predicate never matches NULL: skipping result ≡ filter
    val out = StoreIndex.readStoreSkipping(spark, dir, "k", 150L, 250L)
    val expected = spark.read.parquet(dir).filter(col("k").between(150, 250))
    assert(out.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(out).count() === 0)
    // un-covered column → full-scan fallback, still correct
    val fb = StoreIndex.readStoreSkipping(spark, dir, "v", 10L, 20L)
    assert(fb.count() === 11)
  }

  test("countRange: exact on every range shape, metadata-only when files are contained") {
    val dir = Files.createTempDirectory("graft-cntrange").toString + "/store"
    val df = spark.range(0, 10000).select(
      (col("id") % 5000).as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 8)
    val full = spark.read.parquet(dir)
    def exact(lo: Long, hi: Long): Long =
      full.filter(col("k").between(lo, hi)).count()
    def got(lo: Long, hi: Long) =
      StoreIndex.countRange(spark, dir, "k", lo, hi)
    // mid-range (interior + boundary files), single-file range, empty
    // range beyond the domain, inverted bounds, full domain
    for ((lo, hi) <- Seq((700L, 3800L), (100L, 120L), (9000L, 9999L),
        (300L, 200L), (0L, 4999L))) {
      assert(got(lo, hi).as[Long].collect().toSeq === Seq(exact(lo, hi)),
        s"countRange($lo, $hi) diverged from the exact count")
    }
    // the full-domain count is answered WITHOUT opening any data file:
    // every file is contained, so the result frame has no parquet scan
    assert(got(0L, 4999L).inputFiles.isEmpty,
      "all-contained range should be answered from the manifest alone")
    // a mid-range count opens only the two BOUNDARY files of the sorted
    // layout — the contained middle contributes via manifest arithmetic
    val mid = got(700L, 3800L)
    assert(mid.as[Long].collect().toSeq === Seq(exact(700L, 3800L)))
    assert(mid.inputFiles.length <= 2,
      s"expected <=2 boundary files, got ${mid.inputFiles.length}")
  }

  test("countRange: null keys never count; stale manifest falls back exactly") {
    val dir = Files.createTempDirectory("graft-cntnull").toString + "/store"
    val df = spark.range(0, 1000).select(
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).as("k"),
      col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 4)
    val exact = spark.read.parquet(dir)
      .filter(col("k").between(0, 999)).count()
    assert(exact === 900L, "fixture sanity: 100 null keys excluded")
    // the whole-domain range contains every file; nulls must come OFF the
    // manifest's n_rows via the recorded null counts
    val whole = StoreIndex.countRange(spark, dir, "k", 0L, 999L)
    assert(whole.as[Long].collect().toSeq === Seq(900L))
    // a count needs no null-free file: every file answers from metadata
    assert(whole.inputFiles.isEmpty, "null-key files must stay metadata-only for a count")
    // stale manifest (a data file appended behind its back) -> exact full
    // count, never manifest arithmetic over the stale rows
    spark.range(5000, 5100).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(dir)
    assert(StoreIndex.countRange(spark, dir, "k", 0L, 9999L)
      .as[Long].collect().toSeq === Seq(1000L))
  }

  test("aggRange: metadata-first sums equal the exact rollup, incl. null keys and measures") {
    val dir = Files.createTempDirectory("graft-aggrange").toString + "/store"
    val df = spark.range(0, 10000).select(
      // every 50th KEY is null: its measure must never leak into a
      // metadata-only contribution (the file holding it demotes to scan)
      when(col("id") % 50 === 0, lit(null)).otherwise(col("id") % 5000).as("k"),
      // every 7th MEASURE is null: sums skip it, non-null counts track it
      when(col("id") % 7 === 0, lit(null))
        .otherwise((col("id") % 100).cast("decimal(10,2)")).as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 8,
      statsCols = Seq("k", "v"))
    val full = spark.read.parquet(dir)
    def exact(lo: Long, hi: Long) =
      full.filter(col("k").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    def got(lo: Long, hi: Long) =
      StoreIndex.aggRange(spark, dir, "k", lo, hi, Seq("v"))
    for ((lo, hi) <- Seq((700L, 3800L), (100L, 120L), (0L, 4999L),
        (9000L, 9999L), (300L, 200L))) {
      val g = got(lo, hi).collect().toSeq
      val e = exact(lo, hi).collect().toSeq
      assert(g === e, s"aggRange($lo, $hi): $g != $e")
    }
    // schema (dtype) identity with the exact path — the driver's oracle
    // compare hashes dtypes too
    assert(got(700L, 3800L).schema === exact(700L, 3800L).schema)
    // the all-null-measure degenerate range: sum must be NULL, not 0
    val allNull = spark.range(0, 70).select(lit(7777L).as("k"),
      lit(null).cast("decimal(10,2)").as("v"))
    val dir2 = Files.createTempDirectory("graft-aggnull").toString + "/store"
    StoreIndex.writeStoreSorted(allNull, dir2, Seq("k"), numFiles = 2,
      statsCols = Seq("k", "v"))
    val r = StoreIndex.aggRange(spark, dir2, "k", 0L, 9999L, Seq("v")).collect()(0)
    assert(r.getLong(0) === 70L && r.isNullAt(1),
      "sum over only-null measures must be SQL NULL")
    // a store without recorded value stats answers exactly via the scan
    val dir3 = Files.createTempDirectory("graft-aggnosum").toString + "/store"
    StoreIndex.writeStoreSorted(df, dir3, Seq("k"), numFiles = 4) // stats: k only
    assert(StoreIndex.aggRange(spark, dir3, "k", 700L, 3800L, Seq("v"))
      .collect().toSeq === exact(700L, 3800L).collect().toSeq)
  }

  test("aggRange: a wide range on the sorted layout opens only the edge files") {
    val dir = Files.createTempDirectory("graft-aggprune").toString + "/store"
    val df = spark.range(0, 10000).select(
      (col("id") % 5000).as("k"), (col("id") % 100).cast("decimal(10,2)").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 8,
      statsCols = Seq("k", "v"))
    val full = spark.read.parquet(dir)
    val mid = StoreIndex.aggRange(spark, dir, "k", 700L, 3800L, Seq("v"))
    assert(mid.collect().toSeq ===
      full.filter(col("k").between(700, 3800))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v")).collect().toSeq)
    assert(mid.inputFiles.length <= 2,
      s"expected <=2 boundary files, got ${mid.inputFiles.length}")
    // whole domain: all files contained, no data file opened at all
    val whole = StoreIndex.aggRange(spark, dir, "k", 0L, 4999L, Seq("v"))
    assert(whole.inputFiles.isEmpty,
      "all-contained rollup should be answered from the manifest alone")
    assert(whole.collect().toSeq ===
      full.agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v")).collect().toSeq)
  }

  test("statsRange: metadata quad rollup equals the exact aggregate on every shape") {
    val dir = Files.createTempDirectory("graft-statsrange").toString + "/store"
    val df = spark.range(0, 10000).select(
      when(col("id") % 50 === 0, lit(null)).otherwise(col("id") % 5000).as("k"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise((col("id") % 100).cast("decimal(10,2)")).as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 8,
      statsCols = Seq("k", "v"))
    val full = spark.read.parquet(dir)
    def exact(lo: Long, hi: Long) =
      full.filter(col("k").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          (sum(col("v")).cast("double") / count(col("v"))).as("avg_v"))
    def got(lo: Long, hi: Long) =
      StoreIndex.statsRange(spark, dir, "k", lo, hi, Seq("v"))
    for ((lo, hi) <- Seq((700L, 3800L), (100L, 120L), (0L, 4999L),
        (9000L, 9999L), (300L, 200L))) {
      val g = got(lo, hi).collect().toSeq
      val e = exact(lo, hi).collect().toSeq
      assert(g === e, s"statsRange($lo, $hi): $g != $e")
    }
    // dtype identity with the exact path (nullability excluded: the
    // parquet dump round-trip erases it and the driver hashes DuckDB-
    // described dtypes)
    assert(got(700L, 3800L).schema.map(f => (f.name, f.dataType)) ===
      exact(700L, 3800L).schema.map(f => (f.name, f.dataType)))
    // all-contained domain: answered from the manifest alone, zero files
    val clean = Files.createTempDirectory("graft-statsclean").toString + "/store"
    StoreIndex.writeStoreSorted(
      spark.range(0, 5000).select(col("id").as("k"),
        (col("id") % 100).cast("decimal(10,2)").as("v")),
      clean, Seq("k"), numFiles = 8, statsCols = Seq("k", "v"))
    val whole = StoreIndex.statsRange(spark, clean, "k", 0L, 4999L, Seq("v"))
    assert(whole.inputFiles.isEmpty,
      "all-contained quad rollup should be metadata-only")
    // all-null-measure degenerate: sum/min/max/avg all SQL NULL
    val dir2 = Files.createTempDirectory("graft-statsnull").toString + "/store"
    StoreIndex.writeStoreSorted(
      spark.range(0, 70).select(lit(7777L).as("k"),
        lit(null).cast("decimal(10,2)").as("v")),
      dir2, Seq("k"), numFiles = 2, statsCols = Seq("k", "v"))
    val r = StoreIndex.statsRange(spark, dir2, "k", 0L, 9999L, Seq("v")).collect()(0)
    assert(r.getLong(0) === 70L && (1 to 4).forall(r.isNullAt),
      "only-null measures: every rollup field must be SQL NULL")
    // min/max unrecorded for v (stats: k only) -> exact via candidate scan
    val dir3 = Files.createTempDirectory("graft-statsnostats").toString + "/store"
    StoreIndex.writeStoreSorted(df, dir3, Seq("k"), numFiles = 4)
    assert(StoreIndex.statsRange(spark, dir3, "k", 700L, 3800L, Seq("v"))
      .collect().toSeq === exact(700L, 3800L).collect().toSeq)
  }

  test("legacy pre-sum manifest rows demote to the scan after an append (never a 0 sum)") {
    // a manifest written BEFORE the sum-quad era records min/max/nulls for
    // v but no sum_v; a later appendStoreSorted unions it with fresh
    // sum-carrying rows (allowMissingColumns), leaving the legacy rows
    // with non-null nulls_v and NULL sum_v. Those rows must route to the
    // boundary scan — contributing coalesce(sum, 0) would be a silently
    // wrong non-NULL total (ADVICE r14, high).
    val dir = Files.createTempDirectory("graft-legacy").toString + "/store"
    val df = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 100).cast("decimal(10,2)").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 4,
      statsCols = Seq("k", "v"))
    // simulate the pre-sum era: rewrite the _stats slices WITHOUT sum_v,
    // preserving group + grouping_token (summary untouched, still tied)
    val statsPath = StoreIndex.statsManifestPath(dir)
    val legacy = spark.read.parquet(statsPath).drop("sum_v", "sum_k")
    val rows = legacy.collect().toSeq
    val schema = legacy.schema
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.partitionBy("group").mode("overwrite").parquet(statsPath)
    // maintained append: fresh stats DO carry sums; the union leaves the
    // standing rows' sums NULL
    StoreIndex.appendStoreSorted(
      spark.range(10000, 10500).select(col("id").as("k"),
        (col("id") % 100).cast("decimal(10,2)").as("v")),
      dir, Seq("k"), numFiles = 1, statsCols = Seq("k", "v"))
    val m = spark.read.parquet(statsPath)
    assert(m.columns.contains("sum_v") &&
      m.filter(col("sum_v").isNull && col("nulls_v").isNotNull).count() === 4,
      "the four legacy rows must carry NULL sum_v beside non-null nulls_v")
    val full = spark.read.parquet(dir)
    def exact(lo: Long, hi: Long) =
      full.filter(col("k").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    // ranges that wholly CONTAIN legacy files: without the demotion the
    // metadata path would add 0 for their sums
    for ((lo, hi) <- Seq((0L, 3999L), (0L, 10499L), (500L, 3500L))) {
      val g = StoreIndex.aggRange(spark, dir, "k", lo, hi, Seq("v")).collect().toSeq
      assert(g === exact(lo, hi).collect().toSeq, s"aggRange($lo, $hi) on legacy rows")
    }
    // the quad rollup shares the containment ladder
    val g2 = StoreIndex.statsRange(spark, dir, "k", 0L, 10499L, Seq("v")).collect()(0)
    val e2 = full.filter(col("k").between(0, 10499))
      .agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("v")),
        sum(col("v")).cast("double") / count(col("v"))).collect()(0)
    assert(g2 === e2, "statsRange on legacy rows must demote, not guess")
    // the appended (sum-carrying) file alone still answers metadata-only
    val fresh = StoreIndex.aggRange(spark, dir, "k", 10000L, 10499L, Seq("v"))
    assert(fresh.inputFiles.isEmpty, "the fresh file's sums are trusted")
    assert(fresh.collect().toSeq === exact(10000L, 10499L).collect().toSeq)
  }

  test("appendStoreSorted without a summary uses the flat check and stays maintained") {
    // the O(groups) staleness proof needs the _stats_summary; with it
    // deleted, the append must fall back to the flat name comparison and
    // still treat the manifest as fresh — extending it at batch cost
    // instead of a full rebuild or a silent invalidation
    val dir = Files.createTempDirectory("graft-nosummary").toString + "/store"
    StoreIndex.writeStoreSorted(
      spark.range(0, 1000).select(col("id").as("k"), col("id").as("v")),
      dir, Seq("k"), numFiles = 4)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(StoreIndex.manifestSummaryPath(dir)), true)
    StoreIndex.appendStoreSorted(
      spark.range(5000, 5500).select(col("id").as("k"), col("id").as("v")),
      dir, Seq("k"), numFiles = 1)
    val m = spark.read.parquet(StoreIndex.statsManifestPath(dir))
    assert(m.count() === 5, "old 4 rows + the appended file (flat-fallback path)")
    // the append's writeManifestGrouped recreates the summary; probes are
    // two-level again
    assert(StoreIndex.probeManifestGroups(spark, dir,
      Seq(("k", 5100L, 5200L))).nonEmpty)
    val in = StoreIndex.readStoreSkipping(spark, dir, "k", 5100L, 5200L)
    assert(in.count() === 101 && in.inputFiles.length === 1)
  }

  test("z-ordered store prunes a y-only box where the x-sorted layout cannot") {
    val base = Files.createTempDirectory("graft-z").toString
    val grid = spark.range(0, 64 * 64).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    StoreIndex.writeStoreSorted(grid, s"$base/by_x", Seq("x"), numFiles = 16,
      statsCols = Seq("x", "y"))
    StoreIndex.writeStoreZOrdered(grid, s"$base/by_z", "x", "y", numFiles = 16, bitsPerDim = 8)

    def boxFiles(path: String): Int =
      StoreIndex.readStoreBox(spark, path, "x", 0L, 63L, "y", 8L, 15L).inputFiles.length
    val xFiles = boxFiles(s"$base/by_x")
    val zFiles = boxFiles(s"$base/by_z")
    // x-sorted files each span the full y range → no y pruning; the
    // Z-layout confines a 1/8th y-slab to a fraction of the files
    assert(xFiles === 16)
    assert(zFiles < xFiles, s"z-order should prune the y-slab: $zFiles vs $xFiles")

    // and the z read is row-identical to the plain filter
    val out = StoreIndex.readStoreBox(spark, s"$base/by_z", "x", 10L, 20L, "y", 30L, 40L)
    val expected = grid.filter(col("x").between(10, 20) && col("y").between(30, 40))
    assert(out.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(out).count() === 0)
  }

  test("appendStoreSorted keeps the manifest live at batch cost; equals a full rebuild") {
    val dir = Files.createTempDirectory("graft-skip-append").toString + "/store"
    val df = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 4)
    StoreIndex.appendStoreSorted(
      spark.range(5000, 5500).select(col("id").as("k"), col("id").as("v")),
      dir, Seq("k"), numFiles = 1)

    // incremental manifest ≡ full rebuild (same rows; the grouping token
    // is per-write identity, not content, so it is excluded)
    val incremental = spark.read.parquet(StoreIndex.statsManifestPath(dir))
      .drop("grouping_token").collect().toSet
    StoreIndex.writeStatsManifest(spark, dir, Seq("k")) // rebuild in place
    val full = spark.read.parquet(StoreIndex.statsManifestPath(dir))
      .drop("grouping_token").collect().toSet
    assert(incremental === full)

    // skipping stays live: a range inside the appended batch reads only
    // the appended file, a standing range reads standing files
    val in = StoreIndex.readStoreSkipping(spark, dir, "k", 5100L, 5200L)
    assert(in.count() === 101)
    assert(in.inputFiles.length === 1)
    val standing = StoreIndex.readStoreSkipping(spark, dir, "k", 0L, 100L)
    assert(standing.count() === 101)
    assert(standing.inputFiles.length < 5)
  }

  test("appendStoreSorted onto a stale manifest self-heals by full rebuild") {
    val dir = Files.createTempDirectory("graft-skip-heal").toString + "/store"
    val df = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 4)
    // out-of-band append leaves the manifest stale…
    spark.range(2000, 2100).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(dir)
    // …the next maintained append detects it and rebuilds
    StoreIndex.appendStoreSorted(
      spark.range(3000, 3100).select(col("id").as("k"), col("id").as("v")),
      dir, Seq("k"), numFiles = 1)
    val m = spark.read.parquet(StoreIndex.statsManifestPath(dir))
    assert(m.count() === 6) // 4 + out-of-band + maintained
    val out = StoreIndex.readStoreSkipping(spark, dir, "k", 2000L, 3050L)
    assert(out.count() === 151)
    assert(out.inputFiles.length === 2)
  }

  test("readStoreKeys: scattered point lookups open only the containing files") {
    val dir = Files.createTempDirectory("graft-skip-keys").toString + "/store"
    val df = spark.range(0, 8000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 8)
    val out = StoreIndex.readStoreKeys(spark, dir, "k", Seq(5L, 4100L))
    assert(out.select("k").as[Long].collect().sorted.toSeq === Seq(5L, 4100L).sorted)
    assert(out.inputFiles.length === 2, "two scattered keys → two files")
    // absent keys: zero rows, zero files
    val none = StoreIndex.readStoreKeys(spark, dir, "k", Seq(99999L))
    assert(none.count() === 0)
    // un-covered column → full-scan fallback, still correct
    assert(StoreIndex.readStoreKeys(spark, dir, "v", Seq(7L)).count() === 1)
  }

  test("sorted layout composes with generation commits: skipping works per generation") {
    import graft.sources.Store
    val root = Files.createTempDirectory("graft-gen-sorted").toString + "/store"
    def pass(lo: Long, hi: Long) = Store.writeStoreGenerationWith(spark, root, keep = 2)(
      dir => StoreIndex.writeStoreSorted(
        spark.range(lo, hi).select(col("id").as("k"), col("id").as("v")),
        dir, Seq("k"), numFiles = 4))
    val g1 = pass(0, 1000)
    val g2 = pass(0, 2000)
    assert(Store.listGenerations(spark, root) === Seq(g1, g2))
    // latest generation: manifest engaged, rows correct
    val latest = StoreIndex.readStoreSkipping(
      spark, Store.generationPath(root, g2), "k", 1500L, 1600L)
    assert(latest.count() === 101)
    assert(latest.inputFiles.length < 4)
    // the RETAINED prior pass answers through its own manifest too
    val prior = StoreIndex.readStoreSkipping(
      spark, Store.generationPath(root, g1), "k", 100L, 200L)
    assert(prior.count() === 101)
    assert(prior.inputFiles.length < 4)
  }

  test("manifest survives a directory rename (CAS-commit compatibility)") {
    val base = Files.createTempDirectory("graft-skip-mv").toString
    val df = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, s"$base/built", Seq("k"), numFiles = 4)
    assert(new java.io.File(s"$base/built").renameTo(new java.io.File(s"$base/final")))
    val out = StoreIndex.readStoreSkipping(spark, s"$base/final", "k", 100L, 200L)
    assert(out.count() === 101)
    assert(out.inputFiles.length < 4, "pruning must still engage after the rename")
  }

  test("a stale summary over a regrouped manifest is rejected by the grouping token") {
    // the file-set fingerprint cannot distinguish two GROUPINGS of the
    // same files: a rebuild with a different groupSize over an unchanged
    // store, crashed (or raced) between the _stats and _stats_summary
    // writes, pairs an old summary with new slices. The old summary's
    // fingerprint still matches, but its group->bounds map describes the
    // old grouping — trusting it would prune by the wrong slices and
    // silently drop rows. The per-write grouping token must reject it.
    val dir = Files.createTempDirectory("graft-skip-token").toString + "/store"
    val df = spark.range(0, 4000).select(col("id").as("k"), col("id").as("v"))
    StoreIndex.writeStoreSorted(df, dir, Seq("k"), numFiles = 8)
    // default groupSize 1024 >> 8 files -> ONE group covering all of k
    val sumPath = StoreIndex.manifestSummaryPath(dir)
    val oldSum = spark.read.parquet(sumPath)
    val (oldRows, oldSchema) = (oldSum.collect().toSeq, oldSum.schema)
    // regroup the unchanged store: 8 groups of one file each
    StoreIndex.writeStatsManifest(spark, dir, Seq("k"), groupSize = 1)
    // simulate the crash/race: the OLD summary sits over the NEW slices
    spark.createDataFrame(spark.sparkContext.parallelize(oldRows), oldSchema)
      .coalesce(1).write.mode("overwrite").parquet(sumPath)
    // stale summary says "group 0 covers everything"; in the new grouping
    // group 0 is only the lowest-k file, so trusting it would return zero
    // candidates for a high-k probe. The token mismatch must route the
    // probe to the flat consult instead — full rows, pruning intact.
    val out = StoreIndex.readStoreSkipping(spark, dir, "k", 3500L, 3600L)
    assert(out.count() === 101,
      "stale-summary grouping must not suppress matching files")
    assert(out.inputFiles.length < 8, "flat consult still prunes by file stats")
  }
}
