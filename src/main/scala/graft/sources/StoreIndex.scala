package graft.sources

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** File-level min/max statistics index ("skipping manifest") and
  * locality-preserving store layouts (range-sorted, Z-ordered) — the
  * data-layout half of making a 100 TB store cheap to query.
  *
  * The reference rewrites its whole store per run and scans all of it per
  * read (main.py:19-34) — at scale, read cost has to come down to the
  * files that can actually contain the answer. Parquet already prunes ROW
  * GROUPS via footer min/max once a filter is pushed, but the scan still
  * opens every footer; at 100 TB / ~1M files, listing + footer reads
  * dominate selective queries. Table formats (Delta, Iceberg) solve this
  * with file-level column stats kept OUTSIDE the files and consulted on
  * the driver before any footer is touched. This module is that shape on
  * plain parquet:
  *
  *  - [[writeStoreSorted]] / [[writeStoreZOrdered]] lay the store out so
  *    per-file [min, max] ranges of the query columns are TIGHT (range
  *    partitioning concentrates each key range into few files; Z-ordering
  *    interleaves two dimensions so BOTH stay tight), then record one
  *    stats row per file in a `_stats` manifest next to the data
  *    (underscore-prefixed → invisible to plain parquet readers).
  *  - [[readStoreSkipping]] / [[readStoreBox]] consult the manifest on
  *    the driver, read ONLY the files whose ranges intersect the
  *    predicate, and re-apply the exact predicate — pruning is a
  *    performance fast-path, never a correctness dependency: a missing or
  *    stale manifest falls back to the full filtered scan, and null
  *    handling is sound because a range predicate never matches NULL
  *    (files whose stats are all-NULL skip; NULL rows inside kept files
  *    fall to the re-applied filter).
  *
  * Scale contract: the manifest is O(files) — one short row per data file
  * — the same driver-side metadata budget every table format pays, and it
  * is TWO-LEVEL so the planning pass prunes itself: the manifest is
  * written range-grouped by the primary stats column (each `group=N`
  * slice covers a contiguous key range) with a `_stats_summary` of one
  * row per group (group bounds + a file-set fingerprint). A probe reads
  * the summary (O(groups)), keeps the intersecting groups, and collects
  * only those manifest slices — ≈ ceil(files/groupSize) rows per matched
  * group instead of every file's row, which is what keeps planning flat
  * when a 100 TB store's manifest itself runs to 10⁵–10⁶ rows. Every
  * doubt (missing/mismatched summary, un-covered column, stale
  * fingerprint) falls back first to the flat manifest consult and then to
  * the full scan — the fast path is never a correctness dependency.
  * The layouts are one range shuffle at write time; reads shuffle nothing.
  */
object StoreIndex {

  /** Rows per manifest group — the two-level knob: a probe pays
    * O(groups) summary rows plus ceil(files/groups)-row slices for the
    * groups it cannot exclude. 1024 keeps a million-file manifest's
    * summary under ~1k rows while a selective probe reads one slice. */
  val DefaultManifestGroupSize: Int = 1024

  /** The group summary directory — underscore-prefixed like `_stats`. */
  def manifestSummaryPath(path: String): String = s"$path/_stats_summary"

  /** Z-value (Morton code) of two non-negative dimensions: the low
    * `bitsPerDim` bits of `x` and `y` bit-interleaved (x in the odd
    * positions), so lexicographic order on the result walks a Z-curve
    * through the (x, y) plane and ranges of EITHER dimension stay
    * clustered (Morton 1966; the layout key behind Delta/Iceberg
    * Z-ordering). Built entirely from codegen'd bit functions — the
    * unrolled OR-chain constant-folds into one whole-stage-codegen
    * expression, no UDF. Values are clamped into [0, 2^bitsPerDim) so
    * out-of-range inputs degrade to boundary locality instead of
    * wrapping across the curve. */
  def zValue(x: Column, y: Column, bitsPerDim: Int = 21): Column = {
    require(bitsPerDim >= 1 && bitsPerDim <= 31, "bitsPerDim must be in [1, 31]")
    val cap = (1L << bitsPerDim) - 1
    def clamp(c: Column) = least(greatest(c.cast("long"), lit(0L)), lit(cap))
    val cx = clamp(x)
    val cy = clamp(y)
    (0 until bitsPerDim).map { i =>
      // bit i of x → position 2i+1; bit i of y → position 2i
      shiftleft(cx.bitwiseAND(lit(1L << i)), i + 1)
        .bitwiseOR(shiftleft(cy.bitwiseAND(lit(1L << i)), i))
    }.reduce(_ bitwiseOR _)
  }

  /** The manifest directory for a store — underscore-prefixed, so
    * `spark.read.parquet(store)` never sees it as data. */
  def statsManifestPath(path: String): String = s"$path/_stats"

  /** Write `df` range-partitioned and sorted by `sortCols` into
    * `numFiles` files, then record the per-file stats manifest over
    * `statsCols` (default: the sort columns). Range partitioning (not
    * hash) is what makes the manifest selective: each file covers one
    * contiguous slice of the sort key, so a range predicate intersects
    * few files. `numFiles` is the at-scale knob — size it to
    * bytes/target-file-size exactly like [[Store.compactStore]]. */
  def writeStoreSorted(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      numFiles: Int = 32,
      statsCols: Seq[String] = Nil): Unit = {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    require(numFiles >= 1, "numFiles must be positive")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
    writeStatsManifest(df.sparkSession, path,
      if (statsCols.nonEmpty) statsCols else sortCols)
  }

  /** Write `df` laid out along the Z-curve of (`xCol`, `yCol`): range-
    * partitioned and sorted by the interleaved [[zValue]], stats recorded
    * for BOTH dimensions. A store sorted by x alone answers x-ranges well
    * but every y-range touches every file; the Z-layout keeps per-file
    * ranges tight in both, so [[readStoreBox]] prunes on either axis.
    * The z column is layout-only — dropped before the write (projection
    * preserves the per-partition sort). */
  def writeStoreZOrdered(
      df: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      numFiles: Int = 32,
      bitsPerDim: Int = 21): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    val z = "__graft_z"
    df.withColumn(z, zValue(col(xCol), col(yCol), bitsPerDim))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z)
      .write.mode("overwrite").parquet(path)
    writeStatsManifest(df.sparkSession, path, Seq(xCol, yCol))
  }

  /** (Re)build the stats manifest for a FLAT parquet store (the layout
    * [[writeStoreSorted]]/[[writeStoreZOrdered]] produce): one row per
    * data file with `(file, n_rows, min_<c>, max_<c>, nulls_<c> …)` per
    * stats column, native-typed so the reader compares with the column's
    * own ordering semantics. File identity is the BASENAME (globally
    * unique `part-NNNNN-<uuid>` under one write), so the manifest
    * survives a directory rename — [[Store.readOrCreateWith]]'s CAS
    * commit moves data and manifest together and both stay valid.
    * One extra scan of the fresh store (stats columns only, map-side
    * combined per file) — the write-time price of driver-side pruning. */
  def writeStatsManifest(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      groupSize: Int = DefaultManifestGroupSize): Unit = {
    val names = dataFileNames(spark, path).toSeq
    writeManifestGrouped(spark, path,
      padMissingFiles(spark, names, statsFrame(Store.readParquet(spark, path), cols)),
      cols, groupSize, names)
  }

  /** Commit a stats frame as the TWO-LEVEL manifest: the old
    * `_stats_summary` is DELETED first (probes drop to the always-correct
    * flat consult for the rebuild window), `_stats` is written partitioned
    * into `group=N` slices contiguous in the primary column's min (so a
    * range probe's groups are a key-range slice of the manifest), then
    * the fresh `_stats_summary` — per-group file count and min/max bounds
    * plus the store's file-set fingerprint — is written LAST.
    *
    * Summary and slices are additionally tied by a per-write
    * `grouping_token` (random, stored in every `_stats` row and the
    * summary): the file-set fingerprint alone cannot distinguish two
    * groupings of the SAME files (a rebuild with a different groupSize or
    * a different primary stats column), so a crash or concurrent probe
    * pairing an old summary with new slices would prune by the old
    * grouping's bounds against the new grouping's partition numbers and
    * silently drop files. Any summary/slice token mismatch routes the
    * probe to the flat consult. The grouping window is a single narrow
    * task over O(files) short rows — write-time cost, paid where the
    * append/compaction already scans the batch. */
  private def writeManifestGrouped(
      spark: SparkSession,
      path: String,
      stats: DataFrame,
      cols: Seq[String],
      groupSize: Int,
      names: Seq[String]): Unit = {
    require(groupSize >= 1, "groupSize must be positive")
    val primary = cols.head
    val token = java.util.UUID.randomUUID().toString
    val sumPath = new Path(manifestSummaryPath(path))
    val fs = FileSystem.get(sumPath.toUri, spark.sparkContext.hadoopConfiguration)
    if (fs.exists(sumPath)) { fs.delete(sumPath, true); () }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(s"min_$primary").asc_nulls_first, col("file"))
    val grouped = stats.drop("group", "grouping_token")
      .withColumn("group",
        floor((row_number().over(w) - 1) / lit(groupSize)).cast("int"))
      .withColumn("grouping_token", lit(token))
    grouped.write.partitionBy("group").mode("overwrite")
      .parquet(statsManifestPath(path))
    val aggs = cols.flatMap(c => Seq(
      min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c")))
    val (fpN, fpX1, fpX2) = fileSetFingerprint(names)
    grouped.groupBy(col("group"))
      .agg(count(lit(1)).as("n_files"), aggs: _*)
      .withColumn("fp_n", lit(fpN))
      .withColumn("fp_x1", lit(fpX1))
      .withColumn("fp_x2", lit(fpX2))
      .withColumn("grouping_token", lit(token))
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestSummaryPath(path))
  }

  /** Order-insensitive fingerprint of a file-name set: (count, XOR of the
    * two md5 halves per name). Lets a probe verify summary freshness
    * against the store listing with driver CPU only — no manifest rows
    * collected — with set-equality strength up to md5-XOR collision
    * (negligible for non-adversarial file names; any mismatch is a
    * fallback, any collision would need 128 colliding bits). */
  private def fileSetFingerprint(names: Iterable[String]): (Long, Long, Long) = {
    var x1 = 0L; var x2 = 0L; var n = 0L
    names.foreach { f =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(f.getBytes("UTF-8"))
      val bb = java.nio.ByteBuffer.wrap(d)
      x1 ^= bb.getLong(0); x2 ^= bb.getLong(8); n += 1
    }
    (n, x1, x2)
  }

  /** A ZERO-ROW data file (an empty micro-batch's append) contributes no
    * group to [[statsFrame]]; without a manifest row it would fail the
    * file-set staleness check forever and pin the store in the full-scan
    * fallback. Pad such files with `n_rows = 0` and null stats — null
    * min/max never satisfies a range/point predicate, which is exactly
    * right for a file with no rows. */
  private def padMissingFiles(
      spark: SparkSession,
      files: Seq[String],
      stats: DataFrame): DataFrame = {
    import spark.implicits._
    files.toDF("file")
      .join(stats, Seq("file"), "left")
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
  }

  /** One stats row per file of `data` (which must carry `_metadata`,
    * i.e. come straight from a file scan). Numeric stats columns
    * additionally record the per-file SUM — the extra triple-to-quad is
    * what lets [[aggRange]] answer range rollups without touching
    * contained files (parquet footers carry min/max/null-count; the sum
    * is the one aggregate a metadata layer must add itself). */
  private def statsFrame(data: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = cols.flatMap { c =>
      val base = Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
      data.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          base :+ sum(col(c)).as(s"sum_$c")
        case _ => base
      }
    }
    data
      .select(regexp_extract(col("_metadata.file_path"), "[^/]+$", 0).as("file") +:
        cols.map(col): _*)
      .groupBy("file")
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Append a batch to a sorted store WITHOUT invalidating the manifest:
    * the batch writes as its own range-sorted file(s), stats are computed
    * by scanning ONLY the new files (batch cost — the standing data is
    * never re-read), and the manifest is rewritten as old rows + new rows
    * (the manifest itself is O(files), so its rewrite is driver-cheap).
    * This is the maintenance half of the skipping story: without it,
    * every append would leave the manifest stale and [[readStoreSkipping]]
    * permanently in its full-scan fallback.
    *
    * Appended batches may overlap standing key ranges — that only widens
    * which files a query keeps (less pruning), never correctness; a
    * periodic [[writeStoreSorted]] rewrite (compaction) restores tight
    * ranges. If the existing manifest is missing or doesn't match the
    * pre-append file set, the manifest is rebuilt from the full store —
    * self-healing instead of compounding staleness. A reader racing the
    * manifest rewrite may find it mid-write; [[readStoreRanges]] treats
    * any unreadable manifest as absent and full-scans, so the race costs
    * speed, never rows. */
  def appendStoreSorted(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      numFiles: Int = 1,
      statsCols: Seq[String] = Nil): Unit = {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    require(numFiles >= 1, "numFiles must be positive")
    val spark = df.sparkSession
    val cols = if (statsCols.nonEmpty) statsCols else sortCols
    val before = dataFileNames(spark, path)
    // normalize the append to the standing store's column ORDER: parquet
    // maps columns by name, but spark.read seeds the frame's column order
    // from an arbitrary file's footer, so a store whose files disagree on
    // order surfaces a scheduling-dependent schema to positional
    // consumers. Appends with a different column SET are refused — that
    // is schema evolution, which goes through the historization loop's
    // evolve step, not a silent append.
    val aligned =
      if (before.isEmpty) df
      else {
        val standing = Store.readParquet(spark, path).columns
        require(standing.sorted.sameElements(df.columns.sorted),
          s"append column set ${df.columns.sorted.mkString(",")} != store ${standing.sorted.mkString(",")}")
        df.select(standing.map(col(_)): _*)
      }
    val oldManifest = Store.readParquetSafe(spark, statsManifestPath(path))
      .filter(m => cols.forall(c => m.columns.contains(s"min_$c")))
      // materialize the standing rows NOW: the manifest overwrite below
      // would otherwise delete the files this frame still plans to read
      .map(m => m.collect().toSeq -> m.schema)
      .filter { case (rows, schema) =>
        // freshness: the O(groups) fingerprint proof when the summary is
        // token-tied to these rows (a writeManifestGrouped commit stamps
        // every row alike, so one row's token suffices); otherwise (no
        // summary, or one from another commit's crash window) the flat
        // name comparison over the rows already in hand (spec-pinned)
        val token = rows.headOption.filter(_ => schema.fieldNames.contains("grouping_token"))
          .map(_.getAs[String]("grouping_token"))
        readSummary(spark, path, cols, lit(false)).filter(s => token.contains(s.token)) match {
          case Some(s) => s.fp == fileSetFingerprint(before)
          case None => rows.map(_.getAs[String]("file")).toSet == before
        }
      }
    aligned.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("append").parquet(path)
    val after = dataFileNames(spark, path)
    val fresh = (after -- before).toSeq
    oldManifest match {
      case Some((oldRows, oldSchema)) if fresh.nonEmpty =>
        // the fresh files hold exactly the frame just written: read them
        // under its schema, no inference job
        val newStats = padMissingFiles(spark, fresh,
          statsFrame(readFiles(path, aligned, fresh), cols))
        // drop the old grouping and regroup the union: appended ranges may
        // land anywhere in the key space, and re-slicing (one narrow task
        // over O(files) short rows) keeps every group a contiguous key
        // range — the property the summary's pruning power rests on
        val old = spark.createDataFrame(
          spark.sparkContext.parallelize(oldRows), oldSchema)
          .drop("group", "grouping_token")
        // allowMissingColumns: a legacy manifest predates the per-file
        // sum_<c> columns — its rows union with null sums, which
        // [[aggRange]] reads as "sums unrecorded" and routes to the scan
        // path (nulls_<c> is null too), never as a zero contribution
        writeManifestGrouped(spark, path,
          old.unionByName(newStats, allowMissingColumns = true), cols,
          DefaultManifestGroupSize, after.toSeq)
      case Some(_) => () // append produced no files (empty batch): manifest still valid
      case None => writeStatsManifest(spark, path, cols) // absent/stale → full rebuild
    }
  }

  /** Basenames of the store's data files (flat layout; anything under an
    * underscore/dot-prefixed directory — `_stats`, `_temporary` — is
    * metadata, not data). Pure filesystem listing: no footer is opened. */
  private def dataFileNames(spark: SparkSession, path: String): Set[String] = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)
      .toSet
  }

  /** `files` of the store at `path` under the schema of `like` (a frame of
    * that store, or the batch just written to it): no inference job, and
    * no files reads nothing. */
  private def readFiles(path: String, like: DataFrame, files: Seq[String]): DataFrame =
    if (files.isEmpty) like.limit(0)
    else like.sparkSession.read.schema(like.schema).parquet(files.map(f => s"$path/$f"): _*)

  /** Manifest-row test: the file's recorded [min, max] of `c` meets [lo, hi]. */
  private def overlaps(c: String, lo: Any, hi: Any): Column =
    col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)

  /** What one read of the `_stats_summary` tells a probe: the file set it
    * describes (fingerprint), the grouping it describes (token), and the
    * groups whose bounds the probe's predicate keeps. */
  private final case class Summary(fp: (Long, Long, Long), token: String, groups: Seq[Int])

  /** The `_stats_summary` in ONE collect of its O(groups) rows; None when
    * it is absent, empty, or lacks a column the probe reads. The caller
    * matches the fingerprint against the store listing and the token
    * against the `_stats` slices it is about to trust: the fingerprint
    * proves the summary describes these FILES, the token proves it
    * describes this GROUPING of them. */
  private def readSummary(
      spark: SparkSession,
      path: String,
      statCols: Seq[String],
      pred: Column): Option[Summary] =
    Store.readParquetSafe(spark, manifestSummaryPath(path)).flatMap { sum =>
      val need = Seq("group", "fp_n", "fp_x1", "fp_x2", "grouping_token") ++
        statCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
      if (!need.forall(sum.columns.contains)) None
      else {
        val rows = sum.select(col("group").cast("int"), coalesce(pred, lit(false)),
          col("fp_n"), col("fp_x1"), col("fp_x2"), col("grouping_token")).collect()
        rows.headOption.map(r => Summary((r.getLong(2), r.getLong(3), r.getLong(4)),
          r.getString(5), rows.filter(_.getBoolean(1)).map(_.getInt(0)).toSeq))
      }
    }

  /** The manifest rows (file + per-column stats) of the files `pred` cannot
    * exclude, collected once and handed back as a local frame (selecting
    * from it runs no job), or None when the manifest cannot be trusted —
    * missing, lacking a `statCols` stat, or STALE (its file set no longer
    * equals the store's, e.g. after a compaction that didn't rebuild it) —
    * and the caller full-scans, trading speed for unconditional
    * correctness. Trust ladder: the two-level consult when the summary's
    * fingerprint matches the listing AND its token matches the slices'
    * (which guards the no-group shortcut too: an old summary saying
    * "nothing matches" over a regrouped manifest must not suppress the
    * read); else the flat consult, one short row per data file — the
    * driver-side metadata budget a table format's planning pays. */
  private def consult(
      spark: SparkSession,
      path: String,
      statCols: Seq[String],
      pred: Column): Option[DataFrame] =
    Store.readParquetSafe(spark, statsManifestPath(path))
      .filter(m => statCols.forall(c =>
        m.columns.contains(s"min_$c") && m.columns.contains(s"max_$c")))
      .flatMap { m =>
        val names = dataFileNames(spark, path)
        // manifest rows, each with `pred`'s verdict appended, in one collect
        def flagged(df: DataFrame): Seq[Row] =
          df.select(m.columns.map(col) :+ coalesce(pred, lit(false)): _*).collect().toSeq
        // one row's token suffices: a writeManifestGrouped commit stamps
        // every row alike
        def tied(rows: Seq[Row], token: String): Boolean =
          rows.headOption.exists(_.getAs[String]("grouping_token") == token)
        readSummary(spark, path, statCols, pred)
          .filter(s => s.fp == fileSetFingerprint(names) &&
            Seq("group", "grouping_token").forall(m.columns.contains))
          .flatMap { s =>
            if (s.groups.isEmpty)
              Some(Seq.empty[Row]).filter(_ =>
                tied(m.select("grouping_token").limit(1).collect(), s.token))
            // the group filter partition-prunes the manifest read: the
            // collect is bounded by the MATCHED slices (≈ ceil(files /
            // groupSize) rows each), not O(files)
            else Some(flagged(m.filter(col("group").isInCollection(s.groups))))
              .filter(tied(_, s.token))
          }
          .orElse(Some(flagged(m)).filter(_.map(_.getAs[String]("file")).toSet == names))
          .map(rows => spark.createDataFrame(rows.filter(r => r.getBoolean(r.length - 1))
            .map(r => Row.fromSeq(r.toSeq.init)).asJava, m.schema))
      }

  /** Spec hook: the groups a conjunctive-range probe would read (None =
    * the probe would use the flat consult). */
  private[graft] def probeManifestGroups(
      spark: SparkSession,
      path: String,
      ranges: Seq[(String, Any, Any)]): Option[Seq[Int]] =
    readSummary(spark, path, ranges.map(_._1).distinct,
      ranges.map { case (c, lo, hi) => overlaps(c, lo, hi) }.reduce(_ && _))
      .filter(_.fp == fileSetFingerprint(dataFileNames(spark, path)))
      .map(_.groups)

  /** Range read through the manifest: rows of the store at `path` with
    * `c BETWEEN lo AND hi`, reading only the files whose recorded
    * [min, max] intersects the range. Row-identical to the full filtered
    * scan in every case — the exact predicate is re-applied over the kept
    * files, and any manifest doubt (missing, stale, un-covered column)
    * falls back to the full scan. */
  def readStoreSkipping(
      spark: SparkSession,
      path: String,
      c: String,
      lo: Any,
      hi: Any): DataFrame =
    readStoreRanges(spark, path, Seq((c, lo, hi)))

  /** Two-dimensional box read — the consumer [[writeStoreZOrdered]]'s
    * layout exists for: both range predicates prune through the manifest,
    * so a box touches only the files whose Z-curve slice crosses it. */
  def readStoreBox(
      spark: SparkSession,
      path: String,
      cx: String, xlo: Any, xhi: Any,
      cy: String, ylo: Any, yhi: Any): DataFrame =
    readStoreRanges(spark, path, Seq((cx, xlo, xhi), (cy, ylo, yhi)))

  /** Point-lookup read through the manifest: rows whose `c` is in
    * `keys`, reading only the files whose [min, max] contains AT LEAST
    * one key. The per-file test is a disjunction of point containments
    * — a key list is a union of degenerate ranges — so a handful of
    * scattered keys over a sorted store opens a handful of files, and
    * parquet's own row-group stats narrow further inside each. Same
    * correctness contract as [[readStoreSkipping]]: exact `IN` filter
    * re-applied, full scan on any manifest doubt. */
  def readStoreKeys(
      spark: SparkSession,
      path: String,
      c: String,
      keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    readPruned(spark, path, Seq(c), col(c).isin(keys: _*),
      keys.map(k => overlaps(c, k, k)).reduce(_ || _))
  }

  /** General conjunctive-range read over the manifest. */
  def readStoreRanges(
      spark: SparkSession,
      path: String,
      ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "ranges must be non-empty")
    readPruned(spark, path, ranges.map(_._1).distinct,
      ranges.map { case (c, lo, hi) => col(c).between(lit(lo), lit(hi)) }.reduce(_ && _),
      ranges.map { case (c, lo, hi) => overlaps(c, lo, hi) }.reduce(_ && _))
  }

  /** The one pruned row read: the store's rows matching `rowPred`, read
    * from only the files whose manifest rows satisfy `filePred` (the exact
    * predicate re-applied over them; none kept reads nothing), or from the
    * full store when the manifest cannot be trusted. */
  private def readPruned(
      spark: SparkSession,
      path: String,
      statCols: Seq[String],
      rowPred: Column,
      filePred: Column): DataFrame = {
    val full = Store.readParquet(spark, path)
    consult(spark, path, statCols, filePred)
      .map(m => readFiles(path, full, m.select("file").collect().map(_.getString(0)).toSeq))
      .getOrElse(full)
      .filter(rowPred)
  }

  /** METADATA-ONLY range count: `count(*) WHERE c BETWEEN lo AND hi`
    * answered from the stats manifest wherever possible — the aggregate
    * pushdown a table format's planning layer performs (Iceberg/Snowflake
    * answer these from file metadata; parquet footers carry the same
    * min/max/null-count triple this manifest mirrors). A file wholly
    * CONTAINED in the range contributes `n_rows - nulls` straight from
    * its manifest row, even when it holds null keys; only boundary files
    * are scanned (see [[rollup]]). On a range-sorted or z-ordered store a
    * range of any width touches at most the two edge files, so at 100 TB
    * the count costs O(matched manifest slices) planning + two
    * column-pruned file reads where a naive count scans the table.
    * Intended for the store-layout key columns (integral/string/date);
    * NaN-bearing double keys belong in the fallback path, as NaN breaks
    * min/max containment reasoning.
    *
    * @return one row, `n_rows: bigint` — always equal to the full
    *         filtered count
    */
  def countRange(
      spark: SparkSession,
      path: String,
      c: String,
      lo: Any,
      hi: Any): DataFrame =
    rollup(spark, path, c, lo, hi, Nil)

  /** METADATA-FIRST range rollup: `count(*)` plus `sum(<v>)` per value
    * column `WHERE c BETWEEN lo AND hi` — [[countRange]] extended to the
    * measure sums the manifest records per file ([[statsFrame]]'s
    * `sum_<c>` quad for numeric stats columns; see [[rollup]] for when a
    * file may lend them unopened).
    *
    * Sum determinism note: per-file partial sums re-associate the
    * addition, exact for integral and decimal measures — at 100 TB put
    * doubles behind a decimal cast in the store layout (the library's
    * dump-layer convention) rather than summing IEEE doubles in any
    * order-sensitive path.
    *
    * @return one row: `n_rows: bigint, sum_<v>` per value column, always
    *         equal to the full filtered aggregate
    */
  def aggRange(
      spark: SparkSession,
      path: String,
      c: String,
      lo: Any,
      hi: Any,
      valueCols: Seq[String]): DataFrame =
    rollup(spark, path, c, lo, hi, valueCols)
      .select(col("n_rows") +: valueCols.map(v => col(s"sum_$v")): _*)

  /** METADATA-FIRST full range rollup: `count(*)` plus `sum/min/max/avg`
    * per value column `WHERE c BETWEEN lo AND hi` — [[aggRange]] extended
    * to the whole manifest quad: a contained file also lends its recorded
    * min/max, and avg is sum over non-null count, free.
    *
    * @return one row: `n_rows: bigint`, then `sum_<v>, min_<v>, max_<v>,
    *         avg_<v>: double` per value column — always equal to the
    *         full filtered aggregate
    */
  def statsRange(
      spark: SparkSession,
      path: String,
      c: String,
      lo: Any,
      hi: Any,
      valueCols: Seq[String]): DataFrame =
    rollup(spark, path, c, lo, hi, valueCols)

  /** The one range rollup behind [[countRange]], [[aggRange]] and
    * [[statsRange]]: `n_rows`, then `sum_<v>, min_<v>, max_<v>, avg_<v>`
    * per value column, over the rows with `c BETWEEN lo AND hi`.
    *
    * Per candidate file of the manifest consult: a file wholly CONTAINED
    * in the range, with its null counts recorded, contributes from its
    * manifest row with zero data IO; BOUNDARY files (intersecting, not
    * contained) and demoted ones are scanned key+measures only,
    * predicate-pushed. A null key comes off `n_rows` through `nulls_<c>`,
    * but its measures sit inside the stored sum/min/max, so a file lends
    * measures only with zero null keys. A manifest without the recorded
    * null counts, sums and bounds keeps its key pruning but every
    * candidate file is scanned; any manifest doubt falls back to the exact
    * full filtered aggregate.
    *
    * Null semantics match SQL exactly: min/max ignore null measures (an
    * all-null interior file's recorded min/max are NULL; `least`/
    * `greatest` skip them), sum/avg are NULL iff no matched row has a
    * non-null measure, tracked via the per-file non-null counts. avg is
    * DEFINED as `double(sum) / count(non-null)` — one double division over
    * exact (integral/decimal) totals, so metadata and exact paths are
    * bit-identical by construction. */
  private def rollup(
      spark: SparkSession,
      path: String,
      c: String,
      lo: Any,
      hi: Any,
      valueCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val full = Store.readParquet(spark, path)
    val pred = col(c).between(lit(lo), lit(hi))
    def matched(df: DataFrame): DataFrame =
      df.select(col(c) +: valueCols.map(col): _*).filter(pred)
    def exact(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        valueCols.flatMap(v => Seq(
          sum(col(v)).as(s"sum_$v"),
          min(col(v)).as(s"min_$v"),
          max(col(v)).as(s"max_$v"),
          (sum(col(v)).cast("double") / count(col(v))).as(s"avg_$v"))): _*)
    // derivation only (nothing executes): the exact path's result dtypes,
    // which the metadata-path literals must reproduce bit-for-bit
    val target = exact(full.filter(pred)).schema
    def typ(name: String): DataType = target(name).dataType
    val recorded = s"nulls_$c" +:
      valueCols.flatMap(v => Seq("sum_", "nulls_", "min_", "max_").map(_ + v))
    consult(spark, path, Seq(c), overlaps(c, lo, hi)) match {
      case None => exact(full.filter(pred))
      case Some(cand) if !recorded.forall(cand.columns.contains) =>
        // key pruning still applies, but no file may contribute
        // metadata-only (the per-row expressions below would not even
        // resolve): exact aggregate over the candidate files
        exact(matched(readFiles(path, full,
          cand.select("file").collect().map(_.getString(0)).toSeq)))
      case Some(cand) =>
        // coalesce: containment must be two-valued — a NULL verdict (a
        // stats gap on a candidate row) would drop the file from BOTH the
        // interior arithmetic and the boundary list; force it to the scan.
        //
        // Per value column a file may contribute metadata-only ONLY when
        // its sum is actually RECORDED: a legacy (pre-sum-quad) manifest
        // row gains a NULL sum_<v> when a later appendStoreSorted unions
        // the manifests with allowMissingColumns — its nulls_<v> is
        // non-null, so the null-count test alone would admit it and the
        // coalesce(sum, 0) below would contribute 0 for real measures
        // (a silently wrong non-NULL sum). A NULL sum is legitimate only
        // when every measure in the file is null (nulls_<v> = n_rows);
        // otherwise the row demotes to the boundary scan — "demote to the
        // scan, never to a guess", enforced.
        val keyContained = col(s"min_$c") >= lit(lo) && col(s"max_$c") <= lit(hi) &&
          (if (valueCols.isEmpty) col(s"nulls_$c").isNotNull else col(s"nulls_$c") === 0)
        val contained = coalesce(
          valueCols.map(v => col(s"nulls_$v").isNotNull &&
              (col(s"sum_$v").isNotNull || col(s"nulls_$v") === col("n_rows")))
            .foldLeft(keyContained)(_ && _),
          lit(false))
        // ONE bounded aggregate over the pruned manifest rows: the
        // contained files' contributions plus the boundary file list
        // (collect_list drops the nulls the when() leaves for contained
        // files). Driver state is O(candidate files of this range).
        val aggs =
          sum(when(contained, col("n_rows") - col(s"nulls_$c"))
            .otherwise(lit(0L))).as("__n") +:
          collect_list(when(!contained, col("file"))).as("__boundary") +:
          valueCols.flatMap(v => Seq(
            sum(when(contained, coalesce(col(s"sum_$v"), lit(0)))).as(s"__sum_$v"),
            sum(when(contained, col("n_rows") - col(s"nulls_$v"))
              .otherwise(lit(0L))).as(s"__cnt_$v"),
            min(when(contained, col(s"min_$v"))).as(s"__min_$v"),
            max(when(contained, col(s"max_$v"))).as(s"__max_$v")))
        val row = cand.agg(aggs.head, aggs.tail: _*).collect()(0)
        // the contained files' total `name` as a literal of type `t`
        def interior(name: String, ifNull: Any, t: DataType): Column = {
          val i = row.fieldIndex(s"__$name")
          lit(if (row.isNullAt(i)) ifNull else row.get(i)).cast(t)
        }
        val boundary = row.getSeq[String](row.fieldIndex("__boundary"))
        val base: DataFrame =
          if (boundary.isEmpty)
            Seq(1).toDF("__k").select(
              lit(0L).as("__bn") +: valueCols.flatMap(v => Seq(
                lit(null).cast(typ(s"sum_$v")).as(s"__bsum_$v"),
                lit(0L).as(s"__bcnt_$v"),
                lit(null).cast(typ(s"min_$v")).as(s"__bmin_$v"),
                lit(null).cast(typ(s"max_$v")).as(s"__bmax_$v"))): _*)
          else
            matched(readFiles(path, full, boundary))
              .agg(count(lit(1)).as("__bn"),
                valueCols.flatMap(v => Seq(
                  sum(col(v)).as(s"__bsum_$v"),
                  count(col(v)).as(s"__bcnt_$v"),
                  min(col(v)).as(s"__bmin_$v"),
                  max(col(v)).as(s"__bmax_$v"))): _*)
        base.select(
          (interior("n", 0L, LongType) + col("__bn")).cast("long").as("n_rows") +:
          valueCols.flatMap { v =>
            val t = typ(s"sum_$v")
            val cnt = interior(s"cnt_$v", 0L, LongType) + col(s"__bcnt_$v")
            val total =
              when(cnt === 0, lit(null).cast(t))
                .otherwise((interior(s"sum_$v", 0, t) +
                  coalesce(col(s"__bsum_$v"), lit(0)).cast(t)).cast(t))
            Seq(
              total.as(s"sum_$v"),
              least(interior(s"min_$v", null, typ(s"min_$v")), col(s"__bmin_$v")).as(s"min_$v"),
              greatest(interior(s"max_$v", null, typ(s"max_$v")), col(s"__bmax_$v"))
                .as(s"max_$v"),
              when(cnt === 0, lit(null).cast("double"))
                .otherwise(total.cast("double") / cnt).as(s"avg_$v"))
          }: _*)
    }
  }
}
