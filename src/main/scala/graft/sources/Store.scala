package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.meta.MetaColumns

import scala.util.Try

/** Sources and sinks for the versioned current store.
  *
  * Covers the reference's IO surface: CSV snapshot scan (main.py:16), safe
  * whole-store Parquet read (SCDHelpers.py:276-281), hash-only projected read
  * (MetaColumnHelpers.py:164-169), and the key-partitioned Parquet overwrite
  * (main.py:24).
  *
  * Scale notes:
  *  - The hash-only read relies on Parquet column pruning — the plan only
  *    references (KEY_HASH, RECORD_HASH), so the scan's ReadSchema is two
  *    fixed-width-ish string columns regardless of business-table width.
  *  - The reference Hive-partitions the store by raw business-key columns
  *    (main.py:24). That is catastrophic at scale for high-cardinality keys
  *    (one directory per distinct key). `writeStore` keeps the faithful
  *    layout for parity; `writeStoreBucketed`-style layouts for scale use a
  *    bounded `KEY_BUCKET` derived from KEY_HASH instead — O(buckets)
  *    directories, pruning still possible via bucket derivation.
  *  - Spark cannot overwrite a Parquet path it is concurrently reading
  *    (the reference happily read-modify-rewrites, main.py:19-24). The swap
  *    write goes to `<path>.tmp` then atomically renames (SURVEY.md §7.4#2).
  */
object Store {

  /** CSV snapshot scan with header + schema inference (main.py:16). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** JSONL (newline-delimited JSON) scan — the lingua franca of
    * training-data interchange. Always pass a schema at scale: inference
    * costs a full extra pass over the corpus. */
  def readJsonl(
      spark: SparkSession,
      path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val reader = spark.read
    schema.fold(reader)(reader.schema).json(path)
  }

  /** JSONL sink (one JSON object per line, overwrite semantics). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Binary-file ingestion for multimodal pipelines: each matching file
    * becomes a row (path, modificationTime, length, content) with the raw
    * bytes as a `binary` column — the entry point that feeds
    * [[graft.operators.Multimodal]]. `globFilter` restricts by extension
    * (e.g. "*.png"); Spark's `spark.sql.sources.binaryFile.maxLength`
    * bounds per-file size so an oversized blob fails fast instead of
    * OOMing an executor mid-task. */
  def readBinaryFiles(
      spark: SparkSession,
      path: String,
      globFilter: Option[String] = None): DataFrame = {
    val reader = spark.read.format("binaryFile")
    globFilter.fold(reader)(g => reader.option("pathGlobFilter", g)).load(path)
  }

  /** ORC scan — second columnar interchange format (predicate pushdown and
    * column pruning apply the same as Parquet). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink (overwrite semantics). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * same frame (schema, partition columns, rows), with the schema read
    * from one footer on the driver.
    *
    * With `mergeSchema` off, Spark infers a parquet directory's schema
    * from ONE file — a `_common_metadata`, else a `_metadata` summary,
    * else the data file first in full-path order — but ships that footer
    * read as a one-task job. Here the driver reads the same footer's
    * Spark schema (`ParquetReadSupport.SPARK_METADATA_KEY`) and pins it
    * on the read. Partition columns stay with Spark's path inference, so
    * keys like "007" come back inferred exactly as before. Finding the
    * file lists only the directories on the way to it (see
    * [[schemaFile]]).
    *
    * The read falls back to plain `spark.read.parquet(path)` — its job,
    * or its error — whenever the footer alone cannot decide: a missing,
    * glob or single-file path; no data file; a data file under a
    * directory that is not a `col=value` partition; a footer without the
    * Spark key (a non-Spark writer) or naming a partition column; an
    * unreadable footer; or `spark.sql.parquet.mergeSchema` on. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).flatMap(s => Try(spark.read.schema(s)).toOption)
      .getOrElse(spark.read).parquet(path)

  /** The schema Spark's inference would give `path`'s data columns, read
    * on the driver; None where [[readParquet]] falls back. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val merging = spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean
    // Spark globs any path holding one of these (SparkHadoopUtil.isGlobPath)
    if (merging || path.exists("{}[]*?\\".contains(_))) None
    else Try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      if (!fs.getFileStatus(root).isDirectory) None
      else schemaFile(fs, root).flatMap { case (file, partitions) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
          HadoopReadOptions.builder(conf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY)
        finally reader.close()
        Option(json).map(DataType.fromJson(_).asInstanceOf[StructType])
          .filterNot(_.fieldNames.exists(f => partitions.exists(_.equalsIgnoreCase(f))))
      }
    }.toOption.flatten
  }

  /** The file Spark's parquet schema inference reads under the directory
    * `root`, with the partition column names on the way to it; None when
    * there is none, or when the first data file sits below a directory
    * that is not a `col=value` partition (Spark's partition discovery
    * decides those layouts).
    *
    * Spark sorts every visible leaf file by its full path and takes the
    * first `_common_metadata`, else the first `_metadata`, else the first
    * data file (`ParquetUtils.splitFiles`). The first data file in
    * full-path order is the first leaf of a depth-first walk that orders
    * each directory's children by `name` for files and `name + "/"` for
    * directories and skips directories with no data file, so only the
    * directories on the way to it are listed. Summary files are looked
    * for in those directories: parquet-mr writes them at the root of a
    * job's output. Hidden names are the listing's
    * (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def schemaFile(fs: FileSystem, root: Path): Option[(FileStatus, Seq[String])] = {
    import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !(name.startsWith(PARQUET_COMMON_METADATA_FILE) || name.startsWith(PARQUET_METADATA_FILE))
    def summary(s: FileStatus) = s.isFile &&
      Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)(s.getPath.getName)
    val summaries = Seq.newBuilder[FileStatus]
    def firstLeaf(dir: Path, chain: List[String]): Option[(FileStatus, List[String])] = {
      val (sums, children) = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
        .partition(summary)
      summaries ++= sums
      children.sortBy(s => s.getPath.getName + (if (s.isDirectory) "/" else "")).iterator
        .map(s => if (s.isDirectory) firstLeaf(s.getPath, s.getPath.getName :: chain)
          else Some(s -> chain))
        .collectFirst { case Some(leaf) => leaf }
    }
    val leaf = firstLeaf(root, Nil)
    val bySpark = summaries.result().sortBy(_.getPath.toString)
    Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE).iterator
      .flatMap(n => bySpark.find(_.getPath.getName == n)).map(_ -> Nil).nextOption()
      .orElse(leaf.filter(_._2.forall(_.contains("="))))
      .map { case (file, chain) => file -> chain.map(_.takeWhile(_ != '=')) }
  }

  /** Safe Parquet read: None when the path is missing/unreadable
    * (SCDHelpers.py:276-281 returns None on any error). The schema comes
    * from one footer read on the driver ([[readParquet]]); where the
    * footer cannot decide, Spark infers it as before, and a path with no
    * data files still reads as None. */
  def readParquetSafe(spark: SparkSession, path: String): Option[DataFrame] =
    Try(readParquet(spark, path)).toOption

  /** [[readParquetSafe]] that only treats a MISSING path as absent: any
    * other failure (transient FS error, corrupt footer) propagates. The
    * safe form's catch-all is right for opportunistic reads; a
    * maintenance stream's id-novelty absorber or a takedown's survivor
    * read must NOT mistake an IO hiccup for "no store yet" — that would
    * silently double-count state or classify every standing id as
    * removable debris. */
  def readParquetStrict(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) None
    else Some(readParquet(spark, path))
  }

  /** Projected read of only the two hash columns (MetaColumnHelpers.py:164-169).
    * Parquet column pruning keeps the scan minimal. */
  def readCurrentHashes(spark: SparkSession, path: String): Option[DataFrame] =
    readParquetSafe(spark, path).map(_.select(MetaColumns.KeyHash, MetaColumns.RecordHash))

  /** Point-in-time store read: the historized table as it was on `day`
    * (ISO `yyyy-MM-dd`) — [[graft.operators.Scd2.asOf]] applied at the
    * scan, so both validity comparisons reach the parquet reader as
    * `PushedFilters` and row groups whose VALID_FROM/VALID_TO [min, max]
    * ranges exclude the day are skipped without being read. None when
    * the store does not exist yet, like [[readParquetSafe]]. */
  def readStoreAsOf(spark: SparkSession, path: String, day: String): Option[DataFrame] =
    readParquetSafe(spark, path).map(graft.operators.Scd2.asOf(_, day))

  /** Run-based time travel over the append-only hash-historized store
    * (the L16 loop's sink, which only ever appends rows stamped with
    * their run): the store exactly as run `runId` left it — rows whose
    * INSERT_RUN_ID is at or before it, minus rows soft-deleted at or
    * before it ([[graft.operators.Cdc.stampDeleted]];
    * [[graft.pipeline.Historization.asOfRun]] holds the filter). Run ids
    * are `yyyyMMddHHmmss` ([[graft.meta.Currents]]), so one string
    * comparison is chronological, and both the run bound and the
    * deletion bound are literals that push to the parquet scan. This is
    * the "reproduce the training snapshot a past run trained on" query
    * of a production corpus store; the SCD2 (date-interval) twin is
    * [[readStoreAsOf]]. */
  def readStoreAsOfRun(spark: SparkSession, path: String, runId: String): Option[DataFrame] =
    readParquetSafe(spark, path)
      .map(graft.pipeline.Historization.asOfRun(_, runId))

  /** Persist the full current store, Hive-partitioned by the business-key
    * columns (main.py:24). Overwrite semantics. */
  def writeStore(df: DataFrame, path: String, partitionColumns: Seq[String]): Unit = {
    val writer = df.write.mode("overwrite")
    (if (partitionColumns.nonEmpty) writer.partitionBy(partitionColumns: _*) else writer)
      .parquet(path)
  }

  /** Scale-safe store layout: the reference Hive-partitions by raw business
    * keys (main.py:24) — one directory per distinct key, catastrophic at
    * high cardinality. This variant partitions by a bounded `KEY_BUCKET`
    * derived from the first hex digits of KEY_HASH: O(buckets) directories,
    * co-located keys (every version of a key lands in one bucket), and
    * bucket pruning for point lookups via the same derivation. */
  def writeStoreBucketed(df: DataFrame, path: String, buckets: Int = 256): Unit = {
    require(buckets >= 1 && buckets <= 65536, "buckets must be in [1, 65536]")
    import org.apache.spark.sql.functions.{col, conv, lit, pmod}
    // range-partition by (bucket, hash) then sort within tasks: write
    // parallelism stays at spark.sql.shuffle.partitions even for small
    // bucket counts (hash-repartitioning on the bucket alone would cap
    // parallelism at `buckets`), while each parquet file still covers one
    // bucket with tight, sorted KEY_HASH ranges — point lookups prune row
    // groups, not just directories
    df.withColumn(KeyBucket,
        pmod(conv(col(MetaColumns.KeyHash).substr(1, 4), 16, 10).cast("int"), lit(buckets)))
      .repartitionByRange(col(KeyBucket), col(MetaColumns.KeyHash))
      .sortWithinPartitions(col(KeyBucket), col(MetaColumns.KeyHash))
      .write.mode("overwrite").partitionBy(KeyBucket).parquet(path)
  }

  /** Spark-bucketed TABLE layout: `bucketBy(KEY_HASH)` + `sortBy` through the
    * catalog. Unlike [[writeStoreBucketed]] (directory partitioning — prunes
    * point reads but carries no partitioning metadata), a bucketed table
    * records its hash distribution in the catalog, so a join or aggregation
    * keyed on KEY_HASH reads this side with NO Exchange at all — the scan IS
    * the shuffle output. This is the store layout the SCD2 merge wants at
    * 100 TB: run N's full-outer join shuffles only the (much smaller)
    * incoming snapshot; the accumulated store never moves.
    *
    * Overwrite semantics: this creates (bootstraps) a table, or replaces
    * one wholesale. An incremental run does not come back here — it
    * appends its delta under the table's own bucket spec
    * ([[appendStoreTable]]), so `buckets` is fixed at creation.
    * `buckets` should match the cluster's effective join parallelism; the
    * snapshot side is exchanged to the bucket count. */
  def writeStoreTable(
      df: DataFrame,
      table: String,
      buckets: Int = 256,
      path: Option[String] = None): Unit = {
    require(buckets >= 1 && buckets <= 65536, "buckets must be in [1, 65536]")
    val writer = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, MetaColumns.KeyHash)
      .sortBy(MetaColumns.KeyHash)
    path.fold(writer)(p => writer.option("path", p)).saveAsTable(table)
  }

  /** Catalog read of a [[writeStoreTable]] store — carries the bucketing
    * metadata the bucketed-join elision relies on. */
  def readStoreTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Append `rows` to an existing [[writeStoreTable]] table under the
    * table's own bucket spec: the commit of one incremental run, O(rows),
    * not O(store). Rows are selected into the table's column order
    * (`insertInto` is positional) and hash-partitioned into the table's
    * bucket count first, so each task holds exactly one bucket and a call
    * adds at most `buckets` files (the planner drops that exchange when
    * the plan is already partitioned that way).
    *
    * Crash contract: a failed write job commits nothing and its staging
    * files are removed; a crash INSIDE the job commit can leave part of
    * the rows in the table. Callers whose `rows` is an anti-join against
    * the table (the CDC delta) converge by re-running the same batch. */
  private[graft] def appendStoreTable(rows: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = rows.sparkSession
    // the command's rows are filtered driver-side: a filter in the plan
    // would cost a Spark job per commit
    val buckets = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .collectFirst { case r if r.getString(0) == "Num Buckets" => r.getString(1).trim.toInt }
      .getOrElse(throw new IllegalArgumentException(s"$table is not a bucketed table"))
    rows.select(spark.table(table).columns.toSeq.map(col): _*)
      .repartition(buckets, col(MetaColumns.KeyHash))
      .write.insertInto(table)
  }

  /** Compaction / re-bucketing of a [[writeStoreTable]] table: read-safe
    * overwrite of a bucketed TABLE the incoming plan is itself reading.
    * Appends leave up to `buckets` small files per run; rewriting the store
    * through here, `writeStoreTableSwap(readStoreTable(spark, t), t, n)`,
    * folds them into a fresh generation of larger files and is also the
    * only way to change the bucket count to `n`. The new generation is fully
    * materialized into `<table>__swap` FIRST (saveAsTable is eager), then
    * the old table drops and the swap renames into place — a reader
    * failing mid-choreography sees either the old or the new generation,
    * never a partial write, and the bucket spec travels with the rename.
    *
    * Managed tables only: `ALTER TABLE RENAME` relocates a managed table's
    * directory, which is a metadata-only NameNode op on HDFS. On an object
    * store (S3/GCS) that relocation is a physical copy — there, point an
    * EXTERNAL table at a versioned location per generation and flip a view
    * instead (same choreography, view replace as the atomic step). */
  def writeStoreTableSwap(df: DataFrame, table: String, buckets: Int = 256): Unit = {
    val spark = df.sparkSession
    val tmp   = table + "__swap"
    // heal FIRST, for the same reason writeStoreSwap does: a crash of a
    // previous swap between DROP and RENAME leaves the store only under
    // the swap name — the opening DROP of tmp would otherwise delete the
    // sole surviving copy, and df's lineage on the missing table would
    // fail anyway
    healTableSwap(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    writeStoreTable(df, tmp, buckets)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    ()
  }

  /** Catalog twin of [[readForSwap]]'s heal: if `table` is missing but its
    * `__swap` sibling exists, a [[writeStoreTableSwap]] crashed between
    * its DROP and RENAME — restore the swap. MUST run before any
    * bootstrap-vs-merge decision that branches on the table's existence
    * (e.g. [[graft.pipeline.Historization.historizeRunTable]]): deciding
    * from a raw existence check would see the mid-swap gap as "no store
    * yet" and silently bootstrap over the whole accumulated history. */
  def healTableSwap(spark: SparkSession, table: String): Unit = {
    val tmp = table + "__swap"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp)) {
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      ()
    }
  }

  /** Bucket-pruned read of the rows that can contain `keyHash`: resolves the
    * bucket driver-side and reads only that directory's row groups. */
  def readStoreBucket(spark: SparkSession, path: String, keyHash: String, buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions.col
    val bucket = (Integer.parseInt(keyHash.substring(0, 4), 16) % buckets + buckets) % buckets
    readParquet(spark, path).filter(col(KeyBucket) === bucket).drop(KeyBucket)
  }

  /** Point-in-time point lookup against a [[writeStoreBucketed]] SCD2
    * store: "the version of key X live on day D" — THE interactive query
    * against a historized store. Composes the bucket derivation (one
    * directory read out of `buckets`), the KEY_HASH equality (row-group
    * pruned: [[writeStoreBucketed]] sorts each file by KEY_HASH, so
    * min/max statistics skip everything else), and the as-of validity
    * window ([[graft.operators.Scd2.asOf]], both bounds pushed). Cost is
    * O(one bucket's footer reads + the key's row groups) regardless of
    * store size — the full-scan twin is `readStoreAsOf` + a filter. */
  def readStoreBucketAsOf(
      spark: SparkSession,
      path: String,
      keyHash: String,
      day: String,
      buckets: Int = 256): DataFrame =
    graft.operators.Scd2.asOf(
      readStoreBucket(spark, path, keyHash, buckets)
        .filter(col(MetaColumns.KeyHash) === keyHash),
      day)

  /** Full version chain of one key against a [[writeStoreBucketed]] SCD2
    * store — the "history of key X" audit read, [[readStoreBucketAsOf]]
    * without the day restriction: one bucket directory touched, KEY_HASH
    * equality row-group pruned by the within-file sort. */
  def readStoreBucketKey(
      spark: SparkSession,
      path: String,
      keyHash: String,
      buckets: Int = 256): DataFrame =
    readStoreBucket(spark, path, keyHash, buckets)
      .filter(col(MetaColumns.KeyHash) === keyHash)

  private val KeyBucket = "KEY_BUCKET"

  /** The writer-side read of a [[writeStoreSwap]] store: heal a crashed
    * swap's rename gap, then read. None only when the path is absent; any
    * other failure (corrupt footer, IO error) propagates. A writer that
    * took either for "no store yet" would bootstrap over the history, and
    * its next swap would delete the `.old` aside holding it.
    *
    * Schema: `schema` pins the read, so nothing is inferred — a store
    * whose first write left no data files reads as empty, a column it
    * lacks as null. Without it the schema is the one Spark would infer,
    * read from one footer on the driver ([[readParquet]]), and the read
    * falls back to Spark's own inference (and its job, or its error)
    * only where that footer cannot decide, e.g. a store with no data
    * files. */
  def readForSwap(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None): Option[DataFrame] =
    if (!healSwap(spark, path)) None
    else Some(schema.fold(readParquet(spark, path))(spark.read.schema(_).parquet(path)))

  /** Repair a crashed [[writeStoreSwap]] and say whether the store is
    * present: a missing target beside its `.old` aside means the crash
    * fell between the swap's two renames, so the aside is renamed back. */
  private def healSwap(spark: SparkSession, path: String): Boolean = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    val aside = new Path(path + ".old")
    // a failed restore must not read as "no store yet"
    fs.exists(target) || fs.exists(aside) && (fs.rename(aside, target) ||
      (throw new java.io.IOException(s"cannot restore $aside to $path")))
  }

  /** Read-safe overwrite of a store the current plan may be reading from:
    * write to `<path>.tmp`, rename the old generation aside to
    * `<path>.old`, rename the tmp in, then drop the aside copy.
    *
    * Crash safety (the delete-then-rename it replaces could lose the
    * store): at every crash point the data exists in full somewhere —
    * before the aside-rename the old generation is live at `path`; between
    * the renames BOTH generations exist (`<path>.old` and `<path>.tmp`);
    * after the rename-in the new generation is live. A restarted swap
    * self-heals: a missing target with an `.old` present restores the old
    * generation before proceeding. The remaining gap — a reader that
    * resolves `path` in the instant between the two renames fails to list
    * it — is closed by the generation layout ([[writeStoreGeneration]]),
    * where commits never touch the directory a reader resolved. */
  def writeStoreSwap(df: DataFrame, path: String, partitionColumns: Seq[String]): Unit = {
    val spark = df.sparkSession
    val tmp   = path + ".tmp"
    val fs    = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val target  = new Path(path)
    val tmpPath = new Path(tmp)
    val aside   = new Path(path + ".old")
    // self-heal a crash between the renames of a previous swap BEFORE
    // planning reads `path` (the write below may have lineage on it)
    healSwap(spark, path)
    writeStore(df, tmp, partitionColumns)
    if (fs.exists(aside)) fs.delete(aside, true)
    if (fs.exists(target)) fs.rename(target, aside)
    fs.rename(tmpPath, target)
    if (fs.exists(aside)) fs.delete(aside, true)
    ()
  }

  // --- generation-based commits ----------------------------------------

  /** Generation store layout: `<path>/gen-<13-digit seq>/`, each a plain
    * parquet directory. A generation is COMMITTED iff its `_SUCCESS`
    * marker exists — Spark writes the marker last, so commit is one atomic
    * file create and there is NO window where a resolved store is missing
    * or partial (the weakness [[writeStoreSwap]] retains for path-level
    * readers). Readers resolve a committed generation once and read that
    * directory directly; writers only ever create NEW directories, so a
    * reader mid-scan of generation N is untouched by the commit of N+1 —
    * the concurrent-reader contract a 100 TB store needs when maintenance
    * loops ([[graft.streaming.StreamingHistorization
    * .clusterMaintainStream]], takedowns, compaction) rewrite stores that
    * are being read continuously. Retention keeps the newest `keep`
    * committed generations, so a reader survives at least `keep - 1`
    * rewrites; pin retention to the longest reader you run.
    *
    * CONCURRENT writers are safe: each builds into a writer-private
    * `_gen_build_*` sibling (underscore-prefixed — invisible to parquet
    * readers) and commits by rename-if-absent of the next `gen-<seq>`,
    * retrying with the following sequence number on a lost race — the
    * same CAS shape [[readOrCreate]] uses for staging. Two interleaved
    * maintenance loops therefore commit two DISTINCT generations and can
    * never interleave files in one directory. */
  private val GenPrefix = "gen-"

  private val GenBuildPrefix = "_gen_build_"

  private def genDirName(gen: Long): String = f"$GenPrefix$gen%013d"

  /** Path of one generation directory (committed or not). */
  def generationPath(path: String, gen: Long): String = s"$path/${genDirName(gen)}"

  /** Committed generation sequence numbers, ascending. Uncommitted
    * directories (a writer died mid-write, or one is writing right now)
    * are invisible. */
  def listGenerations(spark: SparkSession, path: String): Seq[Long] = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else generations(fs, fs.listStatus(root).toSeq, committedOnly = true).map(_._1)
  }

  /** The generation directories among the `entries` of a store root, as
    * (sequence number, directory) in ascending order; `committedOnly`
    * keeps those holding `_SUCCESS`. A non-numeric suffix (an operator's
    * gen-...bak copy) is not a generation, so one stray directory cannot
    * poison every read of the store. */
  private def generations(
      fs: FileSystem, entries: Seq[FileStatus], committedOnly: Boolean): Seq[(Long, Path)] =
    entries
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(GenPrefix))
      .flatMap(s => Try(s.getPath.getName.stripPrefix(GenPrefix).toLong).toOption
        .map(_ -> s.getPath))
      .filter { case (_, dir) => !committedOnly || fs.exists(new Path(dir, "_SUCCESS")) }
      .sortBy(_._1)

  /** CAS-commit a fully-written build directory (its `_SUCCESS` already
    * inside) as the next generation: rename-if-absent of `gen-<seq>`,
    * retrying with the following sequence on a lost race. The rename is
    * one directory move, so the generation appears committed atomically —
    * there is no window where `gen-<seq>` exists without its marker. A
    * lost race either returns false (target existed) or relocates the
    * build INSIDE the winner's directory (local-fs rename semantics);
    * both are detected, the build is recovered, and the commit retries
    * against the next number. */
  private def commitGeneration(fs: FileSystem, root: Path, build: Path): Long = {
    var attempts = 0
    while (attempts < 1000) {
      // one past the highest EXISTING directory, committed or not: an
      // uncommitted leftover must never be re-entered (a dead writer's
      // executor could still be writing into it)
      val next = generations(fs, fs.listStatus(root).toSeq, committedOnly = false)
        .lastOption.fold(0L)(_._1) + 1
      val target = new Path(root, genDirName(next))
      val nested = new Path(target, build.getName)
      if (fs.rename(build, target) && !fs.exists(nested)) return next
      if (fs.exists(nested)) fs.rename(nested, build) // relocated inside the winner: recover
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not commit a generation under $root after 1000 attempts — " +
        "is something creating gen-* directories faster than the CAS can retry?")
  }

  /** Retention: prune generation directories below the cut implied by the
    * newest `keep` COMMITTED generations — pruned dirs are either old
    * committed passes or dead writers' uncommitted debris. Stale
    * `_gen_build_*` siblings (a builder crashed between write and commit)
    * are swept once they are older than `staleBuildMillis` — age-gated so
    * a LIVE concurrent builder's directory is never deleted from under it. */
  private def pruneGenerations(
      fs: FileSystem, root: Path, keep: Int, newest: Long,
      staleBuildMillis: Long = 24L * 3600 * 1000): Unit = {
    val entries = fs.listStatus(root).toSeq
    val cut = generations(fs, entries, committedOnly = true)
      .takeRight(keep).headOption.fold(newest)(_._1)
    generations(fs, entries, committedOnly = false).foreach { case (g, dir) =>
      if (g < cut) fs.delete(dir, true)
    }
    val now = System.currentTimeMillis()
    entries.foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith(GenBuildPrefix)
          && now - s.getModificationTime > staleBuildMillis)
        fs.delete(s.getPath, true)
    }
  }

  /** Commit `df` as the next generation of the store at `path` and prune
    * to the newest `keep` committed generations (plus any uncommitted
    * leftovers older than the newest committed, which are dead writers'
    * debris). Concurrent-writer safe: see [[commitGeneration]]. Returns
    * the committed generation number. */
  def writeStoreGeneration(
      df: DataFrame,
      path: String,
      partitionColumns: Seq[String] = Nil,
      keep: Int = 2): Long =
    writeStoreGenerationWith(df.sparkSession, path, keep)(
      dir => writeStore(df, dir, partitionColumns))

  /** [[writeStoreGeneration]] generalized over the writer, the same
    * shape as [[readOrCreateWith]]: `writeTo` persists the generation's
    * content at the build path it is given — any layout, including
    * [[StoreIndex.writeStoreSorted]]/[[StoreIndex.writeStoreZOrdered]]
    * (whose `_stats` manifest is basename-keyed, so it stays valid
    * through the commit rename and [[StoreIndex.readStoreSkipping]]
    * works against the committed generation directory). Commit
    * choreography unchanged: writer-private underscore build dir, CAS
    * rename to the next `gen-<seq>`, retention prune. */
  def writeStoreGenerationWith(
      spark: SparkSession,
      path: String,
      keep: Int = 2)(writeTo: String => Unit): Long = {
    require(keep >= 1, "keep must be >= 1")
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    if (!fs.exists(root)) fs.mkdirs(root)
    // build writer-private (underscore prefix: invisible to parquet
    // readers of the root), then CAS-commit — the write itself races with
    // nothing, and the commit is one atomic rename
    val build = new Path(root, s"$GenBuildPrefix${java.util.UUID.randomUUID().toString.take(8)}")
    writeTo(build.toString)
    val next = commitGeneration(fs, root, build)
    pruneGenerations(fs, root, keep, next)
    next
  }

  /** Compliance erasure ACROSS generations — the missing half of takedown
    * over a generation store: [[graft.operators.Dedup.removeDocs]] (and
    * any maintenance loop) repairs the LATEST generation, but retention
    * keeps `keep` prior generations that still hold the removed rows. A
    * right-to-be-forgotten purge must scrub ALL retained state, so this
    * rewrites EVERY retained committed generation dropping `removed`'s
    * ids (anti-join on `idCol`; the removal batch is broadcast — each
    * rewrite is one map-side pass), commits each rewrite as a NEW
    * generation IN THE SAME ORDER (the retained history survives, minus
    * the purged rows, and readers resolving mid-purge stay safe — commits
    * never touch a directory a reader resolved), then prunes every
    * pre-purge generation, dead-writer `_gen_build_*` debris, and any
    * path-level `.old`/`.tmp` aside a swap-layout past left behind.
    *
    * `graceMillis` holds the prune back so a reader pinned to a pre-purge
    * generation can finish its scan: after the window every pre-purge
    * directory is provably gone ([[readStoreGeneration]] on it throws).
    * Size the grace to the longest reader you run — erasure compliance
    * deadlines are hours, reader scans are minutes. Concurrent WRITERS
    * must be quiesced for the purge to be exhaustive: a commit racing the
    * purge could re-introduce removed ids from pre-purge lineage (the
    * same contract any compliance pass over a live store carries).
    *
    * @return pre-purge generation -> its purged replacement, empty when
    *         the store has no committed generation
    */
  def purgeGenerations(
      spark: SparkSession,
      path: String,
      removed: DataFrame,
      idCol: String,
      partitionColumns: Seq[String] = Nil,
      graceMillis: Long = 0L): Map[Long, Long] = {
    val mapping = purgeRewriteGenerations(spark, path, removed, idCol, partitionColumns)
    if (mapping.isEmpty) return mapping
    // grace window for readers pinned to pre-purge generations, then
    // prune everything pre-purge
    if (graceMillis > 0) Thread.sleep(graceMillis)
    prunePrePurge(spark, path, mapping.values.min)
    mapping
  }

  /** The rewrite half of [[purgeGenerations]]: every retained committed
    * generation rewritten minus `removed`'s ids, ascending, each
    * committed as a NEW generation — all pre-purge directories still
    * stand afterwards (pinned readers untouched; [[purgeSnapshot]] needs
    * this window to remap manifests before anything is pruned). */
  private def purgeRewriteGenerations(
      spark: SparkSession,
      path: String,
      removed: DataFrame,
      idCol: String,
      partitionColumns: Seq[String] = Nil): Map[Long, Long] = {
    import org.apache.spark.sql.functions.broadcast
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val preGens = listGenerations(spark, path)
    if (preGens.isEmpty) return Map.empty
    val ids = broadcast(removalIds(removed, idCol))
    // the purged rewrites are independent (each reads its own pre-purge
    // directory, writes its own build dir) — run them concurrently; the
    // COMMITS stay sequential and ascending, because generation order is
    // meaning-bearing (readStoreLatest resolves max) and an interleaved
    // CAS could give an older generation's purged twin the higher number
    val builds = graft.Jobs.mapConcurrently(preGens.map { g => () =>
      val genDir = new Path(generationPath(path, g))
      // preserve a partitioned generation's layout: an explicit caller
      // choice wins, otherwise detect the hive chain from the directory
      // itself — rewriting a day-partitioned store flat would silently
      // turn every partition-pruned reader into a full scan
      val parts =
        if (partitionColumns.nonEmpty) partitionColumns
        else detectPartitionColumns(fs, genDir)
      val purged = readStoreGeneration(spark, path, g).join(ids, Seq(idCol), "left_anti")
      val build = new Path(root, s"$GenBuildPrefix${java.util.UUID.randomUUID().toString.take(8)}")
      writeStore(purged, build.toString, parts)
      (g, build)
    })
    builds.map { case (g, build) => g -> commitGeneration(fs, root, build) }.toMap
  }

  /** Hive partition columns of an existing parquet directory, detected
    * from its `col=value` subdirectory chain (outermost first); empty
    * for a flat layout. Lets the generation-rewrite maintenance paths
    * (purge, compaction) preserve a partitioned layout without threading
    * the original writer's partitionColumns through every signature. */
  private def detectPartitionColumns(fs: FileSystem, dir: Path): Seq[String] = {
    @annotation.tailrec
    def walk(d: Path, acc: Seq[String]): Seq[String] = {
      val subs =
        if (!fs.exists(d)) Array.empty[org.apache.hadoop.fs.FileStatus]
        else fs.listStatus(d).filter(s =>
          s.isDirectory && s.getPath.getName.contains("="))
      if (subs.isEmpty) acc
      else walk(subs.head.getPath,
        acc :+ subs.head.getPath.getName.takeWhile(_ != '='))
    }
    walk(dir, Nil)
  }

  /** The removal-id column of a takedown frame: the column NAMED `idCol`
    * when present, otherwise the frame's single column. A multi-column
    * frame without `idCol` is ambiguous and refused — silently purging on
    * whatever column happened to be first would typically anti-join on
    * nothing and report a compliance erasure as done while the targeted
    * rows survive. */
  private def removalIds(removed: DataFrame, idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    if (removed.columns.contains(idCol)) removed.select(col(idCol)).distinct()
    else {
      require(removed.columns.length == 1,
        s"removal frame has columns [${removed.columns.mkString(", ")}] and none is "
          + s"'$idCol' — pass a single-column frame or one carrying $idCol")
      removed.select(col(removed.columns.head).as(idCol)).distinct()
    }
  }

  /** Prune EVERYTHING pre-purge at `path`: committed generations below
    * `firstNew`, uncommitted debris (a dead writer's partial files can
    * hold removed rows too), stale builds, and swap-layout asides. */
  private def prunePrePurge(spark: SparkSession, path: String, firstNew: Long): Unit = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val entries = fs.listStatus(root).toSeq
    generations(fs, entries, committedOnly = false).foreach { case (g, dir) =>
      if (g < firstNew) fs.delete(dir, true)
    }
    entries.foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith(GenBuildPrefix)) fs.delete(s.getPath, true)
    }
    Seq(".old", ".tmp").foreach { suffix =>
      val aside = new Path(path + suffix)
      if (fs.exists(aside)) fs.delete(aside, true)
    }
  }

  /** Adopt a store previously written in the plain swap layout into the
    * generation layout: the standing content (committed — root-level
    * `_SUCCESS`) becomes the first committed generation by two renames,
    * no data rewrite. Without this, pointing a generation-aware
    * maintenance loop at a plain-layout store silently treats it as
    * ABSENT ([[readStoreLatest]] finds no `gen-*` directories) — a
    * takedown would skip repairing the standing rows and a labeling loop
    * would restart from empty, so the flag-migration path must either
    * adopt or fail, never skip.
    *
    * Crash-safe: the content moves root → `<path>.migrating` →
    * `gen-<seq>`; a crash between the renames leaves the aside standing,
    * and the next call resumes by committing it. Mixed layouts (root
    * `_SUCCESS` AND committed generations — two writers disagreed about
    * the layout) fail loudly rather than nest one store inside the other.
    *
    * @return the committed generation holding the adopted content, None
    *         when there was nothing to migrate (already generation layout
    *         or no committed store at all)
    */
  def migrateToGenerations(spark: SparkSession, path: String): Option[Long] = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val aside = new Path(path + ".migrating")
    val plainCommitted = fs.exists(new Path(root, "_SUCCESS"))
    val crashed = fs.exists(aside)
    if (!plainCommitted && !crashed) return None
    if (plainCommitted && crashed)
      throw new IllegalStateException(
        s"both a committed plain store at $path and a migration aside at $aside exist — " +
          "a crashed migration was followed by a new plain-layout write; resolve manually")
    if (plainCommitted) {
      require(listGenerations(spark, path).isEmpty,
        s"mixed layout at $path: root-level _SUCCESS AND committed gen-* directories — " +
          "refusing to nest one store inside the other")
      if (!fs.rename(root, aside))
        throw new IllegalStateException(s"could not move $path aside for migration")
    }
    fs.mkdirs(root)
    Some(commitGeneration(fs, root, aside))
  }

  /** Generation travel: read one committed generation — "the store as
    * maintenance pass N left it". Throws if the generation was never
    * committed or has been pruned. */
  def readStoreGeneration(spark: SparkSession, path: String, gen: Long): DataFrame = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(generationPath(path, gen), "_SUCCESS")),
      s"generation $gen of $path is not committed (never written, mid-write, or pruned)")
    readParquet(spark, generationPath(path, gen))
  }

  /** Resolve-and-pin read of the newest committed generation: the
    * (generation, frame) a continuous reader holds across a concurrent
    * commit. None when no generation has ever committed. */
  def readStoreLatest(spark: SparkSession, path: String): Option[(Long, DataFrame)] =
    listGenerations(spark, path).lastOption.map(g => (g, readStoreGeneration(spark, path, g)))

  /** Compact the LATEST committed generation of a generation store:
    * rewrite its rows at ~`targetBytes` file sizes and commit the result
    * as a NEW generation — compaction is just another maintenance pass,
    * so readers pinned to prior passes are undisturbed and a crashed
    * compaction leaves an invisible uncommitted directory. This is the
    * generation-layout twin of [[compactStore]] (which must NOT be
    * pointed at a generation ROOT: a plain parquet read of the root
    * would mix generations). Returns (files before, files after). */
  def compactStoreGenerations(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 512L * 1024 * 1024,
      keep: Int = 2): (Long, Long) = {
    require(targetBytes >= 1, "targetBytes must be positive")
    val (gen, df) = readStoreLatest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed generation at $path"))
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val genDir = new Path(generationPath(path, gen))
    val before = countParquetFiles(fs, genDir)
    val bytes = fs.getContentSummary(genDir).getLength
    val numFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // preserve a partitioned generation's hive layout — compacting a
    // day-partitioned store flat would break every partition-pruned read
    val parts = detectPartitionColumns(fs, genDir)
    val next = writeStoreGeneration(
      df.repartition(numFiles), path, partitionColumns = parts, keep = keep)
    (before, countParquetFiles(fs, new Path(generationPath(path, next))))
  }

  /** CROSS-STORE atomic visibility: commit several derived stores AND a
    * manifest pinning their generations, so a reader composing them (a
    * labeling plus its cluster stats, a PQ code table plus its postings)
    * sees all-from-pass-N or all-from-pass-N+1, never a mix. Per-store
    * generation commits are individually atomic but mutually unordered —
    * without the manifest a reader resolving "latest" per store races
    * the pass boundary.
    *
    * The manifest IS a generation store of (store, generation) rows, so
    * it inherits everything the layer already guarantees: CAS commit
    * (two concurrent passes commit distinct, internally-consistent
    * manifests), `_SUCCESS` atomicity, retention, debris pruning. The
    * commit ORDER is the crash contract: stores first, manifest last —
    * a crash before the manifest commit leaves newly-committed store
    * generations unreferenced (invisible to snapshot readers, pruned by
    * later retention) and the previous manifest still names a complete,
    * older set.
    *
    * Retention sizing: each store keeps `keep` generations, the manifest
    * keeps `keep` pins — equal `keep` means every retained manifest's
    * pins are readable (each pass advances every store by exactly one
    * generation; a purge or out-of-band commit breaks that alignment, so
    * size `keep` to the oldest manifest you still serve).
    *
    * BASE generations (the delta-store rebase axis): each pin carries a
    * `base` generation, and [[readSnapshotDeltas]] unions only the delta
    * generations in `[base, pin]`. Base 0 (the default — generations
    * start at 1) means "from the beginning", i.e. the plain delta-union
    * read. A store named in `rebase` records ITS OWN newly committed
    * generation as the base: the committed content is a FULL snapshot of
    * the store and every earlier delta stops being part of the pinned
    * content — how a compaction or a delta-layout takedown
    * ([[graft.operators.Curation.curateTakedownSnapshot]]) rewrites an
    * append-only history without rewriting it. `bases` carries existing
    * bases FORWARD on ordinary delta commits (a loop that ever rebased
    * must keep pinning that base, or the next commit would resurrect the
    * pre-base rows); read them with [[readManifestPins]]. Manifests
    * written before this column existed read as base 0 everywhere.
    *
    * @param stores (name, root path, content) per store; name is the key
    *               readers use
    * @param bases  name -> base generation to record (absent -> 0)
    * @param rebase stores whose committed generation IS the new base —
    *               their content must be the full store, not a delta
    * @return the committed manifest generation
    */
  def commitSnapshot(
      spark: SparkSession,
      manifestPath: String,
      stores: Seq[(String, String, DataFrame)],
      keep: Int = 2,
      bases: Map[String, Long] = Map.empty,
      rebase: Set[String] = Set.empty): Long = {
    import spark.implicits._
    require(stores.nonEmpty, "a snapshot needs at least one store")
    require(stores.map(_._1).distinct.size == stores.size, "store names must be unique")
    val names = stores.map(_._1).toSet
    require((bases.keySet ++ rebase).subsetOf(names),
      s"bases/rebase name stores outside this commit: " +
        s"${(bases.keySet ++ rebase).diff(names).mkString(", ")}")
    require(bases.keySet.intersect(rebase).isEmpty,
      "a store cannot both carry a base and rebase — the rebase IS its new base")
    // the member stores are independent (distinct roots) — write their
    // generations concurrently so one store's task tail back-fills with
    // the next store's tasks; the manifest still commits strictly LAST,
    // which is the entire crash contract
    val pins = graft.Jobs.mapConcurrently(stores.map { case (name, path, df) => () =>
      val g = writeStoreGeneration(df, path, keep = keep)
      (name, g, if (rebase(name)) g else bases.getOrElse(name, 0L))
    })
    // one row per store — a driver-sized frame by construction
    writeStoreGeneration(pins.toDF("store", "generation", "base").coalesce(1),
      manifestPath, keep = keep)
  }

  /** The pin rows of one manifest generation: name -> (pinned generation,
    * base generation), resolved at the newest committed manifest or a
    * `manifestGen` pin. Base is 0 for manifests written before the base
    * column existed (and for never-rebased stores) — the "union every
    * delta" read. This is what a loop committing through
    * [[commitSnapshot]] reads to CARRY bases forward. None when no
    * manifest has committed. */
  def readManifestPins(
      spark: SparkSession,
      manifestPath: String,
      manifestGen: Option[Long] = None): Option[(Long, Map[String, (Long, Long)])] = {
    val resolved = manifestGen.orElse(listGenerations(spark, manifestPath).lastOption)
    resolved.map { g =>
      val df = readStoreGeneration(spark, manifestPath, g)
      val withBase =
        if (df.columns.contains("base")) df.select("store", "generation", "base")
        else df.select(col("store"), col("generation"),
          org.apache.spark.sql.functions.lit(0L).as("base"))
      g -> withBase.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
  }

  /** Read a consistent cross-store snapshot: resolve the manifest (the
    * newest committed generation, or `manifestGen` for snapshot travel),
    * then open every pinned store AT ITS PINNED GENERATION. Stores in
    * the manifest but absent from `paths` are ignored (a reader may care
    * about a subset); asking for a name the manifest does not pin
    * throws — a silent fallback to "latest" would reintroduce exactly
    * the mixed-pass read this exists to prevent.
    *
    * @param paths name -> store root, for the stores the reader wants
    * @return (manifest generation, name -> pinned frame); None when no
    *         manifest has ever committed
    */
  def readSnapshot(
      spark: SparkSession,
      manifestPath: String,
      paths: Map[String, String],
      manifestGen: Option[Long] = None): Option[(Long, Map[String, DataFrame])] = {
    readManifestPins(spark, manifestPath, manifestGen).map { case (g, pins) =>
      val missing = paths.keySet.diff(pins.keySet)
      require(missing.isEmpty,
        s"manifest generation $g of $manifestPath does not pin: ${missing.mkString(", ")}")
      g -> paths.map { case (name, root) =>
        name -> readStoreGeneration(spark, root, pins(name)._1)
      }
    }
  }

  /** [[readSnapshot]] where some stores are DELTA stores: each committed
    * generation holds an INCREMENT (one pass's novelty, O(batch) to
    * write), and the pinned content is the UNION of every committed
    * generation up to the pin — the O(corpus)-per-pass rewrite a
    * full-content snapshot would force on an append-only store is the
    * reason this form exists. `fullPaths` stores read exactly the pinned
    * generation ([[readSnapshot]] semantics — e.g. a labeling whose pass
    * output is inherently the full relabel).
    *
    * Delta consumers must carry SET semantics (anti-join / semi-join /
    * dropDuplicates probes): a pass that crashed after writing its delta
    * but before the manifest commit leaves an ORPHAN generation below the
    * re-run's pin, so the union can contain the same increment twice.
    * That is the documented crash artifact — duplicate delta ROWS, never
    * missing or phantom keys — and exactly the artifact every store the
    * curation loop maintains absorbs by construction.
    *
    * The union reads as ONE multi-path parquet relation, so the plan does
    * not grow a node per pass; retention for delta roots must be
    * unbounded (pruning an old delta generation deletes data, unlike a
    * full-content store where only history is lost) — until a REBASE
    * ([[commitSnapshot]]'s `rebase`) pins a base generation, after which
    * the pinned content is the union of `[base, pin]` only and the
    * pre-base generations back nothing but older manifests.
    */
  def readSnapshotDeltas(
      spark: SparkSession,
      manifestPath: String,
      deltaPaths: Map[String, String],
      fullPaths: Map[String, String],
      manifestGen: Option[Long] = None): Option[(Long, Map[String, DataFrame])] = {
    readManifestPins(spark, manifestPath, manifestGen).map { case (g, pins) =>
      val missing = (deltaPaths.keySet ++ fullPaths.keySet).diff(pins.keySet)
      require(missing.isEmpty,
        s"manifest generation $g of $manifestPath does not pin: ${missing.mkString(", ")}")
      val full = fullPaths.map { case (name, root) =>
        name -> readStoreGeneration(spark, root, pins(name)._1)
      }
      val deltas = deltaPaths.map { case (name, root) =>
        val (pin, base) = pins(name)
        val gens = listGenerations(spark, root).filter(x => x >= base && x <= pin)
        require(gens.nonEmpty,
          s"no committed generations at $root in [$base, $pin]")
        name -> spark.read.parquet(gens.map(generationPath(root, _)): _*)
      }
      g -> (full ++ deltas)
    }
  }

  /** MAINTENANCE compaction of a delta-store snapshot: the streaming
    * curation loop commits one delta generation per store per
    * micro-batch, so a long-lived deployment's pinned union grows a
    * parquet directory per batch — this folds the current pinned state
    * into ONE full generation per delta store and commits it as a
    * REBASED snapshot ([[commitSnapshot]] `rebase`), after which readers
    * union a single directory again and the loop stacks new deltas on
    * the base. Delta rows deduplicate (`distinct`) — the union's only
    * legitimate duplicates are orphan-generation crash artifacts, and
    * every consumer is set-semantic by contract; full stores re-commit
    * their pinned content unchanged. Content-neutral by construction
    * (the compacted pin reads the same SET every probe already saw);
    * crash-safe the usual way (stores first, manifest last — a crash
    * leaves orphan full generations above the prior pins). Writers must
    * be quiesced, as for any maintenance pass that must not race a
    * commit. Pre-base generations stay on disk backing older manifests
    * (snapshot travel); reclaim them with [[purgeSnapshot]]-style
    * history rewrites, never ad hoc.
    *
    * @return the committed manifest generation; None when no manifest
    *         has ever committed
    */
  def compactSnapshotDeltas(
      spark: SparkSession,
      manifestPath: String,
      deltaPaths: Map[String, String],
      fullPaths: Map[String, String] = Map.empty,
      keep: Int = Int.MaxValue): Option[Long] =
    readSnapshotDeltas(spark, manifestPath, deltaPaths, fullPaths).map { case (_, m) =>
      val stores = deltaPaths.toSeq.map { case (name, root) =>
        (name, root, m(name).distinct()) } ++
        fullPaths.toSeq.map { case (name, root) => (name, root, m(name)) }
      commitSnapshot(spark, manifestPath, stores, keep = keep,
        rebase = deltaPaths.keySet)
    }

  /** RETENTION for a delta-store snapshot deployment: the streaming loop
    * commits one manifest and one delta generation per store per
    * micro-batch with unbounded `keep` (pruning a referenced delta
    * generation would delete data), so history grows per batch forever —
    * this drops the manifests older than the newest `keepManifests` and
    * then every store generation NO retained manifest can reference:
    * for a delta store, generations below the minimum window start over
    * the retained manifests that pin it (a base-0 pin needs everything
    * from generation 1, so it blocks pruning — REBASE first, via
    * [[compactSnapshotDeltas]] or a takedown, and let the pre-rebase
    * manifests age out); for a full store, generations below the
    * minimum retained pin. Conservative by design: generations inside
    * or above any retained window are never touched (orphans above the
    * newest pin are a crashed batch's re-deliverable debris), and a
    * store pinned by NO retained manifest is left whole rather than
    * guessed at.
    *
    * Crash contract: manifests prune FIRST — a crash afterwards leaves
    * unreferenced store generations standing (garbage, re-run
    * converges), never a retained manifest naming a pruned directory.
    * `graceMillis` holds the store prune back for readers that resolved
    * an old manifest just before it vanished. Writers must be quiesced,
    * as for every maintenance pass here.
    *
    * @return store name (and "manifest") -> pruned directory count
    */
  def pruneSnapshotHistory(
      spark: SparkSession,
      manifestPath: String,
      deltaPaths: Map[String, String],
      fullPaths: Map[String, String] = Map.empty,
      keepManifests: Int = 2,
      graceMillis: Long = 0L): Map[String, Int] = {
    require(keepManifests >= 1, "keepManifests must be >= 1")
    val all = listGenerations(spark, manifestPath)
    if (all.isEmpty) return Map.empty
    val retained = all.takeRight(keepManifests)
    val pinsPer = retained.map(m => readManifestPins(spark, manifestPath, Some(m)).get._2)
    def deleteBelow(root: String, cut: Long): Int = {
      val fs = FileSystem.get(new URI(root), spark.sparkContext.hadoopConfiguration)
      val doomed = listGenerations(spark, root).filter(_ < cut)
      doomed.foreach(g => fs.delete(new Path(generationPath(root, g)), true))
      doomed.size
    }
    val manifestPruned = deleteBelow(manifestPath, retained.head)
    if (graceMillis > 0) Thread.sleep(graceMillis)
    val storePruned = (deltaPaths.keySet ++ fullPaths.keySet).toSeq.map { name =>
      val needs = pinsPer.flatMap(_.get(name)).map { case (pin, base) =>
        if (deltaPaths.contains(name)) { if (base == 0L) 1L else base } else pin
      }
      // pinned by no retained manifest -> no basis to prune; leave whole
      val cut = if (needs.isEmpty) Long.MinValue else needs.min
      name -> deleteBelow(deltaPaths.getOrElse(name, fullPaths(name)), cut)
    }
    (storePruned :+ ("manifest" -> manifestPruned)).toMap
  }

  /** Compliance erasure ACROSS a manifest's stores — the composition of
    * [[purgeGenerations]] with [[commitSnapshot]]: purging a pinned
    * store renumbers its generations, which would leave every retained
    * manifest naming pruned directories (snapshot reads would throw).
    * This purges each store and then REWRITES the retained manifest
    * history through the purge mappings: each manifest generation is
    * re-committed in order with its pins remapped old→new, then the
    * pre-purge manifests are pruned. Snapshot travel survives erasure —
    * an old manifest still resolves a consistent cross-store pass, just
    * minus the erased rows, which is exactly the legal-erasure contract
    * ("history preserved, erased subjects gone").
    *
    * Crash contract: NOTHING is pruned until the stores are rewritten
    * AND every retained manifest is remapped — a crash at any point
    * leaves the old generations and old manifests fully standing, so
    * readers never dangle and a re-run converges to a correct,
    * fully-erased state (the re-run re-purges the crashed run's twins
    * too, so passes the crashed run already remapped can appear twice in
    * the surviving history — duplicate entries of identical content, the
    * only artifact of the window). A pin outside a store's purge mapping
    * can therefore only mean the generation was pruned BEFORE this purge
    * (retention misalignment) — it fails loudly rather than guess.
    * Writers must be quiesced, as for [[purgeGenerations]].
    *
    * @param stores (name, root, idColumn) for every store holding
    *               subject rows; stores the manifests pin but this list
    *               omits are left untouched and keep their original pins
    * @return old manifest generation -> its rewritten replacement
    */
  def purgeSnapshot(
      spark: SparkSession,
      manifestPath: String,
      stores: Seq[(String, String, String)],
      removed: DataFrame,
      graceMillis: Long = 0L): Map[Long, Long] = {
    import spark.implicits._
    require(stores.map(_._1).distinct.size == stores.size, "store names must be unique")
    val preManifests = listGenerations(spark, manifestPath)
    if (preManifests.isEmpty) return Map.empty
    // phase 1: rewrite every store's retained generations — NO pruning
    // yet, the old directories back the manifests until phase 2 is done
    val mappings: Map[String, Map[Long, Long]] = stores.map {
      case (name, root, idCol) =>
        name -> purgeRewriteGenerations(spark, root, removed, idCol)
    }.toMap
    // phase 2: rewrite the manifest history through the mappings, in
    // order — every retained manifest keeps meaning "one consistent
    // pass", now of the purged twins
    val fs = FileSystem.get(new URI(manifestPath), spark.sparkContext.hadoopConfiguration)
    val root = new Path(manifestPath)
    val manifestMapping = preManifests.map { m =>
      val pins = readManifestPins(spark, manifestPath, Some(m)).get._2.toSeq
      val remapped = pins.map { case (name, (gen, base)) =>
        mappings.get(name) match {
          case None => (name, gen, base) // a store this purge was not asked to touch
          case Some(mapping) =>
            def remap(g: Long, what: String): Long =
              if (g == 0L) 0L // base 0 = "from the beginning", not a directory
              else mapping.getOrElse(g, throw new IllegalStateException(
                s"manifest generation $m of $manifestPath pins $name $what $g, which was " +
                  "pruned before this purge — refusing to guess what it meant"))
            (name, remap(gen, "at"), remap(base, "based at"))
        }
      }
      val build = new Path(root, s"$GenBuildPrefix${java.util.UUID.randomUUID().toString.take(8)}")
      writeStore(remapped.toDF("store", "generation", "base").coalesce(1), build.toString, Nil)
      m -> commitGeneration(fs, root, build)
    }.toMap
    // phase 3: grace for in-flight readers, then prune everything
    // pre-purge — store generations AND manifests in one sweep
    if (graceMillis > 0) Thread.sleep(graceMillis)
    stores.foreach { case (name, storeRoot, _) =>
      if (mappings(name).nonEmpty) prunePrePurge(spark, storeRoot, mappings(name).values.min)
    }
    prunePrePurge(spark, manifestPath, manifestMapping.values.min)
    manifestMapping
  }

  /** Run travel ACROSS generations: run-based time travel
    * ([[readStoreAsOfRun]]) applied to one pinned generation of an
    * append-only hash store — "the snapshot run R saw, as maintenance pass
    * G preserved it". Composes the two axes a production store versions
    * on: generations (physical rewrites) and runs (logical loads). */
  def readStoreGenerationAsOfRun(
      spark: SparkSession, path: String, gen: Long, runId: String): DataFrame =
    graft.pipeline.Historization.asOfRun(readStoreGeneration(spark, path, gen), runId)

  /** Materialize-once staging for a derived store: read `path` when it
    * already holds a committed generation; otherwise evaluate `build`,
    * persist it, and read it back. This is the compute-once/ask-many
    * shape of every expensive derived artifact — a near-dup pair set, a
    * cluster labeling, an ANN code table: production computes it once per
    * corpus generation and feeds every downstream question from the
    * store, instead of re-deriving it per question. Callers that need
    * input-change invalidation put a content tag of the inputs in `path`.
    *
    * Commit is a rename-if-absent CAS, so CONCURRENT builders (two bench
    * or CI runs sharing a staging root) are safe: each builds into a
    * unique `_build_*` sibling, exactly one rename lands as `path`, and
    * the loser discards its copy — a committed store is NEVER rewritten,
    * so no reader can observe a swap window. (Filesystems rename INTO an
    * existing target directory; the underscore prefix keeps a lost-race
    * copy invisible to parquet readers until the loser deletes it.) */
  def readOrCreate(spark: SparkSession, path: String)(build: => DataFrame): DataFrame =
    readOrCreateWith(spark, path)(tmp => writeStore(build, tmp, Nil))

  /** [[readOrCreateWith]] for a directory artifact that is not itself one
    * parquet store (e.g. a tiered-store root holding `active/` and
    * `history/` sub-stores): same build-into-sibling + rename-if-absent
    * CAS, but commit is marked by an own `_STAGED` file (the sub-stores
    * carry their own `_SUCCESS`) and nothing is read back — the caller
    * addresses the sub-paths itself. Returns `path` for chaining. */
  def ensureStagedDir(spark: SparkSession, path: String)(build: String => Unit): String = {
    stageOnce(spark, path, "_STAGED", "ensureStagedDir") { tmp =>
      build(tmp)
      val marker = new Path(tmp, "_STAGED")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration).create(marker).close()
    }
    path
  }

  /** [[readOrCreate]] generalized over the writer: `writeTo` persists the
    * store content at the path it is given (any layout — partitioned,
    * bucketed directories, …); commit-if-absent choreography as above. */
  def readOrCreateWith(spark: SparkSession, path: String)(writeTo: String => Unit): DataFrame = {
    stageOnce(spark, path, "_SUCCESS", "readOrCreate")(writeTo)
    readParquet(spark, path)
  }

  /** The commit of [[readOrCreateWith]] and [[ensureStagedDir]]: `path`
    * counts as committed once it holds `marker`. Until then `build` writes
    * into a unique `_build_*` sibling (which it must leave holding
    * `marker`) and the sibling is renamed in only if `path` is still
    * absent; a builder that lost the race discards its copy. Once `path`
    * is committed, crashed builders' stale `_build_*` siblings are swept.
    * `caller` names the public entry in a commit failure. */
  private def stageOnce(spark: SparkSession, path: String, marker: String, caller: String)(
      build: String => Unit): Unit = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    if (!fs.exists(new Path(target, marker))) {
      val tmpName = s"_build_${java.util.UUID.randomUUID().toString.take(8)}"
      val tmp = new Path(target.getParent, tmpName)
      build(tmp.toString)
      // CAS: rename lands iff `path` is still absent. A lost race either
      // returns false or relocates tmp INSIDE the winner's directory —
      // detect both and discard our copy.
      if (!fs.rename(tmp, target) || fs.exists(new Path(target, tmpName))) {
        fs.delete(new Path(target, tmpName), true)
        fs.delete(tmp, true)
        ()
      }
      // the rename can also fail for non-race reasons (permissions, quota,
      // missing parent) with `path` still absent — then a read would
      // surface a confusing missing-path error and the built tmp was just
      // discarded. Fail descriptively instead.
      if (!fs.exists(new Path(target, marker)))
        throw new IllegalStateException(
          s"$caller: commit of $path did not land and no concurrent builder " +
            "committed it either — rename failed for a non-race reason " +
            "(permissions, quota, missing parent directory?)")
    } else {
      // a committed store stands: opportunistically sweep crashed builders'
      // stale `_build_*` siblings (invisible to parquet readers, but
      // unbounded debris otherwise). Age-gated so a LIVE concurrent
      // builder — about to lose the race and clean up after itself — is
      // never deleted from under its write.
      val staleMillis = 24L * 3600 * 1000
      val now = System.currentTimeMillis()
      val parent = target.getParent
      if (parent != null && fs.exists(parent)) fs.listStatus(parent).toSeq.foreach { s =>
        if (s.isDirectory && s.getPath.getName.startsWith("_build_")
            && now - s.getModificationTime > staleMillis)
          fs.delete(s.getPath, true)
      }
    }
  }

  /** Delete rows from a standing store by id — the takedown primitive
    * shared by every persisted artifact that carries per-document rows
    * (MinHash band index, PQ code table, IVF inverted file, exact-dedup
    * digest store): anti-join the store on `idCol` against the removal
    * batch and swap the result into place. The batch is broadcast (a
    * takedown set is bounded), so the rewrite is one map-side pass over
    * the store; model synopses (codebooks, centroids) are left alone —
    * they carry no per-document rows. No-op when the store doesn't exist.
    *
    * The deleted-row count is OPT-IN (`countDeleted`): counting costs one
    * extra semi-join scan of the store, and the callers that run this per
    * takedown micro-batch ([[graft.streaming.StreamingHistorization
    * .takedownStream]]) don't consume it — the default path pays exactly
    * one scan, the rewrite itself. Returns `Some(count)` when counting,
    * `None` otherwise — the option (rather than a -1 sentinel) makes the
    * not-counted case a type error to consume as a count. */
  def deleteFromStore(
      spark: SparkSession,
      path: String,
      removed: DataFrame,
      idCol: String,
      partitionColumns: Seq[String] = Nil,
      countDeleted: Boolean = false): Option[Long] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // a rename gap read as "no store" would skip the takedown
    readForSwap(spark, path) match {
      case Some(df) =>
        val ids = broadcast(removalIds(removed, idCol))
        val kept = df.join(ids, Seq(idCol), "left_anti")
        // count the hits directly (one broadcast semi-join pass) instead of
        // full-store counts before and after the swap
        val deleted = if (countDeleted) Some(df.join(ids, Seq(idCol), "left_semi").count()) else None
        writeStoreSwap(kept, path, partitionColumns)
        deleted
      case None => if (countDeleted) Some(0L) else None
    }
  }

  /** Compact a Parquet store's small files: rewrite the SAME rows into
    * ~`targetBytes`-sized files and swap the result into place.
    *
    * Why this exists: every append-per-batch store in the library — the
    * incremental exact-dedup digest store, the MinHash band index,
    * [[graft.streaming.StreamingHistorization]]'s sinks — grows one-or-
    * more files per micro-batch. At 100 TB ingestion cadence that is
    * thousands of KB-sized files per day, and scan cost becomes file
    * OPEN cost (listing, footer reads, one task per tiny split) rather
    * than byte cost. Periodic compaction restores ~target-sized files,
    * so this is the maintenance half of the continuous-ingestion story.
    *
    * File count = ceil(current bytes / targetBytes). Unpartitioned
    * stores round-robin into that many files; partitioned stores
    * range-partition by the partition columns so each output task writes
    * whole directories (no task fans out across every partition, which
    * would re-create the small-file problem per directory). The rewrite
    * goes through the swap write, so concurrent readers see the old or
    * the new generation, never a half-compacted store.
    *
    * @return (files before, files after) parquet data-file counts
    */
  def compactStore(
      spark: SparkSession,
      path: String,
      partitionColumns: Seq[String] = Nil,
      targetBytes: Long = 512L * 1024 * 1024): (Long, Long) = {
    require(targetBytes >= 1, "targetBytes must be positive")
    import org.apache.spark.sql.functions.col
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val before = countParquetFiles(fs, new Path(path))
    val bytes = fs.getContentSummary(new Path(path)).getLength
    val numFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = readParquet(spark, path)
    // the swap write fully materializes into <path>.tmp BEFORE the old
    // generation is deleted, so the rewrite streams straight from the
    // store it is compacting — no staging copy, no read-overwrite race
    val compacted =
      if (partitionColumns.isEmpty) df.repartition(numFiles)
      else df.repartitionByRange(numFiles, partitionColumns.map(col): _*)
    writeStoreSwap(compacted, path, partitionColumns)
    (before, countParquetFiles(fs, new Path(path)))
  }

  /** Recursive count of `.parquet` data files under `p` — the
    * before/after accounting both compaction paths report. */
  private def countParquetFiles(fs: FileSystem, p: Path): Long = {
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Canonicalize a store read back to `schema`'s column order and types.
    * Partition columns come back repositioned (and possibly re-typed) after
    * a partitioned read — both in fastparquet (main.py:33) and in Spark
    * (SURVEY.md §7.4#6). */
  def canonicalize(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }
}
