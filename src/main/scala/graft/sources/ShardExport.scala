package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard export: the LAST step before a training job reads the
  * corpus — packed sequences land in fixed-count shard files with
  * deterministic names and a manifest, committed through the
  * generation machinery so a crashed export can never publish a partial
  * shard set and a re-run resumes by simply committing the next
  * generation.
  *
  * North-star extension (no reference counterpart). Layout per committed
  * generation ([[Store.writeStoreGenerationWith]]):
  *
  * {{{
  *   <path>/gen-<seq>/shard=<s>/file_idx=<f>/part-*.parquet — the shards
  *   <path>/gen-<seq>/_shards_manifest/                     — (shard,
  *                     file_idx, n_seqs, file) parquet rows
  *   <path>/gen-<seq>/_SUCCESS                              — commit marker
  * }}}
  *
  * Every file holds exactly `seqPerFile` sequences except the last file
  * of each shard stream (the remainder). The assignment is a PURE
  * function of ((shard, pack_id) order, seqPerFile) — repartition-stable
  * and replayable by a window-function oracle — and a training job
  * addresses any shard file through the manifest's `file` column, which
  * records the ACTUAL part-file path under the generation. The layout is
  * deterministic at the MANIFEST level, not the physical-name level:
  * part files keep the names Spark's committer gave them, because
  * renaming every output file to a synthetic name would be O(files)
  * driver-side FS mutation — and on an object store a rename is a
  * server-side COPY, i.e. a 100 TB export would rewrite every byte a
  * second time after writing it.
  *
  * Scale shape: the sequence→file assignment is one per-shard window over
  * (shard, pack_id) rows (shards are independent streams, parallelism =
  * shards, like [[graft.operators.Packing]]); the write is one shuffle to
  * co-locate each output file's rows; the manifest is a bounded roll-up
  * (one row per file) built by a footer-only re-scan of the written
  * files (`_metadata.file_name` + partition columns — zero data columns
  * read). Nothing driver-side scales with the corpus, and the driver
  * never lists or mutates the output tree.
  */
object ShardExport {

  private val ManifestDir = "_shards_manifest"

  /** The deterministic sequence→file assignment: `file_idx` =
    * floor(rank / seqPerFile) where rank is the row's 0-based position
    * in its shard's (pack_id ASC) order. Input must hold ONE row per
    * sequence with unique (shard, pack_id) — duplicate keys would make
    * the rank (and so the whole layout) order-dependent. All input
    * columns pass through. */
  def shardAssignment(packs: DataFrame, seqPerFile: Int): DataFrame = {
    require(seqPerFile >= 1, "seqPerFile must be positive")
    val w = Window.partitionBy("shard").orderBy("pack_id")
    packs.withColumn("file_idx",
      floor(((row_number().over(w) - 1).cast("double")) / seqPerFile.toDouble)
        .cast("long"))
  }

  /** Per-sequence document-boundary metadata from a pack assignment
    * ([[graft.operators.Packing.packSequences]] rows): one row per
    * (shard, pack_id) carrying `doc_ids` and `doc_offsets` arrays in
    * pack_pos order — `doc_offsets(i)` is the token offset where member
    * `doc_ids(i)` starts inside the packed sequence. Exported beside the
    * sequence payload, a trainer can LOSS-MASK document boundaries (no
    * cross-document attention / no loss on the first token after a
    * boundary) straight from the shard file, without joining back to the
    * pack-assignment table. Per-group state is pack-sized (bounded by
    * budget / min-doc-tokens), never corpus-shaped; the collect sorts on
    * pack_pos so the unordered aggregation is deterministic.
    *
    * @return (shard, pack_id, n_docs, n_tokens, doc_ids, doc_offsets)
    */
  def sequenceBoundaries(packed: DataFrame): DataFrame =
    packed.groupBy("shard", "pack_id")
      .agg(array_sort(collect_list(
        struct(col("pack_pos"), col("doc_id"), col("n_tokens")))).as("__m"))
      .select(col("shard"), col("pack_id"),
        size(col("__m")).cast("long").as("n_docs"),
        aggregate(col("__m"), lit(0L),
          (a, x) => a + x.getField("n_tokens")).as("n_tokens"),
        transform(col("__m"), x => x.getField("doc_id")).as("doc_ids"),
        aggregate(col("__m"),
          struct(lit(0L).as("cum"), array().cast("array<long>").as("offs")),
          (acc, x) => struct(
            (acc.getField("cum") + x.getField("n_tokens")).as("cum"),
            concat(acc.getField("offs"), array(acc.getField("cum"))).as("offs")),
          acc => acc.getField("offs")).as("doc_offsets"))

  /** Export `packs` (one row per sequence, unique (shard, pack_id)) as
    * the next generation of the shard store at `path`; returns the
    * committed generation number. Crash-safe and concurrent-writer-safe
    * by the generation CAS ([[Store.writeStoreGenerationWith]]): a died
    * export leaves only invisible `_gen_build_*` debris, and readers of
    * the previous generation are untouched by the commit. */
  def exportTrainingShards(
      packs: DataFrame,
      path: String,
      seqPerFile: Int,
      keep: Int = 2): Long = {
    val spark = packs.sparkSession
    // refuse an empty export loudly: zero rows would write zero data
    // files, the footer-only manifest re-scan below would die on schema
    // inference, and an "empty generation" is never what a training-shard
    // caller means — the streaming path already skips empty batches
    require(!packs.isEmpty,
      s"refusing to export an empty sequence set to $path — nothing to shard")
    val assigned = shardAssignment(packs, seqPerFile)
    Store.writeStoreGenerationWith(spark, path, keep) { dir =>
      // one task per output file: every (shard, file_idx) key lands in
      // exactly one partition, so partitionBy writes exactly one part
      // file per directory — the manifest below records its actual name
      assigned
        .repartition(col("shard"), col("file_idx"))
        .write.partitionBy("shard", "file_idx").parquet(dir)
      // bounded manifest: one row per written file, addressed by the
      // ACTUAL part-file path — a footer-only re-scan (partition columns
      // + _metadata, zero data columns), no driver listing or rename
      val fileName = when(size(col("__fns")) === 1, element_at(col("__fns"), 1))
        .otherwise(raise_error(concat(
          lit("expected exactly one part file per (shard, file_idx) dir, found "),
          size(col("__fns")).cast("string"), lit(" for shard="), col("shard"),
          lit("/file_idx="), col("file_idx"))))
      Store.readParquet(spark, dir)
        // partition-column inference narrows to int; restore the
        // assignment's long dtypes so the manifest schema is stable
        .select(col("shard").cast("long").as("shard"),
          col("file_idx").cast("long").as("file_idx"),
          col("_metadata").getField("file_name").as("__fn"))
        .groupBy("shard", "file_idx")
        .agg(count(lit(1)).as("n_seqs"),
          array_sort(collect_set(col("__fn"))).as("__fns"))
        .withColumn("file", concat(lit("shard="), col("shard"),
          lit("/file_idx="), col("file_idx"), lit("/"), fileName))
        .drop("__fns")
        .coalesce(1)
        .write.parquet(s"$dir/$ManifestDir")
    }
  }

  /** Latest committed generation's directory, or an error naming the
    * store — the resolve step every read below shares. */
  private def latestGen(spark: SparkSession, path: String): String = {
    val gens = Store.listGenerations(spark, path)
    require(gens.nonEmpty, s"no committed shard-export generation under $path")
    Store.generationPath(path, gens.last)
  }

  /** The latest generation's manifest: (shard, file_idx, n_seqs, file). */
  def shardManifest(spark: SparkSession, path: String): DataFrame =
    Store.readParquet(spark, s"${latestGen(spark, path)}/$ManifestDir")

  /** One shard file of the latest generation, by its deterministic
    * (shard, file_idx) address RESOLVED THROUGH THE MANIFEST to the
    * actual part-file path — what a training worker reads (payload
    * columns only; the partition values live in the path). One bounded
    * manifest lookup per call; no directory listing. */
  def readShard(spark: SparkSession, path: String, shard: Long, fileIdx: Long): DataFrame = {
    val gen = latestGen(spark, path)
    val hits = Store.readParquet(spark, s"$gen/$ManifestDir")
      .filter(col("shard") === shard && col("file_idx") === fileIdx)
      .select("file").collect()
    require(hits.length == 1,
      s"shard=$shard/file_idx=$fileIdx resolves to ${hits.length} manifest rows in $gen")
    Store.readParquet(spark, s"$gen/${hits.head.getString(0)}")
  }

  /** Every sequence of the latest generation with its (shard, file_idx)
    * re-attached from the directory layout — the round-trip read the
    * specs pin against the input. */
  def readAllShards(spark: SparkSession, path: String): DataFrame =
    Store.readParquet(spark, latestGen(spark, path))

  /** Every (shard, pack_id) key across ALL committed generations — the
    * id-novelty absorber's probe side. Column-pruned: only the two key
    * columns are read from any generation. None before the first commit. */
  def standingShardKeys(spark: SparkSession, path: String): Option[DataFrame] = {
    val gens = Store.listGenerations(spark, path)
    if (gens.isEmpty) None
    else Some(gens.map { g =>
      Store.readParquet(spark, Store.generationPath(path, g))
        .select(col("shard").cast("long").as("shard"), col("pack_id"))
    }.reduce(_ unionByName _).distinct())
  }

  /** STREAMING training-shard export — the continuous-ingestion form of
    * [[exportTrainingShards]]: each micro-batch's NOVEL packed sequences
    * commit as the next generation of the shard store, so a training job
    * tails the corpus by reading generations as they appear. Unlike the
    * snapshot stores, these generations are DELTAS — an append log of
    * disjoint sequence sets — so `keep` is pinned to the maximum:
    * pruning a generation here would delete corpus data, not an old
    * snapshot (re-sharding/compaction is a batch re-export to a fresh
    * path).
    *
    * Re-delivery: sequences whose (shard, pack_id) already stand in ANY
    * committed generation drop via one anti-join against
    * [[standingShardKeys]] (keys only — 16 bytes/sequence, column-pruned
    * from the data files), and intra-batch repeats collapse keep-min
    * deterministically; a fully re-delivered batch commits NO generation
    * at all (empty batches are skipped, so replays cannot inflate the
    * generation sequence). Crash safety is the generation CAS's: a death
    * between the data write and the commit rename leaves only invisible
    * `_gen_build_*` debris — nothing publishes, and the re-delivered
    * batch (its keys still novel) re-exports cleanly.
    *
    * Per-batch cost: the absorber probe grows with total exported KEYS
    * (narrow columnar read), the export itself is batch-cost — the
    * documented trade for a log the trainer can tail without a manifest
    * service. */
  def exportShardsStream(
      packs: DataFrame,
      path: String,
      seqPerFile: Int,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    packs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        val keys = Seq("shard", "pack_id")
        val others = batch.columns.filterNot(keys.contains)
        // deterministic intra-batch absorber: keep-min payload per key
        // (dropDuplicates would keep a partition-order-dependent row)
        val deduped = batch.groupBy(keys.map(col): _*)
          .agg(min(struct(others.map(col): _*)).as("__w"))
          .select(keys.map(col) ++ others.map(c => col(s"__w.$c").as(c)): _*)
          .select(batch.columns.map(col).toSeq: _*)
        val novel = standingShardKeys(session, path).fold(deduped) { st =>
          deduped.join(st, keys, "left_anti")
            .select(batch.columns.map(col).toSeq: _*)
        }
        if (!novel.isEmpty) {
          exportTrainingShards(novel, path, seqPerFile, keep = Int.MaxValue)
          ()
        }
      }
}
