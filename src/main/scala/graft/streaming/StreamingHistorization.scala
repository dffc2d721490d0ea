package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.meta.Currents
import graft.pipeline.Historization
import graft.sources.Store

/** Structured Streaming surface: continuous ingestion with watermarked
  * windowed aggregation, and micro-batch historization via foreachBatch.
  *
  * The reference's "incremental" behavior is a batch loop over files
  * (main.py:26-34) — each file is a micro-batch. Structured Streaming is
  * the Spark-native form of exactly that: `historizeStream` runs the same
  * enrich → delta-anti-join → append per micro-batch, with the store as
  * accumulating state. Watermarks bound the windowed-aggregation state so
  * a 100 TB/day stream cannot grow executor state without bound.
  */
object StreamingHistorization {

  /** Collapse in-batch duplicate ids to ONE deterministic survivor — the
    * row sorting FIRST over all payload columns (nulls first). A bare
    * `dropDuplicates(idCols)` keeps an arbitrary row; when a batch holds
    * the same id with DIFFERENT payloads, a crash-point replay (same
    * checkpointed source data, different partition scheduling) can keep a
    * different payload and rewrite a batch partition with content that
    * differs from the original commit — breaking the exactly-once-by-
    * idempotent-rewrite contract every maintenance stream in this file
    * relies on. Payload columns must be orderable (no MapType), which
    * every stream here satisfies. Batch-cost: one window over batch rows. */
  private[graft] def survivorFirst(batch: DataFrame, idCols: Seq[String]): DataFrame = {
    val payload = batch.columns.filterNot(idCols.contains)
    if (payload.isEmpty) batch.dropDuplicates(idCols)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCols.map(col): _*)
        .orderBy(payload.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
      batch.withColumn("__survivor_rk", row_number().over(w))
        .filter(col("__survivor_rk") === 1)
        .drop("__survivor_rk")
    }
  }

  /** File-based stream source over a directory of Parquet drops. */
  def readParquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Watermarked tumbling-window aggregation over an event stream:
    * per (window, event_type) counts and sums; late rows beyond
    * `watermarkDelay` are dropped and their state reclaimed. */
  def windowedEventAgg(
      events: DataFrame,
      tsCol: String = "ts",
      windowLen: String = "5 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      // Parquet `timestamp[us]` without a timezone reads back as
      // TIMESTAMP_NTZ in Spark 4, and event-time watermarks require
      // TIMESTAMP — normalize first (same guard as StatefulSessions).
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // 28,6 like MaterializedAgg.partialState: 18,6 overflows to NULL
        // at |value| >= 1e12 (a bytes counter) and sum() would silently
        // skip the row while n_events counts it
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))

  /** Streaming exact dedup: drops rows repeating their `dedupCols` within
    * the watermark window — bounded state for at-least-once sources. */
  def dedupStream(
      events: DataFrame,
      tsCol: String,
      dedupCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      // NTZ→TIMESTAMP normalization, as in [[windowedEventAgg]].
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(dedupCols)

  /** Stream-STREAM event-time interval join — the streaming twin of
    * [[graft.operators.EventAnalytics.attributionJoin]]: each
    * `targetType` event pairs with the SAME user's `sourceType` events
    * in the `lagMinutes` window ending at it. Both sides derive from one
    * watermarked source stream (a self-join is just two filters of it);
    * the watermark plus the bounded time-range condition is what lets
    * Spark expire join state — a source event older than
    * watermark − lagMinutes can never match a future target, so its
    * state drops. Inner join ⇒ append-mode output; rows emit as matches
    * arrive, completeness at the watermark.
    *
    * This is the third state regime in the streaming family: synopsis
    * stores (foreachBatch), keyed user state (flatMapGroupsWithState /
    * transformWithState), and here condition-bounded JOIN state managed
    * entirely by the engine.
    *
    * @return (user_id, target_id, target_ts, target_value, source_id,
    *          source_ts) — the batch operator's columns
    */
  def intervalJoinStream(
      events: DataFrame,
      targetType: String,
      sourceType: String,
      lagMinutes: Int = 5,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(lagMinutes > 0, "lagMinutes must be positive")
    // NTZ→TIMESTAMP normalization, as in [[windowedEventAgg]].
    val ev = events.withColumn("ts", col("ts").cast("timestamp"))
    val targets = ev.filter(col("event_type") === targetType)
      .select(col("user_id"), col("event_id").as("target_id"),
        col("ts").as("target_ts"), col("value").as("target_value"))
      .withWatermark("target_ts", watermarkDelay)
    val sources = ev.filter(col("event_type") === sourceType)
      .select(col("user_id").as("source_user"), col("event_id").as("source_id"),
        col("ts").as("source_ts"))
      .withWatermark("source_ts", watermarkDelay)
    targets.join(sources,
        col("user_id") === col("source_user")
          && col("source_ts") >= col("target_ts") - expr(s"INTERVAL $lagMinutes MINUTES")
          && col("source_ts") <= col("target_ts"))
      .drop("source_user")
  }

  /** Streaming incremental corpus dedup — the streaming twin of
    * [[graft.operators.Dedup.incrementalExact]]: documents stream in,
    * rows whose content digest already exists in the STATIC corpus digest
    * store drop via a stream-static anti-join (map-side against the
    * store read; no streaming state), then intra-stream repeats collapse
    * through `dropDuplicates` keyed on the digest.
    *
    * State note: digest-keyed dedup state grows with distinct novel
    * content. For continuous ingestion, restart the query per ingestion
    * epoch with `knownDigests` refreshed to absorb the previous epoch —
    * that is the batch operator's contract, streamed. (With an event-time
    * column, [[dedupStream]]'s watermarked form bounds state instead.)
    */
  def incrementalExactStream(
      docs: DataFrame,
      contentCols: Seq[String],
      knownDigests: DataFrame): DataFrame =
    docs.withColumn("content_hash",
        graft.functions.HashColumns.hashExpr(contentCols.map(col)))
      .join(knownDigests.select(col("content_hash")), Seq("content_hash"), "left_anti")
      .dropDuplicates("content_hash")

  /** Streaming URL canonicalization + URL-level dedup — the web-corpus
    * ENTRY stage as a stream, the URL twin of [[incrementalExactStream]]:
    * [[graft.operators.Urls.canonicalizeUrl]] is a pure column expression
    * (stateless, codegen'd), rows whose canonical URL already exists in
    * the STANDING canonical store drop via a stream-static anti-join on
    * the ~100-byte key (map-side; no streaming state), then intra-batch
    * repeats collapse through `dropDuplicates` on the canonical key. A
    * re-delivered row re-drops identically — the standing-store absorber
    * makes re-delivery a no-op, the batch operator's
    * ([[graft.operators.Urls.incrementalDuplicateUrls]]) contract
    * streamed. Same state note as the exact twin: refresh
    * `knownCanonical` per ingestion epoch.
    *
    * @return batch rows + `canonical_url`, novel canonicals only
    */
  def urlDedupStream(
      docs: DataFrame,
      urlCol: String,
      knownCanonical: DataFrame): DataFrame =
    docs.withColumn("canonical_url",
        graft.operators.Urls.canonicalizeUrl(col(urlCol)))
      // null-safe probe (the batch twin's contract): a null canonical
      // ingested once must be absorbed, not re-emitted every epoch
      .join(knownCanonical.select(col("canonical_url").as("__known")),
        col("canonical_url") <=> col("__known"), "left_anti")
      .dropDuplicates("canonical_url")

  /** Streaming paragraph NEAR-dup maintenance loop — the streaming twin
    * of [[graft.operators.Dedup.nearDedupParagraphsIncremental]], in the
    * synopsis-store regime ([[clusterMaintainStream]]'s shape): each
    * micro-batch
    *
    *  1. absorbs re-delivered DOCUMENTS against the standing content-hash
    *     store (novelty anti-join + in-batch `dropDuplicates` — a
    *     replayed batch contributes nothing anywhere);
    *  2. runs the law-pinned batch operator against the standing
    *     paragraph band index (exact lh tier, (band, key) near tier,
    *     batch-internal election);
    *  3. appends — novelty-guarded — the cleaned docs to `outPath`, the
    *     novel classes' bands to `bandIndexPath`, and the novel doc
    *     hashes to `docHashPath`.
    *
    * Crash contract: every append is NOVELTY-GUARDED against its own
    * store (the out append anti-joins the standing `doc_id` column —
    * parquet-pruned, id-only — exactly the [[appendSortedStream]]
    * absorber shape), so a crash inside the three-append window
    * re-delivers the batch and CONVERGES: already-written cleaned rows
    * are not re-appended, already-written bands/hashes absorb, and the
    * missing appends complete. Document ids must be stable across
    * re-deliveries (the historization contract).
    *
    * State is store-shaped, never in the state store: the loop reads two
    * narrow standing tables (8-byte paragraph keys; 32-byte doc digests)
    * and the out store's id column — batch cost forever, the batch
    * operator's 100 TB posture streamed. */
  def paragraphMaintainStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      docHashPath: String,
      bandIndexPath: String,
      outPath: String,
      checkpoint: String,
      sep: String = "\n\n",
      minParaLen: Int = 1,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        graft.CacheScope.withScope { scope =>
          import graft.operators.Dedup
          val hashed = batch.withColumn("__ch",
            graft.functions.HashColumns.hashExpr(Seq(col(textCol))))
          val novel = scope.persist(
            Store.readParquetStrict(session, docHashPath)
              .fold(hashed) { st =>
                hashed.join(st.select(col("content_hash").as("__known")),
                  col("__ch") <=> col("__known"), "left_anti")
              }
              // in-batch absorber: keep-min(id) per content hash, the same
              // deterministic election every other dedup in the library
              // uses — dropDuplicates would keep a partition-order-
              // dependent row when one micro-batch carries two docs with
              // identical text
              .groupBy(col("__ch"))
              .agg(min(struct(col(idCol), col(textCol))).as("__w"))
              .select(col("__w").getField(idCol).as(idCol),
                col("__w").getField(textCol).as(textCol), col("__ch")))
          val index = Store.readParquetStrict(session, bandIndexPath)
            .getOrElse(session.range(0).select(col("id").as("lh"),
              lit(0).cast("int").as("band"), col("id").as("key")))
          val cleaned = Dedup.nearDedupParagraphsIncremental(
            novel.select(col(idCol), col(textCol)), idCol, textCol, index,
            sep, minParaLen, n, k, bands, scope)
          val toEmit = Store.readParquetStrict(session, outPath)
            .fold(cleaned) { out =>
              cleaned.join(out.select(col("doc_id")), Seq("doc_id"), "left_anti")
            }
          toEmit.write.mode("append").parquet(outPath)
          Dedup.novelParagraphBands(novel, idCol, textCol, index,
              sep, minParaLen, n, k, bands)
            .write.mode("append").parquet(bandIndexPath)
          novel.select(col("__ch").as("content_hash"))
            .write.mode("append").parquet(docHashPath)
        }
        ()
      }

  /** Streaming steady-state curation — the streaming twin of
    * [[graft.operators.Curation.curateIncremental]]: each micro-batch is
    * gated against the standing stores (canonical URLs, content digests,
    * LSH band index — all store-shaped, never in the state store), its
    * survivors append to `outPath`, and each novelty frame appends to
    * its store, so the next micro-batch is incremental too. The
    * production web-ingest loop as one `writeStream`.
    *
    * Crash contract — appends run in REVERSE pipeline order (out, bands,
    * digests, canonicals), which makes every crash window converge on
    * re-delivery WITHOUT a separate seen-ids absorber:
    *
    *  - crash before any append: full recompute (stores unchanged);
    *  - after out: survivors recompute identically (or to ∅ once a later
    *    store grew — out is already written either way) and the id guard
    *    absorbs the double-append;
    *  - after bands: the near tier now cuts the batch against its own
    *    standing bands, but the exact tier (whose digest store is still
    *    ungrown) reproduces the SAME novel digests, and the band id
    *    guard absorbs the duplicate bands;
    *  - after digests: the exact tier absorbs the whole batch, so only
    *    the canonical append (url tier runs upstream of exact) still
    *    produces rows — exactly the missing one;
    *  - after canonicals: the url tier absorbs the batch entirely and
    *    every recomputed frame is empty.
    *
    * Ids must be stable across re-deliveries and increase run over run
    * (the historization convention the incremental law rides).
    *
    * TRANSITIVE (CC) TIER — `nearCc = (bits, maxHamming, manifestPath,
    * fpsPath, labelsPath)`, mutually exclusive with `nearDup`. The
    * append-only crash contract above cannot carry it: the labeling is a
    * REPLACE store (a batch can relabel standing docs), so in this mode
    * the batch's store updates commit as ONE PINNED SNAPSHOT
    * ([[graft.sources.Store.commitSnapshot]]) — `digestPath` (and the url
    * tier's canonical path) become DELTA generation stores (each batch
    * commits only its novelty, O(batch)), `labelsPath` holds the full
    * relabel per batch (inherent to [[graft.operators.Dedup
    * .updateClusters]]' output), and the manifest pins all of them last.
    * Batch-start state reads through [[graft.sources.Store
    * .readSnapshotDeltas]] at the newest manifest, so a crash anywhere
    * before the manifest commit re-runs the batch against the intact
    * PRIOR snapshot; the only crash artifact is an orphan delta
    * generation below the re-run's pin — duplicate delta rows, which
    * every probe absorbs by set semantics (anti-join / dropDuplicates).
    * Write order is still out-first, snapshot-last: once the snapshot
    * includes the batch, the exact tier absorbs it and survivors
    * recompute empty, so out written any later would lose rows.
    *
    * SITE-CONTENT TIER — `siteTier = (urlCol, censusPath, minChars,
    * maxLinkDensity, hostRepeatMin)`: when the stream carries raw HTML
    * (`textCol` is then the HTML column), each batch first extracts main
    * content against the STANDING site census ([[graft.operators
    * .WebContent.mainContentByHostIncremental]] — standing templates cut
    * new pages at batch probe cost) and every downstream stage runs over
    * the extracted `main_text` in `textCol`'s place, so the digests,
    * fingerprints and decontamination all speak about CONTENT, not
    * markup. The census store rides the loop's own crash contract: in
    * append-only mode its (host, bh, page) novelty appends LAST (most
    * upstream stage — a crash before it re-derives identical extraction
    * and every downstream store absorbs the batch; a crash after it
    * converges because re-delivered batches read their own census rows
    * as standing, the operator's pinned convergence law), row-key
    * guarded like the band store; in `nearCc` mode it is one more delta
    * store in the atomic snapshot. Enabling the tier on a standing
    * `nearCc` deployment whose manifests predate it fails loudly (the
    * manifest does not pin `census`) — seed a census commit first.
    *
    * @param urlTier (urlCol, rules, canonicalPath) — the url gate over a
    *                url column carried ON the stream
    * @param nearDup (n, k, bands, bandIndexPath)
    * @param nearCc  (bits, maxHamming, manifestPath, fpsPath, labelsPath)
    * @param siteTier (urlCol, censusPath, minChars, maxLinkDensity,
    *                 hostRepeatMin) — hosts pool post-canonicalization,
    *                 so this tier's urlCol is the same raw column
    *                 `urlTier` gates on
    */
  def curateMaintainStream(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      digestPath: String,
      outPath: String,
      checkpoint: String,
      urlTier: Option[(String, DataFrame, String)] = None,
      nearDup: Option[(Int, Int, Int, String)] = None,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      shingleN: Int = 13,
      minHits: Long = 1L,
      languages: Option[Set[String]] = None,
      qualityModel: Option[(Seq[(String, Double)], Double, Double)] = None,
      nearCc: Option[(Int, Int, String, String, String)] = None,
      siteTier: Option[(String, String, Int, Double, Int)] = None)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    require(nearDup.isEmpty || nearCc.isEmpty,
      "nearDup and nearCc are alternative near tiers — pick one")
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        graft.CacheScope.withScope { scope =>
          import graft.operators.Curation
          // the site-content tier's extraction against a standing census
          // frame: the curation batch gets main_text IN textCol's place
          // (downstream stages speak content, not markup), plus the
          // census novelty its store needs. Both derive deterministically
          // from (batch, census), so every crash-window recompute is
          // governed by whether the census grew — the operator's pinned
          // convergence law
          def emptyCensus = session.range(0).select(
            lit(null).cast("string").as("host"), lit(null).cast("string").as("bh"),
            lit(null).cast("string").as("page"))
          def siteExtract(census: DataFrame): (DataFrame, DataFrame) = {
            val (urlCol, _, minChars, maxLd, repeatMin) = siteTier.get
            val r = graft.operators.WebContent.mainContentByHostIncremental(
              batch, idCol, urlCol, textCol, census, minChars, maxLd, repeatMin)
            (scope.persist(batch.drop(textCol)
               .join(r.main.withColumnRenamed("main_text", textCol), Seq(idCol))),
              r.novelCensus)
          }
          nearCc match {
            case Some((bits, maxHam, manifestPath, fpsPath, labelsPath)) =>
              val eCc = Curation.emptyState(session, urlTier.nonEmpty,
                near = false, nearCc = true)
              val deltaPaths = Map("digests" -> digestPath, "fps" -> fpsPath) ++
                urlTier.map(t => "canonical" -> t._3) ++
                siteTier.map(t => "census" -> t._2)
              val (state, census) = Store.readSnapshotDeltas(
                  session, manifestPath, deltaPaths, Map("labels" -> labelsPath)) match {
                case None => (eCc, emptyCensus) // first batch seeds the stores
                case Some((_, m)) => (Curation.CurationState(
                  m("digests").select(col("content_hash")),
                  urlTier.map(_ => m("canonical").select(col("canonical_url"))),
                  None,
                  Some(m("fps").select(col("id"), col("fp"), col("blk"), col("bval"))),
                  Some(m("labels").select(col("id"), col("cluster_id")))),
                  siteTier.fold(emptyCensus)(_ =>
                    m("census").select(col("host"), col("bh"), col("page"))))
              }
              val (curBatch, novelCensus) = siteTier.fold((batch, emptyCensus))(_ =>
                siteExtract(census))
              val inc = Curation.curateIncremental(
                curBatch, bench, idCol, textCol, state, splits, shingleN, minHits,
                languages, qualityModel,
                urlGate = urlTier.map { case (urlCol, rules, _) =>
                  (batch.select(col(idCol), col(urlCol)), urlCol, rules)
                },
                nearCc = Some((bits, maxHam)), scope = scope)
              val toEmit = Store.readParquetStrict(session, outPath)
                .fold(inc.survivors) { out =>
                  inc.survivors.join(out.select(col(idCol)), Seq(idCol), "left_anti")
                }
              toEmit.write.mode("append").parquet(outPath)
              // one atomic pass commit: delta stores get the batch's
              // novelty, labels the full updated labeling, manifest last.
              // Bases carry forward from the prior manifest so a rebase
              // (curateTakedownSnapshot / Store.compactSnapshotDeltas)
              // stays in force. Unbounded retention — pruning a delta
              // generation deletes data; fold per-batch delta growth
              // with compactSnapshotDeltas between batches
              val stores = Seq(
                ("digests", digestPath, inc.novelDigests),
                ("fps", fpsPath, inc.novelFps.get),
                ("labels", labelsPath, inc.ccLabels.get)) ++
                urlTier.map(t => ("canonical", t._3, inc.novelCanonical.get)) ++
                siteTier.map(t => ("census", t._2, novelCensus))
              val names = stores.map(_._1).toSet
              val priorBases = Store.readManifestPins(session, manifestPath)
                .map(_._2.collect {
                  case (n, (_, b)) if b != 0L && names(n) => n -> b })
                .getOrElse(Map.empty[String, Long])
              Store.commitSnapshot(session, manifestPath, stores,
                keep = Int.MaxValue, bases = priorBases)
              ()
            // append-only tiers: the original reverse-order append body
            case None =>
          val e = Curation.emptyState(session, urlTier.nonEmpty, nearDup.nonEmpty)
          val state = Curation.CurationState(
            Store.readParquetStrict(session, digestPath)
              .map(_.select(col("content_hash"))).getOrElse(e.knownDigests),
            e.knownCanonical.map { emp =>
              Store.readParquetStrict(session, urlTier.get._3)
                .map(_.select(col("canonical_url"))).getOrElse(emp)
            },
            e.bandIndex.map { emp =>
              Store.readParquetStrict(session, nearDup.get._4)
                .map(_.select(col("id"), col("band"), col("key"))).getOrElse(emp)
            })
          val (curBatch, novelCensus) = siteTier.fold((batch, emptyCensus)) { t =>
            siteExtract(Store.readParquetStrict(session, t._2)
              .map(_.select(col("host"), col("bh"), col("page")))
              .getOrElse(emptyCensus))
          }
          val inc = Curation.curateIncremental(
            curBatch, bench, idCol, textCol, state, splits, shingleN, minHits,
            languages, qualityModel,
            urlGate = urlTier.map { case (urlCol, rules, _) =>
              (batch.select(col(idCol), col(urlCol)), urlCol, rules)
            },
            nearDup = nearDup.map(t => (t._1, t._2, t._3)), scope = scope)
          // reverse pipeline order; guards where a window can double-append
          val toEmit = Store.readParquetStrict(session, outPath)
            .fold(inc.survivors) { out =>
              inc.survivors.join(out.select(col(idCol)), Seq(idCol), "left_anti")
            }
          toEmit.write.mode("append").parquet(outPath)
          inc.novelBands.foreach { nb =>
            // guard on the FULL (id, band, key) row, not the id: the band
            // store holds several rows per doc, and a crash mid-append can
            // publish a strict subset of them — an id-keyed guard would
            // then drop the doc's MISSING rows forever on re-delivery,
            // while the row-keyed guard appends exactly the gap (each row
            // idempotent, every crash window converges)
            val guarded = Store.readParquetStrict(session, nearDup.get._4)
              .fold(nb) { idx =>
                nb.join(idx.select(col("id"), col("band"), col("key")),
                  Seq("id", "band", "key"), "left_anti")
              }
            guarded.write.mode("append").parquet(nearDup.get._4)
          }
          inc.novelDigests.write.mode("append").parquet(digestPath)
          inc.novelCanonical.foreach {
            _.write.mode("append").parquet(urlTier.get._3)
          }
          siteTier.foreach { t =>
            // LAST (most upstream stage): once the census holds the batch,
            // a re-delivery reads its own rows as standing — identical
            // main, empty novelty (the operator's convergence law), and
            // every downstream store has already absorbed the batch. The
            // guard is row-keyed like the band store's: a crash mid-append
            // publishes a subset of a page's rows, and re-delivery appends
            // exactly the gap (counts are over the standing∪novel union,
            // so partial absorption never changes the extraction)
            val guarded = Store.readParquetStrict(session, t._2)
              .fold(novelCensus) { c =>
                novelCensus.join(c.select(col("host"), col("bh"), col("page")),
                  Seq("host", "bh", "page"), "left_anti")
              }
            guarded.write.mode("append").parquet(t._2)
          }
          }
        }
        ()
      }
  }

  /** Streaming benchmark decontamination — the streaming twin of
    * [[graft.operators.Decontamination.decontaminate]]: the benchmark's
    * distinct shingle hashes collapse into a single broadcast row
    * (benchmarks are MBs by construction), every streamed document joins it
    * on a constant key — a stateless stream-static BroadcastHashJoin — and
    * counts colliding shingles row-locally with `array_intersect` (document
    * shingles are distinct, so |intersection| equals the batch operator's
    * n_hits). Stateless ⇒ re-delivered rows filter identically; no
    * watermark or state store involved.
    *
    * Scale note: the probe builds a per-row hash set over the bench array,
    * so for benches beyond ~1M shingles run the batch operator inside
    * foreachBatch instead; this form suits the continuous low-latency path.
    */
  def decontaminateStream(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String,
      n: Int = 13,
      minHits: Long = 1L): DataFrame = {
    import graft.operators.Decontamination
    val benchRow = broadcast(
      Decontamination.benchShingleSetRow(bench, textCol, n).withColumn("__k", lit(1)))
    docs
      .withColumn("__shs", Decontamination.hashedShingles(col(textCol), n))
      .withColumn("__k", lit(1))
      .join(benchRow, Seq("__k"))
      // coalesce: a null text has null shingles and size(null) is a
      // config-dependent null/-1 — the batch twin keeps such docs (they
      // cannot be contaminated), so the stream must too
      .filter(coalesce(
        size(array_intersect(col("__shs"), col("__bench_sh"))).cast("long"),
        lit(0L)) < minHits)
      .drop("__k", "__shs", "__bench_sh")
  }

  /** Streaming span-level decontamination — the streaming twin of
    * [[graft.operators.Decontamination.decontaminateSpans]]: the
    * benchmark's distinct k-char gram hashes collapse into a single
    * broadcast row, every streamed document joins it on a constant key
    * (stateless stream-static), and the contaminated islands are found
    * AND excised entirely row-locally ([[graft.operators.Decontamination
    * .scrubSpansExpr]] — the island merge is a fold over the row's own
    * hit positions, so no window, no state store, and re-delivered rows
    * scrub byte-identically). Returns `docs` with `textCol` scrubbed;
    * clean, short, and null texts pass through untouched.
    *
    * Scale note: same bench-size caveat as [[decontaminateStream]] — the
    * per-row probe suits MB-scale benchmarks (their gram set is the
    * broadcast row); for an oversized bench run the batch operator inside
    * foreachBatch.
    */
  def scrubSpansStream(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30): DataFrame = {
    import graft.operators.Decontamination
    val benchRow = broadcast(
      Decontamination.benchGramSetRow(bench, idCol, textCol, k).withColumn("__k", lit(1)))
    docs
      .withColumn("__k", lit(1))
      .join(benchRow, Seq("__k"))
      .withColumn(textCol,
        Decontamination.scrubSpansExpr(col(textCol), col("__bench_gh"), k))
      .drop("__k", "__bench_gh")
  }

  /** Per-batch near-dup candidate derivation shared by [[nearDupStream]]
    * and [[clusterMaintainStream]]: band the batch's deterministic
    * survivors, take the TUPLE-level novelty against the standing index
    * (a crash mid index-append can commit a partial subset of a doc's
    * band rows — an id-level anti-join would drop the rest forever),
    * and emit normalized candidate pairs (intra-batch plus batch ×
    * standing index). One definition so the two streams' replay
    * semantics cannot drift. Returns (novel band rows, distinct pairs);
    * both are persisted in `scope` — the caller appends them. */
  private def batchCandidatePairs(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: Option[DataFrame],
      n: Int,
      k: Int,
      bands: Int,
      scope: graft.CacheScope): (DataFrame, DataFrame) = {
    val banded0 = graft.operators.Dedup.minhashBandIndex(
      survivorFirst(batch, Seq(idCol)), idCol, textCol, n, k, bands)
    val novel = scope.persist(index.fold(banded0) { ix =>
      banded0.join(ix.select("id", "band", "key"), Seq("id", "band", "key"), "left_anti")
    })
    val intra = novel.as("a").join(novel.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val pairs = scope.persist(index.fold(intra) { ix =>
      intra.union(
        novel.as("b").join(ix.as("c"),
            col("b.band") === col("c.band") && col("b.key") === col("c.key"))
          .select(least(col("b.id"), col("c.id")).as("id_a"),
            greatest(col("b.id"), col("c.id")).as("id_b")))
    }.distinct())
    (novel, pairs)
  }

  /** Streaming near-duplicate candidate discovery — the streaming twin of
    * [[graft.operators.Dedup.incrementalMinhashCandidates]]. Per
    * micro-batch:
    *
    *  1. drop documents already present in the band-index store (an
    *     anti-join on id) — this is the re-delivery absorber: an
    *     at-least-once source can replay a document, but its pairs were
    *     emitted when it first arrived, so it contributes nothing now;
    *  2. emit candidate pairs exactly once per pair: intra-batch pairs
    *     from the batch's own band rows, plus batch × index pairs from
    *     the stream-static (band, key) equi-join, normalized to
    *     id_a < id_b;
    *  3. append the batch's band rows to the index store so later
    *     batches probe against this one.
    *
    * The accumulated state is the (id, band, 8-byte key) index — a sliver
    * of the corpus (no payloads) — and each batch's work is batch-cost:
    * the equi-join probes the index, never the corpus text. The union of
    * the pairs store over any batch partitioning of the corpus equals the
    * batch operator's all-pairs candidates ([[graft.operators.Dedup
    * .minhashCandidates]]); a spec pins that equality under full
    * re-delivery. */
  def nearDupStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      pairsPath: String,
      checkpoint: String,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        graft.CacheScope.withScope { scope =>
          val index = Store.readParquetStrict(session, indexPath)
          val (novel, pairs) = batchCandidatePairs(
            batch, idCol, textCol, index, n, k, bands, scope)
          // pairs first: if the job dies between the writes, the replayed
          // batch still finds its docs un-indexed and re-emits into the
          // pairs store, whose consumers read it as a set
          pairs.write.mode("append").parquet(pairsPath)
          novel.write.mode("append").parquet(indexPath)
        }
        ()
      }

  /** The continuous-ingestion dedup LOOP — [[nearDupStream]]'s candidate
    * discovery composed with [[graft.operators.Dedup.updateClusters]]'s
    * incremental maintenance, so the store always holds a live
    * corpus-wide duplicate labeling. Per micro-batch:
    *
    *  1. drop documents already present in the band-index store (the
    *     at-least-once re-delivery absorber, as in [[nearDupStream]]);
    *  2. emit this batch's candidate pairs: intra-batch from its own band
    *     rows, plus batch × index from the stream-static (band, key)
    *     equi-join — batch-cost, the corpus text is never re-read;
    *  3. fold the pairs into the standing (id, cluster_id) labeling via
    *     [[graft.operators.Dedup.updateClusters]] — condensed-graph CC at
    *     batch size, one relabel equi-join, never a corpus-wide CC;
    *  4. persist: append pairs, swap the labeling store
    *     ([[Store.writeStoreSwap]] — readers see old or new generation,
    *     never half), append the batch's band rows to the index.
    *
    * Write order makes replay safe at every crash point: a replay after
    * the labels swap but before the index append re-derives the same
    * pairs, and [[graft.operators.Dedup.updateClusters]] over
    * already-merged pairs is the identity (both endpoints condense to the
    * same label), so the second swap writes the same labeling. The index
    * append itself is not atomic — a crash can commit part of a doc's
    * band rows — which is why novelty is judged per (id, band, key) tuple,
    * so a replay appends exactly the missing rows and re-emits the pairs
    * they generate. Consequence of at-least-once appends: `pairsPath` MAY
    * hold duplicate (id_a, id_b) rows across replays; consumers must read
    * it as a set (`distinct()`), which [[graft.operators.Dedup
    * .updateClusters]] and every registered reader already do.
    *
    * After any prefix of batches, the labels store equals
    * `duplicateClusters(minhashCandidates(all docs ingested so far))` —
    * the streaming/batch twin equality a spec pins under re-delivery.
    *
    * State at 100 TB: the index is (id, band, key) rows and the labeling
    * (id, cluster_id) pairs — both payload-free slivers; compact both
    * periodically with [[Store.compactStore]].
    *
    * `labelsGenerations` > 0 commits the labeling through the GENERATION
    * layout ([[Store.writeStoreGeneration]]) instead of the swap write —
    * the shape for a labels store read CONTINUOUSLY while this loop
    * rewrites it every batch: each pass is a new directory, a reader
    * pinned to pass N is untouched by pass N+1's commit, and it survives
    * at least `labelsGenerations - 1` rewrites. Replay stays safe: a
    * replayed batch re-derives the same labeling and commits it as
    * another (content-identical) generation, which retention prunes. */
  def clusterMaintainStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      pairsPath: String,
      labelsPath: String,
      checkpoint: String,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxIters: Int = 25,
      labelsGenerations: Int = 0,
      manifestPath: Option[String] = None,
      statsPath: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] = {
    // constructor-argument validation runs at WRITER CONSTRUCTION, not
    // per micro-batch: checked inside foreachBatch it would fire AFTER
    // the batch's pairs append, and every restart of the permanently-
    // failing query would grow the pairs store before dying again
    require(manifestPath.isEmpty == statsPath.isEmpty,
      "manifestPath and statsPath come together: a manifest without its "
        + "second store pins nothing to compose")
    require(manifestPath.isEmpty || labelsGenerations > 0,
      "manifestPath requires labelsGenerations > 0 (snapshot pins generations)")
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        graft.CacheScope.withScope { scope =>
          val index = Store.readParquetStrict(session, indexPath)
          val (novel, pairs) = batchCandidatePairs(
            batch, idCol, textCol, index, n, k, bands, scope)
          val standing = (
            if (labelsGenerations > 0) {
              // adopt a swap-layout labels store as generation 1 rather
              // than silently restarting the labeling from empty when the
              // flag flips on an existing deployment
              Store.migrateToGenerations(session, labelsPath)
              Store.readStoreLatest(session, labelsPath).map(_._2)
            } else Store.readForSwap(session, labelsPath))
            .getOrElse(pairs.select(col("id_a").as("id"), col("id_a").as("cluster_id")).limit(0))
          val updated = graft.operators.Dedup.updateClusters(
            standing, pairs, maxIters = maxIters, scope = scope)
          pairs.write.mode("append").parquet(pairsPath)
          // commit AFTER the write fully materializes `updated` (which
          // still reads the old labels generation), never in place
          (manifestPath, statsPath) match {
            case (Some(mp), Some(sp)) =>
              // cross-store atomic visibility: the pass commits labels
              // AND the pass's cluster stats, then one manifest pinning
              // both — a reader composing them ([[graft.sources.Store
              // .readSnapshot]]) sees one pass, never labels from pass N
              // with stats from pass N+1. Stores first, manifest last:
              // a crash mid-pass leaves the previous manifest naming a
              // complete older set.
              require(labelsGenerations > 0,
                "manifestPath requires labelsGenerations > 0 (snapshot pins generations)")
              Store.commitSnapshot(session, mp, Seq(
                ("labels", labelsPath, updated),
                ("stats", sp, graft.operators.Dedup.clusterStats(updated))),
                keep = labelsGenerations)
              ()
            case (None, None) =>
              if (labelsGenerations > 0) {
                Store.writeStoreGeneration(updated, labelsPath, keep = labelsGenerations)
                ()
              } else Store.writeStoreSwap(updated, labelsPath, Seq.empty)
            case _ => throw new IllegalArgumentException(
              "manifestPath and statsPath come together: a manifest without its " +
                "second store pins nothing to compose")
          }
          novel.write.mode("append").parquet(indexPath)
        }
        ()
      }
  }

  /** Streaming sink maintaining a RANGE-SORTED, stats-manifested store
    * ([[graft.sources.StoreIndex]]) — continuous ingestion whose output
    * stays cheap to query: each micro-batch appends as its own sorted
    * file(s) via [[graft.sources.StoreIndex.appendStoreSorted]], so the
    * skipping manifest stays live at batch cost and
    * `readStoreSkipping`/`readStoreKeys` prune against the store at any
    * moment between batches.
    *
    * Re-delivery: rows whose `idCol` already stands in the store are
    * dropped by an id-novelty anti-join (the store side reads the id
    * column ONLY — parquet pruning keeps the probe narrow), and
    * intra-batch repeats collapse via `dropDuplicates`; a replayed batch
    * therefore appends nothing. A crash BETWEEN the data append and the
    * manifest rewrite leaves a stale manifest — the next batch's append
    * detects the mismatch and rebuilds it (self-healing), and readers
    * meanwhile fall back to full scans: the crash costs speed, never
    * rows or duplicates.
    *
    * Periodic [[graft.sources.StoreIndex.writeStoreSorted]] rewrite =
    * compaction (restores tight per-file ranges after many overlapping
    * batch files), as for every append store in this file. */
  def sortedStoreSink(
      docs: DataFrame,
      path: String,
      idCol: String,
      sortCols: Seq[String],
      checkpoint: String,
      filesPerBatch: Int = 1): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        val deduped = survivorFirst(batch, Seq(idCol))
        // a usingColumns anti-join moves the join key to the front of the
        // output schema; re-select the input order so every appended file
        // carries the SAME column order — parquet readers seed the store
        // schema from an arbitrary file, and a mixed-order store would
        // surface a scheduling-dependent column order to positional
        // consumers (exceptAll, by-position writers)
        val novel = Store.readParquetStrict(session, path).fold(deduped)(store =>
          deduped.join(store.select(idCol), Seq(idCol), "left_anti")
            .select(deduped.columns.map(col(_)): _*))
        graft.sources.StoreIndex.appendStoreSorted(
          novel, path, sortCols, numFiles = filesPerBatch)
        ()
      }

  /** Streaming duplicated-substring spans — the streaming twin of
    * [[graft.operators.Dedup.incrementalDuplicatedSpans]], completing the
    * streaming family (exact dedup, near-dup candidates, cluster
    * maintenance, decontamination, takedown, and now spans). Per
    * micro-batch `b`:
    *
    *  1. id-novelty absorber: drop documents whose ids were ingested by
    *     an EARLIER batch — the gram store is gram-level (distinct
    *     hashes, no contributor ids), so a re-delivered document would
    *     self-match its own stored grams and over-flag;
    *  2. probe: spans for the batch's novel docs against the standing
    *     gram store, plus intra-batch duplication
    *     ([[graft.operators.Dedup.incrementalDuplicatedSpans]]);
    *  3. emit the spans; append the batch's distinct gram hashes and its
    *     ingested ids.
    *
    * Exactly-once without a transaction log: all three stores are
    * partitioned by `ingest_batch`, each batch OVERWRITES only its own
    * partition directory, and every read EXCLUDES the current batch id.
    * A replayed batch (same checkpointed id, same data) therefore
    * recomputes identical content from identical earlier-batch state and
    * rewrites it in place — no crash point can self-match, double-emit,
    * or lose grams. (The append loops above get replay safety from set
    * semantics + tuple-level novelty instead; spans need the partition
    * form precisely because the gram store cannot carry contributor ids
    * without growing corpus-shaped.)
    *
    * Per-batch directories are the familiar small-files shape; the
    * maintenance pass is [[Store.compactStore]] with `ingest_batch` as
    * the partition column, as for every append store in this file.
    *
    * State at 100 TB: distinct 60-bit gram hashes and ingested ids —
    * payload-free slivers; each batch's work is batch-cost (one bounded
    * explode, one hash semi-join against the store). After any prefix of
    * batches, the spans store equals the batch operator over the corpus
    * so far, restricted to each batch's novel documents (spec-pinned
    * under full re-delivery). */
  def spansStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gramsPath: String,
      idsPath: String,
      spansPath: String,
      checkpoint: String,
      k: Int = 50,
      stride: Int = 1): DataStreamWriter[org.apache.spark.sql.Row] = {
    // key-format contract, checked once at stream setup: refuse to
    // probe/extend a gram store keyed under a different hash derivation
    // (silent zero-match otherwise)
    graft.operators.Dedup.gramKeyFormatGuard(docs.sparkSession, gramsPath)
    docs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        graft.CacheScope.withScope { scope =>
          def prior(p: String) = Store.readParquetStrict(session, p)
            .map(_.filter(col("ingest_batch") < batchId))
          val novel = scope.persist {
            val b = survivorFirst(batch, Seq(idCol))
              .select(col(idCol).as("id"), col(textCol).as("t"))
            prior(idsPath).fold(b)(ids =>
              b.join(ids.select("id"), Seq("id"), "left_anti"))
          }
          val standing = prior(gramsPath).map(_.select("gh"))
            .getOrElse(session.range(0).select(col("id").as("gh")))
          val spans = graft.operators.Dedup.incrementalDuplicatedSpans(
            novel, "id", "t", standing, k, stride, scope)
          spans.write.mode("overwrite").parquet(s"$spansPath/ingest_batch=$batchId")
          graft.operators.Dedup.spanGramsOf(novel, "id", "t", k, stride, scope)
            .write.mode("overwrite").parquet(s"$gramsPath/ingest_batch=$batchId")
          graft.operators.Dedup.stampGramKeyFormat(session, gramsPath)
          novel.select("id").write.mode("overwrite")
            .parquet(s"$idsPath/ingest_batch=$batchId")
        }
        ()
      }
  }

  /** Streaming takedown — the REMOVAL direction of the continuous
    * maintenance story ([[clusterMaintainStream]] is the ingestion
    * direction): a stream of document ids (a takedown /
    * right-to-be-forgotten feed) applied per micro-batch to every standing
    * artifact. The dedup triple — band index, pairs store, labels store —
    * repairs through [[graft.operators.Dedup.removeDocs]] (delete the ids'
    * rows, re-run condensed CC on affected components only); any other
    * per-document store (PQ code table, IVF inverted file, exact-dedup
    * digest store) passes as `(path, idColumn)` in `extraStores` and loses
    * the ids' rows via [[graft.sources.Store.deleteFromStore]].
    *
    * Replay safety: removal is idempotent at every crash point. A replayed
    * batch anti-joins ids whose rows are already gone (identity on every
    * store), and the cluster repair over ids no longer present in the
    * labels yields an empty affected set, so only the (also-identity) pair
    * filter re-applies — re-running the same removal converges to the same
    * stores. No state store or watermark: the standing parquet stores ARE
    * the state, and each rewrite goes through the atomic swap, so readers
    * concurrent with a takedown see the old or new generation, never half.
    *
    * Scale: each batch's work is bounded by the takedown set and its
    * clusters' membership (broadcast-hinted anti-joins; CC on the affected
    * subgraph only) — a takedown feed over a 100 TB standing corpus costs
    * per-batch what the batch touches, never a recompute.
    *
    * Legal-erasure composition: with `labelsGenerations > 1` the repair
    * commits a new labels generation but retention keeps prior passes
    * that still hold the removed ids — set `purgeRetained = true` to
    * scrub the retained history per batch
    * ([[graft.sources.Store.purgeGenerations]] via
    * [[graft.operators.Dedup.removeDocs]]); `extraStores` are swap-layout
    * and need no purge. */
  def takedownStream(
      removals: DataFrame,
      indexPath: String,
      pairsPath: String,
      labelsPath: String,
      checkpoint: String,
      extraStores: Seq[(String, String)] = Nil,
      maxIters: Int = 25,
      labelsGenerations: Int = 0,
      purgeRetained: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] =
    removals.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        val ids = batch.dropDuplicates()
        graft.operators.Dedup.removeDocs(
          session, ids, indexPath, pairsPath, labelsPath, maxIters,
          labelsGenerations, purgeRetained)
        extraStores.foreach { case (path, idCol) =>
          Store.deleteFromStore(session, path, ids, idCol); ()
        }
        ()
      }

  /** Streaming takedown over the SPANS stores — the removal direction of
    * [[spansStream]], completing its maintenance story the way
    * [[takedownStream]] completes [[clusterMaintainStream]]'s. Per
    * micro-batch of removed ids: delete the ids' documents from the
    * document store (the survivor source the replay reads), then repair
    * the three spans stores via
    * [[graft.operators.Dedup.purgeSpanStores]] — the affected batch
    * suffix replays over survivors, so survivor spans that existed only
    * through a removed doc's grams die too.
    *
    * Replay safety: the doc-store delete is idempotent, and the purge's
    * two-phase replay derives its work from the ids store, which is
    * rewritten LAST — at every crash point a re-delivered removal finds
    * either ids still standing (full remaining suffix replays,
    * deterministic content) or the repair complete (empty affected set,
    * identity). Cost per batch: the affected suffix at original batch
    * cost — takedown recency, never corpus size. */
  def spansTakedownStream(
      removals: DataFrame,
      docsPath: String,
      idCol: String,
      textCol: String,
      gramsPath: String,
      idsPath: String,
      spansPath: String,
      checkpoint: String,
      k: Int = 50,
      stride: Int = 1): DataStreamWriter[org.apache.spark.sql.Row] =
    removals.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val session = batch.sparkSession
        val ids = batch.dropDuplicates()
        Store.deleteFromStore(session, docsPath, ids, idCol)
        val survivors = Store.readParquetStrict(session, docsPath).getOrElse(
          session.range(0).select(col("id").cast("long").as(idCol),
            lit("").as(textCol)))
        graft.operators.Dedup.purgeSpanStores(session, ids, survivors,
          idCol, textCol, gramsPath, idsPath, spansPath, k, stride)
        ()
      }

  /** Streaming materialized-aggregate maintenance — the streaming twin of
    * [[graft.operators.MaterializedAgg.maintainStore]]. Per micro-batch:
    * id-novelty absorber (facts whose ids an earlier batch already
    * aggregated are dropped — aggregation, unlike the set-semantics
    * append stores, would DOUBLE-COUNT a re-delivered row), then the
    * batch's partial state ([[graft.operators.MaterializedAgg.partialState]])
    * lands in its own `ingest_batch` partition, following [[spansStream]]'s
    * exactly-once-without-a-transaction-log shape: every read excludes the
    * current batch id, every write overwrites only the batch's own
    * partition, so a replayed batch recomputes identical content from
    * identical earlier-batch state and rewrites it in place — no crash
    * point between the state write and the ids write can double-count or
    * drop a row. The standing answer at any moment is
    * [[graft.operators.MaterializedAgg.readMaintainedState]] (merge across
    * batch partitions — associativity makes the partition layout
    * invisible); per-batch directories compact through
    * [[Store.compactStore]] like every append store in this file.
    *
    * State at 100 TB: the ids store is payload-free and the state store
    * holds |groups| rows per batch — both slivers; each batch's work is
    * one anti-join plus one map-side-combined aggregation of the batch. */
  def aggMaintainStream(
      rows: DataFrame,
      idCol: String,
      groupCols: Seq[String],
      valueCol: String,
      statePath: String,
      idsPath: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        graft.CacheScope.withScope { scope =>
          def prior(p: String) = Store.readParquetStrict(session, p)
            .map(_.filter(col("ingest_batch") < batchId))
          val novel = scope.persist {
            val b = survivorFirst(batch, Seq(idCol))
            prior(idsPath).fold(b)(ids =>
              b.join(ids.select(idCol), Seq(idCol), "left_anti"))
          }
          graft.operators.MaterializedAgg.partialState(novel, groupCols, valueCol)
            .write.mode("overwrite").parquet(s"$statePath/ingest_batch=$batchId")
          novel.select(idCol).write.mode("overwrite")
            .parquet(s"$idsPath/ingest_batch=$batchId")
        }
        ()
      }

  /** Streaming HLL distinct maintenance — the streaming twin of the
    * maintained many-groups distinct measure ([[graft.operators
    * .MaterializedAgg.partialDistinctHll]]). Per micro-batch the batch's
    * register synopsis lands in its own `ingest_batch` partition; the
    * standing estimate ([[readHllEstimate]]) merges all partitions.
    *
    * UNLIKE the linear measures ([[aggMaintainStream]]) there is no
    * id-novelty absorber and no ids store: register max is an idempotent
    * semilattice merge, so at-least-once re-delivery — duplicate rows
    * within a batch, the same rows re-delivered across batches, or a
    * crash-point replay overwriting its own partition — is absorbed by
    * the MERGE itself; the estimate cannot inflate. The estimate is also
    * batching-invariant: any split of the rows into micro-batches merges
    * to the identical registers. State per batch is ≤ 2^p small-int rows
    * per touched group, payload-free — the per-batch write cost is the
    * batch scan, nothing scales with history. */
  def aggMaintainHllStream(
      rows: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      statePath: String,
      checkpoint: String,
      p: Int = 8): DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.MaterializedAgg
          .partialDistinctHll(batch, groupCols, valueCol, p)
          .write.mode("overwrite").parquet(s"$statePath/ingest_batch=$batchId")
        ()
      }

  /** Standing distinct estimate over [[aggMaintainHllStream]]'s state
    * store: merge every batch partition's registers, then estimate.
    * None while no batch has committed yet. */
  def readHllEstimate(
      spark: SparkSession,
      statePath: String,
      groupCols: Seq[String],
      p: Int = 8): Option[DataFrame] =
    Store.readParquetStrict(spark, statePath).map { state =>
      graft.operators.MaterializedAgg.finalizeDistinctHll(
        graft.operators.MaterializedAgg.mergeDistinctHll(
          Seq(state.drop("ingest_batch")), groupCols),
        groupCols, p)
    }

  /** Streaming materialized-JOIN maintenance — the streaming twin of
    * [[graft.operators.MaterializedJoin]] in its streaming-facts ×
    * standing-dimension regime. Per micro-batch: id-novelty absorber on
    * the left row id (a re-delivered fact would re-join and duplicate
    * its view rows — joins, like aggregation, are not set-semantics),
    * then the batch's join delta ([[graft.operators.MaterializedJoin
    * .insertDeltaLeft]]: ΔL ⋈ R, delta broadcast, standing side never
    * shuffled) lands in its own `ingest_batch` partition via
    * [[graft.operators.MaterializedJoin.appendDelta]] —
    * [[aggMaintainStream]]'s exactly-once-without-a-transaction-log
    * shape: reads exclude the current batch id, writes overwrite only
    * the batch's own partition, so any crash-point replay recomputes
    * identical content in place. The standing answer at any moment is
    * [[graft.operators.MaterializedJoin.readView]] (optionally masked
    * by a tombstone store for merge-on-read deletes).
    *
    * State at 100 TB: the ids store is payload-free and each batch's
    * work is one anti-join plus one broadcast join of the batch against
    * the dimension — the view grows by |ΔJ| per batch, never rewrites. */
  def joinMaintainStream(
      leftRows: DataFrame,
      idCols: Seq[String],
      right: DataFrame,
      keys: Seq[String],
      joinPath: String,
      idsPath: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    leftRows.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        graft.CacheScope.withScope { scope =>
          def prior(p: String) = Store.readParquetStrict(session, p)
            .map(_.filter(col("ingest_batch") < batchId))
          val novel = scope.persist {
            val b = survivorFirst(batch, idCols)
            prior(idsPath).fold(b)(ids =>
              b.join(ids.select(idCols.map(col): _*), idCols, "left_anti"))
          }
          graft.operators.MaterializedJoin.appendDelta(joinPath, batchId,
            graft.operators.MaterializedJoin.insertDeltaLeft(novel, right, keys))
          novel.select(idCols.map(col): _*).write.mode("overwrite")
            .parquet(s"$idsPath/ingest_batch=$batchId")
        }
        ()
      }

  /** SCD2 full-snapshot lifecycle as a stream — the streaming twin of the
    * COMPLETE delete lifecycle ([[graft.operators.Scd2.mergeScd2FastClosing]]:
    * merge, resurrection and vanished-key closure in one fused merge).
    * Contract: each micro-batch is ONE full load (drive file sources with
    * `maxFilesPerTrigger=1` or one trigger per drop — two coalesced
    * snapshots would make the younger one's absences look like deletes).
    * Per batch: the snapshot meta-enriches under a batch-derived run
    * context and merges WITH resurrection (new/changed/unchanged branches
    * plus closed-only keys reopening at the run day, the deleted epoch
    * preserved as an as-of gap) and closure (active rows absent from the
    * snapshot end the day before, `DELETED` stamped) in the same pass,
    * and the result swap-replaces the store.
    *
    * Exactly-once without a transaction log, by a different route than
    * the append-family streams (no batch partition to overwrite — the
    * SCD2 store is one logical table): the run context derives from the
    * BATCH ID, so a crash-point replay re-applies onto the already-
    * updated store as a fixpoint — every snapshot key is now active with
    * its delivered hash (unchanged branch), the closed keys are no
    * longer active (nothing to close), and no snapshot key is
    * closed-only (nothing to reopen). Spec'd directly on the batch core.
    *
    * Scale shape: the batch form's plan — one wide merge shuffle plus a
    * digest-only guard join; the store is read once per batch and
    * persisted across the merge's three self-references (closed slice,
    * its keys, active slice). */
  def scd2LifecycleStream(
      snapshots: DataFrame,
      storePath: String,
      keyColumns: Seq[String],
      checkpoint: String,
      mode: graft.operators.Scd2.ValidFromMode = graft.operators.Scd2.ValidFromMode.LoadDate,
      loadTsForBatch: Long => String = defaultBatchDayTs): DataStreamWriter[org.apache.spark.sql.Row] =
    snapshots.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scd2LifecycleBatch(batch, storePath, keyColumns, mode, loadTsForBatch(batchId))
      }

  /** [[scd2LifecycleStream]] over the TIERED layout ([[graft.operators
    * .Scd2Tier]]): same one-full-load-per-batch contract and the same
    * replay-fixpoint exactly-once route, but each batch merges only the
    * ACTIVE tier and appends its closures to the run-partitioned archive
    * — the streaming shape whose per-batch cost stays bounded by the
    * entity count for the store's whole lifetime. The tiered crash
    * contract composes with the fixpoint: a replay before the active
    * swap rewrites the run partition byte-identically, a replay after it
    * computes an empty closed set and the non-empty guard leaves the
    * committed partition alone. */
  def scd2TieredStream(
      snapshots: DataFrame,
      activePath: String,
      historyPath: String,
      keyColumns: Seq[String],
      checkpoint: String,
      mode: graft.operators.Scd2.ValidFromMode = graft.operators.Scd2.ValidFromMode.LoadDate,
      loadTsForBatch: Long => String = defaultBatchDayTs): DataStreamWriter[org.apache.spark.sql.Row] =
    snapshots.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = Currents(loadTsForBatch(batchId))
        graft.CacheScope.withScope { scope =>
          val snap = scope.persist(graft.operators.MetaEnrichment.addMetaColumns(
            survivorFirst(batch, keyColumns), cur, keyColumns))
          graft.operators.Scd2Tier.historizeTiered(
            batch.sparkSession, snap, activePath, historyPath, cur, mode)
        }
        ()
      }

  /** One full-load application of the SCD2 lifecycle — the foreachBatch
    * core of [[scd2LifecycleStream]], separated so the crash-replay
    * fixpoint (same loadTs applied twice ≡ once) is directly testable. */
  private[graft] def scd2LifecycleBatch(
      batch: DataFrame,
      storePath: String,
      keyColumns: Seq[String],
      mode: graft.operators.Scd2.ValidFromMode,
      loadTs: String): Unit = {
    val session = batch.sparkSession
    val cur = Currents(loadTs)
    graft.CacheScope.withScope { scope =>
      // full loads are key-unique by contract; at-least-once re-delivery
      // within the batch collapses to the deterministic survivor first
      val snap = scope.persist(graft.operators.MetaEnrichment.addMetaColumns(
        survivorFirst(batch, keyColumns), cur, keyColumns))
      // a replay landing in a crashed swap's rename gap must NOT mistake
      // the mid-swap store for "no store yet" and bootstrap over it
      val merged = Store.readForSwap(session, storePath) match {
        case None =>
          graft.operators.Scd2.historizeDataset(snap, None, cur, mode)
        case Some(store) =>
          graft.operators.Scd2.mergeScd2FastClosing(scope.persist(store), snap, cur, mode)
      }
      Store.writeStoreSwap(merged, storePath, Nil)
    }
    ()
  }

  /** Historize a stream of snapshots into the current store: every
    * micro-batch runs the reference's enrich + delta + append cycle with a
    * batch-derived run timestamp, so re-delivered rows (at-least-once
    * sources) are absorbed by the hash anti-join — the pipeline is
    * idempotent per content, which is exactly what foreachBatch needs. */
  def historizeStream(
      snapshots: DataFrame,
      storePath: String,
      keyColumns: Seq[String],
      checkpoint: String,
      loadTsForBatch: Long => String = defaultBatchTs): DataStreamWriter[org.apache.spark.sql.Row] =
    snapshots.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // At-least-once sources can re-deliver content *within* one batch
        // (several file drops coalesce under AvailableNow). A bare
        // dropDuplicates() only collapses EXACT duplicates: two coalesced
        // snapshots delivering the same key with different payloads would
        // both pass the hash anti-join and append two "current" rows
        // under one run id. Collapse to the deterministic per-key
        // survivor instead — the key-unique snapshot the reference's
        // input contract requires.
        Historization.historizeRun(
          batch.sparkSession, survivorFirst(batch, keyColumns), storePath,
          keyColumns, Some(loadTsForBatch(batchId)))
        ()
      }

  /** Deterministic per-batch timestamp: epoch day 2024-01-01 advanced one
    * second per batch id — unique run ids without wall-clock dependence. */
  def defaultBatchTs(batchId: Long): String = {
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusSeconds(batchId)
    base.format(java.time.format.DateTimeFormatter.ofPattern(graft.meta.MetaColumns.TsFormat))
  }

  /** [[defaultBatchTs]]'s DAY-granular sibling: one day per batch id —
    * the right default for the SCD2 lifecycle streams, whose close /
    * reopen semantics are day-granular (`VALID_TO = runDay − 1`,
    * reopen at `runDay`). Under the seconds-granular default every
    * micro-batch would share runDay 2024-01-01: a changed key's old
    * version closes at 2023-12-31 < its own VALID_FROM — an inverted
    * interval no as-of day matches — and delete gaps are unobservable.
    * Production callers pass the snapshot's business date instead. */
  def defaultBatchDayTs(batchId: Long): String = {
    val base = java.time.LocalDate.of(2024, 1, 1).plusDays(batchId).atTime(9, 0)
    base.format(java.time.format.DateTimeFormatter.ofPattern(graft.meta.MetaColumns.TsFormat))
  }

  /** Drive a streaming query to completion over currently-available data
    * (test/smoke helper). */
  def runOnce(writer: DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val q: StreamingQuery = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
