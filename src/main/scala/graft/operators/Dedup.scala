package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Store

/** Document deduplication for large-scale training-data pipelines.
  *
  * North-star extension (BASELINE.json `north_star`; not present in the
  * reference, whose only dedup is the hash anti-join —
  * src/PandasETLHelpers/MetaColumnHelpers.py:180-184). Four families:
  *
  *  - exact: group by content digest — one shuffle of (digest, id), the
  *    payload never moves.
  *  - n-gram Jaccard: shingle self-join with document-frequency capping.
  *  - MinHash + LSH: per-row signatures via higher-order functions (no
  *    explode, no UDF), banded so candidate generation is a bucket join —
  *    the only pairwise work left is within buckets.
  *  - SimHash: per-row fingerprint; near-dups share a fingerprint.
  *
  * Higher-order array functions (`transform`/`aggregate`/`zip_with`) are
  * `CodegenFallback` — interpreted, not codegen'd — so the design principle
  * here is "evaluate every expensive subtree exactly once": signatures are
  * single-pass folds over the shingle/token array (k running minima instead
  * of k separate passes), per-token digests are computed once and reused
  * across all fingerprint bits, staged projections keep derived arrays as
  * plain attribute references, and bucketed frames are persisted before
  * their self-joins so neither join side recomputes the signature chain.
  *
  * All hashing is md5-hex based so results are reproducible across engines
  * (the DuckDB oracle mirrors each expression).
  *
  * Cache lifecycle: operators with self-joins persist intermediate frames
  * through a [[graft.CacheScope]] (default: session-global — reclaimed by
  * `spark.catalog.clearCache()` or session end, which the Bench/Verify
  * harnesses do). Long-lived applications pass `CacheScope.scoped()` and
  * `close()` it once the output is consumed, so per-batch caches cannot
  * accumulate in executor storage memory.
  */
object Dedup {

  /** Whitespace tokens with empties dropped (split of an empty string
    * yields [""], which would poison shingles). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Distinct word n-gram shingles of a text column. A text with fewer
    * than n tokens yields its full-token join as the single shingle.
    * Codegen'd kernel ([[graft.functions.Shingles]]); the test-side
    * `Oracles.shinglesFold` is the HOF executable spec it is
    * property-tested against. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.DedupExpressions.shinglesOf(tokens(text), n)

  /** Exact deduplication by content digest over `contentCols`: one row per
    * distinct content with the smallest `idCol` as the kept representative
    * and the duplicate count. Map-side partial aggregation applies; only
    * (digest, id) pairs shuffle — the payload never moves. */
  def exactDuplicates(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame =
    df.select(col(idCol),
        graft.functions.HashColumns.hashExpr(contentCols.map(col)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup for continuous ingestion: drop batch rows
    * whose content digest already exists in the corpus digest store, then
    * keep one representative (smallest id) per digest within the batch.
    *
    * This is the cross-RUN form of [[exactDuplicates]]: at 100 TB the
    * corpus side never re-reads its payload — `knownDigests` is the
    * (digest-only, 32 bytes/row) store accumulated by prior runs, and the
    * anti-join + window both key on that digest. The surviving rows carry
    * `content_hash` so the caller can append them to both the corpus and
    * the digest store, keeping the next run incremental too.
    *
    * @param knownDigests one `content_hash` column (extra columns ignored)
    * @return surviving batch rows + `content_hash`
    */
  def incrementalExact(
      batch: DataFrame,
      idCol: String,
      contentCols: Seq[String],
      knownDigests: DataFrame): DataFrame = {
    val hashed = batch.withColumn("content_hash",
      graft.functions.HashColumns.hashExpr(contentCols.map(col)))
    val novel = hashed.join(
      knownDigests.select(col("content_hash")), Seq("content_hash"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col(idCol))
    novel.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      // the using-column join fronted the digest; restore caller order
      .select((batch.columns :+ "content_hash").map(col).toSeq: _*)
  }

  /** 60-bit digest-prefix hash of a shingle string: an 8-byte primitive
    * join/shuffle key instead of multi-word text (collision odds ~n²/2⁶¹
    * — vanishing against the shuffle volume it saves at 100 TB). */
  private[operators] def shingleHash(s: Column): Column =
    conv(md5(s).substr(1, 15), 16, 10).cast("long")

  /** Exploded (id, sh) hashed-shingle frame over distinct shingles. */
  private def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("s"))
      .select(col("id"), shingleHash(col("s")).as("sh"))

  /** Jaccard scoring tail shared by the all-pairs and candidate-verify
    * paths: per-doc distinct-shingle sizes joined onto intersection
    * counts, thresholded. */
  private def scoreJaccard(inter: DataFrame, sizes: DataFrame, minSim: Double): DataFrame =
    thresholdJaccard(inter
      .join(sizes.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sh_b"), Seq("id_b")), minSim)

  /** (id_a, id_b, jaccard) rows of an (id_a, id_b, n_inter, sh_a, sh_b)
    * frame whose 6-place-rounded Jaccard reaches `minSim`. */
  private def thresholdJaccard(scored: DataFrame, minSim: Double): DataFrame =
    scored
      .withColumn("jaccard",
        round(col("n_inter").cast("double") / (col("sh_a") + col("sh_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= minSim)
      .select("id_a", "id_b", "jaccard")

  /** Distinct candidate pairs from an exploded (id, band, key) frame:
    * the band-key equi-join that makes LSH candidate generation bounded. */
  private def bandPairs(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** The df-capped shingle-intersection core shared by [[jaccardPairs]]
    * and [[containmentPairs]]: ((id_a, id_b, n_inter), per-doc distinct
    * shingle sizes). One definition so the df cap, the singleton guard,
    * and the persist strategy cannot drift between the two measures —
    * they differ only in the denominator applied to this output. */
  private def shingleIntersections(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long,
      scope: graft.CacheScope): (DataFrame, DataFrame) = {
    // sh feeds the doc-frequency filter, both self-join sides and the size
    // aggregate — persist so shingling runs once, not four times
    val sh = scope.persist(hashedShingles(df, idCol, textCol, n))
    val joinable = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxShingleDocFreq)
    val filtered = scope.persist(sh.join(joinable.select("sh"), Seq("sh")))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = filtered.as("a").join(filtered.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    (inter, sizes)
  }

  /** Candidate near-duplicate pairs by n-gram Jaccard similarity.
    *
    * Distinct shingles per doc are exploded and self-joined; shingles whose
    * document frequency exceeds `maxShingleDocFreq` are dropped first (and
    * singletons, which can never pair) — the standard guard that keeps the
    * self-join from quadratic blowup on stop-shingles at scale. Jaccard
    * uses distinct-shingle set sizes.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= minSim.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minSim: Double = 0.5,
      maxShingleDocFreq: Long = 1000,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val (inter, sizes) =
      shingleIntersections(df, idCol, textCol, n, maxShingleDocFreq, scope)
    scoreJaccard(inter, sizes, minSim)
  }

  /** Near-CONTAINMENT pairs: |A∩B| / min(|A|, |B|) over distinct n-gram
    * shingle sets — the subset-duplicate detector Jaccard structurally
    * misses: a short document quoted whole inside a long one has tiny
    * Jaccard (the union is the long doc) but containment ≈ 1. This is
    * Broder's containment measure applied to the smaller set — the
    * standard screen for quotes, concatenations, and chunk-of-a-larger-
    * file duplicates in training corpora. Candidate generation and the
    * document-frequency cap are EXACTLY [[jaccardPairs]]' df-capped
    * shingle equi-join (never all-pairs); only the denominator differs.
    *
    * Returns (id_a, id_b, containment) with id_a < id_b,
    * containment >= minContainment. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minContainment: Double = 0.8,
      maxShingleDocFreq: Long = 1000,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val (inter, sizes) =
      shingleIntersections(df, idCol, textCol, n, maxShingleDocFreq, scope)
    inter
      .join(sizes.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sh_b"), Seq("id_b"))
      .withColumn("containment",
        round(col("n_inter").cast("double") / least(col("sh_a"), col("sh_b")), 6))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "containment")
  }

  /** MinHash signature: k md5-based min-hashes over the distinct n-gram
    * shingles. Seeded by hash index, deterministic, reproducible in any
    * engine with md5 (same values as k independent `array_min` passes).
    *
    * Computed as ONE fold over the shingle array carrying k running minima
    * — the k-passes form re-evaluates the whole shingle subtree k times
    * under interpreted HOF evaluation (round 1: 47 ms/doc). `"g"` sorts
    * after every md5 hex digit, so it is the fold's +infinity; `shingles`
    * always yields at least one element, so no "g" survives. */
  def minhashSignature(text: Column, n: Int, k: Int): Column =
    graft.functions.DedupExpressions.minhashSig(shingles(text, n), k)

  /** LSH band keys over a minhash signature: `bands` buckets of
    * `rowsPerBand` signature entries each, digested to one key per band.
    * Docs agreeing on any band key are near-dup candidates. Keys are 60-bit
    * digest prefixes (8-byte shuffle/join primitives, not 32-char hex;
    * collision odds ~n²/2⁶¹ are noise next to LSH's own false-positive
    * rate, and candidates are exact-verified downstream anyway). */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => conv(md5(concat_ws("|", slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))))
        .substr(1, 15), 16, 10).cast("long"))

  /** Candidate pairs via MinHash + LSH banding: only docs sharing a band
    * bucket are paired — candidate generation is a band-key equi-join,
    * never an all-pairs product. Returns distinct (id_a, id_b).
    *
    * Staged: the signature is computed in its own projection (the Generate
    * above it references the `sig` attribute, so the fold runs once per
    * row), and the exploded band frame is persisted so the self-join's two
    * sides read it instead of recomputing the signature chain. */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame =
    bandPairs(scope.persist(minhashBandIndex(df, idCol, textCol, n, k, bands)))

  /** The exploded LSH band index: one (id, band, key) row per document
    * band — the frame a continuous-ingestion pipeline PERSISTS as its
    * near-duplicate index (the LSH sibling of the digest store behind
    * [[incrementalExact]]). 8-byte keys, `bands` rows per doc, no
    * payloads: the whole corpus's index is a sliver of the corpus. */
  def minhashBandIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    df.select(col(idCol).as("id"), minhashSignature(col(textCol), n, k).as("sig"))
      .select(col("id"),
        posexplode(lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "key")))
  }

  /** Incremental (cross-run) near-duplicate candidates: a new batch probes
    * the accumulated [[minhashBandIndex]] with one (band, key) equi-join —
    * corpus payloads are never re-read and never re-shingled, the exact
    * property that keeps continuous near-dup ingestion at batch cost
    * instead of corpus cost at 100 TB. Surviving batch rows' own band rows
    * are what the caller appends to the index for the next run.
    *
    * @param index accumulated (id, band, key) band index
    * @return distinct (batch_id, corpus_id) candidate pairs
    */
  def incrementalMinhashCandidates(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val banded = scope.persist(minhashBandIndex(batch, idCol, textCol, n, k, bands))
    banded.as("b").join(index.as("c"),
        col("b.band") === col("c.band") && col("b.key") === col("c.key"))
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
  }

  /** MinHash-LSH near-duplicates with exact verification — the production
    * composition: LSH banding bounds candidate generation (bucket join,
    * never all-pairs), then TRUE Jaccard over each candidate's distinct
    * shingles removes LSH false positives. Returns (id_a, id_b, jaccard)
    * with id_a < id_b and jaccard >= minSim (pairs sharing no shingle are
    * never returned).
    *
    * Scale shape: one shingle pass into a persisted (id, shingle array)
    * frame that feeds both the signature chain and the verify; the band-
    * key self-join yields the distinct candidate pairs; each pair then
    * joins the two docs' arrays (by id_a, then by id_b) and scores
    * |A∩B| = size(array_intersect) against size(A) and size(B) per row.
    * Verify cost is candidates × shingles-per-doc, never corpus², and it
    * intersects shingle STRINGS, so it is exact. */
  def minhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      minSim: Double = 0.5,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // ONE shingle pass: the persisted array frame feeds both the signature
    // chain (candidates) and the exact verify — the kernel never runs
    // twice over the corpus
    val shArr = scope.persist(
      df.select(col(idCol).as("id"), shingles(col(textCol), n).as("shs")))
    val sig = shArr.select(col("id"),
      graft.functions.DedupExpressions.minhashSig(col("shs"), k).as("sig"))
    val banded = scope.persist(sig.select(col("id"),
      posexplode(lshBandKeys(col("sig"), bands, k / bands)).as(Seq("band", "key"))))
    // shingle arrays are distinct, so array sizes are the set sizes; a
    // null array yields a null (or -1) intersection, dropped with the
    // disjoint pairs
    val scored = bandPairs(banded)
      .join(shArr.toDF("id_a", "sa"), Seq("id_a"))
      .join(shArr.toDF("id_b", "sb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).as("n_inter"),
        size(col("sa")).as("sh_a"), size(col("sb")).as("sh_b"))
      .filter(col("n_inter") > 0)
    thresholdJaccard(scored, minSim)
  }

  /** Cross-document duplicated-substring spans: the hashed character-k-gram
    * form of substring deduplication (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22 — their exact form is a
    * suffix array; the k-gram-hash approximation is the standard
    * distributed variant). A position is duplicated when its k-character
    * gram occurs in at least `minDocFreq` distinct documents; runs of
    * duplicated positions merge into (span_start, span_end) islands.
    *
    * `stride` samples every s-th position — the knob that trades recall
    * for explode volume at 100 TB (stride 1 = exhaustive; spans stay
    * correct because island-merge groups positions `stride` apart).
    * Docs shorter than k have no full gram and produce no spans.
    *
    * Scale shape: per-row bounded explode (≤ len/stride positions) into
    * narrow (id, p, gh) rows, ONE shuffle of those rows by gram hash whose
    * window keeps the positions of hashes seen in ≥ `minDocFreq` distinct
    * docs ([[multiDocRows]]), and one per-doc window for island merge.
    * Never all-pairs; gram payloads move as 64-bit longs.
    *
    * @return (doc_id, span_start, span_end) — 1-based inclusive character
    *         positions of each maximal duplicated region
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      stride: Int = 1,
      minDocFreq: Int = 2,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val grams = spanGrams(df, idCol, textCol, k, stride, minDocFreq, scope)
    spanIslands(multiDocRows(grams, Seq("gh"), minDocFreq).select("id", "p"), k, stride)
      .select(col("id").as("doc_id"), col("s").as("span_start"), col("e").as("span_end"))
  }

  /** The rows of `rows` whose `keys` group holds at least `minDocFreq`
    * distinct `id`s: ONE window partitioned by `keys`, so the rows route
    * once and come back already filtered (an aggregate joined back to
    * `rows` reads them twice). At 2 the test is min(id) != max(id);
    * above it, the size of the group's id set. */
  private def multiDocRows(rows: DataFrame, keys: Seq[String], minDocFreq: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val multi =
      if (minDocFreq == 2) min(col("id")).over(w) =!= max(col("id")).over(w)
      else size(collect_set(col("id")).over(w)) >= minDocFreq
    rows.withColumn("__multi", multi).filter(col("__multi")).drop("__multi")
  }

  /** The string verify of [[duplicatedSpansExact]]: the (id, p) of the
    * (id, p, gh, g) candidate rows whose gram STRING `g` occurs in at
    * least `minDocFreq` distinct docs. Partitioned by (gh, g): a hash
    * collision only splits a gh group into its strings and never merges
    * two strings, so the result is collision-free. */
  private[graft] def verifyGramStrings(cand: DataFrame, minDocFreq: Int): DataFrame =
    multiDocRows(cand, Seq("gh", "g"), minDocFreq).select("id", "p")

  /** EXACT cross-document duplicated-substring spans — the suffix-array
    * SEMANTICS of Lee et al. ACL'22, computed distributively. A position
    * is duplicated iff its k-character gram STRING (not a hash of it)
    * occurs in at least `minDocFreq` distinct documents; runs merge into
    * maximal islands. This equals what the paper's suffix array reports
    * at minimum match length k: every duplicated substring of length
    * m ≥ k covers only duplicated k-windows (each window is itself a
    * duplicated substring's window), and every duplicated k-window IS a
    * duplicated substring of length k — so the union of duplicated
    * k-windows is exactly the union of duplicated (≥ k)-substrings. The
    * suffix array is the single-NODE space optimization of this
    * computation; the distributed form routes by gram hash first (a
    * collision can only ADD candidates, never drop a true duplicate, so
    * the hash prefilter is a sound negative filter) and verifies only
    * hash-candidate positions by full string. [[duplicatedSpans]] stops
    * at the hash level (rare false-positive spans under 64-bit
    * collisions); this form is collision-free and costs the verify.
    *
    * Scale shape: the narrow (id, p, gh) positions of [[spanGrams]] route
    * ONCE by gram hash, and that window keeps the hash-candidate positions
    * ([[multiDocRows]], shared with [[duplicatedSpans]]). Each candidate
    * slices its gram string from its own text by a join on id (the planner
    * picks broadcast or sort-merge by size), and [[verifyGramStrings]]
    * decides by string in a window partitioned by (gh, g): gram strings
    * exist only for candidates (≈ the duplicated volume, not k× the
    * corpus) and cross the network at most once. The per-doc island
    * window runs last. Ids identify documents: each candidate position
    * reads the text of its own id.
    *
    * @return (doc_id, span_start, span_end) — 1-based inclusive character
    *         positions of each maximal duplicated region
    */
  def duplicatedSpansExact(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      minDocFreq: Int = 2,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(minDocFreq >= 2, "minDocFreq below 2 would flag every position")
    val t = col("t")
    // NARROW: hashed positions only (the [[spanGrams]] shape) — caching
    // gram STRINGS for every position would hold k× the corpus
    val grams = spanGrams(df, idCol, textCol, k, stride = 1, minDocFreq, scope)
    // hash-level candidates: a 64-bit hash with doc frequency < minDocFreq
    // cannot hide a string with doc frequency >= minDocFreq
    val text = df.select(col(idCol).as("id"), col(textCol).as("t")).filter(length(t) >= k)
    val cand = multiDocRows(grams, Seq("gh"), minDocFreq).join(text, Seq("id"))
      .select(col("id"), col("p"), col("gh"), t.substr(col("p"), lit(k)).as("g"))
    spanIslands(verifyGramStrings(cand, minDocFreq), k, 1)
      .select(col("id").as("doc_id"), col("s").as("span_start"), col("e").as("span_end"))
  }

  /** Batch-cost duplicated-substring spans for continuous ingestion —
    * the incremental twin of [[duplicatedSpans]], completing the
    * incremental family (exact digests, minhash bands, embedding
    * buckets, and now spans). A batch position is duplicated iff its
    * k-gram occurs in the STANDING gram store (grams of everything
    * ingested so far — distinct 60-bit hashes, no text, no positions)
    * or in at least one OTHER batch document; after emitting, append
    * the batch's distinct gram hashes to the store so later batches
    * probe against this one (the [[minhashBandIndex]] /
    * [[incrementalMinhashCandidates]] split: probe here, maintenance at
    * the caller). Equals [[duplicatedSpans]] over the full corpus
    * restricted to the batch's documents (cross-doc `minDocFreq = 2`
    * semantics; spec-pinned): a gram is in ≥ 2 distinct docs overall
    * iff it hits the standing store or a second batch doc.
    *
    * Scale shape: the batch explodes once (bounded per-row), probes the
    * store with one hash semi-join (8-byte keys, store never rewritten),
    * and islands merge per batch doc — per-batch cost scales with the
    * batch, never the corpus.
    *
    * Re-delivery contract (at-least-once sources): drop already-ingested
    * doc ids from the batch BEFORE probing — the store is gram-level, so
    * a re-delivered document would self-match its own stored grams and
    * over-flag. This is the same id-level novelty absorber the band
    * index uses ([[graft.streaming.StreamingHistorization
    * .nearDupStream]] step 1).
    *
    * @param standingGrams standing gram store — any frame with a `gh`
    *                      column (e.g. [[spanGramsOf]] output accumulated
    *                      across ingested batches)
    * @return (doc_id, span_start, span_end) for the BATCH documents
    */
  def incrementalDuplicatedSpans(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      standingGrams: DataFrame,
      k: Int = 50,
      stride: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val grams = spanGrams(batch, idCol, textCol, k, stride, minDocFreq = 2, scope)
    // duplication is a fact about the GRAM alone (standing membership, or
    // >= 2 distinct batch docs — min(id) != max(id)), so decide it on the
    // narrow per-gh aggregate and probe the (id, p) rows ONCE: the
    // previous shape semi-joined the position rows twice and paid a
    // position-level union + distinct shuffle. The two branches are
    // disjoint by construction (a gh has either one batch doc or more),
    // so the union needs no dedup and positions stay unique.
    val ghAgg = grams.groupBy("gh")
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
    val dupGh = ghAgg.filter(col("__mn") =!= col("__mx")).select("gh")
      .unionByName(ghAgg.filter(col("__mn") === col("__mx")).select("gh")
        .join(standingGrams.select("gh"), Seq("gh"), "left_semi"))
    val dupPos = grams.join(dupGh, Seq("gh"), "left_semi").select("id", "p")
    spanIslands(dupPos, k, stride)
      .select(col("id").as("doc_id"), col("s").as("span_start"), col("e").as("span_end"))
  }

  /** The standing gram store's per-batch contribution: the batch's
    * DISTINCT k-gram hashes — append these to the store after
    * [[incrementalDuplicatedSpans]] emits, exactly the band-index
    * maintenance convention. */
  def spanGramsOf(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      stride: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame =
    spanGrams(batch, idCol, textCol, k, stride, minDocFreq = 2, scope)
      .select("gh").distinct()

  /** On-disk key format of the standing gram stores ([[spanGramsOf]]
    * output accumulated across batches): bumped whenever the gram-hash
    * derivation changes (r19 moved it from md5-prefix to xxhash64).
    * Probing a store written under a DIFFERENT format returns zero
    * matches — silently missed duplicates and mixed-key purge rewrites —
    * so every gram-store writer stamps it ([[stampGramKeyFormat]]) and
    * every path-level reader runs [[gramKeyFormatGuard]] first. */
  private[graft] val GramKeyFormat = "xxhash64.v1"

  private[graft] val GramKeyFormatFile = "_gram_key_format"

  /** The key format stamped at `gramsPath`, if any. Read-only. */
  private[graft] def gramKeyFormatOf(
      spark: org.apache.spark.sql.SparkSession,
      gramsPath: String): Option[String] = {
    val marker = new org.apache.hadoop.fs.Path(gramsPath, GramKeyFormatFile)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** Enforce the gram-store key-format contract at `gramsPath`: fail fast
    * when a marker is present and names a format other than
    * [[GramKeyFormat]] (the store's keys and this build's probe keys can
    * never match). A store without a marker — absent, empty, or written
    * before writers stamped one — proceeds: the md5-prefix era's staged
    * stores live under another path, and the next write stamps it.
    * Read-only: creates no directory and no marker. */
  def gramKeyFormatGuard(
      spark: org.apache.spark.sql.SparkSession,
      gramsPath: String): Unit =
    gramKeyFormatOf(spark, gramsPath).foreach { found =>
      require(found == GramKeyFormat,
        s"gram store at $gramsPath is keyed '$found' but this build derives " +
          s"'$GramKeyFormat' keys — probing it would silently miss every " +
          "duplicate; rebuild the store by re-ingesting the surviving " +
          "documents (the purgeSpanStores replay over the full corpus) " +
          "before mixing key formats")
    }

  /** Record [[GramKeyFormat]] at `gramsPath` — every gram-store writer
    * calls it after its partitions land (underscore-prefixed, so parquet
    * readers and partition discovery never see it as data). */
  private[graft] def stampGramKeyFormat(
      spark: org.apache.spark.sql.SparkSession,
      gramsPath: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(gramsPath, GramKeyFormatFile)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try out.write(GramKeyFormat.getBytes("UTF-8")) finally out.close()
  }

  /** Takedown over the STANDING SPANS STORES — the removal direction of
    * [[graft.streaming.StreamingHistorization.spansStream]], completing
    * the spans family's maintenance story the way [[removeDocs]] does the
    * band/pairs/labels triple's.
    *
    * Why this cannot be a row delete: the gram store holds DISTINCT
    * 60-bit gram hashes with no contributor ids (carrying them would make
    * the store corpus-shaped — the design choice documented at
    * [[graft.streaming.StreamingHistorization.spansStream]]), so a
    * removed document's grams cannot be subtracted in place; and a
    * SURVIVOR's span that matched only the removed document's grams must
    * disappear too, which no per-id delete can see. The exact repair is a
    * REPLAY over the surviving documents — but NOT of the whole suffix:
    * a later batch's spans depend on the standing store ONLY through its
    * own positions' grams, and each batch's gram partition records
    * exactly those grams, so the store itself names which batches a
    * withdrawn gram could have influenced. The replay set is
    *
    *  - the AFFECTED batches (those whose novel-id partitions hold a
    *    removed id) — their document set changes, so spans, grams, and
    *    ids all rewrite; plus
    *  - the DEPENDENT batches: for each gram the purge withdraws (present
    *    in an affected partition's old grams, absent from its survivor
    *    grams), the batch where that gram FIRST occurs in the post-purge
    *    store — that batch's positions carried the withdrawn support and
    *    must re-decide (batches after it are covered by its own unchanged
    *    gram partition; batches before it, or before the earliest
    *    withdrawal, never saw the gram). Only spans rewrite — their
    *    documents and grams are untouched.
    *
    * This reproduces exactly what `spansStream` over the survivor stream
    * would have written (rebuild-over-survivors semantics, spec-pinned):
    * for any batch outside the replay set, every position-gram keeps its
    * standing-store membership, so its deterministic recompute would be
    * byte-identical.
    *
    * Cost: |affected| + |dependent| batches at original batch cost, plus
    * one hash-only scan of the gram store to locate dependents — an
    * erasure touching one old batch whose grams nothing later relied on
    * rewrites ONE partition (spec-pinned), where the r12 form replayed
    * the entire suffix (O(store age), the scale-killer the round-12
    * verdict flagged).
    *
    * Crash contract — write order: (1) spans for affected batches (one
    * text pass each, shared with the survivor-gram checkpoint), then the
    * dependent-set derivation and dependent spans, (2) grams for
    * affected batches, (3) ids for affected batches, last. The ids store
    * is what `affected` derives from and the OLD affected gram
    * partitions are what the withdrawn-gram set derives from; both stay
    * untouched until phases 2-3, so at every crash point a re-run
    * recomputes the same plan (or an already-completed subset of it) and
    * overwrites deterministic content in place — any crash-point replay
    * converges to the survivor rebuild.
    *
    * @param survivors surviving documents' (idCol, textCol) — the
    *                  post-takedown document store; ids present in the
    *                  spans stores but absent here are treated as removed
    * @return the batch ids whose partitions were rewritten (empty when no
    *         store partition held a removed id)
    */
  def purgeSpanStores(
      spark: org.apache.spark.sql.SparkSession,
      removed: DataFrame,
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      gramsPath: String,
      idsPath: String,
      spansPath: String,
      k: Int = 50,
      stride: Int = 1): Seq[Long] = {
    gramKeyFormatGuard(spark, gramsPath)
    Store.readParquetSafe(spark, idsPath) match {
      case None => Seq.empty
      case Some(idsStore) =>
        // the effective removal set honors the documented contract in
        // FULL: the caller's list PLUS any id standing in the spans
        // stores but absent from the survivor store (debris of an
        // earlier takedown that crashed between the doc-store delete
        // and this purge) — without the union, ghost ids outside this
        // run's list keep their grams forever and the ids/grams stores
        // drift apart permanently. localCheckpoint severs the lineage
        // from the ids store phase 3 overwrites; no broadcast hint (the
        // set is takedown-shaped, AQE broadcasts it when small).
        val ghost = idsStore.select("id").distinct()
          .join(survivors.select(col(idCol).as("id")), Seq("id"), "left_anti")
        val ids = removed.select(col(removed.columns.head).as("id")).distinct()
          .unionByName(ghost).distinct().localCheckpoint()
        // bounded driver lists: one value per ingested batch (ops-cadence
        // cardinality, never corpus-shaped). One scan answers BOTH
        // planning questions — the batch list and which batches hold a
        // removed id — instead of two separate jobs over the ids store
        // (partition discovery infers ingest_batch as int; normalize)
        val batchHits = idsStore
          .select(col("ingest_batch").cast("long").as("__b"), col("id"))
          .join(ids.withColumn("__rm", lit(1)), Seq("id"), "left")
          .groupBy(col("__b")).agg(max(col("__rm")).as("__hit"))
          .collect().map(r => (r.getLong(0), !r.isNullAt(1)))
        val batches = batchHits.map(_._1).sorted.toSeq
        val affected = batchHits.collect { case (b, true) => b }.sorted.toSeq
        if (affected.isEmpty) Seq.empty
        else if (batches.forall(b => b < affected.min || affected.contains(b)))
          // DENSE fast path: every batch above the earliest affected one is
          // itself affected, so the dependent machinery has nothing to find
          // and the suffix replay IS the minimal replay. Skip the planning
          // jobs and gram checkpoints entirely: one text pass per batch,
          // spans + grams in one scope, standing read from the repaired
          // disk prefix (earlier iterations' rewrites are already down).
          purgeSpanSuffix(spark, ids, survivors, idCol, textCol,
            gramsPath, idsPath, spansPath, k, stride, affected)
        else {
          val affectedSet = affected.toSet
          val docs = survivors.select(col(idCol).as("id"), col(textCol).as("t"))
          def gramsOf(b: Long) = Store.readParquet(spark, gramsPath)
            .filter(col("ingest_batch").cast("long") === b).select("gh")
          // ---- phase 0, read-only planning: everything the rewrites
          // consume is checkpointed or collected here, so no later write
          // invalidates a pending read and a crash re-run can re-derive
          // the plan from what phases 1-3 have not yet overwritten
          val survivorIds = affected.map { b =>
            // the batch's original novel-id set minus the removed ids —
            // localCheckpoint severs the lineage from the ids parquet so
            // phase 3 can overwrite the partition it was read from; the
            // inner join against the survivor store additionally drops
            // ids whose documents are already gone (takedown deletes the
            // doc store first)
            b -> Store.readParquet(spark, idsPath)
              .filter(col("ingest_batch") === b).select("id")
              .join(ids, Seq("id"), "left_anti")
              .localCheckpoint()
          }
          // standing store for batch b, post-purge view: unaffected
          // partitions below b from disk, affected ones from memory (the
          // caller supplies the earlier affected batches' survivor grams,
          // which ascending iteration has already produced)
          def standingFor(b: Long, mem: Map[Long, DataFrame]) =
            (Store.readParquet(spark, gramsPath)
              .filter(col("ingest_batch").cast("long") < b &&
                !col("ingest_batch").cast("long").isInCollection(affected))
              .select("gh")
              +: affected.filter(_ < b).map(mem(_).select("gh")))
              .reduce(_ unionByName _)
          // ---- affected batches, ascending: ONE text pass each (the
          // scoped persist serves both the survivor-gram checkpoint and
          // the spans rewrite). Writing these spans before the dependent
          // set is even derived is crash-safe: the derivation reads only
          // the ids store and the OLD gram partitions, both untouched
          // until phases 2-3, so a re-run re-plans identically and
          // overwrites the same deterministic content
          val survivorGrams = survivorIds.foldLeft(Map.empty[Long, DataFrame]) {
            case (mem, (b, batchIds)) =>
              graft.CacheScope.withScope { scope =>
                val batchDocs = scope.persist(batchIds.join(docs, Seq("id")))
                val g = spanGramsOf(batchDocs, "id", "t", k, stride, scope)
                  .localCheckpoint()
                incrementalDuplicatedSpans(
                    batchDocs, "id", "t", standingFor(b, mem), k, stride, scope)
                  .write.mode("overwrite").parquet(s"$spansPath/ingest_batch=$b")
                mem + (b -> g)
              }
          }
          // withdrawn support: grams an affected partition held that its
          // survivor content no longer does, tagged with the EARLIEST
          // withdrawing batch (a loss influences only later batches)
          val lost = affected.map { b =>
            gramsOf(b).join(survivorGrams(b), Seq("gh"), "left_anti")
              .withColumn("lb", lit(b))
          }.reduce(_ unionByName _).groupBy("gh").agg(min(col("lb")).as("lb"))
          // post-purge first occurrence of each withdrawn gram: unaffected
          // partitions as they stand, plus the survivor contributions
          val postGrams = (Store.readParquet(spark, gramsPath)
            .filter(!col("ingest_batch").cast("long").isInCollection(affected))
            .select(col("gh"), col("ingest_batch").cast("long").as("pb"))
            +: survivorGrams.toSeq.map { case (b, g) =>
              g.select(col("gh")).withColumn("pb", lit(b))
            }).reduce(_ unionByName _)
          // a batch must re-decide iff some withdrawn gram's post-purge
          // FIRST occurrence is that batch (its positions carried the
          // gram; everything below lost the only support) and the
          // withdrawal happened strictly below it — hash-only joins, one
          // gram-store scan, never a document re-derivation. No broadcast
          // hint: `lost` is takedown-gram-shaped (a bulk retraction can
          // withdraw ~|removed bytes|/stride grams, far past the 8 GB
          // broadcast ceiling) — AQE picks broadcast itself when the
          // withdrawal is actually small
          val dependent = postGrams
            .join(lost, Seq("gh"))
            .groupBy("gh").agg(min(col("pb")).as("pfs"), min(col("lb")).as("lb"))
            .filter(col("lb") < col("pfs"))
            .select(col("pfs")).distinct()
            .collect().map(_.getLong(0)).filterNot(affectedSet).sorted.toSeq
          val replay = (affected ++ dependent).sorted
          // ---- dependent batches: spans only (their documents and grams
          // are unchanged); still before any gram/ids rewrite
          dependent.foreach { b =>
            graft.CacheScope.withScope { scope =>
              val batchIds = Store.readParquet(spark, idsPath)
                .filter(col("ingest_batch").cast("long") === b).select("id")
              val batchDocs = scope.persist(batchIds.join(docs, Seq("id")))
              incrementalDuplicatedSpans(
                  batchDocs, "id", "t", standingFor(b, survivorGrams), k, stride, scope)
                .write.mode("overwrite").parquet(s"$spansPath/ingest_batch=$b")
            }
          }
          // ---- phase 2: grams of the affected batches (their OLD content
          // fed the dependent-set derivation, so it outlives phase 1)
          survivorIds.foreach { case (b, _) =>
            survivorGrams(b).write.mode("overwrite").parquet(s"$gramsPath/ingest_batch=$b")
          }
          stampGramKeyFormat(spark, gramsPath)
          // ---- phase 3: retire the removed ids, last — while any removed
          // id remains here, a re-run still sees its batch as affected
          survivorIds.foreach { case (b, batchIds) =>
            batchIds.write.mode("overwrite").parquet(s"$idsPath/ingest_batch=$b")
          }
          replay
        }
    }
  }

  /** Run independent Spark actions concurrently from the driver — see
    * [[graft.Jobs.runConcurrently]]. */
  private[graft] def runConcurrently(tasks: Seq[() => Unit]): Unit =
    graft.Jobs.runConcurrently(tasks)

  /** The dense-case replay loop of [[purgeSpanStores]] (every batch in
    * the suffix is itself affected), restructured into three concurrent
    * WAVES (r19, guide §2.6): a batch's grams depend only on its own
    * survivor documents, so every replay batch's gram partition rewrites
    * in one concurrent wave; spans then recompute concurrently, each
    * probing the already-repaired disk prefix (`ingest_batch < b` now
    * filters the full repaired directory to exactly the standing set the
    * ascending loop saw); ids rewrite last, also concurrently. The crash
    * contract is unchanged — it rests ONLY on the ids phase being final
    * (while any removed id stands, a re-run replays the remaining suffix
    * and overwrites deterministic content in place), which the wave
    * order preserves. */
  private def purgeSpanSuffix(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      gramsPath: String,
      idsPath: String,
      spansPath: String,
      k: Int,
      stride: Int,
      replay: Seq[Long]): Seq[Long] = {
    val docs = survivors.select(col(idCol).as("id"), col(textCol).as("t"))
    // ONE checkpoint of every replay batch's survivor ids (not one per
    // batch): localCheckpoint severs the lineage from the ids parquet so
    // the ids phase can overwrite the partitions it was read from
    val survivorAll = Store.readParquet(spark, idsPath)
      .select(col("ingest_batch").cast("long").as("__b"), col("id"))
      .filter(col("__b").isInCollection(replay))
      .join(ids, Seq("id"), "left_anti")
      .localCheckpoint()
    val survivorIds = replay.map { b =>
      b -> survivorAll.filter(col("__b") === b).select("id")
    }
    graft.CacheScope.withScope { scope =>
      val batchDocs = survivorIds.map { case (b, batchIds) =>
        b -> scope.persist(batchIds.join(docs, Seq("id")))
      }.toMap
      runConcurrently(replay.map(b => () =>
        spanGramsOf(batchDocs(b), "id", "t", k, stride, scope)
          .write.mode("overwrite").parquet(s"$gramsPath/ingest_batch=$b")))
      stampGramKeyFormat(spark, gramsPath)
      runConcurrently(replay.map(b => () =>
        incrementalDuplicatedSpans(batchDocs(b), "id", "t",
            Store.readParquet(spark, gramsPath)
              .filter(col("ingest_batch").cast("long") < b).select("gh"),
            k, stride, scope)
          .write.mode("overwrite").parquet(s"$spansPath/ingest_batch=$b")))
    }
    runConcurrently(survivorIds.map { case (b, batchIds) => () =>
      batchIds.write.mode("overwrite").parquet(s"$idsPath/ingest_batch=$b")
    })
    replay
  }

  /** Hashed k-gram positions (id, p, gh), the shared derivation of
    * [[duplicatedSpans]] and [[removeDuplicatedSpans]]: one bounded
    * per-row explode (≤ len/stride positions), grams as 60-bit longs. */
  private[operators] def spanGrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      stride: Int,
      minDocFreq: Int,
      scope: graft.CacheScope): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(stride >= 1, "stride must be positive")
    require(minDocFreq >= 2, "minDocFreq below 2 would flag every position")
    val t = col("t")
    scope.persist(
      df.select(col(idCol).as("id"), col(textCol).as("t"))
        .filter(length(t) >= k)
        .select(col("id"),
          explode(sequence(lit(1), length(t) - (k - 1), lit(stride))).as("p"),
          t)
        // xxhash64, not the md5-prefix shingleHash: the gram hash never
        // reaches an output or an oracle (the spans oracles decide by the
        // gram STRING), it only keys joins/stores — and hashing EVERY
        // position of the corpus is the spans family's hottest kernel
        // (measured r19: md5-conv 2.4 s vs xxhash64 1.6 s per pass at
        // sf0.1). [[Decontamination.benchGramSetRow]] deliberately does
        // NOT share this derivation — its set is probed by the
        // md5-keyed [[TextAnalysis.winnowGramHashes]] in the streaming
        // scrub. Gram STORES persist these keys: bump the staged-store
        // path when this derivation changes (span_stores_h64).
        .select(col("id"), col("p"), xxhash64(t.substr(col("p"), lit(k))).as("gh")))
  }

  /** Merge a (id, p) duplicated-position set into maximal islands
    * (id, s, e) of stride-spaced runs — the island step shared by the
    * span report and the span removal. */
  private[operators] def spanIslands(dupPos: DataFrame, k: Int, stride: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("p")
    dupPos
      .withColumn("grp", col("p") - row_number().over(w) * stride)
      .groupBy(col("id"), col("grp"))
      .agg(min(col("p")).as("s"), (max(col("p")) + (k - 1)).as("e"))
      .select("id", "s", "e")
  }

  /** Remove cross-document duplicated substrings from the corpus — the
    * transformation side of [[duplicatedSpans]] (Lee et al. ACL'22 §4
    * deduplicate-and-keep-one): a position is cut when its k-gram occurs
    * in at least `minDocFreq` distinct documents AND this document is not
    * the gram's first occurrence, "first" being the smallest doc id
    * containing the gram (the same deterministic min-id canonical-keeper
    * convention the cluster-dedup family uses). The keeper document keeps
    * its text intact; every other document has its duplicated islands
    * excised and the surviving segments re-joined in order.
    *
    * Scale shape: gram derivation and island merge are
    * [[duplicatedSpans]]'s (bounded per-row explode, one (gram-hash, id)
    * shuffle, per-doc windows over narrow (id, position) rows).
    * Overlapping islands (gap < k between duplicated runs) are interval-
    * merged per doc so the cut sees disjoint sorted spans. The payload
    * joins exactly once: merged spans collapse to ONE array row per
    * affected doc before meeting the text, so the surgery join moves each
    * doc at most once and unaffected docs pass through a left join
    * untouched; the cut itself is a per-row fold over the doc's own
    * sorted spans — no further shuffle.
    *
    * @return (doc_id, cleaned) for EVERY input row; cleaned = original
    *         text when nothing was cut (including null and short texts)
    */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      stride: Int = 1,
      minDocFreq: Int = 2,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val grams = spanGrams(df, idCol, textCol, k, stride, minDocFreq, scope)
    // minDocFreq=2: df >= 2 is min(id) != max(id), and the keeper IS the
    // min — one map-side-combined exchange instead of countDistinct's two
    val stats =
      if (minDocFreq == 2)
        grams.groupBy("gh")
          .agg(min(col("id")).as("keeper"), max(col("id")).as("__mx"))
          .filter(col("keeper") =!= col("__mx"))
          .select("gh", "keeper")
      else
        grams.groupBy("gh")
          .agg(countDistinct(col("id")).as("df"), min(col("id")).as("keeper"))
          .filter(col("df") >= minDocFreq)
          .select("gh", "keeper")
    val cut = grams.join(stats, Seq("gh")).filter(col("id") =!= col("keeper"))
      .select("id", "p")
    cutSpans(df, idCol, textCol, spanIslands(cut, k, stride))
  }

  /** Excise an (id, s, e) island set from each document's text — the
    * surgery step shared by [[removeDuplicatedSpans]] and
    * [[Decontamination.decontaminateSpans]]. Islands may overlap
    * (interval-merged here before the cut); every input row returns,
    * untouched rows (including null texts) pass through a left join.
    *
    * Scale shape: merge and collapse are per-doc windows over the narrow
    * island rows only — the payload joins exactly once, against ONE
    * array row per affected doc, and the cut itself is a per-row fold
    * over the doc's own sorted spans. */
  private[graft] def cutSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      islands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // interval-merge overlapping islands: strictly s > running-max(e)
    // starts a new group (adjacent spans may stay separate — the fold
    // emits an empty segment between them, which is harmless)
    val wm = Window.partitionBy("id").orderBy("s")
    val prevMax = max(col("e")).over(wm.rowsBetween(Window.unboundedPreceding, -1))
    val merged = islands
      .withColumn("newgrp", when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
      .withColumn("mgrp", sum(col("newgrp")).over(wm.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("mgrp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    // __-prefixed like every temp column in this file: a caller frame
    // that already carries a 'spans' column would otherwise hit an
    // ambiguous-reference analysis error at the final select
    val spansPerDoc = merged
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__spans"))
      .withColumnRenamed("id", idCol)
    val txt = col(textCol)
    // (pos, acc) fold over disjoint sorted spans: emit the segment before
    // each span, jump pos past it, finish with the tail after the last
    val fold = aggregate(
      col("__spans"),
      struct(lit(1).as("pos"), lit("").as("acc")),
      (st, sp) => struct(
        (sp.getField("e") + 1).as("pos"),
        concat(st.getField("acc"),
          txt.substr(st.getField("pos"), sp.getField("s") - st.getField("pos"))).as("acc")),
      st => concat(st.getField("acc"),
        txt.substr(st.getField("pos"),
          greatest(length(txt) - st.getField("pos") + 1, lit(0)))))
    df.join(spansPerDoc, Seq(idCol), "left_outer")
      .select(col(idCol).as("doc_id"),
        when(col("__spans").isNull, txt).otherwise(fold).as("cleaned"))
  }

  /** Corpus-wide duplicated-LINE removal — the global form of C4's
    * three-sentence/line dedup (Raffel et al. JMLR'20 §2.2: of every
    * line occurring more than once in the corpus, keep one): each
    * document's text splits on `sep`, and every occurrence of a repeated
    * line EXCEPT its global first — "first" = lexicographically smallest
    * (doc id, line position), the library's deterministic keep-min
    * convention — is cut; surviving lines re-join in order. Complements
    * [[removeDuplicatedSpans]]: that operator cuts character-k-gram
    * islands (boilerplate of any shape), this one cuts at the natural
    * line/sentence boundary a web corpus actually repeats at.
    *
    * Lines shorter than `minLineLen` characters are exempt (always
    * kept): without the floor, every blank line and stray separator in
    * the corpus would collapse into one global survivor.
    *
    * Scale shape: one bounded explode to narrow (id, pos, line-hash)
    * rows, ONE shuffle keyed on the 60-bit line hash to elect keepers
    * (map-side combinable min), and the drop positions collapse to one
    * array row per affected doc before meeting the text — the payload
    * joins exactly once, unaffected docs pass through a left join
    * untouched, and the cut is a per-row lambda over the doc's own
    * split. No payload ever enters the dedup shuffle.
    *
    * @return (doc_id, cleaned) for EVERY input row; cleaned = original
    *         text when nothing was cut (including null texts)
    */
  def dedupLinesAcrossCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minLineLen: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame =
    dedupUnitsAcrossCorpus(df, idCol, textCol, sep, minLineLen, identity, scope)

  /** Corpus-wide duplicated-PARAGRAPH removal with normalized matching —
    * the FineWeb-style variant of [[dedupLinesAcrossCorpus]]: units split
    * on the paragraph separator and two paragraphs count as duplicates
    * when their CANONICAL forms agree (whitespace runs collapsed to one
    * space, ends trimmed, case folded), so reflowed or re-cased
    * boilerplate still dedups; every occurrence except the global first
    * (keep-min (doc id, position)) is cut and the survivors re-join with
    * their ORIGINAL text — normalization decides matching, never output.
    * Paragraphs whose normalized form is shorter than `minParaLen` are
    * exempt (always kept), so blank and separator-only units never
    * collapse into one global survivor.
    *
    * Same scale shape as the line form: narrow (id, pos, 60-bit hash)
    * rows shuffle once; payload text never enters the dedup shuffle.
    *
    * @return (doc_id, cleaned) for EVERY input row; cleaned = original
    *         text when nothing was cut (including null texts)
    */
  def dedupParagraphsAcrossCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      minParaLen: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame =
    dedupUnitsAcrossCorpus(df, idCol, textCol, sep, minParaLen, paraCanon, scope)

  /** Shared engine for [[dedupLinesAcrossCorpus]] /
    * [[dedupParagraphsAcrossCorpus]]: `canon` maps each unit to the form
    * that defines duplicate identity (and that `minLen` measures); the
    * reassembled output always keeps original unit text. */
  private def dedupUnitsAcrossCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String,
      minLen: Int,
      canon: Column => Column,
      scope: graft.CacheScope): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(minLen >= 0, "minLen must be non-negative")
    val sepLit = java.util.regex.Pattern.quote(sep)
    val lines = scope.persist(unitHashes(df, idCol, textCol, sepLit, minLen, canon))
    val keepers = lines.groupBy("lh")
      .agg(min(struct(col("id"), col("p"))).as("keep"))
    val drops = lines.join(keepers, Seq("lh"))
      .filter(struct(col("id"), col("p")) =!= col("keep"))
      .select(col("id"), col("p"))
    cutUnitPositions(df, idCol, textCol, sep, sepLit, drops)
  }

  /** The normalized-paragraph canonical form shared by every paragraph
    * operator: whitespace runs to one space, ends trimmed, case folded —
    * normalization decides MATCHING, never output. */
  private def paraCanon(u: Column): Column =
    lower(trim(regexp_replace(u, "\\s+", " ")))

  /** (id, p, lh) unit-occurrence rows: one per kept unit position, keyed
    * by the 60-bit hash of the unit's canonical form — the narrow frame
    * every unit-dedup variant shuffles instead of the text. */
  private def unitHashes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sepLit: String,
      minLen: Int,
      canon: Column => Column): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepLit)).as(Seq("p", "line")))
      .select(col("id"), col("p"), canon(col("line")).as("cl"))
      .filter(length(col("cl")) >= minLen)
      .select(col("id"), col("p"), shingleHash(col("cl")).as("lh"))

  /** Distinct canonical-paragraph hashes of a corpus slice — the standing
    * store [[dedupParagraphsIncremental]] probes and the append its
    * NOVEL complement feeds: after cleaning a batch, append
    * `novelParagraphHashes(batch, …, standing)` and the next run's
    * standing set is exact. 8-byte rows — the whole store is a sliver of
    * the corpus (the digest-store pattern of [[incrementalExact]], at
    * paragraph granularity). */
  def paragraphHashes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      minParaLen: Int = 1): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    unitHashes(df, idCol, textCol, java.util.regex.Pattern.quote(sep),
      minParaLen, paraCanon).select("lh").distinct()
  }

  /** [[paragraphHashes]] restricted to hashes ABSENT from the standing
    * store — exactly the rows to append after ingesting the batch. */
  def novelParagraphHashes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      standing: DataFrame,
      sep: String = "\n\n",
      minParaLen: Int = 1): DataFrame =
    paragraphHashes(df, idCol, textCol, sep, minParaLen)
      .join(standing.select(col("lh")), Seq("lh"), "left_anti")

  /** Cross-run (incremental) paragraph dedup — the steady-state form of
    * [[dedupParagraphsAcrossCorpus]]: a batch paragraph is cut when its
    * canonical hash exists in the STANDING store (some earlier run
    * already kept it) or an earlier occurrence exists within the batch
    * itself (keep-min (doc id, position), the batch-internal half of the
    * global convention). Equals the corpus-wide operator over
    * (ingested ∪ batch) restricted to the batch whenever ingested ids
    * order before batch ids — and the batch never re-reads or re-hashes
    * the ingested corpus: one anti/semi probe of an 8-byte hash store,
    * batch cost forever, the property that makes continuous paragraph
    * dedup affordable at 100 TB.
    *
    * @param standing distinct canonical-paragraph hashes accumulated so
    *                 far (`lh` column; [[paragraphHashes]] of the
    *                 ingested corpus, or the maintained append store)
    * @return (doc_id, cleaned) for EVERY batch row
    */
  def dedupParagraphsIncremental(
      df: DataFrame,
      idCol: String,
      textCol: String,
      standing: DataFrame,
      sep: String = "\n\n",
      minParaLen: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(minParaLen >= 0, "minParaLen must be non-negative")
    val sepLit = java.util.regex.Pattern.quote(sep)
    val units = scope.persist(
      unitHashes(df, idCol, textCol, sepLit, minParaLen, paraCanon))
    // standing hits: every occurrence is cut (the keeper lives in an
    // earlier run); the probe is a semi-join against 8-byte hashes
    val hit = units.join(standing.select(col("lh")), Seq("lh"), "left_semi")
      .select(col("id"), col("p"))
    // batch-novel hashes: keep-min within the batch, cut the rest
    val novel = units.join(standing.select(col("lh")), Seq("lh"), "left_anti")
    val keepers = novel.groupBy("lh")
      .agg(min(struct(col("id"), col("p"))).as("keep"))
    val intra = novel.join(keepers, Seq("lh"))
      .filter(struct(col("id"), col("p")) =!= col("keep"))
      .select(col("id"), col("p"))
    cutUnitPositions(df, idCol, textCol, sep, sepLit, hit.unionByName(intra))
  }

  /** Shared reassembly tail of the unit-dedup family: cut every (id, p)
    * unit position in `drops` from its document and re-join the
    * survivors with their ORIGINAL text; unaffected docs pass through a
    * left join untouched. `drops` collapses to one array row per
    * affected doc before meeting the payload — the text joins exactly
    * once. */
  private def cutUnitPositions(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String,
      sepLit: String,
      drops: DataFrame): DataFrame = {
    val perDoc = drops.groupBy(col("id").as(idCol))
      .agg(collect_set(col("p")).as("__drop"))
    val txt = col(textCol)
    df.join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol).as("doc_id"),
        when(col("__drop").isNull, txt).otherwise(
          array_join(
            filter(split(txt, sepLit), (_, i) => !array_contains(col("__drop"), i)),
            sep)).as("cleaned"))
  }

  /** Corpus-wide paragraph NEAR-dup removal — the MinHash extension of
    * [[dedupParagraphsAcrossCorpus]]: exact-on-canonical-form matching
    * misses reflowed boilerplate with one word changed; here every
    * DISTINCT canonical paragraph gets a MinHash signature over its word
    * n-gram shingles ([[minhashSignature]]'s kernel) and LSH band keys,
    * and election runs per band BUCKET: a paragraph class is cut — every
    * occurrence — when any of its buckets holds a class with a strictly
    * smaller first occurrence (min (doc id, position), the library's
    * keep-min convention); a surviving class keeps exactly its first
    * occurrence, so exact duplicates degenerate to the exact operator's
    * semantics (identical canonicals share every band). Election is
    * single-pass by bucket order — deliberately NOT transitive-closure
    * (the doc-level [[keepCanonical]] path owns that): a class whose
    * bucket winner was itself cut elsewhere stays cut, the standard
    * one-pass LSH election a FineWeb-style paragraph pass runs at scale.
    *
    * Scale shape: narrow (id, pos, 60-bit hash) occurrence rows shuffle
    * once; signatures are computed once per DISTINCT canonical paragraph
    * (boilerplate repeated millions of times hashes once), never per
    * occurrence; buckets are band-key groups (one window over
    * classes × bands rows), never all-pairs; the payload text joins
    * exactly once at reassembly.
    *
    * Band keys are [[lshBandKeys]]' 60-bit digest-prefix truncations and
    * the election here is TERMINAL — unlike the candidate-generation
    * paths (where a downstream exact-verify absorbs key collisions), a
    * 60-bit prefix collision between two distinct band digests merges
    * their buckets and cuts a paragraph nothing re-checks. Accepted at
    * the documented ~n²/2⁶¹ odds (n = distinct paragraph classes; one
    * false bucket-merge per ~10¹⁸ class-pairs) for the 8-byte shuffle
    * keys — the same trade every 60-bit key in this file makes, flagged
    * here because no verify follows.
    *
    * @return (doc_id, cleaned) for EVERY input row; cleaned = original
    *         text when nothing was cut (including null texts)
    */
  def nearDedupParagraphsAcrossCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      minParaLen: Int = 1,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(minParaLen >= 0, "minParaLen must be non-negative")
    require(k % bands == 0, "bands must divide k")
    import org.apache.spark.sql.expressions.Window
    val sepLit = java.util.regex.Pattern.quote(sep)
    val units = scope.persist(
      df.select(col(idCol).as("id"),
          posexplode(split(col(textCol), sepLit)).as(Seq("p", "line")))
        .select(col("id"), col("p"), paraCanon(col("line")).as("cl"))
        .filter(length(col("cl")) >= minParaLen)
        .select(col("id"), col("p"), col("cl"), shingleHash(col("cl")).as("lh")))
    // one row per DISTINCT canonical paragraph: its election key (the
    // class's first occurrence) and one representative canonical string
    // (identical by 60-bit hash up to the documented collision odds)
    val classes = scope.persist(units.groupBy("lh")
      .agg(min(struct(col("id"), col("p"))).as("mk"), min(col("cl")).as("cl")))
    // signature staged as its own projection (the Generate above it
    // references the sig ATTRIBUTE — the fold runs once per class)
    val banded = classes
      .select(col("lh"), col("mk"), minhashSignature(col("cl"), n, k).as("sig"))
      .select(col("lh"), col("mk"),
        posexplode(lshBandKeys(col("sig"), bands, k / bands)).as(Seq("band", "key")))
    // bucket election: the class loses when any bucket holds a strictly
    // smaller election key (distinct classes never share mk — an
    // occurrence belongs to exactly one class)
    val losers = banded
      .withColumn("__bmin", min(col("mk")).over(Window.partitionBy("band", "key")))
      .filter(col("mk") =!= col("__bmin"))
      .select("lh").distinct()
    val keyed = units
      .join(classes.select(col("lh"), col("mk")), Seq("lh"))
      .join(losers.withColumn("__lose", lit(true)), Seq("lh"), "left_outer")
    val drops = keyed
      .filter(col("__lose").isNotNull || struct(col("id"), col("p")) =!= col("mk"))
      .select(col("id"), col("p"))
    cutUnitPositions(df, idCol, textCol, sep, sepLit, drops)
  }

  /** The standing paragraph NEAR-dup index: one (lh, band, key) row per
    * LSH band of every DISTINCT canonical paragraph of the corpus slice —
    * the paragraph-granularity sibling of [[minhashBandIndex]] and the
    * store [[nearDedupParagraphsIncremental]] probes. Append
    * [[novelParagraphBands]] after each ingested batch and the index
    * stays exactly the full-corpus index (kept AND cut classes — the
    * corpus-wide election consults every class, so the incremental law
    * needs both). 8-byte keys, `bands` rows per class, no payloads. */
  def paragraphBandIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      minParaLen: Int = 1,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(k % bands == 0, "bands must divide k")
    val sepLit = java.util.regex.Pattern.quote(sep)
    df.select(posexplode(split(col(textCol), sepLit)).as(Seq("p", "line")))
      .select(paraCanon(col("line")).as("cl"))
      .filter(length(col("cl")) >= minParaLen)
      .select(col("cl"), shingleHash(col("cl")).as("lh"))
      .groupBy("lh").agg(min(col("cl")).as("cl"))
      .select(col("lh"), minhashSignature(col("cl"), n, k).as("sig"))
      .select(col("lh"),
        posexplode(lshBandKeys(col("sig"), bands, k / bands)).as(Seq("band", "key")))
  }

  /** Band rows of the batch's lh-NOVEL paragraph classes — exactly what
    * the caller appends to the standing index after ingesting the batch
    * (ALL novel classes, election winners and losers alike: the
    * corpus-wide election consults cut classes too, so dropping losers
    * would let a future reflow of a cut paragraph slip through where the
    * batch operator would have caught it). Re-delivering an ingested
    * batch yields zero rows. */
  def novelParagraphBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      standing: DataFrame,
      sep: String = "\n\n",
      minParaLen: Int = 1,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4): DataFrame =
    paragraphBandIndex(df, idCol, textCol, sep, minParaLen, n, k, bands)
      .join(standing.select(col("lh")).distinct(), Seq("lh"), "left_anti")

  /** Cross-run (incremental) paragraph NEAR-dup — the steady-state form
    * of [[nearDedupParagraphsAcrossCorpus]], completing the tier
    * [[dedupParagraphsIncremental]]'s exact probe cannot catch (reflowed
    * boilerplate one word apart arriving in a later batch): a batch
    * paragraph class is cut — every batch occurrence — when
    *
    *  - its canonical hash is STANDING (the exact tier: some earlier run
    *    keeps it; one semi-join against the index's 8-byte lh column), or
    *  - any of its LSH band buckets is OCCUPIED by a standing class (the
    *    near tier: one (band, key) semi-join against the index — standing
    *    always wins, the cross-run election posture), or
    *  - a batch-novel class with a smaller first occurrence shares a
    *    bucket (the batch-internal half of the corpus-wide election);
    *
    * a surviving class keeps exactly its first occurrence. Equals the
    * corpus-wide operator over (ingested ∪ batch) restricted to the
    * batch whenever ingested ids order before batch ids and `standing` is
    * the ingested corpus's full [[paragraphBandIndex]] (spec-pinned) —
    * and the batch never re-reads or re-shingles the ingested corpus:
    * two bounded probes of a narrow standing index, batch cost forever.
    *
    * Signatures are computed once per DISTINCT batch-novel class, never
    * per occurrence; the election is per band bucket, never all-pairs;
    * the 60-bit band keys are terminal here like the corpus-wide form
    * (same documented collision posture). NULL texts pass through.
    *
    * @param standing accumulated (lh, band, key) paragraph band index
    * @return (doc_id, cleaned) for EVERY batch row
    */
  def nearDedupParagraphsIncremental(
      df: DataFrame,
      idCol: String,
      textCol: String,
      standing: DataFrame,
      sep: String = "\n\n",
      minParaLen: Int = 1,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(minParaLen >= 0, "minParaLen must be non-negative")
    require(k % bands == 0, "bands must divide k")
    import org.apache.spark.sql.expressions.Window
    val sepLit = java.util.regex.Pattern.quote(sep)
    val units = scope.persist(
      df.select(col(idCol).as("id"),
          posexplode(split(col(textCol), sepLit)).as(Seq("p", "line")))
        .select(col("id"), col("p"), paraCanon(col("line")).as("cl"))
        .filter(length(col("cl")) >= minParaLen)
        .select(col("id"), col("p"), col("cl"), shingleHash(col("cl")).as("lh")))
    val standingLh = standing.select(col("lh")).distinct()
    // exact tier: every occurrence of a standing class is cut
    val hit = units.join(standingLh, Seq("lh"), "left_semi")
      .select(col("id"), col("p"))
    // batch-novel classes, one signature each
    val novel = units.join(standingLh, Seq("lh"), "left_anti")
    val classes = scope.persist(novel.groupBy("lh")
      .agg(min(struct(col("id"), col("p"))).as("mk"), min(col("cl")).as("cl")))
    val banded = scope.persist(classes
      .select(col("lh"), col("mk"), minhashSignature(col("cl"), n, k).as("sig"))
      .select(col("lh"), col("mk"),
        posexplode(lshBandKeys(col("sig"), bands, k / bands)).as(Seq("band", "key"))))
    // near tier: a bucket any standing class occupies cuts the batch class
    val nearHit = banded
      .join(standing.select(col("band"), col("key")), Seq("band", "key"), "left_semi")
      .select("lh").distinct()
    // batch-internal election over ALL novel classes — a near-hit class
    // still OCCUPIES its buckets (the corpus-wide election is one-pass:
    // a class losing to a class that was itself cut elsewhere stays cut),
    // so excluding near-hits here would resurrect their bucket-mates
    val losers = banded
      .withColumn("__bmin", min(col("mk")).over(Window.partitionBy("band", "key")))
      .filter(col("mk") =!= col("__bmin"))
      .select("lh").distinct()
    // distinct: a class can be BOTH a near-hit and an election loser, and
    // a duplicated key would fan the occurrence join out
    val cutClasses = nearHit.unionByName(losers).distinct()
      .withColumn("__lose", lit(true))
    val novelKeyed = novel
      .join(classes.select(col("lh"), col("mk")), Seq("lh"))
      .join(cutClasses, Seq("lh"), "left_outer")
    val drops = novelKeyed
      .filter(col("__lose").isNotNull || struct(col("id"), col("p")) =!= col("mk"))
      .select(col("id"), col("p"))
      .unionByName(hit)
    cutUnitPositions(df, idCol, textCol, sep, sepLit, drops)
  }

  /** Start offsets (0-based) and widths of the `maxDist + 1` contiguous
    * segments an `l`-char string splits into for pigeonhole blocking: the
    * first `k − l mod k` segments take `l div k` chars, the rest one more.
    * Shared by both sides of [[editDistanceNearDuplicates]] so index
    * segments and probe substrings agree exactly. */
  private def segGeom(laCol: Column, i: Column, k: Int): (Column, Column) = {
    val base = floor(laCol / k).cast("int")
    val rem = (laCol % k).cast("int")
    val w = base + when(i >= lit(k) - rem, 1).otherwise(0)
    val st = i * base + greatest(lit(0), i - (lit(k) - rem))
    (st, w)
  }

  /** All unordered pairs within Levenshtein distance `maxDist` — the
    * record-linkage dedup family (near-identical keys, names, titles), by
    * segment pigeonhole blocking in the PassJoin style (Li, Deng, Feng,
    * ICDE'11) with an exact `levenshtein` verify:
    *
    *  - every string splits into `maxDist + 1` contiguous segments; if
    *    edit(a, b) ≤ `maxDist`, at least one segment of `a` is untouched
    *    by any edit (pigeonhole: each edit touches ≤ 1 segment) and so
    *    appears contiguously in `b`, shifted by at most `maxDist`
    *    positions (one per unmatched indel before it);
    *  - index side emits each row's `maxDist + 1` segment keys
    *    (length, segment index, 8-byte xxhash64 of the segment text);
    *  - probe side emits, per candidate source length within ±`maxDist`
    *    of its own, every substring of that segment geometry inside the
    *    ±`maxDist` position window — a bounded
    *    (maxDist+1) × (2·maxDist+1)² keys per row, deduplicated before
    *    the join;
    *  - candidates = one (length, segment, hash) equi-join; hash
    *    collisions and window false-positives are both removed by the
    *    exact verify, so hashing the segment text is safe and keeps the
    *    shuffle key 8 bytes regardless of string length.
    *
    * Scale shape: no all-pairs anywhere — candidate volume is bounded by
    * real segment agreement, the join keys are fixed-width, and only
    * (id, length, hash) rows shuffle; the strings themselves are read
    * again only for the bounded verify join. Zero-width segments (strings
    * shorter than `maxDist + 1`) emit empty-substring keys, which keeps
    * the pigeonhole complete for tiny strings at bounded extra fan-out
    * (only strings within ±`maxDist` of such lengths emit them).
    *
    * Density caveat: candidate volume tracks TRUE near-pair density,
    * which is a property of the data. ID-like keys keep it linear-ish
    * (each string has O(alphabet × length) possible 1-edit neighbors);
    * a saturated template vocabulary (e.g. short names composed from a
    * handful of words, where whole shared halves become hot join keys)
    * makes the exact OUTPUT itself quadratic — no exact method beats
    * that, and such corpora belong to the Jaccard/SimHash family
    * instead. AQE's skew-join split handles moderate hot keys; don't
    * point this at a column whose values mostly collide.
    *
    * @return (id_a, id_b, dist) with id_a < id_b, dist ≤ `maxDist`
    *         (exact duplicates included at dist 0)
    */
  def editDistanceNearDuplicates(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(maxDist >= 1, "maxDist must be at least 1")
    val d = maxDist
    val k = d + 1
    val base = scope.persist(df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("l", length(col("s"))))
    val segIdx = explode(array((0 until k).map(lit): _*)).as("i")
    val idxKeys = {
      val withI = base.select(col("id").as("id_a"), col("s"), col("l").as("la"), segIdx)
      val (st, w) = segGeom(col("la"), col("i"), k)
      withI.select(col("id_a"), col("la"), col("i"),
        xxhash64(col("s").substr(st + 1, w)).as("h"))
    }
    val probeKeys = {
      val combo = explode(array((for (i <- 0 until k; delta <- -d to d)
        yield struct(lit(i).as("i"), lit(delta).as("delta"))): _*)).as("c")
      val withC = base.select(col("id").as("id_b"), col("s"), col("l").as("lb"), combo)
        .select(col("id_b"), col("s"), col("lb"),
          col("c.i").as("i"), (col("lb") + col("c.delta")).as("la"))
        .filter(col("la") >= 0)
      val (st, w) = segGeom(col("la"), col("i"), k)
      withC
        .withColumn("pmin", greatest(lit(0), st - d))
        .withColumn("pmax", least(col("lb") - w, st + d))
        .filter(col("pmax") >= col("pmin"))
        .select(col("id_b"), col("la"), col("i"), col("s"), w.as("w"),
          explode(sequence(col("pmin"), col("pmax"))).as("p"))
        .select(col("id_b"), col("la"), col("i"),
          xxhash64(col("s").substr(col("p") + 1, col("w"))).as("h"))
        .distinct()
    }
    val cand = idxKeys.join(probeKeys, Seq("la", "i", "h"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    val strs = base.select(col("id"), col("s"))
    cand
      .join(strs.select(col("id").as("id_a"), col("s").as("sa")), Seq("id_a"))
      .join(strs.select(col("id").as("id_b"), col("s").as("sb")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .filter(col("dist") <= d)
      .select("id_a", "id_b", "dist")
  }

  /** Cross-TABLE fuzzy equi-join (record linkage): all (left, right)
    * pairs within Levenshtein distance `maxDist` between two DIFFERENT
    * tables — matching a dirty feed against a clean reference — by the
    * same PassJoin pigeonhole blocking as [[editDistanceNearDuplicates]]
    * (Li, Deng, Feng, ICDE'11), asymmetrically: the LEFT side indexes
    * its `maxDist + 1` segment keys, the RIGHT side probes with every
    * substring of the matching segment geometry inside the ±`maxDist`
    * position window, candidates survive one fixed-width
    * (length, segment, hash) equi-join, and an exact `levenshtein`
    * verify removes hash collisions and window false-positives.
    *
    * Scale shape identical to the self-join form: only
    * (id, length, 8-byte hash) rows shuffle, candidate volume tracks
    * true near-match density, strings re-enter only for the bounded
    * verify. Put the REFERENCE table on the left: it pays the cheap
    * fixed `maxDist + 1` keys per row, while the probe side's
    * (maxDist+1) × (2·maxDist+1)² key fan-out lands on the feed being
    * linked. The saturated-template density caveat on
    * [[editDistanceNearDuplicates]] applies to the PAIR of columns here.
    *
    * @return (left_id, right_id, dist), dist ≤ `maxDist`, exact matches
    *         included at dist 0; rows with no partner emit nothing
    *         (inner-join semantics — compose with a left-anti on the
    *         result for the unmatched remainder)
    */
  def fuzzyJoin(
      left: DataFrame,
      leftIdCol: String,
      leftStrCol: String,
      right: DataFrame,
      rightIdCol: String,
      rightStrCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1, "maxDist must be at least 1")
    val d = maxDist
    val k = d + 1
    val lbase = left.select(col(leftIdCol).as("left_id"), col(leftStrCol).as("sa"))
      .filter(col("sa").isNotNull)
      .withColumn("la", length(col("sa")))
    val rbase = right.select(col(rightIdCol).as("right_id"), col(rightStrCol).as("sb"))
      .filter(col("sb").isNotNull)
      .withColumn("lb", length(col("sb")))
    val segIdx = explode(array((0 until k).map(lit): _*)).as("i")
    val idxKeys = {
      val withI = lbase.select(col("left_id"), col("sa"), col("la"), segIdx)
      val (st, w) = segGeom(col("la"), col("i"), k)
      withI.select(col("left_id"), col("la"), col("i"),
        xxhash64(col("sa").substr(st + 1, w)).as("h"))
    }
    val probeKeys = {
      val combo = explode(array((for (i <- 0 until k; delta <- -d to d)
        yield struct(lit(i).as("i"), lit(delta).as("delta"))): _*)).as("c")
      val withC = rbase.select(col("right_id"), col("sb"), col("lb"), combo)
        .select(col("right_id"), col("sb"), col("lb"),
          col("c.i").as("i"), (col("lb") + col("c.delta")).as("la"))
        .filter(col("la") >= 0)
      val (st, w) = segGeom(col("la"), col("i"), k)
      withC
        .withColumn("pmin", greatest(lit(0), st - d))
        .withColumn("pmax", least(col("lb") - w, st + d))
        .filter(col("pmax") >= col("pmin"))
        .select(col("right_id"), col("la"), col("i"), col("sb"), w.as("w"),
          explode(sequence(col("pmin"), col("pmax"))).as("p"))
        .select(col("right_id"), col("la"), col("i"),
          xxhash64(col("sb").substr(col("p") + 1, col("w"))).as("h"))
        .distinct()
    }
    val cand = idxKeys.join(probeKeys, Seq("la", "i", "h"))
      .select("left_id", "right_id").distinct()
    cand
      .join(lbase.select(col("left_id"), col("sa")), Seq("left_id"))
      .join(rbase.select(col("right_id"), col("sb")), Seq("right_id"))
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .filter(col("dist") <= d)
      .select("left_id", "right_id", "dist")
  }

  /** SimHash fingerprint over whitespace tokens: `bits`-wide (max 64,
    * default 16) weighted-majority of per-token md5 bits, returned as a
    * long (bit 0 of the fingerprint is the long's bit `bits-1`, so at
    * bits = 64 the sign bit carries fingerprint bit 0 — consumers use
    * unsigned shifts / xor, never magnitude). Near-duplicate texts land on
    * equal or Hamming-close fingerprints; exact-grouping by the fingerprint
    * is a single shuffle of (fingerprint, id). */
  def simhash(text: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    graft.functions.DedupExpressions.simhashOf(tokens(text), bits)
  }

  /** Group documents by SimHash fingerprint: returns (simhash, n_docs,
    * keep_id) for every fingerprint bucket. Catches only EXACT fingerprint
    * collisions — for the Hamming-neighborhood near-dups SimHash exists for,
    * use [[simhashNearDuplicates]]. */
  def simhashGroups(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    df.select(col(idCol), simhash(col(textCol), bits).as("simhash"))
      .groupBy("simhash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** (lo bit, width) of each pigeonhole block when a `bits`-wide fingerprint
    * is cut into `maxHamming + 1` near-equal blocks. Shared by the operator
    * and its oracle-SQL generation so the two cannot drift. */
  private[graft] def hammingBlocks(bits: Int, maxHamming: Int): Seq[(Int, Int)] = {
    val nBlocks = maxHamming + 1
    val widths = (0 until nBlocks).map(j => bits / nBlocks + (if (j < bits % nBlocks) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Near-duplicate pairs by SimHash Hamming distance.
    *
    * Candidate generation is pigeonhole blocking (the standard multi-table
    * SimHash index, Manku et al., WWW'07): the fingerprint is cut into
    * `maxHamming + 1` bit blocks — two fingerprints within `maxHamming`
    * differing bits MUST agree exactly on at least one block, so candidates
    * come from an equi-join on (block index, block value) and the operator
    * is exhaustive (every true pair is a candidate), never an all-pairs
    * product. An exact `bit_count(xor)` verify then drops the false
    * positives, so blocking is invisible in the output.
    *
    * Scale shape: per block, work is Σ bucket² over 2^width buckets — at a
    * fixed corpus the knob is `bits` (wider fingerprint → wider blocks →
    * smaller buckets; the kernel supports up to 64). Blocked frames are
    * persisted through `scope` so the fingerprint kernel runs once, not once
    * per self-join side.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming <= maxHamming
    *         (0 = identical fingerprints, a superset of [[simhashGroups]]).
    */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 16,
      maxHamming: Int = 2,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame =
    hammingNearDuplicates(
      df.select(col(idCol).as("id"), simhash(col(textCol), bits).as("fp")),
      "id", "fp", bits, maxHamming, scope)

  /** Hamming-distance near-duplicate pairs over ANY precomputed bit
    * fingerprint column (SimHash text prints, perceptual image hashes,
    * …): pigeonhole blocking — maxHamming+1 disjoint bit blocks, two
    * prints within distance d agree exactly on at least one block (Manku
    * et al. WWW'07) — so candidate generation is a (block, value)
    * equi-join, then the exact popcount filter. Never all-pairs; the
    * blocked frame is persisted once per self-join side.
    *
    * @param fps one row per item: (`idCol`, `fpCol` long)
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming <= maxHamming
    */
  def hammingNearDuplicates(
      fps: DataFrame,
      idCol: String,
      fpCol: String,
      bits: Int,
      maxHamming: Int,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(maxHamming >= 1 && maxHamming < bits, "need 1 <= maxHamming < bits")
    val blockCols = hammingBlocks(bits, maxHamming).zipWithIndex.map { case ((lo, w), j) =>
      struct(lit(j).as("blk"),
        shiftrightunsigned(col("fp"), lo).bitwiseAND(lit((1L << w) - 1)).as("bval"))
    }
    val blocked = scope.persist(
      fps.select(col(idCol).as("id"), col(fpCol).as("fp"))
        .select(col("id"), col("fp"), explode(array(blockCols: _*)).as("b"))
        .select(col("id"), col("fp"), col("b.blk").as("blk"), col("b.bval").as("bval")))
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates(Seq("id_a", "id_b"))
  }

  /** Pigeonhole-blocked SimHash rows — (id, fp, blk, bval), one row per
    * (document, block) — the PERSISTED probe-index form of
    * [[hammingNearDuplicates]]'s candidate side: a standing store of these
    * rows lets a batch find its Hamming neighbors among ALL previously
    * ingested documents with one (blk, bval) equi-join
    * ([[hammingProbePairs]]), never a corpus re-fingerprint. The block
    * geometry is [[hammingBlocks]]' — shared with the all-pairs operator
    * and the oracle generation, so an index written at (bits, maxHamming)
    * is probe-compatible with exactly that distance. */
  def simhashBlockedIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming < bits, "need 1 <= maxHamming < bits")
    val blockCols = hammingBlocks(bits, maxHamming).zipWithIndex.map { case ((lo, w), j) =>
      struct(lit(j).as("blk"),
        shiftrightunsigned(col("fp"), lo).bitwiseAND(lit((1L << w) - 1)).as("bval"))
    }
    df.select(col(idCol).as("id"), simhash(col(textCol), bits).as("fp"))
      .select(col("id"), col("fp"), explode(array(blockCols: _*)).as("b"))
      .select(col("id"), col("fp"), col("b.blk").as("blk"), col("b.bval").as("bval"))
  }

  /** Cross-side Hamming pairs between a batch's blocked rows and a
    * standing blocked index (both [[simhashBlockedIndex]] shaped, SAME
    * (bits, maxHamming) geometry): candidates from the (blk, bval)
    * equi-join — exhaustive by the pigeonhole argument — then the exact
    * popcount verify. Output is (id_a, id_b) with the STANDING id in
    * `id_a`, batch id in `id_b`; batch-sized, never index-sized. */
  def hammingProbePairs(
      standing: DataFrame,
      batch: DataFrame,
      maxHamming: Int): DataFrame =
    batch.as("b").join(standing.as("s"),
        col("b.blk") === col("s.blk") && col("b.bval") === col("s.bval"))
      .filter(bit_count(col("s.fp").bitwiseXOR(col("b.fp"))) <= maxHamming)
      .select(col("s.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates(Seq("id_a", "id_b"))

  /** Connected components over an undirected duplicate-pair graph: each
    * node's label converges to the smallest node id in its component, so
    * every near-duplicate cluster is named by its minimum member. This is
    * the step between pairwise candidates (MinHash/SimHash/Jaccard emit
    * PAIRS) and an actually deduplicated corpus: transitive duplicates
    * (A~B, B~C but never A~C) collapse into one cluster, which pair-level
    * "keep min(id_a)" misses.
    *
    * Algorithm: two phases from Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC'14). Phase 1 is plain min-label
    * propagation — per round, newLabel(v) = min(label(v), neighbors'
    * labels); one equi-join plus one min-aggregate over (id, label) LONG
    * pairs; rounds needed equal the graph diameter. Duplicate clusters
    * are usually shallow (stars and short chains), so this converges in a
    * handful of the cheapest possible rounds. If the graph is deeper than
    * `switchAfter` rounds — long boilerplate chains in web corpora do
    * this — phase 2 takes over: the large-star/small-star alternation
    * ([[alternatingComponents]]), whose round count is O(log² n)
    * regardless of diameter, seeded with the partial labels phase 1
    * already earned (shortcut edges (v, label(v)) are component-
    * preserving). The operator therefore never depends on graph diameter;
    * `maxIters` is a total-round bug guard, not a data-shape assumption.
    *
    * Fixpoint detection is an exact-decimal checksum: labels only ever
    * decrease, so an unchanged sum means an unchanged labeling. Each
    * round's labeling is eagerly `localCheckpoint`ed: the round plan
    * references the previous labeling twice (join + union), so without
    * truncation the logical plan doubles per round — caching alone leaves
    * an exponentially-growing lineage that OOMs on plan stringification
    * alone by ~12 rounds. Checkpointed labelings are (long, long) pairs,
    * tiny relative to the corpus; a fault-tolerant 100 TB run points
    * `spark.checkpoint.dir` at reliable storage and uses `checkpoint()`
    * instead, trading a write per round for executor-loss recovery.
    *
    * @param pairs one row per undirected edge (`idACol`, `idBCol`)
    * @param maxIters total round budget across both phases; the default
    *                 leaves the alternation enough rounds for graphs far
    *                 beyond any real corpus (it needs ~log₂ diameter)
    * @param switchAfter propagation rounds before falling back to the
    *                    alternation; 0 = straight to large-star/small-star
    * @param driverEdgeBound distinct-canonical-edge count under which the
    *                 components are solved by ONE collect + union-find in
    *                 driver memory instead of the eager round loop —
    *                 identical output (parity spec-pinned); 0 disables.
    *                 Duplicate-pair graphs are sparse by construction, so
    *                 this is the common case at batch scale; the
    *                 distributed loop engages when the edge set genuinely
    *                 outgrows the driver
    * @return (id, cluster_id) for every node that appears in `pairs`;
    *         cluster_id = min node id of the component
    */
  def duplicateClusters(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25,
      scope: graft.CacheScope = graft.CacheScope.Global,
      switchAfter: Int = 8,
      driverEdgeBound: Int = 1 << 20): DataFrame = {
    // symmetric closure: min labels must flow both ways along every edge.
    // Dedup in canonical (lo, hi) form FIRST — the distinct shuffles |E|
    // rows, then the reverse direction is a map-only mirror of the same
    // deduped frame; distinct-ing the 2|E|-row symmetric union would pay
    // double shuffle volume on the largest frame the loop touches.
    val canon = scope.persist(pairs
      .select(least(col(idACol), col(idBCol)).as("src"),
        greatest(col(idACol), col(idBCol)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // DRIVER FAST PATH (the bpeTrainMerges precedent): when the DISTINCT
    // canonical edge set fits `driverEdgeBound`, collect it once and run
    // union-find in driver memory — identical output (min-id components,
    // parity spec-pinned), ONE job instead of an eager multi-round loop
    // whose per-round jobs (join + aggregate + checkpoint + checksum)
    // cost more in scheduling than the data at batch scale. This is a
    // BOUND ON THE CONDENSED GRAPH, not the corpus: duplicate-pair
    // graphs are sparse by construction (banded/blocked candidates), and
    // the steady-state loops ([[updateClusters]]) condense to batch-sized
    // graphs, so at 100 TB the distributed loop engages exactly when the
    // edge set genuinely exceeds driver memory. The probe is a bounded
    // limit-count over the cached edge frame, never a full count first.
    val driverTypeOk = canon.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    if (driverTypeOk && driverEdgeBound > 0 &&
        canon.limit(driverEdgeBound + 1).count() <= driverEdgeBound)
      return driverComponents(pairs.sparkSession, canon)
    val edges = canon.union(canon.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var sumNow = labelChecksum(labels)
    var converged = sumNow == null // empty graph: nothing to propagate
    var iter = 0
    while (!converged && iter < math.min(switchAfter, maxIters)) {
      val viaNeighbor = edges.as("e")
        .join(labels.as("l"), col("e.dst") === col("l.id"))
        .select(col("e.src").as("id"), col("l.label"))
      val next = labels.union(viaNeighbor)
        .groupBy("id").agg(min("label").as("label")).localCheckpoint()
      val sumNext = labelChecksum(next)
      converged = sumNext.compareTo(sumNow) == 0
      labels.unpersist(blocking = false)
      labels = next
      sumNow = sumNext
      iter += 1
    }
    if (converged) labels.select(col("id"), col("label").as("cluster_id"))
    else {
      // deep graph: shortcut edges from the partial labeling (each (v,
      // label(v)) stays inside v's component) seed the diameter-free phase
      val shortcuts = labels.filter(col("id") =!= col("label"))
        .select(col("id").as("src"), col("label").as("dst"))
      alternatingComponents(edges.union(shortcuts), maxIters - iter)
    }
  }

  /** The driver fast paths' union-find over ids of type `dt`:
    * path-compressed find, union roots toward the SMALLER id under the
    * type's own ordering (numeric for integral ids, lexicographic for
    * strings — exactly the `min` the distributed loop aggregates with), so
    * every component is named by its minimum member. */
  private final class MinUnionFind(dt: org.apache.spark.sql.types.DataType) {
    private val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    private val lt: (Any, Any) => Boolean = dt match {
      case org.apache.spark.sql.types.StringType =>
        // UTF-8 BYTE order, not Java's UTF-16 code-unit order: the
        // distributed loop's `min` aggregates UTF8String binary
        // comparisons, and the two orders disagree when ids mix
        // U+E000–U+FFFF with supplementary code points — the parity
        // contract requires electing the SAME component minimum
        (a, b) => org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(b.asInstanceOf[String])) < 0
      case _ =>
        (a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
    }
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Any, b: Any): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    /** Every id a union moved, with its root. Keys SNAPSHOT first:
      * find() path-compresses (mutates the map), and mutating a mutable
      * HashMap under its own keysIterator silently skips entries. */
    def moved: Map[Any, Any] = parent.keys.toArray
      .flatMap(k => { val r = find(k); if (r != k) Some(k -> r) else None })
      .toMap
  }

  /** A driver-built frame of `rows`, one non-null column of type `dt` per
    * name in `columns`. */
  private def localFrame(
      spark: org.apache.spark.sql.SparkSession,
      dt: org.apache.spark.sql.types.DataType,
      columns: String*)(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(columns.map(
        org.apache.spark.sql.types.StructField(_, dt, nullable = false))))

  /** The driver fast path of [[duplicateClusters]] over a collected
    * canonical edge set: one [[MinUnionFind]] over every edge. Output rows
    * keep the input id type. */
  private def driverComponents(
      spark: org.apache.spark.sql.SparkSession,
      canon: DataFrame): DataFrame = {
    val dt = canon.schema("src").dataType
    val uf = new MinUnionFind(dt)
    val rows = canon.collect()
    canon.unpersist(blocking = false)
    rows.foreach(e => uf.union(e.get(0), e.get(1)))
    localFrame(spark, dt, "id", "cluster_id")(rows.iterator
      .flatMap(e => Iterator(e.get(0), e.get(1)))
      .toSet[Any].toSeq
      .map(id => org.apache.spark.sql.Row(id, uf.find(id))))
  }

  /** Cheap between-rounds stall signal: sum of per-label hashes. Null on
    * an empty frame (sum over zero rows), which the loops read as "edge
    * set emptied". Type-AGNOSTIC on purpose — the previous decimal cast
    * of the label assumed numeric ids, which threw under ANSI for string
    * ids (md5-hex doc ids, the id shape this library itself produces)
    * and, with ANSI off, nulled every checksum so clustering silently
    * returned self-labels. Soundness never rested on this signal: sum
    * equality only GATES the one-join edge-consistency test, which is
    * what actually proves convergence — a hash collision just runs that
    * test a round early, and its failure continues the loop. */
  private def labelChecksum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(xxhash64(col("label")).cast("decimal(38,0)"))).head.getDecimal(0)

  /** The large-star/small-star alternation of Kiveris et al. (SoCC'14
    * §3, Algorithm 2): per round, large-star connects every neighbor v > u
    * to m(u) = min(Γ(u) ∪ {u}), then small-star (grouping each edge under
    * its larger endpoint) connects the center and its smaller neighbors to
    * the group minimum. Both steps preserve connected components and the
    * node set; the edge set converges to per-component stars rooted at the
    * component minimum in O(log² n) rounds independent of diameter (in
    * practice ~log₂ of the longest chain). Per round: two equi-joins and
    * two min-aggregates over (long, long) canonical edges — the same
    * narrow-shuffle shape as plain propagation, never touching payloads.
    *
    * Convergence is detected soundly, not probabilistically: per-node
    * labels l(v) = min(v, Γ(v)) only ever decrease, so a stalled
    * [[labelChecksum]] between rounds signals a likely fixpoint; the
    * signal only GATES a one-join check that l is constant across every
    * remaining edge (the checksum itself proves nothing). Label
    * constancy per edge ⇒
    * constancy per component (components are preserved), and the component
    * minimum m always has l(m) = m, so a consistent labeling IS the
    * component-min labeling — the loop can stop even if the edge set
    * itself has not reached its own fixpoint yet.
    *
    * @param sym symmetric-or-not (src, dst) edges; self-loops dropped
    * @return (id, cluster_id) for every node appearing in `sym`
    */
  private def alternatingComponents(sym: DataFrame, maxRounds: Int): DataFrame = {
    val nodes = sym.select(col("src").as("id"))
      .union(sym.select(col("dst").as("id"))).distinct().localCheckpoint()
    var edges = sym.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct().localCheckpoint()
    def labelsOf(e: DataFrame): DataFrame = {
      val adj = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      adj.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("id"), least(col("u"), col("mn")).as("label"))
    }
    var labels: DataFrame = null
    var sumPrev: java.math.BigDecimal = null
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // large-star: center u, m = min(Γ(u) ∪ {u}); every larger neighbor
      // v > u re-attaches to m (m <= u < v, so (m, v) is canonical)
      val adj = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mins = adj.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = adj.join(mins, Seq("u")).filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi")).distinct()
      // small-star: group by the larger endpoint; the center and all its
      // smaller neighbors re-attach to the group minimum
      val smins = large.groupBy("hi").agg(min("lo").as("m"))
      val next = large.join(smins, Seq("hi"))
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .union(smins.select(col("m").as("lo"), col("hi")))
        .distinct().localCheckpoint()
      val l = labelsOf(next).localCheckpoint()
      val sumNow = labelChecksum(l)
      if (sumNow == null) done = true // edge set emptied: only singletons left
      else if (sumPrev != null && sumNow.compareTo(sumPrev) == 0) {
        // checksum stalled: run the sound edge-consistency test
        val la = l.select(col("id").as("lo"), col("label").as("la"))
        val lb = l.select(col("id").as("hi"), col("label").as("lb"))
        done = next.join(la, Seq("lo")).join(lb, Seq("hi"))
          .filter(col("la") =!= col("lb")).isEmpty
      }
      edges.unpersist(blocking = false)
      if (labels != null) labels.unpersist(blocking = false)
      edges = next
      labels = l
      sumPrev = sumNow
      round += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"alternatingComponents did not converge in $maxRounds rounds — " +
          "large-star/small-star needs ~log2(longest chain) rounds, so this " +
          "indicates a bug or an absurdly small maxIters, not a data shape")
    val lab = if (labels == null) nodes.limit(0).withColumn("label", col("id"))
      else labels
    nodes.join(lab, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** One-row dataset-card statistics over a [[duplicateClusters]] labeling:
    * cluster count, clustered-doc count, largest cluster, and how many
    * docs cluster dedup would remove (sum of size-1 over clusters). */
  def clusterStats(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .agg(
        count(lit(1)).as("n_clusters"),
        coalesce(sum(col("sz")), lit(0L)).cast("long").as("n_docs_clustered"),
        coalesce(max(col("sz")), lit(0L)).cast("long").as("max_cluster_size"),
        coalesce(sum(col("sz") - 1), lit(0L)).cast("long").as("n_removable"))

  /** Deduplicate `df` by transitive near-duplicate clusters: every row
    * whose id sits in a cluster of `pairs` and is not the cluster's
    * minimum id is dropped; unpaired rows and cluster minima survive.
    * The anti-join moves only the loser id set — never `df`'s payload. */
  def keepCanonical(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame =
    keepCanonicalWith(df, idCol, duplicateClusters(pairs, idACol, idBCol, maxIters, scope))

  /** [[keepCanonical]] against an ALREADY-COMPUTED (id, cluster_id)
    * labeling — the store-fed form (naming convention of
    * [[graft.operators.Similarity.kmeansAssignWith]]): production computes
    * the labeling once per corpus (or maintains it incrementally /
    * streaming) and answers every downstream question from the stored
    * labels, not from a per-question CC re-run. */
  def keepCanonicalWith(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[keepCanonical]] with a caller-chosen survivor: within each cluster
    * the row with the LARGEST `scoreCol` value survives (ties: minimum
    * id) — the election real curation pipelines run, keeping the longest
    * or highest-quality member rather than the accidentally-smallest id.
    * Unpaired rows survive untouched. A NULL score never wins against a
    * non-NULL one; an all-NULL cluster falls back to the minimum id.
    *
    * Scale shape matches [[keepCanonical]]: only (id, score) pairs join
    * the (id, cluster_id) labeling — the payload never enters the
    * election — the per-cluster argmax is one map-side-combinable
    * max(struct) aggregate, and the payload moves once, in the final
    * loser anti-join. */
  def keepBest(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame =
    keepBestWith(df, idCol, scoreCol,
      duplicateClusters(pairs, idACol, idBCol, maxIters, scope))

  /** [[keepBest]] against an already-computed (id, cluster_id) labeling —
    * the store-fed form (see [[keepCanonicalWith]]). */
  def keepBestWith(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      clusters: DataFrame): DataFrame = {
    // id-TYPE-AGNOSTIC election (the old max-over-(score, -id) trick
    // required a cast-to-long that threw on string ids under ANSI and,
    // with ANSI off, nulled the join key and silently elected nobody):
    // larger score wins, score tie -> smaller id, NULL score never
    // beats a non-null one
    val scored = clusters.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("__score").desc_nulls_last, col("id").asc)
    val losers = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Fold a batch of NEW duplicate-pair edges into an existing
    * [[duplicateClusters]] labeling at batch cost — the last step of the
    * incremental ingestion story: [[incrementalMinhashCandidates]] finds a
    * new batch's edges against the corpus index at batch cost, and this
    * operator merges them into the standing labeling without recomputing
    * components over all historical pairs.
    *
    * Correctness: components of the union graph are exactly the old
    * components (plus fresh nodes) glued together by the new edges, so it
    * suffices to contract every old component to its label and run
    * connected components on the CONDENSED graph — each new edge mapped to
    * (label(a), label(b)), fresh nodes labeling themselves. That graph has
    * at most one edge per new pair, so the CC loop runs at batch size, and
    * the resulting old-label → merged-min mapping (also batch-sized, so
    * the join back is broadcast in practice) relabels the corpus with ONE
    * equi-join. Labels stay "min member id": the min of a merged component
    * is the min over its constituent minima and fresh node ids, which is
    * precisely what CC over the condensed graph computes. A spec proves
    * the result row-identical to a full recompute on the union graph.
    *
    * @param labels existing (id, cluster_id) labeling
    * @param newPairs the batch's edges; endpoints may be known or fresh
    * @param driverEdgeBound distinct-canonical-pair count under which the
    *        whole repair plans DRIVER-SIDE (the [[duplicateClusters]]
    *        fast-path precedent, lifted to the full operator): the batch
    *        pairs and the ENDPOINT labels collect (both batch-bounded —
    *        the endpoint lookup is a broadcast semi-join, never a labels
    *        shuffle), the condensed union-find runs in driver memory, and
    *        the corpus-side work collapses to ONE broadcast relabel join
    *        plus a local fresh-rows union. The eager path's per-batch
    *        scaffolding (endpoint distinct, a corpus-labels shuffle join,
    *        a cached intermediate, the condensed CC jobs) is exactly the
    *        steady-state latency a streaming loop pays EVERY micro-batch.
    *        0 disables; output parity is spec-pinned
    * @return (id, cluster_id) over all labeled nodes plus the batch's
    *         endpoints — the same frame a full recompute would produce
    */
  def updateClusters(
      labels: DataFrame,
      newPairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25,
      scope: graft.CacheScope = graft.CacheScope.Global,
      driverEdgeBound: Int = 1 << 20): DataFrame = {
    val driverTypeOk = newPairs.schema(idACol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    if (driverTypeOk && driverEdgeBound > 0) {
      val canon = scope.persist(newPairs
        .select(least(col(idACol), col(idBCol)).as("a"),
          greatest(col(idACol), col(idBCol)).as("b"))
        .distinct())
      if (canon.limit(driverEdgeBound + 1).count() <= driverEdgeBound)
        return updateClustersDriver(labels, canon)
      canon.unpersist(blocking = false)
    }
    val ends = newPairs.select(col(idACol).as("id"))
      .union(newPairs.select(col(idBCol).as("id"))).distinct()
    // batch endpoints → current labels; fresh nodes label themselves
    val lab = scope.persist(
      ends.join(labels, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("lbl"),
          col("cluster_id").isNull.as("fresh")))
    val condensed = newPairs
      .join(lab.select(col("id").as(idACol), col("lbl").as("la")), Seq(idACol))
      .join(lab.select(col("id").as(idBCol), col("lbl").as("lb")), Seq(idBCol))
      .select(col("la").as("id_a"), col("lb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val remap = duplicateClusters(condensed, "id_a", "id_b", maxIters, scope)
      .select(col("id").as("old_label"), col("cluster_id").as("new_label"))
    val relabeled = labels
      .join(remap.withColumnRenamed("old_label", "cluster_id"), Seq("cluster_id"), "left_outer")
      .select(col("id"), coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    val freshNodes = lab.filter(col("fresh"))
      .join(remap.withColumnRenamed("old_label", "lbl"), Seq("lbl"), "left_outer")
      .select(col("id"), coalesce(col("new_label"), col("lbl")).as("cluster_id"))
    relabeled.union(freshNodes)
  }

  /** [[updateClusters]]' driver fast path over a COLLECTED canonical pair
    * set: endpoint labels fetched by one broadcast semi-join (map-side —
    * the labels store is never shuffled), condensed union-find in driver
    * memory under the same min ordering the distributed loop aggregates
    * with, then ONE broadcast relabel join + a local fresh-rows union.
    * Output row-identical to the eager path (parity spec-pinned). */
  private def updateClustersDriver(
      labels: DataFrame,
      canon: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    val dt = canon.schema("a").dataType
    val pairsLocal = canon.collect().map(r => (r.get(0), r.get(1)))
    canon.unpersist(blocking = false)
    val endpoints = pairsLocal.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    // endpoint-label lookup: batch-bounded output, broadcast semi-join —
    // the corpus-sized labeling streams map-side, nothing shuffles
    val endsDf = localFrame(spark, dt, "id")(endpoints.toSeq.map(org.apache.spark.sql.Row(_)))
    val labMap: Map[Any, Any] = labels
      .join(broadcast(endsDf), Seq("id"), "left_semi")
      .collect().map(r => r.get(0) -> r.get(1)).toMap
    def lblOf(id: Any): Any = labMap.getOrElse(id, id)
    // union-find over the CONDENSED edges, roots elected toward the min
    val uf = new MinUnionFind(dt)
    pairsLocal.foreach { case (a, b) =>
      val (la, lb) = (lblOf(a), lblOf(b))
      if (la != lb) uf.union(la, lb)
    }
    // remap only labels the repair actually MOVED — identity rows would
    // bloat the broadcast for nothing
    val moved = uf.moved
    val relabeled =
      if (moved.isEmpty) labels.select(col("id"), col("cluster_id"))
      else {
        val remapDf = localFrame(spark, dt, "cluster_id", "__new")(
          moved.toSeq.map { case (o, n) => org.apache.spark.sql.Row(o, n) })
        labels.join(broadcast(remapDf), Seq("cluster_id"), "left_outer")
          .select(col("id"), coalesce(col("__new"), col("cluster_id")).as("cluster_id"))
      }
    val freshRows = endpoints.toSeq.filterNot(labMap.contains)
      .map(id => org.apache.spark.sql.Row(id, { val l = lblOf(id); moved.getOrElse(l, l) }))
    relabeled.unionByName(localFrame(spark, dt, "id", "cluster_id")(freshRows))
  }

  /** Remove a batch of document ids from a standing [[duplicateClusters]]
    * labeling and its pair set — the takedown direction of the incremental
    * story ([[updateClusters]] is the ingestion direction). Every
    * production corpus faces deletion requests; this repairs the standing
    * artifacts at affected-component cost instead of a full recompute.
    *
    * Correctness: dropping a node removes exactly the pairs touching it
    * (other documents' fingerprints are unchanged, so the surviving pair
    * set IS what a recompute over the surviving corpus would emit). A
    * removal can SPLIT a component (the removed node may be the only
    * bridge), so surviving labels cannot be patched in place — but only
    * components that CONTAINED a removed id can change, and no surviving
    * pair links an affected component to an unaffected one (such a pair
    * would have made them one component already). So it suffices to re-run
    * [[duplicateClusters]] on the surviving pairs of the affected
    * components only; every other label passes through untouched. Nodes of
    * affected components left with no surviving pair drop out, exactly as
    * a recompute (which labels only paired nodes) would drop them.
    *
    * Scale: `removed` and the affected-component frames are bounded by the
    * takedown batch and its clusters' membership, never the corpus —
    * broadcast-hinted so the labels/pairs passes stay map-side; the CC
    * loop runs on the affected subgraph only. A spec pins labels' and
    * pairs' row-identical to the full recompute without the ids,
    * including a bridge-removal split.
    *
    * @param labels  standing (id, cluster_id) labeling
    * @param pairs   standing pair set (read stores with `distinct()` per
    *                the at-least-once append contract)
    * @param removed frame whose FIRST column holds the ids to remove
    * @return (repaired labels, surviving pairs)
    */
  def removeDocsFromClusters(
      labels: DataFrame,
      pairs: DataFrame,
      removed: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25,
      scope: graft.CacheScope = graft.CacheScope.Global): (DataFrame, DataFrame) = {
    val ids = broadcast(removed.select(col(removed.columns.head).as("id")).distinct())
    // persisted within the caller's scope: keptPairs backs BOTH outputs
    // (the repaired labels via subPairs, and the returned pair set) — one
    // evaluation instead of one per consumer
    val keptPairs = scope.persist(pairs
      .join(ids.select(col("id").as(idACol)), Seq(idACol), "left_anti")
      .join(ids.select(col("id").as(idBCol)), Seq(idBCol), "left_anti")
      .select(pairs.columns.map(col).toIndexedSeq: _*)) // using-joins reorder columns
    // clusters that contained a removed id: the only labels that can change
    val affected = broadcast(
      labels.join(ids, Seq("id"), "left_semi").select("cluster_id").distinct())
    val affectedNodes = labels.join(affected, Seq("cluster_id"), "left_semi").select("id")
    // surviving pairs inside affected components (a pair's endpoints share
    // a component, so membership of one endpoint decides)
    val subPairs = keptPairs.join(
      affectedNodes.select(col("id").as(idACol)), Seq(idACol), "left_semi")
    val repaired = duplicateClusters(subPairs, idACol, idBCol, maxIters, scope)
    val untouched = labels.join(affected, Seq("cluster_id"), "left_anti")
      .select("id", "cluster_id")
    (untouched.union(repaired.select("id", "cluster_id")), keptPairs)
  }

  /** Takedown maintenance over the standing dedup STORES — the band index,
    * pair store, and labels store that [[graft.streaming
    * .StreamingHistorization.clusterMaintainStream]] maintains: delete the
    * ids' band rows, drop their pairs, and repair the labeling via
    * [[removeDocsFromClusters]], swapping each store atomically
    * ([[graft.sources.Store.writeStoreSwap]] — readers see the old or new
    * generation, never half). After the pass the three stores equal what
    * a from-scratch rebuild over the surviving corpus would write. */
  def removeDocs(
      spark: org.apache.spark.sql.SparkSession,
      removed: DataFrame,
      indexPath: String,
      pairsPath: String,
      labelsPath: String,
      maxIters: Int = 25,
      labelsGenerations: Int = 0,
      purgeRetained: Boolean = false,
      purgeGraceMillis: Long = 0L): Unit = {
    val ids = removed.select(col(removed.columns.head).as("id")).distinct()
    Store.deleteFromStore(spark, indexPath, ids, "id")
    // swap-committed: a rename gap must not read as "nothing to repair"
    val pairsOpt = Store.readForSwap(spark, pairsPath).map(_.distinct())
    // labelsGenerations > 0 switches the labels store to the generation
    // layout ([[graft.sources.Store.writeStoreGeneration]]): reads pin the
    // latest committed pass, the repair commits a NEW generation, and
    // retention keeps `labelsGenerations` passes. RIGHT-TO-BE-FORGOTTEN
    // CAVEAT: retained older generations still hold the removed ids'
    // label rows until pruned by later commits — for legal-erasure
    // semantics pass `purgeRetained = true` (scrubs every retained
    // generation through [[graft.sources.Store.purgeGenerations]] after
    // the repair commits) or run with labelsGenerations = 1 (commit +
    // immediate prune).
    val labelsOpt =
      if (labelsGenerations > 0) {
        // a labels store previously written in the SWAP layout would read
        // as absent here (no gen-* directories) and the repair would
        // silently skip the standing labels — adopt it as generation 1
        // first ([[graft.sources.Store.migrateToGenerations]]), so
        // flipping the flag on an existing deployment keeps the takedown
        // guarantee intact
        Store.migrateToGenerations(spark, labelsPath)
        Store.readStoreLatest(spark, labelsPath).map(_._2)
      } else Store.readForSwap(spark, labelsPath)
    (pairsOpt, labelsOpt) match {
      case (Some(pairs), Some(labels)) => graft.CacheScope.withScope { scope =>
        val (labels2, pairs2) = removeDocsFromClusters(
          labels, pairs, ids, maxIters = maxIters, scope = scope)
        // labels commit FIRST: its lineage reads the old labels AND old
        // pairs stores (a swap fully materializes into <path>.tmp before
        // its target is replaced; a generation commit only ever creates a
        // new directory). A crash between the commits leaves labels
        // repaired / pairs stale — re-running the same removal converges
        // (already-unlabeled ids yield an empty affected set, so only the
        // pair filter re-applies).
        if (labelsGenerations > 0) {
          Store.writeStoreGeneration(labels2, labelsPath, keep = labelsGenerations)
          // Erasure across RETAINED generations: the commit above repairs
          // the latest pass, but retention keeps labelsGenerations prior
          // passes that still hold the removed ids' label rows. With
          // purgeRetained the whole retained history is scrubbed —
          // every generation rewritten minus the ids (the repaired head
          // included; its rewrite is the identity), pre-purge directories
          // pruned after the grace window. Without it the caveat above
          // applies until later commits organically prune the old passes.
          if (purgeRetained) {
            Store.purgeGenerations(
              spark, labelsPath, ids, "id", graceMillis = purgeGraceMillis)
            ()
          }
        } else Store.writeStoreSwap(labels2, labelsPath, Seq.empty)
        Store.writeStoreSwap(pairs2, pairsPath, Seq.empty)
        ()
      }
      case (Some(pairs), None) =>
        // Labels store absent but pairs standing (a crash between the two
        // swaps, or a pairs-only deployment): the takedown guarantee on the
        // pairs store must hold regardless — filter the ids' pairs even
        // with no labeling to repair, so a replayed removal can never leave
        // a removed id's pairs behind permanently.
        val bids = broadcast(ids)
        val keptPairs = pairs
          .join(bids.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
          .join(bids.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
          .select(pairs.columns.map(col).toIndexedSeq: _*)
        Store.writeStoreSwap(keptPairs, pairsPath, Seq.empty)
      case _ => () // nothing standing to repair
    }
  }
}
