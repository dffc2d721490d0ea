package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag (or drop) training documents whose word
  * n-grams collide with a benchmark/test set.
  *
  * North-star extension (no counterpart in the reference — its only dedup
  * is the hash anti-join, MetaColumnHelpers.py:180-184). This is the
  * standard train/test-overlap guard for LLM training corpora: a training
  * document sharing enough n-grams with an evaluation set leaks the
  * benchmark into the weights, so it is flagged by n-gram collision (the
  * published recipes use 8–13-gram exact overlap; `n` is the knob).
  *
  * Scale shape (the part that matters at 100 TB):
  *  - The benchmark side is tiny by construction (benchmarks are MBs) — its
  *    distinct shingle hashes are BROADCAST, so hit detection is a map-side
  *    join at corpus-scan speed: zero shuffle of the training corpus.
  *  - Per-document shingle counts come from `size(shingles)` in the same
  *    row-local projection — no aggregation pass for the denominator.
  *  - The only shuffles are (a) grouping the (rare) hit rows by doc and
  *    (b) the narrow (doc_id, n_shingles) join against those counts; the
  *    document payload never moves.
  *  - Shingles join on 60-bit md5-prefix longs (8-byte primitive keys),
  *    exactly like [[Dedup.jaccardPairs]].
  */
object Decontamination {

  /** 60-bit digest-prefix hash of a shingle string — same derivation as
    * [[Dedup]]'s join keys (8-byte primitives over the shuffle). */
  private def shingleHash(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(md5(s).substr(1, 15), 16, 10).cast("long")

  /** Per-training-document contamination report against a benchmark set.
    *
    * @param train     training corpus (one row per document)
    * @param bench     benchmark/evaluation set (small; broadcast)
    * @param idCol     training document id column
    * @param textCol   text column name in BOTH frames
    * @param n         shingle width in tokens (published recipes: 8–13;
    *                  smaller n = stricter flagging)
    * @param minHits   colliding-shingle count at which a doc is contaminated
    * @return one row per training doc: (doc_id, n_shingles, n_hits,
    *         contamination = n_hits/n_shingles, contaminated)
    */
  def contaminationReport(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      minHits: Long = 1L): DataFrame = {
    // hit detection is a BROADCAST HASH JOIN on exploded shingle hashes:
    // the benchmark relation's hash table is built once per task and each
    // document shingle probes it in O(1). The r16 one-broadcast-row form
    // (`array_intersect(shs, __bench_sh)`) evaluated that intersection
    // per ROW, and Spark's ArrayIntersect rebuilds an OpenHashSet over
    // its second argument — the WHOLE benchmark set — for every document
    // (measured: the dominant cost of every decontamination row, growing
    // with |bench| × |corpus rows|, a quadratic term the join form does
    // not have). Shingles are distinct per document by the kernel's
    // contract, so counting matched exploded rows IS the set-intersection
    // size. The array materializes once (`__shs` is referenced twice, so
    // CollapseProject keeps the staging projection — no double kernel
    // run); explode_outer keeps null/short texts as a null-shingle row
    // that matches nothing, giving them n_shingles 0, n_hits 0,
    // contamination 0. The only shuffle is the map-side-combined
    // one-row-per-doc aggregate; the payload never moves.
    val benchSh = broadcast(
      bench.select(explode(Dedup.shingles(col(textCol), n)).as("__s"))
        .select(shingleHash(col("__s")).as("__sh")).distinct()
        .withColumn("__hit", lit(1L)))
    train
      .select(col(idCol).as("doc_id"), hashedShingles(col(textCol), n).as("__shs"))
      .select(col("doc_id"),
        when(col("__shs").isNull, lit(0L))
          .otherwise(size(col("__shs")).cast("long")).as("n_shingles"),
        // array_distinct: shingle STRINGS are distinct by the kernel's
        // contract, but two strings could collide into one 60-bit hash —
        // the old array_intersect counted distinct HASHES, so match it
        explode_outer(array_distinct(col("__shs"))).as("__doc_sh"))
      .join(benchSh, col("__doc_sh") === col("__sh"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_shingles")).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .select(
        col("doc_id"),
        col("n_shingles"),
        col("n_hits"),
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(col("n_hits").cast("double") / col("n_shingles"), 6))
          .as("contamination"),
        (col("n_hits") >= minHits).as("contaminated"))
  }

  /** Per-benchmark contamination attribution: like [[contaminationReport]],
    * but the benchmark set carries a suite/benchmark id column and hits are
    * counted per (training doc, benchmark) pair — the report that tells you
    * WHICH eval set a document leaks, so policies can differ by suite
    * (drop for held-out benchmarks, keep-and-tag for training-permitted
    * ones). Same scale shape: the (suite, shingle) pairs broadcast, hit
    * detection stays a map-side join.
    *
    * @return (doc_id, bench_id, n_hits) — only colliding pairs, n_hits >= 1
    */
  def contaminationByBenchmark(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      benchIdCol: String,
      n: Int = 13): DataFrame = {
    val benchSh = broadcast(
      bench.select(col(benchIdCol).as("bench_id"),
          explode(Dedup.shingles(col(textCol), n)).as("s"))
        .select(col("bench_id"), shingleHash(col("s")).as("sh"))
        .distinct())
    train.select(col(idCol).as("doc_id"), explode(Dedup.shingles(col(textCol), n)).as("s"))
      .select(col("doc_id"), shingleHash(col("s")).as("sh"))
      .join(benchSh, Seq("sh"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The benchmark's distinct shingle hashes collapsed into ONE row (a
    * sorted array column) — the broadcastable form a stateless
    * stream-static join can probe row-locally ([[graft.streaming
    * .StreamingHistorization.decontaminateStream]]). */
  def benchShingleSetRow(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench.select(explode(Dedup.shingles(col(textCol), n)).as("s"))
      .select(shingleHash(col("s")).as("sh"))
      // collect_set dedups by definition — no distinct() pre-shuffle
      .agg(sort_array(collect_set(col("sh"))).as("__bench_sh"))

  /** Row-local hashed distinct shingles of a text column — the per-document
    * side of the probe against [[benchShingleSetRow]]. */
  def hashedShingles(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    transform(Dedup.shingles(text, n), s => shingleHash(s))

  /** Training corpus with contaminated documents REMOVED — the production
    * wrapper around [[contaminationReport]]: an anti-join on the flagged id
    * set, so clean rows stream through untouched. */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      minHits: Long = 1L): DataFrame = {
    val flagged = contaminationReport(train, bench, idCol, textCol, n, minHits)
      .filter(col("contaminated"))
      .select(col("doc_id").as(idCol))
    train.join(flagged, Seq(idCol), "left_anti")
  }

  /** Contaminated character SPANS of each training document — the
    * surgical alternative to document-drop decontamination: a position is
    * contaminated iff its k-character gram also occurs anywhere in the
    * benchmark set, and contaminated positions merge into maximal
    * islands, exactly the [[Dedup.duplicatedSpans]] island semantics with
    * the benchmark playing the "other document". Published recipes that
    * drop whole documents on one 13-gram hit throw away entire books for
    * a quoted test question; span-level reporting localizes the leak so
    * the scrub ([[decontaminateSpans]]) can keep the clean remainder.
    *
    * Scale shape: the benchmark's distinct gram hashes are tiny by
    * construction (benchmarks are MBs) and BROADCAST — the corpus's
    * per-position grams probe them in a map-side left-semi join, so the
    * training payload is scanned once and NEVER shuffled; only the (rare)
    * hit positions enter the per-doc island window. Gram derivation is
    * the bounded per-row explode the spans family already pays, on 60-bit
    * md5-prefix longs (8-byte primitive keys).
    *
    * @return (doc_id, span_start, span_end) — 1-based inclusive character
    *         positions of each maximal contaminated region
    */
  def contaminatedSpans(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      stride: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val benchGrams = Dedup.spanGramsOf(bench, idCol, textCol, k, stride, scope)
    val hits = Dedup.spanGrams(train, idCol, textCol, k, stride,
        minDocFreq = 2, scope = scope)
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .select("id", "p")
    Dedup.spanIslands(hits, k, stride)
      .select(col("id").as("doc_id"), col("s").as("span_start"),
        col("e").as("span_end"))
  }

  /** Training corpus with contaminated SPANS excised — the transformation
    * side of [[contaminatedSpans]]: each document's contaminated islands
    * are interval-merged and cut out, the surviving segments re-joined in
    * order ([[Dedup.cutSpans]], the same surgery as span dedup). Clean
    * documents (and null texts) pass through untouched via the left join.
    *
    * @return (doc_id, cleaned) for EVERY training row
    */
  def decontaminateSpans(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      stride: Int = 1,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val islands = contaminatedSpans(train, bench, idCol, textCol, k, stride, scope)
      .select(col("doc_id").as("id"), col("span_start").as("s"),
        col("span_end").as("e"))
    Dedup.cutSpans(train, idCol, textCol, islands)
  }

  /** The benchmark's distinct k-char gram hashes collapsed into ONE row (a
    * sorted array column `__bench_gh`) — the broadcastable form a stateless
    * stream-static join probes row-locally ([[graft.streaming
    * .StreamingHistorization.scrubSpansStream]]), the char-gram twin of
    * [[benchShingleSetRow]]. */
  def benchGramSetRow(
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      stride: Int = 1): DataFrame = {
    // OWN md5-prefix derivation, deliberately NOT [[Dedup.spanGramsOf]]
    // (which keys on xxhash64 since r19): this set is probed row-locally
    // by [[scrubSpansExpr]] through [[TextAnalysis.winnowGramHashes]],
    // whose gh values are the md5-prefix hash — the two derivations must
    // stay bit-identical for the streaming scrub to match the batch cut
    val t = col(textCol)
    bench.select(t.as("__t"))
      .filter(length(col("__t")) >= k)
      .select(explode(sequence(lit(1), length(col("__t")) - (k - 1), lit(stride)))
        .as("__p"), col("__t"))
      .select(shingleHash(col("__t").substr(col("__p"), lit(k))).as("gh"))
      .agg(sort_array(collect_set(col("gh"))).as("__bench_gh"))
  }

  /** ROW-LOCAL scrub: `text` with every contaminated island excised, as one
    * column expression over the broadcast bench gram set — no explode, no
    * join, no window, so a stateless stream can apply it per micro-batch
    * row. Equals [[decontaminateSpans]]'s `cleaned` on the same inputs
    * (batch ≡ stream is spec-pinned): positions whose k-gram hash is in
    * `benchSet` fold into strictly-overlap-merged [p, p+k-1] intervals —
    * exactly the island + interval-merge composition of the batch path —
    * and the same (pos, acc) segment-stitch fold cuts them out.
    *
    * Cost shape: the per-row `array_intersect` builds its probe set from
    * the DOC's grams (bounded by doc length); the position filter then
    * probes only this doc's (rare) hit set. The batch path's explode +
    * broadcast-semi form stays the bulk-corpus shape (codegen'd join vs
    * interpreted HOFs); this form exists for the streaming twin, where
    * per-row HOF cost is the price of statelessness.
    *
    * Evaluation-staging note: `ghs`, the hit set, and the merged spans
    * are each BOUND ONCE per row as a fold's lambda variable (the
    * [[TextAnalysis.gopherishFlags]] `gopherMetrics` idiom). Higher-order
    * functions are interpreted (no codegen subexpression elimination),
    * and `CollapseProject` re-inlines a staging projection's alias into a
    * consuming lambda when it is referenced once — so an inline `hitSet`
    * expression would re-derive the FULL gram-hash array (one md5 per
    * position) inside the position filter's body, once per position:
    * O(n²) md5 work per document, exactly the HOF-inlining trap the
    * test-side `Oracles.winnowSelect` fold's scaladoc warns about. The
    * lambda binding caps the chain at one evaluation each: grams once,
    * intersect once, spans once (the guard and the cut read the bound
    * variable). */
  def scrubSpansExpr(text: Column, benchSet: Column, k: Int): Column = {
    // bind(v)(f): evaluate v once per row, hand f an O(1) lambda-variable
    // reference. aggregate over a 1-element array = merge(init, v); the
    // init pins the RESULT type (string — every bind below returns the
    // scrubbed text).
    def bind(v: Column)(f: Column => Column): Column =
      aggregate(array(v), lit(null).cast("string"), (_, x) => f(x))
    bind(TextAnalysis.winnowGramHashes(text, k)) { ghs => // (gh, p) per position, or null
      bind(array_intersect(transform(ghs, g => g("gh")), benchSet)) { hits =>
        val pos = filter(ghs, g => array_contains(hits, g("gh"))) // ascending p
        val spansOf = aggregate(
          pos,
          array().cast("array<struct<s:int,e:int>>"),
          (acc, g) => {
            val p = g("p")
            val last = element_at(acc, -1)
            when(size(acc) === 0 || p > last("e"),
                concat(acc, array(struct(p.as("s"), (p + k - 1).as("e")))))
              .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
                array(struct(last("s").as("s"), (p + k - 1).as("e")))))
          })
        bind(spansOf) { spans =>
          val cut = aggregate(
            spans,
            struct(lit(1).as("pos"), lit("").as("acc")),
            (st, sp) => struct(
              (sp.getField("e") + 1).as("pos"),
              concat(st.getField("acc"),
                text.substr(st.getField("pos"),
                  sp.getField("s") - st.getField("pos"))).as("acc")),
            st => concat(st.getField("acc"),
              text.substr(st.getField("pos"),
                greatest(length(text) - st.getField("pos") + 1, lit(0)))))
          when(ghs.isNull || size(spans) === 0, text).otherwise(cut)
        }
      }
    }
  }
}
