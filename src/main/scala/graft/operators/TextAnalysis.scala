package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language identification,
  * quality scoring, token counting, document fingerprinting.
  *
  * North-star extension. All operators are per-row codegen'd expressions —
  * zero shuffles; at 100 TB these run at scan speed and combine freely with
  * pushed-down filters.
  *
  * Cross-engine reproducibility: ratios divide exact integer counts in a
  * fixed order and round to 6 places; fingerprints are md5-hex minima.
  */
object TextAnalysis {

  def tokens(text: Column): Column = Dedup.tokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, single digits, and isolated
    * punctuation — the classic pre-tokenizer shape. Uses a regex subset
    * (no lookaround, no shorthand classes) that means the same thing in
    * Java and RE2-style engines. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))

  /** Deterministic byte-level BPE merges table for [[bpeCount]]: symbols
    * are lowercase-hex byte strings, rank = list position (the public
    * GPT-2 merges-file format, with a library-defined vocabulary since
    * the real merges file is licensed data, not an algorithm). The table
    * is TRAINING-WELL-FORMED — every rule's symbols are single bytes or
    * the product of a strictly earlier rule — which makes the encoder's
    * lowest-rank-first merge loop coincide with sequential rank-order
    * application (a merge can only create adjacencies involving its own
    * product, whose rules all rank later), the form a SQL oracle can
    * replay as a replace chain. Frequent-English digrams, leading-space
    * digrams (the GPT-2 space-prefix convention), then composites. */
  val DefaultBpeMerges: Seq[(String, String)] = Seq(
    // frequent English digrams over raw bytes
    "74" -> "68", "68" -> "65", "69" -> "6e", "65" -> "72", "61" -> "6e", // th he in er an
    "72" -> "65", "6f" -> "6e", "61" -> "74", "65" -> "6e", "6e" -> "64", // re on at en nd
    "73" -> "74", "65" -> "73", "6f" -> "72", "74" -> "65", "6f" -> "66", // st es or te of
    "65" -> "64", "69" -> "73", "69" -> "74", "61" -> "6c", "61" -> "72", // ed is it al ar
    "6f" -> "75", "6c" -> "65", "76" -> "65", "63" -> "6f", "6d" -> "65", // ou le ve co me
    "64" -> "65", "68" -> "69", "72" -> "69", "72" -> "6f", "6e" -> "67", // de hi ri ro ng
    "6f" -> "6d", "75" -> "73", "61" -> "73", "65" -> "6c", "6c" -> "6c", // om us as el ll
    // leading-space digrams (0x20 prefix carried by non-first pre-tokens)
    "20" -> "74", "20" -> "61", "20" -> "73", "20" -> "77", "20" -> "6f",
    "20" -> "63", "20" -> "62", "20" -> "66", "20" -> "6d", "20" -> "70",
    "20" -> "64", "20" -> "68", "20" -> "69", "20" -> "6c", "20" -> "72",
    // composites: every referenced symbol is formed by an earlier rule
    "7468" -> "65", // th+e  -> the
    "696e" -> "67", // in+g  -> ing
    "616e" -> "64", // an+d  -> and
    "20" -> "7468", //  +th  ->  th
    "20" -> "746865", //  +the ->  the
    "6572" -> "73", // er+s  -> ers
    "6f75" -> "74", // ou+t  -> out
    "2061" -> "6e64") //  a+nd ->  and

  /** Byte-level BPE token count over a merges table (default:
    * [[DefaultBpeMerges]]) — the production-truthful budget for
    * [[Packing]]: context windows are sized in tokenizer tokens, and a
    * whitespace count under-sizes non-ASCII and punctuation-dense text.
    * One codegen kernel call per row ([[graft.functions.BpeCount]]).
    *
    * The kernel's lowest-rank-first encoder loop is exact for ANY merges
    * table; only SEQUENTIAL-REPLAY twins (the SQL-oracle form) require
    * the table to be training-well-formed — validate with
    * [[validateBpeMerges]] on oracle-checked paths. */
  def bpeCount(text: Column, merges: Seq[(String, String)] = DefaultBpeMerges): Column =
    graft.functions.DedupExpressions.bpeCountOf(text, merges)

  /** Byte-level BPE ENCODE to vocabulary ids (array<int>) — what a
    * training pipeline actually feeds the model: [[bpeCount]] sizes the
    * packs, this emits the token stream the pack concatenates. Same
    * pre-tokenization and merge loop as the count kernel (so
    * `size(bpeEncode(t)) == bpeCount(t)` on every input, spec-pinned);
    * ids follow the standard BPE vocabulary construction — bytes are
    * 0..255, the merge rule at rank r defines id 256 + r. */
  def bpeEncode(text: Column, merges: Seq[(String, String)] = DefaultBpeMerges): Column =
    graft.functions.DedupExpressions.bpeEncodeOf(text, merges)

  /** Inverse of the public GPT-2 byte→unicode alphabet (openai/gpt-2
    * encoder.py `bytes_to_unicode`): the 188 visible latin-1 bytes map to
    * themselves, the remaining 68 (controls, space, DEL, soft hyphen…)
    * shift to U+0100+n so a merges file is whitespace-clean. */
  private lazy val unicodeToByte: Map[Char, Int] = {
    // integer literals, not char literals: '!'..'~', '¡'..'¬', '®'..'ÿ' —
    // spelled numerically so a non-UTF-8 build encoding cannot corrupt
    // the latin-1 ranges
    val direct = (0x21 to 0x7e) ++ (0xa1 to 0xac) ++ (0xae to 0xff)
    val directSet = direct.toSet
    val shifted = (0 until 256).filterNot(directSet)
    (direct.map(b => (b.toChar, b)) ++
      shifted.zipWithIndex.map { case (b, i) => ((256 + i).toChar, b) }).toMap
  }

  /** Load a merges table in the public GPT-2 `merges.txt` format — one
    * `left right` rule per line in the byte→unicode alphabet, `#`-header
    * and blank lines skipped — mapped back to the kernel's lowercase-hex
    * byte symbols. Driver-side by design: a merges table is a bounded
    * model artifact (50k rules ≈ a few hundred KiB) that rides into the
    * codegen kernel as a referenced object, like the k-means/PQ/IVF
    * codebooks. Validates training-well-formedness by default — a real
    * BPE trainer's output always passes ([[validateBpeMerges]]); pass
    * `validate = false` only for non-oracle use of a hand-edited table
    * (the kernel itself stays exact either way). */
  def loadBpeMerges(path: String, validate: Boolean = true): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    def toHex(sym: String): String = sym.map { ch =>
      val b = unicodeToByte.getOrElse(ch, throw new IllegalArgumentException(
        f"merges symbol character '$ch' (U+${ch.toInt}%04X) is not in the GPT-2 byte alphabet"))
      f"$b%02x"
    }.mkString
    val rules = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
      .asScala.iterator
      .map(_.trim)
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val parts = l.split(" ")
        require(parts.length == 2, s"malformed merges line (want 'left right'): '$l'")
        (toHex(parts(0)), toHex(parts(1)))
      }
      .toVector
    if (validate) validateBpeMerges(rules) else rules
  }

  /** First training-well-formedness violation: (rule index, left, right,
    * reason), or None. A table is TRAINING-WELL-FORMED when every rule's
    * two symbols are single bytes or the product of a STRICTLY EARLIER
    * rule — the property a real BPE trainer guarantees by construction
    * (a trainer can only rank a pair of symbols it has already formed).
    * Under it the encoder's lowest-rank-first loop coincides with
    * sequential rank-order application — the form a SQL oracle replays
    * as a replace chain; without it the two can disagree, so
    * oracle-checked paths must reject, never silently mis-count. */
  def bpeWellFormednessViolation(
      merges: Seq[(String, String)]): Option[(Int, String, String, String)] = {
    val formed = scala.collection.mutable.HashSet.empty[String]
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      def bad(sym: String): Option[String] =
        if (!sym.matches("([0-9a-f]{2})+"))
          Some(s"'$sym' is not a lowercase-hex byte string")
        else if (sym.length > 2 && !formed(sym))
          Some(s"'$sym' is neither a single byte nor the product of an earlier rule")
        else None
      bad(a).orElse(bad(b)) match {
        case Some(reason) => return Some((i, a, b, reason))
        case None => formed += (a + b)
      }
    }
    None
  }

  /** True iff the table satisfies [[bpeWellFormednessViolation]]'s
    * training-well-formedness property. */
  def isTrainingWellFormed(merges: Seq[(String, String)]): Boolean =
    bpeWellFormednessViolation(merges).isEmpty

  /** Validate a merges table for oracle-checked / replay-twinned use:
    * returns the table unchanged, or throws naming the first violating
    * rule. [[DefaultBpeMerges]] passes; any real trainer output passes. */
  def validateBpeMerges(merges: Seq[(String, String)]): Seq[(String, String)] = {
    bpeWellFormednessViolation(merges).foreach { case (i, a, b, reason) =>
      throw new IllegalArgumentException(
        s"merges table is not training-well-formed at rule $i ('$a' '$b'): $reason — " +
          "sequential-replay equivalence does not hold for this table; fix it, or use " +
          "bpeCount without oracle twinning (the kernel's encoder loop stays exact)")
    }
    merges
  }

  /** Learn a BPE merges table FROM the corpus — the training half of the
    * tokenizer lifecycle ([[bpeCount]]/[[bpeEncode]] consume the result;
    * the GPT-2 loader/saver round-trips it): the public BPE algorithm
    * (Sennrich, Haddow & Birch, ACL'16 — count adjacent symbol pairs over
    * the word-frequency table, merge the most frequent, repeat), run over
    * the SAME pre-tokenization as the encode kernels (split on the space
    * byte, non-first pre-tokens keep their leading space) so a learned
    * table is exactly what the kernels expect. The result is
    * training-well-formed BY CONSTRUCTION — every rule's symbols are
    * single bytes or products of strictly earlier rules — so it passes
    * [[validateBpeMerges]] and the sequential-replay oracle form holds.
    *
    * Scale shape: the corpus is scanned ONCE into a distinct-pre-token
    * frequency table (vocabulary-sized, ≪ corpus — the classic trainer's
    * word-count dict); each round is one pair-count aggregation over that
    * table plus a driver-side collect of exactly ONE row (the elected
    * pair — rounds-bounded driver state, the ops-cadence contract), and
    * the merge applies as a single codegen'd string `replace` over the
    * encoded column (symbols ride as `<hex>`-wrapped byte strings, so a
    * left-to-right non-overlapping replace IS the BPE merge application;
    * wrappers make cross-token and partial-symbol matches impossible).
    * Each round's table persists and the previous round's unpersists —
    * per-round cost stays O(vocabulary), never O(rounds · corpus).
    *
    * Ties elect deterministically by (count DESC, left ASC, right ASC);
    * training stops early when no adjacent pair reaches `minPairCount`
    * (a rank learned from a once-seen pair generalizes nothing).
    *
    * At production vocabulary sizes (tens of thousands of rounds) the
    * per-round `replace` chain would grow an arbitrarily deep lineage —
    * a cache eviction would replay EVERY prior round; every
    * `checkpointEvery` rounds the table localCheckpoints instead
    * (lineage truncated to the materialized blocks, still
    * vocabulary-sized state).
    *
    * DRIVER FAST PATH: each distributed round schedules one Spark job for
    * a one-row collect, so at production vocabulary sizes (50k rounds)
    * job-scheduling latency dominates a table that is only
    * vocabulary-sized — 50k sequential jobs is hours of pure overhead.
    * When the distinct-pre-token table is within `driverCollectBound`
    * rows it is collected ONCE and the election rounds run in driver
    * memory with the IDENTICAL (count DESC, left ASC, right ASC)
    * election and left-to-right non-overlapping merge application
    * (equality with the distributed path is spec-pinned on real docs).
    * The bound is a vocabulary-table bound, NOT a corpus bound — a
    * 100 TB corpus still folds to its distinct pre-tokens by the one
    * distributed scan; 1M distinct pre-tokens ≈ tens of MB of driver
    * state, the same order as a published merges file. Pass
    * `driverCollectBound = 0` to force the distributed loop. Measured on
    * the sf0.01 documents table (500 docs, local[8]): the distributed
    * loop costs ~0.55 s per round steady-state (one pair-count job + one
    * one-row collect each); the driver path pays the one scan-and-collect
    * and then runs 200 election rounds in 0.73 s total — sub-millisecond
    * per round. At a 50k-rule production vocabulary that is the
    * difference between ~a minute and ~8 hours of job-scheduling
    * overhead on identical output.
    *
    * @param rounds          merge rules to learn (bounded driver loop)
    * @param minPairCount    stop when the best pair's weighted count is
    *                        below this (default 2)
    * @param checkpointEvery lineage-truncation cadence in rounds
    * @param driverCollectBound run elections driver-side when the
    *                        distinct-pre-token table has at most this
    *                        many rows (0 forces the distributed loop)
    * @return learned merges, rank order — [[bpeCount]]-ready
    */
  def bpeTrainMerges(
      df: DataFrame,
      textCol: String,
      rounds: Int,
      minPairCount: Long = 2L,
      checkpointEvery: Int = 24,
      driverCollectBound: Long = 1L << 20): Seq[(String, String)] = {
    require(rounds >= 1, "rounds must be at least 1")
    require(minPairCount >= 1L, "minPairCount must be at least 1")
    require(checkpointEvery >= 1, "checkpointEvery must be at least 1")
    require(driverCollectBound >= 0L, "driverCollectBound must be non-negative")
    // pre-tokens, the kernel convention: split on ' ', non-first keep the
    // leading space, empties drop (a run of spaces yields ' ' pre-tokens)
    val pt = df.select(col(textCol).as("t")).filter(col("t").isNotNull)
      .select(posexplode(split(col("t"), " ", -1)).as(Seq("i", "w")))
      .select(when(col("i") === 0, col("w"))
        .otherwise(concat(lit(" "), col("w"))).as("tok"))
      .filter(col("tok") =!= "")
    // the word-frequency table, symbols encoded as wrapped hex bytes:
    // "th" -> "<74><68>" — merge (74, 68) is replace("<74><68>", "<7468>")
    var wf = pt.groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(regexp_replace(lower(hex(col("tok"))), "([0-9a-f]{2})", "<$1>").as("enc"),
        col("freq"))
      .persist()
    val nWords = wf.count()
    if (nWords <= driverCollectBound) {
      // vocabulary fits the documented bound: one collect, elections in
      // driver memory — same elections, no per-round job scheduling
      val words = wf.select(col("enc"), col("freq")).collect().map { r =>
        (r.getString(0).stripPrefix("<").stripSuffix(">").split("><"), r.getLong(1))
      }
      wf.unpersist(blocking = false)
      return bpeTrainLocal(words, rounds, minPairCount)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    var r = 0
    while (r < rounds && !done) {
      val top = wf
        .select(regexp_extract_all(col("enc"), lit("<([0-9a-f]+)>"), lit(1)).as("sy"),
          col("freq"))
        .filter(size(col("sy")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("sy")) - 1),
          i => struct(element_at(col("sy"), i).as("a"),
            element_at(col("sy"), i + 1).as("b")))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .filter(col("cnt") >= minPairCount)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val applied = wf.select(
          replace(col("enc"), lit(s"<$a><$b>"), lit(s"<${a + b}>")).as("enc"),
          col("freq"))
        val next =
          if ((r + 1) % checkpointEvery == 0) applied.localCheckpoint(true)
          else { val p = applied.persist(); p.count(); p }
        wf.unpersist(blocking = false)
        wf = next
      }
      r += 1
    }
    wf.unpersist(blocking = false)
    merges.toVector
  }

  /** The driver-side election loop of [[bpeTrainMerges]] — the classic
    * in-memory BPE trainer over the collected distinct-pre-token table.
    * Semantics mirror the distributed path operation for operation:
    * adjacent pairs count freq-weighted INCLUDING overlaps ("aaa" yields
    * (a,a) twice), the election is (count DESC, left ASC, right ASC) —
    * Scala's String ordering equals Spark's for hex symbols — and merge
    * application is the left-to-right non-overlapping scan that the
    * distributed path's string `replace` performs. */
  private def bpeTrainLocal(
      words0: Array[(Array[String], Long)],
      rounds: Int,
      minPairCount: Long): Seq[(String, String)] = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (sy, f) =>
        var i = 0
        while (i < sy.length - 1) {
          val k = (sy(i), sy(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      val eligible = cnt.filter(_._2 >= minPairCount)
      if (eligible.isEmpty) done = true
      else {
        val ((a, b), _) = eligible.minBy { case ((x, y), c) => (-c, x, y) }
        merges += ((a, b))
        words = words.map { case (sy, f) =>
          // left-to-right non-overlapping, exactly what the wrapped-hex
          // string replace does on the distributed side
          if (!sy.indices.init.exists(i => sy(i) == a && sy(i + 1) == b)) (sy, f)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < sy.length) {
              if (i < sy.length - 1 && sy(i) == a && sy(i + 1) == b) {
                out += a + b; i += 2
              } else { out += sy(i); i += 1 }
            }
            (out.toArray, f)
          }
        }
      }
      r += 1
    }
    merges.toVector
  }

  /** The vocabulary the standard BPE construction induces from a merges
    * table — ids 0..255 are the single-byte symbols (lowercase-hex form),
    * the rule at rank r defines id 256 + r for its concatenation, and
    * when two rules concatenate to the SAME symbol the FIRST wins (the
    * [[bpeEncode]] kernel's own putIfAbsent convention, so
    * `bpeVocab(m)` is exactly the id space [[bpeEncode]] emits under
    * `m`). The artifact a trainer publishes beside `merges.txt`; with it
    * a consumer can DECODE an id stream back to bytes — losslessness is
    * spec-pinned (decode ∘ encode = identity). Driver-side: a vocabulary
    * is a bounded model artifact like the merges table. */
  def bpeVocab(merges: Seq[(String, String)]): Seq[(Int, String)] = {
    val bytes = (0 until 256).map(b => (b, f"$b%02x"))
    val seen = scala.collection.mutable.HashSet.empty[String]
    val rules = merges.zipWithIndex.flatMap { case ((a, b), r) =>
      if (seen.add(a + b)) Some((256 + r, a + b)) else None
    }
    bytes ++ rules
  }

  /** Byte→unicode map of the public GPT-2 alphabet — inverse of
    * [[unicodeToByte]], for [[saveBpeMerges]]. */
  private lazy val byteToUnicode: Map[Int, Char] =
    unicodeToByte.map { case (c, b) => (b, c) }

  /** Write a merges table in the public GPT-2 `merges.txt` format — the
    * inverse of [[loadBpeMerges]] (load(save(t)) == t, spec-pinned):
    * each hex-byte symbol maps through the byte→unicode alphabet, one
    * `left right` rule per line under a `#version` header. Driver-side
    * like the loader: a merges table is a bounded model artifact. */
  def saveBpeMerges(merges: Seq[(String, String)], path: String): Unit = {
    def toAlphabet(sym: String): String = {
      require(sym.matches("([0-9a-f]{2})+"),
        s"'$sym' is not a lowercase-hex byte string")
      sym.grouped(2).map(h => byteToUnicode(Integer.parseInt(h, 16))).mkString
    }
    val lines = "#version: 0.2" +:
      merges.map { case (a, b) => s"${toAlphabet(a)} ${toAlphabet(b)}" }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Deterministic ~55k-rule stress vocabulary for measuring kernel cost
    * at a production vocabulary size (the real ~50k GPT-2 merges file is
    * licensed DATA, not shippable): every printable-ASCII digram ranked
    * lexicographically, then trigram composites of the frequent-letter
    * digram products with every printable byte. Training-well-formed by
    * construction (digram symbols are single bytes; trigram left symbols
    * are products of earlier digram rules), and deliberately DENSER in
    * merge activity than a trained vocabulary — every adjacent printable
    * pair merges — so the measured cost upper-bounds a real 50k table. */
  lazy val StressBpeMerges50k: Seq[(String, String)] = {
    val printable = (0x20 to 0x7e).map(b => f"$b%02x")
    val digrams = for (a <- printable; b <- printable) yield (a, b)
    val frequent = "etaoinshrdlucmfwypvbgk".map(c => f"${c.toInt}%02x")
    val trigrams = for (a <- frequent; b <- frequent; c <- printable) yield (a + b, c)
    (digrams ++ trigrams).toVector
  }

  /** Small function-word inventories per language. Function words are the
    * standard cheap language-ID signal (they dominate any topic). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"))

  /** Count of tokens contained in `words`. */
  private def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))

  /** Ratio of function-word tokens for one language's inventory. */
  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val toks = tokens(text)
    round(stopwordHits(toks, stopwords(lang)).cast("double") /
      greatest(size(toks), lit(1)), 6)
  }

  /** Fixed language check order: ties break toward the earlier entry. */
  val langOrder: Seq[String] = Seq("en", "de", "fr", "es")

  /** Heuristic language ID: argmax of per-language function-word hit
    * counts; all-zero falls back to "und" (undetermined), ties break
    * toward the earlier [[langOrder]] entry (a strictly greater count is
    * required to take the lead), so an en/de tie reads "en", never
    * "und" — deterministic either way. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val counts = langOrder.map(l => stopwordHits(toks, stopwords(l)))
    val best = counts.reduce((a, b) => greatest(a, b))
    langOrder.zip(counts).foldRight(lit("und"): Column) { case ((l, c), acc) =>
      when(c === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Confidence of [[langId]]'s pick: the winning language's function-word
    * hit ratio over all tokens (0.0 when undetermined). The standard
    * stopword-profile LID signal (C4/Gopher-style pipelines gate on it);
    * deterministic, so SQL-twinnable unlike model-based LID. */
  def langConfidence(text: Column): Column = {
    val toks = tokens(text)
    val best = langOrder.map(l => stopwordHits(toks, stopwords(l)))
      .reduce((a, b) => greatest(a, b))
    round(best.cast("double") / greatest(size(toks), lit(1)), 6)
  }

  /** Frame form: (idCol, lang, confidence). One per-row codegen'd
    * projection — at 100 TB this runs at scan speed, no shuffle. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      langId(col(textCol)).as("lang"),
      langConfidence(col(textCol)).as("confidence"))

  /** Ratio of non-alphanumeric, non-whitespace characters. UNICODE
    * letter/digit classes, not ASCII: an ASCII-only class counts every
    * accented letter as punctuation and systematically down-ranks the
    * de/fr/es prose [[langId]] explicitly supports (plus newlines in any
    * multi-line doc). Whitespace is an explicit set — Java's \s and
    * DuckDB/RE2's \s disagree on vertical tab, and the oracle must
    * match byte-for-byte. */
  def punctRatio(text: Column): Column =
    round((length(text) - length(regexp_replace(text, "[^\\p{L}\\p{N} \\t\\n\\r]", "")))
      .cast("double") / greatest(length(text), lit(1)), 6)

  /** Mean token length. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    round(aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)), 6)
  }

  /** Composite quality score in [0,1]: rewards mid-length documents with
    * function words and low punctuation noise — the standard cheap
    * pre-filter shape for web-scale corpora. Fixed arithmetic order keeps
    * it reproducible. */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatio(text, "en") * 5.0, lit(1.0))
    val punctPen  = least(punctRatio(text) * 5.0, lit(1.0))
    round((lenScore + stopScore + (lit(1.0) - punctPen)) / 3.0, 6)
  }

  /** Document fingerprint: minimum md5 over sliding character k-grams — a
    * winnowing-style content signature robust to small edits at either
    * end. Per-row higher-order expression, no shuffle. */
  def fingerprint(text: Column, k: Int = 8): Column = {
    val count = greatest(length(text) - (k - 1), lit(1))
    array_min(transform(sequence(lit(1), count), i => md5(text.substr(i, lit(k)))))
  }

  /** Positional winnowing fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03
    * — the MOSS selection rule): hash every k-character gram, slide a
    * window of `w` consecutive hashes, and in each window select the
    * minimum hash, rightmost on ties. Selection density converges to
    * 2/(w+1), and any shared substring of length ≥ k + w - 1 between two
    * documents is GUARANTEED to share at least one selected fingerprint —
    * the property that makes the fingerprint index sufficient for overlap
    * detection.
    *
    * Per-row higher-order expression — selection never shuffles; only the
    * ~2n/(w+1) selected (pos, fp) pairs leave the row for the index join.
    * Docs with fewer than w grams winnow their single truncated window
    * (so every doc with ≥ 1 gram yields ≥ 1 fingerprint); docs shorter
    * than k yield none.
    *
    * @return array<struct<gh: long, p: int>> of distinct selections
    */
  def winnowFingerprints(text: Column, k: Int = 12, w: Int = 8): Column =
    graft.functions.DedupExpressions.winnowOf(text, k, w)

  /** Staged HOF form of [[winnowFingerprints]] — interpreted; the
    * executable specification the kernel is property-tested against (and
    * the shape the DuckDB oracle mirrors). At corpus scale use the
    * kernel: the HOF tree made the two winnow queries 24% of the whole
    * benchmark. */
  def winnowFingerprintsFold(text: Column, k: Int = 12, w: Int = 8): Column =
    winnowSelect(winnowGramHashes(text, k), w)

  /** Stage 1 of winnowing: (gh, p) structs for every k-gram position.
    * Typed NULL (not a fingerprint) when the text is shorter than k —
    * the `when` with no otherwise; [[winnowFingerprintsFold]] and the
    * kernel both propagate it, and callers aggregate with explode /
    * flatten semantics where NULL contributes nothing. */
  def winnowGramHashes(text: Column, k: Int): Column = {
    require(k >= 2, "k must be at least 2")
    val n = length(text) - (k - 1)
    when(n >= 1, transform(sequence(lit(1), n),
        p => struct(Dedup.shingleHash(text.substr(p, lit(k))).as("gh"), p.as("p"))))
      .otherwise(lit(null).cast("array<struct<gh:bigint,p:int>>"))
  }

  /** Stage 2 of winnowing: rightmost-min selection over every w-window of
    * an already-computed gram-hash array. KEEP THE TWO STAGES IN SEPARATE
    * PROJECTIONS when composing manually ([[winnow]] does): higher-order
    * functions are interpreted, so if `ghs` is an inline expression rather
    * than an attribute reference, every one of the ~n windows re-evaluates
    * all n md5 hashes — O(n²) per document instead of O(n·w). The
    * many-reference shape here also stops `CollapseProject` from
    * re-inlining a staged alias. */
  def winnowSelect(ghs: Column, w: Int): Column = {
    require(w >= 1, "w must be positive")
    val n = size(ghs)
    val sel = transform(sequence(lit(1), greatest(n - (w - 1), lit(1))), a =>
      aggregate(slice(ghs, a, lit(w)), element_at(ghs, a),
        (best, x) => when(x("gh") < best("gh") ||
          (x("gh") === best("gh") && x("p") > best("p")), x).otherwise(best)))
    when(n >= 1, array_distinct(sel))
      .otherwise(lit(null).cast("array<struct<gh:bigint,p:int>>"))
  }

  /** Exploded winnowing fingerprint table: one row per selected position.
    * @return (doc_id, pos, fp) */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, w: Int = 8): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(winnowFingerprints(col(textCol), k, w)).as("f"))
      .select(col("doc_id"), col("f.p").as("pos"), col("f.gh").as("fp"))

  /** Documents sharing at least `minShared` distinct winnowing
    * fingerprints — the MOSS-style overlap report. The index join is an
    * equi-join on the 8-byte fingerprint over the ~2n/(w+1)-dense
    * selection, with fingerprints above `maxFpDocFreq` documents dropped
    * first (the boilerplate guard that keeps the self-join linear at
    * corpus scale, same shape as [[Dedup.jaccardPairs]]).
    *
    * @return (id_a, id_b, n_shared) with id_a < id_b
    */
  def winnowSimilarPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 12,
      w: Int = 8,
      minShared: Int = 2,
      maxFpDocFreq: Long = 1000,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val fps = scope.persist(
      winnow(df, idCol, textCol, k, w)
        .select(col("doc_id").as("id"), col("fp")).distinct())
    val joinable = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxFpDocFreq)
    val filtered = scope.persist(fps.join(joinable.select("fp"), Seq("fp")))
    filtered.as("a").join(filtered.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Unigram log-probability quality score — the cheap deterministic form
    * of LM-perplexity corpus filtering (CCNet-style: documents whose
    * tokens are improbable under a background model are flagged as noise;
    * here the background model is the corpus's own unigram distribution).
    * score(doc) = mean over tokens of ln(count(token)/totalTokens) —
    * higher (closer to 0) = more typical text; gibberish and boilerplate
    * with rare tokens score very negative.
    *
    * Scale shape: one (token, id) shuffle for the frequency table, the
    * total broadcast as a 1-row frame, one broadcast-joinable frequency
    * lookup per distinct (doc, token) pair, per-doc decimal sums so
    * aggregation order cannot matter. ln parity follows the [[bm25]]
    * precedent; the per-token log runs once per DISTINCT (doc, token),
    * weighted by its in-doc count.
    *
    * @return (doc_id, n_tokens, logprob); token-less docs are absent
    */
  def unigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val tf = scope.persist(
      df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val freq = tf.groupBy("term").agg(sum(col("tf")).as("cf"))
    val total = freq.agg(sum(col("cf")).as("total"))
    tf.join(freq, Seq("term"))
      .crossJoin(broadcast(total))
      // literal operand order, mirrored in the oracle
      .withColumn("lp", log(col("cf").cast("double") / col("total").cast("double")))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).cast("long").as("n_tokens"),
        round((sum((col("lp") * col("tf").cast("double")).cast("decimal(28,12)"))
          .cast("double") / sum(col("tf")).cast("double")), 6).as("logprob"))
  }

  /** Bigram conditional log-probability quality score — one model order
    * up from [[unigramLogProb]], the same CCNet-style corpus-self-model
    * idea: score(doc) = mean over the doc's adjacent token pairs of
    * ln P(w2 | w1), where P(w2 | w1) = c(w1 w2) / c(w1 ·) over the whole
    * corpus (c(w1 ·) = occurrences of w1 as a bigram prefix). Every
    * observed bigram has probability in (0, 1], so no smoothing is
    * needed for scoring the corpus against itself. Repetitive/templated
    * text scores near 0 (its continuations are predictable); rare or
    * shuffled word orders score very negative — word-ORDER sensitivity
    * is exactly what the unigram score cannot see.
    *
    * Scale shape: one (doc, w1, w2) shuffle for the term frequencies,
    * a vocabulary-sized bigram table and its prefix marginal derived by
    * two bounded aggregations, both joined back by plain equi-joins —
    * deliberately NOT broadcast, since a corpus bigram vocabulary is
    * far beyond broadcast limits (the [[bm25]]/tfidf caveat); per-doc
    * decimal sums make the mean order-independent.
    *
    * @return (doc_id, n_bigrams, logprob rounded to 6); docs with fewer
    *         than two tokens are absent (no pairs to score)
    */
  def bigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    // pair generation is a codegen'd kernel ([[graft.functions
    // .TokenPairs]]): the HOF-tokenize + explode(sequence) + post-Generate
    // element_at formulation evaluated the interpreted tokenizer up to 3×
    // per row and carried the full token array through the Generate —
    // measured 5.5 s of this query's 7.2 s at sf0.1, vs 1.1–2.0 s warm
    // for the kernel form (pair set bit-identical, corpus + edge cases).
    // Fewer-than-two-token docs yield an empty array ⇒ absent, as before.
    val pairs = df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.DedupExpressions.tokenPairsOf(col(textCol))).as("__p"))
      .select(col("doc_id"), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val tf = scope.persist(
      pairs.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf")))
    val bgf = tf.groupBy("w1", "w2").agg(sum(col("tf")).as("cbg"))
    val pref = bgf.groupBy("w1").agg(sum(col("cbg")).as("cp"))
    tf.join(bgf, Seq("w1", "w2")).join(pref, Seq("w1"))
      // literal operand order, mirrored in the oracle
      .withColumn("lp", log(col("cbg").cast("double") / col("cp").cast("double")))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).cast("long").as("n_bigrams"),
        round((sum((col("lp") * col("tf").cast("double")).cast("decimal(28,12)"))
          .cast("double") / sum(col("tf")).cast("double")), 6).as("logprob"))
  }

  /** Corpus-level frequent n-grams: the word shingles appearing in the
    * most documents — the standard boilerplate/template detector (C4's
    * recipe drops lines recurring across the corpus; this is the
    * discovery side of that gate). Distinct shingles per doc, one
    * (shingle, id) shuffle for document frequency, then a DISTRIBUTED
    * top-k: `orderBy(...).limit(k)` plans as TakeOrdered — per-partition
    * heaps merged on the driver, never an all-rows single-partition
    * window sort. Ties break on the gram text so output is deterministic.
    *
    * @return (gram, df) — the topK grams by document frequency
    */
  def frequentNgrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      topK: Int = 20): DataFrame =
    df.select(col(idCol).as("id"), explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(topK)

  /** Sparse lexical cosine similarity via an inverted index: tf-idf
    * weights per (doc, term), pairs generated ONLY through shared terms
    * (an equi-join on the term, never all-pairs), document-frequency cap
    * on joinable terms as the stop-word/boilerplate guard.
    *
    * Cross-engine determinism: weights are `round(tf · ln(1 + n/df), 6)`
    * with the expression order mirrored literally in the oracle (the
    * [[bm25]] precedent for ln parity), and pair dot products / norms are
    * decimal-summed so aggregation order cannot matter. Norms run over
    * the SAME df-capped vocabulary as the dot product — the vector space
    * is "all terms below the cap", consistently on both sides.
    *
    * The df-capped term table joins back by a plain shuffle equi-join on
    * term, NOT a broadcast: the cap removes only frequent terms, so what
    * survives is essentially the long-tail vocabulary — it grows with the
    * corpus and has no broadcast-sized bound (unlike [[bm25]]'s per-term
    * frame, which is bounded by the user's query-term list).
    *
    * @return (id_a, id_b, cosine) with id_a < id_b, cosine >= minSim
    */
  def tfidfCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSim: Double = 0.3,
      maxTermDocFreq: Long = 100,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val tf = scope.persist(
      toks.select(col("id"), explode(col("toks")).as("term"))
        .groupBy("id", "term").agg(count(lit(1)).as("tf")))
    val stats = tf.select("id").distinct().agg(count(lit(1)).as("n"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTermDocFreq)
    val w = scope.persist(
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(stats))
        // literal expression order, mirrored in the oracle
        .withColumn("w", round(col("tf").cast("double") *
          log(lit(1.0) + col("n").cast("double") / col("df").cast("double")), 6))
        .select("id", "term", "w"))
    val norms = w.groupBy("id")
      .agg(sum((col("w") * col("w")).cast("decimal(28,12)")).as("nrm"))
    val num = w.as("a").join(w.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum((col("a.w") * col("b.w")).cast("decimal(28,12)")).as("dot"))
    num
      .join(norms.select(col("id").as("id_a"), col("nrm").as("nrm_a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nrm_b")), Seq("id_b"))
      .withColumn("cosine", round(col("dot").cast("double") /
        sqrt(col("nrm_a").cast("double") * col("nrm_b").cast("double")), 6))
      .filter(col("cosine") >= minSim)
      .select("id_a", "id_b", "cosine")
  }

  /** Intra-document repetition REMOVAL: collapse runs of consecutive
    * identical tokens to at most `maxRun` occurrences ("buy now now now"
    * → "buy now"). The token-level sibling of [[dedupLines]]; whitespace
    * canonicalizes to single spaces. Codegen'd kernel
    * ([[graft.functions.CollapseRuns]]) — per-row, zero shuffle, scan
    * speed; [[collapseTokenRunsFold]] is the HOF executable spec. */
  def collapseTokenRuns(text: Column, maxRun: Int = 1): Column =
    array_join(
      graft.functions.DedupExpressions.collapseRunsOf(tokens(text), maxRun), " ")

  /** HOF fold form of [[collapseTokenRuns]] at maxRun = 1 — interpreted;
    * spec/tests only (also the shape the DuckDB oracle mirrors). */
  def collapseTokenRunsFold(text: Column): Column = {
    val toks = tokens(text)
    array_join(
      filter(
        transform(sequence(lit(1), size(toks)),
          i => when(i === 1 || element_at(toks, i) =!= element_at(toks, i - 1),
            element_at(toks, i))),
        x => x.isNotNull),
      " ")
  }

  /** C4-style duplicate-line removal INSIDE a document: split on `sep`,
    * keep each distinct line's first occurrence (Spark's `array_distinct`
    * preserves first-occurrence order), rejoin. Exact-match semantics —
    * empty lines dedup too, so repeated blank separators collapse. Per-row
    * builtins, zero shuffle. */
  def dedupLines(text: Column, sep: String = "\n"): Column =
    array_join(array_distinct(split(text, java.util.regex.Pattern.quote(sep))), sep)

  /** Frequency of the most common full n-token window over all full
    * windows — the standard repetition signal for corpus filtering. 0.0
    * for texts with fewer than n tokens. Codegen'd kernel
    * ([[graft.functions.RepeatRatio]]); [[topNgramRatioFold]] is the HOF
    * executable spec. */
  def topNgramRatio(text: Column, n: Int): Column =
    round(graft.functions.DedupExpressions.repeatRatioOf(tokens(text), n), 6)

  /** HOF fold form of [[topNgramRatio]] — interpreted; spec/tests only. */
  def topNgramRatioFold(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val total = size(toks) - (n - 1)
    val grams = transform(sequence(lit(0), greatest(total - 1, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    val top = array_max(transform(array_distinct(grams),
      g => size(filter(grams, x => x === g))))
    when(total <= 0, lit(0.0))
      .otherwise(round(top.cast("double") / total.cast("double"), 6))
  }

  /** Split documents into fixed-size overlapping character windows — the
    * chunking step ahead of embedding/indexing (a retrieval or semantic-
    * dedup pipeline embeds chunks, not whole documents). Windows start
    * every `size - overlap` code points; the tail window may be shorter;
    * empty and null texts yield no chunks. Pure per-row explode — no
    * shuffle, chunking runs at scan speed and parallelizes with the
    * scan. Code-point addressed (Spark `substring` semantics), so
    * multi-byte text never splits inside a character.
    *
    * @return (doc_id, chunk_idx, chunk_start, chunk_text) with
    *         chunk_idx 0-based and chunk_start 1-based (SQL convention)
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int = 512,
      overlap: Int = 64): DataFrame = {
    require(size >= 1, "size must be at least 1")
    require(overlap >= 0 && overlap < size, "overlap must be in [0, size)")
    val stride = size - overlap
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(1), length(col(textCol)), lit(stride))).as("chunk_start"),
        col(textCol).as("__t"))
      // drop a REDUNDANT tail: a non-first start within `overlap` of the
      // end yields a chunk entirely contained in its predecessor (which
      // covers up to start + overlap − 1) — downstream embedding/indexing
      // would store a strict duplicate for every doc whose length mod
      // stride lands in [1, overlap]
      .filter(col("chunk_start") === 1 ||
        col("chunk_start") + overlap - 1 < length(col("__t")))
      .select(col("doc_id"),
        ((col("chunk_start") - 1) / stride).cast("int").as("chunk_idx"),
        col("chunk_start"),
        col("__t").substr(col("chunk_start"), lit(size)).as("chunk_text"))
  }

  /** Unicode NFC canonical composition — run BEFORE content hashing so
    * "é" and "e"+combining-acute dedup together instead of passing as
    * distinct bytes. Codegen'd kernel ([[graft.functions.NfcNormalize]]);
    * already-composed strings short-circuit without allocation, so the
    * common case costs one quick-check pass at scan speed. */
  def normalizeNfc(text: Column): Column =
    graft.functions.DedupExpressions.nfcNormalizeOf(text)

  /** Whitespace canonicalization: runs of any whitespace collapse to one
    * space, leading/trailing whitespace drops — the other half of the
    * standard pre-dedup normalization. Pure built-ins, zero shuffle. */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(text, "\\s+", " "))

  /** Per-document out-of-vocabulary rate against a reference vocabulary —
    * the tokenizer-coverage metric of corpus QA: a rising OOV rate flags
    * domain shift, encoding junk, or the wrong tokenizer for the corpus.
    * The vocabulary (bounded — real tokenizers carry 32k-256k entries)
    * broadcasts; hit detection is a map-side hash join on the exploded
    * token frame, so only narrow (doc_id, token) rows ever shuffle and
    * the text payload is read once. Tokens compare exactly (whitespace
    * tokenization, case-sensitive) — normalize upstream if the vocab is
    * lowercased. Null texts yield null metrics; empty texts 0-token rows
    * with rate 0.0.
    *
    * @param vocab a one-string-column frame of known tokens
    * @return (doc_id, n_tokens, n_oov, oov_rate)
    */
  def oovRate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame): DataFrame = {
    val vb = broadcast(vocab.toDF("tok").distinct())
    val withT = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val known = withT.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(vb, Seq("tok"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_known"))
    withT.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(known, Seq("doc_id"), "left_outer")
      .withColumn("n_oov", col("n_tokens") - coalesce(col("n_known"), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_oov").cast("double") / col("n_tokens")), 6).as("oov_rate"))
  }

  /** Shannon entropy in bits over the text's code-point distribution —
    * the gibberish/binary-junk quality signal: natural prose sits around
    * 4-4.7 bits, base64/hex dumps higher, single-char padding near 0, so
    * band filters on it catch both extremes. Codegen'd kernel
    * ([[graft.functions.CharEntropy]]) — per-row, zero shuffle, scan
    * speed; [[charEntropyFold]] is the HOF executable spec. Empty string
    * → 0.0, null → null. */
  def charEntropy(text: Column): Column =
    graft.functions.DedupExpressions.charEntropyOf(text)

  /** HOF fold form of [[charEntropy]] — interpreted; spec/tests only. */
  def charEntropyFold(text: Column): Column = {
    val n = length(text)
    val chars = transform(sequence(lit(1), n), i => text.substr(i, lit(1)))
    val h = aggregate(
      transform(array_distinct(chars),
        c => size(filter(chars, x => x === c)).cast("double") / n.cast("double")),
      lit(0.0),
      (acc, p) => acc - p * log2(p))
    when(n === 0, lit(0.0)).otherwise(h)
  }

  /** All five Gopher metrics derived from ONE tokenization. The
    * per-metric helpers each re-run the interpreted split+filter
    * tokenizer (HOF lambdas defeat subexpression elimination, and
    * CollapseProject merges any staging projection — the cost the
    * TokenPairs kernel note measured), so the hot pre-filter path binds
    * the token array once as a fold's lambda variable and computes every
    * metric against the materialized array. The caller extracts fields
    * with `inline(array(...))` — a generator evaluates the struct once
    * per row, where a plain getField projection would duplicate the
    * whole subtree per field. Values are bit-identical to the helpers'. */
  private def gopherMetrics(t: Column): Column =
    aggregate(
      array(tokens(t)),
      struct(lit(0).as("n_tokens"), lit(0.0).as("mean_token_len"),
        lit(0.0).as("alpha_ratio"), lit(0.0).as("top_bigram_ratio"),
        lit(0.0).as("top_trigram_ratio")),
      (_, toks) => struct(
        size(toks).as("n_tokens"),
        round(aggregate(toks, lit(0), (a, x) => a + length(x)).cast("double") /
          greatest(size(toks), lit(1)), 6).as("mean_token_len"),
        round(size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("double") /
          greatest(size(toks), lit(1)), 6).as("alpha_ratio"),
        round(graft.functions.DedupExpressions.repeatRatioOf(toks, 2), 6)
          .as("top_bigram_ratio"),
        round(graft.functions.DedupExpressions.repeatRatioOf(toks, 3), 6)
          .as("top_trigram_ratio")))

  /** Gopher/C4-style corpus quality flags (public filtering heuristics):
    * per-row metrics plus a composite `keep` verdict. Pure per-row
    * projection — no shuffle; at 100 TB this is a scan-speed pre-filter
    * that combines with predicate pushdown on any preceding selection.
    * Tokenization runs ONCE per row ([[gopherMetrics]]), not once per
    * metric.
    *
    * Thresholds follow the published shapes (token-count bounds, mean word
    * length bounds, alphabetic-token minimum, repetition caps) and are
    * parameters, not constants. */
  def gopherishFlags(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int = 20,
      maxTokens: Int = 100000,
      minMeanTokenLen: Double = 2.0,
      maxMeanTokenLen: Double = 12.0,
      minAlphaRatio: Double = 0.8,
      maxTopBigramRatio: Double = 0.30,
      maxTopTrigramRatio: Double = 0.20,
      keepText: Boolean = false): DataFrame = {
    val t = col(textCol)
    val flagged = df
      .select(col(idCol), t, inline(array(gopherMetrics(t))))
      .withColumn("keep",
        col("n_tokens").between(minTokens, maxTokens) &&
          col("mean_token_len").between(minMeanTokenLen, maxMeanTokenLen) &&
          col("alpha_ratio") >= minAlphaRatio &&
          col("top_bigram_ratio") <= maxTopBigramRatio &&
          col("top_trigram_ratio") <= maxTopTrigramRatio)
    // keepText lets downstream pipeline stages (e.g. Curation) consume the
    // text in the same scan instead of semi-joining back to the corpus
    if (keepText) flagged else flagged.drop(textCol)
  }

  /** Metric columns [[qualityScoreExpr]] accepts — the
    * [[gopherishFlags]] metric surface. */
  private val QualityFeatures: Set[String] = Set(
    "n_tokens", "mean_token_len", "alpha_ratio",
    "top_bigram_ratio", "top_trigram_ratio")

  /** Fixed-weight linear quality score as ONE column expression over
    * already-computed [[gopherishFlags]] metric columns:
    * `sigmoid(bias + Σ wᵢ·fᵢ)`, rounded to 6 places. The public
    * fastText/CCNet recipe shape — a linear model over cheap features —
    * applied as a columnar dot product: pure built-in expressions,
    * codegen end to end, no model runtime, no UDF. Weights are
    * caller-supplied (trained offline on public data); the sum order is
    * the weight-list order, mirrored literally by the DuckDB oracle. */
  def qualityScoreExpr(weights: Seq[(String, Double)], bias: Double): Column = {
    require(weights.nonEmpty, "need at least one feature weight")
    val unknown = weights.map(_._1).filterNot(QualityFeatures)
    require(unknown.isEmpty,
      s"unknown quality features ${unknown.mkString(", ")}; " +
        s"known: ${QualityFeatures.toSeq.sorted.mkString(", ")}")
    val z = weights.foldLeft(lit(bias)) { case (acc, (f, w)) =>
      acc + col(f).cast("double") * lit(w)
    }
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** Model-based quality scoring per document: [[gopherishFlags]]'s
    * metrics (ONE tokenization pass, same as the flags path) fed through
    * [[qualityScoreExpr]]. Higher = more likely "quality" under the
    * caller's weights; gate with `score >= threshold` as a per-row
    * predicate fused into the corpus scan — at 100 TB this is the
    * standard second filter after the hard Gopher thresholds.
    *
    * @return (doc_id, n_tokens, quality_score)
    */
  def qualityScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[(String, Double)],
      bias: Double): DataFrame =
    gopherishFlags(df, idCol, textCol)
      .select(col(idCol).as("doc_id"), col("n_tokens"),
        qualityScoreExpr(weights, bias).as("quality_score"))

  /** BM25 relevance of every document against a bag of query terms —
    * the standard lexical ranking function for corpus search / curation
    * (Robertson & Walker's Okapi BM25, public literature).
    *
    * Scale shape: tokens explode → filter to the (tiny) query-term set
    * BEFORE any shuffle, so the grouped frame holds only matching
    * (doc, term) pairs; document frequency and corpus stats join back
    * broadcast. One groupBy over matches + one scalar-stats cross join —
    * corpus size only enters through the initial scan.
    *
    * Cross-engine determinism: per-term scores are IEEE doubles computed
    * in a fixed expression order, summed as decimals (order-independent),
    * rounded to 6 places.
    *
    * @return (id, bm25, n_terms) for documents matching >= 1 query term
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      scope: graft.CacheScope = graft.CacheScope.Global): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    // corpus stats scan the token-length projection once; tf is persisted
    // (it is tiny — matching (doc, term) pairs only) so the explode lineage
    // is not re-run for document frequency and scoring
    val stats = toks.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = scope.persist(
      toks.select(col("id"), col("dl"), explode(col("toks")).as("term"))
        .filter(col("term").isin(queryTerms: _*))
        .groupBy("id", "term")
        .agg(count(lit(1)).as("tf"), max("dl").as("dl")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // expression order mirrored literally in the DuckDB oracle — do not
    // re-associate
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = (col("idf") * (col("tf") * lit(k1 + 1))) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", idf)
      .withColumn("s", score)
      .groupBy("id")
      .agg(
        round(sum(col("s").cast("decimal(28,12)")).cast("double"), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
  }

  /** PII redaction patterns (C4-style pre-processing; public patterns).
    * Restricted to the regex subset that means the same thing in Java
    * regex and RE2-style engines (no lookaround, no backrefs; greedy
    * quantifiers over character classes): email, IPv4, E.164-ish
    * international phone. Order matters — email first so its local part
    * is not half-eaten by the phone pattern. */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("EMAIL", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("IPV4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"),
    // digits with optional single separators ([ .-]), ending on a digit:
    // covers "+49 151 234 5678" / "+1-555-123-4567" as well as compact
    // E.164. Over-redaction beats leaving phone numbers in a corpus.
    ("PHONE", "\\+[0-9][0-9 .-]{5,18}[0-9]"))

  /** Replace every PII match with its `<TYPE>` tag. Per-row codegen'd
    * `regexp_replace` chain — no shuffle, scan-speed. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (tag, p)) =>
      regexp_replace(c, p, s"<$tag>")
    }

  // ---- extended PII classes (checksum-validated) ----
  //
  // The next classes every public curation recipe scrubs after the regex
  // trio: payment cards, IBANs, and national ids. These are NOT pure
  // regex classes — a 16-digit number is only a card if it passes Luhn
  // (ISO/IEC 7812), an IBAN only if its mod-97 remainder is 1 (ISO
  // 13616), a Spanish DNI only if its check letter matches — so redaction
  // extracts candidates, validates each with a pure-expression fold, and
  // replaces only the validated matches (false positives stay verbatim:
  // a random 16-digit number is data, not PII). Same engine-portable
  // regex subset as [[piiPatterns]].

  /** Candidate payment card: 13–19 digits with optional single space/dash
    * separators. Runs longer than 19 digits can never match (no word
    * boundary inside a digit run), so identifiers stay untouched. */
  val CardPattern: String = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"

  /** Candidate IBAN: country code + check digits + 10–30 alphanumerics
    * (ISO 13616 BBAN bounds). */
  val IbanPattern: String = "\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\\b"

  /** Candidate Spanish DNI: 8 digits + check letter. */
  val DniPattern: String = "\\b[0-9]{8}[A-Z]\\b"

  /** US SSN in its canonical dashed form — format-only (SSNs carry no
    * public checksum), the standard C4-style treatment. */
  val SsnPattern: String = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** The DNI check-letter alphabet: letter = alphabet[number mod 23]. */
  val DniLetters: String = "TRWAGMYFPDXBNJZSQVHLCKE"

  /** Luhn checksum over a candidate's digits (separators stripped): from
    * the rightmost digit, double every second one, fold digit sums, valid
    * iff total ≡ 0 (mod 10). An unrolled-per-character expression fold —
    * no UDF, stays in codegen. */
  private[graft] def luhnValid(m: Column): Column = {
    val ds = reverse(regexp_replace(m, "[^0-9]", ""))
    val contrib = transform(sequence(lit(1), length(ds)), i => {
      val d = ascii(ds.substr(i, lit(1))) - lit(48)
      when(pmod(i - 1, lit(2)) === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    pmod(aggregate(contrib, lit(0), (acc, x) => acc + x), lit(10)) === 0
  }

  /** ISO 13616 mod-97 check: move the first four characters to the end,
    * read letters as two-digit values (A=10…Z=35), fold the decimal
    * expansion mod 97 character by character (the standard bounded-state
    * trick — the full number exceeds any integer width). Valid iff 1. */
  private[graft] def ibanValid(m: Column): Column = {
    val ra = concat(m.substr(lit(5), length(m) - 4), m.substr(lit(1), lit(4)))
    val rem = aggregate(sequence(lit(1), length(ra)), lit(0), (acc, i) => {
      val c = ascii(ra.substr(i, lit(1)))
      when(c >= 65, pmod(acc * 100 + (c - 55), lit(97)))
        .otherwise(pmod(acc * 10 + (c - 48), lit(97)))
    })
    rem === 1
  }

  /** DNI check letter: alphabet[number mod 23] must equal the 9th char. */
  private[graft] def dniValid(m: Column): Column =
    m.substr(lit(9), lit(1)) ===
      lit(DniLetters).substr((m.substr(lit(1), lit(8)).cast("long") % 23).cast("int") + 1, lit(1))

  /** Extract candidates for `pattern`, keep those passing `valid`, and
    * literal-replace each with its tag — the conditional-redaction shape
    * a plain regexp_replace cannot express. Bounded per-row state (a
    * document's own matches); pure built-ins. */
  private def redactValidated(
      text: Column, pattern: String, valid: Column => Column, tag: String): Column = {
    val matches = filter(regexp_extract_all(text, lit(pattern), lit(0)), valid)
    aggregate(matches, text, (acc, m) => replace(acc, m, lit(s"<$tag>")))
  }

  /** [[redactPii]] plus the checksum-validated classes: IBAN (mod-97),
    * payment cards (Luhn), Spanish DNI (check letter), then US SSN
    * (format). IBAN runs before cards so a card pattern can never eat an
    * IBAN's digit tail; both run after the base trio so emails/phones
    * are already collapsed. Validation failures stay verbatim —
    * spec-pinned false-positive guards. */
  def redactPiiExtended(text: Column): Column = {
    val base = redactPii(text)
    val iban = redactValidated(base, IbanPattern, ibanValid, "IBAN")
    val card = redactValidated(iban, CardPattern, luhnValid, "CARD")
    val dni = redactValidated(card, DniPattern, dniValid, "DNI")
    regexp_replace(dni, SsnPattern, "<SSN>")
  }

  /** One-row corpus report — the numbers a dataset card leads with: doc
    * count, empty/null counts, token-count percentiles and mean. Uses
    * EXACT percentiles (cross-engine verifiable); swap in
    * `approx_percentile` at the 100 TB scale where a full sort of token
    * counts is not worth it (same schema, sketch-accurate values). Mean is
    * a decimal sum (order-independent) over a single aggregation — one
    * job, one reduce. */
  def corpusReport(df: DataFrame, textCol: String): DataFrame = {
    // rebind to the aliased name — referencing textCol after the select
    // would only resolve when textCol happens to be "text"
    val t = col("text")
    df.select(col(textCol).as("text"))
      .withColumn("n_tok", tokenCount(t))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(t.isNull, 1)).as("n_null"),
        count(when(length(t) === 0, 1)).as("n_empty"),
        percentile(col("n_tok"), lit(0.5)).as("tokens_p50"),
        percentile(col("n_tok"), lit(0.9)).as("tokens_p90"),
        percentile(col("n_tok"), lit(0.99)).as("tokens_p99"),
        round(sum(col("n_tok").cast("decimal(28,6)")).cast("double") /
          count(col("n_tok")), 6).as("tokens_mean"))
  }

  /** [[corpusReport]] answering its percentile rows from the bottom-k
    * quantile sketch instead of exact percentiles — the 100 TB form: the
    * exact report's `percentile` is a global sort of the token counts,
    * while the sketch crosses the exchange as ONE ≤ k-pair synopsis (the
    * [[Sketches.quantileSynopsis]] state, riding the SAME single
    * aggregation pass as the counts — null texts fold to NaN pairs the
    * aggregator skips, since a UDAF cannot filter rows the neighboring
    * counts must still see). Count and mean columns are exactly
    * [[corpusReport]]'s; p50/p90/p99 carry the sketch's DKW rank-error
    * envelope (~sqrt(ln(2/δ)/(2k)) — k = 256 ≈ 8.5% at 95%, spec-pinned
    * against the exact row). Needs an id column to hash the sample on. */
  def corpusReportSketched(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 256,
      salt: String = "bkq"): DataFrame = {
    val bkp = udaf(graft.functions.BottomKPairSampleAggregator(k))
    val t = col("text")
    val nan = lit(Double.NaN)
    val est = (vs: org.apache.spark.sql.Column, q: Double) =>
      when(size(vs) === 0, lit(null).cast("double"))
        .otherwise(round(
          element_at(vs, (floor(lit(q) * (size(vs) - 1)) + 1).cast("int")), 6))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("n_tok", tokenCount(t))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(t.isNull, 1)).as("n_null"),
        count(when(length(t) === 0, 1)).as("n_empty"),
        bkp(
          when(col("id").isNotNull && col("n_tok").isNotNull,
            Sampling.hashUniform(col("id"), salt)).otherwise(nan),
          coalesce(col("n_tok").cast("double"), nan)).as("__s"),
        round(sum(col("n_tok").cast("decimal(28,6)")).cast("double") /
          count(col("n_tok")), 6).as("tokens_mean"))
      .withColumn("__vs", array_sort(transform(col("__s"), p => p.getField("_2"))))
      .select(col("n_docs"), col("n_null"), col("n_empty"),
        est(col("__vs"), 0.5).as("tokens_p50"),
        est(col("__vs"), 0.9).as("tokens_p90"),
        est(col("__vs"), 0.99).as("tokens_p99"),
        col("tokens_mean"),
        size(col("__vs")).as("n_sample"))
  }

  /** One-stop profile of a document table. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol), t)
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_bpeish", bpeishTokenCount(t))
      .withColumn("lang_id", langId(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("mean_token_len", meanTokenLen(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", fingerprint(t))
      .drop(textCol)
  }
}
