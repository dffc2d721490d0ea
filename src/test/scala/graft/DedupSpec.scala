package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),        // near dup of 1
    (4L, "completely different text about spark sql engines"),
    (5L, "")                                                      // empty edge case
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val got = Dedup.exactDuplicates(docs, "doc_id", Seq("text"))
    assert(got.count() === 4) // 1+2 collapse
    val dup = got.filter($"n_dups" === 2)
    assert(dup.select("keep_id").as[Long].head() === 1L)
  }

  test("shingles are distinct word n-grams; empty text yields one empty shingle") {
    val sh = docs.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val row1 = sh.filter($"doc_id" === 1L).select(size($"sh")).as[Int].head()
    assert(row1 === 7) // 9 tokens -> 7 trigrams, all distinct
    val row5 = sh.filter($"doc_id" === 5L).select($"sh").as[Seq[String]].head()
    assert(row5 === Seq(""))
  }

  test("incremental exact dedup: known digests drop, intra-batch dups keep min id") {
    val known = Seq("completely different text about spark sql engines").toDF("text")
      .select(graft.functions.HashColumns.hashExpr(Seq($"text")).as("content_hash"))
    val got = Dedup.incrementalExact(docs, "doc_id", Seq("text"), known)
    // doc 4 matches the store; docs 1+2 collapse to 1; 3 and 5 are novel
    assert(got.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 5L))
    assert(got.columns.toSeq === docs.columns.toSeq :+ "content_hash")
    // a second run against the union of digests ingests nothing
    val allDigests = known.unionByName(got.select("content_hash"))
    assert(Dedup.incrementalExact(docs, "doc_id", Seq("text"), allDigests).count() === 0)
  }

  test("duplicated substring spans: shared regions found, merged, and bounded") {
    val shared = "XXXXXXXXXXYYYYYYYYYYZZZZZZZZZZ!!" // 32 chars, appears in docs 10 and 11
    val corpus = Seq(
      (10L, s"aaaaaaaaaa${shared}bbbbbbbbbb"),
      (11L, s"cccccccccccccccc${shared}dddd"),
      (12L, "totally different content with no repeats at all here"),
      (13L, "tiny") // shorter than k -> no grams
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, "doc_id", "text", k = 30, stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // both carriers get exactly ONE merged span (3 overlapping 30-grams
    // collapse into one island), nothing else is flagged
    assert(spans.map(_._1).sorted.toSeq === Seq(10L, 11L))
    val s10 = spans.find(_._1 == 10L).get
    // shared region sits at 1-based 11..42 in doc 10; duplicated 30-grams
    // start at 11..13, so the merged span is exactly [11, 42]
    assert(s10._2 === 11 && s10._3 === 42)
    val s11 = spans.find(_._1 == 11L).get
    assert(s11._2 === 17 && s11._3 === 48)
    // stride 2 still finds the region (coarser span bounds are acceptable)
    val strided = Dedup.duplicatedSpans(corpus, "doc_id", "text", k = 30, stride = 2)
    assert(strided.filter($"doc_id" === 10L).count() >= 1)
  }

  test("jaccard pairs finds the near dup and the exact dup, not the unrelated doc") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minSim = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 === 4L || p._2 === 4L))
  }

  test("containment catches the subset-duplicate that Jaccard structurally misses") {
    // doc 11 is doc 10's opening quoted whole inside much more text: the
    // shingle union is dominated by doc 10, so Jaccard is small, but
    // every doc-11 shingle is in doc 10 — containment 1.0
    val quote = "the quick brown fox jumps over the lazy dog near the river bank today"
    val fixture = Seq(
      (10L, quote + " " + ("and then a very long unrelated continuation " * 20)),
      (11L, quote),
      (12L, "completely different content with no overlap whatsoever in any window")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(fixture, "doc_id", "text", n = 3, minContainment = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cont.map(c => (c._1, c._2)).toSet === Set((10L, 11L)))
    assert(cont.head._3 === 1.0)
    // the same pair under Jaccard at the same threshold: absent
    val jac = Dedup.jaccardPairs(fixture, "doc_id", "text", n = 3, minSim = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(!jac.exists(p => (p._1, p._2) == (10L, 11L)))
    // brute-force value check: containment = |A∩B| / min sizes over
    // distinct hashed 3-gram sets — mirror via the jaccard identity
    // c = j * (|A|+|B|-inter) / min(|A|,|B|) is overkill; assert instead
    // that doc 12 pairs with nothing at any threshold
    val all = Dedup.containmentPairs(fixture, "doc_id", "text", n = 3, minContainment = 0.01)
      .as[(Long, Long, Double)].collect()
    assert(!all.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("minhash signature is deterministic and equal for identical docs") {
    val sigs = docs.filter($"doc_id" <= 2).select(
      Dedup.minhashSignature($"text", 3, 8).as("sig")).as[Seq[String]].collect()
    assert(sigs(0) === sigs(1))
    assert(sigs(0).length === 8)
  }

  test("minhash LSH candidates include exact and near dups") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", n = 3, k = 8, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    // near-dup 1-3 shares most shingles; with 4 bands of 2 it should bucket together
    assert(cands.contains((1L, 3L)))
  }

  test("verified near-dups keep true duplicates and drop false-positive candidates") {
    val got = Dedup.minhashNearDuplicates(docs, "doc_id", "text", n = 3, k = 8, bands = 4,
      minSim = 0.3).select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)))          // exact dup survives, jaccard 1.0
    assert(got.find(r => (r._1, r._2) == (1L, 2L)).get._3 === 1.0)
    assert(pairs.contains((1L, 3L)))          // near dup survives
    assert(got.forall(_._3 >= 0.3))           // every pair is exact-verified
  }

  test("codegen'd shingles kernel equals the HOF fold on real documents") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select($"text").unionByName(docs.select($"text")) // include edge cases
    val both = docsReal.select(
      Dedup.shingles($"text", 3).as("kernel"),
      Dedup.shinglesFold($"text", 3).as("fold"))
    assert(both.filter(!($"kernel" <=> $"fold")).count() === 0)
  }

  test("codegen'd minhash kernel equals the HOF fold on real documents") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    val both = docsReal.select(Dedup.shingles($"text", 3).as("sh"))
      .select(
        graft.functions.DedupExpressions.minhashSig($"sh", 8).as("kernel"),
        Dedup.minhashSignatureFold($"sh", 8).as("fold"))
    assert(both.filter(!($"kernel" <=> $"fold")).count() === 0)
  }

  test("codegen'd simhash kernel equals the HOF fold on real documents") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    val both = docsReal.select(
      Dedup.simhash($"text", 16).as("kernel"),
      Dedup.simhashFold($"text", 16).as("fold"))
    assert(both.filter(!($"kernel" <=> $"fold")).count() === 0)
    // full width: fingerprint bit 0 rides the sign bit at bits = 64
    val wide = docsReal.select(
      Dedup.simhash($"text", 64).as("kernel"),
      Dedup.simhashFold($"text", 64).as("fold"))
    assert(wide.filter(!($"kernel" <=> $"fold")).count() === 0)
    assert(wide.filter($"kernel" < 0).count() > 0,
      "fixture sanity: some 64-bit fingerprint should set the sign bit")
  }

  test("simhash: identical docs equal; near dup within small hamming distance") {
    val fp = docs.select($"doc_id", Dedup.simhash($"text", 16).as("f"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    val hamming = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    assert(hamming <= 6, s"hamming=$hamming")
    assert(fp.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("duplicate clusters: transitive pairs collapse, components named by min id") {
    // two components: {1,2,3} via a chain (1~2, 2~3 but never 1~3) and {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("duplicate clusters: long chain converges; reversed edge order agrees") {
    // a 12-node path needs ~diameter rounds — exercises the fixpoint LOOP
    // (driver path disabled; the default bound would take the fast path)
    val chain = (1L to 11L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain, driverEdgeBound = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 12 && got.values.forall(_ === 1L))
  }

  test("duplicate clusters: empty pair set yields empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(empty).count() === 0)
    assert(Dedup.duplicateClusters(empty, switchAfter = 0, driverEdgeBound = 0).count() === 0)
  }

  test("duplicate clusters: 200-node path converges under the default cap " +
    "via the large-star/small-star fallback") {
    // diameter 199: plain propagation would need 199 rounds, far past the
    // default maxIters = 25 — the alternation phase must carry it (driver
    // path disabled so the distributed machinery is what's under test)
    val path = (1L to 199L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(path, driverEdgeBound = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 200)
    assert(got.values.forall(_ === 1L))
  }

  test("duplicate clusters: driver fast path equals the distributed loop") {
    // the bpeTrainMerges precedent applied to CC: below driverEdgeBound
    // one collect + union-find replaces the eager round loop — output
    // must be row-identical on every graph shape (chains forcing the
    // alternation, stars, singleton-free dupes) and every id type
    val rnd = new scala.util.Random(7)
    val messy = ((1L to 120L).map(i => (i + 1, i)) ++ // one long chain
      (0 until 200).map(_ => (rnd.nextInt(80).toLong + 500L,
        rnd.nextInt(80).toLong + 500L)) ++            // dense random blob
      Seq((900L, 901L), (901L, 900L), (902L, 902L)))  // dupes + self-loop
      .toDF("id_a", "id_b")
    val fast = Dedup.duplicateClusters(messy).as[(Long, Long)].collect().toMap
    val loop = Dedup.duplicateClusters(messy, driverEdgeBound = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast === loop, "driver union-find must equal the distributed loop")
    val strs = Seq(("a3f5", "b210"), ("b210", "c999"), ("e1", "f2"))
      .toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(strs).as[(String, String)].collect().toMap ===
      Dedup.duplicateClusters(strs, driverEdgeBound = 0)
        .as[(String, String)].collect().toMap,
      "string ids: lexicographic minima must agree between the paths")
    // the ordering frontier: Java's UTF-16 code-unit compare puts a
    // private-use BMP char (U+F8FF, 3 UTF-8 bytes) BELOW a supplementary
    // code point (U+10000, surrogate pair / 4 UTF-8 bytes), while Spark's
    // UTF8String binary compare orders them the other way — the driver
    // path must elect the SAME minimum as the loop's `min` aggregate
    val exotic = Seq(("", new String(Character.toChars(0x10000))))
      .toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(exotic).as[(String, String)].collect().toMap ===
      Dedup.duplicateClusters(exotic, driverEdgeBound = 0)
        .as[(String, String)].collect().toMap,
      "supplementary-vs-BMP ids: UTF-8 byte order, not UTF-16 code-unit order")
    // the probe bound is exact: a graph of exactly bound+1 edges loops
    val atBound = (1L to 5L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(atBound, driverEdgeBound = 5)
      .as[(Long, Long)].collect().toMap ===
      Dedup.duplicateClusters(atBound, driverEdgeBound = 4)
        .as[(Long, Long)].collect().toMap)
  }

  test("duplicate clusters and keepBest work on STRING ids (md5-hex shaped)") {
    // content-hash ids are the natural dedup key shape; the numeric-only
    // checksum/tiebreak forms threw under ANSI (or silently no-op'd with
    // ANSI off) — both operators must be id-type-agnostic
    val pairs = Seq(("a3f5", "b210"), ("b210", "c999"), ("e1", "f2"))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(String, String)].collect().toMap
    assert(got === Map("a3f5" -> "a3f5", "b210" -> "a3f5", "c999" -> "a3f5",
      "e1" -> "e1", "f2" -> "e1"))
    // same via the alternation phase (the checksum-driven loop; driver
    // path disabled so the distributed string-id arithmetic is tested)
    val alt = Dedup.duplicateClusters(pairs, switchAfter = 0, driverEdgeBound = 0)
      .as[(String, String)].collect().toMap
    assert(alt === got)
    // keepBest election over string ids: highest score survives per cluster
    val docs = Seq(("a3f5", 1.0), ("b210", 9.0), ("c999", 3.0),
      ("e1", 2.0), ("f2", 2.0), ("zz", 7.0)).toDF("doc_id", "score")
    val kept = Dedup.keepBest(docs, "doc_id", "score", pairs)
      .select("doc_id").as[String].collect().toSet
    assert(kept === Set("b210", "e1", "zz")) // winners + tie->min id + unpaired
  }

  test("alternation-only labeling equals plain propagation on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(60 + trial * 30)(
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      val alt = Dedup.duplicateClusters(df, switchAfter = 0)
        .as[(Long, Long)].collect().toMap
      val plain = Dedup.duplicateClusters(df, maxIters = 200, switchAfter = 200)
        .as[(Long, Long)].collect().toMap
      assert(alt === plain, s"trial $trial: alternation diverged from propagation")
    }
  }

  test("removeDuplicatedSpans: keeper doc intact, later doc loses shared affixes") {
    val pre = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdef"            // 32 chars, shared
    val suf = "0123456789012345678901234567890123"          // 34 chars, shared
    val d1 = pre + "unique-one-xx" + suf
    val d2 = pre + "UNIQUE-TWO-yy" + suf
    val d3 = "totally unrelated text with no duplicated grams at all ......"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(df, "doc_id", "text",
      k = 10, stride = 1, minDocFreq = 2).as[(Long, String)].collect().toMap
    assert(out(1L) === d1, "min-id keeper keeps its text")
    assert(out(2L) === "UNIQUE-TWO-yy", "shared prefix and suffix cut")
    assert(out(3L) === d3, "un-duplicated doc untouched")
  }

  test("dedupLinesAcrossCorpus keeps each repeated line's global first occurrence only") {
    val df = Seq(
      (1L, "alpha beta\nshared line\ngamma"),
      (2L, "shared line\ndelta\nshared line"), // cross-doc AND intra-doc dup
      (3L, "epsilon\n\nzeta"),                 // blank line: exempt, kept
      (4L, "epsilon\nunique tail")             // 'epsilon' repeats doc 3
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossCorpus(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "alpha beta\nshared line\ngamma", "first occurrences keep")
    assert(out(2L) === "delta", "both later occurrences cut")
    assert(out(3L) === "epsilon\n\nzeta", "blank line exempt from dedup")
    assert(out(4L) === "unique tail", "cross-doc repeat cut at doc 4")
    // conservation: kept lines are exactly the global-first set, in order
    val repart = Dedup.dedupLinesAcrossCorpus(df.repartition(7), "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(repart === out, "labeling independent of partitioning")
  }

  test("dedupParagraphsAcrossCorpus matches on the normalized form, keeps original text") {
    val df = Seq(
      (1L, "the shared  boilerplate\n\nbody one"),
      (2L, "THE SHARED BOILERPLATE\n\nbody two"),   // case + spacing variant: dup
      (3L, " the shared boilerplate \n\nbody three"), // pad variant: dup
      (4L, "a\n\nbody one"),                        // 'a' below minParaLen=2: exempt
      (5L, "body two\n\nfresh paragraph")           // 'body two' repeats doc 2
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphsAcrossCorpus(df, "doc_id", "text",
      minParaLen = 2).as[(Long, String)].collect().toMap
    assert(out(1L) === "the shared  boilerplate\n\nbody one",
      "global first keeps its ORIGINAL (un-normalized) text")
    assert(out(2L) === "body two", "case/spacing variant cut as duplicate")
    assert(out(3L) === "body three", "padded variant cut as duplicate")
    assert(out(4L) === "a",
      "short paragraph exempt from dedup; repeated 'body one' cut (first is doc 1's)")
    assert(out(5L) === "fresh paragraph", "cross-doc repeat of 'body two' cut")
    val repart = Dedup.dedupParagraphsAcrossCorpus(df.repartition(7), "doc_id",
      "text", minParaLen = 2).as[(Long, String)].collect().toMap
    assert(repart === out, "labeling independent of partitioning")
  }

  test("dedupParagraphsIncremental equals the corpus-wide operator restricted to the batch") {
    val ingested = Seq(
      (1L, "shared para one\n\nalpha only here"),
      (2L, "beta only here\n\nshared para two")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "shared para one\n\ngamma repeats in batch"),
      (11L, "gamma repeats in batch\n\nshared para two\n\ndelta only here"),
      (12L, "gamma repeats in batch")
    ).toDF("doc_id", "text")
    val standing = Dedup.paragraphHashes(ingested, "doc_id", "text")
    val got = Dedup.dedupParagraphsIncremental(batch, "doc_id", "text", standing)
      .as[(Long, String)].collect().toMap
    // law: ≡ the corpus-wide operator over (ingested ∪ batch), restricted
    // to the batch (ingested ids order first, so keep-min favors them)
    val full = Dedup.dedupParagraphsAcrossCorpus(
        ingested.unionByName(batch), "doc_id", "text")
      .filter($"doc_id" >= 10L).as[(Long, String)].collect().toMap
    assert(got === full)
    assert(got(10L) === "gamma repeats in batch", "standing hit cut, batch-novel keeper kept")
    assert(got(11L) === "delta only here", "intra-batch repeat and standing hit both cut")
    assert(got(12L) === "", "doc of only-duplicate paragraphs cleans to empty")
    // the novel complement IS the store append: re-ingesting the same
    // batch against the grown store cuts every paragraph
    val grown = standing.unionByName(
      Dedup.novelParagraphHashes(batch, "doc_id", "text", standing))
    val again = Dedup.dedupParagraphsIncremental(batch, "doc_id", "text", grown)
      .as[(Long, String)].collect().toMap
    assert(again.values.forall(_ === ""), "a re-delivered batch ingests nothing")
  }

  test("nearDedupParagraphsAcrossCorpus: near twins collapse keep-min, exact degenerates") {
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val nearTwin = boiler.replace("kappa", "kappXX") // one token differs
    val df = Seq(
      (1L, s"$boiler\n\nunrelated body one entirely distinct text here"),
      (2L, s"$nearTwin\n\nsecond doc other paragraph wholly different"),
      (3L, s"${boiler.toUpperCase}\n\nthird doc own unique paragraph body"),
      (4L, "completely separate content with zero shingle overlap anywhere")
    ).toDF("doc_id", "text")
    val out = Dedup.nearDedupParagraphsAcrossCorpus(df, "doc_id", "text",
      n = 2, k = 8, bands = 4).as[(Long, String)].collect().toMap
    // keep-min: doc 1 (smallest first occurrence) keeps the boilerplate
    assert(out(1L).startsWith(boiler), "class winner keeps its original text")
    assert(!out(2L).contains("alpha beta") && out(2L).contains("second doc"),
      "the one-word-changed near twin is cut, its own paragraph survives")
    assert(!out(3L).contains("ALPHA BETA") && out(3L).contains("third doc"),
      "the case variant degenerates to exact dedup (identical canonicals share all bands)")
    assert(out(4L) === "completely separate content with zero shingle overlap anywhere",
      "untouched docs pass through byte-identical")
    // deterministic under repartitioning (pure function of the corpus)
    val repart = Dedup.nearDedupParagraphsAcrossCorpus(df.repartition(7),
      "doc_id", "text", n = 2, k = 8, bands = 4)
      .as[(Long, String)].collect().toMap
    assert(repart === out)
  }

  test("nearDedupParagraphsAcrossCorpus plan: bucket-joined election, no all-pairs") {
    val df = Seq((1L, "a b c\n\nd e f"), (2L, "a b c\n\ng h i")).toDF("doc_id", "text")
    val plan = Dedup.nearDedupParagraphsAcrossCorpus(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"election must stay a band-bucket window + equi joins:\n$plan")
  }

  test("nearDedupParagraphsIncremental: incremental law, all three tiers, re-delivery") {
    // guaranteed near pairs (no LSH luck): token sequences with IDENTICAL
    // n-gram shingle SETS but different canonical strings share every
    // band by construction — 'rep one rep one rep' vs '... rep one'
    // filler paragraphs share NO trigram with each other (a shared
    // 3-shingle would make them near-dups of one another and pollute the
    // tier assertions)
    val ingested = Seq(
      (1L, "alpha beta gamma delta epsilon\n\nfirst ingested filler about misty fjords"),
      (2L, "ping pong ping pong ping\n\nsecond ingested filler regarding copper bells")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ping pong ping pong ping pong\n\ntenth filler where crocodiles cross rivers"),
      (11L, "alpha beta gamma delta epsilon\n\neleventh filler as lanterns glow dimly"),
      (12L, "rep one rep one rep\n\ntwelfth filler since foxes chase kites"),
      (13L, "rep one rep one rep one\n\nthirteenth filler because pigeons study maps")
    ).toDF("doc_id", "text")
    val standing = Dedup.paragraphBandIndex(ingested, "doc_id", "text")
    val got = Dedup.nearDedupParagraphsIncremental(batch, "doc_id", "text", standing)
      .as[(Long, String)].collect().toMap
    // the incremental law: ≡ the corpus-wide operator over
    // (ingested ∪ batch) restricted to the batch (ingested ids order
    // first and the standing index holds ALL ingested classes)
    val full = Dedup.nearDedupParagraphsAcrossCorpus(
        ingested.unionByName(batch), "doc_id", "text")
      .filter($"doc_id" >= 10L).as[(Long, String)].collect().toMap
    assert(got === full, "incremental ≠ corpus-wide restricted to the batch")
    assert(got(10L) === "tenth filler where crocodiles cross rivers",
      "NEAR tier: a reflow of a standing paragraph is cut without re-reading the corpus")
    assert(got(11L) === "eleventh filler as lanterns glow dimly",
      "EXACT tier: a standing canonical repeat is cut")
    assert(got(12L).startsWith("rep one rep one rep"),
      "batch-novel bucket winner keeps its first occurrence")
    assert(got(13L) === "thirteenth filler because pigeons study maps",
      "batch-internal election: the larger first-occurrence near twin is cut")
    // the novel complement IS the index append; a re-delivered batch is
    // absorbed entirely and ingests nothing
    val grown = standing.unionByName(
      Dedup.novelParagraphBands(batch, "doc_id", "text", standing))
    val again = Dedup.nearDedupParagraphsIncremental(batch, "doc_id", "text", grown)
      .as[(Long, String)].collect().toMap
    assert(again.values.forall(_ === ""),
      "every paragraph of a re-delivered batch is standing — all cut")
    assert(Dedup.novelParagraphBands(batch, "doc_id", "text", grown).count() === 0,
      "re-delivery appends nothing to the index")
  }

  test("nearDedupParagraphsIncremental plan: two index probes + bucket window, no all-pairs") {
    val standing = Seq((1L, 0, 7L)).toDF("lh", "band", "key")
    val batch = Seq((1L, "a b c\n\nd e f"), (2L, "a b c\n\ng h i")).toDF("doc_id", "text")
    val plan = Dedup.nearDedupParagraphsIncremental(batch, "doc_id", "text", standing)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental election must stay semi-join probes + a bucket window:\n$plan")
  }

  test("duplicatedSpansExact equals brute force on a planted-overlap fixture") {
    val k = 10
    // planted overlaps: docs 1/2 share a k+5 block mid-text (one maximal
    // island each), docs 3/4 share their full text, doc 5 is unique, doc
    // 6 shares a block with 1/2 too (doc freq 3)
    val shared = "ABCDEFGHIJKLMNO" // length k+5
    val fixture = Seq(
      (1L, s"aaaaa${shared}zzzzz"),
      (2L, s"qqq${shared}pp"),
      (3L, "identical-full-text!"),
      (4L, "identical-full-text!"),
      (5L, "nothing in common here at all"),
      (6L, s"__${shared}__")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpansExact(fixture, "doc_id", "text", k = k)
      .as[(Long, Long, Long)].collect().toSet
    // brute force: position duplicated iff its k-gram string occurs in
    // >= 2 docs; islands merged
    val rows = Seq(1L -> s"aaaaa${shared}zzzzz", 2L -> s"qqq${shared}pp",
      3L -> "identical-full-text!", 4L -> "identical-full-text!",
      5L -> "nothing in common here at all", 6L -> s"__${shared}__")
    val docsOf = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Long]]()
    for ((id, t) <- rows; p <- 0 to t.length - k)
      docsOf.getOrElseUpdate(t.substring(p, p + k), scala.collection.mutable.Set.empty) += id
    val expected = rows.flatMap { case (id, t) =>
      val dup = (0 to t.length - k).filter(p => docsOf(t.substring(p, p + k)).size >= 2)
      // merge consecutive duplicated positions into islands (1-based)
      dup.foldLeft(List.empty[(Long, Long, Long)]) {
        case ((d, s, e) :: tail, p) if p + 1 <= e - k + 2 && d == id =>
          (d, s, math.max(e, p + k)) :: tail
        case (acc, p) => (id, p + 1L, p + k.toLong) :: acc
      }
    }.toSet
    assert(got === expected)
    // sanity on the fixture: the planted shapes are all present
    // doc 1: the island covers exactly the planted block (1-based 6..20)
    assert(got.exists(s => s._1 == 1L && s._2 == 6 && s._3 == 6 + shared.length - 1))
    assert(got.contains((3L, 1L, 20L)) && got.contains((4L, 1L, 20L)))
    assert(!got.exists(_._1 == 5L))
  }

  test("incremental spans accumulate: each batch equals the full run restricted to it") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").filter($"doc_id" < 300)
    val standing = docs.filter($"doc_id" % 3 === 0)
    val batch1 = docs.filter($"doc_id" % 3 === 1)
    val batch2 = docs.filter($"doc_id" % 3 === 2)
    // batch 1 against the standing store
    val store0 = Dedup.spanGramsOf(standing, "doc_id", "text", k = 20)
    val got1 = Dedup.incrementalDuplicatedSpans(batch1, "doc_id", "text", store0, k = 20)
      .as[(Long, Long, Long)].collect().toSet
    val full1 = Dedup.duplicatedSpans(standing.union(batch1), "doc_id", "text",
        k = 20, stride = 1)
      .filter($"doc_id" % 3 === 1).as[(Long, Long, Long)].collect().toSet
    assert(got1 === full1)
    assert(got1.nonEmpty, "fixture sanity: batch-1 spans exist")
    // maintenance appends batch 1's grams; batch 2 probes the grown store
    val store1 = store0.union(Dedup.spanGramsOf(batch1, "doc_id", "text", k = 20))
    val got2 = Dedup.incrementalDuplicatedSpans(batch2, "doc_id", "text", store1, k = 20)
      .as[(Long, Long, Long)].collect().toSet
    val full2 = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 20, stride = 1)
      .filter($"doc_id" % 3 === 2).as[(Long, Long, Long)].collect().toSet
    assert(got2 === full2)
  }

  test("duplicatedSpansExact equals the hashed form on real documents (no collisions)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").filter($"doc_id" < 200)
    val exact = Dedup.duplicatedSpansExact(docs, "doc_id", "text", k = 20)
      .as[(Long, Long, Long)].collect().toSet
    val hashed = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 20, stride = 1)
      .as[(Long, Long, Long)].collect().toSet
    // 60-bit gram hashes produce no collisions at this scale, so the
    // approximation and the exact form agree row-for-row — the empirical
    // form of the approximation-quality claim
    assert(exact === hashed)
    assert(exact.nonEmpty, "fixture sanity: duplicated spans exist")
  }

  test("removeDuplicatedSpans equals the brute-force cut on real documents") {
    val k = 20
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"doc_id" < 60).select("doc_id", "text")
      .as[(Long, String)].collect()
    // brute force over code points (Spark/DuckDB substr semantics)
    val cps: Map[Long, Array[Int]] = rows.collect {
      case (id, t) if t != null => id -> t.codePoints().toArray
    }.toMap
    val keeper = scala.collection.mutable.Map[String, Long]()
    val docsOf = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Long]]()
    for ((id, a) <- cps.toSeq.sortBy(_._1); p <- 0 to a.length - k) {
      val g = new String(a, p, k)
      keeper.getOrElseUpdate(g, id)
      docsOf.getOrElseUpdate(g, scala.collection.mutable.Set.empty) += id
    }
    val expected = rows.map { case (id, t) =>
      if (t == null) id -> null
      else {
        val a = cps(id)
        val cutFlags = new Array[Boolean](a.length)
        for (p <- 0 to a.length - k) {
          val g = new String(a, p, k)
          if (docsOf(g).size >= 2 && keeper(g) != id)
            for (q <- p until p + k) cutFlags(q) = true
        }
        val kept = a.indices.collect { case i if !cutFlags(i) => a(i) }.toArray
        id -> new String(kept, 0, kept.length)
      }
    }.toMap
    val got = Dedup.removeDuplicatedSpans(
      spark.read.parquet(s"$sfDir/documents.parquet").filter($"doc_id" < 60),
      "doc_id", "text", k = k, stride = 1, minDocFreq = 2)
      .as[(Long, String)].collect().toMap
    assert(got.keySet === expected.keySet)
    for ((id, exp) <- expected)
      assert(got(id) === exp, s"doc $id cleaned text diverged from brute force")
    // fixture sanity: the cut actually removed something somewhere
    assert(expected.exists { case (id, c) =>
      c != null && cps.contains(id) && c.codePointCount(0, c.length) < cps(id).length })
  }

  test("incremental minhash probe equals the cross pairs of the full self-join") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet").limit(300)
    val even = docsReal.filter($"doc_id" % 2 === 0)
    val odd = docsReal.filter($"doc_id" % 2 === 1)
    val index = Dedup.minhashBandIndex(even, "doc_id", "text")
    val inc = Dedup.incrementalMinhashCandidates(odd, "doc_id", "text", index)
      .as[(Long, Long)].collect().toSet
    // ground truth: all-pairs candidates over the union, kept only when
    // they cross the batch/corpus boundary (either orientation)
    val full = Dedup.minhashCandidates(docsReal, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val cross = full.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => (a, b)
      case (a, b) if a % 2 == 0 && b % 2 == 1 => (b, a)
    }
    assert(inc === cross)
    assert(inc.nonEmpty) // fixture sanity: some batch doc matches the corpus
  }

  test("updateClusters: folding batch edges equals full recompute on the union") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      // old edges over ids [0, 50); batch edges span old ids and fresh
      // ids [50, 80) — merges, brand-new clusters, and no-op intra-cluster
      // edges all occur across the trials
      val oldE = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(p => p._1 != p._2)
      val batchE = Seq.fill(40)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(p => p._1 != p._2)
      val oldDf = oldE.toDF("id_a", "id_b")
      val batchDf = batchE.toDF("id_a", "id_b")
      val incremental = Dedup.updateClusters(Dedup.duplicateClusters(oldDf), batchDf)
        .as[(Long, Long)].collect().toMap
      val full = Dedup.duplicateClusters(oldDf.union(batchDf))
        .as[(Long, Long)].collect().toMap
      assert(incremental === full, s"trial $trial: incremental diverged from recompute")
      // the eager (distributed) repair path stays under test and agrees
      val eager = Dedup.updateClusters(Dedup.duplicateClusters(oldDf), batchDf,
        driverEdgeBound = 0).as[(Long, Long)].collect().toMap
      assert(eager === full, s"trial $trial: eager path diverged from recompute")
    }
  }

  test("updateClusters: driver fast path equals the eager path on every id shape") {
    // fresh-only pairs, standing merges, a bridge across two standing
    // components, self-pairs (re-delivered cross probes), and string ids
    val standing = Dedup.duplicateClusters(
      Seq((1L, 2L), (5L, 6L), (8L, 9L)).toDF("id_a", "id_b"))
    val batch = Seq((2L, 5L),   // bridges components 1 and 5
      (20L, 21L),               // brand-new cluster
      (9L, 9L),                 // self-pair: endpoint must still label
      (30L, 30L),               // fresh self-pair: labels itself
      (6L, 22L)).toDF("id_a", "id_b") // standing + fresh endpoint
    val fast = Dedup.updateClusters(standing, batch)
      .as[(Long, Long)].collect().toMap
    val eager = Dedup.updateClusters(standing, batch, driverEdgeBound = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast === eager, "long ids: the two paths must agree row-for-row")
    assert(fast(5L) === 1L && fast(6L) === 1L && fast(22L) === 1L,
      "the bridge merged components toward the global minimum")
    assert(fast(30L) === 30L && fast(9L) === 8L)
    val standingS = Dedup.duplicateClusters(
      Seq(("b", "c"), ("x", "y")).toDF("id_a", "id_b"))
    val batchS = Seq(("c", "x"), ("a", "b")).toDF("id_a", "id_b")
    assert(Dedup.updateClusters(standingS, batchS)
      .as[(String, String)].collect().toMap ===
      Dedup.updateClusters(standingS, batchS, driverEdgeBound = 0)
        .as[(String, String)].collect().toMap,
      "string ids: the two paths must agree")
    // the probe bound is exact: bound+1 canonical pairs take the eager path
    val atBound = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Dedup.updateClusters(standing, atBound, driverEdgeBound = 3)
      .as[(Long, Long)].collect().toMap ===
      Dedup.updateClusters(standing, atBound, driverEdgeBound = 2)
        .as[(Long, Long)].collect().toMap)
    // deep chain unioned leaf-first: the remap pass's find() path-compresses
    // long parent chains, which once skipped entries by mutating the map
    // under its own keys iterator (caught by the takedown stream spec) —
    // every chain node must relabel to the minimum
    val emptyL = Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    val chain = (1L until 60L).reverse.map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(Dedup.updateClusters(emptyL, chain).as[(Long, Long)].collect().toMap ===
      (1L to 60L).map(i => i -> 1L).toMap,
      "deep-chain remap must move every node (keys snapshot before find)")
  }

  test("updateClusters: empty batch is the identity on the labeling") {
    val labels = Dedup.duplicateClusters(Seq((1L, 2L), (4L, 5L)).toDF("id_a", "id_b"))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.updateClusters(labels, empty).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("removeDocsFromClusters: bridge removal splits; result equals full recompute") {
    // 1-2-3 chained through bridge 2; 5-6-7-8 a cycle; 10-11 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.duplicateClusters(pairs)
    // removing bridge 2 isolates 1 and 3 (both drop out, as a recompute
    // would drop unpaired nodes); removing 6 leaves 5-8-7 connected
    val (labels2, pairs2) = Dedup.removeDocsFromClusters(
      labels, pairs, Seq(2L, 6L).toDF("id"))
    assert(pairs2.as[(Long, Long)].collect().toSet === Set((7L, 8L), (5L, 8L), (10L, 11L)))
    assert(labels2.as[(Long, Long)].collect().toMap ===
      Map(5L -> 5L, 7L -> 5L, 8L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("removeDocsFromClusters equals full recompute without the ids (randomized)") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2)
      val pairs = edges.toDF("id_a", "id_b")
      val removedIds = (0 until 10).map(_ => rnd.nextInt(60).toLong).distinct
      val (labels2, pairs2) = Dedup.removeDocsFromClusters(
        Dedup.duplicateClusters(pairs), pairs, removedIds.toDF("id"))
      val keptEdges = edges.filter(p => !removedIds.contains(p._1) && !removedIds.contains(p._2))
      val full = Dedup.duplicateClusters(keptEdges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(labels2.as[(Long, Long)].collect().toMap === full,
        s"trial $trial: repair diverged from recompute")
      assert(pairs2.as[(Long, Long)].collect().toSet === keptEdges.toSet)
    }
  }

  test("removeDocs with labels store missing still filters the ids' pairs") {
    // a crash between the labels and pairs swaps (or a pairs-only
    // deployment) can leave pairs standing with no labels store; the
    // takedown guarantee on the pairs store must hold regardless
    val dir = java.nio.file.Files.createTempDirectory("graft-rm-nolabels").toString
    Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b").write.parquet(s"$dir/pairs")
    Dedup.removeDocs(spark, Seq(2L).toDF("id"), s"$dir/index", s"$dir/pairs", s"$dir/labels")
    assert(spark.read.parquet(s"$dir/pairs").as[(Long, Long)].collect().toSet ===
      Set((5L, 6L)))
    // and the removal stays idempotent: replaying converges to the same store
    Dedup.removeDocs(spark, Seq(2L).toDF("id"), s"$dir/index", s"$dir/pairs", s"$dir/labels")
    assert(spark.read.parquet(s"$dir/pairs").as[(Long, Long)].collect().toSet ===
      Set((5L, 6L)))
  }

  test("removeDocs with labelsGenerations adopts a swap-layout labels store, never skips it") {
    // the flag-migration path: a labels store previously written in the
    // plain swap layout, then the deployment flips labelsGenerations on —
    // without the adoption the generation read finds no gen-* directories,
    // the repair silently skips, and the removed ids' label rows persist
    // indefinitely (the takedown guarantee silently violated)
    val dir = java.nio.file.Files.createTempDirectory("graft-rm-migrate").toString
    Seq((1L, 1, "x")).toDF("id", "band", "key")
      .limit(0).write.parquet(s"$dir/index")
    Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b").write.parquet(s"$dir/pairs")
    graft.sources.Store.writeStoreSwap(
      Dedup.duplicateClusters(Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")),
      s"$dir/labels", Seq.empty)
    Dedup.removeDocs(spark, Seq(2L).toDF("id"), s"$dir/index", s"$dir/pairs",
      s"$dir/labels", labelsGenerations = 2)
    // the standing labels were adopted as generation 1 and REPAIRED as
    // generation 2: the removed id's label row is gone, survivors keep
    // their (split) clusters
    val (_, labels) = graft.sources.Store.readStoreLatest(spark, s"$dir/labels").get
    val got = labels.select("id", "cluster_id").as[(Long, Long)].collect().toMap
    // id 2's label row is gone; ids 1 and 3 lost their only pair partner
    // and drop out of the pair-derived labeling; the untouched {5,6}
    // cluster stands — exactly the full-recompute-over-survivors labeling
    assert(!got.contains(2L), s"removed id still labeled: $got")
    assert(got.keySet === Set(5L, 6L), s"unexpected labeling: $got")
    assert(got(5L) === got(6L))
  }

  test("gram key-format guard is read-only and fails only on a different marker") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gram-format").toString
    val grams = s"$dir/grams"
    val marker = new java.io.File(grams, Dedup.GramKeyFormatFile)
    // absent store: passes, creates nothing
    Dedup.gramKeyFormatGuard(spark, grams)
    assert(!new java.io.File(grams).exists(), "a read-only check created the store root")
    // data without a marker (written before writers stamped one): passes
    Dedup.spanGramsOf(Seq((1L, "aaaaaaaaaaZZ")).toDF("id", "t"), "id", "t", k = 10)
      .write.parquet(s"$grams/ingest_batch=0")
    Dedup.gramKeyFormatGuard(spark, grams)
    assert(!marker.exists(), "a read-only check stamped the marker")
    // a writer stamps the current format, which the guard accepts
    Dedup.stampGramKeyFormat(spark, grams)
    assert(Dedup.gramKeyFormatOf(spark, grams).contains(Dedup.GramKeyFormat))
    Dedup.gramKeyFormatGuard(spark, grams)
    // a different format fails fast — in the batch guard and at stream setup
    val foreign = new org.apache.hadoop.fs.Path(grams, Dedup.GramKeyFormatFile)
    val out = foreign.getFileSystem(spark.sparkContext.hadoopConfiguration).create(foreign, true)
    try out.write("md5prefix.v0".getBytes("UTF-8")) finally out.close()
    intercept[IllegalArgumentException](Dedup.gramKeyFormatGuard(spark, grams))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val stream = spark.readStream.schema("id LONG, t STRING").parquet(s"$dir/in")
    intercept[IllegalArgumentException](graft.streaming.StreamingHistorization.spansStream(
      stream, "id", "t", grams, s"$dir/ids", s"$dir/spans", s"$dir/chk", k = 10))
  }

  test("purgeSpanStores replays only the affected suffix and kills survivor spans that depended on a removed doc") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spans-suffix").toString
    // batch 0: A/B share a 10-gram; batch 1: D's only duplicated gram is
    // shared with C, the doc that gets taken down
    val b0 = Seq((1L, "aaaaaaaaaaZZZZ"), (2L, "aaaaaaaaaaQQQQ")).toDF("id", "t")
    val b1 = Seq((3L, "ddddddddddPPPP"), (4L, "ddddddddddRRRR")).toDF("id", "t")
    val empty = spark.range(0).select($"id".as("gh"))
    Dedup.incrementalDuplicatedSpans(b0, "id", "t", empty, k = 10)
      .write.parquet(s"$dir/spans/ingest_batch=0")
    Dedup.spanGramsOf(b0, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=0")
    b0.select("id").write.parquet(s"$dir/ids/ingest_batch=0")
    Dedup.incrementalDuplicatedSpans(
        b1, "id", "t", spark.read.parquet(s"$dir/grams"), k = 10)
      .write.parquet(s"$dir/spans/ingest_batch=1")
    Dedup.spanGramsOf(b1, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=1")
    b1.select("id").write.parquet(s"$dir/ids/ingest_batch=1")
    assert(spark.read.parquet(s"$dir/spans").filter($"doc_id" === 4L).count() === 1)

    val survivors = b0.union(b1.filter($"id" =!= 3L))
    val replayed = Dedup.purgeSpanStores(spark, Seq(3L).toDF("id"), survivors,
      "id", "t", s"$dir/grams", s"$dir/ids", s"$dir/spans", k = 10)
    // only the batch holding the removed id is rewritten — batches before
    // the earliest affected one never saw the removed doc's grams
    assert(replayed === Seq(1L))
    val spans = spark.read.parquet(s"$dir/spans")
    // batch 0 untouched: A/B keep their span; batch 1: the removed doc's
    // span is gone AND D's span died with its only gram partner
    assert(spans.filter($"ingest_batch" === 0).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 2L))
    assert(spans.filter($"ingest_batch" === 1).count() === 0)
    assert(spark.read.parquet(s"$dir/ids").filter($"ingest_batch" === 1)
      .select("id").as[Long].collect().toSet === Set(4L))
    // the gram store kept only the survivor's contribution
    val d4Grams = Dedup.spanGramsOf(b1.filter($"id" === 4L), "id", "t", k = 10)
      .as[Long].collect().toSet
    assert(spark.read.parquet(s"$dir/grams").filter($"ingest_batch" === 1)
      .select("gh").as[Long].collect().toSet === d4Grams)
    // idempotent: re-running the purge converges to the same stores
    val again = Dedup.purgeSpanStores(spark, Seq(3L).toDF("id"), survivors,
      "id", "t", s"$dir/grams", s"$dir/ids", s"$dir/spans", k = 10)
    assert(again === Seq.empty, "removed id already gone from the ids store")
  }

  test("purgeSpanStores sweeps ghost ids absent from survivors even when not listed") {
    // the documented contract: an id standing in the spans stores but
    // absent from the survivor store is treated as removed — debris of
    // an earlier takedown that deleted the doc store but crashed before
    // this purge. An EMPTY removal list must still sweep it.
    val dir = java.nio.file.Files.createTempDirectory("graft-spans-ghost").toString
    val b0 = Seq((1L, "aaaaaaaaaaZZZZ"), (2L, "aaaaaaaaaaQQQQ")).toDF("id", "t")
    val b1 = Seq((3L, "ddddddddddPPPP"), (4L, "ddddddddddRRRR")).toDF("id", "t")
    val empty = spark.range(0).select($"id".as("gh"))
    Dedup.incrementalDuplicatedSpans(b0, "id", "t", empty, k = 10)
      .write.parquet(s"$dir/spans/ingest_batch=0")
    Dedup.spanGramsOf(b0, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=0")
    b0.select("id").write.parquet(s"$dir/ids/ingest_batch=0")
    Dedup.incrementalDuplicatedSpans(
        b1, "id", "t", spark.read.parquet(s"$dir/grams"), k = 10)
      .write.parquet(s"$dir/spans/ingest_batch=1")
    Dedup.spanGramsOf(b1, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=1")
    b1.select("id").write.parquet(s"$dir/ids/ingest_batch=1")
    // doc 3 vanished from the doc store out-of-band; removal list EMPTY
    val survivors = b0.union(b1.filter($"id" =!= 3L))
    val replayed = Dedup.purgeSpanStores(spark,
      spark.range(0).select($"id"), survivors,
      "id", "t", s"$dir/grams", s"$dir/ids", s"$dir/spans", k = 10)
    assert(replayed === Seq(1L), "the ghost id's batch must rewrite")
    assert(spark.read.parquet(s"$dir/ids").filter($"ingest_batch" === 1)
      .select("id").as[Long].collect().toSet === Set(4L))
    assert(spark.read.parquet(s"$dir/spans").filter($"ingest_batch" === 1).count() === 0)
  }

  test("purgeSpanStores replays ONLY batches that depended on withdrawn grams, not the suffix") {
    // three batches: C (batch 0, taken down) shares its gram with E
    // (batch 2) but NOT with anything in batch 1 — the purge must rewrite
    // batch 0 (affected) and batch 2 (its viaStore match loses its only
    // support), and must NOT touch batch 1 (the r12 form replayed it too)
    val dir = java.nio.file.Files.createTempDirectory("graft-spans-dep").toString
    val b0 = Seq((1L, "ccccccccccZZZZ"), (2L, "xxxxxxxxxxQQQQ")).toDF("id", "t")
    val b1 = Seq((3L, "mmmmmmmmmmPPPP"), (4L, "nnnnnnnnnnRRRR")).toDF("id", "t")
    val b2 = Seq((5L, "ccccccccccWWWW")).toDF("id", "t")
    val empty = spark.range(0).select($"id".as("gh"))
    def ingest(b: Long, df: org.apache.spark.sql.DataFrame): Unit = {
      val standing = if (b == 0) empty
        else spark.read.parquet(s"$dir/grams").filter($"ingest_batch" < b).select("gh")
      Dedup.incrementalDuplicatedSpans(df, "id", "t", standing, k = 10)
        .write.parquet(s"$dir/spans/ingest_batch=$b")
      Dedup.spanGramsOf(df, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=$b")
      df.select("id").write.parquet(s"$dir/ids/ingest_batch=$b")
    }
    ingest(0L, b0); ingest(1L, b1); ingest(2L, b2)
    assert(spark.read.parquet(s"$dir/spans").filter($"doc_id" === 5L).count() === 1)
    val batch1SpansBefore = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/spans/ingest_batch=1"))

    val survivors = b0.filter($"id" =!= 1L).union(b1).union(b2)
    val replayed = Dedup.purgeSpanStores(spark, Seq(1L).toDF("id"), survivors,
      "id", "t", s"$dir/grams", s"$dir/ids", s"$dir/spans", k = 10)
    assert(replayed === Seq(0L, 2L), s"batch 1 must not replay: $replayed")
    // batch 1's spans partition was not even touched on disk
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/spans/ingest_batch=1")) === batch1SpansBefore)
    // E's span died with its only gram partner; batch-1 spans unchanged
    assert(spark.read.parquet(s"$dir/spans").filter($"doc_id" === 5L).count() === 0)
    // end state equals the survivor rebuild, batch by batch
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-spans-dep-rb").toString
    def rebuildIngest(b: Long, df: org.apache.spark.sql.DataFrame): Unit = {
      val standing = if (b == 0) empty
        else spark.read.parquet(s"$rebuilt/grams").filter($"ingest_batch" < b).select("gh")
      Dedup.incrementalDuplicatedSpans(df, "id", "t", standing, k = 10)
        .write.parquet(s"$rebuilt/spans/ingest_batch=$b")
      Dedup.spanGramsOf(df, "id", "t", k = 10).write.parquet(s"$rebuilt/grams/ingest_batch=$b")
    }
    rebuildIngest(0L, b0.filter($"id" =!= 1L)); rebuildIngest(1L, b1); rebuildIngest(2L, b2)
    def slurp(p: String) = spark.read.parquet(p)
      .select("doc_id", "span_start", "span_end", "ingest_batch")
      .collect().map(_.toSeq).toSet
    assert(slurp(s"$dir/spans") === slurp(s"$rebuilt/spans"))
  }

  test("purgeSpanStores: a LAST-batch takedown rewrites exactly one batch partition") {
    // the round-12 scale item stated as a spec: nothing is ingested after
    // the removed doc, so nothing can depend on its grams — exactly one
    // partition rewrites no matter how long the store's history is
    val dir = java.nio.file.Files.createTempDirectory("graft-spans-last").toString
    val batches = (0L to 3L).map { b =>
      b -> Seq((b * 10 + 1, s"gram${b}gram${b}AA$b"), (b * 10 + 2, s"gram${b}gram${b}BB$b"))
        .toDF("id", "t")
    }
    val empty = spark.range(0).select($"id".as("gh"))
    batches.foreach { case (b, df) =>
      val standing = if (b == 0) empty
        else spark.read.parquet(s"$dir/grams").filter($"ingest_batch" < b).select("gh")
      Dedup.incrementalDuplicatedSpans(df, "id", "t", standing, k = 10)
        .write.parquet(s"$dir/spans/ingest_batch=$b")
      Dedup.spanGramsOf(df, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=$b")
      df.select("id").write.parquet(s"$dir/ids/ingest_batch=$b")
    }
    val survivors = batches.map(_._2).reduce(_ union _).filter($"id" =!= 31L)
    val replayed = Dedup.purgeSpanStores(spark, Seq(31L).toDF("id"), survivors,
      "id", "t", s"$dir/grams", s"$dir/ids", s"$dir/spans", k = 10)
    assert(replayed === Seq(3L), s"expected exactly the last batch: $replayed")
    assert(spark.read.parquet(s"$dir/ids").filter($"ingest_batch" === 3)
      .select("id").as[Long].collect().toSet === Set(32L))
  }

  test("purgeSpanStores crash window: phase-1 rewrites without the ids rewrite still replay fully") {
    // the two-phase contract: spans+grams rewrite first, ids LAST. A
    // crash after phase 1 leaves repaired spans/grams but the removed id
    // still in the ids store — the re-delivered purge must see a
    // non-empty affected set and replay (deterministically, to the same
    // content), not conclude the repair is done
    val dir = java.nio.file.Files.createTempDirectory("graft-spans-crash").toString
    val b0 = Seq((1L, "aaaaaaaaaaZZZZ"), (2L, "aaaaaaaaaaQQQQ")).toDF("id", "t")
    val b1 = Seq((3L, "ddddddddddPPPP"), (4L, "ddddddddddRRRR")).toDF("id", "t")
    val empty = spark.range(0).select($"id".as("gh"))
    Dedup.incrementalDuplicatedSpans(b0, "id", "t", empty, k = 10)
      .write.parquet(s"$dir/spans/ingest_batch=0")
    Dedup.spanGramsOf(b0, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=0")
    b0.select("id").write.parquet(s"$dir/ids/ingest_batch=0")
    Dedup.incrementalDuplicatedSpans(
        b1, "id", "t", spark.read.parquet(s"$dir/grams"), k = 10)
      .write.parquet(s"$dir/spans/ingest_batch=1")
    Dedup.spanGramsOf(b1, "id", "t", k = 10).write.parquet(s"$dir/grams/ingest_batch=1")
    b1.select("id").write.parquet(s"$dir/ids/ingest_batch=1")
    // hand-craft the phase-1-complete crash state: batch 1's spans and
    // grams already rewritten to survivor content, ids untouched
    val b1s = b1.filter($"id" =!= 3L)
    Dedup.incrementalDuplicatedSpans(b1s, "id", "t",
        spark.read.parquet(s"$dir/grams").filter($"ingest_batch" < 1).select("gh"), k = 10)
      .write.mode("overwrite").parquet(s"$dir/spans/ingest_batch=1")
    Dedup.spanGramsOf(b1s, "id", "t", k = 10)
      .write.mode("overwrite").parquet(s"$dir/grams/ingest_batch=1")
    val survivors = b0.union(b1s)
    val replayed = Dedup.purgeSpanStores(spark, Seq(3L).toDF("id"), survivors,
      "id", "t", s"$dir/grams", s"$dir/ids", s"$dir/spans", k = 10)
    assert(replayed === Seq(1L), "the re-run must still see batch 1 as affected")
    assert(spark.read.parquet(s"$dir/spans").filter($"ingest_batch" === 1).count() === 0)
    assert(spark.read.parquet(s"$dir/ids").filter($"ingest_batch" === 1)
      .select("id").as[Long].collect().toSet === Set(4L))
  }

  test("removeDocs purgeRetained scrubs the removed ids from every retained labels generation") {
    // the r11 caveat: with labelsGenerations > 1 the repair commits a new
    // labels generation but retention keeps prior passes that still hold
    // the removed ids' rows — purgeRetained must leave NO retained
    // generation containing a removed id, while preserving the retained
    // history (minus the purged rows) for pinned readers
    val dir = java.nio.file.Files.createTempDirectory("graft-rm-purge").toString
    Seq((1L, 1, "x")).toDF("id", "band", "key").limit(0).write.parquet(s"$dir/index")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L))
    edges.toDF("id_a", "id_b").write.parquet(s"$dir/pairs")
    // two maintenance passes, both labeling the doomed id 2
    val labels = Dedup.duplicateClusters(edges.toDF("id_a", "id_b"))
    graft.sources.Store.writeStoreGeneration(
      labels.filter($"id" =!= 6L), s"$dir/labels", keep = 3)
    graft.sources.Store.writeStoreGeneration(labels, s"$dir/labels", keep = 3)
    Dedup.removeDocs(spark, Seq(2L).toDF("id"), s"$dir/index", s"$dir/pairs",
      s"$dir/labels", labelsGenerations = 3, purgeRetained = true)
    val gens = graft.sources.Store.listGenerations(spark, s"$dir/labels")
    // history preserved: both pre-takedown passes plus the repaired head
    assert(gens.size === 3, s"expected 3 retained generations, got $gens")
    gens.foreach { g =>
      val rows = graft.sources.Store.readStoreGeneration(spark, s"$dir/labels", g)
        .select("id").as[Long].collect().toSet
      assert(!rows.contains(2L), s"generation $g still holds the removed id: $rows")
    }
    // the head is the full repair: 1 and 3 lost their only partner, {5,6} stands
    val (_, head) = graft.sources.Store.readStoreLatest(spark, s"$dir/labels").get
    assert(head.select("id").as[Long].collect().toSet === Set(5L, 6L))
  }

  test("removeDocs store pass leaves index/pairs/labels equal to a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-removedocs").toString
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 300)
    graft.operators.Dedup.minhashBandIndex(corpus, "doc_id", "text", 3, 8, 4)
      .write.parquet(s"$dir/index")
    val pairs = Dedup.minhashCandidates(corpus, "doc_id", "text")
    pairs.select("id_a", "id_b").write.parquet(s"$dir/pairs")
    // the pairs store is at-least-once: append a duplicate delivery, which
    // removeDocs must absorb via its distinct() read
    pairs.select("id_a", "id_b").limit(3).write.mode("append").parquet(s"$dir/pairs")
    graft.sources.Store.writeStoreSwap(
      Dedup.duplicateClusters(pairs), s"$dir/labels", Seq.empty)

    val removed = corpus.filter($"doc_id" % 7 === 0).select("doc_id")
    Dedup.removeDocs(spark, removed, s"$dir/index", s"$dir/pairs", s"$dir/labels")

    val survivors = corpus.filter($"doc_id" % 7 =!= 0)
    val ixWant = graft.operators.Dedup.minhashBandIndex(survivors, "doc_id", "text", 3, 8, 4)
      .select("id", "band", "key").collect().toSet
    val ixGot = spark.read.parquet(s"$dir/index").select("id", "band", "key").collect().toSet
    assert(ixGot === ixWant)
    val pairsWant = Dedup.minhashCandidates(survivors, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairsGot = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsGot === pairsWant)
    val labelsWant = Dedup.duplicateClusters(
        Dedup.minhashCandidates(survivors, "doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    val labelsGot = spark.read.parquet(s"$dir/labels")
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(labelsGot === labelsWant)
    assert(labelsWant.nonEmpty, "fixture sanity: clusters survive the removal")
  }

  test("clusterStats summarizes the labeling; empty graph yields zeros") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val stats = Dedup.clusterStats(Dedup.duplicateClusters(pairs))
      .as[(Long, Long, Long, Long)].head()
    assert(stats === ((2L, 5L, 3L, 3L)))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val zero = Dedup.clusterStats(Dedup.duplicateClusters(empty))
      .as[(Long, Long, Long, Long)].head()
    assert(zero === ((0L, 0L, 0L, 0L)))
  }

  test("keepCanonical drops exactly the non-minimum cluster members") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // 2 and 3 lose to 1; unpaired 4 and 5 survive untouched
    assert(kept === Set(1L, 4L, 5L))
  }

  test("keepBest elects the highest score (ties: min id), nulls never beat scores") {
    val scored = docs.withColumn("score",
      when($"doc_id" === 1, 5.0).when($"doc_id" === 2, 9.0)
        .when($"doc_id" === 3, 9.0).otherwise(lit(null).cast("double")))
    // cluster {1,2,3}: 2 and 3 tie at 9.0, min id 2 wins; 4,5 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBest(scored, "doc_id", "score", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L, 5L))
    // all-null cluster falls back to min id
    val noScores = docs.withColumn("score", lit(null).cast("double"))
    val kept2 = Dedup.keepBest(noScores, "doc_id", "score", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === Set(1L, 4L, 5L))
  }

  test("editDistanceNearDuplicates finds exactly the brute-force pairs (d=1 and d=2)") {
    // deterministic pseudo-random short strings over a 3-letter alphabet —
    // small alphabet + short lengths force plenty of near-miss pairs,
    // including empty and sub-segment-count lengths (the zero-width
    // segment edge), so the pigeonhole blocking's completeness is pinned
    // against the O(n²) definition, not a curated fixture
    val alpha = "abc"
    val rows = (0 until 60).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"edns$i".getBytes("UTF-8")).map(b => (b & 0xff)).toSeq
      val len = h.head % 8
      (i.toLong, (0 until len).map(j => alpha(h(j + 1) % 3)).mkString)
    }
    val df = rows.toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistanceNearDuplicates(df, "id", "s", maxDist = d)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
      val brute = df.as("a").crossJoin(df.as("b"))
        .filter($"a.id" < $"b.id")
        .select($"a.id", $"b.id", levenshtein($"a.s", $"b.s").as("dist"))
        .filter($"dist" <= d)
        .as[(Long, Long, Int)].collect().toSet
      assert(brute.nonEmpty, "fixture produced no near pairs — regenerate")
      assert(got === brute, s"d=$d: blocking missed or invented pairs")
    }
  }

  test("editDistanceNearDuplicates: null strings are ignored, self-pairs excluded") {
    val df = Seq((1L, Some("abc")), (2L, Some("abd")), (3L, None), (4L, Some("abc")))
      .toDF("id", "s")
    val got = Dedup.editDistanceNearDuplicates(df, "id", "s", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1), (1L, 4L, 0), (2L, 4L, 1)))
  }

  test("fuzzyJoin finds exactly the brute-force cross-table pairs (d=1 and d=2)") {
    // same adversarial pseudo-random fixture as the self-join test, cut
    // into two disjoint tables so completeness is pinned against the
    // cross-table O(n·m) definition (includes dist-0 exact matches,
    // empty strings, and sub-segment-count lengths)
    val alpha = "abc"
    val rows = (0 until 60).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"fj$i".getBytes("UTF-8")).map(b => (b & 0xff)).toSeq
      val len = h.head % 8
      (i.toLong, (0 until len).map(j => alpha(h(j + 1) % 3)).mkString)
    }
    val left = rows.take(30).toDF("lid", "ls")
    val right = rows.drop(30).toDF("rid", "rs")
    for (d <- Seq(1, 2)) {
      val got = Dedup.fuzzyJoin(left, "lid", "ls", right, "rid", "rs", maxDist = d)
        .select("left_id", "right_id", "dist").as[(Long, Long, Int)].collect().toSet
      val brute = left.crossJoin(right)
        .select($"lid", $"rid", levenshtein($"ls", $"rs").as("dist"))
        .filter($"dist" <= d)
        .as[(Long, Long, Int)].collect().toSet
      assert(brute.nonEmpty, "fixture produced no near pairs — regenerate")
      assert(got === brute, s"d=$d: cross-table blocking missed or invented pairs")
    }
  }

  test("fuzzyJoin: inner semantics — unmatched and null-key rows emit nothing") {
    val left = Seq((1L, Some("abcdef")), (2L, Some("zzzzzz")), (3L, None))
      .toDF("lid", "ls")
    val right = Seq((10L, Some("abcdxf")), (11L, None)).toDF("rid", "rs")
    val got = Dedup.fuzzyJoin(left, "lid", "ls", right, "rid", "rs", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 10L, 1)))
  }
}
