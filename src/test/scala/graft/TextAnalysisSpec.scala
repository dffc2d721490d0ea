package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat and it is a good mat for the cat"),
    (2L, "der hund ist nicht auf der couch und das ist gut"),
    (3L, "le chat est dans la maison et les chiens dans le jardin pour que"),
    (4L, "xyzzy plugh !!!"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("token counts") {
    val got = docs.select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) === 15)
    assert(got(5L) === 0)
  }

  /** Independent reference for the BPE kernel: the ORACLE's algorithm —
    * per-byte '>xx|' symbol string, merges applied sequentially in rank
    * order, each as a left-to-right all-occurrences replace. Agreement
    * proves the encoder-loop kernel ≡ sequential application for the
    * well-formed default table. */
  private def bpeRef(text: String, merges: Seq[(String, String)]): Int = {
    def sym(tok: String): String =
      tok.getBytes("UTF-8").map(b => f">${b & 0xff}%02x|").mkString
    val parts = text.split(" ", -1)
    val toks = parts.zipWithIndex.map { case (t, i) => if (i == 0) t else " " + t }
      .filter(_.nonEmpty)
    toks.map { tok =>
      val merged = merges.foldLeft(sym(tok)) { case (s, (a, b)) =>
        s.replace(s">$a|>$b|", s">$a$b|")
      }
      merged.count(_ == '>')
    }.sum
  }

  test("byte-level BPE count: kernel equals the sequential-replace reference") {
    // hand-checked anchors: "the" -> th -> the = 1 symbol; " the" walks
    // the space-composites to 1; unicode counts BYTES (é = 2)
    val anchors = Seq(
      "the" -> 1, " the" -> 1, "" -> 0, "é" -> 2)
    anchors.foreach { case (s, want) =>
      val got = Seq(Tuple1(s)).toDF("t")
        .select(TextAnalysis.bpeCount($"t").as("n")).as[Int].head()
      assert(got === want, s"'$s' counted $got, want $want")
      assert(bpeRef(s, TextAnalysis.DefaultBpeMerges) === want, s"reference drifted on '$s'")
    }
    // the real corpus: kernel ≡ reference on every document
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text",
        TextAnalysis.bpeCount($"text").as("n"))
      .as[(Long, String, Int)].collect()
    real.foreach { case (id, text, n) =>
      assert(n === bpeRef(text, TextAnalysis.DefaultBpeMerges), s"doc $id diverged")
    }
    // sanity: merging only shrinks, never below the pre-token count;
    // byte total is the upper bound
    val bounds = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(TextAnalysis.bpeCount($"text").as("n"),
        octet_length($"text").as("bytes")).filter($"n" > $"bytes").count()
    assert(bounds === 0)
  }

  test("byte-level BPE encode: ids decode back to the exact input bytes; length equals the count kernel") {
    // the id map inverts trivially: ids < 256 are bytes, the rule at
    // rank r owns id 256 + r and expands to its concatenated byte-hex —
    // so decode(encode(text)) must reproduce text's UTF-8 bytes exactly,
    // for ANY segmentation. A wrong id anywhere breaks the round-trip.
    val expand: Map[Int, String] = {
      val bytes = (0 until 256).map(b => b -> f"$b%02x")
      val seen = scala.collection.mutable.HashSet[String]()
      val merged = TextAnalysis.DefaultBpeMerges.zipWithIndex.flatMap { case ((a, b), i) =>
        if (seen.add(a + b)) Some((256 + i) -> (a + b)) else None
      }
      (bytes ++ merged).toMap
    }
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text",
        TextAnalysis.bpeEncode($"text").as("ids"),
        TextAnalysis.bpeCount($"text").as("n"))
      .as[(Long, String, Seq[Int], Int)].collect()
    assert(real.nonEmpty)
    real.foreach { case (id, text, ids, n) =>
      assert(ids.length === n, s"doc $id: encode length != count")
      val decoded = ids.map(expand).mkString
      val want = text.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
      assert(decoded === want, s"doc $id: decode round-trip diverged")
    }
    // merged ids really occur (the fixture exercises the vocab, not just
    // the byte fallback)
    assert(real.exists(_._3.exists(_ >= 256)))
    // pre-tokenization anchors: mid-text tokens carry their leading
    // space; empty text encodes to the empty stream
    val anchor = Seq(Tuple1("a b")).toDF("t")
      .select(TextAnalysis.bpeEncode($"t").as("ids")).as[Seq[Int]].head()
    assert(anchor.map(expand).mkString === "a b".getBytes("UTF-8")
      .map(b => f"${b & 0xff}%02x").mkString)
    assert(Seq(Tuple1("")).toDF("t")
      .select(TextAnalysis.bpeEncode($"t").as("ids")).as[Seq[Int]].head().isEmpty)
  }

  test("bpeish token count splits letters runs, digits, punctuation") {
    val got = Seq(Tuple1("ab1c, x2!")).toDF("t")
      .select(TextAnalysis.bpeishTokenCount($"t")).as[Int].head()
    // ab / 1 / c / , / x / 2 / ! = 7
    assert(got === 7)
  }

  test("langId picks the dominant function-word language, und on no signal") {
    val got = docs.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "en")
    assert(got(2L) === "de")
    assert(got(3L) === "fr")
    assert(got(4L) === "und")
    assert(got(5L) === "und")
  }

  test("languageId frame: lang matches langId, confidence is the winning ratio") {
    val got = TextAnalysis.languageId(docs, "doc_id", "text")
      .as[(Long, String, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1: en hits = the(3) + and + it + is + a + on?(no) + for = 3+1+1+1+1+1 = 8 of 15
    assert(got(1L)._1 === "en")
    assert(got(1L)._2 > 0.0 && got(1L)._2 <= 1.0)
    assert(got(2L)._1 === "de")
    assert(got(3L)._1 === "fr")
    // no signal: und with confidence exactly 0
    assert(got(4L) === ("und", 0.0))
    assert(got(5L) === ("und", 0.0))
    // confidence equals the recomputed best-hit ratio for the en doc
    val en = docs.filter($"doc_id" === 1L)
      .select(TextAnalysis.stopwordRatio($"text", "en")).as[Double].head()
    assert(got(1L)._2 === en)
  }

  test("punct ratio and quality score bounded, deterministic on empty") {
    val rows = docs.select(
      TextAnalysis.punctRatio($"text").as("p"),
      TextAnalysis.qualityScore($"text").as("q")).as[(Double, Double)].collect()
    assert(rows.forall { case (p, q) => p >= 0 && p <= 1 && q >= 0 && q <= 1 })
  }

  test("fingerprint stable under trailing append (min over k-grams)") {
    val a = Seq(Tuple1("the quick brown fox jumps over everything")).toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("f")).as[String].head()
    val b = Seq(Tuple1("the quick brown fox jumps over everything zzz")).toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("f")).as[String].head()
    // min over shared 8-grams usually survives a small append
    assert(a === b)
  }

  test("profile runs over the real documents table") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet")
    val prof = TextAnalysis.profile(docsReal, "doc_id", "text")
    assert(prof.count() === docsReal.count())
    assert(prof.filter($"n_tokens" <= 0).count() === 0)
  }

  test("bm25 ranks repeated-term docs higher; absent-term docs are absent") {
    val corpus = Seq(
      (1L, "spark spark spark engine"),
      (2L, "spark engine"),
      (3L, "totally unrelated words here"),
      (4L, "hash join hash join hash")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(corpus, "doc_id", "text", Seq("spark", "hash"))
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(3L))                       // no query term -> no row
    assert(got(1L)._2 > got(2L)._2)                 // higher tf wins
    assert(got(1L)._3 === 1L && got(4L)._3 === 1L)  // n_terms counts matched terms
    assert(got.values.forall(_._2 > 0))
  }

  test("bm25 is deterministic under repartitioning") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = TextAnalysis.bm25(docsReal, "doc_id", "text", Seq("spark", "vector"))
    val b = TextAnalysis.bm25(docsReal.repartition(11), "doc_id", "text", Seq("spark", "vector"))
    assert(a.exceptAll(b).count() === 0)
    assert(a.count() > 0)
  }

  test("repetition kernel equals the HOF fold; quality flags behave") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select($"text").unionByName(docs.select($"text"))
    val both = docsReal.select(
      TextAnalysis.topNgramRatio($"text", 2).as("kernel"),
      Oracles.topNgramRatioFold($"text", 2).as("fold"))
    assert(both.filter(!($"kernel" <=> $"fold")).count() === 0)

    val q = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, ("the quick brown fox jumps over one lazy dog and then runs far away " * 3).trim),
      (3L, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20 21")
    ).toDF("doc_id", "text")
    val flags = TextAnalysis.gopherishFlags(q, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!flags(1L))  // pure repetition -> top bigram ratio ~1
    assert(!flags(3L))  // numeric tokens -> alpha ratio 0
  }

  test("corpusReport: exact percentiles, nulls and empties counted apart") {
    val corpus = (Seq.tabulate(9)(i => ("w " * (i + 1)).trim) :+ "")
      .map(Option(_)).:+(Option.empty[String]).toDF("text")
    val r = TextAnalysis.corpusReport(corpus, "text").head
    assert(r.getAs[Long]("n_docs") === 11L)
    assert(r.getAs[Long]("n_null") === 1L)
    assert(r.getAs[Long]("n_empty") === 1L)
    // token counts over non-null texts: 1..9 and 0 -> p50 of {0,1,...,9} = 4.5
    assert(r.getAs[Double]("tokens_p50") === 4.5)
    assert(r.getAs[Double]("tokens_mean") === 4.5)
  }

  test("collapseTokenRuns removes consecutive duplicates; maxRun bounds the survivors") {
    val rows = Seq(
      "buy now now now and save",
      "a a a",
      "no repeats here",
      "x  x\tx" // mixed whitespace still one run
    ).toDF("text")
    val m1 = rows.select(TextAnalysis.collapseTokenRuns($"text").as("c")).as[String].collect()
    assert(m1.toSeq === Seq("buy now and save", "a", "no repeats here", "x"))
    val m2 = rows.select(TextAnalysis.collapseTokenRuns($"text", maxRun = 2).as("c"))
      .as[String].collect()
    assert(m2.toSeq === Seq("buy now now and save", "a a", "no repeats here", "x x"))
    // non-adjacent duplicates survive — this is run collapsing, not dedup
    val far = Seq("a b a b a").toDF("text")
      .select(TextAnalysis.collapseTokenRuns($"text").as("c")).as[String].head()
    assert(far === "a b a b a")
  }

  test("collapseTokenRuns kernel equals the HOF fold on the real corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
        TextAnalysis.collapseTokenRuns($"text").as("k"),
        Oracles.collapseTokenRunsFold($"text").as("f"))
      .filter($"k" =!= $"f")
    assert(diff.count() === 0)
    // and it does real work on this corpus (adjacent repeats exist)
    val changed = docs.filter(
      TextAnalysis.collapseTokenRuns($"text") =!= concat_ws(" ",
        graft.operators.Dedup.tokens($"text"))).count()
    assert(changed > 0)
  }

  test("chunkDocuments: full coverage, exact overlap, short tail, clean edges") {
    val rows = Seq(
      (1L, Some("abcdefghij")),  // len 10, size 4, overlap 1 -> starts 1,4,7[,10]
      (2L, Some("ab")),          // shorter than size -> one short chunk
      (3L, Some("")), (4L, None)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(rows, "doc_id", "text", size = 4, overlap = 1)
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2))
    // the would-be tail at start 10 ("j") is entirely contained in the
    // chunk at 7 ("ghij") — redundant tails are dropped, coverage intact
    assert(got.filter(_._1 == 1L).toSeq ===
      Seq((1L, 0, 1, "abcd"), (1L, 1, 4, "defg"), (1L, 2, 7, "ghij")))
    assert(got.filter(_._1 == 2L).toSeq === Seq((2L, 0, 1, "ab")))
    assert(!got.exists(r => r._1 == 3L || r._1 == 4L))
    // reassembly: stride prefixes plus the final chunk reproduce the doc
    val parts = got.filter(_._1 == 1L).map(_._4)
    assert(parts.init.map(_.take(3)).mkString + parts.last === "abcdefghij")
    // a genuinely new tail (not covered by its predecessor) still emits
    val more = TextAnalysis.chunkDocuments(
      Seq((9L, "abcdefgh")).toDF("doc_id", "text"), "doc_id", "text",
      size = 4, overlap = 1).as[(Long, Int, Int, String)].collect().sortBy(_._2)
    assert(more.toSeq ===
      Seq((9L, 0, 1, "abcd"), (9L, 1, 4, "defg"), (9L, 2, 7, "gh")))
  }

  test("normalizeNfc composes combining marks; normalizeWhitespace collapses runs") {
    // escapes, not literals, so source encoding can't silently pre-compose
    val rows = Seq(
      (1L, Some("cafe\u0301")),  // e + combining acute -> precomposed e-acute
      (2L, Some("\u212B")),      // Angstrom sign -> A-ring (U+00C5)
      (3L, Some("caf\u00e9")),   // already NFC: unchanged
      (4L, Some("")), (5L, None)
    ).toDF("id", "text")
    val got = rows.select($"id", TextAnalysis.normalizeNfc($"text").as("n"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains("caf\u00e9"))
    assert(got(2L).contains("\u00c5"))
    assert(got(3L).contains("caf\u00e9"))
    assert(got(4L).contains(""))
    assert(got(5L).isEmpty)
    val ws = Seq(("a \t b\n\n c ", 1)).toDF("t", "i")
      .select(TextAnalysis.normalizeWhitespace($"t")).head.getString(0)
    assert(ws === "a b c")
  }

  test("oovRate counts per-occurrence misses; empty and null texts degrade cleanly") {
    val docs = Seq(
      (1L, Some("the cat sat on the mat")),  // "mat" OOV, 2x "the" known
      (2L, Some("zz zz qq")),                // all OOV
      (3L, Some("")),                        // 0 tokens
      (4L, None)                             // null text
    ).toDF("doc_id", "text")
    val vocab = Seq("the", "cat", "sat", "on").toDF("tok")
    val got = TextAnalysis.oovRate(docs, "doc_id", "text", vocab)
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((Some(6L), Some(1L), Some(0.166667))))
    assert(got(2L) === ((Some(3L), Some(3L), Some(1.0))))
    assert(got(3L) === ((Some(0L), Some(0L), Some(0.0))))
    assert(got(4L) === ((None, None, None)))
  }

  test("charEntropy: known values, edge cases, kernel equals the HOF fold") {
    val cases = Seq(
      (1L, Some("aab")),          // -2/3·log2(2/3) - 1/3·log2(1/3) = 0.918296
      (2L, Some("")),             // empty -> 0.0
      (3L, None),                 // null -> null
      (4L, Some("aaaa")),         // one symbol -> 0.0
      (5L, Some("ab𝄞𝄞"))          // astral chars count as ONE code point
    ).toDF("id", "text")
    val got = cases.select($"id", TextAnalysis.charEntropy($"text").as("h"))
      .as[(Long, Option[Double])].collect().toMap
    assert(math.abs(got(1L).get - 0.9182958340544896) < 1e-12)
    assert(got(2L).contains(0.0))
    assert(got(3L).isEmpty)
    assert(got(4L).contains(0.0))
    assert(math.abs(got(5L).get - 1.5) < 1e-12) // p = (1/4, 1/4, 2/4)
    // kernel === interpreted fold on the real corpus (1e-9: fold sums in
    // array order, kernel in hash-map order — same values, different order)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
        TextAnalysis.charEntropy($"text").as("k"),
        Oracles.charEntropyFold($"text").as("f"))
      .filter(abs($"k" - $"f") > 1e-9)
    assert(diff.count() === 0)
  }

  test("dedupLines keeps each line's first occurrence, preserving order") {
    val doc = Seq(
      "intro\nrepeat me\nbody\nrepeat me\noutro",
      "only\nunique\nlines"
    ).toDF("text")
    val got = doc.select(TextAnalysis.dedupLines($"text").as("d")).as[String].collect()
    assert(got(0) === "intro\nrepeat me\nbody\noutro")
    assert(got(1) === "only\nunique\nlines")
    // custom separator (paragraph dedup)
    val para = Seq("p1||p2||p1||p3").toDF("text")
      .select(TextAnalysis.dedupLines($"text", "||").as("d")).as[String].head()
    assert(para === "p1||p2||p3")
  }

  test("redactPii tags emails, IPv4s and intl phones, leaves clean text alone") {
    val rows = Seq(
      "contact me at jane.doe+x@example.co.uk today",
      "server 192.168.1.254 responded",
      "call +4915123456789 now",
      "nothing sensitive here 12.5 percent"
    ).toDF("text").select(TextAnalysis.redactPii($"text").as("r")).as[String].collect()
    assert(rows(0) === "contact me at <EMAIL> today")
    assert(rows(1) === "server <IPV4> responded")
    assert(rows(2) === "call <PHONE> now")
    assert(rows(3) === "nothing sensitive here 12.5 percent")
  }

  test("redactPiiExtended: checksum-validated classes redact; failures stay verbatim") {
    val rows = Seq(
      // Luhn-valid public test cards in three separator styles
      "pay 4111 1111 1111 1111 now",
      "card 5500-0000-0000-0004 on file",
      "amex 378282246310005 works",
      // the false-positive guards: 16 digits failing Luhn, off-by-one card
      "fake 1234 5678 9012 3456 stays",
      "fake 4111 1111 1111 1112 stays",
      // a >19-digit run is an identifier, never a card
      "ref 12345678901234567890 is an id",
      // IBAN: mod-97 pass and fail
      "iban DE89370400440532013000 ok",
      "iban GB82WEST12345698765432 ok",
      "iban DE89370400440532013001 bad",
      // DNI: check letter pass and fail; SSN is format-only
      "id 12345678Z here",
      "id 12345678A here",
      "ssn 123-45-6789 filed",
      // the base trio still runs first
      "mail a@b.co tel +49 151 234 5678"
    ).toDF("text").select(TextAnalysis.redactPiiExtended($"text").as("r")).as[String].collect()
    assert(rows(0) === "pay <CARD> now")
    assert(rows(1) === "card <CARD> on file")
    assert(rows(2) === "amex <CARD> works")
    assert(rows(3) === "fake 1234 5678 9012 3456 stays")
    assert(rows(4) === "fake 4111 1111 1111 1112 stays")
    assert(rows(5) === "ref 12345678901234567890 is an id")
    assert(rows(6) === "iban <IBAN> ok")
    assert(rows(7) === "iban <IBAN> ok")
    assert(rows(8) === "iban DE89370400440532013001 bad")
    assert(rows(9) === "id <DNI> here")
    assert(rows(10) === "id 12345678A here")
    assert(rows(11) === "ssn <SSN> filed")
    assert(rows(12) === "mail <EMAIL> tel <PHONE>")
  }

  test("winnowing: coverage gap <= w, shared substring guarantee, edge lengths") {
    val k = 12; val w = 8
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val fps = TextAnalysis.winnow(docsReal, "doc_id", "text", k, w)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    assert(fps.nonEmpty)
    // winnowing's defining property: every window of w consecutive gram
    // positions contains a selected position, so consecutive selections
    // are at most w apart
    fps.foreach { case (id, rows) =>
      val ps = rows.map(_._2).sorted
      ps.sliding(2).foreach { case Array(a, b) =>
        assert(b - a <= w, s"doc $id gap $a->$b exceeds w")
      case _ => () }
      assert(ps.head <= w, s"doc $id first selection ${ps.head} outside first window")
    }
    // shorter than k: no grams, no fingerprints; k <= len < k+w-1: exactly
    // one truncated window, exactly one selection
    val edge = Seq((1L, "x" * (k - 1)), (2L, "abcdefghijklmn")).toDF("doc_id", "text")
    val edgeFps = TextAnalysis.winnow(edge, "doc_id", "text", k, w)
      .as[(Long, Int, Long)].collect()
    assert(!edgeFps.exists(_._1 == 1L))
    assert(edgeFps.count(_._1 == 2L) === 1)
  }

  test("unigram logprob: typical text outranks rare-token text; repartition-stable") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the mat"),
      (3L, "zyzzyva qwertyuiop flibbertigibbet")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 6L)
    // docs 1/2 share common tokens; doc 3's tokens each occur once
    assert(got(1L)._3 > got(3L)._3 && got(2L)._3 > got(3L)._3)
    val again = TextAnalysis.unigramLogProb(corpus.repartition(7), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got === again)
  }

  test("bigram logprob: hand-computed conditionals, order sensitivity, short docs absent") {
    val corpus = Seq(
      (1L, "a b"),
      (2L, "a c"),
      (3L, "x")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // prefix 'a' continues to b and c once each: P = 1/2 for both docs;
    // doc 3 has one token -> no bigrams -> absent
    val half = BigDecimal(math.log(0.5)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((1L, 1L, half)) && got(2L) === ((2L, 1L, half)))
    // word order matters: a reversed doc scores differently from itself
    // forward when the corpus only ever sees the forward order
    val ordered = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "sat cat the")
    ).toDF("doc_id", "text")
    val o = TextAnalysis.bigramLogProb(ordered, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(o(1L) > o(3L), s"forward ${o(1L)} must outrank reversed ${o(3L)}")
    // repartition-stable (decimal sums)
    val again = TextAnalysis.bigramLogProb(corpus.repartition(7), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got === again)
  }

  test("TokenPairs kernel matches the HOF-staged pair formulation") {
    // executable spec: explode(sequence) over the HOF tokenizer with
    // post-Generate element_at — the formulation the kernel replaced
    def staged(df: org.apache.spark.sql.DataFrame) = {
      val toks = graft.operators.Dedup.tokens($"text")
      val idxs = when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
        .otherwise(array().cast("array<int>"))
      df.select($"doc_id", toks.as("__w"), explode(idxs).as("__i"))
        .select($"doc_id",
          element_at($"__w", $"__i").as("w1"),
          element_at($"__w", $"__i" + 1).as("w2"))
    }
    def kernel(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id",
          explode(graft.functions.DedupExpressions.tokenPairsOf($"text")).as("__p"))
        .select($"doc_id", $"__p.w1".as("w1"), $"__p.w2".as("w2"))
    // every \s separator class, runs, leading/trailing, 0/1-token docs,
    // multi-byte UTF-8, repeated pairs (non-distinctness)
    val edge = Seq(
      (1L, "a b\tc\nd"), (2L, "  leading  inner  trailing "), (3L, "one"),
      (4L, ""), (5L, "émoji é́ pair"), (6L, "xy\fz\rw"),
      (7L, "go go go go")).toDF("doc_id", "text")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(200)
    for (df <- Seq(edge, corpus)) {
      val a = staged(df); val b = kernel(df)
      assert(a.exceptAll(b).count() === 0)
      assert(b.exceptAll(a).count() === 0)
    }
    // non-distinct: "go go go go" emits the same pair three times
    assert(kernel(edge).filter($"doc_id" === 7L).count() === 3)
  }

  test("frequentNgrams ranks by document frequency with deterministic ties") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma other"),
      (3L, "alpha beta gamma words"),
      (4L, "zeta eta theta iota")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.frequentNgrams(corpus, "doc_id", "text", n = 3, topK = 3)
      .as[(String, Long)].collect()
    assert(top.head === ("alpha beta gamma", 3L))
    assert(top.length === 3)
    // remaining df=1 grams tie; order must be gram-ascending
    assert(top.tail.map(_._1).sorted.toSeq === top.tail.map(_._1).toSeq)
    // distinct-per-doc: repeating a gram within one doc adds nothing
    val rep = Seq((1L, "x y z x y z"), (2L, "x y z only")).toDF("doc_id", "text")
    val df0 = TextAnalysis.frequentNgrams(rep, "doc_id", "text", n = 3, topK = 1)
      .as[(String, Long)].head()
    assert(df0 === ("x y z", 2L))
  }

  test("tfidf cosine: identical docs hit 1.0, overlap ranks above disjoint") {
    val corpus = Seq(
      (1L, "spark query engine optimizer"),
      (2L, "spark query engine optimizer"),
      (3L, "spark query planner internals"),
      (4L, "entirely unrelated cooking recipe")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.tfidfCosinePairs(corpus, "doc_id", "text",
        minSim = 0.0, maxTermDocFreq = 100)
      .as[(Long, Long, Double)].collect()
      .map(p => ((p._1, p._2), p._3)).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) > 0 && pairs((1L, 3L)) < pairs((1L, 2L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((3L, 4L)))
  }

  test("winnow kernel equals the staged HOF fold on real documents") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    val both = docsReal
      .select($"doc_id", TextAnalysis.winnowGramHashes($"text", 12).as("ghs"),
        TextAnalysis.winnowFingerprints($"text", 12, 8).as("kernel"))
      .select($"doc_id", $"kernel", Oracles.winnowSelect($"ghs", 8).as("fold"))
    assert(both.filter(!($"kernel" <=> $"fold")).count() === 0)
    // short-text edges: below k -> null, truncated window -> one selection;
    // non-BMP chars: kernel must slice by code points like substr does
    // (UTF-16 slicing would shift every gram after the astral char)
    val edges = Seq((1L, "too short"), (2L, "exactly twelve"), (3L, null),
        (4L, "emoji 😀 in the middle of this text here"),
        (5L, "😀😁 leading astral pair plus some padding"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.winnowFingerprints($"text", 12, 8).as("kernel"),
        Oracles.winnowFingerprintsFold($"text", 12, 8).as("fold"))
    assert(edges.filter(!($"kernel" <=> $"fold")).count() === 0)
  }

  test("BPE merges loader parses the public merges.txt format into hex rules") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merges")
    // "t h" / "th e" in the identity range; U+0120 (Ġ) is the GPT-2
    // byte→unicode image of the space byte 0x20
    val content = "#version: 0.2\nt h\nth e\n" + 288.toChar + " t\n\n"
    java.nio.file.Files.write(dir.resolve("merges.txt"), content.getBytes("UTF-8"))
    val rules = TextAnalysis.loadBpeMerges(dir.resolve("merges.txt").toString)
    assert(rules === Seq(("74", "68"), ("7468", "65"), ("20", "74")))
    // the loaded table drives the kernel like any other: "th" merges
    val counts = Seq((1L, "the the")).toDF("id", "text")
      .select(TextAnalysis.bpeCount($"text", rules).as("c")).as[Int].collect()
    // "the": [74,68,65] -> (74,68)@0 -> [7468,65] -> (7468,65)@1 -> one
    // symbol. " the": [20,74,68,65] -> (74,68)@0 (lowest rank first, NOT
    // the leftmost (20,74)@2) -> [20,7468,65] -> (7468,65)@1 ->
    // [20,746865] -> two symbols. Total 3.
    assert(counts.head === 1 + 2)
    // a symbol outside the GPT-2 byte alphabet refuses descriptively
    java.nio.file.Files.write(dir.resolve("bad.txt"), "t �\n".getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException](
      TextAnalysis.loadBpeMerges(dir.resolve("bad.txt").toString))
    assert(err.getMessage.contains("byte alphabet"))
    // malformed line (three symbols) refuses
    java.nio.file.Files.write(dir.resolve("bad2.txt"), "t h e\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      TextAnalysis.loadBpeMerges(dir.resolve("bad2.txt").toString))
  }

  test("BPE well-formedness validator accepts trainer-shaped tables, rejects ill-formed ones") {
    assert(TextAnalysis.isTrainingWellFormed(TextAnalysis.DefaultBpeMerges))
    assert(TextAnalysis.isTrainingWellFormed(TextAnalysis.StressBpeMerges50k))
    assert(TextAnalysis.validateBpeMerges(TextAnalysis.DefaultBpeMerges) eq
      TextAnalysis.DefaultBpeMerges)
    // rule 0 references the product '7468' that no earlier rule formed
    val illFormed = Seq(("7468", "65"), ("74", "68"))
    assert(!TextAnalysis.isTrainingWellFormed(illFormed))
    val err = intercept[IllegalArgumentException](TextAnalysis.validateBpeMerges(illFormed))
    assert(err.getMessage.contains("rule 0"))
    // non-hex symbols are structural violations too
    assert(!TextAnalysis.isTrainingWellFormed(Seq(("th", "e"))))
    assert(TextAnalysis.bpeWellFormednessViolation(illFormed).map(_._1) === Some(0))
    // order sensitivity: a composite symbol must be formed by a STRICTLY
    // EARLIER rule — the same two rules pass or fail on order alone
    assert(TextAnalysis.isTrainingWellFormed(Seq(("68", "65"), ("74", "6865"))))
    assert(!TextAnalysis.isTrainingWellFormed(Seq(("74", "6865"), ("68", "65"))))
  }

  test("winnowing pairs: duplicated docs share fingerprints, disjoint docs none") {
    val a = "the quick brown fox jumps over the lazy dog again and again for a while"
    val corpus = Seq(
      (1L, a),
      (2L, a + " with a small suffix edit"),
      (3L, "completely unrelated content that talks about query optimizers only")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowSimilarPairs(corpus, "doc_id", "text",
        k = 12, w = 8, minShared = 2, maxFpDocFreq = 100)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
  }

  test("qualityScore equals the hand-computed sigmoid over the gopher metrics") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val weights = Seq("mean_token_len" -> 0.4, "alpha_ratio" -> 2.5,
      "top_bigram_ratio" -> -3.0, "top_trigram_ratio" -> -2.0)
    val bias = -2.0
    val got = TextAnalysis.qualityScore(docs, "doc_id", "text", weights, bias)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    val metrics = TextAnalysis.gopherishFlags(docs, "doc_id", "text")
      .select("doc_id", "mean_token_len", "alpha_ratio",
        "top_bigram_ratio", "top_trigram_ratio")
      .as[(Long, Double, Double, Double, Double)].collect()
    metrics.foreach { case (id, mtl, ar, bg, tg) =>
      val z = bias + mtl * 0.4 + ar * 2.5 + bg * -3.0 + tg * -2.0
      val want = BigDecimal(1.0 / (1.0 + math.exp(-z)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) === want, s"doc $id")
    }
    // scores live strictly inside (0, 1) — a sigmoid, not a flag
    assert(got.values.forall(s => s > 0.0 && s < 1.0))
    // unknown feature names are refused loudly
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.qualityScoreExpr(Seq("no_such_metric" -> 1.0), 0.0)
    }
    assert(ex.getMessage.contains("no_such_metric"))
  }
}
