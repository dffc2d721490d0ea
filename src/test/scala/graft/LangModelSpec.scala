package graft

import org.apache.spark.sql.functions._

import graft.operators.LangModel

class LangModelSpec extends SparkSpec {
  import spark.implicits._

  test("every seed language self-classifies, and on a 60-char held-out suffix") {
    val seeds = LangModel.DefaultLangSeeds.toDF("expected", "text")
    val self = LangModel.langClassifyDefault(seeds, "expected", "text")
      .filter($"expected" =!= $"lang")
    assert(self.count() === 0, "a seed text failed to classify as its own language")
    val held = LangModel.DefaultLangSeeds.map { case (l, t) => (l, t.takeRight(60)) }
      .toDF("expected", "text")
    val heldMiss = LangModel.langClassifyDefault(held, "expected", "text")
      .filter($"expected" =!= $"lang")
    assert(heldMiss.count() === 0, "a held-out suffix failed to classify")
  }

  test("unseen script, empty, null, and shorter-than-n texts fall back to 'und'") {
    val docs = Seq(
      (1L, "გამარჯობა"), // Georgian
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "x") // shorter than the bigram width
    ).toDF("doc_id", "text")
    val out = LangModel.langClassifyDefault(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.forall(_.getString(1) === "und"))
    assert(out.forall(_.isNullAt(2)), "'und' rows must carry a null score")
  }

  test("argmax ties break (score DESC, lang ASC); floors price unmatched languages") {
    // two hand languages with IDENTICAL profiles: every doc that matches
    // one matches the other at the same score -> the tie must always
    // elect 'aa' over 'bb'
    val seed = Seq(("aa", "xyxy"), ("bb", "xyxy")).toDF("lang", "text")
    val profiles = LangModel.langProfiles(seed, "lang", "text")
    val out = LangModel.langClassify(
      Seq((1L, "xyxyxy")).toDF("doc_id", "text"), "doc_id", "text", profiles)
    assert(out.select("lang").as[String].head() === "aa")
    // asymmetric training sizes: the unmatched language's floor prices it
    // below the matched one, never above
    val seed2 = Seq(("aa", "xyxy"), ("cc", "qrqrqrqrqrqrqrqrqrqr")).toDF("lang", "text")
    val out2 = LangModel.langClassify(
      Seq((1L, "xy")).toDF("doc_id", "text"), "doc_id", "text",
      LangModel.langProfiles(seed2, "lang", "text"))
    assert(out2.select("lang").as[String].head() === "aa")
  }

  test("the synthetic unmatched candidate can win: best-floor language beats weak matches") {
    // 'dd' trains tiny (high floor); a doc matching ONLY 'ee' on one gram
    // out of many scores below dd's pure-floor candidate when ee's floor
    // is much lower — the dominated-language argument's live branch
    val seed = Seq(("dd", "ab"),
      ("ee", "zz" + "qrstuvwx" * 8)).toDF("lang", "text")
    val profiles = LangModel.langProfiles(seed, "lang", "text")
    val doc = Seq((1L, "zz" + "kmkmkmkmkmkmkmkm")).toDF("doc_id", "text")
    val out = LangModel.langClassify(doc, "doc_id", "text", profiles).collect().head
    // sanity: something matched (zz hits ee), so this is NOT an 'und' row
    assert(out.getString(1) === "dd",
      s"expected the floor candidate to win, got ${out.getString(1)}")
  }

  test("classification plan: profiles broadcast, no cartesian, one bounded explode") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = LangModel.langClassifyDefault(docs, "doc_id", "text")
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "profile probe must broadcast")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "language fan-out must ride equi-joins only")
  }

  test("CharGrams kernel ≡ the interpreted HOF fold, incl. astral plane and multi-byte scripts") {
    import graft.functions.DedupExpressions
    def kernel(n: Int) = coalesce(DedupExpressions.charGramsOf($"text", n),
      array().cast("array<string>"))
    val cases = Seq("hello there", "ab", "a", "", "𝄞a𝄞b",
      "человек добрый", "人人生而自由", null.asInstanceOf[String])
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    assert(cases.select(kernel(2).as("k"), Oracles.gramArrayFold($"text", 2).as("f"))
      .filter(not($"k" <=> $"f")).count() === 0)
    // astral-plane sanity: 𝄞a𝄞b has 4 code points -> 3 bigrams
    val astral = cases.filter($"id" === 4L).select(kernel(2)).head().getSeq[String](0)
    assert(astral === Seq("𝄞a", "a𝄞", "𝄞b"))
    // and on the real corpus at both model widths
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    Seq(2, 3).foreach { n =>
      assert(docs.select(kernel(n).as("k"), Oracles.gramArrayFold($"text", n).as("f"))
        .filter(not($"k" <=> $"f")).count() === 0, s"kernel/fold divergence at n=$n")
    }
  }

  test("a single-partition scan redistributes before the gram explode") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").coalesce(1)
    val plan = LangModel.langClassifyDefault(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning"),
      "the narrow prefix projection must spread when the scan is starved")
  }

  test("prefix cap bounds the gram explode; the tail never changes the verdict") {
    val en = LangModel.DefaultLangSeeds.toMap.apply("en")
    val ru = LangModel.DefaultLangSeeds.toMap.apply("ru")
    // English prefix longer than the cap, Russian tail beyond it
    val docs = Seq((1L, (en + " " + en).take(300) + " " + ru)).toDF("doc_id", "text")
    val out = LangModel.langClassifyDefault(docs, "doc_id", "text", prefixLen = 256)
    assert(out.select("lang").as[String].head() === "en")
  }
}
