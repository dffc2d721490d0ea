package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained character-n-gram language identification — the model tier
  * above [[TextAnalysis.langId]]'s 4-language stopword heuristic: per-
  * language character-bigram log-probability profiles learned from seed
  * corpora, argmax classification over 25 languages including non-Latin
  * scripts (Cyrillic, Greek, Arabic, Hebrew, Devanagari, CJK, Hangul,
  * Thai). The standard public recipe (Cavnar & Trenkle, SDAIR'94
  * n-gram text categorization; the langid.py / fastText-LID shape)
  * reduced to deterministic relational algebra: train = one aggregation
  * over the seed table, classify = one broadcast join over the corpus —
  * both DuckDB-replayable, like [[TextAnalysis.unigramLogProb]].
  *
  * Determinism contract: probabilities are add-one-smoothed, log-probs
  * round to 6 decimals at TRAIN time, per-document scores are decimal
  * sums of those rounded values (order-independent), and ties break
  * (score DESC, lang ASC). Case folding is ASCII-only `translate` —
  * locale-independent and byte-identical in Spark and DuckDB, where a
  * full Unicode lowercase could diverge engine to engine.
  *
  * Scale shape: profiles are model-sized (≤ a few thousand (lang, gram)
  * rows — they BROADCAST); each document contributes at most
  * `prefixLen − 1` bigram rows (language ID needs a prefix, not the
  * document — the standard practice), so classification is one bounded
  * explode, one broadcast hash join, one (id, lang) aggregation. The
  * unmatched-language arm never fans the corpus out by the language
  * count: for a language with zero matched grams the score is
  * `n_grams · floor(lang)`, so the best unmatched candidate is the SAME
  * language for every document (max floor, ties lang ASC) and one
  * synthetic candidate row per document covers all 24 losing arms —
  * every other unmatched language is dominated and provably cannot win.
  */
object LangModel {

  /** Seed corpora: Universal Declaration of Human Rights, Article 1
    * (public domain, the standard public LID seed text) in 25 languages,
    * lowercased, punctuation-stripped; Latin-script entries carry plain
    * ASCII letterforms (the ASCII case-fold contract above). Unicode
    * escapes keep the source file build-encoding-proof. */
  val DefaultLangSeeds: Seq[(String, String)] = Seq(
    "ar" -> "\u064a\u0648\u0644\u062f \u062c\u0645\u064a\u0639 \u0627\u0644\u0646\u0627\u0633 \u0627\u062d\u0631\u0627\u0631\u0627 \u0645\u062a\u0633\u0627\u0648\u064a\u0646 \u0641\u064a \u0627\u0644\u0643\u0631\u0627\u0645\u0629 \u0648\u0627\u0644\u062d\u0642\u0648\u0642 \u0648\u0642\u062f \u0648\u0647\u0628\u0648\u0627 \u0639\u0642\u0644\u0627 \u0648\u0636\u0645\u064a\u0631\u0627 \u0648\u0639\u0644\u064a\u0647\u0645 \u0627\u0646 \u064a\u0639\u0627\u0645\u0644 \u0628\u0639\u0636\u0647\u0645 \u0628\u0639\u0636\u0627 \u0628\u0631\u0648\u062d \u0627\u0644\u0627\u062e\u0627\u0621",
    "cs" -> "vsichni lide rodi se svobodni a sobe rovni co do dustojnosti a prav jsou nadani rozumem a svedomim a maji spolu jednat v duchu bratrstvi",
    "da" -> "alle mennesker er fodt frie og lige i vaerdighed og rettigheder de er udstyret med fornuft og samvittighed og de bor handle mod hverandre i en broderskabets aand",
    "de" -> "alle menschen sind frei und gleich an w\u00fcrde und rechten geboren sie sind mit vernunft und gewissen begabt und sollen einander im geiste der br\u00fcderlichkeit begegnen",
    "el" -> "\u03bf\u03bb\u03bf\u03b9 \u03bf\u03b9 \u03b1\u03bd\u03b8\u03c1\u03c9\u03c0\u03bf\u03b9 \u03b3\u03b5\u03bd\u03bd\u03b9\u03bf\u03c5\u03bd\u03c4\u03b1\u03b9 \u03b5\u03bb\u03b5\u03c5\u03b8\u03b5\u03c1\u03bf\u03b9 \u03ba\u03b1\u03b9 \u03b9\u03c3\u03bf\u03b9 \u03c3\u03c4\u03b7\u03bd \u03b1\u03be\u03b9\u03bf\u03c0\u03c1\u03b5\u03c0\u03b5\u03b9\u03b1 \u03ba\u03b1\u03b9 \u03c4\u03b1 \u03b4\u03b9\u03ba\u03b1\u03b9\u03c9\u03bc\u03b1\u03c4\u03b1 \u03b5\u03b9\u03bd\u03b1\u03b9 \u03c0\u03c1\u03bf\u03b9\u03ba\u03b9\u03c3\u03bc\u03b5\u03bd\u03bf\u03b9 \u03bc\u03b5 \u03bb\u03bf\u03b3\u03b9\u03ba\u03b7 \u03ba\u03b1\u03b9 \u03c3\u03c5\u03bd\u03b5\u03b9\u03b4\u03b7\u03c3\u03b7 \u03ba\u03b1\u03b9 \u03bf\u03c6\u03b5\u03b9\u03bb\u03bf\u03c5\u03bd \u03bd\u03b1 \u03c3\u03c5\u03bc\u03c0\u03b5\u03c1\u03b9\u03c6\u03b5\u03c1\u03bf\u03bd\u03c4\u03b1\u03b9 \u03bc\u03b5\u03c4\u03b1\u03be\u03c5 \u03c4\u03bf\u03c5\u03c2 \u03bc\u03b5 \u03c0\u03bd\u03b5\u03c5\u03bc\u03b1 \u03b1\u03b4\u03b5\u03bb\u03c6\u03bf\u03c3\u03c5\u03bd\u03b7\u03c2",
    "en" -> "all human beings are born free and equal in dignity and rights they are endowed with reason and conscience and should act towards one another in a spirit of brotherhood",
    "es" -> "todos los seres humanos nacen libres e iguales en dignidad y derechos y dotados como estan de razon y conciencia deben comportarse fraternalmente los unos con los otros",
    "fi" -> "kaikki ihmiset syntyvat vapaina ja tasavertaisina arvoltaan ja oikeuksiltaan heille on annettu jarki ja omatunto ja heidan on toimittava toisiaan kohtaan veljeyden hengessa",
    "fr" -> "tous les etres humains naissent libres et egaux en dignite et en droits ils sont doues de raison et de conscience et doivent agir les uns envers les autres dans un esprit de fraternite",
    "he" -> "\u05db\u05dc \u05d1\u05e0\u05d9 \u05d4\u05d0\u05d3\u05dd \u05e0\u05d5\u05dc\u05d3\u05d5 \u05d1\u05e0\u05d9 \u05d7\u05d5\u05e8\u05d9\u05df \u05d5\u05e9\u05d5\u05d5\u05d9\u05dd \u05d1\u05e2\u05e8\u05db\u05dd \u05d5\u05d1\u05d6\u05db\u05d5\u05d9\u05d5\u05ea\u05d9\u05d4\u05dd \u05db\u05d5\u05dc\u05dd \u05d7\u05d5\u05e0\u05e0\u05d5 \u05d1\u05ea\u05d1\u05d5\u05e0\u05d4 \u05d5\u05d1\u05de\u05e6\u05e4\u05d5\u05df \u05dc\u05e4\u05d9\u05db\u05da \u05d7\u05d5\u05d1\u05d4 \u05e2\u05dc\u05d9\u05d4\u05dd \u05dc\u05e0\u05d4\u05d5\u05d2 \u05d0\u05d9\u05e9 \u05d1\u05e8\u05e2\u05d4\u05d5 \u05d1\u05e8\u05d5\u05d7 \u05e9\u05dc \u05d0\u05d7\u05d5\u05d5\u05d4",
    "hi" -> "\u0938\u092d\u0940 \u092e\u0928\u0941\u0937\u094d\u092f\u094b\u0902 \u0915\u094b \u0917\u094c\u0930\u0935 \u0914\u0930 \u0905\u0927\u093f\u0915\u093e\u0930\u094b\u0902 \u0915\u0947 \u0935\u093f\u0937\u092f \u092e\u0947\u0902 \u091c\u0928\u094d\u092e\u091c\u093e\u0924 \u0938\u094d\u0935\u0924\u0928\u094d\u0924\u094d\u0930\u0924\u093e \u0914\u0930 \u0938\u092e\u093e\u0928\u0924\u093e \u092a\u094d\u0930\u093e\u092a\u094d\u0924 \u0939\u0948 \u0909\u0928\u094d\u0939\u0947\u0902 \u092c\u0941\u0926\u094d\u0927\u093f \u0914\u0930 \u0905\u0928\u094d\u0924\u0930\u093e\u0924\u094d\u092e\u093e \u0915\u0940 \u0926\u0947\u0928 \u092a\u094d\u0930\u093e\u092a\u094d\u0924 \u0939\u0948",
    "hu" -> "minden emberi leny szabadon szuletik es egyenlo meltosaga es joga van az emberek esszel es lelkiismerettel birvan egymassal szemben testveri szellemben kell hogy viseltessenek",
    "it" -> "tutti gli esseri umani nascono liberi ed eguali in dignita e diritti essi sono dotati di ragione e di coscienza e devono agire gli uni verso gli altri in spirito di fratellanza",
    "ja" -> "\u3059\u3079\u3066\u306e\u4eba\u9593\u306f \u751f\u307e\u308c\u306a\u304c\u3089\u306b\u3057\u3066\u81ea\u7531\u3067\u3042\u308a \u304b\u3064 \u5c0a\u53b3\u3068\u6a29\u5229\u3068\u306b\u3064\u3044\u3066\u5e73\u7b49\u3067\u3042\u308b \u4eba\u9593\u306f \u7406\u6027\u3068\u826f\u5fc3\u3068\u3092\u6388\u3051\u3089\u308c\u3066\u304a\u308a \u4e92\u3044\u306b\u540c\u80de\u306e\u7cbe\u795e\u3092\u3082\u3063\u3066\u884c\u52d5\u3057\u306a\u3051\u308c\u3070\u306a\u3089\u306a\u3044",
    "ko" -> "\ubaa8\ub4e0 \uc778\uac04\uc740 \ud0dc\uc5b4\ub0a0 \ub54c\ubd80\ud130 \uc790\uc720\ub85c\uc6b0\uba70 \uadf8 \uc874\uc5c4\uacfc \uad8c\ub9ac\uc5d0 \uc788\uc5b4 \ub3d9\ub4f1\ud558\ub2e4 \uc778\uac04\uc740 \ucc9c\ubd80\uc801\uc73c\ub85c \uc774\uc131\uacfc \uc591\uc2ec\uc744 \ubd80\uc5ec\ubc1b\uc558\uc73c\uba70 \uc11c\ub85c \ud615\uc81c\uc560\uc758 \uc815\uc2e0\uc73c\ub85c \ud589\ub3d9\ud558\uc5ec\uc57c \ud55c\ub2e4",
    "nl" -> "alle mensen worden vrij en gelijk in waardigheid en rechten geboren zij zijn begiftigd met verstand en geweten en behoren zich jegens elkander in een geest van broederschap te gedragen",
    "no" -> "alle mennesker er fodt frie og med samme menneskeverd og menneskerettigheter de er utstyrt med fornuft og samvittighet og bor handle mot hverandre i brorskapets aand",
    "pl" -> "wszyscy ludzie rodza sie wolni i rowni pod wzgledem swej godnosci i swych praw sa oni obdarzeni rozumem i sumieniem i powinni postepowac wobec innych w duchu braterstwa",
    "pt" -> "todos os seres humanos nascem livres e iguais em dignidade e em direitos dotados de razao e de consciencia devem agir uns para com os outros em espirito de fraternidade",
    "ro" -> "toate fiintele umane se nasc libere si egale in demnitate si in drepturi ele sunt inzestrate cu ratiune si constiinta si trebuie sa se comporte unele fata de altele in spiritul fraternitatii",
    "ru" -> "\u0432\u0441\u0435 \u043b\u044e\u0434\u0438 \u0440\u043e\u0436\u0434\u0430\u044e\u0442\u0441\u044f \u0441\u0432\u043e\u0431\u043e\u0434\u043d\u044b\u043c\u0438 \u0438 \u0440\u0430\u0432\u043d\u044b\u043c\u0438 \u0432 \u0441\u0432\u043e\u0435\u043c \u0434\u043e\u0441\u0442\u043e\u0438\u043d\u0441\u0442\u0432\u0435 \u0438 \u043f\u0440\u0430\u0432\u0430\u0445 \u043e\u043d\u0438 \u043d\u0430\u0434\u0435\u043b\u0435\u043d\u044b \u0440\u0430\u0437\u0443\u043c\u043e\u043c \u0438 \u0441\u043e\u0432\u0435\u0441\u0442\u044c\u044e \u0438 \u0434\u043e\u043b\u0436\u043d\u044b \u043f\u043e\u0441\u0442\u0443\u043f\u0430\u0442\u044c \u0432 \u043e\u0442\u043d\u043e\u0448\u0435\u043d\u0438\u0438 \u0434\u0440\u0443\u0433 \u0434\u0440\u0443\u0433\u0430 \u0432 \u0434\u0443\u0445\u0435 \u0431\u0440\u0430\u0442\u0441\u0442\u0432\u0430",
    "sv" -> "alla manniskor ar fodda fria och lika i varde och rattigheter de har utrustats med fornuft och samvete och bor handla gentemot varandra i en anda av gemenskap",
    "th" -> "\u0e21\u0e19\u0e38\u0e29\u0e22\u0e4c\u0e17\u0e31\u0e49\u0e07\u0e1b\u0e27\u0e07\u0e40\u0e01\u0e34\u0e14\u0e21\u0e32\u0e21\u0e35\u0e2d\u0e34\u0e2a\u0e23\u0e30\u0e41\u0e25\u0e30\u0e40\u0e2a\u0e21\u0e2d\u0e20\u0e32\u0e04\u0e01\u0e31\u0e19\u0e43\u0e19\u0e28\u0e31\u0e01\u0e14\u0e34\u0e4c\u0e28\u0e23\u0e35\u0e41\u0e25\u0e30\u0e2a\u0e34\u0e17\u0e18\u0e34 \u0e15\u0e48\u0e32\u0e07\u0e43\u0e19\u0e15\u0e19\u0e21\u0e35\u0e40\u0e2b\u0e15\u0e38\u0e1c\u0e25\u0e41\u0e25\u0e30\u0e21\u0e42\u0e19\u0e18\u0e23\u0e23\u0e21 \u0e41\u0e25\u0e30\u0e04\u0e27\u0e23\u0e1b\u0e0f\u0e34\u0e1a\u0e31\u0e15\u0e34\u0e15\u0e48\u0e2d\u0e01\u0e31\u0e19\u0e14\u0e49\u0e27\u0e22\u0e08\u0e34\u0e15\u0e27\u0e34\u0e0d\u0e0d\u0e32\u0e13\u0e41\u0e2b\u0e48\u0e07\u0e20\u0e23\u0e32\u0e14\u0e23\u0e20\u0e32\u0e1e",
    "tr" -> "butun insanlar hur haysiyet ve haklar bakimindan esit dogarlar akil ve vicdana sahiptirler ve birbirlerine karsi kardeslik zihniyeti ile hareket etmelidirler",
    "zh" -> "\u4eba\u4eba\u751f\u800c\u81ea\u7531 \u5728\u5c0a\u4e25\u548c\u6743\u5229\u4e0a\u4e00\u5f8b\u5e73\u7b49 \u4ed6\u4eec\u8d4b\u6709\u7406\u6027\u548c\u826f\u5fc3 \u5e76\u5e94\u4ee5\u5144\u5f1f\u5173\u7cfb\u7684\u7cbe\u795e\u76f8\u5bf9\u5f85",
  )

  private val AsciiUpper = ('A' to 'Z').mkString
  private val AsciiLower = ('a' to 'z').mkString

  /** ASCII-only case fold (see the determinism contract). */
  private def foldCase(c: Column): Column = translate(c, AsciiUpper, AsciiLower)

  /** Character n-grams of `t` as an array; empty when null or shorter
    * than n. The codegen'd [[graft.functions.CharGrams]] kernel — one
    * boundary pass per row where the HOF form's repeated codepoint-
    * addressed `substr` re-scans the prefix per gram (the measured hot
    * spot of classification); the test-side `Oracles.gramArrayFold` is
    * the interpreted twin the parity spec folds. */
  private def gramArray(t: Column, n: Int): Column =
    coalesce(graft.functions.DedupExpressions.charGramsOf(t, n),
      array().cast("array<string>"))

  /** Train per-language character-n-gram profiles from a (lang, text)
    * seed table: add-one smoothing over the GLOBAL gram vocabulary,
    * log-probs and the per-language unseen-gram floor both rounded to 6
    * decimals (the values [[langClassify]] sums).
    *
    * One aggregation over seed-sized data; the vocabulary size is a
    * driver scalar (bounded, model-artifact-sized — the merges-table
    * precedent).
    *
    * @return (lang, gram, logp, floor) — broadcastable model rows
    */
  def langProfiles(
      seed: DataFrame,
      langCol: String,
      textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, "n must be at least 1")
    // ONE aggregation job over seed-sized data, collected whole: the
    // gram-count table IS the model (a few thousand (lang, gram, cnt)
    // rows — bounded by construction), and deriving the vocabulary size,
    // per-language totals, and log-probs locally avoids re-running the
    // seed explode for each side of a counts⋈totals join every time a
    // consumer evaluates the profiles. Arithmetic is the same IEEE ops +
    // 6-decimal HALF_UP rounds the oracle replays; the returned frame is
    // a local relation that broadcasts as-is into classification.
    val counts = seed
      .select(col(langCol).as("lang"),
        explode(gramArray(foldCase(col(textCol)), n)).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val v = counts.map(_._2).distinct.length.toDouble
    val tot = counts.groupBy(_._1).map { case (l, rs) => (l, rs.map(_._3).sum) }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = counts.map { case (l, g, c) =>
      val t = tot(l).toDouble
      (l, g, r6(math.log((c + 1.0) / (t + v))), r6(math.log(1.0 / (t + v))))
    }
    import seed.sparkSession.implicits._
    rows.toSeq.toDF("lang", "gram", "logp", "floor")
  }

  /** Classify each document against trained [[langProfiles]]: score(l) =
    * Σ over the prefix's grams of logp(gram, l), unseen grams at l's
    * floor; argmax with (score DESC, lang ASC) ties; "und" (score null)
    * when NO language matches any gram — the unseen-script / degraded-
    * input fallback (empty, null, and shorter-than-n texts included).
    *
    * @param prefixLen characters of the document the model reads
    * @return (idCol, lang, lang_score) — lang_score rounded to 6
    */
  def langClassify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      profiles: DataFrame,
      n: Int = 2,
      prefixLen: Int = 256): DataFrame = {
    require(n >= 1, "n must be at least 1")
    require(prefixLen >= n, "prefixLen must cover at least one gram")
    val pref = df.select(col(idCol),
      foldCase(col(textCol).substr(lit(1), lit(prefixLen))).as("__t"))
    // the gram explode multiplies per-row work by ~prefixLen·|matching
    // langs|; when the incoming scan offers fewer partitions than the
    // cluster (one small file — the single-file bench layout, or a skewed
    // file mix), the whole explode+probe+partial-agg chain single-threads.
    // Spread the NARROW (id, ≤prefixLen-char prefix) projection first:
    // the shuffle moves ~0.2% of the bytes the explode then produces.
    // Results are unaffected — every downstream step is key-addressed
    // (decimal sums, struct-min elections are order-independent).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (!pref.isStreaming && pref.rdd.getNumPartitions < par)
        pref.repartition(par)
      else pref
    val base = spread.select(col(idCol), gramArray(col("__t"), n).as("__gs"))
      .select(col(idCol), col("__gs"), size(col("__gs")).as("__g"))
    val grams = base.select(col(idCol), col("__g"), explode(col("__gs")).as("gram"))
    val prof = profiles.select(col("lang"), col("gram"),
      col("logp").cast("double").as("logp"))
    // matched-language candidates: decimal sum of 6-decimal logps (order-
    // independent), unmatched remainder of the prefix priced at the floor
    val floors = profiles.select(col("lang"), col("floor").cast("double").as("floor"))
      .distinct()
    val matched = grams.join(broadcast(prof), Seq("gram"))
      .groupBy(col(idCol), col("lang"))
      .agg(sum(col("logp").cast("decimal(28,6)")).as("__mlp"),
        count(lit(1)).as("__mc"), max(col("__g")).as("__g"))
      .join(broadcast(floors), Seq("lang"))
      .select(col(idCol), col("lang"),
        round(col("__mlp").cast("double") +
          (col("__g") - col("__mc")) * col("floor"), 6).as("score"),
        col("__mc"))
    // the one synthetic candidate that covers every unmatched language:
    // the max-floor language (ties lang ASC) — all others are dominated.
    // The election is a one-row driver collect over MODEL-sized data (the
    // vocabulary-count precedent), inlined as literals so the corpus side
    // needs no join at all for the unmatched arm
    val bf = floors
      .agg(min(struct((-col("floor")).as("nf"), col("lang").as("l"))).as("__bf"))
      .select((-col("__bf.nf")).as("floor"), col("__bf.l").as("lang"))
      .collect().head
    val (bfFloor, bfLang) = (bf.getDouble(0), bf.getString(1))
    val synthetic = base.select(col(idCol), col("__g"))
      .select(col(idCol), lit(bfLang).as("lang"),
        round(col("__g") * lit(bfFloor), 6).as("score"), lit(0L).as("__mc"))
    matched.unionByName(synthetic)
      .groupBy(col(idCol))
      .agg(min(struct((-col("score")).as("ns"), col("lang").as("l"))).as("__b"),
        max(col("__mc")).as("__maxm"))
      .select(col(idCol),
        when(col("__maxm") === 0, lit("und"))
          .otherwise(col("__b").getField("l")).as("lang"),
        when(col("__maxm") === 0, lit(null).cast("double"))
          .otherwise(-col("__b").getField("ns")).as("lang_score"))
  }

  /** [[langClassify]] against profiles trained on [[DefaultLangSeeds]] —
    * the one-call form a curation pipeline gates on. */
  def langClassifyDefault(
      df: DataFrame,
      idCol: String,
      textCol: String,
      prefixLen: Int = 256): DataFrame = {
    import df.sparkSession.implicits._
    val seed = DefaultLangSeeds.toDF("lang", "text")
    langClassify(df, idCol, textCol, langProfiles(seed, "lang", "text"), 2, prefixLen)
  }
}
