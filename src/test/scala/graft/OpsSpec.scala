package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

class OpsSpec extends SparkFunSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  test("text stats basics") {
    val df = Seq((1L, "The quick brown fox. It is fast!"), (2L, ""), (3L, "  a  "))
      .toDF("id", "text")
      .select(col("id"),
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.punctRatio(col("text")).as("p"),
        TextAnalysis.stopwordRatio(col("text")).as("s"),
        TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(df(1L).getInt(1) == 7)
    assert(df(1L).getDouble(2) > 0.0)
    assert(df(1L).getString(4) == "en")
    assert(df(2L).getInt(1) == 0)
    assert(df(3L).getInt(1) == 1)
  }

  test("lang-id profiles: planted multilingual text, und fallback, determinism") {
    import graft.functions.LangId
    // profile data sanity: ≥50 languages, ranks contiguous from 1,
    // grams unique per language
    assert(LangId.Profiles.size >= 50)
    LangId.Profiles.foreach { case (lang, grams) =>
      assert(grams.nonEmpty && grams.size <= LangId.ProfileSize, lang)
      assert(grams.map(_._2) == (1 to grams.size), lang)
      assert(grams.map(_._1).distinct.size == grams.size, lang)
    }
    // planted sentences in clearly-separated languages
    val planted = Seq(
      1 -> ("en", "The children are playing in the park and the weather is very nice today but we have to go home now"),
      2 -> ("de", "Die Kinder spielen im Park und das Wetter ist heute sehr schön aber wir müssen nach Hause gehen"),
      3 -> ("fr", "Les enfants jouent dans le parc et le temps est très beau aujourd'hui mais nous devons rentrer à la maison"),
      4 -> ("es", "Los niños juegan en el parque y el tiempo es muy bueno hoy pero tenemos que volver a casa"),
      5 -> ("it", "I bambini giocano nel parco e il tempo è molto bello oggi ma dobbiamo tornare a casa perché è tardi"),
      6 -> ("ru", "Дети играют в парке и погода сегодня очень хорошая но мы должны идти домой"),
      7 -> ("el", "Τα παιδιά παίζουν στο πάρκο και ο καιρός είναι πολύ καλός σήμερα αλλά πρέπει να πάμε σπίτι"),
      8 -> ("he", "הילדים משחקים בפארק ומזג האוויר טוב מאוד היום אבל אנחנו צריכים ללכת הביתה"),
      9 -> ("ar", "الأطفال يلعبون في الحديقة والطقس جميل جدا اليوم ولكن يجب أن نعود إلى المنزل"),
      10 -> ("hi", "बच्चे पार्क में खेल रहे हैं और आज मौसम बहुत अच्छा है लेकिन हमें घर जाना है"),
      11 -> ("th", "เด็กเล่นในสวนสาธารณะและอากาศวันนี้ดีมากแต่เราต้องกลับบ้าน"),
      12 -> ("zh", "孩子们在公园里玩耍今天天气很好但是我们必须回家了"),
      13 -> ("ja", "子供たちは公園で遊んでいます今日は天気がとても良いですが家に帰らなければなりません"),
      14 -> ("ko", "아이들이 공원에서 놀고 있습니다 오늘 날씨가 매우 좋지만 우리는 집에 가야 합니다"),
      15 -> ("tr", "Çocuklar parkta oynuyor ve bugün hava çok güzel ama eve gitmemiz gerekiyor"),
      16 -> ("pl", "Dzieci bawią się w parku a pogoda jest dziś bardzo ładna ale musimy wracać do domu"),
      17 -> ("fi", "Lapset leikkivät puistossa ja sää on tänään erittäin kaunis mutta meidän täytyy mennä kotiin"),
      18 -> ("nl", "De kinderen spelen in het park en het weer is vandaag erg mooi maar we moeten naar huis gaan"),
      // close neighbours of the languages above (Cyrillic, Iberian,
      // Nordic, Latin-script Slavic / Finno-Ugric / Romance) and
      // scripts no other case covers
      19 -> ("uk", "Діти граються в парку і погода сьогодні дуже гарна але ми повинні йти додому"),
      20 -> ("bg", "Децата играят в парка и времето днес е много хубаво но трябва да се приберем"),
      21 -> ("sr", "Деца се играју у парку а време је данас веома лепо али морамо кући"),
      22 -> ("pt", "As crianças brincam no parque e o tempo está muito bom hoje mas temos que voltar para casa"),
      23 -> ("sv", "Barnen leker i parken och vädret är mycket fint idag men vi måste gå hem nu"),
      24 -> ("da", "Børnene leger i parken og vejret er meget fint i dag men vi skal hjem nu"),
      25 -> ("vi", "Trẻ em chơi trong công viên và thời tiết hôm nay rất đẹp nhưng chúng ta phải về nhà"),
      26 -> ("id", "Anak anak bermain di taman dan cuaca hari ini sangat bagus tetapi kita harus pulang"),
      27 -> ("fa", "بچه ها در پارک بازی می کنند و هوا امروز بسیار خوب است اما باید به خانه برویم"),
      28 -> ("cs", "Děti si hrají v parku a počasí je dnes velmi pěkné ale musíme jít domů"),
      29 -> ("hu", "A gyerekek a parkban játszanak és az idő ma nagyon szép de haza kell mennünk"),
      30 -> ("ro", "Copiii se joacă în parc și vremea este foarte frumoasă astăzi dar trebuie să mergem acasă"))
    val got = planted.map { case (id, (_, text)) => (id, text) }
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.langIdProfiles(col("text")).as("lang"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    planted.foreach { case (id, (want, text)) =>
      assert(got(id) == want, s"doc $id '${text.take(30)}…': got ${got(id)}, want $want")
    }
    // und: no letters, empty, null
    val und = Seq((1, "12345 !!! ???"), (2, ""), (3, null))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.langIdProfiles(col("text")).as("lang"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(und.values.toSet == Set("und"))
    // scored variant exposes the distance; rerun-deterministic
    val d1 = Seq(Tuple1(planted.head._2._2)).toDF("text")
      .select(TextAnalysis.langIdProfilesScored(col("text")).as("s"))
      .select(col("s.lang"), col("s.dist")).collect().head
    assert(d1.getString(0) == "en" && d1.getLong(1) > 0)
  }

  test("pii pattern families: Luhn gate, flag opt-in, default byte-identical") {
    import graft.ops.TextAnalysis.{PiiConfig, scrubPii, scrubPiiExtended, piiCount, piiCountExtended}
    import graft.functions.Pii
    // Luhn unit math (public test numbers)
    assert(Pii.luhnValid("4111111111111111"))
    assert(Pii.luhnValid("5500000000000004"))
    assert(Pii.luhnValid("4539148803436467"))
    assert(!Pii.luhnValid("1234567890123456"))
    val texts = Seq(
      (1, "contact john.doe@example.com or call (555) 123-4567 today"),
      (2, "server at 192.168.1.100 answered +1 555.123.4567 and went down"),
      (3, "ssn 123-45-6789 with card 4111 1111 1111 1111 inside"),
      (4, "invalid card 1234 5678 9012 3456 stays put"),
      (5, "two cards 4111 1111 1111 1111 and 5500 0000 0000 0004 here"),
      (6, "no pii here just words and numbers 42 7 2026"))
    val all = PiiConfig(phones = true, ssns = true, creditCards = true)
    val got = texts.toDF("id", "text").select(col("id"),
      piiCountExtended(col("text"), all).as("n"),
      scrubPiiExtended(col("text"), all).as("s"),
      // default config must be byte-identical to the original surface
      (scrubPiiExtended(col("text")) === scrubPii(col("text"))).as("same_scrub"),
      (piiCountExtended(col("text")) === piiCount(col("text"))).as("same_count"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(texts.forall { case (id, _) =>
      got(id).getBoolean(3) && got(id).getBoolean(4) })
    assert(got(1).getInt(1) == 2 &&
      got(1).getString(2) == "contact <PII> or call <PII> today")
    assert(got(2).getInt(1) == 2 &&
      got(2).getString(2) == "server at <PII> answered <PII> and went down")
    assert(got(3).getInt(1) == 2 &&
      got(3).getString(2) == "ssn <PII> with card <PII> inside")
    // Luhn-invalid candidate is NOT PII — untouched
    assert(got(4).getInt(1) == 0 && got(4).getString(2) == texts(3)._2)
    // multiple valid cards in one doc: kernel replaces each
    assert(got(5).getInt(1) == 2 &&
      got(5).getString(2) == "two cards <PII> and <PII> here")
    assert(got(6).getInt(1) == 0 && got(6).getString(2) == texts(5)._2)
  }

  test("mojibake repair: derived fixtures round-trip, clean text untouched") {
    import graft.functions.Mojibake
    // pair-table sanity: 117 pairs, every artifact re-encodes to the
    // target's exact UTF-8 bytes, longest-first order
    assert(Mojibake.Pairs.size == 117)
    Mojibake.Pairs.foreach { case (a, t) =>
      assert(java.util.Arrays.equals(
        a.getBytes("windows-1252"),
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8)), s"$a -> $t")
    }
    assert(Mojibake.Pairs.sliding(2).forall {
      case Seq((a, _), (b, _)) => a.length >= b.length
      case _                   => true
    })
    // the planted corruption fixtures must repair back to their clean
    // originals (depth 0 = already clean, must pass through untouched)
    val fixtures = SparkEntry.MojibakeOriginals.map { case (id, orig, _) =>
      (id, orig) }.toMap
    val got = SparkEntry.MojibakeDocs.toDF("id", "text")
      .select(col("id"),
        TextAnalysis.fixMojibake(col("text"), passes = 2).as("fixed"),
        TextAnalysis.mojibakeChars(col("text"), passes = 2).as("removed"))
      .collect().map(r => r.getInt(0) -> r).toMap
    fixtures.foreach { case (id, orig) =>
      assert(got(id).getString(1) == orig, s"doc $id") }
    // corrupted rows shrink, clean rows report zero
    assert(got(1).getInt(2) > 0 && got(4).getInt(2) > 0)
    assert(got(5).getInt(2) == 0 && got(6).getInt(2) == 0 &&
      got(7).getInt(2) == 0)
    // single-pass repairs single-encoding; the double-encoded doc
    // needs the second pass
    val onePass = SparkEntry.MojibakeDocs.toDF("id", "text")
      .select(col("id"),
        TextAnalysis.fixMojibake(col("text")).as("fixed"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(onePass(1) == fixtures(1) && onePass(2) == fixtures(2))
    assert(onePass(4) != fixtures(4))
    // null text stays null
    val n = Seq((1, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextAnalysis.fixMojibake(col("text")).as("f")).collect()
    assert(n.head.isNullAt(0))
  }

  test("readability: known text, sentence floor, wordless null") {
    val df = Seq(
      (1L, "The cat sat on the mat. It was happy there! Was it fun? Yes."),
      (2L, "unpunctuated words keep flowing along this line"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.readabilityStats(col("text")).as("r"))
      .select(col("id"), col("r.n_sentences"), col("r.n_words"),
        col("r.n_syllables"), col("r.flesch"), col("r.fk_grade"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(df(1L).getLong(1) == 4 && df(1L).getLong(2) == 14)
    // vowel-group heuristic: happy=2 (a, y), there=2 (e, e), every
    // other word = 1 -> 16
    assert(df(1L).getLong(3) == 16)
    assert(df(1L).getDouble(4) > 90.0) // short simple sentences read easy
    // no terminal punctuation -> one sentence, scores still defined
    assert(df(2L).getLong(1) == 1 && df(2L).getLong(2) == 7)
    assert(!df(2L).isNullAt(4))
    // wordless and null docs: zero counts, null scores
    Seq(3L, 4L).foreach { id =>
      assert(df(id).getLong(1) == 0 && df(id).getLong(2) == 0)
      assert(df(id).isNullAt(3) && df(id).isNullAt(4) && df(id).isNullAt(5))
    }
  }

  test("zipf stats: known counts, deterministic fit, slope matches local math") {
    // planted counts: a=8 b=4 c=2 d=1 -> vocab 4, total 15
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).mkString(" ")
    val row = TextAnalysis.zipfStats(
      Seq((1L, text)).toDF("doc_id", "text"), k = 4).collect().head
    assert(row.getLong(0) == 4 && row.getLong(1) == 15)
    // same least-squares math locally, rounded the same way
    val pts = Seq((1, 8L), (2, 4L), (3, 2L), (4, 1L))
      .map { case (r, c) => (math.log(r.toDouble), math.log(c.toDouble)) }
    val n = pts.size
    val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
    val sxy = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val slope = BigDecimal(sxy / sxx)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getDouble(2) - slope) < 2e-6, s"got ${row.getDouble(2)}, want $slope")
    assert(row.getDouble(2) < 0 && row.getDouble(4) > 0.9)
    // ties in counts break on token order -> stable across runs
    val docs2 = spark.read.parquet(s"$sf/documents.parquet")
    val a = TextAnalysis.zipfStats(docs2, k = 50).collect().head
    val b = TextAnalysis.zipfStats(docs2, k = 50).collect().head
    assert(a == b)
  }

  test("script detection: planted scripts, und fallback, null-safe") {
    val df = Seq(
      (1L, "plain latin text with words"),
      (2L, "Дети играют в парке"),
      (3L, "Τα παιδιά παίζουν"),
      (4L, "الأطفال يلعبون في الحديقة"),
      (5L, "הילדים משחקים בפארק"),
      (6L, "बच्चे पार्क में खेल"),
      (7L, "เด็กเล่นในสวน"),
      (8L, "孩子们在公园里玩耍"),
      (9L, "こどもたちはこうえんで"),
      (10L, "아이들이 공원에서"),
      (11L, "12345 --- !!!"),
      (12L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.detectScript(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Map(1L -> "latin", 2L -> "cyrillic", 3L -> "greek",
      4L -> "arabic", 5L -> "hebrew", 6L -> "devanagari", 7L -> "thai",
      8L -> "cjk", 9L -> "kana", 10L -> "hangul", 11L -> "und",
      12L -> "und")
    want.foreach { case (id, s) => assert(df(id) == s, s"doc $id") }
  }

  test("script kernel equals the regexp_count fold on adversarial text") {
    // the codegen kernel replaced the exponential when-chain; pin its
    // counts + tie-break (strict >, earlier script wins) against the
    // reference regexp_count formulation over mixed-script soups,
    // exact ties, supplementary-plane chars, and range boundaries
    val ref: org.apache.spark.sql.Column => org.apache.spark.sql.Column = { text =>
      val t = coalesce(text, lit(""))
      val counts = TextAnalysis.ScriptRanges.map { case (name, cls) =>
        name -> regexp_count(t, lit(cls))
      }
      val best = counts.tail.foldLeft(
        struct(counts.head._2.as("n"), lit(counts.head._1).as("s"))) {
        case (acc, (name, cnt)) =>
          when(cnt > acc.getField("n"),
            struct(cnt.as("n"), lit(name).as("s"))).otherwise(acc)
      }
      when(best.getField("n") === 0, lit("und")).otherwise(best.getField("s"))
    }
    val docs = Seq(
      "abc Дети",                       // exact 3-3 tie: latin wins (earlier)
      "ab Дети",                        // cyrillic ahead
      "Àɏ¿",             // latin range boundaries + non-script
      "ͰϿЀӿ",       // greek/cyrillic 2-2 tie: greek later than latin but earlier than... order check
      "😀 𠮟 abc",  // emoji + supplementary CJK ext: only latin counts
      "عربى והhebrew",                  // arabic vs hebrew mix
      "ひらがな漢字カタカナ",              // kana vs cjk
      "ᄀ가힯",             // hangul boundary chars
      "", "   ", "12345 !!!",
      null.asInstanceOf[String]) ++
      SparkEntry.LangIdDocs.map(_._2)
    val rows = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(TextAnalysis.detectScript(col("text")).as("k"),
        ref(col("text")).as("r"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("analyze extended: adds the r16 signals, default schema unchanged") {
    val df = Seq((1L, "The children are playing in the park today")).toDF("doc_id", "text")
    val base = TextAnalysis.analyze(df)
    val ext = TextAnalysis.analyze(df, extended = true)
    assert(!base.columns.contains("flesch"))
    assert(Seq("lang_id_profiles", "flesch", "mojibake_chars")
      .forall(ext.columns.contains))
    val r = ext.collect().head
    assert(r.getAs[String]("lang_id_profiles") == "en")
    assert(r.getAs[Int]("mojibake_chars") == 0)
    assert(!r.isNullAt(r.fieldIndex("flesch")))
  }

  test("quality score ranks real text above junk") {
    val q = Seq(
      ("good", "the cat sat on the mat and it is a fine day for walking in the park"),
      ("junk", "!!!! ???? .... ;;;; @@@@ #### $$$$ %%%%")
    ).toDF("k", "text")
      .select(col("k"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(q("good") > q("junk"))
  }

  test("repetition metrics flag duplicated lines and words") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "unique one\nunique two\nunique three"),
      (2L, "same line\nsame line\nsame line\nother"),
      (3L, "loop loop loop loop go"),
      (4L, ""),
      (5L, "one\n\n  \none") // blank lines excluded from the line count
    ).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      TextAnalysis.dupLineRatio(col("text")).as("dl"),
      TextAnalysis.dupWordRatio(col("text")).as("dw"))
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(1L)._1 == 0.0)
    assert(math.abs(r(2L)._1 - 0.5) < 1e-9) // 4 lines, 2 distinct
    assert(math.abs(r(3L)._2 - 0.6) < 1e-9) // 5 words, 2 distinct
    assert(r(4L) == ((0.0, 0.0)))
    assert(math.abs(r(5L)._1 - 0.5) < 1e-9) // 2 non-blank lines, 1 distinct
  }

  test("gopher n-gram repetition fractions: short, repeated, ties, overlap cap") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "one"),                       // tokenCount < n → 0
      (2L, "go go go go"),               // fully repeated; overlap would push past 1
      (3L, "aa bb aa bb zz aa bb"),      // top bigram "aa bb" ×3
      (4L, "x y x y longword q longword q z"), // tie 2×: longer gram wins
      (5L, ""),                          // empty → 0
      (6L, "a b c d e f g h")            // all grams unique → dup = 0
    ).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      TextAnalysis.topNgramCharFraction(col("text"), 2).as("top2"),
      TextAnalysis.dupNgramCharFraction(col("text"), 2).as("dup2"))
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(1L) == ((0.0, 0.0)))
    // "go go go go": grams = ["go go"×3]; 3×5=15 chars > 11 norm chars → capped at 1
    assert(r(2L)._1 == 1.0 && r(2L)._2 == 1.0)
    // norm "aa bb aa bb zz aa bb" = 20 chars; top gram "aa bb" (5) ×3 = 15/20
    assert(math.abs(r(3L)._1 - 0.75) < 1e-9)
    // tie at count 2: "x y" (3 chars) vs "longword q" (10) → longer wins.
    // norm = 31 chars → 2×10/31
    assert(math.abs(r(4L)._1 - 20.0 / 31.0) < 1e-9)
    assert(r(5L) == ((0.0, 0.0)))
    assert(r(6L)._2 == 0.0)
    // dup fraction ≥ top fraction whenever the top gram repeats
    assert(r(3L)._2 >= r(3L)._1 - 1e-9)
  }

  test("one-pass ngram repetition kernel matches the Column-algebra reference") {
    import graft.functions.NgramRepetition
    // edge cases the kernel must replicate bit-for-bit, including the
    // trim-strips-spaces-only quirk (leading tab → leading empty token)
    val edge = Seq(
      (1L, "one"), (2L, "go go go go"), (3L, "aa bb aa bb zz aa bb"),
      (4L, "x y x y longword q longword q z"), (5L, ""), (6L, "   "),
      (7L, "\tleading tab stays then splits"), (8L, "trailing newline\n"),
      (9L, "Ünïcode ünïcode ÜNÏCODE mixed çase çase"),
      (10L, "a b c d e f g h i j k l m n o p q r s t"),
      (11L, "x\n\ny  z\t\tz y x"), (12L, "🦊 emoji 🦊 emoji astral astral")
    ).toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id") + 1000000L as "doc_id", col("text"))
    for (src <- Seq(edge, corpus)) {
      val ns = Seq(2, 3, 4, 5, 6, 7, 8, 9, 10)
      val stats = NgramRepetition.ngramRepetitionStats(
        col("text"), topNs = ns, dupNs = ns)
      val cols = col("doc_id") +:
        (ns.map(n => stats.getField(s"top_${n}gram_frac").as(s"ft$n")) ++
          ns.map(n => TextAnalysis.topNgramCharFraction(col("text"), n).as(s"rt$n")) ++
          ns.map(n => stats.getField(s"dup_${n}gram_frac").as(s"fd$n")) ++
          ns.map(n => TextAnalysis.dupNgramCharFraction(col("text"), n).as(s"rd$n")) ++
          Seq(NgramRepetition.dupLineRatioFast(col("text")).as("fl"),
            TextAnalysis.dupLineRatio(col("text")).as("rl")))
      src.select(cols: _*).collect().foreach { r =>
        val id = r.getLong(0)
        ns.indices.foreach { i =>
          val (ft, rt) = (r.getDouble(1 + i), r.getDouble(1 + ns.length + i))
          val (fd, rd) = (r.getDouble(1 + 2 * ns.length + i), r.getDouble(1 + 3 * ns.length + i))
          assert(ft == rt, s"top n=${ns(i)} doc=$id: kernel $ft vs reference $rt")
          assert(fd == rd, s"dup n=${ns(i)} doc=$id: kernel $fd vs reference $rd")
        }
        val (fl, rl) = (r.getDouble(1 + 4 * ns.length), r.getDouble(2 + 4 * ns.length))
        assert(fl == rl, s"dup_line doc=$id: kernel $fl vs reference $rl")
      }
    }
  }

  test("exact-k per stratum: deterministic, capped at stratum size") {
    import graft.ops.Sampling
    val df = (1L to 50L).map(i => (i, if (i <= 40) "big" else "small"))
      .toDF("doc_id", "lang")
    val r = Sampling.exactKPerStratum(df, "doc_id", "lang", k = 15, seed = 42)
    val byLang = r.collect().map(x => (x.getString(1), x.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byLang("big").size == 15)
    assert(byLang("small").size == 10, "k past stratum size keeps the whole stratum")
    // deterministic: identical picks on rerun, and exactly the k
    // smallest unit hashes (tie-broken by id) per stratum
    val again = Sampling.exactKPerStratum(df, "doc_id", "lang", k = 15, seed = 42)
      .collect().map(x => (x.getString(1), x.getLong(0))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(byLang == again)
    val hashes = df.select(col("doc_id"), col("lang"),
        Sampling.unitHash(col("doc_id"), 42, "exactk").as("h"))
      .collect().map(x => (x.getString(1), x.getLong(0), x.getLong(2)))
    val expectBig = hashes.filter(_._1 == "big").sortBy(x => (x._3, x._2))
      .take(15).map(_._2).toSet
    assert(byLang("big") == expectBig)
    // a different seed picks a different committee
    val other = Sampling.exactKPerStratum(df, "doc_id", "lang", k = 15, seed = 43)
      .filter(col("lang") === "big").collect().map(_.getLong(0)).toSet
    assert(other != byLang("big"))
  }

  test("best-k per stratum: exact top-k by score, tie-broken by id, layout-independent") {
    import graft.ops.Sampling
    // scores with planted ties: score = i % 10, so each stratum has
    // many rows sharing a score and the id tie-break decides the cut
    val base = (1L to 90L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", (i % 10).toLong))
    def expect(k: Int): Set[(Long, String)] =
      base.groupBy(_._2).flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._1)).take(k).map(r => (r._1, r._2))
      }.toSet
    def got(df: org.apache.spark.sql.DataFrame, k: Int): Set[(Long, String)] =
      Sampling.bestKPerStratum(df, "stratum", "score", k, "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val df = base.toDF("doc_id", "stratum", "score")
    assert(got(df, 7) == expect(7))
    // layout-independent: one partition, many partitions, and a
    // pre-sorted-by-score layout all give the same exact answer
    assert(got(df.repartition(1), 7) == expect(7))
    assert(got(df.repartition(13, col("doc_id")), 7) == expect(7))
    assert(got(df.orderBy(col("score")), 7) == expect(7))
    // k past stratum size keeps the whole stratum
    assert(got(df, 1000).size == 90)
  }

  test("sequence packing: budget boundaries, offsets, determinism") {
    import graft.ops.Sampling
    val df = (1L to 60L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val budget = 10L
    val groups = 4
    val out = Sampling.packSequences(df, "doc_id", "text", budget, groups, seed = 9)
      .select("doc_id", "pack_group", "pack_id", "pack_offset")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    // independent reimplementation from the raw hashes
    val raw = df.select(col("doc_id"),
        Sampling.unitHash(col("doc_id"), 9, "pack").as("h"),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = raw.groupBy { case (_, h, _) => h % groups }.toSeq.flatMap {
      case (g, docs) =>
        var cum = 0L
        docs.sortBy { case (id, h, _) => (h, id) }.toSeq.map { case (id, _, n) =>
          val start = cum
          cum += n
          id -> ((g.toInt, start / budget, start - (start / budget) * budget))
        }
    }.toMap
    assert(out == expected)
    // invariants: offsets inside the budget, pack 0 starts at offset 0
    out.values.foreach { case (_, _, off) => assert(off >= 0 && off < budget) }
    val firsts = expected.groupBy { case (_, (g, p, _)) => (g, p) }
    assert(firsts.nonEmpty && firsts.size > 4, "multiple packs exercised")

    // materialization concatenates each pack's docs in offset order
    val texts = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val mat = Sampling.materializePacks(
        Sampling.packSequences(df, "doc_id", "text", budget, groups, seed = 9))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3))))
      .toMap
    val expectedPacks = expected.toSeq
      .map { case (id, (g, p, off)) => ((g, p), (off, id)) }
      .groupBy(_._1).view.mapValues { docs =>
        val ordered = docs.map(_._2).sortBy(identity)
        (ordered.size.toLong, ordered.map { case (_, id) => texts(id) }.mkString(" "))
      }.toMap
    assert(mat == expectedPacks)
  }

  test("topNgrams: occurrence vs doc counts, deterministic ties, short docs skipped") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "the cat sat on the cat sat mat"), // "the cat sat" twice in one doc
      (2L, "the cat sat quietly"),
      (3L, "dogs bark"), // < 3 tokens: no grams
      (4L, "zz aa bb"), (5L, "zz aa bb")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(df, n = 3, k = 3, idCol = Some("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.head == (("the cat sat", 3L, 2L)),
      s"3 occurrences across 2 docs expected, got ${top.head}")
    // docs 4 and 5 are byte-identical: with a real id they count as 2
    assert(top(1) == (("zz aa bb", 2L, 2L)))
    assert(top.length == 3)
    // without an id column the fingerprint collapses exact repeats
    val byFp = TextAnalysis.topNgrams(df, n = 3, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(byFp(1) == (("zz aa bb", 2L, 1L)))
    // k cuts, deterministically by (count desc, ngram asc)
    val all = TextAnalysis.topNgrams(df, n = 3, k = 100).collect()
    assert(all.map(_.getLong(1)).toSeq == all.map(_.getLong(1)).sorted.reverse.toSeq)
  }

  test("ngramNovelty: planted novel/lost sets, stable-corpus zero") {
    import graft.ops.TextAnalysis
    val old = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val nw = Seq((1L, "a b c x"), (2L, "p q r s")).toDF("doc_id", "text")
    // old grams {a b c, b c d}; new {a b c, b c x, p q r, q r s}
    val r = TextAnalysis.ngramNovelty(old, nw, n = 3).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5)) == ((2L, 4L, 3L, 1L, 0.75, 0.5)), s"$r")
    // identical snapshots: nothing novel, nothing lost
    val same = TextAnalysis.ngramNovelty(nw, nw, n = 3).head()
    assert(same.getDouble(4) == 0.0 && same.getDouble(5) == 0.0)
    // short/NULL texts contribute no grams and don't crash the report
    val empty = Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val vsEmpty = TextAnalysis.ngramNovelty(empty, nw, n = 3).head()
    assert(vsEmpty.getLong(0) == 0L && vsEmpty.getDouble(4) == 1.0 &&
      vsEmpty.getDouble(5) == 0.0)
  }

  test("KmvSketch: exact regime, duplicates, partition invariance, accuracy") {
    import graft.functions.KmvSketch
    // exact regime: fewer distincts than k -> the sketch IS the set
    val small = (0 until 40).map(i => s"v${i % 20}").toDF("x")
    val sk = small.agg(KmvSketch.sketch(KmvSketch.hash52($"x"), 64).as("s"),
      KmvSketch.estimate(
        KmvSketch.sketch(KmvSketch.hash52($"x"), 64), 64).as("est")).head()
    assert(sk.getSeq[Long](0).size == 20) // duplicates collapse
    assert(sk.getSeq[Long](0) == sk.getSeq[Long](0).sorted)
    assert(sk.getDouble(1) == 20.0)
    // partitioning must not change the sketch (merge = set semantics)
    val big = (0 until 50000).map(i => s"item$i").toDF("x")
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(KmvSketch.sketch(KmvSketch.hash52($"x"), 512)).head().getSeq[Long](0)
    assert(sketchOf(big.repartition(1)) == sketchOf(big.repartition(7)))
    // estimator accuracy: CV ~ 1/sqrt(k-2) = 4.4% at k=512; 3-sigma bound
    val est = big.agg(KmvSketch.estimate(
      KmvSketch.sketch(KmvSketch.hash52($"x"), 512), 512)).head().getDouble(0)
    assert(math.abs(est - 50000.0) / 50000.0 < 0.14, s"est=$est")
    // production hasher (xxhash64 >>> 12, codegen'd — no md5 digest):
    // same domain, same estimator contract, same error bound
    val estF = big.agg(KmvSketch.estimate(
      KmvSketch.sketch(KmvSketch.hash52Fast($"x"), 512), 512)).head().getDouble(0)
    assert(math.abs(estF - 50000.0) / 50000.0 < 0.14, s"estF=$estF")
  }

  test("ShingleHash fused kernel: sketch-identical to the unfused shingle+hash pipeline") {
    import graft.functions.{KmvSketch, ShingleHash, Shingles}
    // adversarial texts: duplicates within and across docs, unicode,
    // whitespace soup, short and null docs
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps again and again and again"),
      (3L, "a b a b a b a b"),
      (4L, "  \tcafé … naïve\n tokens split here  "),
      (5L, "short"), (6L, ""), (7L, null.asInstanceOf[String]),
      (8L, "one two three one two three one two three")).toDF("doc_id", "text")
    for (md5Mode <- Seq(false, true); n <- Seq(2, 3, 5)) {
      val hasher = if (md5Mode) KmvSketch.hash52 else KmvSketch.hash52Fast
      val fused = docs
        .select(explode(ShingleHash.of($"text", n, md5Mode)).as("__h"))
        .agg(KmvSketch.sketch($"__h", 64)).head().getSeq[Long](0)
      val unfused = docs
        .select(explode(Shingles.shingles($"text", n)).as("g"))
        .select(hasher($"g").as("__h"))
        .agg(KmvSketch.sketch($"__h", 64)).head().getSeq[Long](0)
      assert(fused == unfused, s"md5Mode=$md5Mode n=$n")
    }
    // and the operator dispatch end-to-end: fused fast/md5 paths match
    // a custom-hasher run of the SAME hash expression (generic path)
    val old = docs.filter($"doc_id" <= 4)
    val nw = docs.filter($"doc_id" >= 3)
    val viaFast = graft.ops.TextAnalysis.ngramNoveltyApprox(
      old, nw, n = 3, k = 64, hasher = KmvSketch.hash52Fast).head()
    val genericFast: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => KmvSketch.hash52Fast(c) // new function object: forces generic path
    val viaGeneric = graft.ops.TextAnalysis.ngramNoveltyApprox(
      old, nw, n = 3, k = 64, hasher = genericFast).head()
    assert(viaFast == viaGeneric)
  }

  test("ngramNoveltyApprox: exact when sketches fit, accurate when not") {
    import graft.ops.TextAnalysis
    // complete sketches (distinct grams < k) -> identical to the exact
    // operator, including rates
    val old = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val nw = Seq((1L, "a b c x"), (2L, "p q r s")).toDF("doc_id", "text")
    val r = TextAnalysis.ngramNoveltyApprox(old, nw, n = 3, k = 64).head()
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5)) == ((2.0, 4.0, 3.0, 1.0, 0.75, 0.5)), s"$r")
    // estimator regime: 30k distinct grams per side, 20k shared
    // (one distinct gram per doc), true rates 1/3
    def corpus(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"a$i b$i c$i")).toDF("doc_id", "text")
    val approx = TextAnalysis.ngramNoveltyApprox(
      corpus(0, 30000), corpus(10000, 40000), n = 3, k = 512).head()
    assert(math.abs(approx.getDouble(0) - 30000.0) / 30000.0 < 0.14, s"$approx")
    assert(math.abs(approx.getDouble(1) - 30000.0) / 30000.0 < 0.14, s"$approx")
    assert(math.abs(approx.getDouble(4) - 1.0 / 3.0) < 0.08, s"$approx")
    assert(math.abs(approx.getDouble(5) - 1.0 / 3.0) < 0.08, s"$approx")
    // empty old side: everything novel, nothing lost (guards, not NaN)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val vsEmpty = TextAnalysis.ngramNoveltyApprox(empty, nw, n = 3, k = 64).head()
    assert(vsEmpty.getDouble(0) == 0.0 && vsEmpty.getDouble(4) == 1.0 &&
      vsEmpty.getDouble(5) == 0.0)
  }

  test("corpusProfileApprox: profile intact, approx-unique exact or bounded") {
    import graft.ops.TextAnalysis
    val df = (0 until 3000).map { i =>
      (s"src${i % 2}", s"doc $i body ${i % 2500}")
    }.toDF("source", "text")
    // k above the distinct count: approx column IS the exact count,
    // every other profile column matches the exact operator
    val exact = TextAnalysis.corpusProfile(df).orderBy("is_total", "source")
      .collect()
    val full = TextAnalysis.corpusProfileApprox(df, k = 4096)
      .orderBy("is_total", "source").collect()
    exact.zip(full).foreach { case (e, a) =>
      assert(a.getDouble(a.fieldIndex("n_unique_texts_approx"))
        == e.getLong(e.fieldIndex("n_unique_texts")).toDouble)
      assert(a.getLong(a.fieldIndex("n_docs")) == e.getLong(e.fieldIndex("n_docs")))
      assert(a.getLong(a.fieldIndex("n_tokens")) == e.getLong(e.fieldIndex("n_tokens")))
    }
    // estimator regime per stratum: k=64 against 1500 distinct per
    // source (3-sigma bound at CV = 1/sqrt(62) ~ 12.7%)
    val approx = TextAnalysis.corpusProfileApprox(df, k = 64)
      .orderBy("is_total", "source").collect()
    exact.zip(approx).foreach { case (e, a) =>
      val t = e.getLong(e.fieldIndex("n_unique_texts")).toDouble
      val v = a.getDouble(a.fieldIndex("n_unique_texts_approx"))
      assert(math.abs(v - t) / t < 0.4, s"stratum $e -> $v")
    }
  }

  test("tokenDrift: hand-computed smoothed deltas, |delta| rank, token tie-break") {
    import graft.ops.TextAnalysis
    val old = Seq((1L, "alpha ALPHA beta")).toDF("doc_id", "text")
    val nw = Seq((1L, "alpha gamma  gamma")).toDF("doc_id", "text")
    // union vocab {alpha,beta,gamma}; totals 3/3; add-one smoothing:
    // alpha 3/6 -> 2/6 (-1/6), beta 2/6 -> 1/6 (-1/6),
    // gamma 1/6 -> 3/6 (+1/3)
    val rows = TextAnalysis.tokenDrift(old, nw, k = 10).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("gamma", "alpha", "beta"),
      s"rank by |delta| desc then token:\n${rows.mkString("\n")}")
    val gamma = rows.head
    assert(gamma.getAs[Long]("old_cnt") == 0L &&
      gamma.getAs[Long]("new_cnt") == 2L)
    assert(gamma.getAs[Double]("delta_p") == 0.333333333, s"$gamma")
    assert(rows(1).getAs[Double]("delta_p") == -0.166666667, s"${rows(1)}")
    // identical snapshots: every delta is exactly zero
    val same = TextAnalysis.tokenDrift(nw, nw, k = 10).collect()
    assert(same.forall(_.getAs[Double]("delta_p") == 0.0))
    // k cuts the mover list, not the vocabulary accounting
    assert(TextAnalysis.tokenDrift(old, nw, k = 1).count() == 1)
  }

  test("tfIdfTerms: hand-computed scores, tie order, rare-term promotion") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "banana  CHERRY"), // case + run of spaces fold away
      (3L, "cherry cherry cherry durian")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfIdfTerms(df, k = 2)
      .collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getInt(5))).sortBy(t => (t._1, t._6)).toSeq
    // N=3; df: apple 1, banana 2, cherry 2, durian 1
    // idf(df=1) = ln(4/2)+1 = 1.693147…, idf(df=2) = ln(4/3)+1 = 1.287682…
    val rare = math.round((math.log(2.0) + 1.0) * 1e6) / 1e6
    val mid = math.round((math.log(4.0 / 3.0) + 1.0) * 1e6) / 1e6
    assert(r == Seq(
      (1L, "apple", 2L, 1L, math.round(2 * (math.log(2.0) + 1.0) * 1e6) / 1e6, 1),
      (1L, "banana", 1L, 2L, mid, 2),
      // doc 2: banana and cherry tie exactly — term asc breaks it
      (2L, "banana", 1L, 2L, mid, 1),
      (2L, "cherry", 1L, 2L, mid, 2),
      (3L, "cherry", 3L, 2L, math.round(3 * (math.log(4.0 / 3.0) + 1.0) * 1e6) / 1e6, 1),
      (3L, "durian", 1L, 1L, rare, 2)), s"got $r")
    // at equal tf the rare term outranks the everywhere-term on idf
    // ("the" is in every doc -> idf exactly 1)
    val df2 = Seq((1L, "the quasar"), (2L, "the"), (3L, "the"))
      .toDF("doc_id", "text")
    val top1 = TextAnalysis.tfIdfTerms(df2, k = 1)
      .filter(col("doc_id") === 1).head()
    assert(top1.getString(1) == "quasar",
      s"rare term must win on idf: $top1")
  }

  test("compression ratio separates repetitive and high-entropy text from prose") {
    import graft.ops.TextAnalysis
    val prose = "The quick brown fox jumps over the lazy dog while " +
      "morning light settles across the quiet harbor town and fishermen " +
      "prepare their nets for the long day ahead on open water."
    val repetitive = "spam " * 200
    val df = Seq(
      ("prose", prose), ("rep", repetitive.trim),
      ("empty", ""), ("nul", null.asInstanceOf[String])
    ).toDF("k", "text")
      .select(col("k"), TextAnalysis.compressionRatio(col("text")).as("r"))
    val r = df.collect().map(x => x.getString(0) ->
      (if (x.isNullAt(1)) Double.NaN else x.getDouble(1))).toMap
    assert(r("rep") < r("prose"), s"repetition must compress below prose: $r")
    assert(r("prose") < 0.9 && r("prose") > 0.2, s"prose ratio out of band: $r")
    assert(r("empty").isNaN && r("nul").isNaN, "empty/null yield null")
    // deterministic across evaluations
    val again = Seq(("prose", prose)).toDF("k", "text")
      .select(TextAnalysis.compressionRatio(col("text"))).head().getDouble(0)
    assert(again == r("prose"))
  }

  test("profileDiff: added/removed/grown/shrunk/stable verdicts per stratum") {
    import graft.ops.TextAnalysis
    val oldSnap = Seq(
      ("web", "one two three"), ("web", "four five"),
      ("books", "a b c d"),
      ("gone", "x y z"),
      ("same", "p q")
    ).toDF("source", "text")
    val newSnap = Seq(
      ("web", "one two three"), ("web", "four five"), ("web", "six seven"),
      ("books", "a b"),
      ("fresh", "n m"),
      ("same", "p q")
    ).toDF("source", "text")
    val d = TextAnalysis.profileDiff(oldSnap, newSnap)
      .collect().map(r => (Option(r.getString(0)), r.getInt(1)) -> r).toMap
    def row(g: String) = d((Some(g), 0))
    assert(row("web").getAs[String]("status") == "grown")
    assert(row("web").getAs[Long]("delta_tokens") == 2L)
    assert(row("web").getAs[Double]("token_ratio") == 7.0 / 5.0)
    assert(row("books").getAs[String]("status") == "shrunk")
    assert(row("gone").getAs[String]("status") == "removed")
    assert(row("gone").getAs[Long]("new_docs") == 0L)
    assert(row("fresh").getAs[String]("status") == "added")
    assert(row("fresh").getAs[Long]("old_docs") == 0L)
    assert(row("fresh").isNullAt(row("fresh").fieldIndex("token_ratio")))
    assert(row("same").getAs[String]("status") == "stable")
    // the rollup totals pair up on the NULL key
    val total = d((None, 1))
    assert(total.getAs[Long]("old_docs") == 5L)
    assert(total.getAs[Long]("new_docs") == 6L)
    // 14 old tokens vs 13 new: more docs, fewer tokens — the exact
    // drift pattern the per-stratum report exists to surface
    assert(total.getAs[String]("status") == "shrunk")
  }

  test("packStats/packReport: hand-computed fill, chunk and pad numbers") {
    import graft.ops.Sampling
    // one group, one pack: 5 + 7 + 4 + 0 = 16 tokens
    val docs = Seq(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 7).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 4).map(i => s"c$i").mkString(" ")),
      (4L, "")
    ).toDF("doc_id", "text")
    val assigned = Sampling.packSequences(docs, "doc_id", "text",
      tokenBudget = 100, groups = 1, seed = 1)
    val st = Sampling.packStats(assigned, seqLen = 6).collect()
    assert(st.length == 1)
    val r = st.head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_tokens") == 16L)
    assert(r.getAs[Long]("n_chunks") == 3L)  // 6 + 6 + 4
    assert(r.getAs[Long]("pad_tokens") == 2L) // final chunk pads 4 -> 6
    // an exactly-full pack pads nothing
    val full = Sampling.packStats(
      Sampling.packSequences(
        Seq((1L, ("x " * 12).trim)).toDF("doc_id", "text"),
        "doc_id", "text", tokenBudget = 100, groups = 1, seed = 1),
      seqLen = 6).collect().head
    assert(full.getAs[Long]("n_chunks") == 2L)
    assert(full.getAs[Long]("pad_tokens") == 0L)
    // report rollup: totals + exact divisions
    val rep = Sampling.packReport(assigned, tokenBudget = 100, seqLen = 6)
      .collect().head
    assert(rep.getAs[Long]("n_packs") == 1L)
    assert(rep.getAs[Long]("n_docs") == 4L)
    assert(rep.getAs[Long]("total_tokens") == 16L)
    assert(rep.getAs[Long]("total_chunks") == 3L)
    assert(rep.getAs[Long]("pad_tokens") == 2L)
    assert(math.abs(rep.getAs[Double]("mean_fill") - 0.16) < 1e-12)
    assert(math.abs(rep.getAs[Double]("utilization") - 16.0 / 18.0) < 1e-12)
  }

  test("chunkPacks: exact-length slices, doc boundaries tile every chunk") {
    import graft.ops.Sampling
    val docs = Seq(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 7).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 4).map(i => s"c$i").mkString(" ")),
      (4L, "")
    ).toDF("doc_id", "text")
    val assigned = Sampling.packSequences(docs, "doc_id", "text",
      tokenBudget = 100, groups = 1, seed = 1)
    val chunks = Sampling.chunkPacks(assigned, "doc_id", "text", seqLen = 6)
      .orderBy("seq_idx").collect()
    // one pack of 16 tokens -> sequences of 6, 6, 4
    assert(chunks.map(_.getAs[Long]("n_tokens")).toSeq == Seq(6L, 6L, 4L))
    // reassembled chunk texts concatenate to exactly the pack text
    // (the zero-token doc contributes an empty string to materialize's
    // separator-join but no tokens to any chunk — exclude it)
    val full = chunks.map(_.getAs[String]("text")).mkString(" ")
    val packed = Sampling.materializePacks(
        assigned.filter(length(trim($"text")) > 0))
      .select("text").as[String].head()
    assert(full == packed)
    // boundaries tile each chunk: begin 0, contiguous, end = n_tokens;
    // and each slice's span length matches its token contribution
    var perDoc = Map.empty[Long, Long].withDefaultValue(0L)
    chunks.foreach { r =>
      val bounds = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("boundaries")
        .map(b => (b.getAs[Long]("doc_id"),
          b.getAs[Long]("begin_token"), b.getAs[Long]("end_token")))
        .toIndexedSeq
      assert(bounds.head._2 == 0L)
      assert(bounds.last._3 == r.getAs[Long]("n_tokens"))
      bounds.sliding(2).foreach {
        case Seq((_, _, e), (_, b, _)) => assert(e == b, "contiguous tiling")
        case _ =>
      }
      bounds.foreach { case (id, b, e) => perDoc += id -> (perDoc(id) + (e - b)) }
    }
    // every token of every doc lands in exactly one slice; the
    // zero-token doc appears in no boundaries
    assert(perDoc == Map(1L -> 5L, 2L -> 7L, 3L -> 4L))
    // a doc straddling a chunk edge is split across both chunks
    val docsPerChunk = chunks.map(
      _.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("boundaries").map(_.getAs[Long]("doc_id")))
    assert(docsPerChunk.flatten.length > 3, "at least one doc split across chunks")
    // dropPartial discards the trailing short sequence only
    val fullOnly = Sampling.chunkPacks(assigned, "doc_id", "text",
      seqLen = 6, dropPartial = true).collect()
    assert(fullOnly.map(_.getAs[Long]("n_tokens")).toSeq == Seq(6L, 6L))
  }

  test("packSequences custom token counts close the whitespace-vs-BPE budget drift") {
    import graft.ops.Sampling
    // punctuation-heavy docs: whitespace sees 2 tokens, the BPE-ish
    // estimate sees 16 — an 8x under-count of the real budget
    val docs = (1 to 40).map(i => (i.toLong, s"a,b,c,d,e,f,g,h v$i"))
      .toDF("doc_id", "text")
    def packsOf(tc: Option[org.apache.spark.sql.Column]) =
      Sampling.packSequences(docs, "doc_id", "text", tokenBudget = 16,
        groups = 1, seed = 1, tokenCount = tc)
        .select("pack_id").distinct.count()
    val ws = packsOf(None)
    val bpe = packsOf(Some(graft.ops.TextAnalysis.bpeTokenCount(col("text"))))
    // whitespace counting packs ~8 docs into a "16-token" pack that
    // really holds ~128 BPE tokens; the BPE budget opens ~8x the packs
    assert(ws <= 6 && bpe >= 35, s"ws=$ws bpe=$bpe")
  }

  test("exactSubstrDedup removes duplicated token windows; first occurrence wins") {
    import graft.ops.Dedup
    val run = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha $run omega"),
      (2L, s"beta intro $run"),
      (3L, run),
      (4L, "tiny doc"),
      (5L, "some entirely different words that repeat nothing at all")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").select("text").as[String].collect()
    assert(out(0) == s"alpha $run omega", "first occurrence keeps the passage")
    assert(out(1) == "beta intro", "later occurrence loses exactly the run")
    assert(out(2) == "", "a doc that was all duplicate comes back empty")
    assert(out(3) == "tiny doc", "docs below k tokens are untouched")
    assert(out(4) == "some entirely different words that repeat nothing at all")
    // within-doc self-repeat: the second copy is removed, first kept
    val self = Seq((1L, s"$run $run")).toDF("doc_id", "text")
    val o = Dedup.exactSubstrDedup(self, "doc_id", "text", k = 12)
      .select("text").as[String].head()
    assert(o == run)
    // the rolling-kernel default and the md5 portable path remove the
    // SAME passages (hash values differ; removal decisions must not)
    val fast = Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").select("doc_id", "text").collect().toSeq
    val portable = Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 8,
        portableHash = true)
      .orderBy("doc_id").select("doc_id", "text").collect().toSeq
    assert(fast == portable)
    // case folding matches too: windows differing only in case collide
    val cased = Seq((1L, run.toUpperCase), (2L, run)).toDF("doc_id", "text")
    val foldedFast = Dedup.exactSubstrDedup(cased, "doc_id", "text", k = 12)
      .orderBy("doc_id").select("text").as[String].collect()
    assert(foldedFast.toSeq == Seq(run.toUpperCase, ""))
  }

  test("blocklist: token-equality hits, case folding, punctuation caveat") {
    import graft.ops.QualityFilters
    val words = Seq("blocked", "verboten")
    val df = Seq(
      (1L, "a perfectly clean document"),
      (2L, "contains one blocked word"),
      (3L, "BLOCKED and Verboten twice blocked"), // case-folds, counts all
      (4L, "punctuation attached blocked, evades token equality"),
      (5L, "")
    ).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      QualityFilters.blocklistHits(col("text"), words).as("h"),
      QualityFilters.blocklistKeep(col("text"), words).as("k"))
      .collect().map(x => x.getLong(0) -> ((x.getInt(1), x.getBoolean(2)))).toMap
    assert(r(1L) == ((0, true)))
    assert(r(2L) == ((1, false)))
    assert(r(3L) == ((3, false)))
    assert(r(4L) == ((0, true)), "attached punctuation evades token equality (documented)")
    assert(r(5L) == ((0, true)))
    assert(QualityFilters.blocklistFilter(df, words).count() == 3)
  }

  test("text-stats kernels match their HOF Column references bit-for-bit") {
    import graft.functions.TextStats
    val edge = Seq(
      (1L, ""), (2L, "   "), (3L, "\t\n"),
      (4L, "- bullet item here\n* another one\n• unicode bullet\nplain line"),
      (5L, "ends with dots...\nan ellipsis line …\nno terminal here"),
      (6L, "The cat and the dog sat.\nder und die das hier\nle la les et pour\nel y la con para"),
      (7L, "\tleading tab\ntrailing space \n\n  \nmixed  spacing here"),
      (8L, "words, punctuation! and-hyphens; \"quoted.\" (parens) 12ab3 été"),
      (9L, "One sentence with enough words here.\nshort.\nAnother proper sentence follows right here!")
    ).toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text"))
    val t = col("text")
    val stopLangs = TextAnalysis.StopwordLists.toSeq.sortBy(_._1)
    for (src <- Seq(edge, corpus)) {
      // the HOF formulations these kernels replaced, verbatim
      val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
      val c4lines = filter(lines, l =>
        trim(l).rlike("[.!?\"]$") && size(split(trim(l), "\\s+")) >= 5)
      val c4text = array_join(c4lines, "\n")
      val ls = TextStats.lineStatsOf(t)
      val sc = TextStats.stopwordCountsOf(t, stopLangs)
      val c4 = TextStats.c4LineFilterOf(t, 5)
      val kernelCols = Seq(
        ls.getField("non_blank"), ls.getField("bullet"), ls.getField("ellipsis"),
        TextStats.alphaWordCountOf(t), TextStats.bpeTokenCountOf(t),
        c4.getField("n_kept"), c4.getField("n_sentences"), c4.getField("kept_text")) ++
        stopLangs.map { case (code, _) => sc.getField(code) }
      val refCols = Seq(
        size(lines),
        size(filter(lines, l => trim(l).rlike("^[-*•]"))),
        size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))),
        size(filter(split(trim(t), "\\s+"), x => x.rlike("[A-Za-z]"))),
        size(filter(split(t, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
          x => length(x) > 0 && !x.rlike("^\\s+$"))),
        size(c4lines),
        size(regexp_extract_all(c4text, lit("[.!?]"), lit(0))),
        c4text) ++
        stopLangs.map { case (_, words) =>
          val arr = array(words.map(lit): _*)
          size(filter(split(trim(lower(t)), "\\s+"), x => array_contains(arr, x)))
        }
      val n = kernelCols.length
      val labels = Seq("non_blank", "bullet", "ellipsis", "alpha", "bpe",
        "c4_kept", "c4_sent", "c4_text") ++ stopLangs.map("stop_" + _._1)
      src.select(col("doc_id") +:
          (kernelCols.zipWithIndex.map { case (c, i) => c.as(s"k$i") } ++
            refCols.zipWithIndex.map { case (c, i) => c.as(s"r$i") }): _*)
        .collect().foreach { row =>
          val id = row.get(0)
          (0 until n).foreach { i =>
            assert(row.get(1 + i) == row.get(1 + n + i),
              s"${labels(i)} doc=$id: kernel ${row.get(1 + i)} vs reference ${row.get(1 + n + i)}")
          }
        }
    }
  }

  test("incremental dedup: store hits dropped, intra-batch dups keep min id") {
    import graft.ops.Dedup
    val prior = Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text")
    val store = Dedup.fingerprintStore(prior)
    val batch = Seq(
      (1L, "alpha"),                // already in the store -> dropped
      (2L, "gamma"), (3L, "gamma"), // intra-batch dup -> min id 2 survives
      (4L, "ALPHA  "),              // normalized fingerprint hits the store
      (5L, "delta")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, store)
    assert(out.columns.toSeq == Seq("doc_id", "text"), "original columns survive")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 5L))
    val delta = Dedup.fingerprintStore(out)
    assert(delta.count() == 2)
    assert(delta.columns.toSeq == Seq("fingerprint"))
  }

  test("bloom: build/probe round trip, no false negatives, merge, save/load") {
    import graft.ops.Bloom
    val keys = (1L to 500L).map(i => s"key_$i").toDF("k")
    val bloom = Bloom.build(keys, col("k"), expectedItems = 500, fpp = 0.01)
    // zero false negatives by construction: every built key probes true
    val probed = keys.filter(Bloom.mightContain(bloom, col("k"))).count()
    assert(probed == 500, "a bloom filter must never miss a key it was built over")
    // absent keys mostly probe false (fpp 1% over 500 draws: allow slack)
    val absent = (1L to 500L).map(i => s"other_$i").toDF("k")
      .filter(Bloom.mightContain(bloom, col("k"))).count()
    assert(absent <= 25, s"false-positive rate blew past fpp: $absent/500")
    // null keys probe null, not true/false
    val nulls = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "k")
      .select(Bloom.mightContain(bloom, col("k")).as("m")).collect()
    assert(nulls.head.isNullAt(0), "null key must probe null")
    // merge = union: keys from either side probe true
    val more = (501L to 600L).map(i => s"key_$i").toDF("k")
    val merged = Bloom.merge(bloom, Bloom.build(more, col("k"), 500, 0.01))
    val both = (1L to 600L).map(i => s"key_$i").toDF("k")
      .filter(Bloom.mightContain(merged, col("k"))).count()
    assert(both == 600, "merged bloom must contain both sides' keys")
    // save/load round trip through the Hadoop FS layer
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    Bloom.save(spark, merged, s"$dir/store.bloom")
    val loaded = Bloom.load(spark, s"$dir/store.bloom")
    assert(java.util.Arrays.equals(loaded, merged), "save/load must be byte-exact")
    // broadcast probe: identical verdicts to the literal probe
    val bc = Bloom.broadcastFilter(spark, bloom)
    val bcProbed = keys.filter(Bloom.mightContain(bc, col("k"))).count()
    assert(bcProbed == 500, "broadcast probe must match the literal probe")
    val bcNull = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "k")
      .select(Bloom.mightContain(bc, col("k")).as("m")).collect()
    assert(bcNull.head.isNullAt(0), "broadcast probe: null key must probe null")
    // an empty build yields an empty (never-matching, mergeable) filter
    val empty = Bloom.build(keys.filter(lit(false)), col("k"), 10, 0.01)
    assert(keys.filter(Bloom.mightContain(empty, col("k"))).count() == 0)
    val mergedEmpty = Bloom.merge(empty,
      Bloom.build(keys.limit(10), col("k"), 10, 0.01))
    assert(keys.limit(10).filter(Bloom.mightContain(mergedEmpty, col("k"))).count() == 10,
      "empty filter must merge with a same-geometry filter")
  }

  test("incremental dedup bloom: bit-identical to the exact path, incl. null text") {
    import graft.ops.{Bloom, Dedup}
    val prior = Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text")
    val store = Dedup.fingerprintStore(prior).cache()
    val batch = Seq(
      (1L, "alpha"),                // store hit -> dropped
      (2L, "gamma"), (3L, "gamma"), // intra-batch dup -> min id 2 survives
      (4L, "ALPHA  "),              // normalized fingerprint hits the store
      (5L, "delta"),
      (6L, null.asInstanceOf[String]) // null fp: anti-join keeps it -> bloom path must too
    ).toDF("doc_id", "text")
    val exact = Dedup.incrementalDedup(batch, store)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val bloomed = Dedup.incrementalDedupBloom(batch, store)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(bloomed == exact, "bloom pre-filter must be semantically transparent")
    assert(bloomed == Seq(2L, 5L, 6L))
    // pre-built + persisted filter path (the recurring-refresh shape)
    val bytes = Bloom.build(store, col("fingerprint"), 2, 0.01)
    val viaPrebuilt = Dedup.incrementalDedupBloom(batch, store, bloom = Some(bytes))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaPrebuilt == exact)
    // corpus-scale differential: sf documents split store/batch by id
    val dStore = Dedup.fingerprintStore(docs.filter(col("doc_id") % 3 === 0))
    val dBatch = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    val e = Dedup.incrementalDedup(dBatch, dStore)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Dedup.incrementalDedupBloom(dBatch, dStore)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(b == e, "corpus differential: bloom path diverged from exact path")
  }

  test("decontaminate bloom: bit-identical to the broadcast-exact path") {
    import graft.ops.Dedup
    val train = docs.filter(col("doc_id") % 17 =!= 0)
    val evalDf = docs.filter(col("doc_id") % 17 === 0)
    val exact = Dedup.decontaminate(train, evalDf, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val bloomed = Dedup.decontaminateBloom(train, evalDf, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(bloomed == exact, "bloom decontamination diverged from exact path")
    assert(bloomed.nonEmpty, "survivors expected at sf0.001")
    // expectedShingles hint skips the sizing count without changing results
    val hinted = Dedup.decontaminateBloom(train, evalDf, "doc_id", "text", n = 4,
        expectedShingles = Some(100000L))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(hinted == exact)
  }

  test("within-doc line dedup: repeats keep first occurrence, blanks untouched, exact equality") {
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha\n\n\nbeta\ngamma"),
      (2L, "alpha \nalpha\nalpha "),   // trailing space = a DIFFERENT line
      (3L, "solo"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesInDoc(docs, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha\nbeta\n\n\ngamma", s"got <${out(1L)}>")
    assert(out(2L) == "alpha \nalpha", s"got <${out(2L)}>")
    assert(out(3L) == "solo")
    assert(out(4L) == "")
    // other documents untouched: idempotent
    val twice = Dedup.dedupLinesInDoc(Dedup.dedupLinesInDoc(docs, "text"), "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice == out)
  }

  test("boilerplate lines: corpus-frequency removal, blanks and order preserved") {
    val nav = "  Nav  Home   About "   // normalization folds case/whitespace
    val docs = Seq(
      (1L, s"$nav\nunique alpha one\n\nNAV HOME ABOUT\nclosing alpha"),
      (2L, s"$nav\nunique beta two"),
      (3L, s"$nav\nunique gamma three"),
      (4L, "no boilerplate here at all")
    ).toDF("doc_id", "text")
    val report = Dedup.boilerplateLines(docs, "doc_id", "text", maxDocFreq = 2)
      .collect()
    assert(report.length == 1, report.mkString(";"))
    assert(report.head.getAs[Long]("n_docs") == 3) // doc 1 counts ONCE despite 2 copies
    val stripped = Dedup.stripBoilerplate(docs, "doc_id", "text", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // both normalized variants vanish; the blank line and order survive
    assert(stripped(1L) == "unique alpha one\n\nclosing alpha", s"got <${stripped(1L)}>")
    assert(stripped(2L) == "unique beta two")
    assert(stripped(4L) == "no boilerplate here at all")
    // below the threshold nothing is touched
    val same = Dedup.stripBoilerplate(docs, "doc_id", "text", maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.collect().foreach(r => assert(same(r.getLong(0)) == r.getString(1)))
  }

  test("contamination scores grade overlap; decontaminate is its zero-tolerance cut") {
    val evalDf = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta full copy here today"), // heavy overlap
      (2L, "alpha beta gamma delta other words follow here right now"), // one shared 4-gram
      (3L, "totally different content about spark executors and shuffles"),
      (4L, "tiny doc")                                                  // no 4-grams
    ).toDF("doc_id", "text")
    val scores = Dedup.contaminationScores(train, evalDf, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(scores(1L)._1 == 3 && scores(1L)._2 == 7) // 3 of its 7 4-grams shared
    assert(scores(2L)._1 == 1)
    assert(scores(3L) == ((0L, 5L, 0.0))) // 8 words -> 5 distinct 4-grams
    assert(scores(4L) == ((0L, 0L, 0.0)))
    // the boolean guard drops exactly the docs with any overlap
    val kept = Dedup.decontaminate(train, evalDf, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == scores.filter(_._2._1 == 0).keySet)
  }

  test("temperature mixing keeps the largest stratum at 1.0 and caps small strata") {
    import graft.ops.Sampling
    val df = (1 to 90).map(i => (i.toLong, if (i <= 80) "en" else "de"))
      .toDF("doc_id", "lang")
    val w = Sampling.temperatureWeights(df, "lang", alpha = 0.5, maxWeight = 4.0)
    assert(math.abs(w("en") - 1.0) < 1e-12, s"largest stratum keeps weight 1: $w")
    // w_de / w_en = sqrt(n_en / n_de) = sqrt(8), below the cap
    assert(math.abs(w("de") - math.sqrt(8.0)) < 1e-12)
    // the cap bites when the up-weight exceeds it
    val capped = Sampling.temperatureWeights(df, "lang", alpha = 0.5, maxWeight = 2.0)
    assert(math.abs(capped("de") - 2.0) < 1e-12 && math.abs(capped("en") - 1.0) < 1e-12)
    // alpha = 1: the natural corpus exactly — every weight 1.0, no
    // volume inflation (the convention ADVICE r10 flagged)
    val w1 = Sampling.temperatureWeights(df, "lang", alpha = 1.0, maxWeight = 4.0)
    assert(w1.values.forall(v => math.abs(v - 1.0) < 1e-12))
    // the mix materializes: per-row repetitions bounded by floor/ceil
    val mixed = Sampling.mixByTemperature(df, "doc_id", "lang", alpha = 0.5)
    val byLang = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == 80) // weight exactly 1.0 — never duplicated
    val de = byLang("de")
    assert(de >= 10 * math.floor(w("de")) && de <= 10 * math.ceil(w("de")), s"de=$de w=$w")
  }

  test("dedupByPairsBest keeps the best-scored member per component") {
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (4L, 0.1))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    def kept(asc: Boolean) = Dedup.dedupByPairsBest(
      docs, "doc_id", pairs, col("q"), ascending = asc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(asc = false) == Set(2L, 4L)) // highest quality wins
    assert(kept(asc = true) == Set(1L, 4L))  // lowest score wins
    // ties break toward the minimum id
    val tied = Seq((7L, 1.0), (5L, 1.0), (6L, 1.0)).toDF("doc_id", "q")
    val tp = Seq((5L, 6L), (6L, 7L)).toDF("a", "b")
    assert(Dedup.dedupByPairsBest(tied, "doc_id", tp, col("q"))
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("product quantization: exact codebook rows encode to themselves; ADC ranks twins first; full-refine equals brute force") {
    import graft.ops.Similarity
    val model = Similarity.trainPq(embeddings, "vec_id", "embedding",
      m = 4, codebookSize = 8)
    assert(model.dsub * model.m == 64 && model.codebookSize == 8)
    // a codebook row reconstructs exactly: every subspace distance 0
    // -> its own index wins each argmin, so the ADC score of a
    // codebook row against itself is its true squared norm
    val seedIds = embeddings
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      .limit(8).select("vec_id").collect().map(_.getLong(0))
    val codes = Similarity.pqEncode(embeddings, "embedding", model)
    assert(codes.columns.contains("pq_code"))
    val seedCodes = codes.filter(col("vec_id").isin(seedIds: _*))
      .select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // the i-th md5-ordered seed contributed subvector i to EVERY
    // codebook, so its code must be [i, i, i, i]
    seedIds.zipWithIndex.foreach { case (id, i) =>
      assert(seedCodes(id) == Seq.fill(4)(i),
        s"seed $id (rank $i) must encode to its own centroids, got ${seedCodes(id)}")
    }
    // refined search over the FULL candidate set is exactly brute force
    val queries = embeddings.filter(col("vec_id") % 50 === 0)
    val total = embeddings.count().toInt
    val refined = Similarity.pqTopKRefined(queries, embeddings,
        "vec_id", "vec_id", "embedding", k = 5, model, candidates = total)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val brute = Similarity.bruteForceTopK(queries, embeddings,
        "vec_id", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(refined == brute,
      "full-candidate refine must reproduce exact brute-force ranking")
    // pure-ADC search is deterministic and returns k rows per query
    val adc = Similarity.pqTopK(queries, codes, "vec_id", "embedding",
      "vec_id", k = 5, model)
    val perQuery = adc.groupBy("query_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perQuery == Set(5L), s"5 neighbors per query, got $perQuery")
  }

  test("ivf-pq: persisted roundtrip is bit-identical; full probe + full refine equals brute force") {
    import graft.ops.Similarity
    val idx = Similarity.buildIvfPqIndex(embeddings, "vec_id", "embedding",
      nlist = 8, m = 4, codebookSize = 16)
    val q = embeddings.filter(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 9).as("sim"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    val mem = rows(Similarity.ivfTopKIndexed(q, idx, "vec_id", "embedding",
      k = 5, nprobe = 3))
    assert(mem.nonEmpty)
    // save -> load -> probe through the partitioned code layout:
    // bit-identical (codebooks and centroids are exact doubles through
    // parquet; codes are ints)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.saveIvfIndex(idx, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val pq = loaded.pq.get
    assert(pq.m == 4 && pq.codebookSize == 16 && pq.dsub == 16)
    assert(rows(Similarity.ivfTopKIndexed(q, loaded, "vec_id", "embedding",
      k = 5, nprobe = 3)) == mem)
    // the on-disk codes are partitioned by list and carry NO vectors —
    // the probed scan reads 4 small ints per stored vector
    val listDirs = new java.io.File(s"$dir/codes.parquet").listFiles()
      .filter(_.getName.startsWith("list_id="))
    assert(listDirs.nonEmpty)
    assert(loaded.lists.columns.sorted.toSeq == Seq("list_id", "neighbor_id", "pq_code"))
    // probing ALL lists with a full-corpus candidate budget, then
    // exact-refining, reproduces brute-force ranking exactly: the ADC
    // stage only winnows, the rerank restores exact cosines
    val total = embeddings.count().toInt
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val refined = triples(Similarity.ivfPqTopKRefined(q, embeddings, idx,
      "vec_id", "vec_id", "embedding", k = 5, nprobe = 8, candidates = total))
    val brute = triples(Similarity.bruteForceTopK(q, embeddings,
      "vec_id", "vec_id", "embedding", k = 5))
    assert(refined == brute,
      "full-probe full-candidate ivf-pq refine must reproduce brute-force ranking")
  }

  test("ivf-pq refine refuses an index whose lists hold vectors") {
    import graft.ops.Similarity
    val q = embeddings.filter(col("vec_id") % 50 === 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRefined(q, embeddings,
        Similarity.buildIvfIndex(embeddings, "vec_id", "embedding", nlist = 4),
        "vec_id", "vec_id", "embedding", k = 5)
    }
    assert(e.getMessage.contains("holds vectors"), e.getMessage)
  }

  test("ivf-pq append: probe over appended index == full re-encode at fixed model") {
    import graft.ops.Similarity
    val base = embeddings.filter(col("vec_id") % 3 > 0)
    val batch = embeddings.filter(col("vec_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    Similarity.saveIvfIndex(Similarity.buildIvfPqIndex(
      base, "vec_id", "embedding", nlist = 8, m = 4, codebookSize = 16), dir)
    val appended = Similarity.appendIvfIndex(
      spark, dir, batch, "vec_id", "embedding")
    assert(appended.lists.count() == embeddings.count())
    // the REAL append contract: the on-disk codes after the append are
    // row-identical to an INDEPENDENT re-encode of base+batch at the
    // saved centroids + codebooks (no disk roundtrip involved)
    val reEncoded = Similarity.pqEncode(
        Similarity.residualFrame(embeddings, "vec_id", "embedding",
          appended.centroids),
        "__resid", appended.pq.get)
      .select(col("list_id"), col("neighbor_id"), col("pq_code"))
    def codeRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => s"${r.get(0)}|${r.get(1)}|${r.getSeq[Int](2)}")
        .sorted.toSeq
    assert(codeRows(appended.lists.select("list_id", "neighbor_id", "pq_code")) ==
      codeRows(reEncoded),
      "appended codes must equal a fixed-model re-encode of base+batch")
    // and the probe over the appended index returns k rows per query
    val q = embeddings.filter(col("vec_id") % 50 === 0)
    val viaAppend = Similarity.ivfTopKIndexed(q, appended,
      "vec_id", "embedding", k = 5, nprobe = 3)
    assert(viaAppend.groupBy("query_id").count()
      .collect().map(_.getLong(1)).toSet == Set(5L))
    // LUT placement (inline vs split broadcast) is a plan choice only:
    // both shapes must score identically
    def adcRows(lutSplit: Long): Seq[String] =
      Similarity.ivfSearch(q, appended, "vec_id", "embedding",
          k = 5, nprobe = 3, lutSplitBytes = lutSplit)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 9).as("sim"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    assert(adcRows(Long.MaxValue) == adcRows(0L),
      "inline-LUT and split-LUT plans must rank identically")
  }

  test("recall@k: exact self-recall is 1, disjoint is 0, partial counts intersections") {
    import graft.ops.Similarity
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 7L), (2L, 8L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getDouble(3))).toMap
    assert(r(1L) == ((2L, 3L, 2.0 / 3)))
    assert(r(2L) == ((0L, 2L, 0.0)))
    val self = Similarity.recallAtK(exact, exact)
      .collect().map(_.getDouble(3))
    assert(self.forall(_ == 1.0))
    // duplicate (query, neighbor) rows on the approx side (a multi-band
    // LSH result not deduped upstream) must not double-count hits —
    // recall stays what the distinct pairs earn and never exceeds 1
    val dup = Similarity.recallAtK(approx.union(approx).union(exact), exact)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(dup(1L) == 1.0 && dup(2L) == 1.0,
      s"duplicated approx rows must count once: $dup")
    // measured end-to-end: full-probe ivf recall against brute force is 1
    val q = embeddings.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(q, embeddings,
      "vec_id", "vec_id", "embedding", k = 5)
    val fullProbe = Similarity.ivfTopK(q, embeddings,
      "vec_id", "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8)
    val rec = Similarity.recallAtK(fullProbe, brute)
      .agg(min(col("recall"))).head().getDouble(0)
    assert(rec == 1.0, s"probing every list must recover exact top-k, got $rec")
  }

  test("cluster-balanced sample: k per cluster, deterministic, cluster-size invariant") {
    import graft.ops.Similarity
    val out = Similarity.clusterBalancedSample(embeddings, "vec_id", "embedding",
      kPerCluster = 5, nlist = 8, seed = 7)
    assert(out.columns.toSet ==
      Set("vec_id", "embedding", "list_id", "centroid_sim"))
    // exactly min(k, |cluster|) winners per cluster — balanced coverage
    val sizes = out.groupBy("list_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.size == 8, s"expected 8 clusters, got ${sizes.keySet}")
    assert(sizes.values.forall(_ <= 5))
    val clusterTotals = Similarity.semClusters(embeddings, "vec_id", "embedding",
        nlist = 8).groupBy("list_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sizes.foreach { case (lid, n) =>
      assert(n == math.min(5L, clusterTotals(lid)),
        s"cluster $lid: sampled $n of ${clusterTotals(lid)}")
    }
    // pure function of (corpus, params): rerun and layout change agree
    val ids = out.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val again = Similarity.clusterBalancedSample(
        embeddings.repartition(7), "vec_id", "embedding",
        kPerCluster = 5, nlist = 8, seed = 7)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == ids, "sample must be layout-independent")
    // a different seed moves the within-cluster winners
    val other = Similarity.clusterBalancedSample(embeddings, "vec_id", "embedding",
        kPerCluster = 5, nlist = 8, seed = 8)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(other != ids, "seed must matter")
  }

  test("semDedup matches an independent reimplementation of the recipe") {
    import graft.ops.Similarity
    // three tight semantic groups + a far singleton, 8 dims
    def v(base: Array[Double], eps: Double): Array[Float] =
      base.zipWithIndex.map { case (x, i) => (x + (if (i == 7) eps else 0.0)).toFloat }
    val gx = Array(1.0, 0.1, 0, 0, 0, 0, 0, 0)
    val gy = Array(0, 0, 1.0, 0.2, 0, 0, 0, 0)
    val gz = Array(0, 0, 0, 0, 1.0, 0.3, 0, 0)
    val rows = Seq(
      (1L, v(gx, 0.00)), (2L, v(gx, 0.01)), (3L, v(gx, 0.02)), (4L, v(gx, 0.03)),
      (10L, v(gy, 0.00)), (11L, v(gy, 0.01)),
      (20L, v(gz, 0.00)), (21L, v(gz, 0.01)), (22L, v(gz, 0.02)),
      (30L, Array(0f, 1f, 0f, 0f, 0f, 0f, 1f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val nlist = 3
    val threshold = 0.995

    // independent reimplementation (plain Scala, no Spark)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val seeds = rows.sortBy(r => (md5hex(r._1.toString), r._1)).take(nlist)
      .map(r => r._1 -> r._2) // (list_id, centroid)
    def assign(vec: Array[Float]) =
      seeds.map { case (lid, c) => (cos(vec, c), lid) }
        .sortBy { case (d, lid) => (-d, lid) }.head
    val assigned = rows.map { case (id, vec) =>
      val (sim, lid) = assign(vec); (id, vec, lid, sim)
    }
    val dupPairs = for {
      (ia, va, la, _) <- assigned; (ib, vb, lb, _) <- assigned
      if ia < ib && la == lb && cos(va, vb) >= threshold
    } yield (ia, ib)
    // union-find
    val parent = scala.collection.mutable.Map(assigned.map(a => a._1 -> a._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    dupPairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expected = assigned.groupBy(a => find(a._1)).values.flatMap { grp =>
      if (grp.size == 1) grp.map(_._1)
      else Seq(grp.minBy(a => (a._4, a._1))._1) // lowest centroid sim, then min id
    }.toSet

    val got = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = threshold, nlist = nlist)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"got $got expected $expected")
    // the recipe must actually collapse something on this data
    assert(got.size < rows.size)
    // min-id variant agrees with dedupByPairs semantics
    val gotMin = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = threshold, nlist = nlist, keepFarthestFromCentroid = false)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expectedMin = assigned.groupBy(a => find(a._1)).values.flatMap { grp =>
      Seq(grp.map(_._1).min) }.toSet
    assert(gotMin == expectedMin)

    // maxCluster guard: clusters above the cap generate NO pairs (all
    // members survive) — the degenerate-cluster O(n²) escape hatch
    val cap = 2
    val sizes = assigned.groupBy(_._3).view.mapValues(_.size).toMap
    val cappedPairs = for {
      (ia, va, la, _) <- assigned; (ib, vb, lb, _) <- assigned
      if ia < ib && la == lb && sizes(la) <= cap && cos(va, vb) >= threshold
    } yield (ia, ib)
    val parent2 = scala.collection.mutable.Map(assigned.map(a => a._1 -> a._1): _*)
    def find2(x: Long): Long =
      if (parent2(x) == x) x else { val r = find2(parent2(x)); parent2(x) = r; r }
    cappedPairs.foreach { case (a, b) => parent2(find2(a)) = find2(b) }
    val expectedCapped = assigned.groupBy(a => find2(a._1)).values.flatMap { grp =>
      if (grp.size == 1) grp.map(_._1)
      else Seq(grp.minBy(a => (a._4, a._1))._1)
    }.toSet
    val gotCapped = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = threshold, nlist = nlist, maxCluster = cap)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotCapped == expectedCapped, s"got $gotCapped expected $expectedCapped")
    assert(gotCapped.size >= got.size, "capping clusters can only keep more docs")
  }

  test("minhash signature kernel matches the k-HOF Column formulation, both hashers") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "", " ", "\t", "one two", "one two three",
      "répété café … unicode naïve tokens with accents here today",
      "a a a a a a a a",
      (1 to 200).map(i => s"w$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      // in-repo shingles() never emits null elements, but the public
      // contract accepts any array<string>: null elements must be
      // SKIPPED like array_min over null hashes, all-null like empty
      .unionByName(Seq(
        (100L, Seq("a b c", null, "d e f")),
        (101L, Seq(null.asInstanceOf[String], null.asInstanceOf[String])),
        (102L, Seq.empty[String])).toDF("id", "sh"))
    for (k <- Seq(1, 16, 60)) {
      // reference: the k-HOF formulation with the same hasher lambdas
      def ref(hasher: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column) =
        array((0 until k).map(s => array_min(transform(col("sh"), x => hasher(x, s)))): _*)
      val rows = df.select(col("id"),
        Dedup.minhashSignatureFromShingles(col("sh"), k, Dedup.md5Hash).as("k_md5"),
        ref(Dedup.md5Hash).as("r_md5"),
        Dedup.minhashSignatureFromShingles(col("sh"), k, Dedup.xxHash).as("k_xx"),
        ref(Dedup.xxHash).as("r_xx")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"md5 k=$k id=${r.getLong(0)}")
        assert(r.getSeq[java.lang.Long](3) == r.getSeq[java.lang.Long](4),
          s"xx64 k=$k id=${r.getLong(0)}")
      }
    }
  }

  test("hygiene verdict kernel matches the composed Column stage predicates") {
    import graft.ops.QualityFilters
    val gcfg = QualityFilters.GopherConfig()
    val rcfg = QualityFilters.RepetitionConfig()
    val okSentence = "the quick brown fox jumps over one lazy dog in that field today."
    val prose = Seq.fill(6)(okSentence).zipWithIndex
      .map { case (s, i) => s"$i $s" }.mkString("\n")
    val edge = Seq(
      "", " ", "\t", "\n\n", ".", "   \n   ",
      prose,                                              // clean pass
      prose + "\nlorem ipsum dolor sit amet etc etc etc.", // c4 lorem
      prose + "\nvar f = function() { return 1; }.",       // c4 brace
      "one line only with five words.",                    // c4 < 3 sentences
      "a b c.\nd e f.\ng h i.",                            // c4 short lines
      Seq.fill(3)("short words go here fine.").mkString("\n"),       // gopher < 50 words
      Seq.fill(6)("- " + okSentence).mkString("\n"),       // bullet lines
      Seq.fill(6)(okSentence + "...").mkString("\n"),      // ellipsis ends + symbols
      Seq.fill(6)("### " + okSentence.replace("the ", "# ")).mkString("\n"), // symbols
      Seq.fill(6)("12345 67890 11111 22222 33333 44444 55555 66666 77777 88888.").mkString("\n"), // non-alpha
      Seq.fill(12)(okSentence).mkString("\n"),             // dup lines
      (Seq.fill(5)(okSentence) ++ Seq.fill(30)("go go go go go.")).mkString("\n"), // n-gram rep
      Seq.fill(6)("der hund und die katze das haus ist nicht ein baum zu sehen mit auf.").mkString("\n"), // German
      Seq.fill(6)("le chat est dans la maison et les oiseaux pour que pas une fois.").mkString("\n"),     // French
      Seq.fill(6)("el perro y el gato es una casa que por con para los campos y.").mkString("\n"),        // Spanish
      Seq.fill(6)("café naïve İstanbul résumé … over the lazy dog fine day here now.").mkString("\n"), // unicode + …
      "the nbsp join stays one token of the and that have with day.\n" + prose, // NBSP not \s
      " \t leading tab  " + prose
    )
    val rnd = new scala.util.Random(20260814)
    val words = Seq("the", "and", "of", "to", "fox", "dog", "#", "...", "{",
      "der", "und", "le", "la", "el", "lorem", "ipsum", "data", "value",
      "supercalifragilisticexpialidocious", "a", "12", "-", "…")
    val random = (1 to 250).map { _ =>
      val n = rnd.nextInt(120)
      (0 until n).map { _ =>
        val w = words(rnd.nextInt(words.size))
        val sep = rnd.nextInt(20) match {
          case 0 => ".\n"
          case 1 => "\n"
          case 2 => ". "
          case 3 => "  "
          case _ => " "
        }
        w + sep
      }.mkString
    }
    val df = (edge ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    def columnVerdict(c4: Option[(Int, Int)], gopher: Option[QualityFilters.GopherConfig],
        rep: Option[QualityFilters.RepetitionConfig], minQ: Double,
        langs: Seq[String]) = {
      val t = col("text")
      val clean = c4.map(c => QualityFilters.c4Text(t, c._2)).getOrElse(t)
      val preds: Seq[(Int, org.apache.spark.sql.Column)] =
        c4.map(c => 1 -> QualityFilters.c4Keep(t, c._1, c._2)).toSeq ++
          gopher.map(g => 2 -> QualityFilters.gopherKeep(clean, g)).toSeq ++
          rep.map(r => 3 -> QualityFilters.repetitionKeep(clean, r)).toSeq ++
          Seq(4 -> (graft.ops.TextAnalysis.qualityScore(clean) >= minQ)) ++
          (if (langs.isEmpty) Seq.empty
           else Seq(5 -> graft.ops.TextAnalysis.langId(clean).isin(langs: _*)))
      preds.foldRight(lit(0)) { case ((i, p), acc) => when(!p, i).otherwise(acc) }
    }

    val configs = Seq(
      (Some((3, 5)), Some(gcfg), Some(rcfg), 0.3, Seq("en")),
      (None, Some(gcfg.copy(minWords = 5, minStopwordKinds = 1)), None, 0.5,
        Seq("en", "de", "fr")),
      (Some((2, 3)), None, Some(rcfg.copy(maxDupLineRatio = 0.5,
        maxTopNgramFrac = Map(2 -> 0.5), maxDupNgramFrac = Map.empty)), 0.0,
        Seq.empty[String]))
    configs.foreach { case (c4, gopher, rep, minQ, langs) =>
      val rows = df.select(col("doc_id"),
        QualityFilters.hygieneVerdict(col("text"), c4, gopher, rep, minQ, langs)
          .as("kernel"),
        columnVerdict(c4, gopher, rep, minQ, langs).as("ref"),
        col("text")).collect()
      rows.foreach { r =>
        assert(r.getInt(1) == r.getInt(2),
          s"config ($c4,$gopher,$rep,$minQ,$langs) doc ${r.getLong(0)}: kernel=" +
            s"${r.getInt(1)} ref=${r.getInt(2)} text=<${r.getString(3).take(80)}>")
      }
    }
  }

  test("repetition rules: empty n-gram families leave only the line rule (documented)") {
    import graft.ops.QualityFilters
    val cfg = QualityFilters.RepetitionConfig(
      maxTopNgramFrac = Map.empty, maxDupNgramFrac = Map.empty)
    val df = Seq(
      (1L, "same line\nsame line\nsame line\nother"), // dup-line 0.5 > 0.3 -> drop
      (2L, "go go go go go go go go go go")           // extreme n-gram rep, but families off
    ).toDF("doc_id", "text")
    val kept = QualityFilters.repetitionFilter(df, cfg = cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    val sig = QualityFilters.repetitionSignals(df, cfg = cfg)
    assert(sig.columns.toSet ==
      Set("doc_id", "text", "dup_line_ratio", "repetition_keep"))
  }

  test("signature store keeps non-numeric ids; shingle-less docs never bucket") {
    import graft.ops.Dedup
    // string ids survive the store round trip (a long cast would null them)
    val prior = Seq(("u-alpha", "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val store = Dedup.signatures(prior, "doc_id", "text", k = 16, n = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_str").toString
    Dedup.saveStore(store, "doc_id", "sig", dir)
    val loaded = Dedup.loadStore(spark, "doc_id", "sig", dir)
    assert(loaded.select("doc_id").collect().map(_.getString(0)).toSeq == Seq("u-alpha"))
    val batch = Seq(
      ("b-copy", "the quick brown fox jumps over the lazy dog today"),
      ("b-short", "two words"),   // < n tokens: no shingles
      ("b-other", "completely different content about spark partitions here")
    ).toDF("doc_id", "text")
    val hits = Dedup.nearDupStoreHits(
        Dedup.signatures(batch, "doc_id", "text", k = 16, n = 3), loaded)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(hits("b-copy") == 1.0)
    assert(!hits.contains("b-short"),
      "shingle-less docs share no evidence and must not collide via md5(\"\") buckets")
    // and a shingle-less doc in the STORE doesn't blanket-hit the batch
    val shortStore = Dedup.signatures(
      Seq(("s-short", "one token")).toDF("doc_id", "text"), "doc_id", "text", k = 16, n = 3)
    assert(Dedup.nearDupStoreHits(
      Dedup.signatures(batch, "doc_id", "text", k = 16, n = 3), shortStore).count() == 0)
  }

  test("incremental near-dedup: store near-hits dropped, intra-batch collapses") {
    import graft.ops.Dedup
    val priorText = "the quick brown fox jumps over the lazy dog today"
    val prior = Seq((100L, priorText)).toDF("doc_id", "text")
    val store = Dedup.signatures(prior, "doc_id", "text", k = 16, n = 3)
    val batch = Seq(
      (1L, priorText), // exact copy of a store doc -> est 1.0, dropped
      (2L, "completely different content about spark partitions and shuffles here"),
      (3L, "completely different content about spark partitions and shuffles here"),
      (4L, "unrelated third document with plenty of distinct words inside")
    ).toDF("doc_id", "text")
    val hits = Dedup.nearDupStoreHits(
      Dedup.signatures(batch, "doc_id", "text", k = 16, n = 3), store)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(hits(1L) == 1.0)
    assert(!hits.contains(4L), "no bucket collision -> no hit row")
    val out = Dedup.incrementalNearDedup(batch, store, threshold = 0.5)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(2L, 4L), "store hit 1 dropped; intra-batch dup keeps min id 2")
    // store round-trips through parquet and scores identically
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore").toString
    Dedup.saveStore(store, "doc_id", "sig", dir)
    val loaded = Dedup.loadStore(spark, "doc_id", "sig", dir)
    val out2 = Dedup.incrementalNearDedup(batch, loaded, threshold = 0.5)
    assert(out2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
  }

  test("store contract round-trips an xxHash signature store") {
    import graft.ops.Dedup
    val priorText = "the quick brown fox jumps over the lazy dog today"
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Dedup.signatures(df, "doc_id", "text", k = 16, n = 3, hasher = Dedup.xxHash)
    val store = sigs(Seq((100L, priorText),
      (101L, "a wholly separate prior document about parquet row groups")).toDF("doc_id", "text"))
    val batch = Seq(
      (1L, priorText),
      (2L, "the quick brown fox jumps over the lazy dog yesterday"),
      (3L, "completely different content about spark partitions and shuffles here"),
      (4L, "completely different content about spark partitions and shuffles here")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_xxstore").toString
    Dedup.saveStore(store, "doc_id", "sig", dir)
    val loaded = Dedup.loadStore(spark, "doc_id", "sig", dir)
    assert(sigs(batch).schema("sig").dataType.sql == "ARRAY<BIGINT>")
    assert(loaded.schema("sig").dataType.sql == "ARRAY<STRING>")
    def hits(s: org.apache.spark.sql.DataFrame) = Dedup.nearDupStoreHits(sigs(batch), s)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def survivors(s: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDedup(batch, s, threshold = 0.5, hasher = Dedup.xxHash)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(hits(store)(1L) == 1.0)
    assert(hits(loaded) == hits(store))
    assert(survivors(loaded) == survivors(store))
    assert(!survivors(store).contains(1L))
    val e = intercept[IllegalArgumentException](Dedup.saveStore(
      Seq((1L, "x")).toDF("doc_id", "sig"), "doc_id", "sig", dir))
    assert(e.getMessage.contains("array or an integral"), e.getMessage)
  }

  test("bigram LM: hand-computed smoothing, unk mapping, save/load roundtrip") {
    import graft.ops.QualityFilters
    val corpus = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z")).toDF("doc_id", "text")
    val r = QualityFilters.bigramLogProbs(corpus).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    // unigrams: a=3, b=3, c=1, z=1 -> vocab {a,b}, V = 3
    // mapped bigrams: doc1 (a,b)x2 (b,a); doc2 (a,b) (b,<unk>)
    // counts: (a,b)=3 (b,a)=1 (b,<unk>)=1; context totals: a=3, b=2
    val pAB = math.log((3 + 0.4) / (3 + 0.4 * 3))
    val pBA = math.log((1 + 0.4) / (2 + 0.4 * 3))
    assert(r(1L)._1 == 3L)
    assert(math.abs(r(1L)._2 - (2 * pAB + pBA) / 3) < 1e-9)
    assert(r(2L)._1 == 2L)
    assert(math.abs(r(2L)._2 - (pAB + pBA) / 2) < 1e-9) // P(unk|b) = P(a|b)
    assert(!r.contains(3L), "single-token doc must contribute no bigrams")
    assert(math.abs(r(1L)._3 - math.exp(-r(1L)._2)) < 1e-9)

    // cross-corpus scoring: fully unseen context floors at ln(1/V)
    val model = QualityFilters.bigramModel(corpus)
    val r9 = QualityFilters.bigramLogProbs(
      Seq((9L, "q q")).toDF("doc_id", "text"), model = Some(model)).collect().head
    assert(math.abs(r9.getDouble(2) - math.log(0.4 / (0.4 * 3))) < 1e-9)

    // save/load roundtrip scores identically
    val dir = java.nio.file.Files.createTempDirectory("graft_bigram").toString
    QualityFilters.saveBigramModel(model, dir)
    val loaded = QualityFilters.loadBigramModel(spark, dir)
    val a = QualityFilters.bigramLogProbs(corpus, model = Some(model))
      .orderBy("doc_id").collect()
    val b = QualityFilters.bigramLogProbs(corpus, model = Some(loaded))
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("pii scrub replaces emails and IPv4, counts match") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "contact alice@example.com or 10.0.0.1 today"),
      (2L, "no pii here"),
      (3L, "bob@a.co and carol@b.org and 192.168.1.255")
    ).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      TextAnalysis.piiCount(col("text")).as("n"),
      TextAnalysis.scrubPii(col("text")).as("s"))
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getString(2))).toMap
    assert(r(1L) == ((2, "contact <PII> or <PII> today")))
    assert(r(2L) == ((0, "no pii here")))
    assert(r(3L) == ((3, "<PII> and <PII> and <PII>")))
  }

  test("shingles: guarded for short texts, distinct") {
    val r = Seq("a b c d", "x y", "p p p p")
      .toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(r(0) == Seq("a b c", "b c d"))
    assert(r(1) == Seq.empty)
    assert(r(2) == Seq("p p p")) // distinct
  }

  test("c4 span dedup: first occurrence wins, losers lose exactly the span") {
    import graft.ops.Dedup
    val blk = "Alpha one. Beta two. Gamma three."
    val df = Seq(
      (1L, s"Head one. $blk Tail one."),          // winner: keeps the block
      (2L, s"Head two. $blk Tail two."),          // loser: block removed
      (3L, s"$blk"),                              // loser: everything removed
      (4L, "No shared content here. Second thought. Third idea. Fourth point."),
      (5L, "Too short."),                         // <3 sentences: untouched
      (6L, "no terminal punctuation at all")      // 0 sentences: emptied
    ).toDF("doc_id", "text")
    val r = Dedup.spanDedup(df).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == s"Head one. $blk Tail one.")
    assert(r(2L) == "Head two. Tail two.")
    assert(r(3L) == "")
    assert(r(4L) == "No shared content here. Second thought. Third idea. Fourth point.")
    assert(r(5L) == "Too short.")
    assert(r(6L) == "")
  }

  test("c4 span dedup: within-doc repeats collapse to the first block") {
    import graft.ops.Dedup
    val blk = "Alpha one. Beta two. Gamma three."
    val df = Seq((1L, s"$blk $blk $blk")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(df).collect().head.getString(1)
    // 9 sentences; span (0,1,2) wins its hash, every later duplicated
    // span occurrence (including wrap-arounds) is cut
    assert(r == blk, s"got: $r")
  }

  test("exact dedup keeps min id per duplicate group") {
    val d = Seq((1L, "same text here"), (2L, "same text here"), (3L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(d, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
    val groups = Dedup.exactGroups(d, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(groups.map(_.getLong(2)).toSeq == Seq(2L, 1L))
  }

  test("minhash candidates recall exact high-jaccard pairs") {
    // ground truth: exact jaccard pairs >= 0.5 on real documents
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
      k = 16, bands = 8, n = 3, maxBucket = 100000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // LSH with 8 bands of 2 rows catches j>=0.5 pairs w.h.p.
    val recall = exact.count(cands.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} true pairs")
  }

  test("re-deriving an identical dedup plan reuses the cache silently") {
    // q_ngram_jaccard and q_dedup_components derive the SAME shingle
    // plan; the second derivation must reuse the first's
    // InMemoryRelation without re-issuing cache() (which logs
    // `CacheManager: Asked to cache already cached data`)
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    // session creation RECONFIGURES log4j (Spark installs its default
    // config), which would silently drop an appender attached earlier —
    // touch the session (and the input frame) first
    docs.count()
    val warned = new java.util.concurrent.CopyOnWriteArrayList[String]
    val probe = new AbstractAppender("cache-warn-probe", null, null, false, Array.empty) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val lg = LogManager.getLogger("org.apache.spark.sql.execution.CacheManager")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    lg.addAppender(probe)
    try {
      // the exact q_dedup_components derivation, twice — covers both
      // the shingle-plan caches inside ngramJaccardPairs AND the final
      // component round's cache, which backs the RETURNED frame and so
      // stays resident into the second derivation (the bench-rep shape)
      def derive(): Array[org.apache.spark.sql.Row] =
        Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)).collect()
      val first = derive()
      val second = derive()
      assert(first.length == second.length)
      import scala.jdk.CollectionConverters._
      assert(!warned.asScala.exists(_.contains("already cached")),
        s"re-cache warning fired: ${warned.asScala.mkString("; ")}")
    } finally { lg.removeAppender(probe); probe.stop() }
  }

  test("lshParamsFor calibrates banding to the target threshold") {
    // the S-curve's 50% collision point (1/b)^(1/r) must land near the
    // requested threshold, and more selective thresholds must yield
    // more rows per band (steeper curves)
    Seq(0.3, 0.5, 0.7, 0.9).foreach { t =>
      val (k, bands) = Dedup.lshParamsFor(t)
      assert(k % bands == 0 && k >= 4 && k <= 64)
      val rows = k / bands
      val inflection = math.pow(1.0 / bands, 1.0 / rows)
      assert(math.abs(inflection - t) < 0.15,
        s"threshold $t -> (k=$k, bands=$bands), inflection $inflection")
    }
    val loose = Dedup.lshParamsFor(0.3)
    val strict = Dedup.lshParamsFor(0.9)
    assert(strict._1 / strict._2 > loose._1 / loose._2,
      s"stricter threshold should use more rows per band: $loose vs $strict")
    // chosen parameters drive the real pipeline: candidates at the
    // tuned parameters still catch the planted near-dups
    val (k, bands) = Dedup.lshParamsFor(0.5, maxK = 24)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
      k = k, bands = bands, n = 3, maxBucket = 100000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recall = exact.count(cands.contains).toDouble / exact.size
    assert(recall >= 0.8, s"tuned (k=$k, bands=$bands) recall $recall")
  }

  test("minhash estimated jaccard approximates exact") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val est = Dedup.minhashJaccardPairs(docs, "doc_id", "text",
      k = 64, bands = 32, n = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val both = exact.keySet & est.keySet
    assert(both.nonEmpty)
    both.foreach { k =>
      assert(math.abs(exact(k) - est(k)) < 0.35,
        s"pair $k exact=${exact(k)} est=${est(k)}")
    }
  }

  test("minhash estimation: raised maxBucket covers >1000-doc degenerate buckets") {
    // 1005 identical docs land in ONE bucket per band — one past the
    // production default cap. The oracle-facing call site must pass a
    // raised cap or silently drop the whole bucket (r5 verdict #2).
    val clones = spark.range(1005).select(col("id").as("doc_id"),
      lit("the same exact document text repeated verbatim").as("text"))
    val capped = Dedup.minhashJaccardPairs(clones, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.3) // default maxBucket = 1000
    assert(capped.count() == 0, "default cap must drop the degenerate bucket")
    val full = Dedup.minhashJaccardPairs(clones, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.3, maxBucket = 1000000)
    assert(full.count() == 1005L * 1004 / 2, "raised cap must emit the complete pair set")
  }

  test("connected components match a local union-find") {
    val pairs = (Seq(
      (1L, 2L), (2L, 3L), // chain -> comp 1
      (10L, 11L), // pair -> comp 10
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle -> comp 20
      (30L, 35L), (35L, 31L), (31L, 36L), (36L, 32L) // longer chain -> comp 30
      // a 40-node chain -> comp 100: a min-label loop needs one round
      // per hop, and capped at 10 rounds it left comp(139) = 128
    ) ++ (100L until 139L).map(i => (i, i + 1))).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // local union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(got.keySet == pairs.as[(Long, Long)].collect().flatMap(p => Seq(p._1, p._2)).toSet)
    got.foreach { case (id, comp) => assert(comp == find(id), s"node $id") }
    assert(got(139L) == 100L)
  }

  test("dedupByPairsBest keeps one document of a 40-node chain") {
    // capped at 10 min-label rounds, 29 of the 40 documents survived
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val d = (1L to 40L).map(i => (i, s"doc $i", i.toDouble)).toDF("doc_id", "text", "q")
    assert(Dedup.dedupByPairsBest(d, "doc_id", pairs, col("q"))
      .select("doc_id").as[Long].collect().toSeq == Seq(40L))
  }

  test("dedup joins broadcast the components only when their measured size fits") {
    val d = (1L to 40L).map(i => (i, s"doc $i", i.toDouble)).toDF("doc_id", "text", "q")
    val pairs = (1L until 40L by 2).map(i => (i, i + 1)).toDF("a", "b")
    val odds = (1L to 40L by 2).toSeq
    // (kept ids, whether the executed plan broadcast anything)
    def run(best: Boolean): (Seq[Long], Boolean) = {
      val out = if (best) Dedup.dedupByPairsBest(d, "doc_id", pairs, -col("q"))
        else Dedup.dedupByPairs(d, "doc_id", pairs)
      val kept = out.select("doc_id").as[Long].collect().sorted.toSeq
      (kept, out.queryExecution.executedPlan.toString.contains("Broadcast"))
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // 20 pairs = 40 component rows: far below the default threshold
      assert(run(best = false) == (odds, true) && run(best = true) == (odds, true))
      // a threshold below the measured size: no broadcast, same answer
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      assert(run(best = false) == (odds, false) && run(best = true) == (odds, false))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dedupByPairs keeps one doc per duplicate component") {
    val d = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "y"), (9L, "z"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val kept = Dedup.dedupByPairs(d, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 7L, 9L))
  }

  test("cosine is 1 for identical, 0 for orthogonal") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    ).toDF("a", "b").select(Similarity.cosine(col("a"), col("b")).as("c"))
    val r = df.as[Double].collect()
    assert(math.abs(r(0) - 1.0) < 1e-12)
    assert(math.abs(r(1)) < 1e-12)
  }

  test("int8 quantization roundtrip bounded by scale/2 per element") {
    val q = embeddings.select(
      col("vec_id"), col("embedding"),
      Similarity.quantizeInt8(col("embedding")).as("qv"))
    val r = q.select(col("vec_id"),
      Similarity.cosine(col("embedding"), Similarity.dequantizeInt8(col("qv"))).as("fidelity"))
      .agg(min("fidelity")).head().getDouble(0)
    // int8 cosine fidelity vs original should stay very high
    assert(r > 0.999, s"min cosine fidelity $r")
    // storage shape: bytes + one scale
    val row = q.select("qv").head()
    val st = row.getStruct(0)
    assert(st.getAs[scala.collection.Seq[Byte]]("q").length == 64)
  }

  test("int8TopK: lossless on integral vectors, high recall on real embeddings") {
    // integral vectors with max|x| = 127 quantize losslessly (scale 1,
    // codes = values) — int8 search must equal brute force EXACTLY
    val ints = Seq(
      (1L, Array(127f, 0f, 3f)), (2L, Array(5f, 127f, -2f)),
      (3L, Array(-127f, 4f, 9f)), (4L, Array(6f, -8f, 127f)),
      (5L, Array(127f, 1f, 1f))).toDF("vec_id", "embedding")
    val qz = ints.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding")).as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 9).as("sim"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    assert(rows(Similarity.int8TopK(ints, qz,
      "vec_id", "vec_id", "embedding", "qv", k = 3)) ==
      rows(Similarity.bruteForceTopK(ints, ints,
        "vec_id", "vec_id", "embedding", k = 3)),
      "lossless quantization must reproduce exact search")
    // real embeddings: int8 keeps ~7 significant bits — top-5 recall
    // against exact search stays high
    val q5 = embeddings.filter(col("vec_id") % 50 === 0)
    val qze = embeddings.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding")).as("qv"))
    val approx = Similarity.int8TopK(q5, qze,
      "vec_id", "vec_id", "embedding", "qv", k = 5)
    val exact = Similarity.bruteForceTopK(q5, embeddings,
      "vec_id", "vec_id", "embedding", k = 5)
    val rec = Similarity.recallAtK(approx, exact)
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(rec > 0.9, s"int8 mean recall@5 $rec")
  }

  test("document frequency table supports empirical maxDf selection") {
    val dfreq = TextAnalysis.documentFrequency(docs)
    val total = docs.count()
    val top = dfreq.orderBy(col("doc_freq").desc).head()
    assert(top.getLong(1) <= total)
    assert(dfreq.filter(col("token") === "the").count() == 1)
  }

  test("brute-force topk returns k ranked neighbors per query") {
    val q = embeddings.filter(col("vec_id") % 25 === 0)
    val r = Similarity.bruteForceTopK(q, embeddings, "vec_id", "vec_id", "embedding", 3)
    val rows = r.collect()
    val nQueries = q.count()
    assert(rows.length == nQueries * 3)
    // ranks are 1..3 and sims are descending within a query
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("lsh topk neighbors are a subset of brute-force candidates with decent recall") {
    val q = embeddings.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(q, embeddings, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, embeddings, "vec_id", "vec_id", "embedding", 5,
      dim = 64, planes = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // these embeddings are near-random (max pairwise cosine ~0.5), the
    // worst case for LSH — expect partial recall, well above zero
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall > 0.15, s"recall $recall")
    assert(approx.nonEmpty)
  }

  test("ivf topk probes nearest lists") {
    val q = embeddings.filter(col("vec_id") % 25 === 0)
    val r = Similarity.ivfTopK(q, embeddings, "vec_id", "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 2)
    assert(r.count() > 0)
    assert(r.groupBy("query_id").count().agg(max("count")).head().getLong(0) <= 3)
  }

  test("persisted ivf index: save/load roundtrip matches the inline path") {
    val q = embeddings.filter(col("vec_id") % 25 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 9).as("sim"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    val inline = rows(Similarity.ivfTopK(q, embeddings,
      "vec_id", "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2))
    // build -> query without persistence
    val built = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding", nlist = 4)
    assert(rows(Similarity.ivfTopKIndexed(q, built, "vec_id", "embedding",
      k = 3, nprobe = 2)) == inline)
    // save -> load -> query: same results through the partitioned layout
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.saveIvfIndex(built, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(rows(Similarity.ivfTopKIndexed(q, loaded, "vec_id", "embedding",
      k = 3, nprobe = 2)) == inline)
    // the on-disk layout IS partitioned by list (what makes probe-time
    // partition pruning possible at scale)
    val listDirs = new java.io.File(s"$dir/lists.parquet").listFiles()
      .filter(_.getName.startsWith("list_id="))
    assert(listDirs.length == built.centroids.count())
    // compaction of the (unfragmented) plain-IVF layout is a no-op for
    // results: same rows, same probe output, still one file per list
    Similarity.compactIndex(spark, dir)
    val recompacted = Similarity.loadIvfIndex(spark, dir)
    assert(rows(Similarity.ivfTopKIndexed(q, recompacted, "vec_id", "embedding",
      k = 3, nprobe = 2)) == inline)
    new java.io.File(s"$dir/lists.parquet").listFiles()
      .filter(_.getName.startsWith("list_id=")).foreach { d =>
        assert(d.listFiles().count(_.getName.startsWith("part-")) == 1,
          s"one file per list after compaction in ${d.getName}")
      }
  }

  test("index lifecycle speaks Hadoop FS: file:// scheme, rename-less fail-fast, crash recovery") {
    val q = embeddings.filter(col("vec_id") % 25 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 9).as("sim"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    // the whole lifecycle through an explicitly SCHEMED path — the
    // java.nio formulation this replaced could not stat "file:/..."
    // at all (and silently mis-answered for hdfs://)
    val local = java.nio.file.Files.createTempDirectory("graft_fs_idx")
    val dir = "file:" + local.toString
    val base = embeddings.filter(col("vec_id") % 3 > 0)
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(base, "vec_id", "embedding", nlist = 4), dir)
    assert(Similarity.loadIvfIndex(spark, dir).pq.isEmpty, "plain IVF layout detected as PQ")
    Similarity.appendIvfIndex(spark, dir,
      embeddings.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
    val before = rows(Similarity.ivfTopKIndexed(q,
      Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding",
      k = 3, nprobe = 2))
    Similarity.compactIndex(spark, dir)
    assert(rows(Similarity.ivfTopKIndexed(q,
      Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding",
      k = 3, nprobe = 2)) == before, "compaction through file:// changed results")
    // crash between the two swap renames: the data dir is GONE and
    // .compact_old holds the index — the next compact must restore it
    // (name recovered from the layout siblings) and then succeed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "lists.parquet"),
      new org.apache.hadoop.fs.Path(dir, ".compact_old")))
    Similarity.compactIndex(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_old")))
    assert(rows(Similarity.ivfTopKIndexed(q,
      Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding",
      k = 3, nprobe = 2)) == before, "crash recovery lost index rows")
    // crash during cleanup: .compact_old left beside an INTACT data dir
    // is stale wreckage — deleted, compaction proceeds
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".compact_old/list_id=0"))
    Similarity.compactIndex(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_old")))
    assert(rows(Similarity.ivfTopKIndexed(q,
      Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding",
      k = 3, nprobe = 2)) == before)
    // IVF-PQ crash recovery restores the CODES name (codebooks sibling
    // is the tell) — a wrong-name restore would misroute the loader
    val pqLocal = java.nio.file.Files.createTempDirectory("graft_fs_pq")
    val pqDir = "file:" + pqLocal.toString
    Similarity.saveIvfIndex(Similarity.buildIvfPqIndex(
      embeddings, "vec_id", "embedding", nlist = 4, m = 4,
      codebookSize = 16), pqDir)
    assert(Similarity.loadIvfIndex(spark, pqDir).pq.isDefined)
    val pqFs = new org.apache.hadoop.fs.Path(pqDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pqBefore = rows(Similarity.ivfTopKIndexed(q,
      Similarity.loadIvfIndex(spark, pqDir), "vec_id", "embedding",
      k = 3, nprobe = 2))
    assert(pqFs.rename(new org.apache.hadoop.fs.Path(pqDir, "codes.parquet"),
      new org.apache.hadoop.fs.Path(pqDir, ".compact_old")))
    val codesDir = new org.apache.hadoop.fs.Path(pqDir, "codes.parquet")
    assert(!pqFs.exists(codesDir), "wreckage must not detect as PQ")
    Similarity.compactIndex(spark, pqDir)
    assert(pqFs.exists(codesDir), "recovery must restore codes.parquet")
    assert(rows(Similarity.ivfTopKIndexed(q,
      Similarity.loadIvfIndex(spark, pqDir), "vec_id", "embedding",
      k = 3, nprobe = 2)) == pqBefore)
    // rename-less object-store schemes fail FAST with the
    // rewrite-to-a-new-path advice — before touching the store
    val e = intercept[graft.errors.ConfigError] {
      Similarity.compactIndex(spark, "s3a://bucket/idx")
    }
    assert(e.getMessage.contains("atomic rename") &&
      e.getMessage.toLowerCase.contains("new path"),
      s"fail-fast message should carry the rewrite advice: ${e.getMessage}")
  }

  test("ivf append: probe over appended index == full rebuild at fixed centroids") {
    val base = embeddings.filter(col("vec_id") % 3 > 0)
    val batch = embeddings.filter(col("vec_id") % 3 === 0)
    val q = embeddings.filter(col("vec_id") % 25 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 9).as("sim"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    val baseIdx = Similarity.buildIvfIndex(base, "vec_id", "embedding", nlist = 4)
    // in-memory append: assignment at the FIXED base centroids, so the
    // appended index equals a whole-corpus assignment at those
    // centroids (appendToIvfIndex over an emptied lists frame)
    val appended = Similarity.appendToIvfIndex(baseIdx, batch, "vec_id", "embedding")
    val rebuilt = Similarity.appendToIvfIndex(
      baseIdx.copy(lists = baseIdx.lists.limit(0)), embeddings, "vec_id", "embedding")
    assert(rows(Similarity.ivfTopKIndexed(q, appended, "vec_id", "embedding",
      k = 3, nprobe = 2)) ==
      rows(Similarity.ivfTopKIndexed(q, rebuilt, "vec_id", "embedding",
        k = 3, nprobe = 2)))
    // every base row kept its list; every batch row gained exactly one
    assert(appended.lists.count() == base.count() + batch.count())
    // persisted append: same results through the on-disk layout, new
    // rows landing under the existing list_id= partition dirs
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.saveIvfIndex(baseIdx, dir)
    val reloaded = Similarity.appendIvfIndex(spark, dir, batch, "vec_id", "embedding")
    assert(rows(Similarity.ivfTopKIndexed(q, reloaded, "vec_id", "embedding",
      k = 3, nprobe = 2)) ==
      rows(Similarity.ivfTopKIndexed(q, appended, "vec_id", "embedding",
        k = 3, nprobe = 2)))
    assert(reloaded.lists.count() == appended.lists.count())
  }

  test("persisted ivf index keeps string list ids distinct on reload") {
    // partition-dir type inference would parse list_id=01 and
    // list_id=1 both as integer 1 and merge two distinct lists; the
    // loader pins the saved type instead. Ids chosen so both numeric
    // lookalikes are picked as centroids (nlist = corpus size).
    val c = embeddings.limit(8).select(
      format_string("%02d", col("vec_id")).as("sid"), col("embedding"))
      .union(embeddings.limit(8).select(
        format_string("%d", col("vec_id") + 1).as("sid"), col("embedding")))
    val built = Similarity.buildIvfIndex(c, "sid", "embedding", nlist = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_str").toString
    Similarity.saveIvfIndex(built, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.lists.schema("list_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(loaded.lists.select("list_id").distinct().count() ==
      built.lists.select("list_id").distinct().count())
    val q = c.limit(3)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 9).as("sim"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    assert(rows(Similarity.ivfTopKIndexed(q, loaded, "sid", "embedding",
      k = 2, nprobe = 2)) ==
      rows(Similarity.ivfTopKIndexed(q, built, "sid", "embedding",
        k = 2, nprobe = 2)))
  }

  test("ivf Lloyd refinement improves recall on a clustered corpus") {
    // 4 well-separated direction clusters in dim 8, noisy enough that
    // hash-sampled seed centroids sit off-center; Lloyd means recenter
    val dim = 8
    val clustered = spark.range(400).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)), j => {
        val cl = col("id") % 4
        val base = when(j === cl * 2, 10.0).otherwise(0.0)
        val noise = (pmod(hash(col("id"), j), lit(1000)).cast("double") / 250.0) - 2.0
        (base + noise).cast("float")
      }).as("embedding"))
    val q = clustered.filter(col("id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(q, clustered, "id", "id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(iters: Int): Double = {
      val approx = Similarity.ivfTopK(q, clustered, "id", "id", "embedding",
        k = 5, nlist = 4, nprobe = 1, refineIters = iters)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.count(approx.contains).toDouble / exact.size
    }
    val seedRecall = recallAt(0)
    val refined = recallAt(3)
    assert(refined >= seedRecall,
      s"refinement must never hurt here: seed=$seedRecall refined=$refined")
    assert(refined >= 0.85, s"refined recall $refined (seed was $seedRecall)")
  }

  test("pq Lloyd refinement lifts ADC recall on a clustered corpus") {
    // same planted geometry as the ivf refinement test; embeddings are
    // L2-normalized so the ADC inner-product ranking IS the cosine
    // ranking the exact baseline uses
    val dim = 8
    val clustered = spark.range(400).select(col("id"),
      Similarity.normalize(transform(sequence(lit(0), lit(dim - 1)), j => {
        val cl = col("id") % 4
        val base = when(j === cl * 2, 10.0).otherwise(0.0)
        val noise = (pmod(hash(col("id"), j), lit(1000)).cast("double") / 250.0) - 2.0
        (base + noise).cast("float")
      })).as("embedding"))
    val q = clustered.filter(col("id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(q, clustered, "id", "id", "embedding", 5)
    def recallOf(m: Similarity.PqModel): Double =
      Similarity.recallAtK(
        Similarity.pqTopK(q, Similarity.pqEncode(clustered, "embedding", m),
          "id", "embedding", "id", k = 5, m),
        exact).agg(avg(col("recall"))).head().getDouble(0)
    val donor = Similarity.trainPq(clustered, "id", "embedding",
      m = 4, codebookSize = 4)
    val refined = Similarity.refinePq(clustered, "embedding", donor, 3)
    val (r0, r3) = (recallOf(donor), recallOf(refined))
    assert(r3 >= r0, s"refinement must never hurt here: donor=$r0 refined=$r3")
    // the direct Lloyd guarantee: mean reconstruction error strictly
    // drops (each assign/mean step minimizes within-code MSE)
    val vecs = clustered.select(col("id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](1).toArray)
    def mse(m: Similarity.PqModel): Double = vecs.map { v =>
      (0 until m.m).map { j =>
        val xj = v.slice(j * m.dsub, (j + 1) * m.dsub)
        m.codebooks(j).map(c =>
          xj.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum
    }.sum / vecs.length
    val (e0, e3) = (mse(donor), mse(refined))
    assert(e3 < e0, s"refined quantization error $e3 must beat donor $e0")
    // shape is preserved, values moved
    assert(refined.m == donor.m && refined.dsub == donor.dsub &&
      refined.codebookSize == donor.codebookSize)
    assert(refined.codebooks.flatten.flatten.toSeq !=
      donor.codebooks.flatten.flatten.toSeq)
  }

  test("random projection: deterministic, norm-preserving in expectation, keeps planted neighborhoods") {
    val dim = 8
    val clustered = spark.range(400).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)), j => {
        val cl = col("id") % 4
        val base = when(j === cl * 2, 10.0).otherwise(0.0)
        val noise = (pmod(hash(col("id"), j), lit(1000)).cast("double") / 250.0) - 2.0
        (base + noise).cast("float")
      }).as("embedding"))
    val proj = clustered.select(col("id"),
      Similarity.randomProject(col("embedding"), dim, 4, seed = 7).as("embedding"))
    // deterministic across evaluations
    val a = proj.orderBy("id").collect().map(_.getSeq[Double](1))
    val b = proj.orderBy("id").collect().map(_.getSeq[Double](1))
    assert(a.toSeq.map(_.toSeq) == b.toSeq.map(_.toSeq))
    // E||p||^2 = ||v||^2: the mean norm ratio over 400 rows lands near 1
    val ratio = clustered
      .select((graft.functions.VecOps.vecDot(
          Similarity.randomProject(col("embedding"), dim, 4, seed = 7),
          Similarity.randomProject(col("embedding"), dim, 4, seed = 7))
        / graft.functions.VecOps.vecDot(
          Similarity.asDouble(col("embedding")),
          Similarity.asDouble(col("embedding")))).as("r"))
      .agg(avg(col("r"))).head().getDouble(0)
    assert(ratio > 0.6 && ratio < 1.5, s"mean norm ratio $ratio")
    // planted clusters survive the 2x compression: the JL guarantee is
    // STRUCTURE preservation, not exact fine ranking — so assert that
    // a projected query's top-5 stay in its own planted cluster (the
    // clusters are 10 units apart vs ±2 noise)
    val qp = proj.filter(col("id") % 20 === 0)
    val onProj = Similarity.bruteForceTopK(qp, proj, "id", "id", "embedding", 5)
    val sameCluster = onProj
      .select((col("query_id") % 4 === col("neighbor_id") % 4)
        .cast("double").as("same"))
      .agg(avg(col("same"))).head().getDouble(0)
    assert(sameCluster >= 0.9,
      s"projected top-5 must stay within the planted cluster: $sameCluster")
  }

  test("near-dup pairs via cosine threshold") {
    val pairs = Similarity.cosineNearDupPairsLsh(embeddings, "vec_id", "embedding",
      threshold = 0.4, dim = 64)
    pairs.collect().foreach { r =>
      assert(r.getAs[Double]("sim") >= 0.4)
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
    }
  }

  test("near-dup bucketed default: subset of exact, usable recall") {
    val exact = Similarity.cosineNearDupPairsExact(embeddings, "vec_id", "embedding",
      threshold = 0.4, dim = 64)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val bucketed = Similarity.cosineNearDupPairsLsh(embeddings, "vec_id", "embedding",
      threshold = 0.4, dim = 64, planes = 4, tables = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // candidates only shrink the pair set, never add to it
    assert(bucketed.subsetOf(exact))
    // these embeddings are near-random (0.4 is a weak association), the
    // worst case for LSH; real near-dups (cos >= 0.9) bucket together
    // with probability ~0.94 at these parameters
    val recall = exact.count(bucketed.contains).toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("decontaminate drops exactly the docs sharing an n-gram with eval") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "totally unrelated words here now")).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "xx yy one two three four zz")).toDF("doc_id", "text")
    val surviving = graft.ops.Dedup.decontaminate(train, eval_, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(surviving == Set(1L, 3L)) // doc 2 shares the 4-gram "one two three four"
    val contaminated = graft.ops.Dedup.contaminatedIds(train, eval_, "doc_id", "text", 4)
      .as[Long].collect().toSet
    assert(contaminated == Set(2L))
    // n larger than any shared span -> nothing dropped
    assert(graft.ops.Dedup.decontaminate(train, eval_, "doc_id", "text", n = 6)
      .count() == 3)
  }

  // ---- deterministic sampling / corpus mixing -----------------------

  test("hashSample: deterministic, order-independent, ~rate proportion") {
    import graft.ops.Sampling
    val a = Sampling.hashSample(docs, "doc_id", 0.25).select("doc_id")
      .as[Long].collect().toSet
    val b = Sampling.hashSample(docs.orderBy(rand(1)), "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b) // decision depends on id only, not layout
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.25) < 0.1, s"got ${a.size / n}")
    // different seed -> different (but still deterministic) sample
    val c = Sampling.hashSample(docs, "doc_id", 0.25, seed = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(c != a)
  }

  test("softSample: probability formula, endpoints, monotone under re-scoring") {
    import graft.ops.Sampling
    val ids = spark.range(1, 2001).select(col("id").as("doc_id"))
    def kept(score: Double): Set[Long] =
      Sampling.softSample(ids, "doc_id", lit(score), pivot = 0.8,
          sharpness = 2.0)
        .select("doc_id").as[Long].collect().toSet
    // endpoints: score 0 keeps nothing, score >= pivot keeps everything
    assert(kept(0.0).isEmpty)
    assert(kept(0.8).size == 2000 && kept(1.5).size == 2000)
    // keep_prob is the documented formula: (0.4/0.8)^2 = 0.25
    val p = Sampling.softSample(ids, "doc_id", lit(0.4), pivot = 0.8,
      sharpness = 2.0).select("keep_prob").head().getDouble(0)
    assert(p == 0.25, s"keep_prob $p")
    // ~p of rows survive, and the SAME hash decides at every score, so
    // raising a row's score can only ADD survivors (monotone)
    val low = kept(0.4)
    val high = kept(0.6) // p = 0.5625
    assert(math.abs(low.size / 2000.0 - 0.25) < 0.05, s"${low.size}")
    assert(low.subsetOf(high),
      "a row kept at a lower score must stay kept at a higher one")
    // decorrelated from the plain sample's decision at the same seed
    val plain = Sampling.hashSample(ids, "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(low != plain, "softsample salt must decorrelate from 'sample'")
  }

  test("stratifiedSample: per-stratum rates honored") {
    import graft.ops.Sampling
    val sampled = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 1.0, "de" -> 0.0), default = 0.5)
    val byLang = sampled.groupBy("lang").count().as[(String, Long)].collect().toMap
    val inputByLang = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") == inputByLang("en")) // rate 1.0 keeps all
    assert(!byLang.contains("de")) // rate 0.0 drops all
    val keptOther = (byLang.keySet - "en").map(byLang).sum.toDouble
    val totalOther = (inputByLang.keySet - "en" - "de").map(inputByLang).sum.toDouble
    assert(math.abs(keptOther / totalOther - 0.5) < 0.2)
  }

  test("hashSample and stratifiedSample share one sampling decision (documented contract)") {
    import graft.ops.Sampling
    // uniform stratified rates == plain sample (they are two rate
    // policies over the SAME "sample"-salted hash), and tightening a
    // rate yields a nested subset
    val plain = Sampling.hashSample(docs, "doc_id", 0.3).select("doc_id").as[Long].collect().toSet
    val strat = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map.empty, default = 0.3).select("doc_id").as[Long].collect().toSet
    assert(plain == strat)
    val tighter = Sampling.hashSample(docs, "doc_id", 0.1).select("doc_id").as[Long].collect().toSet
    assert(tighter.subsetOf(plain))
  }

  test("operators are decorrelated: a 10% sample is not the 10% test split") {
    import graft.ops.Sampling
    // same seed, same rate — but per-operator salts mean a user taking
    // a "random 10% sample" does not silently get their held-out split
    val sample = Sampling.hashSample(docs, "doc_id", 0.1, seed = 42)
      .select("doc_id").as[Long].collect().toSet
    val test10 = Sampling.assignSplits(docs, "doc_id", Seq("test" -> 0.1), seed = 42)
      .filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    assert(sample != test10)
    val mixExtra = Sampling.mixByWeight(docs, "doc_id", "lang",
      Map.empty, default = 1.1, seed = 42)
      .groupBy("doc_id").count().filter(col("count") === 2)
      .select("doc_id").as[Long].collect().toSet
    assert(mixExtra != Sampling.hashSample(docs, "doc_id", 0.1, seed = 42)
      .select("doc_id").as[Long].collect().toSet)
    // the newer salts ("exactk", "pack") are decorrelated the same way:
    // the k smallest exactk-hashes are NOT the k smallest sample-hashes
    val viaExactK = Sampling.exactKPerStratum(
        docs.withColumn("__one", lit("all")), "doc_id", "__one", k = 50, seed = 42)
      .select("doc_id").as[Long].collect().toSet
    val smallestSampleHashes = docs.select(col("doc_id"),
        Sampling.unitHash(col("doc_id"), 42, "sample").as("h"))
      .orderBy(col("h"), col("doc_id")).limit(50)
      .select("doc_id").as[Long].collect().toSet
    assert(viaExactK != smallestSampleHashes)
  }

  test("assignSplits: disjoint, exhaustive, stable under fraction growth") {
    import graft.ops.Sampling
    val s1 = Sampling.assignSplits(docs, "doc_id", Seq("test" -> 0.1, "valid" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.size == docs.count()) // every row exactly one split
    assert(s1.values.toSet.subsetOf(Set("test", "valid", "train")))
    // growing the test fraction only MOVES rows train/valid -> test,
    // never reshuffles existing test rows out
    val s2 = Sampling.assignSplits(docs, "doc_id", Seq("test" -> 0.2, "valid" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val testIds1 = s1.collect { case (id, "test") => id }.toSet
    val testIds2 = s2.collect { case (id, "test") => id }.toSet
    assert(testIds1.subsetOf(testIds2))
  }

  test("mixByWeight: whole repeats + deterministic fractional copy") {
    import graft.ops.Sampling
    val mixed = Sampling.mixByWeight(docs, "doc_id", "lang",
      Map("en" -> 2.5, "de" -> 0.4), default = 1.0)
    val reps = mixed.groupBy("doc_id", "lang").count().as[(Long, String, Long)].collect()
    reps.foreach {
      case (_, "en", n) => assert(n == 2 || n == 3)
      case (_, "de", n) => assert(n == 1) // frac-only: present rows appear once
      case (_, _, n)    => assert(n == 1)
    }
    val enInput = docs.filter(col("lang") === "en").count().toDouble
    val enOut = mixed.filter(col("lang") === "en").count().toDouble
    assert(math.abs(enOut / enInput - 2.5) < 0.3, s"en epochs ${enOut / enInput}")
    val deInput = docs.filter(col("lang") === "de").count().toDouble
    val deOut = mixed.filter(col("lang") === "de").count().toDouble
    assert(math.abs(deOut / deInput - 0.4) < 0.25, s"de rate ${deOut / deInput}")
    // rep_idx is a dense 0-based copy index
    val maxIdx = mixed.filter(col("lang") === "en")
      .groupBy("doc_id").agg(max("rep_idx").as("m"), count(lit(1)).as("n"))
      .filter(col("m") =!= col("n") - 1).count()
    assert(maxIdx == 0)
  }

  test("gopher rules: each signal fires on its designed failure mode") {
    import graft.ops.QualityFilters
    val prose = ("the data pipeline reads and writes with care " * 8).trim // 64 words, has 4 stopword kinds
    val cases = Seq(
      ("good", prose),
      ("too_short", "the cat sat with a hat"),
      ("symbols", prose + " " + ("### ... " * 12).trim),
      ("bullets", (1 to 20).map(i => s"- item $i of the list with care").mkString("\n")),
      ("ellipses", (1 to 10).map(i => s"the line $i trails off and then some...").mkString("\n")),
      ("non_alpha", ("42 17 99 3.14 " * 16).trim + " the and"),
      ("no_stopwords", ("lorem dolor amet consectetur adipiscing elit sed " * 8).trim)
    ).toDF("k", "text")
    val r = QualityFilters.gopherSignals(cases, "text",
      QualityFilters.GopherConfig(minWords = 30))
      .collect().map(row => row.getString(0) -> row).toMap
    def keep(k: String) = r(k).getAs[Boolean]("gopher_keep")
    assert(keep("good"), r("good").toString)
    assert(!keep("too_short"))
    assert(!keep("symbols") && r("symbols").getAs[Double]("symbol_ratio") > 0.1)
    assert(!keep("bullets") && r("bullets").getAs[Double]("bullet_ratio") >= 0.9)
    assert(!keep("ellipses") && r("ellipses").getAs[Double]("ellipsis_ratio") >= 0.3)
    assert(!keep("non_alpha") && r("non_alpha").getAs[Double]("alpha_word_ratio") < 0.8)
    assert(!keep("no_stopwords") && r("no_stopwords").getAs[Int]("stopword_kinds") == 0)
    // the '…' single-char ellipsis counts like '...'
    assert(QualityFilters.gopherSignals(
      Seq(("u", prose + " " + ("… " * 12).trim)).toDF("k", "text"), "text")
      .collect()(0).getAs[Double]("symbol_ratio") > 0.1)
  }

  test("gopher repetition rules: keep clean prose, drop loops and boilerplate") {
    import graft.ops.QualityFilters
    // every bigram contains a numbered token, so no n-gram repeats —
    // a templated "Sentence number $i ..." corpus would (correctly)
    // trip the top-2-gram rule at 30 repetitions
    val clean = (1 to 30).map(i =>
      s"topic$i covers subject$i with detail$i plus nuance$i here$i.").mkString("\n")
    val dupLines = (Seq.fill(6)("same navigation menu line here") ++
      Seq("one real line of content")).mkString("\n")
    val loop2 = Seq.fill(40)("buy now").mkString(" ") + " and a tiny tail of text"
    val df = Seq((1L, clean), (2L, dupLines), (3L, loop2)).toDF("doc_id", "text")
    val r = QualityFilters.repetitionSignals(df)
      .select("doc_id", "dup_line_ratio", "top_2gram_frac", "repetition_keep")
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2), x.getBoolean(3))))
      .toMap
    assert(r(1L)._3, s"clean doc should pass: ${r(1L)}")
    assert(r(2L)._1 > 0.30 && !r(2L)._3)
    assert(r(3L)._2 > 0.20 && !r(3L)._3)
    assert(QualityFilters.repetitionFilter(df).count() == 1)
  }

  test("c4 filter: line keeping, sentence floor, lorem/brace rejection") {
    import graft.ops.QualityFilters
    val page =
      """This is a proper first sentence of the page.
        |short one.
        |A second full sentence appears right here!
        |Is this a question with enough words? It is indeed.
        |a line with many words but no terminal punctuation at all
        |""".stripMargin
    val cases = Seq(
      ("good", page),
      ("few_sentences", "Only one proper sentence lives here today.\nnothing else."),
      ("lorem", page + "\nLorem Ipsum dolor sit amet filler text."),
      ("brace", page + "\nvar config = { a: 1 }; // code here.")
    ).toDF("k", "text")
    val r = QualityFilters.c4Signals(cases, "text")
      .collect().map(row => row.getString(0) -> row).toMap
    assert(r("good").getAs[Boolean]("c4_keep"), r("good").toString)
    // kept lines: sentences 1, 3, 4 (line 2 has <5 words; line 5 no punct)
    assert(r("good").getAs[Int]("n_kept_lines") == 3)
    assert(r("good").getAs[Int]("n_sentences") == 4) // line 4 carries 2 marks
    assert(!r("few_sentences").getAs[Boolean]("c4_keep"))
    assert(!r("lorem").getAs[Boolean]("c4_keep") &&
      r("lorem").getAs[Boolean]("has_lorem"))
    assert(!r("brace").getAs[Boolean]("c4_keep") &&
      r("brace").getAs[Boolean]("has_brace"))
    // c4Clean drops rejected pages and reassembles kept lines
    val cleaned = QualityFilters.c4Clean(cases, "text")
      .collect().map(row => row.getString(0) -> row.getString(1)).toMap
    assert(cleaned.keySet == Set("good"))
    assert(cleaned("good").split("\n").length == 3)
    assert(!cleaned("good").contains("short one"))
  }

  test("url canonicalization: case, port, utm, fragment, trailing slash") {
    import graft.ops.QualityFilters
    val cases = Seq(
      ("case", "HTTPS://WWW.Example.COM/Path/One"),
      ("port443", "https://example.com:443/a"),
      ("port80", "http://example.com:80/a?x=1"),
      ("port8080", "https://example.com:8080/a"), // non-default: kept
      ("utm_first", "https://example.com/p?utm_source=feed&ref=1"),
      ("utm_last", "https://example.com/p?ref=1&utm_campaign=x"),
      ("utm_only", "https://example.com/p?utm_source=a&utm_medium=b"),
      ("frag", "https://example.com/p?a=1#section-2"),
      ("slash", "https://example.com/p/"),
      ("pathcase", "https://example.com/CaseSensitive"), // path case preserved
      // ':80 on https' / ':443 on http' are NON-default — real distinct
      // origins that must not merge with the portless form
      ("xport1", "https://example.com:80/x"),
      ("xport2", "http://example.com:443/x"),
      // literal '&' in a path (RFC 3986 sub-delim): no query, no utm —
      // must never be promoted to '?'
      ("amp_path", "https://example.com/q&a"),
      ("amp_path_utm", "https://example.com/q&a?utm_source=x"),
      // a RUN of leading utm params hands one '?' to the survivor
      ("utm_run", "https://example.com/p?utm_a=1&utm_b=2&x=3")
    ).toDF("k", "url")
      .select(col("k"), QualityFilters.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cases("case") == "https://www.example.com/Path/One")
    assert(cases("port443") == "https://example.com/a")
    assert(cases("port80") == "http://example.com/a?x=1")
    assert(cases("port8080") == "https://example.com:8080/a")
    assert(cases("utm_first") == "https://example.com/p?ref=1")
    assert(cases("utm_last") == "https://example.com/p?ref=1")
    assert(cases("utm_only") == "https://example.com/p")
    assert(cases("frag") == "https://example.com/p?a=1")
    assert(cases("slash") == "https://example.com/p")
    assert(cases("pathcase") == "https://example.com/CaseSensitive")
    assert(cases("xport1") == "https://example.com:80/x")
    assert(cases("xport2") == "http://example.com:443/x")
    assert(cases("amp_path") == "https://example.com/q&a")
    assert(cases("amp_path_utm") == "https://example.com/q&a")
    assert(cases("utm_run") == "https://example.com/p?x=3")
    // domain: strips port and www, never the path
    val dom = Seq(("d", "HTTPS://WWW.Sub.Example.COM:8443/x"))
      .toDF("k", "url")
      .select(QualityFilters.urlDomain(
        QualityFilters.canonicalizeUrl(col("url"))).as("d"))
      .collect()(0).getString(0)
    assert(dom == "sub.example.com")
  }

  test("unigramLogProbs scores by mean token log-probability") {
    import graft.ops.QualityFilters
    val docs = Seq((1L, "a a a b"), (2L, "b")).toDF("doc_id", "text")
    val got = QualityFilters.unigramLogProbs(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // counts: a=3, b=2, total=5
    val (pa, pb) = (3.0 / 5.0, 2.0 / 5.0)
    assert(got(1L)._1 == 4L)
    assert(math.abs(got(1L)._2 - (3 * math.log(pa) + math.log(pb)) / 4) < 1e-12)
    assert(got(2L)._1 == 1L)
    assert(math.abs(got(2L)._2 - math.log(pb)) < 1e-12)
    // scoring a corpus under an EXTERNAL model: unseen tokens take the
    // ln(1/total) floor
    val model = Seq(("a", 9L), ("b", 1L)).toDF("token", "cnt")
    val ext = QualityFilters.unigramLogProbs(
      Seq((1L, "a z")).toDF("doc_id", "text"), model = Some(model))
      .collect()(0)
    assert(math.abs(ext.getDouble(2) - (math.log(0.9) + math.log(0.1)) / 2) < 1e-12)
  }

  test("qualityBucketsApprox matches exact buckets up to the boundary rows") {
    import graft.ops.QualityFilters
    // 300 DISTINCT scores: every bucket boundary is unambiguous, so
    // with relErr exact at this n the two paths may differ only at the
    // cutoff element itself (>= includes the quantile element; ntile
    // counts rows) — at most one row per boundary.
    val scored = spark.range(1, 301)
      .selectExpr("id AS doc_id", "CAST(id AS DOUBLE) / 7.0 AS mean_log_prob")
    val exact = QualityFilters.qualityBuckets(scored)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val approx = QualityFilters.qualityBucketsApprox(scored, relErr = 0.0001)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(approx.keySet == exact.keySet)
    val mismatches = exact.keys.filter(k => exact(k) != approx(k))
    assert(mismatches.size <= 2, // buckets - 1 boundaries
      s"approx may only disagree at cutoff elements, got: $mismatches")
    // bucket sizes within one row of n/buckets
    val sizes = approx.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(1, 2, 3))
    assert(sizes.values.forall(s => s >= 99 && s <= 101), s"sizes: $sizes")
    // monotone partition: every bucket-i score strictly above bucket-i+1
    val byBucket = approx.groupBy(_._2).view
      .mapValues(_.keys.map(_.toDouble / 7.0)).toMap
    assert(byBucket(1).min > byBucket(2).max)
    assert(byBucket(2).min > byBucket(3).max)
  }

  test("dedupByUrl groups case/tracking variants under one keeper") {
    import graft.ops.QualityFilters
    val urls = Seq(
      (1L, "https://example.com/a"),
      (2L, "HTTPS://EXAMPLE.COM/a"),
      (3L, "https://example.com/a?utm_source=x"),
      (4L, "https://example.com/a#frag"),
      (5L, "https://example.com/b")
    ).toDF("id", "url")
    val byUrl = QualityFilters.dedupByUrl(urls, "url", "id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byUrl("https://example.com/a") == ((1L, 4L)))
    assert(byUrl("https://example.com/b") == ((5L, 1L)))
    assert(byUrl.size == 2)
  }

  test("dsir: bucket distribution counts every unigram+bigram occurrence") {
    import graft.ops.Dsir
    val df = Seq((1L, "a b c d"), (2L, "x"), (3L, ""), (4L, "  a   b "))
      .toDF("doc_id", "text")
    for (portable <- Seq(true, false)) {
      val total = Dsir.bucketDistribution(df, "text", 64, portable)
        .agg(sum("cnt")).collect()(0).getLong(0)
      // (4+3) + (1+0) + 0 + (2+1) unigrams+bigrams
      assert(total == 11L, s"portable=$portable got $total")
    }
  }

  test("dsir: weights favor target-like documents under both hashers") {
    import graft.ops.Dsir
    val raw = Seq(
      (1L, "cat cat kitten purr cat whiskers purr nap"),
      (2L, "dog bark dog kennel bone dog growl fetch"),
      (3L, "cat purr kitten cat nap whiskers purr cat"),
      (4L, "dog bone growl kennel bark dog dog fetch"),
      (5L, "")
    ).toDF("doc_id", "text")
    val target = Seq(
      (10L, "cat kitten purr whiskers cat purr nap"),
      (11L, "kitten cat purr cat whiskers nap purr")
    ).toDF("doc_id", "text")
    for (portable <- Seq(true, false)) {
      val w = Dsir.importanceWeights(raw, target, buckets = 512,
          portableHash = portable)
        .select("doc_id", "dsir_logw")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(w(1L) > w(2L) && w(3L) > w(4L),
        s"portable=$portable: cat docs should outweigh dog docs, got $w")
      assert(w(5L) == 0.0, s"gramless doc must score the empty sum, got ${w(5L)}")
      assert(w.values.forall(v => !v.isNaN && !v.isInfinite))
    }
  }

  test("dsir: scoring kernel matches the HOF fold bit-for-bit") {
    import graft.ops.Dsir
    val rnd = new scala.util.Random(7)
    val lam = Array.fill(512)(rnd.nextGaussian())
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "x"), (3L, ""), (4L, "  Mixed   CASE tokens  Here "),
      (5L, (1 to 200).map(i => s"w${i % 37}").mkString(" "))
    ).toDF("id", "text")
    val toksCol = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    for (md5Path <- Seq(false, true)) {
      val rows = texts.select(col("id"),
        graft.functions.DsirScore.of(toksCol, lam, md5 = md5Path).as("kernel"),
        Dsir.scoreByFold(col("text"), lam, 512, portableHash = md5Path).as("fold"))
        .collect()
      rows.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)),
          s"md5=$md5Path id=${r.getLong(0)}: kernel ${r.getDouble(1)} != fold ${r.getDouble(2)}")
      }
      // the bucket kernel agrees with the HOF formulation element-for-element
      val bk = texts.select(col("id"),
        graft.functions.DsirScore.bucketsOf(toksCol, 512, md5 = md5Path).as("k"),
        Dsir.bucketsByFold(col("text"), 512, portableHash = md5Path).as("f")).collect()
      bk.foreach { r =>
        assert(r.getSeq[Int](1) == r.getSeq[Int](2),
          s"md5=$md5Path id=${r.getLong(0)}: bucket kernel != fold")
      }
    }
  }

  test("dsir: persisted target distribution scores identically; mismatches fail fast") {
    import graft.ops.Dsir
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir_dist").toString
    val target = docs.filter(col("source") === "src0")
    Dsir.saveDistribution(
      Dsir.bucketDistribution(target, "text", 2048), s"$dir/tgt.parquet")
    val loaded = Dsir.loadDistribution(spark, s"$dir/tgt.parquet")
    def weights(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dsir_logw").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = weights(Dsir.importanceWeights(docs, target, buckets = 2048))
    val viaStore = weights(
      Dsir.importanceWeightsFromTarget(docs, loaded, buckets = 2048))
    assert(direct == viaStore, "stored fit must replay the direct fit exactly")
    // distribution fit under a different bucket count: fail fast, not garbage
    val e = intercept[IllegalArgumentException] {
      Dsir.importanceWeightsFromTarget(docs, loaded, buckets = 64)
    }
    assert(e.getMessage.contains("bucket"))
    // arbitrary parquet is not a distribution
    val e2 = intercept[IllegalArgumentException] {
      Dsir.loadDistribution(spark, s"$sf/documents.parquet")
    }
    assert(e2.getMessage.contains("not a DSIR bucket distribution"))
  }

  test("quality classifier: separation, filtering, save/load, both hashers") {
    import graft.ops.QualityClassifier
    val pos = (1 to 40).map(i =>
      (i.toLong, s"cat purr kitten whiskers nap soft c${i % 7}"))
      .toDF("doc_id", "text")
    val neg = (1 to 40).map(i =>
      (100L + i, s"dog bark kennel bone growl fetch d${i % 7}"))
      .toDF("doc_id", "text")
    val all = pos.unionByName(neg)
    for (portable <- Seq(false, true)) {
      val m = QualityClassifier.train(pos, neg, buckets = 1024,
        portableHash = portable)
      assert(m.buckets == 1024)
      val scored = QualityClassifier.score(all, m)
        .select("doc_id", "quality_prob")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(scored.values.forall(p => p >= 0.0 && p <= 1.0))
      assert(scored.filter(_._1 <= 40L).values.min > 0.8,
        s"portable=$portable: positives should score high")
      assert(scored.filter(_._1 > 40L).values.max < 0.2,
        s"portable=$portable: negatives should score low")
      val kept = QualityClassifier.filterByQuality(all, m, minProb = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == (1 to 40).map(_.toLong).toSet)
      assert(!kept.exists(_ > 40L))
    }
    // save/load round trip scores identically; junk parquet rejected
    val dir = java.nio.file.Files.createTempDirectory("graft_qc").toString
    val m = QualityClassifier.train(pos, neg, buckets = 512)
    QualityClassifier.save(m, s"$dir/model.parquet", spark)
    val loaded = QualityClassifier.load(spark, s"$dir/model.parquet")
    assert(loaded.weights.toSeq == m.weights.toSeq &&
      loaded.intercept == m.intercept &&
      loaded.portableHash == m.portableHash)
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.load(spark, s"$sf/documents.parquet")
    }
    assert(e.getMessage.contains("not a quality-classifier model"))
  }

  test("dsir: gumbel top-k is deterministic, k-sized, greedy at low temperature") {
    import graft.ops.Dsir
    val scored = Dsir.importanceWeights(
      docs, docs.filter(col("source") === "src0"), buckets = 2048)
    val a = Dsir.resampleTopK(scored, 20).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val b = Dsir.resampleTopK(scored, 20).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(a == b, "resample must replay identically")
    assert(a.size == 20 && a.distinct.size == 20, "k distinct docs (without replacement)")
    // temperature -> 0: logw/T dominates the O(10) Gumbel noise, so the
    // draw collapses to the greedy top-k by weight
    val greedy = scored.orderBy(desc("dsir_logw"), col("doc_id")).limit(20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val cold = Dsir.resampleTopK(scored, 20, temperature = 1e-6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cold == greedy, s"cold draw $cold != greedy $greedy")
    // a different seed perturbs the unit-temperature draw (noise is live)
    val s1 = Dsir.resampleTopK(scored, 20, seed = 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 != a.toSet, "distinct seeds should draw distinct samples")
  }

  test("globalOrderIndex: contiguous rank in shuffle order, layout-invariant") {
    import graft.ops.Sampling
    val n = docs.count()
    val out = Sampling.globalOrderIndex(docs, "doc_id")
      .select("doc_id", "shuffle_key", "global_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == n)
    // contiguous 0..n-1
    assert(out.map(_._3).sorted.toSeq == (0L until n).toSeq)
    // the index IS the rank in (shuffle_key, doc_id) order
    val ranked = out.sortBy(t => (t._2, t._1)).map(_._1).toSeq
    val byIdx = out.sortBy(_._3).map(_._1).toSeq
    assert(ranked == byIdx, "global_idx must equal the hash-order rank")
    // partition layout cannot change any row's index
    val re = Sampling.globalOrderIndex(docs.repartition(7), "doc_id")
      .select("doc_id", "global_idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (id, _, idx) => re(id) == idx },
      "index must be a pure function of (seed, id) population")
    // shuffleDeterministic agrees with the same order
    val shuffled = Sampling.shuffleDeterministic(docs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(shuffled == ranked, "shuffleDeterministic yields the same total order")
  }

  test("shardByOrder: contiguous balanced shards, pure function of (seed, id)") {
    import graft.ops.Sampling
    val n = docs.count()
    val out = Sampling.shardByOrder(docs, "doc_id", nShards = 7)
      .select("doc_id", "global_idx", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == n)
    // shard = global_idx div ceil(n/7), never past the last shard
    val perShard = (n + 6) / 7
    out.foreach { case (_, idx, s) =>
      assert(s == math.min(6L, idx / perShard).toInt, s"idx=$idx shard=$s") }
    assert(out.map(_._3).distinct.sorted.toSeq == (0 until 7),
      "all shards populated at this size")
    // deterministic across runs and partition layouts
    val re = Sampling.shardByOrder(docs.repartition(5), "doc_id", nShards = 7)
      .select("doc_id", "shard")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.forall { case (id, _, s) => re(id) == s })
    // a different seed is a different permutation -> different shards
    val reseeded = Sampling.shardByOrder(docs, "doc_id", nShards = 7, seed = 1)
      .select("doc_id", "shard")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.exists { case (id, _, s) => reseeded(id) != s },
      "seed must drive the permutation")
  }

  test("mixByTokenBudget: weights hit per-stratum token targets, cap bites") {
    import graft.ops.Sampling
    val df = ((1 to 10).map(i => (i.toLong, "en", Seq.fill(10)("tok").mkString(" "))) ++
      (11 to 15).map(i => (i.toLong, "de", "a b c d")) ++
      (16 to 18).map(i => (i.toLong, "fr", "x y"))).toDF("doc_id", "lang", "text")
    // totals: en 100, de 20 tokens. budget 200 at 50/50: en weight
    // exactly 1.0, de exactly 5.0 — fully deterministic repetition
    val w = Sampling.tokenBudgetWeights(df, "lang",
      Map("en" -> 0.5, "de" -> 0.5), tokenBudget = 200L)
    assert(w == Map("en" -> 1.0, "de" -> 5.0), s"got $w")
    val mixed = Sampling.mixByTokenBudget(df, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.5), tokenBudget = 200L)
    val reps = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reps == Map("en" -> 10L, "de" -> 25L), s"got $reps")
    // fr has no fraction -> dropped entirely
    assert(!reps.contains("fr"))
    // the cap bounds up-sampling of tiny strata
    val capped = Sampling.tokenBudgetWeights(df, "lang",
      Map("en" -> 0.5, "de" -> 0.5), tokenBudget = 200L, maxWeight = 3.0)
    assert(capped("de") == 3.0 && capped("en") == 1.0)
    // a stratum named in fractions but absent from the corpus is skipped
    val missing = Sampling.tokenBudgetWeights(df, "lang",
      Map("zh" -> 1.0), tokenBudget = 200L)
    assert(missing.isEmpty)
  }

  test("stripHtml drops script/style with contents, unwelds tags, decodes entities once") {
    val cases = Seq(
      (1L, "<p>Hello</p><p>world</p>"),
      (2L, "a<script>var x = \"<b>\";</script>b"),
      (3L, "x<style type=\"text/css\">p{}</style>y"),
      (4L, "&amp;lt; &lt; &gt; &quot; &#39; &nbsp;"),
      (5L, "no tags at all"),
      (6L, "<SCRIPT>upper()</SCRIPT>kept")
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.stripHtml(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cases(1L) == "Hello world")
    assert(cases(2L) == "a b", s"script content must vanish: '${cases(2L)}'")
    assert(cases(3L) == "x y")
    // double-escaped &amp;lt; decodes ONCE (to the literal "&lt;")
    assert(cases(4L) == "&lt; < > \" '", s"got '${cases(4L)}'")
    assert(cases(5L) == "no tags at all")
    assert(cases(6L) == "kept", "case-insensitive script removal")
  }

  test("corpusProfile: per-source stats + rollup total in one pass") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "s1", "a b"), (2L, "s1", "a b"), (3L, "s1", "c"),
      (4L, "s2", "")
    ).toDF("doc_id", "source", "text")
    val rows = TextAnalysis.corpusProfile(df)
      .collect().map(r => (Option(r.getString(0)), r.getInt(1)) -> r).toMap
    val s1 = rows((Some("s1"), 0))
    assert(s1.getAs[Long]("n_docs") == 3 && s1.getAs[Long]("n_unique_texts") == 2)
    assert(s1.getAs[Long]("n_tokens") == 5 && s1.getAs[Long]("n_chars") == 7)
    assert(s1.getAs[Long]("min_doc_tokens") == 1 && s1.getAs[Long]("max_doc_tokens") == 2)
    assert(math.abs(s1.getAs[Double]("avg_doc_tokens") - 5.0 / 3.0) < 1e-12)
    val s2 = rows((Some("s2"), 0))
    assert(s2.getAs[Long]("n_docs") == 1 && s2.getAs[Long]("n_tokens") == 0)
    val total = rows((None, 1))
    assert(total.getAs[Long]("n_docs") == 4 && total.getAs[Long]("n_tokens") == 5)
    assert(total.getAs[Long]("n_unique_texts") == 3) // "a b", "c", ""
  }

  test("PqAdcTopK fused scan: bit-identical to the unfused BNLJ+rank pipeline") {
    // synthetic corpus with planted exact duplicates (ADC ties -> id
    // tie-break), plus a query id overlapping corpus ids (excludeSelf)
    val rnd = new scala.util.Random(20260817)
    val docs = (0L until 400L).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian())
      // every 7th vector (i > 0) becomes the constant vector 0.1*(i%5),
      // so those sharing i%5 are exact duplicates: equal codes
      val v = if (i % 7 == 0 && i > 0) null else base
      (i, (if (v == null) Array.fill(8)(0.1 * (i % 5)) else v).toSeq.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val model = Similarity.trainPq(docs, "vec_id", "embedding",
      m = 4, codebookSize = 8)
    val codes = Similarity.pqEncode(docs, "embedding", model)
    val queries = docs.filter($"vec_id" % 40 === 0)
    for (excludeSelf <- Seq(true, false); k <- Seq(3, 11)) {
      def collect(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
        df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
      val fused = collect(Similarity.pqTopK(queries, codes, "vec_id", "embedding",
        "vec_id", k, model, excludeSelf))
      val unfused = collect(Similarity.pqTopKUnfused(queries, codes, "vec_id",
        "embedding", "vec_id", k, model, excludeSelf))
      assert(fused == unfused, s"excludeSelf=$excludeSelf k=$k")
      assert(fused.nonEmpty)
    }
  }

  test("PQ ADC fails loudly on malformed codes: fused, unfused and IVF-PQ") {
    // m = 2, K = 4: as a bare LUT offset, code 7 would read subspace
    // 1's table and -1 subspace 0's last entry; a short code has no
    // entry for subspace 1. Every path must throw, naming the code.
    val docs = (0L until 8L)
      .map(i => (i, Seq(i.toFloat, 1f, (i % 3).toFloat, 2f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.trainPq(docs, "vec_id", "embedding", m = 2, codebookSize = 4)
    val ivf = Similarity.buildIvfPqIndex(docs, "vec_id", "embedding",
      nlist = 2, m = 2, codebookSize = 4)
    val queries = docs.filter($"vec_id" === 0L)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for ((what, code) <- Seq("too large" -> Seq(7, 1), "negative" -> Seq(-1, 1),
        "short" -> Seq(1))) {
      val codes = Seq((100L, code), (101L, Seq(0, 0))).toDF("vec_id", "pq_code")
      val lists = ivf.lists.withColumn("pq_code",
        when($"neighbor_id" === 3L, typedLit(code)).otherwise($"pq_code"))
      val paths = Seq[(String, () => Any)](
        "fused" -> (() => Similarity.pqTopK(queries, codes, "vec_id", "embedding",
          "vec_id", 2, model).collect()),
        "unfused" -> (() => Similarity.pqTopKUnfused(queries, codes, "vec_id",
          "embedding", "vec_id", 2, model, excludeSelf = true).collect()),
        "ivf-pq" -> (() => Similarity.ivfTopKIndexed(queries, ivf.copy(lists = lists),
          "vec_id", "embedding", k = 2, nprobe = 2).collect()))
      for ((path, run) <- paths) {
        val msg = messages(intercept[Exception](run()))
        // a short code trips ANSI element_at on the expression paths
        val expected = (what, path) match {
          case ("short", "fused") => "pq_code has 1 elements, expected >= 2"
          case ("short", _)       => "INVALID_ARRAY_INDEX_IN_ELEMENT_AT"
          case _                  => s"pq_code[0] = ${code.head} outside codebook [0, 4)"
        }
        assert(msg.contains(expected), s"$what code on the $path path: $msg")
      }
    }
  }

  test("TopKPairs heap aggregate: rank-identical to the row_number window, " +
      "ties/NaN/zero/null fuzz") {
    import org.apache.spark.sql.expressions.Window
    // adversarial sim pool: exact duplicates (tie-break by id), NaN
    // (sorts ABOVE all numbers in desc), +/-0.0 (distinct under
    // Double.compare), nulls (desc_nulls_last), and plain values
    val simPool: Array[java.lang.Double] = Array(
      0.5, 0.5, 0.5, -0.25, 1.0, 1.0, Double.NaN, Double.NaN, 0.0, -0.0,
      null, null, 0.999999999, 0.999999998, -1.0, 3.14)
    val rnd = new scala.util.Random(20260818)
    val rows = for {
      q <- 0L until 7L
      n <- 0 until (20 + rnd.nextInt(30))
    } yield (q, rnd.nextLong(), simPool(rnd.nextInt(simPool.length)))
    // unique neighbor ids per query keep row_number deterministic
    val data = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(data.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sim",
          org.apache.spark.sql.types.DoubleType))))
      .repartition(7) // several partials per group: exercises merge+serde
    // sim compared via raw bits: NaN == NaN must hold, -0.0 != 0.0
    def key(r: org.apache.spark.sql.Row): (Long, Int, Long, Option[Long]) =
      (r.getLong(0), r.getInt(3), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))))
    for (k <- Seq(1, 3, 10, 1000)) {
      val agg = Similarity.rankTopK(df, k).collect()
        .map(key).sortBy(t => (t._1, t._2))
      val win = df.withColumn("rank",
          row_number().over(Window.partitionBy("query_id")
            .orderBy(col("sim").desc, col("neighbor_id").asc)))
        .filter(col("rank") <= k).collect()
        .map(key).sortBy(t => (t._1, t._2))
      assert(agg.length == win.length, s"k=$k: ${agg.length} vs ${win.length}")
      agg.zip(win).foreach { case (a, w) => assert(a == w, s"k=$k: $a vs $w") }
    }
  }
}
