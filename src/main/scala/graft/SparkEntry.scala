package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin
import graft.util.Durations

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY §2 (or a
  * beyond-reference scale operator), and each `oracleSql` entry is the
  * equivalent DuckDB SQL over the same parquet tables. Column names are
  * aliased identically on both sides (the driver sorts columns by name
  * and hashes values).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- q_hygiene_verdict planted texts (shared by the Spark query
  // and its DuckDB oracle via string interpolation, so both engines
  // see byte-identical pages) ------------------------------------------
  // base page: 4 steady sentences + a corpus-derived line; clears every
  // stage (>= 50 words, 4 Gopher stopword kinds, English, no symbols)
  private val HygieneL1 =
    "The quick brown fox jumps over that lazy dog have with today."
  private val HygieneTailSuffix = " and the tail goes here."
  // L3-L5 deliberately share no 5-gram: the dup-ngram rule counts
  // characters of EVERY repeated overlapping gram, so one template
  // phrase reused across lines would fail the whole base page
  private val HygieneL3 = "A second calm paragraph describes harbor lights at dusk."
  private val HygieneL4 = "Some travelers whisper old stories while walking narrow streets."
  private val HygieneL5 = "Every reader finds one quiet idea hiding between these lines."
  private val HygieneTiny = "tiny page."                      // c4: no kept lines
  private val HygieneSymbolLine =                             // gopher: symbol ratio
    "# # # # # # # # # # # #."
  private val HygieneRepLine =                                // repetition: dup lines
    "the spam offer runs again and again with that today."
  // quality: punct-heavy, zero quality-list stopwords, but Gopher-clean
  // (48 DISTINCT comma-words so no repetition rule fires; be/have/with
  // give 3 Gopher stopword kinds without any `en` quality stopword)
  private val HygieneQualityText: String =
    (0 until 4).map(r => (0 until 12).map(c =>
      s"${('a' + r).toChar}${('a' + c).toChar}q,,,").mkString(" ") + ".")
      .mkString("\n") + "\nbe have with markers used nicely here."
  // language: German page with exactly the two Gopher stopword kinds
  // needed to reach the language stage
  private val HygieneGermanText: String = Seq(
    "der hund und die katze laufen durch das haus heute.",
    "die sonne ist nicht zu sehen mit den wolken oben.",
    "das kind hat ein buch und der mann liest es.",
    "der baum und die blume stehen auf dem feld dort.",
    "the and markers der die das und ist ein zu.").mkString("\n")
  /** The base page as DuckDB SQL (same bytes as the Spark side). */
  private val HygieneBaseSql: String =
    s"concat_ws(chr(10), '$HygieneL1', substr(text, 1, 160) || " +
      s"'$HygieneTailSuffix', '$HygieneL3', '$HygieneL4', '$HygieneL5')"

  // ---- q_lang_id_profiles planted docs (shared by the Spark query
  // and its DuckDB oracle; the sf corpus is synthetic English-ish, so
  // a multilingual operator needs planted multilingual inputs — same
  // convention as the hygiene rows). Doc 21 has no letters → 'und'.
  private[graft] val LangIdDocs: Seq[(Int, String)] = Seq(
    1 -> "The children are playing in the park and the weather is very nice today but we have to go home now",
    2 -> "Die Kinder spielen im Park und das Wetter ist heute sehr schön aber wir müssen nach Hause gehen",
    3 -> "Les enfants jouent dans le parc et le temps est très beau aujourd'hui mais nous devons rentrer à la maison",
    4 -> "Los niños juegan en el parque y el tiempo es muy bueno hoy pero tenemos que volver a casa",
    5 -> "As crianças brincam no parque e o tempo está muito bom hoje mas temos que voltar para casa",
    6 -> "I bambini giocano nel parco e il tempo è molto bello oggi ma dobbiamo tornare a casa perché è tardi",
    7 -> "De kinderen spelen in het park en het weer is vandaag erg mooi maar we moeten naar huis gaan",
    8 -> "Дети играют в парке и погода сегодня очень хорошая но мы должны идти домой",
    9 -> "Τα παιδιά παίζουν στο πάρκο και ο καιρός είναι πολύ καλός σήμερα αλλά πρέπει να πάμε σπίτι",
    10 -> "הילדים משחקים בפארק ומזג האוויר טוב מאוד היום אבל אנחנו צריכים ללכת הביתה",
    11 -> "الأطفال يلعبون في الحديقة والطقس جميل جدا اليوم ولكن يجب أن نعود إلى المنزل",
    12 -> "बच्चे पार्क में खेल रहे हैं और आज मौसम बहुत अच्छा है लेकिन हमें घर जाना है",
    13 -> "เด็กเล่นในสวนสาธารณะและอากาศวันนี้ดีมากแต่เราต้องกลับบ้าน",
    14 -> "孩子们在公园里玩耍今天天气很好但是我们必须回家了",
    15 -> "子供たちは公園で遊んでいます今日は天気がとても良いですが家に帰らなければなりません",
    16 -> "아이들이 공원에서 놀고 있습니다 오늘 날씨가 매우 좋지만 우리는 집에 가야 합니다",
    17 -> "Çocuklar parkta oynuyor ve bugün hava çok güzel ama eve gitmemiz gerekiyor",
    18 -> "Dzieci bawią się w parku a pogoda jest dziś bardzo ładna ale musimy wracać do domu",
    19 -> "Lapset leikkivät puistossa ja sää on tänään erittäin kaunis mutta meidän täytyy mennä kotiin",
    20 -> "Trẻ em chơi trong công viên và thời tiết hôm nay rất đẹp nhưng chúng ta phải về nhà",
    21 -> "12345 67890 --- !!! ???")

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  // ---- q_pii_scrub_extended planted docs (shared by the Spark query
  // and its DuckDB oracle). Constraint for the SQL replay: at most ONE
  // Luhn-VALID card per doc (the oracle replaces by candidate string;
  // the kernel handles any number — OpsSpec pins the multi-card case).
  private[graft] val PiiDocs: Seq[(Int, String)] = Seq(
    1 -> "contact john.doe@example.com or call (555) 123-4567 today",
    2 -> "server at 192.168.1.100 answered +1 555.123.4567 and went down",
    3 -> "ssn 123-45-6789 with card 4111 1111 1111 1111 inside",
    4 -> "invalid card 1234 5678 9012 3456 stays put",
    5 -> "dash card 4111-1111-1111-1111 then phone 555-123-4567",
    6 -> "no pii here just words and numbers 42 7 2026",
    7 -> "mixed a@b.co and 10.0.0.1 and 999-88-7777 and 5500 0000 0000 0004",
    8 -> "order number 1234567890123456 is not luhn but 4539 1488 0343 6467 is")

  private def piiDocsSql: String =
    PiiDocs.map { case (id, s) => s"($id, ${sqlQuote(s)})" }.mkString(", ")

  // ---- q_fix_mojibake planted docs. Stored as (id, CLEAN original,
  // encode depth); the corrupted inputs are DERIVED by actually
  // mis-decoding the originals' UTF-8 as Windows-1252 `depth` times —
  // the same transform the repair table inverts — so the fixture can
  // never drift from the operator's contract. Depth 0 = clean control
  // rows (ASCII and real accents must pass through untouched); depth
  // 2 = double-encoded. Originals avoid the six documented
  // non-round-tripping chars (Á Í Ï Ð Ý ”).
  private[graft] val MojibakeOriginals: Seq[(Int, String, Int)] = Seq(
    (1, "Café crème — l'été s'annonce « très chaud »", 1),
    (2, "Der Fußball macht großen Spaß bei Löwenbräu", 1),
    (3, "it’s ‘quoted’ text… with € 99 and ™ marks", 1),
    (4, "naïve piñata in São Paulo señor", 2),
    (5, "plain ASCII text stays exactly as it is", 0),
    (6, "edge chars Ÿ Š ž œ æ ø å kept clean", 0),
    (7, "", 0))

  private def miscode(s: String, depth: Int): String =
    (1 to depth).foldLeft(s)((a, _) => new String(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252"))

  private[graft] val MojibakeDocs: Seq[(Int, String)] =
    MojibakeOriginals.map { case (id, s, d) => id -> miscode(s, d) }

  private def mojibakeDocsSql: String =
    MojibakeDocs.map { case (id, s) => s"($id, ${sqlQuote(s)})" }.mkString(", ")

  /** The repair chain as DuckDB replace() calls rendered from
    * [[graft.functions.Mojibake.Pairs]] — the SAME data object the
    * Spark kernel folds — so a table edit can never desync the
    * oracle. DuckDB's binder caps expression recursion at 128, so the
    * 117-pair chain is staged across CTEs (≤60 nested calls each)
    * instead of one nest; stage order preserves the pair order
    * exactly. Returns the WITH stages after `docs` and the final
    * column name.
    */
  private def mojibakeFixStagesSql(passes: Int): (String, String) = {
    val groups = (1 to passes).flatMap { _ =>
      graft.functions.Mojibake.Pairs.grouped(60).toSeq
    }
    val stages = groups.zipWithIndex.map { case (pairs, i) =>
      val prev = if (i == 0) "text" else s"t$i"
      val chain = pairs.foldLeft(prev) { case (a, (artifact, target)) =>
        s"replace($a, ${sqlQuote(artifact)}, ${sqlQuote(target)})"
      }
      s"m${i + 1} AS (SELECT doc_id, text, $chain AS t${i + 1} FROM ${if (i == 0) "docs" else s"m$i"})"
    }
    (stages.mkString(",\n"), s"m${groups.size}.t${groups.size}")
  }

  /** The planted docs as a DuckDB VALUES list (same bytes as the
    * Spark side). */
  private def langIdDocsSql: String =
    LangIdDocs.map { case (id, s) => s"($id, ${sqlQuote(s)})" }.mkString(", ")

  /** The derived language profiles as a compact DuckDB VALUES list:
    * (lang, 'gram gram …') with position = rank — grams never contain
    * a space (words are letter runs, the pad is '_'), so the oracle
    * re-derives (lang, gram, rank) with a zipped unnest. Rendered from
    * [[graft.functions.LangId.Profiles]], the SAME data object the
    * kernel scores against: a seed edit can never desync the oracle. */
  private def langIdProfilesSql: String =
    graft.functions.LangId.Profiles.map { case (lang, grams) =>
      s"('$lang', ${sqlQuote(grams.map(_._1).mkString(" "))})"
    }.mkString(", ")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read nanos as long (legacy conf) and floor-convert
    * to microsecond timestamps (integral `div` — a double division
    * would lose precision above 2^53). Values are µs-aligned in the
    * testdata, so this is lossless and matches DuckDB's
    * `CAST(ts AS TIMESTAMP)`.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }

  /** The label spine used by the PIT-join queries: every 20th event is
    * a "label observation" (deterministic, ~5% of events), with the
    * full event history as the feature table.
    */
  private def eventSpine(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_id") % 20 === 0)
      .select(
        col("event_id").as(AsOfJoin.RowIdCol),
        col("user_id"),
        col("ts").as("label_time"))

  private def pitSpec(inclusive: Boolean = false): AsOfJoin.Spec =
    AsOfJoin.Spec(
      leftKeys = Seq("user_id"),
      leftTime = "label_time",
      inclusive = inclusive,
      maxLookback = Some(java.time.Duration.ofDays(365)))

  /** The event history as the PIT-join right side, ties broken by
    * `event_id` like the oracle's `ORDER BY f.ts DESC, f.event_id DESC`. */
  private def pitRight(history: DataFrame, key: String = "user_id",
      embargoDays: Int = 0, stalenessDays: Int = 0): AsOfJoin.Right =
    AsOfJoin.Right(history, Seq(key), "ts", Seq("value"), tieBreakers = Seq("event_id"),
      embargo = java.time.Duration.ofDays(embargoDays.toLong),
      maxStaleness =
        if (stalenessDays > 0) Some(java.time.Duration.ofDays(stalenessDays.toLong))
        else None)

  private def pit(s: SparkSession, dir: String, spec: AsOfJoin.Spec,
      strategy: AsOfJoin.Strategy, embargoDays: Int = 0, stalenessDays: Int = 0): DataFrame =
    AsOfJoin
      .join(eventSpine(s, dir),
        Seq(pitRight(events(s, dir), embargoDays = embargoDays, stalenessDays = stalenessDays)),
        spec, strategy)
      .select(
        col(AsOfJoin.RowIdCol).as("label_event_id"),
        col("user_id"), col("label_time"), col("feature_time"),
        col("value").as("feat_value"))
      .orderBy("label_event_id")

  /** Shared oracle shape for the PIT-join queries (DuckDB SQL). */
  private def pitOracle(upperOp: String, embargoDays: Int, stalenessDays: Int): String = {
    val embargo =
      if (embargoDays > 0) s" - INTERVAL '$embargoDays' DAY" else ""
    val staleness =
      if (stalenessDays > 0)
        s" AND CAST(f.ts AS TIMESTAMP) >= CAST(l.label_time AS TIMESTAMP) - INTERVAL '$stalenessDays' DAY"
      else ""
    s"""WITH lbl AS (
       |  SELECT event_id AS label_event_id, user_id, CAST(ts AS TIMESTAMP) AS label_time
       |  FROM events WHERE event_id % 20 = 0
       |), cand AS (
       |  SELECT l.label_event_id, l.user_id, l.label_time,
       |         CAST(f.ts AS TIMESTAMP) AS feature_time, f.value AS feat_value,
       |         ROW_NUMBER() OVER (PARTITION BY l.label_event_id
       |                            ORDER BY f.ts DESC, f.event_id DESC) AS rn
       |  FROM lbl l LEFT JOIN events f
       |    ON f.user_id = l.user_id
       |   AND CAST(f.ts AS TIMESTAMP) $upperOp l.label_time$embargo
       |   AND CAST(f.ts AS TIMESTAMP) >= l.label_time - INTERVAL '365' DAY$staleness
       |)
       |SELECT label_event_id, user_id, label_time, feature_time, feat_value
       |FROM cand WHERE rn = 1
       |ORDER BY label_event_id""".stripMargin
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full engine build (spine + two features + strict PIT
    * join + assembly + verification) is the most representative
    * single query. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_build_e2e")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J2/P5/P6: strict PIT join, row_number strategy
    "q_pit_strict" -> ((s, dir) =>
      pit(s, dir, pitSpec(), AsOfJoin.Strategy.RowNumber)),
    // J2 + P5 embargo: upper bound shifted by 3 days
    "q_pit_embargo" -> ((s, dir) =>
      pit(s, dir, pitSpec(), AsOfJoin.Strategy.RowNumber, embargoDays = 3)),
    // J2 inclusive mode (<=)
    "q_pit_inclusive" -> ((s, dir) =>
      pit(s, dir, pitSpec(inclusive = true), AsOfJoin.Strategy.RowNumber)),
    // J2 + P7 max_staleness floor
    "q_pit_staleness" -> ((s, dir) =>
      pit(s, dir, pitSpec(), AsOfJoin.Strategy.RowNumber, stalenessDays = 7)),
    // J1 analog: union + carry-forward strategy — same oracle as strict
    "q_pit_union" -> ((s, dir) =>
      pit(s, dir, pitSpec(), AsOfJoin.Strategy.UnionAsOf)),
    // A4/A5/A6: temporal audit stats over a frame with planted leakage
    // (events shifted by (event_id % 5 - 2) minutes -> ~60% leaky)
    "q_audit_temporal" -> ((s, dir) => {
      val d = events(s, dir).select(
        col("ts").as("lt"),
        (col("ts") + make_dt_interval(
          lit(0), lit(0), (col("event_id") % 5 - 2).cast("int"), lit(0))).as("ft"))
      graft.engine.Audit.temporalStats(d, "lt", Map("f" -> "ft"))
    }),
    // A7/A8/A9: diff stats — orders totalprice perturbed (+5.0 every
    // 7th key, nulled every 13th key)
    "q_diff_stats" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val n = o.withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, lit(null).cast("double"))
          .when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 5.0)
          .otherwise(col("o_totalprice")))
      graft.engine.Diff.comparisonFrame(o, n, Seq("o_orderkey"), "o_orderdate")
    }),
    // A2-style aggregation baseline (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")),

    // W3: user-facing rolling agg — interval RANGE frame over event
    // time (the reference's canonical feature SQL; integral sum so
    // accumulation order cannot perturb the comparison)
    "q_window_rolling" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("__events_w")
      s.sql(
        """SELECT event_id, user_id,
          |  SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
          |    PARTITION BY user_id ORDER BY ts
          |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |    AS rolling_cents_1h
          |FROM __events_w ORDER BY event_id""".stripMargin)
    }),
    // J3: key_mapping — feature table keyed 'uid', labels keyed
    // 'user_id'; same strict semantics as q_pit_strict
    "q_pit_keymap" -> ((s, dir) => {
      val feat = events(s, dir).withColumnRenamed("user_id", "uid")
      AsOfJoin
        .join(eventSpine(s, dir), Seq(pitRight(feat, "uid")), pitSpec(), AsOfJoin.Strategy.RowNumber)
        .select(
          col(AsOfJoin.RowIdCol).as("label_event_id"),
          col("user_id"), col("label_time"), col("feature_time"),
          col("value").as("feat_value"))
        .orderBy("label_event_id")
    }),
    // Composite entity keys: orders self-PIT on (custkey, orderstatus)
    "q_pit_composite" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val spine = o.filter(col("o_orderkey") % 10 === 0).select(
        col("o_orderkey").as(AsOfJoin.RowIdCol),
        col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate").as("label_time"))
      val keys = Seq("o_custkey", "o_orderstatus")
      val spec = AsOfJoin.Spec(keys, "label_time",
        maxLookback = Some(java.time.Duration.ofDays(3650)))
      val right = AsOfJoin.Right(o, keys, "o_orderdate", Seq("o_totalprice"),
        tieBreakers = Seq("o_orderkey"))
      AsOfJoin.join(spine, Seq(right), spec, AsOfJoin.Strategy.RowNumber)
        .select(col(AsOfJoin.RowIdCol).as("label_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("label_time"),
          col("feature_time"), col("o_totalprice").as("prior_totalprice"))
        .orderBy("label_orderkey")
    }),
    // Flagship end-to-end: the REAL Build engine — label spine from
    // purchase events, two features (one embargoed) from the event
    // history, strict PIT join, assembly, namespacing, final sort
    "q_build_e2e" -> ((s, dir) => {
      val ev = events(s, dir)
      val labelsDf = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("label_time"), col("value").as("label_value"))
      val labels = graft.model.Labels.frame(
        labelsDf, Seq("user_id"), "label_time", Seq("label_value"))
      val src = graft.model.Source.frame("events", ev, Seq("user_id"), "ts")
      val fVal = graft.model.Feature("f_val", src,
        graft.model.ColumnsMode(Map("value" -> "value")))
      val fType = graft.model.Feature("f_type", src,
        graft.model.ColumnsMode(Map("event_type" -> "event_type")),
        embargo = java.time.Duration.ofDays(1))
      graft.engine.Build(s, labels, Seq(fVal, fType),
        graft.engine.BuildOptions(checkDuplicates = false)).df
    }),

    // ---- training-data pipeline operators -------------------------
    // Exact dedup via hash-groupBy (docs unioned with shifted copies
    // so duplicate groups actually exist)
    "q_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val d = docs.union(docs.withColumn("doc_id", col("doc_id") + 100000))
      graft.ops.Dedup.exactGroups(d, "text", "doc_id").orderBy("keep_id")
    }),
    // Incremental dedup: a recurring refresh drops batch docs whose
    // fingerprint is already in the store (here: every doc_id % 3 == 0
    // doc plays the prior corpus) and keeps min-id winners within the
    // batch. The corpus has genuine cross-id duplicates, so both legs
    // (store hit, intra-batch dup) are exercised.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val store = graft.ops.Dedup.fingerprintStore(
        docs.filter(col("doc_id") % 3 === 0))
      graft.ops.Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 3 =!= 0), store)
        .select("doc_id").orderBy("doc_id")
    }),
    // The Bloom-prefiltered twin: same refresh, but batch winners are
    // probed scan-side against a bloom of the store and only suspects
    // reach the exact check (broadcast semi INTO the store — history
    // never shuffles). No false negatives => bit-identical result; the
    // oracle replays the plain incremental-dedup semantics.
    "q_dedup_incremental_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val store = graft.util.Caching.cacheOnce(graft.ops.Dedup.fingerprintStore(
        docs.filter(col("doc_id") % 3 === 0)))
      graft.ops.Dedup.incrementalDedupBloom(
          docs.filter(col("doc_id") % 3 =!= 0), store)
        .select("doc_id").orderBy("doc_id")
    }),
    // Incremental NEAR-dup: per batch doc (doc_id % 3 != 0), the best
    // MinHash-estimated Jaccard against the prior-corpus signature
    // store (doc_id % 3 == 0), candidates via cross-corpus LSH
    // banding. Pins the store-hit half of incrementalNearDedup; the
    // intra-batch half reuses the already-pinned pair path.
    "q_neardup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val store = graft.ops.Dedup.signatures(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 16, n = 3)
      val batch = graft.ops.Dedup.signatures(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 16, n = 3)
      graft.ops.Dedup.nearDupStoreHits(batch, store, "doc_id",
          k = 16, bands = 8, maxBucket = 1000000)
        .select(col("doc_id"), col("best_est"),
          (col("best_est") >= 0.5).as("dropped"))
        .orderBy("doc_id")
    }),
    // Unicode NFC normalization (custom codegen'd expression — Spark
    // ships no builtin). The corpus is ASCII (normalization-invariant),
    // so the query APPENDS a decomposed suffix (e + combining acute)
    // per row: the oracle's nfc_normalize must compose it to é exactly
    // like java.text.Normalizer — a real differential check of the two
    // UAX #15 implementations, not an identity pass.
    "q_text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.Normalize.unicodeNormalize(
          concat(col("text"), lit(" cafe\u0301")), "NFC").as("norm"))
        .orderBy("doc_id")),
    // Token counting + quality signals, pure codegen'd expressions
    "q_text_stats" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(txt).as("n_tokens"),
        graft.ops.TextAnalysis.charCount(txt).as("n_chars_m"),
        graft.ops.TextAnalysis.meanWordLength(txt).as("mean_word_len"),
        graft.ops.TextAnalysis.stopwordRatio(txt).as("stop_ratio")
      ).orderBy("doc_id")
    }),
    // Language-ID heuristic (stopword argmax)
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.langId(col("text")).as("lang_id")
      ).orderBy("doc_id")),
    // Real multi-language ID: Cavnar–Trenkle char-n-gram rank
    // profiles over ~55 languages (one codegen kernel pass; profiles
    // are deterministic embedded data the oracle re-renders). Planted
    // multilingual docs — the sf corpus is English-ish synthetic.
    "q_lang_id_profiles" -> ((s, dir) => {
      import s.implicits._
      val scored = graft.ops.TextAnalysis.langIdProfilesScored(col("text"))
      LangIdDocs.toDF("doc_id", "text").select(
        col("doc_id"),
        scored.getField("lang").as("lang"),
        scored.getField("dist").as("dist")
      ).orderBy("doc_id")
    }),
    // Document fingerprinting (md5 of normalized text)
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp")
      ).orderBy("doc_id")),
    // Repetition metrics (Gopher-style boilerplate/loop signals)
    "q_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        round(graft.ops.TextAnalysis.dupLineRatio(col("text")), 6).as("dup_line_ratio"),
        round(graft.ops.TextAnalysis.dupWordRatio(col("text")), 6).as("dup_word_ratio")
      ).orderBy("doc_id")),
    // Gopher A1.1 n-gram repetition: top-bigram + duplicated-5-gram
    // character fractions. Runs the one-pass codegen'd kernel (the
    // 100 TB path) against the oracle's group-by replay — the same
    // oracle also pins the Column-algebra reference via the OpsSpec
    // kernel-equivalence test.
    "q_ngram_repetition" -> ((s, dir) => {
      val stats = graft.functions.NgramRepetition
        .ngramRepetitionStats(col("text"), topNs = Seq(2), dupNs = Seq(5))
      t(s, dir, "documents").select(
        col("doc_id"),
        round(stats.getField("top_2gram_frac"), 6).as("top2_frac"),
        round(stats.getField("dup_5gram_frac"), 6).as("dup5_frac")
      ).orderBy("doc_id")
    }),
    // PII scrubbing: emails + IPv4 replaced scan-side, hit counts kept
    "q_pii_scrub" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.piiCount(col("text")).as("pii_hits"),
        graft.ops.TextAnalysis.scrubPii(col("text")).as("scrubbed")
      ).orderBy("doc_id")),
    // Extended PII families (phones, SSN shapes, Luhn-gated credit
    // cards) — all flags on, over planted PII docs; the default config
    // stays byte-identical to q_pii_scrub (OpsSpec-pinned)
    "q_pii_scrub_extended" -> ((s, dir) => {
      import s.implicits._
      val cfg = graft.ops.TextAnalysis.PiiConfig(
        phones = true, ssns = true, creditCards = true)
      PiiDocs.toDF("doc_id", "text").select(
        col("doc_id"),
        graft.ops.TextAnalysis.piiCountExtended(col("text"), cfg).as("pii_hits"),
        graft.ops.TextAnalysis.scrubPiiExtended(col("text"), cfg).as("scrubbed")
      ).orderBy("doc_id")
    }),
    // Mojibake repair: the planted docs are DERIVED corruptions
    // (UTF-8 mis-decoded as CP1252, once or twice) of clean
    // originals; passes=2 unwinds both. Clean control rows (ASCII,
    // real accents, empty) must pass through byte-identical.
    "q_fix_mojibake" -> ((s, dir) => {
      import s.implicits._
      MojibakeDocs.toDF("doc_id", "text").select(
        col("doc_id"),
        graft.ops.TextAnalysis.mojibakeChars(col("text"), passes = 2)
          .as("removed_chars"),
        graft.ops.TextAnalysis.fixMojibake(col("text"), passes = 2)
          .as("fixed")
      ).orderBy("doc_id")
    }),
    // Readability (Flesch / Flesch–Kincaid over heuristic sentence +
    // syllable counts). The synthetic corpus has no punctuation, so
    // the query appends a deterministic multi-sentence tail to a
    // third of the docs (same expression in the oracle) to exercise
    // the sentence splitter.
    "q_readability" -> ((s, dir) => {
      // coalesce BEFORE the concat so a null text still receives the
      // tail — matching the oracle's COALESCE(text,'') || tail; a bare
      // concat would null-propagate and silently drop the tail for
      // null docs on the Spark side only
      val synth = concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 3 === 0,
          lit(". One more sentence here! Done?")).otherwise(lit("")))
      val r = graft.ops.TextAnalysis.readabilityStats(synth)
      t(s, dir, "documents").select(
        col("doc_id"),
        r.getField("n_sentences").as("n_sentences"),
        r.getField("n_words").as("n_words"),
        r.getField("n_syllables").as("n_syllables"),
        r.getField("flesch").as("flesch"),
        r.getField("fk_grade").as("fk_grade")
      ).orderBy("doc_id")
    }),
    // Script (writing-system) detection over the planted multilingual
    // docs — the cheap routing signal that runs before rank-profile
    // lang-id at scale. Same char-class patterns replayed in DuckDB
    // (literal-range classes parse identically in Java regex and RE2).
    "q_detect_script" -> ((s, dir) => {
      import s.implicits._
      LangIdDocs.toDF("doc_id", "text").select(
        col("doc_id"),
        graft.ops.TextAnalysis.detectScript(col("text")).as("script")
      ).orderBy("doc_id")
    }),
    // Zipf power-law fit over the token rank-frequency curve: one
    // wordcount shuffle, TakeOrdered top-k, k-row regression.
    "q_zipf" -> ((s, dir) =>
      graft.ops.TextAnalysis.zipfStats(t(s, dir, "documents"), k = 100)),
    // Gopher-style document-quality rules (word-count bounds, mean
    // word length, symbol/bullet/ellipsis ratios, alpha-word ratio,
    // stopword presence). minStopwordKinds=1 because the synthetic
    // vocabulary carries only 'the' of the Gopher stop list — with the
    // paper default of 2 the flag would be constant-false here.
    "q_quality_gopher" -> ((s, dir) =>
      graft.ops.QualityFilters.gopherSignals(
        t(s, dir, "documents"), "text",
        graft.ops.QualityFilters.GopherConfig(minStopwordKinds = 1))
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "bullet_ratio", "ellipsis_ratio", "alpha_word_ratio",
          "stopword_kinds", "gopher_keep")
        .orderBy("doc_id")),
    // C4-style line filtering. The corpus has no newlines or
    // punctuation, so the query synthesizes a deterministic multi-line
    // page per doc (same expression in the oracle) — the signals then
    // exercise every branch: terminal-punct lines, short lines, lorem
    // ipsum pages, curly-brace pages, multi-sentence lines.
    "q_c4_filter" -> ((s, dir) => {
      val id = col("doc_id")
      val synth = concat_ws("\n",
        concat(lit("The quick brown fox jumps over the lazy dog"),
          when(id % 4 === 0, ".").otherwise("")),
        concat(substring(col("text"), 1, 40), lit(".")),
        lit("Short line"),
        when(id % 17 === 0, "lorem ipsum dolor sit amet here.").otherwise(""),
        when(id % 13 === 0, "code block { x = 1; } end.").otherwise(""),
        when(id % 5 === 0, "Is this a question? Yes it is!").otherwise(""))
      graft.ops.QualityFilters.c4Signals(
        t(s, dir, "documents").withColumn("text", synth), "text")
        .select("doc_id", "n_lines", "n_kept_lines", "n_sentences",
          "has_lorem", "has_brace", "c4_keep")
        .orderBy("doc_id")
    }),
    // One-pass hygiene verdict kernel (the curation scan's 100 TB
    // path): first-failing-stage index over a synthesized page that
    // plants one failure mode per doc_id residue — c4 (tiny page),
    // gopher (symbol spam), repetition (duplicated lines), quality
    // (punct-heavy stopword-free page), language (German page). The
    // oracle replays every stage rule in SQL over the same synthesized
    // text and folds them into the same CASE.
    "q_hygiene_verdict" -> ((s, dir) => {
      val id = col("doc_id")
      val base = concat_ws("\n",
        lit(HygieneL1),
        concat(substring(col("text"), 1, 160), lit(HygieneTailSuffix)),
        lit(HygieneL3), lit(HygieneL4), lit(HygieneL5))
      val synth = when(id % 11 === 0, lit(HygieneTiny))
        .when(id % 11 === 1, concat(base, lit("\n" + HygieneSymbolLine)))
        .when(id % 11 === 2, concat(base, lit(("\n" + HygieneRepLine) * 7)))
        .when(id % 11 === 3, lit(HygieneQualityText))
        .when(id % 11 === 4, lit(HygieneGermanText))
        .otherwise(base)
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.QualityFilters.hygieneVerdict(synth,
          c4 = Some((3, 5)),
          gopher = Some(graft.ops.QualityFilters.GopherConfig()),
          repetition = Some(graft.ops.QualityFilters.RepetitionConfig(
            maxDupLineRatio = 0.30,
            maxTopNgramFrac = Map(2 -> 0.20),
            maxDupNgramFrac = Map(5 -> 0.15))),
          minQuality = 0.55, languages = Seq("en")).as("verdict")
      ).orderBy("doc_id")
    }),
    // C4 cross-document span dedup: each doc carries a 3-sentence block
    // shared by its (doc_id % 7) pool; %11 docs carry it twice
    // (within-doc dup + wrap-around span collisions); %19 docs are
    // single-sentence. First occurrence (min id, start) keeps the
    // block; every other occurrence is cut and the doc reassembled.
    "q_c4_span_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val g = (id % 7).cast("string")
      val blk = concat_ws(" ",
        concat(lit("Shared alpha "), g, lit(" one.")),
        concat(lit("Shared beta "), g, lit(" two.")),
        concat(lit("Shared gamma "), g, lit(" three.")))
      val synth = when(id % 19 === 0,
          concat(lit("Only sentence "), id.cast("string"), lit(".")))
        .otherwise(concat_ws(" ",
          concat(lit("Unique head "), id.cast("string"), lit(".")),
          blk,
          when(id % 11 === 0, blk).otherwise(lit("")),
          concat(lit("Unique tail "), id.cast("string"), lit("."))))
      graft.ops.Dedup.spanDedup(
          t(s, dir, "documents").withColumn("text", synth), "doc_id", "text")
        .select("doc_id", "text").orderBy("doc_id")
    }),
    // URL canonicalization + dedup: urls synthesized deterministically
    // per doc (case variants, www, default port, utm params, trailing
    // slash, fragment), canonicalized, grouped — the exactGroups shape
    // keyed on canonical URL.
    "q_url_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "https://").otherwise("HTTPS://"),
        when(id % 4 < 2, "WWW.").otherwise(""),
        lit("Site"), (id % 7).cast("string"), lit(".Example.COM"),
        when(id % 3 === 0, ":443").otherwise(""),
        lit("/Path/"), (id % 5).cast("string"),
        when(id % 2 === 1, "/").otherwise(""),
        when(id % 3 === 1,
          concat(lit("?utm_source=feed&ref="), (id % 2).cast("string")))
          .otherwise(when(id % 3 === 2,
            concat(lit("?ref="), (id % 2).cast("string"), lit("&utm_campaign=x")))
            .otherwise("")),
        when(id % 5 === 0, "#frag").otherwise(""))
      graft.ops.QualityFilters.dedupByUrl(
        t(s, dir, "documents").withColumn("url", url), "url", "doc_id")
        .orderBy("canonical_url")
    }),
    // CCNet-style statistical quality: unigram LM estimated from the
    // corpus itself, per-doc mean token log-prob, exact tertile
    // bucketing (rounded before ranking so float noise can't flip a
    // cross-engine tie).
    "q_unigram_quality" -> ((s, dir) => {
      val scored = graft.ops.QualityFilters.unigramLogProbs(
        t(s, dir, "documents"))
      graft.ops.QualityFilters.qualityBuckets(scored)
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_log_prob"), 6).as("mean_log_prob"),
          col("quality_bucket"))
        .orderBy("doc_id")
    }),
    // The 100 TB bucketing path: approxQuantile cutoffs + scan-side
    // comparison, no global sort. At sf0.01 the sketch is EXACT
    // (relErr·n << 1), and approxQuantile(q) returns the element at
    // ascending rank ceil(q·n) — the oracle replays that rank pick
    // verbatim, so the comparison is bit-exact, not approximate.
    // Scores are rounded to 6dp BEFORE the cutoff/compare so both
    // engines rank identical values.
    "q_unigram_quality_approx" -> ((s, dir) => {
      val scored = graft.ops.QualityFilters.unigramLogProbs(
        t(s, dir, "documents"))
        .withColumn("score6", round(col("mean_log_prob"), 6))
      graft.ops.QualityFilters.qualityBucketsApprox(
        scored, "score6", buckets = 3, relErr = 0.0001)
        .select(col("doc_id"), col("n_tokens"),
          col("score6").as("mean_log_prob"), col("quality_bucket"))
        .orderBy("doc_id")
    }),
    // CCNet's actual scoring model, one n up: self-trained bigram LM
    // with add-alpha smoothing over the UNK-closed vocabulary. The
    // oracle replays train (vocab -> unk-mapped bigram counts ->
    // context totals) and score end-to-end; perplexity itself is
    // exp(-mlp), derived, so the oracle pins mean_log_prob.
    "q_bigram_quality" -> ((s, dir) =>
      graft.ops.QualityFilters.bigramLogProbs(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("mean_log_prob"), 6).as("mean_log_prob"))
        .orderBy("doc_id")),
    // Exact n-gram Jaccard near-dup pairs
    "q_ngram_jaccard" -> ((s, dir) =>
      graft.ops.Dedup.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.2)
        .orderBy("a", "b")),
    // Connected components over the jaccard pairs -> dedup decisions
    "q_dedup_components" -> ((s, dir) => {
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.2)
      graft.ops.Dedup.connectedComponents(pairs).orderBy("id")
    }),
    // Keep-best near-dup dedup: duplicate clusters (3-gram Jaccard
    // components) keep their LONGEST member (n_chars desc, min id tie)
    // instead of the min id — the RefinedWeb representative rule. The
    // oracle replays pairs, recursive components, the per-component
    // rank and the anti-join.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "n_chars")
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.2)
      graft.ops.Dedup.dedupByPairsBest(docs, "doc_id", pairs, col("n_chars"))
        .orderBy("doc_id")
    }),
    // MinHash + LSH banding candidate pairs (md5-portable hasher)
    "q_minhash_lsh" -> ((s, dir) =>
      graft.ops.Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text",
        k = 8, bands = 4, n = 3, maxBucket = 1000000)
        .orderBy("a", "b")),
    // Brute-force cosine top-k ANN baseline
    "q_embed_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.bruteForceTopK(
        e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Asymmetric int8 search: the corpus quantized scan-side
    // (quantizeInt8), queries at full precision; cosine is
    // scale-invariant so the codes score directly — integer-valued
    // doubles, exact in both engines, quantization replayed in DuckDB.
    "q_embed_int8_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qz = e.select(col("vec_id"),
        graft.ops.Similarity.quantizeInt8(col("embedding")).as("qv"))
      graft.ops.Similarity.int8TopK(
        e.filter(col("vec_id") % 50 === 0), qz,
        "vec_id", "vec_id", "embedding", "qv", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Embedding-cosine near-duplicate pairs. The DuckDB oracle computes
    // the complete pair set, so this query uses the exact all-pairs
    // entry point; production scale path is cosineNearDupPairsLsh.
    "q_embed_neardup" -> ((s, dir) =>
      graft.ops.Similarity.cosineNearDupPairsExact(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, dim = 64)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy("a", "b")),
    // SemDeDup (Abbas et al. 2023): cluster with the deterministic IVF
    // centroid machinery, compare only within clusters, and per
    // duplicate component keep the member FARTHEST from its centroid
    // (lowest centroid cosine — the paper's diversity-preserving
    // choice). The oracle replays clustering, within-cluster pairs,
    // recursive connected components and the representative rank.
    "q_semdedup" -> ((s, dir) =>
      graft.ops.Similarity.semDedup(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nlist = 8)
        .select("vec_id").orderBy("vec_id")),
    // Cluster-balanced diversity sampling: exactly 5 winners per
    // deterministic IVF cluster, winners = smallest unit hashes. The
    // oracle replays clustering (the q_semdedup cent/assign CTEs) and
    // the per-cluster hash-rank window end-to-end.
    "q_cluster_sample" -> ((s, dir) =>
      graft.ops.Similarity.clusterBalancedSample(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        kPerCluster = 5, nlist = 8, seed = 7)
        .select("vec_id", "list_id").orderBy("vec_id")),

    // SimHash near-dup pairs, production path: murmur3 SimHash64Expr
    // (codegen'd custom Catalyst expression). Murmur isn't replayable
    // in DuckDB -> rows-only driver check, pinned by OpsSpec; the
    // md5 variant below is the oracle-checked twin.
    "q_dedup_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhashPairs(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3, bands = 4)
        .orderBy("a", "b")),
    // Same banding/hamming pipeline with the portable 60-bit md5 token
    // hash — votes, fingerprint, bands and bit_count all replay in the
    // DuckDB oracle. ~5x slower than the murmur expression (60 HOF
    // vote aggregates vs one codegen'd kernel): the price of
    // cross-engine verifiability, paid only by this query.
    "q_dedup_simhash_md5" -> ((s, dir) =>
      graft.ops.Dedup.simhashPairsPortable(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3, bands = 4)
        .orderBy("a", "b")),
    // MinHash signature-estimated jaccard for LSH candidates. Uses the
    // md5 hasher so the full pipeline (signatures -> banding ->
    // candidates -> agreement fraction) replays in DuckDB; production
    // swaps in Dedup.xxHash for the numeric fast path.
    // maxBucket raised to match the DuckDB oracle, which computes the
    // COMPLETE candidate set: the production default (1000) silently
    // drops pairs in degenerate band buckets, and the oracle would
    // diverge the day the corpus grows one such bucket (same contract
    // as q_minhash_lsh above).
    "q_dedup_minhash_est" -> ((s, dir) =>
      graft.ops.Dedup.minhashJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text",
        k = 16, bands = 8, threshold = 0.3, maxBucket = 1000000)
        .orderBy("a", "b")),
    // Hyperplane-LSH approximate top-k (the oracle inlines the same
    // seeded plane constants, so the bucketing replays exactly)
    "q_embed_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.lshTopK(
        e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", k = 5, dim = 64, planes = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // IVF-probe approximate top-k (md5-ordered centroid pick is
    // engine-portable)
    "q_embed_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.ivfTopK(
        e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // PERSISTED-index variant of the same IVF search: build the index
    // over the corpus, save it partitionBy(list_id), load it back, and
    // probe through the partition-pruned layout — bit-identical to the
    // inline path by construction, so it shares q_embed_ivf_topk's
    // oracle. The save/load/prune roundtrip is what the row proves.
    // IVF incremental append: build + persist an index over the base
    // corpus (vec_id % 3 > 0), then append the recurring drop (% 3 ==
    // Product-quantization ADC search: deterministic codebooks (the
    // md5-ordered first 8 rows donate their j-th subvector to codebook
    // j), per-subspace L2-argmin codes, and per-query lookup-table
    // scoring (approx inner product = sum of subvector-centroid dots
    // in j order). The oracle replays codebook selection, all 4 argmin
    // codes per vector, and the 4-term ADC sum in the same order.
    "q_embed_pq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Similarity.trainPq(e, "vec_id", "embedding",
        m = 4, codebookSize = 8)
      graft.ops.Similarity.pqTopK(
          e.filter(col("vec_id") % 50 === 0),
          graft.ops.Similarity.pqEncode(e, "embedding", model),
          "vec_id", "embedding", "vec_id", k = 5, model)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    // IVF-PQ (FAISS IVFPQ shape): the corpus is clustered into 8
    // inverted lists, each vector reduced to its residual against its
    // list centroid, residuals product-quantized (4 subspaces, 16
    // "pq"-salted md5-ordered donors), and the index SAVED/RELOADED
    // through the partitionBy(list_id) code layout before the probe —
    // so a hash match proves centroid pick + assignment + residual
    // math + codebook pick + argmin codes + disk roundtrip + per-list
    // ADC (dot(q, c_list) + 4-term LUT sum) end-to-end.
    "q_embed_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = graft.ops.Similarity.buildIvfPqIndex(
        e, "vec_id", "embedding", nlist = 8, m = 4, codebookSize = 16)
      // same reused-scratch-dir rationale as q_embed_ivf_indexed
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_idx_${
        java.lang.Integer.toHexString(new java.io.File(dir).getAbsolutePath.hashCode)}_${
        ProcessHandle.current().pid()}"
      graft.ops.Similarity.saveIvfIndex(idx, path)
      graft.ops.Similarity.ivfTopKIndexed(
        e.filter(col("vec_id") % 50 === 0),
        graft.ops.Similarity.loadIvfIndex(s, path),
        "vec_id", "embedding", k = 5, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    // 0) against the SAVED centroids — no re-clustering — and read the
    // appended rows' list assignments back from the reloaded on-disk
    // partitionBy(list_id) layout. The oracle replays centroid
    // selection over the base (md5-hash-ordered seeds) and the batch's
    // nearest-centroid assignment (cosine desc, then list_id) in pure
    // SQL, so a hash match proves assignment + disk append + pinned
    // reload end-to-end.
    "q_embed_ivf_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val idx = graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding",
        nlist = 8)
      // session-stable pid-scoped scratch (see q_embed_ivf_indexed's
      // path note); save OVERWRITES, so the per-derivation append
      // lands exactly once
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_app_${
        java.lang.Integer.toHexString(new java.io.File(dir).getAbsolutePath.hashCode)}_${
        ProcessHandle.current().pid()}"
      graft.ops.Similarity.saveIvfIndex(idx, path)
      val appended = graft.ops.Similarity.appendIvfIndex(
        s, path, batch, "vec_id", "embedding")
      appended.lists
        .filter(col("neighbor_id") % 3 === 0)
        .select(col("neighbor_id").as("vec_id"), col("list_id"))
        .orderBy("vec_id")
    }),
    "q_embed_ivf_indexed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = graft.ops.Similarity.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)
      // one reused (overwritten) scratch dir per (canonical sfDir,
      // process), not a fresh createTempDirectory per call: bench/
      // verify re-derive this query many times per session and would
      // otherwise leak a full index copy under /tmp each rep. The pid
      // keeps two concurrent JVMs on the same sfDir from overwriting
      // each other's lists mid-probe; the canonical path keeps
      // relative/absolute spellings of one sfDir on one scratch dir.
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_${
        java.lang.Integer.toHexString(new java.io.File(dir).getAbsolutePath.hashCode)}_${
        ProcessHandle.current().pid()}"
      graft.ops.Similarity.saveIvfIndex(idx, path)
      graft.ops.Similarity.ivfTopKIndexed(
        e.filter(col("vec_id") % 50 === 0),
        graft.ops.Similarity.loadIvfIndex(s, path),
        "vec_id", "embedding", k = 5, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Johnson–Lindenstrauss random projection 64 → 4 dims (seed 7):
    // the pre-ANN compression path. The oracle replays the exact
    // gaussian plane literals (Double.toString round-trips) and the
    // dot/√outDim math.
    "q_embed_project" -> ((s, dir) => {
      val proj = graft.ops.Similarity.randomProject(
        col("embedding"), dim = 64, outDim = 4, seed = 7L)
      t(s, dir, "embeddings")
        .select(col("vec_id"), proj.as("__p"))
        .select(col("vec_id"),
          round(element_at(col("__p"), 1), 6).as("p1"),
          round(element_at(col("__p"), 2), 6).as("p2"),
          round(element_at(col("__p"), 3), 6).as("p3"),
          round(element_at(col("__p"), 4), 6).as("p4"))
        .orderBy("vec_id")
    }),
    // ANN quality measurement: per-query recall@5 of the IVF probe
    // against the exact brute-force top-5 — the tuning loop every ANN
    // deployment runs. The oracle replays BOTH rankings and the
    // set-intersection count.
    "q_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      graft.ops.Similarity.recallAtK(
        graft.ops.Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
          k = 5, nlist = 8, nprobe = 3),
        graft.ops.Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
          "embedding", k = 5))
        .select(col("query_id"), col("hits").cast("long").as("hits"),
          col("exact_n").cast("long").as("exact_n"),
          round(col("recall"), 6).as("recall"))
        .orderBy("query_id")
    }),
    // Multimodal: batched image decode over binary media columns. The
    // input stays MIXED (even ids real PNGs, odd ids real WAVs) so the
    // batch pass exercises both the ImageIO path and the non-image
    // fallback; the ORACLE-CHECKED output is the real-decoded rows,
    // whose dimensions ImageIO must recover exactly as syntheticPng
    // encoded them — the DuckDB oracle recomputes that generator
    // formula in pure SQL (no table needed), turning the old
    // rows-only row into a full rows+schema+hash check of the decode.
    "q_multimodal_features" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticMedia(s, 2000)
      graft.ops.Multimodal.imageFeatures(media, dim = 16).toDF()
        .filter(col("media_id") % 2 === 0) // PNG rows: really decoded
        .select(col("media_id"), col("width"), col("height"))
        .orderBy("media_id")
    }),
    // Multimodal audio: batched REAL WAV decode (javax.sound.sampled)
    // over the odd (audio) rows of the same mixed media frame; the
    // oracle replays syntheticWav's header contract (8 kHz, 800 +
    // seed%1600 frames) in pure SQL, checking the real decode round
    // trip the same way q_multimodal_features checks ImageIO.
    "q_multimodal_audio" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticMedia(s, 2000)
      graft.ops.Multimodal.audioFeatures(media).toDF()
        .filter(col("media_id") % 2 === 1) // WAV rows: really decoded
        .select(col("media_id"),
          col("sampleRate").as("sample_rate"),
          col("durationMs").as("duration_ms"))
        .orderBy("media_id")
    }),
    // Multimodal video: REAL MJPEG-in-AVI frame extraction (RIFF
    // container parse + per-frame ImageIO JPEG decode) over synthetic
    // AVIs, every 3rd frame; the oracle replays syntheticMjpegAvi's
    // frame-count and dimension contract in pure SQL — frame indices
    // exist only if the container really parsed, dims only if the JPEG
    // really decoded.
    "q_multimodal_video" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticVideos(s, 200)
      graft.ops.Multimodal.videoFrameFeatures(media, stride = 3).toDF()
        .select(col("media_id"),
          col("frameIndex").as("frame_index"),
          col("width"), col("height"))
        .orderBy("media_id", "frame_index")
    }),
    // Image near-dup dedup: REAL ImageIO decodes → dHash64 → pigeonhole
    // banded hamming pairs → min-id component dedup. The grid PNGs make
    // every dHash bit a pure md5-integer function of the id
    // (syntheticGridPng), so the oracle replays the ENTIRE pipeline —
    // all 64 signature bits per image, banding, popcount, connected
    // components — in pure SQL against the real decoded hashes. Output:
    // every image's dhash plus its keep/drop verdict.
    "q_image_neardup" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticGridMedia(s, 400)
      val hashes = graft.ops.Multimodal.mediaHashes(media,
        graft.ops.Multimodal.MediaHash.Image)
      val pairs = graft.ops.Dedup.hammingPairs64(hashes, "media_id", "dhash",
        maxHamming = 2, bands = 4)
      val kept = graft.ops.Dedup.dedupByPairs(hashes, "media_id", pairs)
      hashes.join(kept.select(col("media_id"), lit(1).as("kept")),
          Seq("media_id"), "left")
        .select(col("media_id"), col("dhash"),
          coalesce(col("kept"), lit(0)).as("kept"))
        .orderBy("media_id")
    }),
    // Video near-dup dedup: REAL RIFF parses → keyframe JPEG decode →
    // dHash64 → pigeonhole banded hamming pairs → min-id component
    // dedup. The grid AVIs make every keyframe dHash bit the actual
    // move of a reflecting md5-walk over 9 brightness levels
    // (syntheticGridMjpegAvi) with a 24-gray-level step that JPEG
    // round-trip error cannot flip, and the planted twins are
    // RE-ENCODED at a different JPEG quality — byte-different payloads
    // whose decoded hashes still collapse. The oracle replays the
    // walk, banding, popcount and components in pure SQL.
    "q_video_neardup" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticGridVideos(s, 200)
      val sigs = graft.ops.Multimodal.mediaHashes(media,
        graft.ops.Multimodal.MediaHash.VideoKeyframe)
      val pairs = graft.ops.Dedup.hammingPairs64(sigs, "media_id", "vhash",
        maxHamming = 2, bands = 4)
      val kept = graft.ops.Dedup.dedupByPairs(sigs, "media_id", pairs)
      sigs.join(kept.select(col("media_id"), lit(1).as("kept")),
          Seq("media_id"), "left")
        .select(col("media_id"), col("vhash"),
          coalesce(col("kept"), lit(0)).as("kept"))
        .orderBy("media_id")
    }),
    // Min-frame-hash video signature: per-frame REAL JPEG decodes →
    // dHash64 per frame → signed-long MIN inside the decode pass (no
    // aggregation shuffle). Each grid AVI's three frames carry
    // INDEPENDENT md5 walks (frame 0 = the keyframe walk, frames 1-2
    // namespace "vidf"), so the oracle replays all three 64-bit hashes
    // per video and takes LEAST — a real min over distinct values, the
    // cut/trim-robust video identity key.
    "q_video_minframe" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticGridVideos(s, 200)
      graft.ops.Multimodal.mediaHashes(media,
        graft.ops.Multimodal.MediaHash.VideoMinFrame)
        .select(col("media_id"), col("vhash"))
        .orderBy("media_id")
    }),
    // Audio near-dup dedup: REAL javax.sound decodes → FFT → mel-band
    // energies → audioFingerprint64 → pigeonhole banded hamming pairs
    // → min-id component dedup. The grid WAVs make every fingerprint
    // bit the actual move of a reflecting md5-walk over 4 amplitude
    // levels (syntheticGridWav), so the oracle replays the ENTIRE
    // pipeline — all 64 sign-of-delta bits per clip, banding,
    // popcount, connected components — in pure SQL against the real
    // decoded fingerprints (the audio sibling of q_image_neardup).
    "q_audio_neardup" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticGridAudio(s, 400)
      val sigs = graft.ops.Multimodal.mediaHashes(media,
        graft.ops.Multimodal.MediaHash.Audio)
      val pairs = graft.ops.Dedup.hammingPairs64(sigs, "media_id", "afp",
        maxHamming = 2, bands = 4)
      val kept = graft.ops.Dedup.dedupByPairs(sigs, "media_id", pairs)
      sigs.join(kept.select(col("media_id"), lit(1).as("kept")),
          Seq("media_id"), "left")
        .select(col("media_id"), col("afp"),
          coalesce(col("kept"), lit(0)).as("kept"))
        .orderBy("media_id")
    }),
    // Incremental image near-dup against a prior hash store (the
    // recurring-drop shape): ids <= 200 are the store, the rest the
    // batch; a batch image within hamming 2 of ANY stored hash drops
    // as a store hit, the fresh remainder dedups among itself. Planted
    // boundary pair: id 201 copies id 200 (in the store).
    "q_image_neardup_incremental" -> ((s, dir) => {
      val media = graft.ops.Multimodal.syntheticGridMedia(s, 400)
      val hashes = graft.ops.Multimodal.mediaHashes(media,
        graft.ops.Multimodal.MediaHash.Image)
      val store = hashes.filter(col("media_id") <= 200)
      val batch = hashes.filter(col("media_id") > 200)
      val kept = graft.ops.Dedup.incrementalHammingDedup(
        batch, store, "media_id", "dhash", maxHamming = 2, bands = 4)
      batch.join(kept.select(col("media_id"), lit(1).as("kept")),
          Seq("media_id"), "left")
        .select(col("media_id"), col("dhash"),
          coalesce(col("kept"), lit(0)).as("kept"))
        .orderBy("media_id")
    }),
    // Full one-pass text enrichment
    "q_text_analyze" -> ((s, dir) =>
      graft.ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .select("doc_id", "n_tokens", "n_tokens_bpe", "lang_id", "quality", "fingerprint")
        .orderBy("doc_id")),
    // Deterministic Bernoulli sample — pure scan-side filter, decision
    // is a function of (seed, id) so it replays identically in DuckDB
    "q_sample_hash" -> ((s, dir) =>
      graft.ops.Sampling.hashSample(t(s, dir, "documents"), "doc_id", 0.25)
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // Soft quality sampling: p = min(1, (quality/0.8)^2), unit-hash
    // decided, keep_prob kept for downstream loss weighting
    "q_soft_sample" -> ((s, dir) =>
      graft.ops.Sampling.softSample(t(s, dir, "documents"), "doc_id",
        graft.ops.TextAnalysis.qualityScore(col("text")),
        pivot = 0.8, sharpness = 2.0)
        .select("doc_id", "keep_prob").orderBy("doc_id")),
    // Per-language sampling rates (training-mix curation)
    "q_sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1), default = 0.05, seed = 7)
        .select("doc_id", "lang").orderBy("doc_id")),
    // Deterministic sequence packing: hash-grouped running token sum
    // opens a new pack every `tokenBudget` tokens
    "q_pack_sequences" -> ((s, dir) =>
      graft.ops.Sampling.packSequences(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
        tokenBudget = 2000, groups = 8, seed = 7)
        .select("doc_id", "pack_group", "pack_id", "pack_offset")
        .orderBy("doc_id")),
    // Packing-efficiency report: per-pack doc/token totals plus the
    // chunk count and pad waste a seqLen=512 slicing would produce —
    // the pre-launch numbers a trainer reads. Full assignment +
    // aggregation + integer chunk math replayed in DuckDB.
    "q_pack_stats" -> ((s, dir) =>
      graft.ops.Sampling.packStats(
        graft.ops.Sampling.packSequences(
          t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
          tokenBudget = 2000, groups = 8, seed = 7),
        seqLen = 512)
        .orderBy("pack_group", "pack_id")),
    // Pack materialization: concatenated sequences in pack order; the
    // md5 of the assembled text pins the exact document order
    "q_pack_materialize" -> ((s, dir) =>
      graft.ops.Sampling.materializePacks(
        graft.ops.Sampling.packSequences(
          t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
          tokenBudget = 2000, groups = 8, seed = 7))
        .select(col("pack_group"), col("pack_id"), col("n_docs"),
          md5(col("text")).as("text_md5"))
        .orderBy("pack_group", "pack_id")),
    // Fixed-length chunking of packed sequences: within-pack offsets,
    // per-chunk token slices, and doc-boundary bookkeeping all pinned
    // (bounds serialized id:begin:end so the nested array hashes flat)
    "q_chunk_packs" -> ((s, dir) =>
      graft.ops.Sampling.chunkPacks(
        graft.ops.Sampling.packSequences(
          t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
          tokenBudget = 2000, groups = 8, seed = 7),
        "doc_id", "text", seqLen = 512)
        .select(col("pack_group"), col("pack_id"), col("seq_idx"),
          col("n_tokens"), md5(col("text")).as("text_md5"),
          array_join(transform(col("boundaries"),
            b => concat_ws(":", b.getField("doc_id"),
              b.getField("begin_token"), b.getField("end_token"))), ",")
            .as("bounds"))
        .orderBy("pack_group", "pack_id", "seq_idx")),
    // ExactSubstr duplicate-passage removal over terminator-free text:
    // each doc carries a 10-token punctuation-free run shared by its
    // (doc_id % 5) pool; %9 docs carry it twice, %13 docs are shorter
    // than the k=8 window. First (id, start) occurrence keeps its run;
    // every other occurrence loses the covered tokens.
    "q_exactsubstr" -> ((s, dir) => {
      val id = col("doc_id")
      val g = (id % 5).cast("string")
      val run = concat_ws(" ",
        concat(lit("s1x"), g), concat(lit("s2x"), g), concat(lit("s3x"), g),
        concat(lit("s4x"), g), concat(lit("s5x"), g), concat(lit("s6x"), g),
        concat(lit("s7x"), g), concat(lit("s8x"), g), concat(lit("s9x"), g),
        concat(lit("s10x"), g))
      val synth = when(id % 13 === 0,
          concat(lit("short "), id.cast("string")))
        .otherwise(concat_ws(" ",
          concat(lit("head"), id.cast("string")),
          run,
          when(id % 9 === 0, run).otherwise(lit("")),
          concat(lit("tail"), id.cast("string"))))
      graft.ops.Dedup.exactSubstrDedup(
          t(s, dir, "documents").withColumn("text", synth),
          "doc_id", "text", k = 8, portableHash = true)
        .select("doc_id", "text").orderBy("doc_id")
    }),
    // Exactly k docs per stratum: smallest unit hashes win, id ties
    "q_sample_exactk" -> ((s, dir) =>
      graft.ops.Sampling.exactKPerStratum(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        k = 20, seed = 7)
        .orderBy("doc_id")),
    // Per-domain quality quota (RefinedWeb-style "cap docs per
    // domain"): the 10 LONGEST documents of each source survive, ties
    // to the smaller doc_id. The skew-immune two-phase window must
    // produce the exact single-window answer the oracle computes.
    "q_domain_cap" -> ((s, dir) =>
      graft.ops.Sampling.bestKPerStratum(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", k = 10, "doc_id")
        .orderBy("doc_id")),
    // C4 badword page rule: the corpus is clean, so blocked tokens are
    // appended deterministically (same synthesis in the oracle) —
    // exercises hit counting, case folding, and the keep decision
    "q_blocklist" -> ((s, dir) => {
      val words = Seq("forbiddenxyz", "alsobadword")
      val txt = when(col("doc_id") % 7 === 0, concat(col("text"), lit(" forbiddenxyz")))
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" Alsobadword extra alsobadword")))
        .otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.QualityFilters.blocklistHits(txt, words).cast("long").as("hits"),
        graft.ops.QualityFilters.blocklistKeep(txt, words).as("keep"))
        .orderBy("doc_id")
    }),
    // Deterministic train/valid/test assignment by hash interval
    "q_sample_split" -> ((s, dir) =>
      graft.ops.Sampling.assignSplits(t(s, dir, "documents"), "doc_id",
        Seq("test" -> 0.1, "valid" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),
    // Corpus mixing: per-language epoch weights with deterministic
    // fractional oversampling (2.5 epochs of en, 0.4 of de, 1.0 rest)
    "q_corpus_mix" -> ((s, dir) =>
      graft.ops.Sampling.mixByWeight(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 2.5, "de" -> 0.4), default = 1.0)
        .select(col("doc_id"), col("lang"), col("rep_idx").cast("long").as("rep_idx"))
        .orderBy("doc_id", "rep_idx")),
    // Benchmark decontamination: docs with doc_id % 17 == 0 stand in
    // for the eval set; surviving training docs share no 4-gram with it
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.decontaminate(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 4)
        .select("doc_id").orderBy("doc_id")
    }),
    // The Bloom twin for eval sets past broadcast size: training
    // shingles are probed scan-side against a bloom of the eval
    // shingle set, so only suspects reach the exact semi-join — the
    // train-corpus-sized exchange of the broadcastEval=false fallback
    // disappears. Bit-identical result (no false negatives); the
    // oracle replays the plain decontamination semantics.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 4)
        .select("doc_id").orderBy("doc_id")
    }),
    // Corpus-level boilerplate removal (RefinedWeb-style): lines whose
    // normalized form appears in > maxDocFreq distinct docs (the
    // synthesized nav/footer) vanish from every page; unique content
    // and blank lines survive in order.
    // Within-document duplicate-line removal: planted repeats (one
    // shared line, one per-doc line, doubled blanks) — repeated
    // non-blank lines survive only at their first position, blanks
    // keep the structure
    "q_line_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val synth = concat(
        lit("repeat me\nunique "), id.cast("string"),
        lit(" x\nrepeat me\n\n\nunique "), id.cast("string"),
        lit(" x\ntail "), (id % 5).cast("string"))
      graft.ops.Dedup.dedupLinesInDoc(
          t(s, dir, "documents").withColumn("text", synth), "text")
        .select("doc_id", "text").orderBy("doc_id")
    }),
    "q_boilerplate" -> ((s, dir) => {
      val id = col("doc_id")
      val synth = concat(
        lit("Nav Home About Contact\n"),
        lit("unique line "), id.cast("string"), lit(" content"),
        when(id % 3 === 0, lit("\nFooter terms and privacy")).otherwise(lit("")))
      graft.ops.Dedup.stripBoilerplate(
          t(s, dir, "documents").withColumn("text", synth),
          "doc_id", "text", maxDocFreq = 50)
        .select("doc_id", "text").orderBy("doc_id")
    }),
    // Graded contamination: per training doc, shared-ngram count and
    // fraction against the eval shingle set (same split and n as
    // q_decontaminate, whose boolean this report generalizes)
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.contaminationScores(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", n = 4)
        .select(col("doc_id"), col("contaminated_ngrams"), col("total_ngrams"),
          round(col("contamination_frac"), 6).as("contamination_frac"))
        .orderBy("doc_id")
    }),
    // Temperature-scaled mixing weights (size^alpha renormalized to a
    // max-weight cap): the data-dependent weight table itself is the
    // contract — the repetition mechanics are q_corpus_mix's oracle.
    // alpha = 0.5 so the only transcendental is pow(p, -0.5); weights
    // rounded to 9 decimals put cross-engine pow ulp noise to bed.
    "q_mix_temperature" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Sampling.temperatureWeights(
          t(s, dir, "documents"), "lang", alpha = 0.5, maxWeight = 4.0)
        .toSeq.sortBy(_._1).toDF("lang", "weight")
        .select(col("lang"), round(col("weight"), 9).as("weight"))
        .orderBy("lang")
    }),
    // Token-budget corpus mixing: per-language token-volume targets
    // (100k-token budget, 50/30/20 en/de/fr) turned into repetition
    // weights from the corpus's own token totals, applied with the
    // shared deterministic fractional oversampling. The oracle refits
    // the weights from scratch (totals → budget division → floor/
    // threshold), so the whole data-dependent path replays.
    "q_mix_token_budget" -> ((s, dir) =>
      graft.ops.Sampling.mixByTokenBudget(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2),
          tokenBudget = 100000L)
        .select(col("doc_id"), col("lang"), col("rep_idx").cast("long").as("rep_idx"))
        .orderBy("doc_id", "rep_idx")),
    // Deterministic corpus shuffle with contiguous global position:
    // the two-job zipWithIndex shape (range sort + per-partition
    // offsets) must reproduce exactly ROW_NUMBER over the hash order.
    "q_shuffle_index" -> ((s, dir) =>
      graft.ops.Sampling.globalOrderIndex(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("global_idx"))
        .orderBy("doc_id")),
    // Deterministic shard assignment (the export command's core):
    // shard = global_idx div ceil(total/7) on top of the shuffle order
    // — integer div and the ceil both replay exactly in DuckDB.
    "q_shard_assign" -> ((s, dir) =>
      graft.ops.Sampling.shardByOrder(
          t(s, dir, "documents").select("doc_id"), "doc_id", nShards = 7)
        .select(col("doc_id"), col("global_idx"), col("shard"))
        .orderBy("doc_id")),
    // Per-source corpus profile + ROLLUP total: doc/distinct-text/
    // token/char counts, min/max/mean doc tokens, in ONE aggregation.
    "q_corpus_profile" -> ((s, dir) =>
      graft.ops.TextAnalysis.corpusProfile(t(s, dir, "documents"))
        .select(col("source"), col("is_total"), col("n_docs"),
          col("n_unique_texts"), col("n_tokens"), col("n_chars"),
          col("min_doc_tokens"), col("max_doc_tokens"),
          round(col("avg_doc_tokens"), 6).as("avg_doc_tokens"))
        .orderBy("is_total", "source")),
    // Top-k frequent n-grams: the boilerplate/template discovery
    // report — one explode, map-side-combined occurrence counts, exact
    // distinct-doc counts, TakeOrdered top-k; fully replayed in DuckDB.
    "q_top_ngrams" -> ((s, dir) =>
      graft.ops.TextAnalysis.topNgrams(
        t(s, dir, "documents"), n = 3, k = 25, idCol = Some("doc_id"))
        .orderBy(col("n_occurrences").desc, col("ngram").asc)),
    // Per-document TF-IDF keywords: (doc, term) counts shuffle once,
    // document frequency aggregates the same grain, smoothed-idf score
    // rounded to 6 decimals BEFORE ranking so the order replays
    // bit-exactly in DuckDB (libm ln may differ in the last ulp).
    "q_tfidf" -> ((s, dir) =>
      graft.ops.TextAnalysis.tfIdfTerms(
        t(s, dir, "documents"), idCol = "doc_id", k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("doc_id"), col("rank"))),
    // Content-level drift: distinct 3-gram sets of the two snapshot
    // slices, full-outer joined — novelty (new side's unseen grams)
    // and loss (old side's vanished grams), the signal count-based
    // profileDiff can't see. Same %5/%7 slices as q_profile_diff.
    "q_ngram_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.ngramNovelty(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 7 =!= 0), n = 3)
    }),
    // The novelty check's 100 TB path: per-side KMV sketches (k longs
    // per scan task ride the exchange — nothing gram-scale moves) +
    // sketch set algebra for the novel/lost estimates. k = 256 is far
    // below this SF's distinct-gram count, so the oracle exercises the
    // ESTIMATOR (sketch = `SELECT DISTINCT v ORDER BY v LIMIT k`,
    // estimate = (k-1)*2^52/v_k — deterministic given md5, replayed
    // bit-for-bit).
    "q_ngram_novelty_approx" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.ngramNoveltyApprox(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 7 =!= 0), n = 3, k = 256)
    }),
    // The profile's 100 TB path: countDistinct(md5) replaced by the
    // KMV estimate (k = 64 < per-source distinct texts at this SF, so
    // the estimator path is what the oracle checks; the other profile
    // columns are covered by q_corpus_profile).
    "q_corpus_profile_approx" -> ((s, dir) =>
      graft.ops.TextAnalysis.corpusProfileApprox(
        t(s, dir, "documents"), k = 64)
        .select(col("source"), col("is_total"), col("n_docs"),
          col("n_unique_texts_approx"))
        .orderBy("is_total", "source")),
    // Distribution-level drift (the third member of the drift family:
    // counts = q_profile_diff, sets = q_ngram_novelty, distribution =
    // this): top-k token movers by smoothed-probability delta between
    // the same snapshot slices. Probabilities rounded to 9dp BEFORE
    // ranking so the order replays bit-exactly.
    "q_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.tokenDrift(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 7 =!= 0), k = 25)
    }),
    // Snapshot drift report: old = docs with doc_id % 5 != 0, new =
    // docs with doc_id % 7 != 0 — per-source deltas, growth ratio and
    // status verdict, both profile rollups + the null-safe full-outer
    // join replayed in DuckDB.
    "q_profile_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.profileDiff(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 7 =!= 0))
        .withColumn("token_ratio", round(col("token_ratio"), 6))
        .orderBy("is_total", "source")
    }),
    // HTML-to-text: each doc wrapped in a synthesized page (style +
    // script blocks with angle brackets inside, entity soup incl. a
    // double-escaped &amp;amp;) and stripped back; the regex chain is
    // shared RE2/Java syntax so the oracle replays it verbatim.
    "q_html_strip" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><style>p { color: red; }</style></head><body><p>"),
        col("text"),
        lit("</p><script type=\"text/js\">var x = 1 < 2;</script>" +
          "<div>tail &amp;amp; &lt;b&gt; &nbsp;x</div></body></html>"))
      t(s, dir, "documents").withColumn("text", html)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.stripHtml(col("text")).as("text"))
        .orderBy("doc_id")
    }),
    // Corpus-trained byte-level BPE, proven by its invariant: the
    // byte alphabet makes decode(encode(text)) the identity for EVERY
    // document, so the oracle is the corpus itself. The query trains
    // a real vocab on the corpus (one frequency aggregate + driver
    // merge loop), encodes every doc through the codegen'd kernel,
    // decodes back, and must reproduce the input byte-for-byte —
    // a full-pipeline check of pre-tokenize/merge/encode/decode.
    // The merge rules themselves (no SQL replay of the iterative
    // trainer) are pinned by TokenizerSpec's hand-computed Sennrich
    // example.
    "q_bpe_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.ops.Tokenizer.train(docs, vocabSize = 1024,
        maxWordTypes = 50000)
      docs.select(col("doc_id"),
          graft.ops.Tokenizer.decode(
            graft.ops.Tokenizer.encode(col("text"), vocab), vocab).as("text"))
        .orderBy("doc_id")
    }),
    // BPE trainer-sequence export, proven by pack reassembly: docs are
    // tokenized, packed under the REPLAYABLE whitespace budget (the
    // q_pack_sequences assignment), and chunked at the id level into
    // 512-id sequences; decoding each pack's sequences concatenated in
    // order must reproduce the pack's documents concatenated with no
    // separator — any slicing, ordering, or boundary bug in
    // chunkPackedIds (or the encode/decode kernels) breaks the md5.
    "q_bpe_chunk_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val vocab = graft.ops.Tokenizer.train(docs, vocabSize = 1024,
        maxWordTypes = 50000)
      val assigned = graft.ops.Sampling.packSequences(
        graft.ops.Tokenizer.tokenize(docs, vocab).drop("n_tokens"),
        "doc_id", "text", tokenBudget = 2000, groups = 8, seed = 7)
      graft.ops.Sampling.chunkPackedIds(assigned, "doc_id", "token_ids",
          seqLen = 512)
        .groupBy("pack_group", "pack_id")
        .agg(array_sort(collect_list(struct(col("seq_idx"),
          col("token_ids").as("__ids")))).as("__parts"))
        .select(col("pack_group"), col("pack_id"),
          md5(graft.ops.Tokenizer.decode(
            flatten(transform(col("__parts"), x => x.getField("__ids"))),
            vocab)).as("text_md5"))
        .orderBy("pack_group", "pack_id")
    }),
    // Document-separator (EOS) insertion, proven the same way: every
    // document's ids get the reserved <|endoftext|> special appended
    // (id outside the merge range, never produced by encode), the
    // budget counts it (whitespace+1 here so DuckDB can replay the
    // assignment), and decoding each pack's sequences in order must
    // reproduce the documents each terminated by the literal
    // separator text — pinning special-token decode, the +1 budget,
    // and that EOS ids ride slices like any other id.
    "q_bpe_chunk_eos" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val vocab = graft.ops.Tokenizer.train(docs, vocabSize = 1024,
        maxWordTypes = 50000, specialTokens = Seq("<|endoftext|>"))
      val eosId = graft.ops.Tokenizer.specialId(vocab, "<|endoftext|>")
      val toks = graft.ops.Tokenizer.tokenize(docs, vocab).drop("n_tokens")
        .withColumn("token_ids", concat(col("token_ids"), array(lit(eosId))))
      val assigned = graft.ops.Sampling.packSequences(
        toks, "doc_id", "text", tokenBudget = 2000, groups = 8, seed = 7,
        tokenCount = Some(
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long") + 1))
      graft.ops.Sampling.chunkPackedIds(assigned, "doc_id", "token_ids",
          seqLen = 512)
        .groupBy("pack_group", "pack_id")
        .agg(array_sort(collect_list(struct(col("seq_idx"),
          col("token_ids").as("__ids")))).as("__parts"))
        .select(col("pack_group"), col("pack_id"),
          md5(graft.ops.Tokenizer.decode(
            flatten(transform(col("__parts"), x => x.getField("__ids"))),
            vocab)).as("text_md5"))
        .orderBy("pack_group", "pack_id")
    }),
    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bucket distributions fit on target (source = src0) vs raw (all
    // docs), per-doc log importance weight scored scan-side against
    // the driver-built λ literal. Portable md5 bucketing so the oracle
    // replays featurize → fit → score end-to-end.
    "q_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dsir.importanceWeights(
          docs, docs.filter(col("source") === "src0"),
          buckets = 8192, portableHash = true)
        .select(col("doc_id"), round(col("dsir_logw"), 6).as("dsir_logw"))
        .orderBy("doc_id")
    }),
    // DSIR Gumbel top-k resample: k=50 without replacement ∝ w, noise
    // hash-seeded (salt "dsir", seed 42) so the draw replays in
    // DuckDB; keys rounded to 6dp with doc-id tie-break.
    "q_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.ops.Dsir.importanceWeights(
        docs, docs.filter(col("source") === "src0"),
        buckets = 8192, portableHash = true)
      graft.ops.Dsir.resampleTopK(scored, k = 50)
        .select(col("doc_id"), col("dsir_key"))
        .orderBy(desc("dsir_key"), col("doc_id"))
    }),
    // fastText-style classifier quality scoring: logistic regression
    // over hashed-n-gram bucket counts, trained src0-vs-(src1,src2),
    // scored scan-side through the bucket kernel. LBFGS training has
    // no DuckDB replay, so this is the deliberate rows-only entry —
    // behavior is pinned by OpsSpec (planted separation, save/load,
    // both hashers) and the ExtensionsSpec curation stage test.
    "q_quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.ops.QualityClassifier.train(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source").isin("src1", "src2")),
        buckets = 2048)
      graft.ops.QualityClassifier.score(docs, m)
        .select(col("doc_id"), round(col("quality_prob"), 6).as("quality_prob"))
        .orderBy("doc_id")
    }),
    // The classifier's SCORING half under FIXED literal weights (the
    // lshPlaneLiterals discipline): σ(Σ w[bucket(g)] + b) through the
    // portable md5 bucket kernel — exactly the q_dsir_weights DuckDB
    // replay path plus a sigmoid. This gives the scan-side scorer a
    // real hash-match oracle row; the LBFGS fit above stays rows-only.
    "q_quality_classifier_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.ops.QualityClassifier.Model(
        classifierOracleWeights, -0.25, portableHash = true)
      graft.ops.QualityClassifier.score(docs, m)
        .select(col("doc_id"), round(col("quality_prob"), 6).as("quality_prob"))
        .orderBy("doc_id")
    })
  )

  /** Fixed weights for the classifier scoring oracle: 64 seeded
    * gaussians scaled so typical document margins land mid-sigmoid
    * (a saturated sigmoid would round every prob to 0/1 and weaken the
    * hash check). `Double.toString` round-trips, so the DuckDB literal
    * applies the bit-identical weights. */
  private lazy val classifierOracleWeights: Array[Double] = {
    val rnd = new scala.util.Random(7L)
    Array.fill(64)(rnd.nextGaussian() / 8)
  }

  /** The exact hyperplane constants `Similarity.hyperplaneSignature`
    * draws for (dim=64, planes=2, seed=42), rendered as DuckDB DOUBLE[]
    * literals. `Double.toString` round-trips, so DuckDB parses back the
    * bit-identical plane — the LSH bucketing replays exactly. */
  private lazy val lshPlaneLiterals: Seq[String] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(2)(IndexedSeq.fill(64)(rnd.nextGaussian()))
      .map(_.mkString("[", ",", "]"))
  }

  /** The exact gaussian directions `Similarity.randomProject` draws
    * for (dim=64, outDim=4, seed=7), rendered as DuckDB DOUBLE[]
    * literals — same Double.toString round-trip contract as
    * [[lshPlaneLiterals]]. */
  private lazy val projPlaneLiterals: Seq[String] = {
    val rnd = new scala.util.Random(7L)
    Seq.fill(4)(IndexedSeq.fill(64)(rnd.nextGaussian()))
      .map(_.mkString("[", ",", "]"))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_pit_strict" -> pitOracle("<", 0, 0),
    "q_pit_embargo" -> pitOracle("<", 3, 0),
    "q_pit_inclusive" -> pitOracle("<=", 0, 0),
    "q_pit_staleness" -> pitOracle("<", 0, 7),
    "q_pit_union" -> pitOracle("<", 0, 0),
    "q_audit_temporal" ->
      """WITH d AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS lt,
        |         CAST(ts AS TIMESTAMP)
        |           + to_minutes(CAST(event_id % 5 AS BIGINT) - 2) AS ft
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |       CAST(sum(CASE WHEN ft IS NOT NULL AND ft >= lt THEN 1 ELSE 0 END) AS BIGINT) AS f__leaky_rows,
        |       CAST(max(CASE WHEN ft IS NOT NULL AND ft >= lt
        |                THEN epoch_us(ft) - epoch_us(lt) END) AS BIGINT) AS f__max_leak_us,
        |       CAST(median(CASE WHEN ft IS NOT NULL AND ft >= lt
        |                THEN epoch_us(ft) - epoch_us(lt) END) AS DOUBLE) AS f__median_leak_us,
        |       CAST(sum(CASE WHEN ft IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f__null_rows
        |FROM d""".stripMargin,
    "q_diff_stats" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderdate, o_totalprice FROM orders),
        |n AS (
        |  SELECT o_orderkey, o_orderdate,
        |         CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |              WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |j AS (
        |  SELECT o.o_totalprice AS ov, n.o_totalprice AS nv
        |  FROM o JOIN n USING (o_orderkey, o_orderdate))
        |SELECT CAST(count(*) AS BIGINT) AS common_rows,
        |       CAST(sum(CASE WHEN ov IS NOT NULL AND nv IS NOT NULL
        |                 AND abs(ov - nv) > 1e-10 + 1e-7 * abs(nv)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice__changed,
        |       CAST(sum(CASE WHEN (ov IS NULL) <> (nv IS NULL) THEN 1 ELSE 0 END) AS BIGINT)
        |         AS o_totalprice__null_transitions,
        |       CAST(avg(CASE WHEN ov IS DISTINCT FROM nv AND ov IS NOT NULL
        |                 AND nv IS NOT NULL THEN nv - ov END) AS DOUBLE)
        |         AS o_totalprice__mean_delta,
        |       CAST(max(abs(CASE WHEN ov IS DISTINCT FROM nv AND ov IS NOT NULL
        |                 AND nv IS NOT NULL THEN nv - ov END)) AS DOUBLE)
        |         AS o_totalprice__max_abs_delta
        |FROM j""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       sum(l_extendedprice) AS sum_price,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_window_rolling" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
        |    RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS rolling_cents_1h
        |FROM events ORDER BY event_id""".stripMargin,
    "q_pit_keymap" -> pitOracle("<", 0, 0),
    "q_pit_composite" ->
      """WITH lbl AS (
        |  SELECT o_orderkey AS label_orderkey, o_custkey, o_orderstatus,
        |         o_orderdate AS label_time
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |cand AS (
        |  SELECT l.label_orderkey, l.o_custkey, l.o_orderstatus, l.label_time,
        |         f.o_orderdate AS feature_time, f.o_totalprice AS prior_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY l.label_orderkey
        |                            ORDER BY f.o_orderdate DESC, f.o_orderkey DESC) AS rn
        |  FROM lbl l LEFT JOIN orders f
        |    ON f.o_custkey = l.o_custkey AND f.o_orderstatus = l.o_orderstatus
        |   AND f.o_orderdate < l.label_time
        |   AND f.o_orderdate >= l.label_time - INTERVAL '3650' DAY)
        |SELECT label_orderkey, o_custkey, o_orderstatus, label_time,
        |       feature_time, prior_totalprice
        |FROM cand WHERE rn = 1 ORDER BY label_orderkey""".stripMargin,
    "q_build_e2e" ->
      """WITH lbl AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS label_time,
        |         value AS label_value
        |  FROM events WHERE event_type = 'purchase'),
        |f1 AS (
        |  SELECT l.event_id, f.value,
        |         ROW_NUMBER() OVER (PARTITION BY l.event_id
        |                            ORDER BY f.ts DESC, f.event_id DESC) AS rn
        |  FROM lbl l LEFT JOIN events f
        |    ON f.user_id = l.user_id
        |   AND CAST(f.ts AS TIMESTAMP) < l.label_time
        |   AND CAST(f.ts AS TIMESTAMP) >= l.label_time - INTERVAL '365' DAY),
        |f2 AS (
        |  SELECT l.event_id, f.event_type,
        |         ROW_NUMBER() OVER (PARTITION BY l.event_id
        |                            ORDER BY f.ts DESC, f.event_id DESC) AS rn
        |  FROM lbl l LEFT JOIN events f
        |    ON f.user_id = l.user_id
        |   AND CAST(f.ts AS TIMESTAMP) < l.label_time - INTERVAL '1' DAY
        |   AND CAST(f.ts AS TIMESTAMP) >= l.label_time - INTERVAL '365' DAY)
        |SELECT l.user_id, l.label_time, l.label_value,
        |       f1.value AS f_val__value, f2.event_type AS f_type__event_type
        |FROM lbl l
        |LEFT JOIN (SELECT event_id, value FROM f1 WHERE rn = 1) f1 USING (event_id)
        |LEFT JOIN (SELECT event_id, event_type FROM f2 WHERE rn = 1) f2 USING (event_id)
        |ORDER BY user_id, label_time""".stripMargin,

    // NFC composition differential: DuckDB's nfc_normalize and
    // java.text.Normalizer must agree byte-for-byte on the composed
    // output (both implement UAX #15)
    "q_text_normalize" ->
      """SELECT doc_id,
        |       nfc_normalize(text || ' cafe' || chr(769)) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents)
        |SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |       min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM d GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "q_dedup_incremental" ->
      """WITH store AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 3 <> 0),
        |winners AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY 1)
        |SELECT w.doc_id FROM winners w
        |WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = w.fp)
        |ORDER BY doc_id""".stripMargin,

    // the bloom pre-filter is semantically transparent (no false
    // negatives; positives resolve through the exact semi-join), so
    // the oracle IS the plain incremental-dedup replay
    "q_dedup_incremental_bloom" ->
      """WITH store AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 3 <> 0),
        |winners AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY 1)
        |SELECT w.doc_id FROM winners w
        |WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = w.fp)
        |ORDER BY doc_id""".stripMargin,

    // Cross-corpus minhash replay: same signature/band CTEs as
    // q_dedup_minhash_est, candidates joined batch-vs-store instead of
    // a < b within one corpus, then max estimate per batch doc.
    "q_neardup_incremental" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |  FROM docs WHERE len(w) >= 3),
        |seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
        |sig AS (
        |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS m
        |  FROM sh CROSS JOIN seeds GROUP BY 1, 2),
        |band AS (
        |  SELECT doc_id, seed // 2 AS band,
        |         md5(string_agg(m, '|' ORDER BY seed)) AS bucket
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band = y.band AND x.bucket = y.bucket
        |  WHERE x.doc_id % 3 <> 0 AND y.doc_id % 3 = 0),
        |est AS (
        |  SELECT c.a, c.b,
        |         CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16
        |           AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.a
        |  JOIN sig sb ON sb.doc_id = c.b AND sb.seed = sa.seed
        |  GROUP BY 1, 2)
        |SELECT a AS doc_id, max(est_jaccard) AS best_est,
        |       max(est_jaccard) >= 0.5 AS dropped
        |FROM est GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  length(text) AS n_chars_m,
        |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS mean_word_len,
        |  CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |    len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS h_en,
        |    len(list_filter(w, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS h_de,
        |    len(list_filter(w, t -> t IN ('le','la','les','et','est','une','que','pour','dans','pas'))) AS h_fr,
        |    len(list_filter(w, t -> t IN ('el','la','los','y','es','que','una','por','con','para'))) AS h_es
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |       WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
        |       WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
        |       WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
        |       ELSE 'de' END AS lang_id
        |FROM hits ORDER BY doc_id""".stripMargin,

    // Full rank-profile replay: same planted docs, same profile data
    // (rendered from LangId.Profiles — position in the gram string IS
    // the rank), same out-of-place math: doc grams are ALL 1/2/3-grams
    // of '_'-padded letter-run words, ranked by (count desc, gram
    // binary asc), top DocTopK; distance to a language = sum of
    // |docRank - profileRank| with penalty ProfileSize for grams
    // absent from the profile (BOTH rendered from the LangId object,
    // like the profiles, so a tuning edit cannot desync the oracle);
    // smallest distance wins, ties to
    // the smaller code. Letter-less docs fall out of every CTE and
    // replay as ('und', 0) through the LEFT JOIN.
    "q_lang_id_profiles" ->
      s"""WITH docs(doc_id, text) AS (VALUES $langIdDocsSql),
        |w0 AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(regexp_replace(text, '[^\\p{L}]+', ' ', 'g')), ' '),
        |    x -> len(x) > 0)) AS word
        |  FROM docs),
        |pw AS (SELECT doc_id, '_' || word || '_' AS w FROM w0),
        |g AS (
        |  SELECT doc_id, unnest(
        |    list_transform(generate_series(1, len(w)), i -> substr(w, i, 1)) ||
        |    list_transform(generate_series(1, len(w) - 1), i -> substr(w, i, 2)) ||
        |    list_transform(generate_series(1, len(w) - 2), i -> substr(w, i, 3))) AS gram
        |  FROM pw),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (SELECT doc_id, gram,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk
        |      FROM c),
        |d AS (SELECT doc_id, gram, rk FROM r
        |      WHERE rk <= ${graft.functions.LangId.DocTopK}),
        |p0(lang, grams) AS (VALUES $langIdProfilesSql),
        |p AS (SELECT lang,
        |        unnest(str_split(grams, ' ')) AS gram,
        |        unnest(generate_series(1, len(str_split(grams, ' ')))) AS prank
        |      FROM p0),
        |dist AS (
        |  SELECT d.doc_id, l.lang,
        |    sum(CASE WHEN p.prank IS NULL
        |             THEN ${graft.functions.LangId.ProfileSize}
        |             ELSE abs(d.rk - p.prank) END) AS dist
        |  FROM d CROSS JOIN (SELECT lang FROM p0) l
        |  LEFT JOIN p ON p.lang = l.lang AND p.gram = d.gram
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, lang, dist,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
        |         FROM dist)
        |SELECT docs.doc_id,
        |  COALESCE(b.lang, 'und') AS lang,
        |  CAST(COALESCE(b.dist, 0) AS BIGINT) AS dist
        |FROM docs LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY docs.doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |    length(trim(text)) AS lt
        |  FROM documents)
        |SELECT doc_id,
        |  round(CASE WHEN len(lines) = 0 THEN 0.0
        |    ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END, 6)
        |    AS dup_line_ratio,
        |  round(CASE WHEN lt = 0 THEN 0.0
        |    ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
        |    AS dup_word_ratio
        |FROM base ORDER BY doc_id""".stripMargin,

    "q_ngram_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, t, len(t) AS ntok,
        |    length(array_to_string(t, ' ')) AS nchar
        |  FROM base),
        |u2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, ntok),
        |    i -> array_to_string(t[i:i+1], ' '))) AS g
        |  FROM b),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM u2 GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, c * length(g) AS prod,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY c DESC, length(g) DESC) AS rn
        |       FROM c2),
        |u5 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, ntok - 3),
        |    i -> array_to_string(t[i:i+4], ' '))) AS g
        |  FROM b),
        |c5 AS (SELECT doc_id, g, count(*) AS c FROM u5 GROUP BY doc_id, g),
        |d5 AS (SELECT doc_id, sum(c * length(g)) AS dupchars
        |       FROM c5 WHERE c > 1 GROUP BY doc_id)
        |SELECT b.doc_id,
        |  round(CASE WHEN b.ntok < 2 OR b.nchar = 0 THEN 0.0
        |    ELSE least(1.0, CAST(tp.prod AS DOUBLE) / b.nchar) END, 6) AS top2_frac,
        |  round(CASE WHEN b.ntok < 5 OR b.nchar = 0 THEN 0.0
        |    ELSE least(1.0, CAST(coalesce(dp.dupchars, 0) AS DOUBLE) / b.nchar) END, 6)
        |    AS dup5_frac
        |FROM b
        |LEFT JOIN (SELECT doc_id, prod FROM t2 WHERE rn = 1) tp USING (doc_id)
        |LEFT JOIN d5 dp USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS pii_hits,
        |  regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<PII>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<PII>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Sequential scrub replay: emails → IPv4 → Luhn-valid card
    // (candidate extraction + pure-integer Luhn sum) → SSN → phone;
    // counts per family on the ORIGINAL text, matching the Spark
    // convention. Patterns are byte-identical to the Scala constants
    // (Java/RE2-common constructs only).
    "q_pii_scrub_extended" ->
      s"""WITH docs(doc_id, text) AS (VALUES $piiDocsSql),
        |cand AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text,
        |    '\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}\\b')) AS cand
        |  FROM docs),
        |okc AS (
        |  SELECT doc_id, cand FROM (
        |    SELECT doc_id, cand,
        |      regexp_replace(cand, '[ -]', '', 'g') AS ds FROM cand)
        |  WHERE list_sum(list_transform(generate_series(1, 16), i ->
        |    CASE WHEN i % 2 = 1
        |         THEN CASE WHEN 2 * CAST(substr(ds, i, 1) AS INT) > 9
        |                   THEN 2 * CAST(substr(ds, i, 1) AS INT) - 9
        |                   ELSE 2 * CAST(substr(ds, i, 1) AS INT) END
        |         ELSE CAST(substr(ds, i, 1) AS INT) END)) % 10 = 0),
        |nc AS (SELECT doc_id, count(*) AS n_cards, min(cand) AS vcand
        |       FROM okc GROUP BY 1),
        |s1 AS (
        |  SELECT d.doc_id, d.text, nc.vcand, COALESCE(nc.n_cards, 0) AS n_cards,
        |    regexp_replace(regexp_replace(d.text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<PII>', 'g'),
        |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<PII>', 'g') AS t
        |  FROM docs d LEFT JOIN nc ON d.doc_id = nc.doc_id),
        |s2 AS (
        |  SELECT doc_id, text, n_cards,
        |    CASE WHEN vcand IS NULL THEN t
        |         ELSE replace(t, vcand, '<PII>') END AS t
        |  FROM s1)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
        |    + n_cards
        |    + len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))
        |    + len(regexp_extract_all(text,
        |        '(\\+\\d{1,3}[ .-]?)?(\\(\\d{3}\\)[ .-]?|\\b\\d{3}[ .-])\\d{3}[ .-]\\d{4}\\b'))
        |    AS pii_hits,
        |  regexp_replace(regexp_replace(t,
        |      '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<PII>', 'g'),
        |    '(\\+\\d{1,3}[ .-]?)?(\\(\\d{3}\\)[ .-]?|\\b\\d{3}[ .-])\\d{3}[ .-]\\d{4}\\b',
        |    '<PII>', 'g') AS scrubbed
        |FROM s2 ORDER BY doc_id""".stripMargin,

    // Same derived corrupted inputs, same pair table (rendered from
    // Mojibake.Pairs into a nested replace() chain, two passes), so
    // the oracle replays the repair byte-for-byte.
    "q_fix_mojibake" -> {
      val (stages, finalCol) = mojibakeFixStagesSql(2)
      s"""WITH docs(doc_id, text) AS (VALUES $mojibakeDocsSql),
        |$stages
        |SELECT doc_id,
        |  CAST(length(text) - length($finalCol) AS INT) AS removed_chars,
        |  $finalCol AS fixed
        |FROM ${finalCol.split('.').head} ORDER BY doc_id""".stripMargin
    },

    // Flesch / FK replay: same token filter, same sentence floor,
    // same vowel-group syllable heuristic, same double arithmetic
    // order, 6dp round.
    "q_readability" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    COALESCE(text, '') || CASE WHEN doc_id % 3 = 0
        |                 THEN '. One more sentence here! Done?'
        |                 ELSE '' END AS text
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0) AS words
        |  FROM base),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(CASE WHEN len(words) = 0 THEN 0
        |         ELSE greatest(1, len(list_filter(
        |           regexp_split_to_array(text, '[.!?]+'),
        |           s -> len(trim(s)) > 0))) END AS BIGINT) AS n_sentences,
        |    CAST(COALESCE(list_sum(list_transform(words, w ->
        |      greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))), 0)
        |      AS BIGINT) AS n_syll
        |  FROM w)
        |SELECT doc_id, n_sentences, n_words,
        |  CASE WHEN n_words = 0 THEN NULL ELSE n_syll END AS n_syllables,
        |  CASE WHEN n_words = 0 THEN NULL ELSE
        |    round(CAST(206.835 AS DOUBLE)
        |      - CAST(1.015 AS DOUBLE)
        |        * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      - CAST(84.6 AS DOUBLE)
        |        * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
        |  END AS flesch,
        |  CASE WHEN n_words = 0 THEN NULL ELSE
        |    round(CAST(0.39 AS DOUBLE)
        |        * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      + CAST(11.8 AS DOUBLE)
        |        * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
        |      - CAST(15.59 AS DOUBLE), 6)
        |  END AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin,

    // Same planted docs, same literal-range char classes (rendered
    // from ScriptRanges — one pattern string, two regex engines),
    // same argmax with priority tie-break and the und zero-floor.
    "q_detect_script" -> {
      val ranges = graft.ops.TextAnalysis.ScriptRanges.zipWithIndex
        .map { case ((name, cls), i) => s"('$name', $i, ${sqlQuote(cls)})" }
        .mkString(", ")
      s"""WITH docs(doc_id, text) AS (VALUES $langIdDocsSql),
        |sc(script, prio, cls) AS (VALUES $ranges),
        |counts AS (
        |  SELECT d.doc_id, s.script, s.prio,
        |    len(regexp_extract_all(d.text, s.cls)) AS n
        |  FROM docs d CROSS JOIN sc s),
        |best AS (
        |  SELECT doc_id, script, n,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY n DESC, prio) AS rn
        |  FROM counts)
        |SELECT doc_id,
        |  CASE WHEN n = 0 THEN 'und' ELSE script END AS script
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },

    // Same token filter, same (cnt DESC, token) tie-break for top-k
    // membership and rank, same regr_* math at 6dp.
    "q_zipf" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0)) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        |               CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS total_tokens
        |        FROM c),
        |tk AS (SELECT cnt,
        |         row_number() OVER (ORDER BY cnt DESC, token) AS rank
        |       FROM c ORDER BY cnt DESC, token LIMIT 100),
        |fit AS (SELECT
        |  round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
        |  round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
        |  round(regr_r2(ln(cnt), ln(rank)), 6) AS zipf_r2
        |FROM tk)
        |SELECT vocab_size, total_tokens, zipf_slope, zipf_intercept,
        |  zipf_r2
        |FROM tot, fit""".stripMargin,

    "q_quality_gopher" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS w,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS wl,
        |    -- splitting an empty string yields [''] (one empty token);
        |    -- Spark's tokenCount returns 0 there — guard to match
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nw,
        |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id, nw AS n_words,
        |    CASE WHEN nw = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / nw END AS mwl,
        |    CASE WHEN nw = 0 THEN 0.0
        |      ELSE CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / nw END AS symr,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lines) END AS bullr,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) / len(lines) END AS ellr,
        |    CASE WHEN nw = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / nw END AS awr,
        |    (CASE WHEN list_contains(wl, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'be') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'that') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'have') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'with') THEN 1 ELSE 0 END) AS swk
        |  FROM base)
        |SELECT doc_id, n_words,
        |  round(mwl, 6) AS mean_word_len,
        |  round(symr, 6) AS symbol_ratio,
        |  round(bullr, 6) AS bullet_ratio,
        |  round(ellr, 6) AS ellipsis_ratio,
        |  round(awr, 6) AS alpha_word_ratio,
        |  swk AS stopword_kinds,
        |  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |   AND symr < 0.1 AND bullr < 0.9 AND ellr < 0.3
        |   AND awr >= 0.8 AND swk >= 1) AS gopher_keep
        |FROM sig ORDER BY doc_id""".stripMargin,

    "q_c4_filter" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    concat_ws(chr(10),
        |      'The quick brown fox jumps over the lazy dog'
        |        || CASE WHEN doc_id % 4 = 0 THEN '.' ELSE '' END,
        |      substr(text, 1, 40) || '.',
        |      'Short line',
        |      CASE WHEN doc_id % 17 = 0 THEN 'lorem ipsum dolor sit amet here.' ELSE '' END,
        |      CASE WHEN doc_id % 13 = 0 THEN 'code block { x = 1; } end.' ELSE '' END,
        |      CASE WHEN doc_id % 5 = 0 THEN 'Is this a question? Yes it is!' ELSE '' END) AS text
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
        |  FROM synth),
        |kept AS (
        |  SELECT doc_id, text, lines,
        |    list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 5) AS keptl
        |  FROM base)
        |SELECT doc_id,
        |  len(lines) AS n_lines,
        |  len(keptl) AS n_kept_lines,
        |  len(regexp_extract_all(array_to_string(keptl, chr(10)), '[.!?]')) AS n_sentences,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem,
        |  contains(text, '{') AS has_brace,
        |  (len(regexp_extract_all(array_to_string(keptl, chr(10)), '[.!?]')) >= 3
        |   AND NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(text, '{')) AS c4_keep
        |FROM kept ORDER BY doc_id""".stripMargin,

    "q_hygiene_verdict" ->
      s"""WITH synth AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN '$HygieneTiny'
        |      WHEN doc_id % 11 = 1 THEN $HygieneBaseSql || chr(10) || '$HygieneSymbolLine'
        |      WHEN doc_id % 11 = 2 THEN $HygieneBaseSql || repeat(chr(10) || '$HygieneRepLine', 7)
        |      WHEN doc_id % 11 = 3 THEN '${HygieneQualityText.replace("\n", "' || chr(10) || '")}'
        |      WHEN doc_id % 11 = 4 THEN '${HygieneGermanText.replace("\n", "' || chr(10) || '")}'
        |      ELSE $HygieneBaseSql END AS text
        |  FROM documents),
        |c4k AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)),
        |      l -> length(trim(l)) > 0 AND regexp_matches(trim(l), '[.!?"]$$')
        |        AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5) AS keptl
        |  FROM synth),
        |c4 AS (
        |  -- coalesce: DuckDB's array_to_string([]) is NULL where
        |  -- Spark's concat_ws over no kept lines is ''
        |  SELECT doc_id, text, coalesce(array_to_string(keptl, chr(10)), '') AS clean,
        |    (len(regexp_extract_all(coalesce(array_to_string(keptl, chr(10)), ''), '[.!?]')) >= 3
        |     AND NOT contains(lower(text), 'lorem ipsum')
        |     AND NOT contains(text, '{')) AS c4_ok
        |  FROM c4k),
        |tok AS (
        |  SELECT doc_id, c4_ok, clean,
        |    CASE WHEN length(trim(clean)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(clean), '\\s+')) END AS nw,
        |    regexp_split_to_array(trim(clean), '\\s+') AS w,
        |    regexp_split_to_array(trim(lower(clean)), '\\s+') AS wl,
        |    list_filter(string_split(clean, chr(10)), l -> length(trim(l)) > 0) AS clines
        |  FROM c4),
        |g AS (
        |  SELECT doc_id, c4_ok, clean, nw, w, wl, clines,
        |    CASE WHEN nw = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(trim(clean), '\\s+', '', 'g')) AS DOUBLE) / nw END AS mwl,
        |    CASE WHEN nw = 0 THEN 0.0
        |      ELSE CAST(len(regexp_extract_all(clean, '#|\\.\\.\\.|…')) AS DOUBLE) / nw END AS symr,
        |    CASE WHEN len(clines) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(clines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(clines) END AS bullr,
        |    CASE WHEN len(clines) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(clines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE) / len(clines) END AS ellr,
        |    CASE WHEN nw = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(w, t2 -> regexp_matches(t2, '[A-Za-z]'))) AS DOUBLE) / nw END AS awr,
        |    (CASE WHEN list_contains(wl, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'be') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'that') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'have') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(wl, 'with') THEN 1 ELSE 0 END) AS swk,
        |    CASE WHEN len(clines) = 0 THEN 0.0
        |      ELSE CAST(len(clines) - len(list_distinct(clines)) AS DOUBLE) / len(clines) END AS duplr,
        |    length(array_to_string(wl, ' ')) AS nchar,
        |    len(wl) AS ntokl
        |  FROM tok),
        |u2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, ntokl),
        |    i -> array_to_string(wl[i:i+1], ' '))) AS g2
        |  FROM g),
        |c2 AS (SELECT doc_id, g2, count(*) AS c FROM u2 GROUP BY doc_id, g2),
        |t2 AS (SELECT doc_id, c * length(g2) AS prod,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY c DESC, length(g2) DESC) AS rn
        |       FROM c2),
        |u5 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, ntokl - 3),
        |    i -> array_to_string(wl[i:i+4], ' '))) AS g5
        |  FROM g),
        |c5 AS (SELECT doc_id, g5, count(*) AS c FROM u5 GROUP BY doc_id, g5),
        |d5 AS (SELECT doc_id, sum(c * length(g5)) AS dupchars
        |       FROM c5 WHERE c > 1 GROUP BY doc_id),
        |r AS (
        |  SELECT g.doc_id,
        |    (g.duplr <= 0.30
        |     AND (CASE WHEN g.ntokl < 2 OR g.nchar = 0 THEN 0.0
        |       ELSE least(1.0, CAST(coalesce(tp.prod, 0) AS DOUBLE) / g.nchar) END) <= 0.20
        |     AND (CASE WHEN g.ntokl < 5 OR g.nchar = 0 THEN 0.0
        |       ELSE least(1.0, CAST(coalesce(dp.dupchars, 0) AS DOUBLE) / g.nchar) END) <= 0.15)
        |      AS rep_ok
        |  FROM g
        |  LEFT JOIN (SELECT doc_id, prod FROM t2 WHERE rn = 1) tp USING (doc_id)
        |  LEFT JOIN d5 dp USING (doc_id)),
        |q AS (
        |  SELECT doc_id,
        |    round(least(CAST(nw AS DOUBLE) / 20.0, 1.0) * 0.3
        |      + (1.0 - least((CASE WHEN length(clean) = 0 THEN 0.0
        |          ELSE CAST(length(clean) - length(regexp_replace(clean, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |            / length(clean) END) * 5.0, 1.0)) * 0.3
        |      + least((CASE WHEN nw = 0 THEN 0.0
        |          ELSE CAST(len(list_filter(wl, t2 -> t2 IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
        |            / nw END) * 5.0, 1.0) * 0.2
        |      + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
        |      AS quality,
        |    len(list_filter(wl, t2 -> t2 IN ('the','a','of','and','to','in','is','that','it','for'))) AS h_en,
        |    len(list_filter(wl, t2 -> t2 IN ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS h_de,
        |    len(list_filter(wl, t2 -> t2 IN ('le','la','les','et','est','une','que','pour','dans','pas'))) AS h_fr,
        |    len(list_filter(wl, t2 -> t2 IN ('el','la','los','y','es','que','una','por','con','para'))) AS h_es
        |  FROM g)
        |SELECT g.doc_id,
        |  CASE WHEN NOT g.c4_ok THEN 1
        |    WHEN NOT (g.nw BETWEEN 50 AND 100000 AND g.mwl BETWEEN 3.0 AND 10.0
        |      AND g.symr < 0.1 AND g.bullr < 0.9 AND g.ellr < 0.3
        |      AND g.awr >= 0.8 AND g.swk >= 2) THEN 2
        |    WHEN NOT r.rep_ok THEN 3
        |    WHEN q.quality < 0.55 THEN 4
        |    WHEN (CASE WHEN greatest(q.h_en, q.h_de, q.h_fr, q.h_es) = 0 THEN 'und'
        |          WHEN q.h_fr = greatest(q.h_en, q.h_de, q.h_fr, q.h_es) THEN 'fr'
        |          WHEN q.h_es = greatest(q.h_en, q.h_de, q.h_fr, q.h_es) THEN 'es'
        |          WHEN q.h_en = greatest(q.h_en, q.h_de, q.h_fr, q.h_es) THEN 'en'
        |          ELSE 'de' END) <> 'en' THEN 5
        |    ELSE 0 END AS verdict
        |FROM g JOIN r ON g.doc_id = r.doc_id JOIN q ON g.doc_id = q.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q_c4_span_dedup" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 19 = 0 THEN 'Only sentence ' || doc_id || '.'
        |    ELSE concat_ws(' ',
        |      'Unique head ' || doc_id || '.',
        |      concat_ws(' ',
        |        'Shared alpha ' || (doc_id % 7) || ' one.',
        |        'Shared beta ' || (doc_id % 7) || ' two.',
        |        'Shared gamma ' || (doc_id % 7) || ' three.'),
        |      CASE WHEN doc_id % 11 = 0 THEN concat_ws(' ',
        |        'Shared alpha ' || (doc_id % 7) || ' one.',
        |        'Shared beta ' || (doc_id % 7) || ' two.',
        |        'Shared gamma ' || (doc_id % 7) || ' three.') ELSE '' END,
        |      'Unique tail ' || doc_id || '.')
        |    END AS text
        |  FROM documents),
        |sents AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_extract_all(text, '[^.!?]+[.!?]'),
        |      s -> trim(s)), s -> length(s) > 0) AS sents
        |  FROM synth),
        |spans AS (
        |  SELECT doc_id, i - 1 AS start,
        |    md5(lower(regexp_replace(array_to_string(sents[i:i+2], ' '),
        |      '\s+', ' ', 'g'))) AS h
        |  FROM (SELECT doc_id, sents, unnest(range(1, len(sents) - 1)) AS i
        |        FROM sents WHERE len(sents) >= 3) q),
        |ranked AS (
        |  SELECT doc_id, start, h,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
        |  FROM spans),
        |removed AS (
        |  SELECT DISTINCT doc_id, idx FROM (
        |    SELECT doc_id, start + unnest([0, 1, 2]) AS idx
        |    FROM ranked WHERE rn > 1) q),
        |sent_rows AS (
        |  SELECT doc_id, unnest(range(1, len(sents) + 1)) AS i, sents
        |  FROM sents),
        |kept AS (
        |  SELECT sr.doc_id, sr.i, sr.sents[sr.i] AS sent
        |  FROM sent_rows sr LEFT JOIN removed r
        |    ON r.doc_id = sr.doc_id AND r.idx = sr.i - 1
        |  WHERE r.doc_id IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(sent, ' ' ORDER BY i) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(r.text, '') AS text
        |FROM sents s LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "q_url_dedup" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
        |    || (CASE WHEN doc_id % 4 < 2 THEN 'WWW.' ELSE '' END)
        |    || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
        |    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        |    || '/Path/' || CAST(doc_id % 5 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed&ref=' || CAST(doc_id % 2 AS VARCHAR)
        |             WHEN doc_id % 3 = 2 THEN '?ref=' || CAST(doc_id % 2 AS VARCHAR) || '&utm_campaign=x'
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |nofrag AS (
        |  SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS u FROM urls),
        |lowered AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))
        |      || substr(u, length(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) + 1) AS u
        |  FROM nofrag),
        |canon AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(u,
        |        '^(http://[^/:?#]+):80(/|\?|$)', '\1\2'),
        |        '^(https://[^/:?#]+):443(/|\?|$)', '\1\2'),
        |      '\?(utm_[A-Za-z_]+=[^&]*&)+', '?'),
        |      '[?&]utm_[A-Za-z_]+=[^&]*', '', 'g'),
        |      '[?&]+$', ''), '/+$', '') AS canonical_url
        |  FROM lowered)
        |SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin,

    "q_unigram_quality" ->
      """WITH toks AS (
        |  -- empty docs yield no exploded rows on the Spark side; the
        |  -- WHERE mirrors that (unnest would emit one '' token)
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    avg(ln(CAST(cnt AS DOUBLE) / n)) AS mlp
        |  FROM toks JOIN counts USING (token) CROSS JOIN total
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens, round(mlp, 6) AS mean_log_prob,
        |  ntile(3) OVER (ORDER BY round(mlp, 6) DESC, doc_id) AS quality_bucket
        |FROM scored ORDER BY doc_id""".stripMargin,

    // Replays qualityBucketsApprox exactly: at this SF the sketch is
    // exact and approxQuantile(q) = element at ascending rank
    // ceil(q*n); cutoffs c1 (q=2/3) and c2 (q=1/3) then bucket by the
    // same >= chain the Column fold builds.
    "q_unigram_quality_approx" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    round(avg(ln(CAST(cnt AS DOUBLE) / n)), 6) AS score6
        |  FROM toks JOIN counts USING (token) CROSS JOIN total
        |  GROUP BY doc_id),
        |ranked AS (
        |  SELECT score6, row_number() OVER (ORDER BY score6) AS rnk,
        |    count(*) OVER () AS nn
        |  FROM scored),
        |cuts AS (
        |  SELECT
        |    max(CASE WHEN rnk = CAST(ceil(nn * 2.0 / 3.0) AS BIGINT) THEN score6 END) AS c1,
        |    max(CASE WHEN rnk = CAST(ceil(nn * 1.0 / 3.0) AS BIGINT) THEN score6 END) AS c2
        |  FROM ranked)
        |SELECT doc_id, n_tokens, score6 AS mean_log_prob,
        |  CASE WHEN score6 >= c1 THEN 1 WHEN score6 >= c2 THEN 2 ELSE 3 END AS quality_bucket
        |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    // End-to-end bigram LM replay: vocab (count >= 2) -> UNK-mapped
    // bigram counts -> context totals -> add-0.4 smoothed scoring
    // with V = |vocab| + 1. Same ln/avg/round-6 discipline as the
    // unigram oracle.
    "q_bigram_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (SELECT unnest(t) AS token FROM toks),
        |vocab AS (SELECT token FROM (SELECT token, count(*) AS c FROM uni GROUP BY 1)
        |          WHERE c >= 2),
        |vs AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS v FROM vocab),
        |rawp AS (
        |  SELECT doc_id, g.prev AS prev, g.tok AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |      i -> struct_pack(prev := t[i], tok := t[i+1]))) AS g
        |    FROM toks WHERE len(t) >= 2)),
        |mapped AS (
        |  SELECT doc_id,
        |    CASE WHEN pv.token IS NULL THEN '<unk>' ELSE rawp.prev END AS prev,
        |    CASE WHEN tv.token IS NULL THEN '<unk>' ELSE rawp.tok END AS tok
        |  FROM rawp
        |  LEFT JOIN vocab pv ON rawp.prev = pv.token
        |  LEFT JOIN vocab tv ON rawp.tok = tv.token),
        |big AS (SELECT prev, tok, count(*) AS cnt FROM mapped GROUP BY 1, 2),
        |pt AS (SELECT prev, sum(cnt) AS prev_cnt FROM big GROUP BY 1)
        |SELECT m.doc_id, count(*) AS n_bigrams,
        |  round(avg(ln((coalesce(b.cnt, 0) + 0.4)
        |    / (coalesce(pt.prev_cnt, 0) + 0.4 * vs.v))), 6) AS mean_log_prob
        |FROM mapped m
        |LEFT JOIN big b ON m.prev = b.prev AND m.tok = b.tok
        |LEFT JOIN pt ON m.prev = pt.prev
        |CROSS JOIN vs
        |GROUP BY m.doc_id ORDER BY m.doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |  FROM docs WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = a
        |JOIN sizes sb ON sb.doc_id = b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
        |ORDER BY a, b""".stripMargin,

    "q_dedup_components" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |  FROM docs WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |jpairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |good AS (
        |  SELECT a, b FROM jpairs
        |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2),
        |edges AS (SELECT a AS x, b AS y FROM good UNION SELECT b, a FROM good),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
        |SELECT x AS id, least(x, min(y)) AS comp
        |FROM reach GROUP BY x ORDER BY id""".stripMargin,
    "q_dedup_keep_best" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |  FROM docs WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |jpairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |good AS (
        |  SELECT a, b FROM jpairs
        |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2),
        |edges AS (SELECT a AS x, b AS y FROM good UNION SELECT b, a FROM good),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |comp AS (SELECT x AS id, least(x, min(y)) AS comp FROM reach GROUP BY x),
        |ranked AS (
        |  SELECT c.id, ROW_NUMBER() OVER (PARTITION BY c.comp
        |    ORDER BY d.n_chars DESC, c.id) AS r
        |  FROM comp c JOIN documents d ON d.doc_id = c.id),
        |losers AS (SELECT id FROM ranked WHERE r > 1)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id""".stripMargin,

    "q_minhash_lsh" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |  FROM docs WHERE len(w) >= 3),
        |seeds AS (SELECT unnest(generate_series(0, 7)) AS seed),
        |sig AS (
        |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS m
        |  FROM sh CROSS JOIN seeds GROUP BY 1, 2),
        |band AS (
        |  SELECT doc_id, seed // 2 AS band,
        |         md5(string_agg(m, '|' ORDER BY seed)) AS bucket
        |  FROM sig GROUP BY 1, 2)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM band x JOIN band y
        |  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        |ORDER BY a, b""".stripMargin,

    // Decoded image dimensions must equal what syntheticPng encoded:
    // w = 8 + (seed % 9), h = 8 + ((seed / 3) % 7) for the even-id PNG
    // rows (Multimodal.syntheticPng). The oracle replays that generator
    // contract in pure SQL — it checks the real javax.imageio round
    // trip, since the Spark side reports ImageIO-DECODED dims, not the
    // generator's.
    "q_multimodal_features" ->
      """SELECT i AS media_id,
        |       CAST(8 + (i % 9) AS INT) AS width,
        |       CAST(8 + ((i // 3) % 7) AS INT) AS height
        |FROM range(0, 2000, 2) t(i)
        |ORDER BY media_id""".stripMargin,

    // Decoded WAV headers must equal what syntheticWav encoded:
    // 8 kHz mono PCM16, frames = 800 + (seed % 1600), duration =
    // round(frames / 8) ms, for the odd-id audio rows
    // (Multimodal.syntheticWav). Checks the real javax.sound round
    // trip — the Spark side reports DECODED header values.
    "q_multimodal_audio" ->
      """SELECT i AS media_id,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(ROUND((800 + (i % 1600)) * 1000.0 / 8000.0) AS BIGINT) AS duration_ms
        |FROM range(1, 2000, 2) t(i)
        |ORDER BY media_id""".stripMargin,

    // Extracted frames must match what syntheticMjpegAvi encoded:
    // 4 + (seed % 5) frames of (16 + (seed%7)*2) x (12 + ((seed//5)%5)*2)
    // pixels, sampled at stride 3. The oracle replays that generator
    // contract — the Spark side reports indices from the real RIFF
    // parse and dims from the real JPEG decode.
    "q_multimodal_video" ->
      """WITH v AS (
        |  SELECT i, 4 + (i % 5) AS nf,
        |         CAST(16 + (i % 7) * 2 AS INT) AS width,
        |         CAST(12 + ((i // 5) % 5) * 2 AS INT) AS height
        |  FROM range(0, 200) t(i))
        |SELECT i AS media_id,
        |       CAST(unnest(range(0, nf, 3)) AS INT) AS frame_index,
        |       width, height
        |FROM v ORDER BY media_id, frame_index""".stripMargin,

    // Image near-dup replay: syntheticGridPng makes every dHash grid
    // cell the md5-top-60-bit of "img:<seed>:<cx>:<cy>" mod 256, so
    // the oracle recomputes all 64 signature bits (strict right-
    // neighbor-brighter compares), reassembles the signed 64-bit hash
    // from four 16-bit bands (band 3 two's-complement adjusted),
    // generates candidates by band equality (the pigeonhole), filters
    // popcount <= 2, and min-labels components with a recursive CTE —
    // the Spark side's values come from REAL PNG decodes.
    "q_image_neardup" -> imageSigOracle(
      """edges AS (
        |  SELECT x.id AS ea, y.id AS eb
        |  FROM sigv x JOIN sigv y ON x.id < y.id AND
        |       (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
        |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
        |        bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 2),
        |adj AS (SELECT ea AS u, eb AS w FROM edges UNION ALL SELECT eb, ea FROM edges),
        |nodes AS (SELECT DISTINCT u AS id FROM adj),
        |r AS (
        |  SELECT id, id AS lbl FROM nodes
        |  UNION
        |  SELECT a.w AS id, r.lbl FROM r JOIN adj a ON a.u = r.id),
        |comp AS (SELECT id, min(lbl) AS comp FROM r GROUP BY 1),
        |losers AS (SELECT id FROM comp WHERE comp <> id)
        |SELECT s.id AS media_id, s.dhash AS dhash,
        |       CAST(CASE WHEN l.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
        |FROM sigv s LEFT JOIN losers l ON s.id = l.id
        |ORDER BY media_id""".stripMargin),

    // Video near-dup replay: syntheticGridMjpegAvi makes each keyframe
    // dHash bit the actual move of a reflecting md5-walk over 9
    // brightness levels (direction = md5("vid:<seed>:<y>:<x>") % 2,
    // forced up at level 0 / down at level 8, start 4; perturbation
    // XORs the x=7 input of rows 3 and 6). The oracle replays the walk
    // with a recursive CTE and reruns banding + popcount + components
    // — the Spark side's hashes come from REAL RIFF-parsed, JPEG-
    // decoded keyframes (twins re-encoded at a different quality).
    "q_video_neardup" ->
      """WITH RECURSIVE clips AS (
        |  SELECT i AS id,
        |         CASE WHEN i % 5 = 1 THEN i - 1 ELSE i END AS eff,
        |         (i % 10 = 6) AS pert
        |  FROM range(200) t(i)),
        |dirs AS (
        |  SELECT c.id, y.range AS y, x.range AS x,
        |    (('0x'||substr(md5('vid:'||c.eff||':'||y.range||':'||x.range),1,15))::BIGINT
        |     + CASE WHEN c.pert AND x.range = 7 AND y.range IN (3, 6)
        |       THEN 1 ELSE 0 END) % 2 AS d
        |  FROM clips c, range(8) y, range(8) x),
        |walk AS (
        |  SELECT c.id, y.range AS y, 0 AS x, 4 AS l, CAST(NULL AS INT) AS bit
        |  FROM clips c, range(8) y
        |  UNION ALL
        |  SELECT w.id, w.y, w.x + 1,
        |    w.l + CASE WHEN w.l = 0 OR (d.d = 1 AND w.l < 8) THEN 1 ELSE -1 END,
        |    CASE WHEN w.l = 0 OR (d.d = 1 AND w.l < 8) THEN 1 ELSE 0 END
        |  FROM walk w JOIN dirs d ON d.id = w.id AND d.y = w.y AND d.x = w.x
        |  WHERE w.x < 8),
        |bits AS (
        |  SELECT id, y * 8 + (x - 1) AS pos, bit FROM walk WHERE x >= 1),
        |bands AS (
        |  SELECT id, CAST(pos // 16 AS INT) AS band,
        |         CAST(sum(CAST(bit AS BIGINT) << CAST(pos % 16 AS INT)) AS BIGINT) AS bits
        |  FROM bits GROUP BY 1, 2),
        |sig AS (
        |  SELECT id,
        |    max(CASE WHEN band = 0 THEN bits END) AS b0,
        |    max(CASE WHEN band = 1 THEN bits END) AS b1,
        |    max(CASE WHEN band = 2 THEN bits END) AS b2,
        |    max(CASE WHEN band = 3 THEN bits END) AS b3
        |  FROM bands GROUP BY 1),
        |sigv AS (
        |  SELECT id, b0, b1, b2, b3,
        |    CAST(b0 + b1 * 65536 + b2 * 4294967296 +
        |      (b3 - CASE WHEN b3 >= 32768 THEN 65536 ELSE 0 END) * 281474976710656
        |      AS BIGINT) AS vhash
        |  FROM sig),
        |edges AS (
        |  SELECT x.id AS ea, y.id AS eb
        |  FROM sigv x JOIN sigv y ON x.id < y.id AND
        |       (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
        |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
        |        bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 2),
        |adj AS (SELECT ea AS u, eb AS w FROM edges UNION ALL SELECT eb, ea FROM edges),
        |nodes AS (SELECT DISTINCT u AS id FROM adj),
        |r AS (
        |  SELECT id, id AS lbl FROM nodes
        |  UNION
        |  SELECT a.w AS id, r.lbl FROM r JOIN adj a ON a.u = r.id),
        |comp AS (SELECT id, min(lbl) AS comp FROM r GROUP BY 1),
        |losers AS (SELECT id FROM comp WHERE comp <> id)
        |SELECT s.id AS media_id, s.vhash AS vhash,
        |       CAST(CASE WHEN l.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
        |FROM sigv s LEFT JOIN losers l ON s.id = l.id
        |ORDER BY media_id""".stripMargin,

    // Min-frame-hash replay: three independent walks per video (the
    // keyframe's "vid" walk with the perturbation, frames 1-2's "vidf"
    // walks), each reassembled into a signed 64-bit dHash, LEAST per
    // video — the Spark side's values come from real per-frame JPEG
    // decodes with the min computed inside the decode pass.
    "q_video_minframe" ->
      """WITH RECURSIVE clips AS (
        |  SELECT i AS id,
        |         CASE WHEN i % 5 = 1 THEN i - 1 ELSE i END AS eff,
        |         (i % 10 = 6) AS pert
        |  FROM range(200) t(i)),
        |dirs AS (
        |  SELECT c.id, fr.range AS fr, y.range AS y, x.range AS x,
        |    (('0x'||substr(md5(CASE WHEN fr.range = 0
        |        THEN 'vid:'||c.eff||':'||y.range||':'||x.range
        |        ELSE 'vidf:'||c.eff||':'||fr.range||':'||y.range||':'||x.range
        |      END),1,15))::BIGINT
        |     + CASE WHEN c.pert AND fr.range = 0 AND x.range = 7
        |            AND y.range IN (3, 6) THEN 1 ELSE 0 END) % 2 AS d
        |  FROM clips c, range(3) fr, range(8) y, range(8) x),
        |walk AS (
        |  SELECT c.id, fr.range AS fr, y.range AS y, 0 AS x, 4 AS l,
        |         CAST(NULL AS INT) AS bit
        |  FROM clips c, range(3) fr, range(8) y
        |  UNION ALL
        |  SELECT w.id, w.fr, w.y, w.x + 1,
        |    w.l + CASE WHEN w.l = 0 OR (d.d = 1 AND w.l < 8) THEN 1 ELSE -1 END,
        |    CASE WHEN w.l = 0 OR (d.d = 1 AND w.l < 8) THEN 1 ELSE 0 END
        |  FROM walk w JOIN dirs d
        |    ON d.id = w.id AND d.fr = w.fr AND d.y = w.y AND d.x = w.x
        |  WHERE w.x < 8),
        |bits AS (
        |  SELECT id, fr, y * 8 + (x - 1) AS pos, bit FROM walk WHERE x >= 1),
        |bands AS (
        |  SELECT id, fr, CAST(pos // 16 AS INT) AS band,
        |         CAST(sum(CAST(bit AS BIGINT) << CAST(pos % 16 AS INT)) AS BIGINT) AS bits
        |  FROM bits GROUP BY 1, 2, 3),
        |sig AS (
        |  SELECT id, fr,
        |    max(CASE WHEN band = 0 THEN bits END) AS b0,
        |    max(CASE WHEN band = 1 THEN bits END) AS b1,
        |    max(CASE WHEN band = 2 THEN bits END) AS b2,
        |    max(CASE WHEN band = 3 THEN bits END) AS b3
        |  FROM bands GROUP BY 1, 2),
        |sigv AS (
        |  SELECT id, fr,
        |    CAST(b0 + b1 * 65536 + b2 * 4294967296 +
        |      (b3 - CASE WHEN b3 >= 32768 THEN 65536 ELSE 0 END) * 281474976710656
        |      AS BIGINT) AS fhash
        |  FROM sig)
        |SELECT id AS media_id, CAST(min(fhash) AS BIGINT) AS vhash
        |FROM sigv GROUP BY 1 ORDER BY media_id""".stripMargin,

    // Audio near-dup replay: syntheticGridWav makes each fingerprint
    // bit the actual move of a reflecting md5-walk over 4 amplitude
    // levels (direction = md5("afp:<seed>:<t>:<m>") % 2, forced up at
    // level 0 / down at level 3; perturbation XORs the t=7 input of
    // bands 2 and 5). The oracle replays the walk with a recursive
    // CTE, reassembles the signed 64-bit fingerprint from four 16-bit
    // bands, generates candidates by band equality, filters
    // popcount <= 2 and min-labels components — the Spark side's
    // values come from REAL javax.sound decodes through the FFT
    // mel-energy pipeline.
    "q_audio_neardup" ->
      """WITH RECURSIVE clips AS (
        |  SELECT i AS id,
        |         CASE WHEN i % 5 = 1 THEN i - 1 ELSE i END AS eff,
        |         (i % 10 = 6) AS pert
        |  FROM range(400) t(i)),
        |dirs AS (
        |  SELECT c.id, m.range AS m, t.range AS t,
        |    (('0x'||substr(md5('afp:'||c.eff||':'||t.range||':'||m.range),1,15))::BIGINT
        |     + CASE WHEN c.pert AND t.range = 7 AND m.range IN (2, 5)
        |       THEN 1 ELSE 0 END) % 2 AS d
        |  FROM clips c, range(8) m, range(8) t),
        |walk AS (
        |  SELECT c.id, m.range AS m, 0 AS t, 1 AS l, CAST(NULL AS INT) AS bit
        |  FROM clips c, range(8) m
        |  UNION ALL
        |  SELECT w.id, w.m, w.t + 1,
        |    w.l + CASE WHEN w.l = 0 OR (d.d = 1 AND w.l < 3) THEN 1 ELSE -1 END,
        |    CASE WHEN w.l = 0 OR (d.d = 1 AND w.l < 3) THEN 1 ELSE 0 END
        |  FROM walk w JOIN dirs d ON d.id = w.id AND d.m = w.m AND d.t = w.t
        |  WHERE w.t < 8),
        |bits AS (
        |  SELECT id, (t - 1) * 8 + m AS pos, bit FROM walk WHERE t >= 1),
        |bands AS (
        |  SELECT id, CAST(pos // 16 AS INT) AS band,
        |         CAST(sum(CAST(bit AS BIGINT) << CAST(pos % 16 AS INT)) AS BIGINT) AS bits
        |  FROM bits GROUP BY 1, 2),
        |sig AS (
        |  SELECT id,
        |    max(CASE WHEN band = 0 THEN bits END) AS b0,
        |    max(CASE WHEN band = 1 THEN bits END) AS b1,
        |    max(CASE WHEN band = 2 THEN bits END) AS b2,
        |    max(CASE WHEN band = 3 THEN bits END) AS b3
        |  FROM bands GROUP BY 1),
        |sigv AS (
        |  SELECT id, b0, b1, b2, b3,
        |    CAST(b0 + b1 * 65536 + b2 * 4294967296 +
        |      (b3 - CASE WHEN b3 >= 32768 THEN 65536 ELSE 0 END) * 281474976710656
        |      AS BIGINT) AS afp
        |  FROM sig),
        |edges AS (
        |  SELECT x.id AS ea, y.id AS eb
        |  FROM sigv x JOIN sigv y ON x.id < y.id AND
        |       (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
        |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
        |        bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 2),
        |adj AS (SELECT ea AS u, eb AS w FROM edges UNION ALL SELECT eb, ea FROM edges),
        |nodes AS (SELECT DISTINCT u AS id FROM adj),
        |r AS (
        |  SELECT id, id AS lbl FROM nodes
        |  UNION
        |  SELECT a.w AS id, r.lbl FROM r JOIN adj a ON a.u = r.id),
        |comp AS (SELECT id, min(lbl) AS comp FROM r GROUP BY 1),
        |losers AS (SELECT id FROM comp WHERE comp <> id)
        |SELECT s.id AS media_id, s.afp AS afp,
        |       CAST(CASE WHEN l.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
        |FROM sigv s LEFT JOIN losers l ON s.id = l.id
        |ORDER BY media_id""".stripMargin,

    // Incremental replay: store = sigs of ids <= 200, batch = the
    // rest; a batch image within hamming 2 of ANY stored hash is a
    // store hit (banding is recall-complete, so brute-force popcount
    // hits are the exact banded hit set); the fresh remainder then
    // runs the standard pair + component dedup among itself.
    "q_image_neardup_incremental" -> imageSigOracle(
      """store AS (SELECT * FROM sigv WHERE id <= 200),
        |batch AS (SELECT * FROM sigv WHERE id > 200),
        |hits AS (
        |  SELECT DISTINCT b.id FROM batch b JOIN store s
        |  ON bit_count(xor(b.b0, s.b0)) + bit_count(xor(b.b1, s.b1)) +
        |     bit_count(xor(b.b2, s.b2)) + bit_count(xor(b.b3, s.b3)) <= 2),
        |fresh AS (
        |  SELECT * FROM batch WHERE id NOT IN (SELECT id FROM hits)),
        |edges AS (
        |  SELECT x.id AS ea, y.id AS eb
        |  FROM fresh x JOIN fresh y ON x.id < y.id AND
        |       (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
        |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
        |        bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 2),
        |adj AS (SELECT ea AS u, eb AS w FROM edges UNION ALL SELECT eb, ea FROM edges),
        |nodes AS (SELECT DISTINCT u AS id FROM adj),
        |r AS (
        |  SELECT id, id AS lbl FROM nodes
        |  UNION
        |  SELECT a.w AS id, r.lbl FROM r JOIN adj a ON a.u = r.id),
        |comp AS (SELECT id, min(lbl) AS comp FROM r GROUP BY 1),
        |losers AS (SELECT id FROM comp WHERE comp <> id)
        |SELECT b.id AS media_id, b.dhash AS dhash,
        |       CAST(CASE WHEN h.id IS NOT NULL OR l.id IS NOT NULL
        |            THEN 0 ELSE 1 END AS INT) AS kept
        |FROM batch b
        |LEFT JOIN hits h ON b.id = h.id
        |LEFT JOIN losers l ON b.id = l.id
        |ORDER BY media_id""".stripMargin),

    "q_embed_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |         list_dot_product(qv, cv)
        |           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // quantization replay: scale = max|x|/127 (order-free max), codes
    // = round-half-away(x/scale) — integer-valued doubles, so the dot
    // products are exact and the ranking agrees bit-for-bit
    "q_embed_int8_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |z AS (
        |  SELECT vec_id,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v
        |  FROM e),
        |c AS (
        |  SELECT vec_id AS neighbor_id,
        |         list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
        |                                     ELSE round(x / scale, 0) END) AS cv
        |  FROM z),
        |q AS (
        |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |         list_dot_product(qv, cv)
        |           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         list_dot_product(x.v, y.v)
        |           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS sim
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id)
        |SELECT a, b, ROUND(sim, 6) AS sim FROM p WHERE sim >= 0.4
        |ORDER BY a, b""".stripMargin,

    // Portable 60-bit md5 SimHash: token hash = ('0x' || first 15 md5
    // hex chars)::BIGINT, per-bit +/-1 votes via a generate_series
    // cross join, fingerprint reassembled from positive votes, 4x15-bit
    // bands, hamming = bit_count(xor).
    "q_dedup_simhash_md5" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS v FROM toks),
        |bits AS (
        |  SELECT doc_id, j,
        |         sum(CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
        |  GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END) AS BIGINT) AS sig
        |  FROM bits GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 15)) & 32767 AS bits
        |  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS sa, y.sig AS sb
        |  FROM banded x JOIN banded y
        |    ON x.b = y.b AND x.bits = y.bits AND x.doc_id < y.doc_id)
        |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY a, b""".stripMargin,

    // MinHash signature pipeline with the md5 hasher: signatures,
    // 8 bands x 2 rows, candidate pairs, agreement-fraction jaccard —
    // the same replay as q_minhash_lsh plus the estimation join.
    "q_dedup_minhash_est" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |  FROM docs WHERE len(w) >= 3),
        |seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
        |sig AS (
        |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS m
        |  FROM sh CROSS JOIN seeds GROUP BY 1, 2),
        |band AS (
        |  SELECT doc_id, seed // 2 AS band,
        |         md5(string_agg(m, '|' ORDER BY seed)) AS bucket
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |est AS (
        |  SELECT c.a, c.b,
        |         CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16
        |           AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.a
        |  JOIN sig sb ON sb.doc_id = c.b AND sb.seed = sa.seed
        |  GROUP BY 1, 2)
        |SELECT a, b, est_jaccard FROM est WHERE est_jaccard >= 0.3
        |ORDER BY a, b""".stripMargin,

    // Hyperplane-LSH top-k: the two plane vectors are the EXACT doubles
    // the Spark side draws (seed 42), inlined as literals.
    "q_embed_lsh_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sig AS (
         |  SELECT vec_id, v,
         |    (CASE WHEN list_dot_product(v, ${lshPlaneLiterals(0)}) >= 0 THEN '1' ELSE '0' END) ||
         |    (CASE WHEN list_dot_product(v, ${lshPlaneLiterals(1)}) >= 0 THEN '1' ELSE '0' END) AS bucket
         |  FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sig WHERE vec_id % 50 = 0),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM sig),
         |s AS (
         |  SELECT query_id, neighbor_id,
         |         list_dot_product(qv, cv)
         |           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
         |  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
         |r AS (
         |  SELECT query_id, neighbor_id, sim,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // IVF probe: centroids = first 8 corpus vectors in md5(id) order
    // (the Spark pick is the same portable hash), corpus assigned to
    // its nearest centroid, queries probe the 3 nearest lists.
    // IVF append replay: centroids hash-picked from the BASE corpus
    // only, appended batch assigned to those fixed centroids by the
    // documented tie-break (cosine desc, then list_id) — what
    // appendIvfIndex writes into the persisted lists.
    // codebook = md5-ordered first 8 rows; per (vector, subspace) the
    // L2-argmin code; ADC = the 4 subvector-centroid dots summed in
    // j order (same parenthesization as the Spark reduce)
    "q_embed_pq_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (
        |  SELECT (ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1 AS i, v
        |  FROM (SELECT vec_id, v FROM e
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
        |js AS (SELECT unnest(generate_series(0, 3)) AS j),
        |sub AS (
        |  SELECT x.vec_id, js.j, cb.i,
        |    list_dot_product(x.v[js.j*16+1 : js.j*16+16], x.v[js.j*16+1 : js.j*16+16])
        |      - 2 * list_dot_product(x.v[js.j*16+1 : js.j*16+16], cb.v[js.j*16+1 : js.j*16+16])
        |      + list_dot_product(cb.v[js.j*16+1 : js.j*16+16], cb.v[js.j*16+1 : js.j*16+16]) AS d2
        |  FROM e x CROSS JOIN js CROSS JOIN cb),
        |codes AS (
        |  SELECT vec_id, j, i FROM (
        |    SELECT vec_id, j, i,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, i) AS r
        |    FROM sub) t WHERE r = 1),
        |cw AS (
        |  SELECT vec_id,
        |    MAX(CASE WHEN j = 0 THEN i END) AS i0,
        |    MAX(CASE WHEN j = 1 THEN i END) AS i1,
        |    MAX(CASE WHEN j = 2 THEN i END) AS i2,
        |    MAX(CASE WHEN j = 3 THEN i END) AS i3
        |  FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        |adc AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    ((list_dot_product(q.qv[1:16],  b0.v[1:16])
        |      + list_dot_product(q.qv[17:32], b1.v[17:32]))
        |      + list_dot_product(q.qv[33:48], b2.v[33:48]))
        |      + list_dot_product(q.qv[49:64], b3.v[49:64]) AS sim
        |  FROM cw c CROSS JOIN q
        |  JOIN cb b0 ON b0.i = c.i0 JOIN cb b1 ON b1.i = c.i1
        |  JOIN cb b2 ON b2.i = c.i2 JOIN cb b3 ON b3.i = c.i3
        |  WHERE q.query_id <> c.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM adc)
        |SELECT query_id, neighbor_id, round(sim, 6) AS sim,
        |       CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_embed_project" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id,
         |  ROUND(list_dot_product(v, ${projPlaneLiterals(0)}) / sqrt(4.0), 6) AS p1,
         |  ROUND(list_dot_product(v, ${projPlaneLiterals(1)}) / sqrt(4.0), 6) AS p2,
         |  ROUND(list_dot_product(v, ${projPlaneLiterals(2)}) / sqrt(4.0), 6) AS p3,
         |  ROUND(list_dot_product(v, ${projPlaneLiterals(3)}) / sqrt(4.0), 6) AS p4
         |FROM e ORDER BY vec_id""".stripMargin,

    "q_ann_recall" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS list_id, v AS cv
        |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |assign AS (
        |  SELECT neighbor_id, v, list_id FROM (
        |    SELECT x.vec_id AS neighbor_id, x.v, c.list_id,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c) t WHERE r = 1),
        |probe AS (
        |  SELECT query_id, qv, list_id FROM (
        |    SELECT x.vec_id AS query_id, x.v AS qv, c.list_id,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c WHERE x.vec_id % 50 = 0) t WHERE r <= 3),
        |ivf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |                              ORDER BY sim DESC, neighbor_id) AS rank
        |    FROM (SELECT DISTINCT p.query_id, a.neighbor_id,
        |                 list_dot_product(p.qv, a.v)
        |                   / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS sim
        |          FROM assign a JOIN probe p USING (list_id)
        |          WHERE p.query_id <> a.neighbor_id)) WHERE rank <= 5),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_dot_product(q.v, c.v)
        |               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
        |               c.vec_id) AS rank
        |    FROM e q CROSS JOIN e c
        |    WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id) WHERE rank <= 5)
        |SELECT x.query_id,
        |       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |       CAST(COUNT(*) AS BIGINT) AS exact_n,
        |       ROUND(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |             / COUNT(*), 6) AS recall
        |FROM exact x LEFT JOIN ivf i USING (query_id, neighbor_id)
        |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,

    "q_embed_ivfpq_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS list_id, v AS cv
        |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |assign AS (
        |  SELECT neighbor_id, v, list_id, cv FROM (
        |    SELECT x.vec_id AS neighbor_id, x.v, c.list_id, c.cv,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c) t WHERE r = 1),
        |res AS (
        |  SELECT neighbor_id, list_id,
        |         list_transform(list_zip(v, cv), p -> p[1] - p[2]) AS rv
        |  FROM assign),
        |cb AS (
        |  SELECT (ROW_NUMBER() OVER (
        |    ORDER BY md5('pq' || CAST(neighbor_id AS VARCHAR)), neighbor_id)) - 1 AS i, rv
        |  FROM (SELECT neighbor_id, rv FROM res
        |        ORDER BY md5('pq' || CAST(neighbor_id AS VARCHAR)), neighbor_id LIMIT 16)),
        |js AS (SELECT unnest(generate_series(0, 3)) AS j),
        |sub AS (
        |  SELECT x.neighbor_id, js.j, cb.i,
        |    list_dot_product(x.rv[js.j*16+1 : js.j*16+16], x.rv[js.j*16+1 : js.j*16+16])
        |      - 2 * list_dot_product(x.rv[js.j*16+1 : js.j*16+16], cb.rv[js.j*16+1 : js.j*16+16])
        |      + list_dot_product(cb.rv[js.j*16+1 : js.j*16+16], cb.rv[js.j*16+1 : js.j*16+16]) AS d2
        |  FROM res x CROSS JOIN js CROSS JOIN cb),
        |codes AS (
        |  SELECT neighbor_id, j, i FROM (
        |    SELECT neighbor_id, j, i,
        |      ROW_NUMBER() OVER (PARTITION BY neighbor_id, j ORDER BY d2, i) AS r
        |    FROM sub) t WHERE r = 1),
        |cw AS (
        |  SELECT c.neighbor_id, a.list_id,
        |    MAX(CASE WHEN j = 0 THEN i END) AS i0,
        |    MAX(CASE WHEN j = 1 THEN i END) AS i1,
        |    MAX(CASE WHEN j = 2 THEN i END) AS i2,
        |    MAX(CASE WHEN j = 3 THEN i END) AS i3
        |  FROM codes c JOIN (SELECT DISTINCT neighbor_id, list_id FROM res) a
        |    ON a.neighbor_id = c.neighbor_id
        |  GROUP BY c.neighbor_id, a.list_id),
        |probe AS (
        |  SELECT query_id, qv, list_id, cv FROM (
        |    SELECT x.vec_id AS query_id, x.v AS qv, c.list_id, c.cv,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c WHERE x.vec_id % 50 = 0) t WHERE r <= 3),
        |adc AS (
        |  SELECT p.query_id, c.neighbor_id,
        |    list_dot_product(p.qv, p.cv)
        |      + (((list_dot_product(p.qv[1:16],  b0.rv[1:16])
        |         + list_dot_product(p.qv[17:32], b1.rv[17:32]))
        |         + list_dot_product(p.qv[33:48], b2.rv[33:48]))
        |         + list_dot_product(p.qv[49:64], b3.rv[49:64])) AS sim
        |  FROM cw c JOIN probe p USING (list_id)
        |  JOIN cb b0 ON b0.i = c.i0 JOIN cb b1 ON b1.i = c.i1
        |  JOIN cb b2 ON b2.i = c.i2 JOIN cb b3 ON b3.i = c.i3
        |  WHERE p.query_id <> c.neighbor_id),
        |r2 AS (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM adc)
        |SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim,
        |       CAST(rank AS BIGINT) AS rank
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_embed_ivf_append" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |base AS (SELECT * FROM e WHERE vec_id % 3 > 0),
        |cent AS (
        |  SELECT vec_id AS list_id, v AS cv
        |  FROM base ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |assign AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT x.vec_id, c.list_id,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c WHERE x.vec_id % 3 = 0) t WHERE r = 1)
        |SELECT vec_id, list_id FROM assign ORDER BY vec_id""".stripMargin,

    "q_embed_ivf_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS list_id, v AS cv
        |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |assign AS (
        |  SELECT neighbor_id, v, list_id FROM (
        |    SELECT x.vec_id AS neighbor_id, x.v, c.list_id,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c) t WHERE r = 1),
        |probe AS (
        |  SELECT query_id, qv, list_id FROM (
        |    SELECT x.vec_id AS query_id, x.v AS qv, c.list_id,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c WHERE x.vec_id % 50 = 0) t WHERE r <= 3),
        |s AS (
        |  SELECT DISTINCT p.query_id, a.neighbor_id,
        |         list_dot_product(p.qv, a.v)
        |           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS sim
        |  FROM assign a JOIN probe p USING (list_id)
        |  WHERE p.query_id <> a.neighbor_id),
        |r2 AS (
        |  SELECT query_id, neighbor_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rank
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_semdedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS list_id, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |assign AS (
        |  SELECT id, v, list_id, sc FROM (
        |    SELECT x.vec_id AS id, x.v, c.list_id,
        |      list_dot_product(x.v, c.cv)
        |        / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS sc,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.v, c.cv)
        |          / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |          c.list_id) AS r
        |    FROM e x CROSS JOIN cent c) t WHERE r = 1),
        |good AS (
        |  SELECT xa.id AS a, xb.id AS b
        |  FROM assign xa JOIN assign xb
        |    ON xa.list_id = xb.list_id AND xa.id < xb.id
        |  WHERE list_dot_product(xa.v, xb.v)
        |      / (sqrt(list_dot_product(xa.v, xa.v)) * sqrt(list_dot_product(xb.v, xb.v))) >= 0.4),
        |edges AS (SELECT a AS x, b AS y FROM good UNION SELECT b, a FROM good),
        |reach(x, y) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e2.y FROM reach r JOIN edges e2 ON r.y = e2.x),
        |comps AS (SELECT x AS id, least(x, min(y)) AS comp FROM reach GROUP BY x),
        |ranked AS (
        |  SELECT m.id, ROW_NUMBER() OVER (PARTITION BY m.comp
        |    ORDER BY a.sc ASC, m.id) AS r
        |  FROM comps m JOIN assign a ON a.id = m.id),
        |losers AS (SELECT id FROM ranked WHERE r > 1)
        |SELECT e.vec_id FROM e LEFT JOIN losers l ON l.id = e.vec_id
        |WHERE l.id IS NULL ORDER BY e.vec_id""".stripMargin,

    // same cent/assign clustering replay, then the per-cluster
    // exact-k hash-rank window (the q_sample_exactk formula with
    // salt "exactk", seed 7)
    "q_cluster_sample" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS list_id, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |assign AS (
        |  SELECT id, list_id FROM (
        |    SELECT x.vec_id AS id, c.list_id,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_dot_product(x.v, c.cv)
        |          / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |          c.list_id) AS r
        |    FROM e x CROSS JOIN cent c) t WHERE r = 1),
        |ranked AS (
        |  SELECT id, list_id, ROW_NUMBER() OVER (PARTITION BY list_id
        |    ORDER BY ('0x' || substr(md5('exactk:7:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT,
        |             id) AS rn
        |  FROM assign)
        |SELECT id AS vec_id, list_id FROM ranked WHERE rn <= 5
        |ORDER BY vec_id""".stripMargin,

    // identical semantics through the persisted index — same oracle
    "q_embed_ivf_indexed" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS list_id, v AS cv
        |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |assign AS (
        |  SELECT neighbor_id, v, list_id FROM (
        |    SELECT x.vec_id AS neighbor_id, x.v, c.list_id,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c) t WHERE r = 1),
        |probe AS (
        |  SELECT query_id, qv, list_id FROM (
        |    SELECT x.vec_id AS query_id, x.v AS qv, c.list_id,
        |           ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |             ORDER BY list_dot_product(x.v, c.cv)
        |               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |               c.list_id) AS r
        |    FROM e x CROSS JOIN cent c WHERE x.vec_id % 50 = 0) t WHERE r <= 3),
        |s AS (
        |  SELECT DISTINCT p.query_id, a.neighbor_id,
        |         list_dot_product(p.qv, a.v)
        |           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS sim
        |  FROM assign a JOIN probe p USING (list_id)
        |  WHERE p.query_id <> a.neighbor_id),
        |r2 AS (
        |  SELECT query_id, neighbor_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rank
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full one-pass text enrichment: every component mirrors the
    // TextAnalysis column expression (BPE-ish token count = alnum runs
    // + isolated non-alnum non-space chars, since RE2 has no lookarounds).
    "q_text_analyze" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS wl
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, text, n_tokens,
        |    len(list_filter(wl, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS h_en,
        |    len(list_filter(wl, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS h_de,
        |    len(list_filter(wl, t -> t IN ('le','la','les','et','est','une','que','pour','dans','pas'))) AS h_fr,
        |    len(list_filter(wl, t -> t IN ('el','la','los','y','es','que','una','por','con','para'))) AS h_es
        |  FROM m),
        |q AS (
        |  SELECT doc_id, text, n_tokens, h_en, h_de, h_fr, h_es,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        |      + (length(regexp_replace(text, '[A-Za-z0-9]', '', 'g'))
        |         - (length(text) - length(regexp_replace(text, '\s', '', 'g')))) AS n_tokens_bpe,
        |    least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) AS len_score,
        |    1.0 - least(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |                / length(text) * 5.0, 1.0) AS punct_score,
        |    least(CAST(h_en AS DOUBLE) / n_tokens * 5.0, 1.0) AS stop_score,
        |    CASE WHEN CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / n_tokens
        |              BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS wordlen_score
        |  FROM h)
        |SELECT doc_id, n_tokens, n_tokens_bpe,
        |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |       WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
        |       WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
        |       WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
        |       ELSE 'de' END AS lang_id,
        |  ROUND(len_score * 0.3 + punct_score * 0.3 + stop_score * 0.2 + wordlen_score * 0.2, 6) AS quality,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM q ORDER BY doc_id""".stripMargin,

    // Soft quality sampling: keep probability (quality/0.8)^2 capped
    // at 1, decided by the salt-decorrelated unit hash; the quality
    // score, p, and the floored Long threshold all replay in DuckDB.
    "q_soft_sample" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS wl
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) AS len_score,
        |    1.0 - least(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |                / length(text) * 5.0, 1.0) AS punct_score,
        |    least(CAST(len(list_filter(wl, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
        |          / n_tokens * 5.0, 1.0) AS stop_score,
        |    CASE WHEN CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / n_tokens
        |              BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS wordlen_score
        |  FROM m),
        |s AS (
        |  SELECT doc_id, ROUND(len_score * 0.3 + punct_score * 0.3
        |    + stop_score * 0.2 + wordlen_score * 0.2, 6) AS quality FROM q),
        |p AS (
        |  SELECT doc_id,
        |    ROUND(least(1.0, pow(greatest(quality, 0.0) / 0.8, 2.0)), 6) AS keep_prob
        |  FROM s)
        |SELECT doc_id, keep_prob FROM p
        |WHERE ('0x' || substr(md5('softsample:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      < CAST(floor(keep_prob * 1152921504606846976.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    // Sampling family: the unit hash is the top 60 bits of
    // md5('<seed>:' || id) in BOTH engines; thresholds are inlined as
    // exact Long literals computed by Sampling.rateThreshold, so the
    // comparison is integer-exact at the boundary.
    "q_sample_hash" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ('0x' || substr(md5('sample:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        < ${graft.ops.Sampling.rateThreshold(0.25)}
         |ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ('0x' || substr(md5('sample:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        < CASE lang
         |            WHEN 'en' THEN ${graft.ops.Sampling.rateThreshold(0.5)}
         |            WHEN 'de' THEN ${graft.ops.Sampling.rateThreshold(0.25)}
         |            WHEN 'zh' THEN ${graft.ops.Sampling.rateThreshold(0.1)}
         |            ELSE ${graft.ops.Sampling.rateThreshold(0.05)} END
         |ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('pack:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, CAST(h % 8 AS INT) AS pack_group,
        |    sum(n) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n AS st
        |  FROM d)
        |SELECT doc_id, pack_group, CAST(st // 2000 AS BIGINT) AS pack_id,
        |       CAST(st - (st // 2000) * 2000 AS BIGINT) AS pack_offset
        |FROM cum ORDER BY doc_id""".stripMargin,

    // same assignment replay, grouped; chunk/pad math in integers
    // (CAST the HUGEINT-yielding sums and //)
    "q_pack_stats" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('pack:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n, CAST(h % 8 AS INT) AS pack_group,
        |    sum(n) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n AS st
        |  FROM d),
        |packs AS (
        |  SELECT pack_group, CAST(st // 2000 AS BIGINT) AS pack_id,
        |         count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |  FROM cum GROUP BY 1, 2)
        |SELECT pack_group, pack_id, n_docs, n_tokens,
        |       CAST((n_tokens + 511) // 512 AS BIGINT) AS n_chunks,
        |       CAST((512 - n_tokens % 512) % 512 AS BIGINT) AS pad_tokens
        |FROM packs ORDER BY pack_group, pack_id""".stripMargin,

    "q_pack_materialize" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('pack:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, text, CAST(h % 8 AS INT) AS pack_group,
        |    sum(n) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n AS st
        |  FROM d),
        |assigned AS (
        |  SELECT doc_id, text, pack_group, CAST(st // 2000 AS BIGINT) AS pack_id,
        |         CAST(st - (st // 2000) * 2000 AS BIGINT) AS pack_offset
        |  FROM cum)
        |SELECT pack_group, pack_id, count(*) AS n_docs,
        |  md5(string_agg(text, ' ' ORDER BY pack_offset, doc_id)) AS text_md5
        |FROM assigned GROUP BY 1, 2 ORDER BY pack_group, pack_id""".stripMargin,

    "q_chunk_packs" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('pack:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, text, n, CAST(h % 8 AS INT) AS pack_group,
        |    sum(n) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n AS st
        |  FROM d),
        |asg AS (
        |  SELECT doc_id, text, n, pack_group,
        |    CAST(st // 2000 AS BIGINT) AS pack_id,
        |    CAST(st - (st // 2000) * 2000 AS BIGINT) AS pack_offset
        |  FROM cum),
        |offs AS (
        |  SELECT doc_id, text, CAST(n AS BIGINT) AS n, pack_group, pack_id,
        |    CAST(sum(n) OVER (PARTITION BY pack_group, pack_id
        |                      ORDER BY pack_offset, doc_id) - n AS BIGINT) AS off
        |  FROM asg),
        |expl AS (
        |  SELECT doc_id, pack_group, pack_id, n, off,
        |    regexp_split_to_array(trim(text), '\s+') AS w,
        |    unnest(generate_series(off // 512, (off + n - 1) // 512)) AS s
        |  FROM offs WHERE n > 0),
        |parts0 AS (
        |  SELECT doc_id, pack_group, pack_id, CAST(s AS BIGINT) AS seq_idx,
        |    w, off, s * 512 AS cbase,
        |    greatest(0, s * 512 - off) AS ts,
        |    least(n, (s + 1) * 512 - off) AS te
        |  FROM expl),
        |parts AS (
        |  SELECT doc_id, pack_group, pack_id, seq_idx,
        |    CAST(off + ts - cbase AS BIGINT) AS beg,
        |    CAST(off + te - cbase AS BIGINT) AS endt,
        |    CAST(te - ts AS BIGINT) AS cnt,
        |    array_to_string(w[ts + 1 : te], ' ') AS t
        |  FROM parts0)
        |SELECT pack_group, pack_id, seq_idx,
        |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  md5(string_agg(t, ' ' ORDER BY beg, doc_id)) AS text_md5,
        |  string_agg(doc_id || ':' || beg || ':' || endt, ',' ORDER BY beg, doc_id) AS bounds
        |FROM parts GROUP BY 1, 2, 3
        |ORDER BY pack_group, pack_id, seq_idx""".stripMargin,

    "q_exactsubstr" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN 'short ' || doc_id
        |    ELSE concat_ws(' ',
        |      'head' || doc_id,
        |      concat_ws(' ', 's1x' || (doc_id % 5), 's2x' || (doc_id % 5),
        |        's3x' || (doc_id % 5), 's4x' || (doc_id % 5), 's5x' || (doc_id % 5),
        |        's6x' || (doc_id % 5), 's7x' || (doc_id % 5), 's8x' || (doc_id % 5),
        |        's9x' || (doc_id % 5), 's10x' || (doc_id % 5)),
        |      CASE WHEN doc_id % 9 = 0 THEN concat_ws(' ',
        |        's1x' || (doc_id % 5), 's2x' || (doc_id % 5), 's3x' || (doc_id % 5),
        |        's4x' || (doc_id % 5), 's5x' || (doc_id % 5), 's6x' || (doc_id % 5),
        |        's7x' || (doc_id % 5), 's8x' || (doc_id % 5), 's9x' || (doc_id % 5),
        |        's10x' || (doc_id % 5)) ELSE '' END,
        |      'tail' || doc_id)
        |    END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> length(t) > 0) AS w
        |  FROM synth),
        |wins AS (
        |  SELECT doc_id, i - 1 AS start,
        |    md5(lower(array_to_string(w[i:i+7], ' '))) AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
        |        FROM toks WHERE len(w) >= 8) q),
        |ranked AS (
        |  SELECT doc_id, start, h,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
        |  FROM wins),
        |removed AS (
        |  SELECT DISTINCT doc_id, start + unnest([0,1,2,3,4,5,6,7]) AS idx
        |  FROM ranked WHERE rn > 1),
        |tok_rows AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM toks),
        |kept AS (
        |  SELECT tr.doc_id, tr.i, tr.w[tr.i] AS tok
        |  FROM tok_rows tr LEFT JOIN removed r
        |    ON r.doc_id = tr.doc_id AND r.idx = tr.i - 1
        |  WHERE r.doc_id IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(r.text, '') AS text
        |FROM synth s LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "q_sample_exactk" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5('exactk:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |             doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "q_domain_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "q_blocklist" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' forbiddenxyz'
        |         WHEN doc_id % 7 = 3 THEN text || ' Alsobadword extra alsobadword'
        |         ELSE text END AS text
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['forbiddenxyz', 'alsobadword'], t))) AS hits
        |  FROM pages)
        |SELECT doc_id, hits, hits = 0 AS keep
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q_sample_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN ('0x' || substr(md5('split:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |            < ${graft.ops.Sampling.rateThreshold(0.1)} THEN 'test'
         |       WHEN ('0x' || substr(md5('split:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |            < ${graft.ops.Sampling.rateThreshold(0.2)} THEN 'valid'
         |       ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_corpus_mix" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 0 ELSE 1 END
         |    + CASE WHEN ('0x' || substr(md5('mix:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |                < CASE lang
         |                    WHEN 'en' THEN ${graft.ops.Sampling.rateThreshold(0.5)}
         |                    WHEN 'de' THEN ${graft.ops.Sampling.rateThreshold(0.4)}
         |                    ELSE 0 END
         |           THEN 1 ELSE 0 END AS reps
         |  FROM documents)
         |SELECT doc_id, lang, unnest(range(CAST(reps AS BIGINT))) AS rep_idx
         |FROM r WHERE reps > 0 ORDER BY doc_id, rep_idx""".stripMargin,

    "q_decontaminate" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-3), i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]))) AS s
        |  FROM docs WHERE len(w) >= 4),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0),
        |cont AS (
        |  SELECT DISTINCT x.doc_id FROM sh x JOIN ev ON x.s = ev.s
        |  WHERE x.doc_id % 17 != 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 17 != 0 AND doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY doc_id""".stripMargin,

    // bloom decontamination is transparent the same way: the filter
    // only routes definitely-clean shingles around the exact join, so
    // the oracle IS the plain decontamination replay
    "q_decontaminate_bloom" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-3), i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]))) AS s
        |  FROM docs WHERE len(w) >= 4),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0),
        |cont AS (
        |  SELECT DISTINCT x.doc_id FROM sh x JOIN ev ON x.s = ev.s
        |  WHERE x.doc_id % 17 != 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 17 != 0 AND doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY doc_id""".stripMargin,

    // same synth; keep = blank OR first occurrence of the exact line
    "q_line_dedup" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    'repeat me' || chr(10) || 'unique ' || doc_id || ' x' || chr(10) ||
        |    'repeat me' || chr(10) || chr(10) || chr(10) ||
        |    'unique ' || doc_id || ' x' || chr(10) || 'tail ' || (doc_id % 5) AS text
        |  FROM documents),
        |le AS (
        |  SELECT doc_id, pos, ls[pos] AS ln FROM (
        |    SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls
        |    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth) q0) q),
        |k AS (
        |  SELECT doc_id, pos, ln,
        |    (length(trim(ln)) = 0 OR
        |     pos = min(pos) OVER (PARTITION BY doc_id, ln)) AS keep
        |  FROM le)
        |SELECT doc_id,
        |  string_agg(ln, chr(10) ORDER BY pos) FILTER (WHERE keep) AS text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_boilerplate" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    'Nav Home About Contact' || chr(10) ||
        |    'unique line ' || doc_id || ' content' ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Footer terms and privacy'
        |         ELSE '' END AS text
        |  FROM documents),
        |lines AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth),
        |le AS (
        |  SELECT doc_id, pos, ls[pos] AS ln FROM (
        |    SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls FROM lines) q),
        |nb AS (
        |  SELECT doc_id, pos,
        |    md5(regexp_replace(lower(trim(ln)), '\s+', ' ', 'g')) AS h
        |  FROM le WHERE length(trim(ln)) > 0),
        |boiler AS (
        |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM nb) q
        |  GROUP BY h HAVING count(*) > 50),
        |rem AS (SELECT DISTINCT doc_id, pos FROM nb JOIN boiler USING (h)),
        |kept AS (
        |  SELECT le.doc_id, le.pos, le.ln
        |  FROM le LEFT JOIN rem ON rem.doc_id = le.doc_id AND rem.pos = le.pos
        |  WHERE rem.doc_id IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(r.text, '') AS text
        |FROM synth s LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "q_contamination" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w)-3), i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]))) AS s
        |  FROM docs WHERE len(w) >= 4),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0),
        |agg AS (
        |  SELECT t.doc_id, count(*) AS total,
        |    sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS cont
        |  FROM (SELECT doc_id, s FROM sh WHERE doc_id % 17 != 0) t
        |  LEFT JOIN ev ON t.s = ev.s GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.cont, 0) AS BIGINT) AS contaminated_ngrams,
        |  CAST(coalesce(a.total, 0) AS BIGINT) AS total_ngrams,
        |  round(CASE WHEN coalesce(a.total, 0) = 0 THEN 0.0
        |    ELSE CAST(a.cont AS DOUBLE) / a.total END, 6) AS contamination_frac
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE d.doc_id % 17 != 0 ORDER BY d.doc_id""".stripMargin,

    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT lang, n,
        |        pow(CAST(n AS DOUBLE) / (SELECT sum(n) FROM c), -0.5) AS raw
        |      FROM c)
        |SELECT lang, round(least(4.0, raw / (SELECT min(raw) FROM t)), 9) AS weight
        |FROM t ORDER BY lang""".stripMargin,

    // token-budget mixing: refit weight = min(10, budget*frac/T_lang)
    // with the exact Scala operand order ((b * frac) / T, all IEEE
    // doubles), then replay mixByWeight's floor + fractional-threshold
    // repetition under the shared "mix" salt. floor-then-CAST mirrors
    // rateThreshold's toLong truncation (positive values only).
    "q_mix_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM d GROUP BY lang),
        |w AS (
        |  SELECT lang,
        |    least(10.0, (CAST(100000 AS DOUBLE) *
        |      CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
        |                WHEN 'fr' THEN 0.2 ELSE 0.0 END) / CAST(t AS DOUBLE)) AS wt
        |  FROM tot),
        |r AS (
        |  SELECT doc_id, d.lang,
        |    CAST(floor(wt) AS BIGINT)
        |    + CASE WHEN ('0x' || substr(md5('mix:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |                < CAST(floor((wt - floor(wt)) * 1152921504606846976.0) AS BIGINT)
        |           THEN 1 ELSE 0 END AS reps
        |  FROM d JOIN w USING (lang) WHERE wt > 0)
        |SELECT doc_id, lang, unnest(range(reps)) AS rep_idx
        |FROM r WHERE reps > 0 ORDER BY doc_id, rep_idx""".stripMargin,

    "q_shuffle_index" ->
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (
        |    ORDER BY ('0x' || substr(md5('shuffle:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |             doc_id) - 1 AS global_idx
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Shard = global_idx div ceil(n/7); kept INT like Spark's cast
    "q_shard_assign" ->
      """WITH idx AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (
        |      ORDER BY ('0x' || substr(md5('shuffle:42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |               doc_id) - 1 AS global_idx
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM idx)
        |SELECT i.doc_id, CAST(i.global_idx AS BIGINT) AS global_idx,
        |  CAST(i.global_idx // ((t.n + 6) // 7) AS INT) AS shard
        |FROM idx i CROSS JOIN tot t
        |ORDER BY i.doc_id""".stripMargin,

    "q_corpus_profile" ->
      """WITH d AS (
        |  SELECT source, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents)
        |SELECT source, CAST(GROUPING(source) AS INT) AS is_total,
        |  count(*) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(min(n) AS BIGINT) AS min_doc_tokens,
        |  CAST(max(n) AS BIGINT) AS max_doc_tokens,
        |  round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_doc_tokens
        |FROM d GROUP BY ROLLUP(source) ORDER BY is_total, source""".stripMargin,

    // same whitespace n-gram split as the decontamination replay,
    // WITHOUT list_distinct (occurrences, not per-doc shingle sets)
    "q_top_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id AS doc,
        |         regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc, unnest(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS ngram
        |  FROM d WHERE len(w) >= 3)
        |SELECT ngram, count(*) AS n_occurrences,
        |       CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
        |FROM g GROUP BY 1
        |ORDER BY n_occurrences DESC, ngram LIMIT 25""".stripMargin,

    // tf/df over lowercased whitespace tokens, smoothed idf
    // ln((N+1)/(df+1)) + 1 in the SAME expression shape, ROUND(,6)
    // BEFORE ranking (libm ln ulp defense), ties to the smaller term
    "q_tfidf" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                t -> len(t) > 0) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, unnest(w) AS term FROM d),
        |tfc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, count(*) AS df_t FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tfc.doc_id, tfc.term, tfc.tf, dfreq.df_t,
        |    ROUND(tfc.tf * (ln((n.n_docs + 1.0) / (dfreq.df_t + 1.0)) + 1.0), 6)
        |      AS tf_idf
        |  FROM tfc JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tf_idf DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df_t, tf_idf, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // distinct 3-gram sets per slice, full-outer joined; novelty and
    // loss counts + rates recomputed identically
    "q_ngram_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g0 AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS ngram
        |  FROM d WHERE doc_id % 5 != 0 AND len(w) >= 3),
        |g1 AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS ngram
        |  FROM d WHERE doc_id % 7 != 0 AND len(w) >= 3),
        |j AS (
        |  SELECT g0.ngram IS NOT NULL AS o, g1.ngram IS NOT NULL AS n
        |  FROM g0 FULL OUTER JOIN g1 ON g0.ngram = g1.ngram)
        |SELECT
        |  CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT) AS n_old_ngrams,
        |  CAST(sum(CASE WHEN n THEN 1 ELSE 0 END) AS BIGINT) AS n_new_ngrams,
        |  CAST(sum(CASE WHEN n AND NOT o THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel_ngrams,
        |  CAST(sum(CASE WHEN o AND NOT n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lost_ngrams,
        |  ROUND(CAST(sum(CASE WHEN n AND NOT o THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN n THEN 1 ELSE 0 END), 6) AS novelty_rate,
        |  ROUND(CAST(sum(CASE WHEN o AND NOT n THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN o THEN 1 ELSE 0 END), 6) AS lost_rate
        |FROM j""".stripMargin,

    // KMV replay: sketch = k smallest distinct 52-bit md5 prefixes
    // (SELECT DISTINCT v ORDER BY v LIMIT k), estimate = (k-1)*2^52 /
    // v_k with exactly-representable double operands, union sketch =
    // k smallest of the sketch union, intersection = in-both fraction
    // x union estimate — the same op tree the Column form builds, so
    // every double op is bit-identical
    "q_ngram_novelty_approx" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g0 AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS ngram
        |  FROM d WHERE doc_id % 5 != 0 AND len(w) >= 3),
        |g1 AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS ngram
        |  FROM d WHERE doc_id % 7 != 0 AND len(w) >= 3),
        |so AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(ngram), 1, 13) AS BIGINT) AS v
        |  FROM g0 ORDER BY v LIMIT 256),
        |sn AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(ngram), 1, 13) AS BIGINT) AS v
        |  FROM g1 ORDER BY v LIMIT 256),
        |u AS (
        |  SELECT v FROM (SELECT v FROM so UNION SELECT v FROM sn)
        |  ORDER BY v LIMIT 256),
        |s AS (SELECT
        |  (SELECT count(*) FROM so) AS ko, (SELECT max(v) FROM so) AS vo,
        |  (SELECT count(*) FROM sn) AS kn, (SELECT max(v) FROM sn) AS vn,
        |  (SELECT count(*) FROM u) AS ku, (SELECT max(v) FROM u) AS vu,
        |  (SELECT count(*) FROM u WHERE v IN (SELECT v FROM so)
        |     AND v IN (SELECT v FROM sn)) AS hits),
        |e AS (SELECT
        |  CASE WHEN ko < 256 THEN CAST(ko AS DOUBLE)
        |       ELSE (255e0 * 4503599627370496e0)
        |         / CAST(GREATEST(vo, 1) AS DOUBLE) END AS dold,
        |  CASE WHEN kn < 256 THEN CAST(kn AS DOUBLE)
        |       ELSE (255e0 * 4503599627370496e0)
        |         / CAST(GREATEST(vn, 1) AS DOUBLE) END AS dnew,
        |  (CASE WHEN ku = 0 THEN 0.0
        |        ELSE CAST(hits AS DOUBLE) / CAST(ku AS DOUBLE) END)
        |  * (CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
        |          ELSE (255e0 * 4503599627370496e0)
        |            / CAST(GREATEST(vu, 1) AS DOUBLE) END) AS dint
        |  FROM s)
        |SELECT round(dold, 3) AS n_old_ngrams_est,
        |  round(dnew, 3) AS n_new_ngrams_est,
        |  round(GREATEST(dnew - dint, 0.0), 3) AS n_novel_ngrams_est,
        |  round(GREATEST(dold - dint, 0.0), 3) AS n_lost_ngrams_est,
        |  CASE WHEN dnew = 0.0 THEN 0.0
        |       ELSE round(GREATEST(dnew - dint, 0.0) / dnew, 6) END
        |    AS novelty_rate,
        |  CASE WHEN dold = 0.0 THEN 0.0
        |       ELSE round(GREATEST(dold - dint, 0.0) / dold, 6) END
        |    AS lost_rate
        |FROM e""".stripMargin,

    // per-source + total KMV replay (k = 64): rank the distinct hash
    // values per stratum, v_k = the rk=64 value, same estimator
    "q_corpus_profile_approx" ->
      """WITH h AS (
        |  SELECT source, CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS v
        |  FROM documents WHERE text IS NOT NULL),
        |ds AS (SELECT DISTINCT source, v FROM h),
        |r AS (SELECT source, v,
        |        row_number() OVER (PARTITION BY source ORDER BY v) AS rk,
        |        count(*) OVER (PARTITION BY source) AS nd
        |      FROM ds),
        |e0 AS (SELECT source, 0 AS is_total,
        |        CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
        |             ELSE (63e0 * 4503599627370496e0)
        |               / CAST(GREATEST(max(CASE WHEN rk = 64 THEN v END), 1)
        |                      AS DOUBLE) END AS est
        |      FROM r GROUP BY source),
        |dt AS (SELECT DISTINCT v FROM h),
        |rt AS (SELECT v, row_number() OVER (ORDER BY v) AS rk,
        |         count(*) OVER () AS nd FROM dt),
        |e1 AS (SELECT NULL AS source, 1 AS is_total,
        |        CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
        |             ELSE (63e0 * 4503599627370496e0)
        |               / CAST(GREATEST(max(CASE WHEN rk = 64 THEN v END), 1)
        |                      AS DOUBLE) END AS est
        |      FROM rt),
        |c AS (SELECT source, CAST(GROUPING(source) AS INT) AS is_total,
        |        count(*) AS n_docs
        |      FROM documents GROUP BY ROLLUP(source))
        |SELECT c.source, c.is_total, c.n_docs,
        |  COALESCE(round(e.est, 3), 0.0) AS n_unique_texts_approx
        |FROM c LEFT JOIN (SELECT * FROM e0 UNION ALL SELECT * FROM e1) e
        |  ON c.source IS NOT DISTINCT FROM e.source AND c.is_total = e.is_total
        |ORDER BY c.is_total, c.source""".stripMargin,

    // same lowercased whitespace tokens, add-one smoothing over the
    // union vocab, 9dp rounding before the |delta| ranking
    "q_token_drift" ->
      """WITH ot AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0)) AS token
        |  FROM documents WHERE doc_id % 5 != 0),
        |nt AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0)) AS token
        |  FROM documents WHERE doc_id % 7 != 0),
        |oc AS (SELECT token, count(*) AS old_cnt FROM ot GROUP BY 1),
        |nc AS (SELECT token, count(*) AS new_cnt FROM nt GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(oc.token, nc.token) AS token,
        |    COALESCE(old_cnt, 0) AS old_cnt,
        |    COALESCE(new_cnt, 0) AS new_cnt
        |  FROM oc FULL OUTER JOIN nc ON oc.token = nc.token),
        |t AS (SELECT sum(old_cnt) AS old_total, sum(new_cnt) AS new_total,
        |        count(*) AS vocab FROM j)
        |SELECT token, old_cnt, new_cnt,
        |  round(CAST(old_cnt + 1 AS DOUBLE)
        |    / CAST(old_total + vocab AS DOUBLE), 9) AS old_p,
        |  round(CAST(new_cnt + 1 AS DOUBLE)
        |    / CAST(new_total + vocab AS DOUBLE), 9) AS new_p,
        |  round(CAST(new_cnt + 1 AS DOUBLE) / CAST(new_total + vocab AS DOUBLE)
        |    - CAST(old_cnt + 1 AS DOUBLE) / CAST(old_total + vocab AS DOUBLE), 9)
        |    AS delta_p
        |FROM j CROSS JOIN t
        |ORDER BY abs(delta_p) DESC, token LIMIT 25""".stripMargin,

    // both snapshot rollups + the null-safe full-outer join; status
    // verdict and growth ratio recomputed identically
    "q_profile_diff" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |o AS (
        |  SELECT source AS g, CAST(GROUPING(source) AS INT) AS t,
        |    count(*) AS docs,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq,
        |    CAST(sum(n) AS BIGINT) AS toks
        |  FROM d WHERE doc_id % 5 != 0 GROUP BY ROLLUP(source)),
        |nw AS (
        |  SELECT source AS g, CAST(GROUPING(source) AS INT) AS t,
        |    count(*) AS docs,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq,
        |    CAST(sum(n) AS BIGINT) AS toks
        |  FROM d WHERE doc_id % 7 != 0 GROUP BY ROLLUP(source))
        |SELECT
        |  COALESCE(o.g, nw.g) AS source,
        |  COALESCE(o.t, nw.t) AS is_total,
        |  COALESCE(o.docs, 0) AS old_docs,
        |  COALESCE(nw.docs, 0) AS new_docs,
        |  COALESCE(nw.docs, 0) - COALESCE(o.docs, 0) AS delta_docs,
        |  COALESCE(o.uniq, 0) AS old_unique_texts,
        |  COALESCE(nw.uniq, 0) AS new_unique_texts,
        |  COALESCE(o.toks, 0) AS old_tokens,
        |  COALESCE(nw.toks, 0) AS new_tokens,
        |  COALESCE(nw.toks, 0) - COALESCE(o.toks, 0) AS delta_tokens,
        |  CASE WHEN COALESCE(o.toks, 0) = 0 THEN NULL
        |       ELSE round(CAST(COALESCE(nw.toks, 0) AS DOUBLE) / o.toks, 6)
        |  END AS token_ratio,
        |  CASE WHEN o.docs IS NULL THEN 'added'
        |       WHEN nw.docs IS NULL THEN 'removed'
        |       WHEN COALESCE(nw.toks, 0) > COALESCE(o.toks, 0) THEN 'grown'
        |       WHEN COALESCE(nw.toks, 0) < COALESCE(o.toks, 0) THEN 'shrunk'
        |       ELSE 'stable' END AS status
        |FROM o FULL OUTER JOIN nw
        |  ON o.g IS NOT DISTINCT FROM nw.g AND o.t = nw.t
        |ORDER BY is_total, source""".stripMargin,

    "q_html_strip" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    '<html><head><style>p { color: red; }</style></head><body><p>' || text ||
        |    '</p><script type="text/js">var x = 1 < 2;</script>' ||
        |    '<div>tail &amp;amp; &lt;b&gt; &nbsp;x</div></body></html>' AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM synth),
        |s2 AS (SELECT doc_id,
        |  regexp_replace(h, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(h, '(?s)<[^>]*>', ' ', 'g') AS h FROM s2),
        |s4 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(
        |    h, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS h FROM s3)
        |SELECT doc_id, trim(regexp_replace(h, '\s+', ' ', 'g')) AS text
        |FROM s4 ORDER BY doc_id""".stripMargin,

    // BPE round trip: the byte alphabet guarantees
    // decode(encode(text)) == text, so the oracle is the identity —
    // any pre-tokenizer coverage gap, merge bug, or decode bug breaks
    // the hash on real corpus text
    "q_bpe_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",

    // chunked-sequence round trip: replay the whitespace pack
    // assignment (q_pack_sequences), then the no-separator pack
    // concatenation is what decoding the id-level chunks in order
    // must reproduce
    "q_bpe_chunk_roundtrip" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('pack:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, text, CAST(h % 8 AS INT) AS pack_group,
        |    sum(n) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n AS st
        |  FROM d),
        |assigned AS (
        |  SELECT doc_id, text, pack_group, CAST(st // 2000 AS BIGINT) AS pack_id,
        |         CAST(st - (st // 2000) * 2000 AS BIGINT) AS pack_offset
        |  FROM cum WHERE length(text) > 0)
        |SELECT pack_group, pack_id,
        |  md5(string_agg(text, '' ORDER BY pack_offset, doc_id)) AS text_md5
        |FROM assigned GROUP BY 1, 2 ORDER BY pack_group, pack_id""".stripMargin,

    // EOS-separated replay: the +1 budget (every doc carries its
    // separator), NO empty-doc filter (an empty doc still contributes
    // its EOS), and the pack text joins each document with the
    // literal separator
    "q_bpe_chunk_eos" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('pack:7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END + 1 AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, text, CAST(h % 8 AS INT) AS pack_group,
        |    sum(n) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n AS st
        |  FROM d),
        |assigned AS (
        |  SELECT doc_id, text, pack_group, CAST(st // 2000 AS BIGINT) AS pack_id,
        |         CAST(st - (st // 2000) * 2000 AS BIGINT) AS pack_offset
        |  FROM cum)
        |SELECT pack_group, pack_id,
        |  md5(string_agg(text || '<|endoftext|>', '' ORDER BY pack_offset, doc_id)) AS text_md5
        |FROM assigned GROUP BY 1, 2 ORDER BY pack_group, pack_id""".stripMargin,

    // DSIR replay: featurize (lowercased whitespace unigrams+bigrams →
    // top-60-bit md5 bucket mod 8192) → fit add-1 smoothed target/raw
    // multinomials → score Σ λ[bucket]. λ is computed
    // division-then-ln exactly like the Scala side; round-6 absorbs
    // libm ulp noise (the established LM-oracle discipline).
    "q_dsir_weights" -> dsirOracle(
      "SELECT d.doc_id, round(coalesce(s.w, 0.0), 6) AS dsir_logw\n" +
        "FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id\n" +
        "ORDER BY d.doc_id"),

    // Gumbel top-k: key = w − ln(−ln(u)), u = (md5-unit-hash + 0.5) /
    // 2^60 under the Sampling "dsir:42:" salt prefix; round-6 key,
    // doc-id tie-break, LIMIT 50.
    "q_dsir_select" -> dsirOracle(
      "SELECT d.doc_id,\n" +
        "  round(coalesce(s.w, 0.0) -\n" +
        "    ln(-ln((('0x'||substr(md5('dsir:42:'||CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE + 0.5)\n" +
        "        / 1152921504606846976.0)), 6) AS dsir_key\n" +
        "FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id\n" +
        "ORDER BY dsir_key DESC, d.doc_id LIMIT 50"),

    // Classifier scoring replay: same featurize → md5-top-60-bit
    // bucket chain as the DSIR oracle, weights indexed from the fixed
    // 64-element literal, sigmoid of (Σ w + intercept). Docs with no
    // grams miss the join and coalesce to the empty-sum margin 0, the
    // kernel's own empty-array contract.
    "q_quality_classifier_score" -> {
      val wlit = classifierOracleWeights.mkString("[", ",", "]")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id,
         |    unnest(t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
         |  FROM toks),
         |scored AS (
         |  SELECT doc_id,
         |    sum(($wlit)[('0x'||substr(md5(g),1,15))::BIGINT % 64 + 1]) AS m
         |  FROM grams GROUP BY 1)
         |SELECT d.doc_id,
         |  round(1.0 / (1.0 + exp(-(coalesce(s.m, 0.0) + -0.25))), 6) AS quality_prob
         |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }
  )

  /** Shared image-signature oracle chain: syntheticGridMedia's cell
    * formula → all 64 dHash bits → 16-bit bands → signed 64-bit hash
    * (`sigv(id, b0..b3, dhash)`), parameterized by the tail CTEs +
    * final SELECT. See q_image_neardup for the full derivation. */
  private def imageSigOracle(tail: String): String =
    """WITH RECURSIVE imgs AS (
      |  SELECT i AS id,
      |         CASE WHEN i % 5 = 1 THEN i - 1 ELSE i END AS eff,
      |         (i % 10 = 6) AS pert
      |  FROM range(400) t(i)),
      |cells AS (
      |  SELECT g.id, cy.range AS cy, cx.range AS cx,
      |    CASE WHEN g.pert AND cx.range = 4 AND cy.range = 3
      |      THEN ((('0x'||substr(md5('img:'||g.eff||':'||cx.range||':'||cy.range),1,15))::BIGINT % 256) + 128) % 256
      |      ELSE ('0x'||substr(md5('img:'||g.eff||':'||cx.range||':'||cy.range),1,15))::BIGINT % 256
      |    END AS v
      |  FROM imgs g, range(8) cy, range(9) cx),
      |bits AS (
      |  SELECT a.id, a.cy * 8 + a.cx AS pos,
      |         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.id = b.id AND a.cy = b.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |bands AS (
      |  SELECT id, CAST(pos // 16 AS INT) AS band,
      |         CAST(sum(CAST(bit AS BIGINT) << CAST(pos % 16 AS INT)) AS BIGINT) AS bits
      |  FROM bits GROUP BY 1, 2),
      |sig AS (
      |  SELECT id,
      |    max(CASE WHEN band = 0 THEN bits END) AS b0,
      |    max(CASE WHEN band = 1 THEN bits END) AS b1,
      |    max(CASE WHEN band = 2 THEN bits END) AS b2,
      |    max(CASE WHEN band = 3 THEN bits END) AS b3
      |  FROM bands GROUP BY 1),
      |sigv AS (
      |  SELECT id, b0, b1, b2, b3,
      |    CAST(b0 + b1 * 65536 + b2 * 4294967296 +
      |      (b3 - CASE WHEN b3 >= 32768 THEN 65536 ELSE 0 END) * 281474976710656
      |      AS BIGINT) AS dhash
      |  FROM sig),
      |""".stripMargin + tail

  /** Shared DSIR oracle CTE chain (featurize → distributions → λ →
    * per-doc score), parameterized by the final SELECT. */
  private def dsirOracle(finalSelect: String): String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      |  FROM toks),
      |hashed AS (
      |  SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT % 8192 AS b FROM grams),
      |tgt AS (
      |  SELECT b, count(*) AS c FROM hashed
      |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE source = 'src0')
      |  GROUP BY 1),
      |rawd AS (SELECT b, count(*) AS c FROM hashed GROUP BY 1),
      |tot AS (SELECT (SELECT sum(c) FROM tgt) AS ts, (SELECT sum(c) FROM rawd) AS rs),
      |lam AS (
      |  SELECT r.b,
      |    ln((coalesce(tg.c, 0) + 1.0) / (ts + 8192.0)) -
      |    ln((r.c + 1.0) / (rs + 8192.0)) AS l
      |  FROM rawd r LEFT JOIN tgt tg ON r.b = tg.b CROSS JOIN tot),
      |scored AS (
      |  SELECT h.doc_id, sum(l.l) AS w FROM hashed h JOIN lam l ON h.b = l.b GROUP BY 1)
      |""".stripMargin + finalSelect
}
