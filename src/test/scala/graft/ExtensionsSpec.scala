package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.functions.SimHash
import graft.ops.{Dedup, Multimodal}
import graft.streaming.StreamingPit

class ExtensionsSpec extends SparkFunSuite {
  import spark.implicits._

  // ---- SimHash ------------------------------------------------------

  test("simhash64: deterministic, sensitive to content, tolerant to small edits") {
    val texts = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again today"),
      ("a2", "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      ("b", "completely different subject matter about database query engines")
    ).toDF("k", "text")
      .select(col("k"), SimHash.simhash64(split(col("text"), "\\s+")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(hamming(texts("a"), texts("a2")) < hamming(texts("a"), texts("b")))
    // determinism across evaluations
    val again = Seq("the quick brown fox jumps over the lazy dog again and again today")
      .toDF("text").select(SimHash.simhash64(split(col("text"), "\\s+")))
      .as[Long].head()
    assert(again == texts("a"))
  }

  test("unicode_normalize: composition, compatibility folding, cleanText") {
    import graft.functions.Normalize
    // explicit escapes: composed vs decomposed must be unambiguous in
    // the test source itself (an editor can silently re-normalize)
    val decomposed = "cafe\u0301"  // e + combining acute
    val composed = "caf\u00e9"     // precomposed e-acute
    val ligature = "\ufb01le"      // fi ligature
    val fullwidth = "\uff21BC"     // fullwidth A
    assert(decomposed != composed, "sanity: spellings differ pre-normalization")
    val df = Seq(decomposed, composed, ligature, fullwidth, null).toDF("t")
    val nfc = df.select(Normalize.unicodeNormalize(col("t"), "NFC").as("n"))
      .as[String].collect().toSeq
    assert(nfc(0) == composed && nfc(1) == composed,
      "both spellings must compose to the same bytes")
    assert(nfc(2) == ligature, "NFC must NOT fold compatibility forms")
    assert(nfc(4) == null, "null in, null out")
    val nfkc = df.select(Normalize.unicodeNormalize(col("t"), "NFKC").as("n"))
      .as[String].collect().toSeq
    assert(nfkc(2) == "file" && nfkc(3) == "ABC",
      "NFKC folds ligatures and fullwidth forms")
    // the expression participates in whole-stage codegen (checked over
    // a file scan — a local Seq relation constant-folds to
    // LocalTableScan and shows no codegen stage at all)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Normalize.unicodeNormalize(col("text")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen stage in this render
    assert(plan.contains("*(1) Project [unicode_normalize"), plan)
    // cleanText: the full dedup-prep composition in one pass
    val cleaned = Seq("  \uff21\t\tMessy  CAF\u00c9  text ").toDF("t")
      .select(Normalize.cleanText(col("t"))).as[String].head()
    assert(cleaned == s"a messy $composed text", s"got '$cleaned'")
    // SQL registration (both arities)
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql(s"SELECT unicode_normalize('$decomposed', 'NFC')")
      .as[String].head() == composed)
    assert(spark.sql(s"SELECT unicode_normalize('$ligature')")
      .as[String].head() == "file")
    // invalid form fails at construction, not per-row on executors
    intercept[Exception](Normalize.unicodeNormalize(col("t"), "NFX"))
  }

  test("simhash64 works under codegen and with nulls in the array") {
    val r = Seq(Seq("a", null, "b"), Seq.empty[String])
      .toDF("toks").select(SimHash.simhash64(col("toks"))).as[Long].collect()
    assert(r.length == 2)
  }

  test("simhash60md5 kernel matches the SQL md5 formulation bit-for-bit") {
    // the portable pipeline's oracle replays ('0x'||substr(md5(t),1,15))
    // in DuckDB — the codegen'd kernel must produce the identical
    // fingerprint the old 60x aggregate() SQL formulation did
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    val viaKernel = docs
      .select(col("doc_id"), SimHash.simhash60md5(col("toks")).as("sig"))
    val hashed = docs.select(col("doc_id"),
      transform(col("toks"),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")).as("__h"))
    val viaSql = hashed.select(col("doc_id"),
      (0 until 60).map(j =>
        when(aggregate(col("__h"), lit(0), (acc, h) =>
          acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)) > 0,
          lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("sig"))
    assert(viaKernel.except(viaSql).isEmpty && viaSql.except(viaKernel).isEmpty)
  }

  test("shingles kernel matches the SQL HOF formulation exactly") {
    // oracle SQL builds grams via regexp_split + list_transform, so the
    // kernel must agree with the SQL semantics it replaced — including
    // first-occurrence distinct order, empty/short texts, repeated
    // whitespace, and n = 1
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .union(Seq("", "   ", "one", "a  b   c", "x y x y x y").toDF("text"))
      .union(Seq.empty[String].toDF("text")
        .union(spark.sql("SELECT CAST(NULL AS STRING) AS text")))
    for (n <- Seq(1, 3, 4)) {
      val kernel = docs.select(Dedup.shingles(col("text"), n).as("s"))
      val sql = docs.select(Dedup.shinglesSql(col("text"), n).as("s"))
      assert(kernel.exceptAll(sql).isEmpty && sql.exceptAll(kernel).isEmpty,
        s"mismatch at n=$n")
    }
    // the occurrence-keeping sibling (topNgrams' counting unit) must
    // match the HOF formulation it replaced: every occurrence, document
    // order, duplicates kept, empty array for short/NULL texts
    for (n <- Seq(1, 2, 3)) {
      def w = graft.ops.TextAnalysis.tokens(col("text"))
      val hof = docs.select(
        when(size(w) >= n,
          transform(sequence(lit(1), size(w) - lit(n - 1)),
            i => concat_ws(" ",
              (0 until n).map(j => element_at(w, i + lit(j))): _*)))
          .otherwise(array().cast("array<string>")).as("s"))
      val kernel = docs.select(
        graft.functions.Shingles.allShingles(col("text"), n).as("s"))
      assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty,
        s"allShingles mismatch at n=$n")
    }
  }

  test("simhashPairs finds planted near-dups") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val near = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    if (near.nonEmpty) {
      val sims = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12, bands = 16)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val recall = near.count(sims.contains).toDouble / near.size
      assert(recall >= 0.5, s"recall $recall of ${near.size} pairs")
    }
  }

  test("custom expressions callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    Seq((Seq("a", "b", "c"), Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("toks", "va", "vb").createOrReplaceTempView("__fx")
    val r = spark.sql(
      "SELECT simhash64(toks) AS h, vec_dot(va, vb) AS d FROM __fx").head()
    assert(r.getDouble(1) == 11.0)
    // SQL result equals Column-API result
    val viaApi = Seq(Seq("a", "b", "c")).toDF("toks")
      .select(SimHash.simhash64(col("toks"))).as[Long].head()
    assert(r.getLong(0) == viaApi)
    // shingles with a literal n
    val sh = spark.sql("SELECT shingles('a b c d', 2) AS s").head().getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
    // non-literal n is rejected with a clear error
    val err = intercept[Exception](
      spark.sql("SELECT shingles('a b', CAST(rand() * 3 AS INT))").head())
    assert(err.getMessage.contains("integer literal") ||
      Option(err.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("curation full-hygiene pipeline: one planted failure per stage") {
    import graft.ops.{Curation, QualityFilters}
    val good1 = Seq(
      "the quick brown fox jumps over the lazy sleeping dog.",
      "a gentle rain of morning light settles over the valley.",
      "we walked to the old market and bought fresh bread.",
      "that evening the children played in the garden for hours.",
      "it is a long road that has no turning at all.",
      "people have gathered near the river to watch the boats.").mkString("\n")
    val good2 = Seq(
      "the mountain path winds upward through tall pines and cold air.",
      "a small cabin stands at the edge of the frozen lake.",
      "we carried wood inside and lit the stove before dark.",
      "that night the wind pushed hard against the wooden door.",
      "it is quiet here in ways the city never allows.",
      "people have come to this valley for rest and calm.").mkString("\n")
    val good3 = Seq(
      "the harbor fills with fishing boats at the first light.",
      "a line of gulls follows the nets back to shore.",
      "we sold the morning catch and counted out the coins.",
      "that market noise carried far across the narrow stone streets.",
      "it is honest work that feeds the whole town well.",
      "people have lived from this sea for many long years.").mkString("\n")
    // passes c4 (3 clean sentences) but 18 words < gopher minWords
    val gopherFail = Seq(
      "we saw three small birds today.",
      "they sang from the tall tree.",
      "then they flew away at dusk.").mkString("\n")
    // passes gopher (132 words, stopwords) but dup-line ratio 11/12
    val repFail = Seq.fill(12)(
      "the cat and the dog have walked to the old bridge.").mkString("\n")
    // passes gopher (2 stopword kinds, clean ratios) but comma-soup
    // punctuation + near-zero stopword ratio sinks qualityScore
    val qualFail = Seq(
      "red,, green,, blue,, yellow,, purple,, the orange,, pink,, brown,, black,, white,, ink.",
      "crimson,, olive,, navy,, gold,, silver,, and maroon,, teal,, coral,, ivory,, jade,, tint.",
      "amber,, azure,, beige,, bronze,, copper,, cyan,, indigo,, lilac,, mint,, ochre,, peach.",
      "pearl,, plum,, rose,, ruby,, rust,, sage,, sand,, sepia,, slate,, tan,, topaz.",
      "umber,, violet,, wheat,, salmon,, scarlet,, smoke,, snow,, steel,, straw,, taupe,, thistle.")
      .mkString("\n")
    // passes everything scan-side except language: german stopwords
    // dominate, with just enough english gopher-stopwords to pass gopher
    val langFail = Seq(
      "der hund und die katze laufen durch den garten and the morgen.",
      "die sonne ist warm und das wasser ist nicht kalt heute.",
      "der alte mann ist mit dem fahrrad zu dem markt gefahren.",
      "das kind und der vogel singen auf dem hohen baum zusammen.",
      "die frauen und der baecker backen das frische brot am morgen.").mkString("\n")
    val docs = Seq(
      (1L, "https://Example.com/articles/1?utm_source=feed", good1),
      (2L, "https://example.com/code", "function main() { return 0; }"),
      (3L, "https://example.com/birds", gopherFail),
      (4L, "https://example.com/bridge", repFail),
      (5L, "https://example.com/colors", qualFail),
      (6L, "https://example.com/hund", langFail),
      (7L, "https://example.com/articles/1", good2), // url-dup of doc 1
      (8L, "https://example.com/copy", good1), // exact dup of doc 1
      (9L, "https://example.com/near",
        good1.replace("watch the boats", "watch the ships")), // near dup
      (10L, "https://example.com/harbor", good3)
    ).toDF("doc_id", "url", "text")

    val r = Curation.curate(docs, minQuality = 0.6, languages = Seq("en"),
      nearDupThreshold = 0.5, nearDup = Curation.NearDup.MinhashLsh,
      hygiene = Curation.HygieneConfig(
        c4 = Some(Curation.C4Config()),
        gopher = Some(QualityFilters.GopherConfig()),
        repetition = Some(QualityFilters.RepetitionConfig()),
        urlCol = Some("url")))
    assert(r.stats.input == 10)
    assert(r.stats.stages.map(_._1) == Vector("c4", "gopher", "repetition",
      "quality", "language", "url_dup", "exact_dup", "near_dup"))
    assert(r.stats.dropped == Map(
      "c4" -> 1L, "gopher" -> 1L, "repetition" -> 1L, "quality" -> 1L,
      "language" -> 1L, "url_dup" -> 1L, "exact_dup" -> 1L, "near_dup" -> 1L))
    assert(r.stats.output == 2)
    assert(r.df.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 10L))
    // ledger arithmetic: consecutive survivor counts are monotone
    val counts = r.stats.input +: r.stats.stages.map(_._2)
    assert(counts.zip(counts.tail).forall { case (b, a) => a <= b })

    // URL-less rows pass the url_dup stage untouched: without the
    // usable-URL guard every null/empty-URL doc would collapse into
    // ONE canonical group and all but one would be silently deleted
    val mixed = Seq(
      (1L, "https://example.com/a", good1),
      (2L, null.asInstanceOf[String], good2),
      (3L, null.asInstanceOf[String], good3),
      (4L, "", qualFail)
    ).toDF("doc_id", "url", "text")
    val r2 = Curation.curate(mixed, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(urlCol = Some("url")))
    assert(r2.stats.dropped("url_dup") == 0L,
      "null/empty URLs must not dedup against each other")
    assert(r2.df.count() == 4)
  }

  test("curation resume: completed stages are read back, config drift refused") {
    import graft.ops.Curation
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val prose = (i: Int) => "the quiet harbor town wakes early with the " +
      s"fishing boats and the market opens with fresh catch today t$i"
    val docs = ((1 to 7).map(i => (i.toLong, prose(i))) :+ (8L, prose(1)))
      .toDF("doc_id", "text")
    def run(input: org.apache.spark.sql.DataFrame) =
      Curation.curate(input, minQuality = 0.0, languages = Nil,
        nearDupThreshold = 0.99, resume = Some(dir))
    val r1 = run(docs)
    val ids1 = r1.df.select("doc_id").as[Long].collect().toSet
    assert(ids1.size == 7 && !ids1.contains(8L), s"dup must drop: $ids1")
    // stage dirs + params pin + scan side counts landed
    Seq("scan", "exact_dup", "near_dup").foreach(s =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s, "_SUCCESS")),
        s"missing stage checkpoint $s"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_params.json")))

    // full resume: an EMPTY input must still reproduce run 1 — every
    // stage (including the scan aggregate) reads its checkpoint and
    // the new input is never touched
    val empty = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    val r2 = run(empty)
    assert(r2.df.select("doc_id").as[Long].collect().toSet == ids1,
      "resumed run must reproduce the checkpointed result")
    assert(r2.stats.input == r1.stats.input &&
      r2.stats.stages == r1.stats.stages, "ledger must resume too")

    // partial resume: drop the LAST stage's checkpoint — it recomputes
    // from the prior stage's checkpoint, still ignoring the new input
    val nd = new java.io.File(s"$dir/near_dup")
    nd.listFiles().foreach(_.delete()); nd.delete()
    val r3 = run(empty)
    assert(r3.df.select("doc_id").as[Long].collect().toSet == ids1,
      "recomputed tail must rebuild from the prior checkpoint")

    // changed config refuses the dir instead of mixing semantics
    val err = intercept[graft.errors.ConfigError](
      Curation.curate(docs, minQuality = 0.5, languages = Nil,
        nearDupThreshold = 0.99, resume = Some(dir)))
    assert(err.getMessage.contains("different curation parameters"), err.getMessage)
  }

  test("curation resume: crash between side-JSON and frame commit self-heals") {
    import graft.ops.Curation
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_resume_crash").toString
    val prose = (i: Int) => "the quiet harbor town wakes early with the " +
      s"fishing boats and the market opens with fresh catch today t$i"
    val docs = (1 to 6).map(i => (i.toLong, prose(i))).toDF("doc_id", "text")
    def run() = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99, resume = Some(dir))
    // inject a throwing side-writer: pre-create the scan stage's side
    // JSON path as a DIRECTORY so Files.writeString fails. The side
    // JSON is written BEFORE the frame checkpoint (commit 871fe2f), so
    // the failure must leave NO _SUCCESS-committed scan frame — the
    // reverse order would commit the frame first and leave a resume
    // state that fails hard on the missing side counts.
    Files.createDirectories(Paths.get(dir, "_scan.json"))
    intercept[Exception](run())
    assert(!Files.exists(Paths.get(dir, "scan", "_SUCCESS")),
      "a failed side write must not leave a committed scan frame " +
        "(side JSON must be written before the frame checkpoint)")
    // clear the injected fault: the interrupted stage recomputes whole
    Files.delete(Paths.get(dir, "_scan.json"))
    val r = run()
    assert(r.df.select("doc_id").as[Long].collect().toSet ==
      (1L to 6L).toSet, "post-crash rerun must self-heal by recomputation")
    assert(Files.exists(Paths.get(dir, "scan", "_SUCCESS")) &&
      Files.exists(Paths.get(dir, "_scan.json")))
  }

  test("curation resume: non-prefix checkpoints are invalidated, not mixed") {
    import graft.ops.Curation
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_resume_prefix").toString
    val prose = (i: Int) => "the quiet harbor town wakes early with the " +
      s"fishing boats and the market opens with fresh catch today t$i"
    val docs = ((1 to 7).map(i => (i.toLong, prose(i))) :+ (8L, prose(1)))
      .toDF("doc_id", "text")
    def run() = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99, resume = Some(dir))
    val ids1 = run().df.select("doc_id").as[Long].collect().toSet
    // simulate a manually cleaned INTERMEDIATE checkpoint with a stale
    // later-stage checkpoint still present: delete exact_dup, replace
    // near_dup's content with a bogus frame (as if written from a
    // different upstream state). Resuming must NOT serve the stale
    // near_dup — completed stages no longer form a prefix, so the
    // suffix is invalidated and recomputed.
    val ed = new java.io.File(s"$dir/exact_dup")
    ed.listFiles().foreach(_.delete()); ed.delete()
    Seq((99L, "bogus row from a divergent earlier run")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/near_dup")
    val r2 = run()
    assert(r2.df.select("doc_id").as[Long].collect().toSet == ids1,
      "stale non-prefix near_dup checkpoint must be invalidated and recomputed")
  }

  test("curation resume: the ledger, the stage dirs and the params pin follow one stage table") {
    import graft.ops.Curation
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_resume_table").toString
    val page = (i: Int) => "Welcome to the harbor site.\n" +
      s"The quiet harbor town wakes early with boat $i. The market opens " +
      s"with fresh catch today for visitor $i. Evening brings music to pier $i."
    val docs = ((1 to 7).map(i => (i.toLong, s"https://example.com/p$i", page(i))) :+
      ((8L, "https://example.com/p1", page(8)))).toDF("doc_id", "url", "text")
    val hygiene = Curation.HygieneConfig(urlCol = Some("url"),
      boilerplate = Some(Curation.BoilerplateConfig(maxDocFreq = 3)),
      spanDedup = Some(Curation.SpanDedupConfig()))
    def run(h: Curation.HygieneConfig = hygiene, shingleSize: Int = 3,
        nearDup: Curation.NearDup = Curation.NearDup.NgramExact) =
      Curation.curate(docs, minQuality = 0.0, languages = Nil, nearDupThreshold = 0.99,
        shingleSize = shingleSize, nearDup = nearDup, hygiene = h, resume = Some(dir))
    val r = run()
    val stages = r.stats.stages.map(_._1)
    assert(stages.take(2) == Vector("quality", "language"), stages) // the scan's rows
    assert(stages.drop(2) == Vector("url_dup", "boilerplate", "exact_dup", "span_dup",
      "near_dup"), stages)
    // committed stage dirs, ordered by when each committed
    val committed = new java.io.File(dir).listFiles().toVector
      .map(d => Paths.get(d.getPath, "_SUCCESS")).filter(Files.exists(_))
      .sortBy(Files.getLastModifiedTime(_).toInstant).map(_.getParent.getFileName.toString)
    assert(committed == "scan" +: stages.drop(2), committed)

    // drift in a stage scalar, in the shingle size or in the near-dup
    // strategy changes the pin and is refused
    val drifts = Seq(
      "boilerplate maxDocFreq" -> (() => run(h = hygiene.copy(
        boilerplate = Some(Curation.BoilerplateConfig(maxDocFreq = 4))))),
      "shingleSize" -> (() => run(shingleSize = 4)),
      "near-dup strategy" -> (() => run(nearDup = Curation.NearDup.MinhashLsh)))
    drifts.foreach { case (what, f) =>
      val err = intercept[graft.errors.ConfigError](f())
      assert(err.getMessage.contains("different curation parameters"), s"$what: ${err.getMessage}")
    }
    // the unchanged config still resumes
    assert(run().stats.stages == r.stats.stages)
  }

  test("curation resume refuses a custom MinHash hasher: a function cannot be pinned") {
    import graft.ops.Curation
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_resume_hasher").toString
    val docs = (1 to 4).map(i => (i.toLong, s"the harbor market opens early today number $i"))
      .toDF("doc_id", "text")
    val custom: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
      (c, seed) => Dedup.xxHash(c, seed)
    def run(nearDup: Curation.NearDup, resume: Option[String]) =
      Curation.curate(docs, minQuality = 0.0, languages = Nil, nearDupThreshold = 0.99,
        nearDup = nearDup, hasher = custom, resume = resume)
    val err = intercept[graft.errors.ConfigError](run(Curation.NearDup.MinhashLsh, Some(dir)))
    assert(err.getMessage.contains("cannot be pinned"), err.getMessage)
    assert(!Files.exists(Paths.get(dir, "_params.json")), "refused before anything was written")
    // nothing to pin without resume; shingle Jaccard never calls the hasher
    assert(run(Curation.NearDup.MinhashLsh, None).stats.output == 4)
    assert(run(Curation.NearDup.NgramExact, Some(dir)).stats.output == 4)
  }

  test("curation image near-dup stage dedups by perceptual hash, hashless rows pass") {
    import graft.ops.Curation
    // hashes: doc 2 within hamming 2 of doc 1 (bits 0-1 flipped), doc 3
    // far away, doc 4 imageless (null hash)
    val docs = Seq(
      (1L, java.lang.Long.valueOf(0x0123456789abcdL),
        "first page about rivers and mills and bridges today"),
      (2L, java.lang.Long.valueOf(0x0123456789abcdL ^ 3L),
        "second page describing the same hero image differently"),
      (3L, java.lang.Long.valueOf(0x7edcba9876543210L),
        "third page with a different image entirely attached"),
      (4L, null.asInstanceOf[java.lang.Long],
        "imageless page must pass through the stage untouched")
    ).toDF("doc_id", "img_hash", "text")
    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(
        imageDup = Some(Curation.ImageDupConfig("img_hash"))))
    assert(r.stats.stages.map(_._1).contains("image_dup"))
    assert(r.stats.dropped("image_dup") == 1L)
    assert(r.df.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L),
      "doc 2 collapses into doc 1's component; null hash passes")
  }

  test("curation unigram stage drops the statistical-outlier bucket") {
    import graft.ops.Curation
    val common = Seq(
      "the river runs past the mill and the old bridge",
      "the miller walks to the bridge over the river daily",
      "the bridge spans the river near the busy old mill",
      "the water turns the wheel of the river mill slowly",
      "the old bridge and the mill share the river bank",
      "the daily walk crosses the bridge to the river mill",
      "the mill wheel and the bridge frame the river view",
      "the river bank holds the mill and the old bridge")
    val gibberish = "zyxqv wvutk qponm lkjih gfedc bazyr qwopt mnbvc xswed plokm"
    val docs = (common.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) } :+
      (99L, gibberish)).toDF("doc_id", "text")
    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.9,
      hygiene = Curation.HygieneConfig(
        unigram = Some(Curation.UnigramConfig(buckets = 3, keepBuckets = 2))))
    assert(r.stats.stages.map(_._1).contains("unigram"))
    assert(r.stats.dropped("unigram") >= 1)
    assert(r.stats.after("unigram") ==
      r.stats.after("exact_dup") - r.stats.dropped("unigram"))
    // the gibberish doc's tokens appear nowhere else: lowest mean log
    // prob, bottom bucket, dropped
    assert(!r.df.select("doc_id").as[Long].collect().contains(99L))

    // the bigram LM stage composes the same way. The model is trained
    // on the CLEAN docs (the real CCNet setup): under a self-trained
    // model a gibberish doc's all-(unk,unk) bigrams would score ITS OWN
    // aggregated UNK mass — rare tokens collapse into one well-observed
    // state — which is exactly why CCNet trains on a reference corpus.
    val refModel = graft.ops.QualityFilters.bigramModel(
      docs.filter($"doc_id" =!= 99L), minCount = 1)
    val rb = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.9,
      hygiene = Curation.HygieneConfig(
        bigram = Some(Curation.BigramConfig(
          buckets = 3, keepBuckets = 2, model = Some(refModel)))))
    assert(rb.stats.stages.map(_._1).contains("bigram"))
    assert(rb.stats.dropped("bigram") >= 1)
    assert(!rb.df.select("doc_id").as[Long].collect().contains(99L))
  }

  test("curate lineDedup: survivor text is rewritten, no ledger row, exact dedup unifies") {
    import graft.ops.Curation
    // docs 1 and 2 differ ONLY in how often a line repeats -> after the
    // scan-side rewrite they are byte-identical and exact dedup keeps one
    val docs = Seq(
      (1L, "same line here\nsame line here\nsecond line now"),
      (2L, "same line here\nsecond line now"),
      (3L, "all unique alpha\nall unique beta")
    ).toDF("doc_id", "text")
    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(lineDedup = true))
    // a rewrite, not a filter: no ledger row, nothing dropped by scan
    assert(!r.stats.stages.map(_._1).contains("line_dedup"))
    val kept = r.df.select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(kept.values.forall(!_.contains("same line here\nsame line here")),
      s"duplicated line must be rewritten: $kept")
    assert(r.stats.dropped("exact_dup") == 1,
      s"rewritten twins must collapse in exact dedup: ${r.stats}")
    assert(kept.contains(3L))
    // without the flag the twins stay distinct
    val r0 = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig())
    assert(r0.stats.dropped("exact_dup") == 0, r0.stats.toString)
    r.release(); r0.release()
  }

  test("curate mojibakePasses: repaired pre-verdict, corrupted twin rejoins its dup cluster") {
    import graft.ops.Curation
    val clean = "the café serves warm crème brûlée every single morning here"
    // the corrupted twin: same doc mis-decoded through CP1252 upstream
    val corrupted = new String(
      clean.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")
    assert(corrupted != clean)
    val docs = Seq(
      (1L, clean),
      (2L, corrupted),
      (3L, "an unrelated page about harbor boats and morning fog banks")
    ).toDF("doc_id", "text")
    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(mojibakePasses = 1))
    // a pre-transform, not a filter: no ledger row of its own
    assert(!r.stats.stages.map(_._1).contains("mojibake"))
    // the twins hash identically after repair -> exact dedup keeps one
    assert(r.stats.dropped("exact_dup") == 1, r.stats.toString)
    val kept = r.df.select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    // survivor text is the REPAIRED text
    assert(kept.values.forall(t => !t.contains("Ã©") && !t.contains("Ã¨")),
      s"survivors must carry repaired text: $kept")
    assert(kept.contains(3L))
    // default (0 passes) leaves the corrupted twin distinct
    val r0 = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99, hygiene = Curation.HygieneConfig())
    assert(r0.stats.dropped("exact_dup") == 0, r0.stats.toString)
    r.release(); r0.release()
  }

  test("curation second-wave stages: one planted failure per stage") {
    import graft.ops.Curation
    val banner = "accept all cookies to continue browsing"
    val prose1 = "the quiet harbor town wakes early with the fishing boats."
    val prose4 = "a narrow lane climbs from the square toward the chapel."
    val sharedBlock = "Shared sky one. Shared sky two. Shared sky three."
    val contamText = "the secret benchmark passage hides inside this training document today."
    val docs = Seq(
      // survives everything; carries the boilerplate banner
      (1L, s"$banner\n$prose1", Array(1.0, 0.0, 0.0, 0.0)),
      // blocklist word
      (2L, "this page contains verboten content and nothing else.", Array(0.9, 0.1, 0.0, 0.0)),
      // nothing BUT the banner: emptied by the strip, dropped
      (3L, banner, Array(0.8, 0.2, 0.0, 0.0)),
      // banner + unique prose: survives de-bannered
      (4L, s"$banner\n$prose4", Array(0.0, 1.0, 0.0, 0.0)),
      // span winner (min id): keeps the shared block and its tail
      (5L, s"$sharedBlock The unique tail sentence stays here.", Array(0.0, 0.0, 1.0, 0.0)),
      // span loser: was only the block, emptied, dropped
      (6L, sharedBlock, Array(0.0, 0.9, 0.1, 0.0)),
      // shares an 8-gram with the eval set
      (7L, contamText, Array(0.3, 0.3, 0.3, 0.0)),
      // semantic near-identical pair: one of the two survives
      (8L, "winter light settles over the frozen pond by the farm.", Array(0.0, 0.0, 0.0, 1.0)),
      (9L, "the orchard keeper counts the last crates of apples now.", Array(0.0, 0.0, 0.05, 0.999))
    ).toDF("doc_id", "text", "vec")
    val evalDf = Seq((100L, contamText)).toDF("doc_id", "text")

    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.9,
      hygiene = Curation.HygieneConfig(
        blocklist = Some(Seq("verboten")),
        boilerplate = Some(Curation.BoilerplateConfig(maxDocFreq = 2)),
        spanDedup = Some(Curation.SpanDedupConfig(span = 3)),
        decontaminate = Some(Curation.DecontaminateConfig(evalDf, n = 8)),
        semDedup = Some(Curation.SemDeDupConfig("vec", threshold = 0.95, nlist = 1))))
    assert(r.stats.input == 9)
    assert(r.stats.stages.map(_._1) == Vector("quality", "language",
      "blocklist", "boilerplate", "exact_dup", "span_dup", "contaminated",
      "near_dup", "semantic_dup"))
    assert(r.stats.dropped == Map(
      "quality" -> 0L, "language" -> 0L, "blocklist" -> 1L,
      "boilerplate" -> 1L, "exact_dup" -> 0L, "span_dup" -> 1L,
      "contaminated" -> 1L, "near_dup" -> 0L, "semantic_dup" -> 1L))
    val kept = r.df.select("doc_id").as[Long].collect().toSet
    assert(kept.intersect(Set(1L, 4L, 5L)) == Set(1L, 4L, 5L))
    assert(kept.intersect(Set(8L, 9L)).size == 1, s"one of the semantic pair: $kept")
    assert(r.stats.output == 4)
    // the banner is gone from the survivors that carried it
    val texts = r.df.filter($"doc_id".isin(1L, 4L)).select("text").as[String].collect()
    assert(texts.forall(!_.contains("accept all cookies")))
    // release() owns the library-internal caches too (tracking scope):
    // well beyond the frames curate registers directly
    assert(r.cached.nonEmpty)
    r.release()
    assert(r.cached.forall(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
  }

  test("curation decontaminate stage: bloom path drops the same rows") {
    import graft.ops.Curation
    val contam = "the shared eight gram contamination sentence lives right here today"
    val docs = Seq(
      (1L, "plain clean prose about gardens and the weather in spring."),
      (2L, s"prefix words then $contam and a tail."),
      (3L, "another clean document that shares nothing with the eval set.")
    ).toDF("doc_id", "text")
    val evalDf = Seq((100L, contam)).toDF("doc_id", "text")
    def run(bloom: Boolean) = Curation.curate(docs,
      minQuality = 0.0, languages = Nil, nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(decontaminate =
        Some(Curation.DecontaminateConfig(evalDf, n = 8, bloom = bloom))))
    val plain = run(bloom = false)
    val bloomed = run(bloom = true)
    assert(bloomed.stats.dropped("contaminated") == 1L)
    assert(plain.stats.dropped == bloomed.stats.dropped,
      "bloom decontamination must change the plan, never the ledger")
    assert(plain.df.select("doc_id").as[Long].collect().sorted.toSeq ==
      bloomed.df.select("doc_id").as[Long].collect().sorted.toSeq)
    plain.release(); bloomed.release()
  }

  test("curation dsir stage selects the k most target-like survivors, last") {
    import graft.ops.Curation
    val docs = ((1 to 20).map(i => (i.toLong, s"cat purr kitten whiskers nap c$i")) ++
      (21 to 40).map(i => (i.toLong, s"dog bark kennel bone growl d$i")) ++
      // an exact-dup pair: the near-dup/exact stages must run BEFORE
      // selection so the duplicate cannot be drawn twice
      Seq((41L, "cat purr kitten whiskers nap c1")))
      .toDF("doc_id", "text")
    val target = Seq((100L, "cat kitten purr nap whiskers"))
      .toDF("doc_id", "text")
    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(
        dsir = Some(Curation.DsirConfig(target, k = 10, buckets = 1024))))
    assert(r.stats.stages.map(_._1) == Vector("quality", "language",
      "exact_dup", "near_dup", "dsir_selected"))
    assert(r.stats.dropped("exact_dup") == 1, "the planted dup goes first")
    assert(r.stats.after("dsir_selected") == 10)
    val kept = r.df.select("doc_id").as[Long].collect().toSet
    assert(kept.size == 10)
    assert(kept.count(_ <= 20) >= 8,
      s"selection should skew hard toward the cat domain, got $kept")
    // selection output keeps the input schema (score columns dropped)
    assert(r.df.columns.toSet == Set("doc_id", "text"))
    r.release()
  }

  test("curation classifier stage keeps reference-like docs, runs post-dedup") {
    import graft.ops.Curation
    val docs = ((1 to 20).map(i => (i.toLong, s"cat purr kitten whiskers nap c$i")) ++
      (21 to 40).map(i => (i.toLong, s"dog bark kennel bone growl d$i")))
      .toDF("doc_id", "text")
    val reference = (1 to 10).map(i => (200L + i, "cat kitten purr nap whiskers"))
      .toDF("doc_id", "text")
    // negatives: the full survivor sample (rate 1.0; planted-scale
    // corpora are too small for the default 1%). The sample CONTAINS
    // the cat docs — the GPT-3-style noisy-negative setup — so where
    // cats land depends on the fit; what IS deterministic is that dog
    // docs (absent from the positives) score ~0 and drop, and the
    // stage runs between exact dedup and near-dup
    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(
        classifier = Some(Curation.ClassifierConfig(
          positives = Some(reference), minProb = 0.15,
          negativeRate = 1.0, buckets = 1024))))
    assert(r.stats.stages.map(_._1) == Vector("quality", "language",
      "exact_dup", "classifier", "near_dup"))
    val kept = r.df.select("doc_id").as[Long].collect().toSet
    assert(kept.forall(_ <= 20L),
      s"no dog doc may pass the classifier, got $kept")
    assert(r.stats.dropped("classifier") >= 20,
      s"the 20 dog docs must be dropped: ${r.stats.dropped}")
    // a pre-trained model skips the fit and gives the same outcome
    val m = graft.ops.QualityClassifier.train(reference,
      docs.filter($"doc_id" > 20L), buckets = 1024)
    val r2 = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(
        classifier = Some(Curation.ClassifierConfig(
          model = Some(m), minProb = 0.5))))
    val kept2 = r2.df.select("doc_id").as[Long].collect().toSet
    assert(kept2 == (1 to 20).map(_.toLong).toSet, s"got $kept2")
    r.release(); r2.release()
  }

  test("curation exactSubstr stage drops terminator-free duplicated passages") {
    import graft.ops.Curation
    val run = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"keeper $run intro"),
      (2L, run), // emptied by the removal, dropped
      (3L, "completely different prose that stands alone fine")
    ).toDF("doc_id", "text")
    val r = Curation.curate(docs, minQuality = 0.0, languages = Nil,
      nearDupThreshold = 0.99,
      hygiene = Curation.HygieneConfig(
        exactSubstr = Some(Curation.ExactSubstrConfig(k = 8))))
    assert(r.stats.stages.map(_._1).contains("exact_substr"))
    assert(r.stats.dropped("exact_substr") == 1)
    assert(r.df.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    val kept1 = r.df.filter($"doc_id" === 1L).select("text").as[String].head()
    assert(kept1 == s"keeper $run intro", "winner keeps its passage verbatim")
    r.release()
  }

  test("unigram model round-trips through parquet and scores cross-corpus") {
    import graft.ops.QualityFilters
    val ref = Seq(
      (1L, "the river runs past the mill"),
      (2L, "the mill stands by the river"),
      (3L, "the river and the mill again")).toDF("doc_id", "text")
    val target = Seq(
      (10L, "the river mill"),          // all tokens frequent in ref
      (11L, "quantum flux capacitor")). // none present in ref
      toDF("doc_id", "text")
    val model = QualityFilters.unigramModel(ref)
    val dir = java.nio.file.Files.createTempDirectory("unigram_model").toString
    try {
      QualityFilters.saveUnigramModel(model, s"$dir/m.parquet")
      val loaded = QualityFilters.loadUnigramModel(spark, s"$dir/m.parquet")
      // loaded model produces bit-identical scores to the in-memory one
      def scores(m: org.apache.spark.sql.DataFrame): Map[Long, Double] =
        QualityFilters.unigramLogProbs(target, model = Some(m))
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val a = scores(model)
      val b = scores(loaded)
      assert(a == b)
      // cross-corpus semantics: in-vocabulary doc scores strictly higher
      assert(a(10L) > a(11L))
      // contract validation: wrong schema is rejected up front
      Seq((1, 2)).toDF("x", "y").write.mode("overwrite").parquet(s"$dir/bad.parquet")
      val e = intercept[IllegalArgumentException](
        QualityFilters.loadUnigramModel(spark, s"$dir/bad.parquet"))
      assert(e.getMessage.contains("token"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("curation pipeline composes filters + dedup with drop accounting") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away today"), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog and runs far away tonight"), // near dup
      (4L, "!!! ??? ### $$$"), // junk -> quality filter
      (5L, "der hund und die katze sind nicht zu hause und das ist gut so heute"), // german
      (6L, "a completely different document about the weather in the mountains today")
    ).toDF("doc_id", "text")
    val r = graft.ops.Curation.curate(docs, minQuality = 0.3,
      languages = Seq("en"), nearDupThreshold = 0.5)
    val kept = r.df.select("doc_id").as[Long].collect().sorted.toSeq
    assert(r.stats.input == 6)
    assert(r.stats.dropped("quality") >= 1) // junk gone
    assert(r.stats.dropped("language") >= 1) // german gone
    assert(r.stats.dropped("exact_dup") == 1) // doc 2
    assert(r.stats.dropped("near_dup") == 1) // doc 3
    assert(kept == Seq(1L, 6L))
    // the MinhashLsh scale path makes the same decisions on this
    // deterministic planted corpus (calibrated banding; md5 hashing is
    // fixed). In general LSH keeps a DIFFERENT set — misses drop fewer
    // docs, estimation false-positives can drop more — so only the
    // concrete outcome is pinned, not an ordering between the paths.
    val rl = graft.ops.Curation.curate(docs, minQuality = 0.3,
      languages = Seq("en"), nearDupThreshold = 0.5,
      nearDup = graft.ops.Curation.NearDup.MinhashLsh)
    assert(rl.df.select("doc_id").as[Long].collect().sorted.toSeq == kept)
  }

  // ---- Multimodal ---------------------------------------------------

  test("multimodal real ImageIO decode: exact dims + luminance embedding") {
    // syntheticPng dims are pinned by construction: (8 + seed%9) x (8 + seed/3%7)
    val png = Multimodal.syntheticPng(4L)
    // PNG magic bytes — these are real encoded files, not fakes
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val Some((w, h, emb)) = Multimodal.decodeImage(png, dim = 16)
    assert(w == 12 && h == 9) // 8 + 4%9 = 12, 8 + 4/3%7 = 9
    assert(emb.length == 16 && emb.forall(v => v >= 0f && v <= 1f))
    assert(emb.distinct.length > 1) // a real luminance grid, not a constant
    // a solid-white image must decode to an all-ones grid
    val white = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) white.setRGB(x, y, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(white, "png", bos)
    val Some((ww, wh, wemb)) = Multimodal.decodeImage(bos.toByteArray, dim = 4)
    assert(ww == 8 && wh == 8)
    wemb.foreach(v => assert(math.abs(v - 1f) < 1e-3f))
    // non-image bytes are not decodable -> None (imageFeatures skips them)
    assert(Multimodal.decodeImage(Array.tabulate(64)(_.toByte)).isEmpty)
  }

  test("multimodal imageFeatures: real path for PNGs, fallback for opaque") {
    val media = Multimodal.syntheticMedia(spark, 20)
    val feats = Multimodal.imageFeatures(media, dim = 16).collect()
      .map(f => f.media_id -> f).toMap
    // even ids are real PNGs: dimensions match syntheticPng's construction
    (0 until 20 by 2).foreach { i =>
      val f = feats(i.toLong)
      assert(f.width == 8 + i % 9, s"media $i width")
      assert(f.height == 8 + i / 3 % 7, s"media $i height")
    }
    // odd ids are WAVs — not images, so they are skipped: no row is
    // fabricated for bytes the decoder cannot read
    assert(feats.keySet == (0 until 20 by 2).map(_.toLong).toSet,
      s"undecodable rows must be absent, got ${feats.keys.toSeq.sorted}")
  }

  test("multimodal plumbing: schema, determinism, batch independence") {
    val media = Multimodal.syntheticMedia(spark, 200)
    val feats = Multimodal.imageFeatures(media, dim = 8)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("media_id", "width", "height", "embedding"))
    val rows = feats.collect()
    assert(rows.length == 100) // the 100 PNGs; the WAVs are skipped
    assert(rows.forall(_.embedding.length == 8))
    // repartitioning must not change results (batch-shape independence)
    val repart = Multimodal.imageFeatures(media, dim = 8, repartitionTo = Some(7))
      .collect().map(f => f.media_id -> f.embedding.toSeq).toMap
    rows.foreach(f => assert(repart(f.media_id) == f.embedding.toSeq))
    // same knob, same independence on the audio and video paths
    val audio = Multimodal.audioFeatures(media).collect()
      .map(a => a.media_id -> a.mfcc.toSeq).toMap
    Multimodal.audioFeatures(media, repartitionTo = Some(5)).collect()
      .foreach(a => assert(audio(a.media_id) == a.mfcc.toSeq))
    val vids = Multimodal.syntheticVideos(spark, 20)
    val vf = Multimodal.videoFrameFeatures(vids).collect()
      .map(f => (f.media_id, f.frameIndex) -> f.embedding.toSeq).toMap
    val vfr = Multimodal.videoFrameFeatures(vids, repartitionTo = Some(5)).collect()
    assert(vfr.length == vf.size)
    vfr.foreach(f => assert(vf((f.media_id, f.frameIndex)) == f.embedding.toSeq))
  }

  test("audio decode is real: WAV metadata, MFCC frequency sensitivity") {
    // metadata contract: javax.sound must recover exactly what
    // syntheticWav encoded (8 kHz, 800 + seed%1600 frames)
    (1 until 20 by 2).foreach { i =>
      val Some((sr, durMs, mfcc)) = Multimodal.decodeAudio(Multimodal.syntheticWav(i))
      assert(sr == 8000, s"seed $i sample rate")
      assert(durMs == math.round((800 + i % 1600) * 1000.0 / 8000.0), s"seed $i duration")
      assert(mfcc.length == 13)
    }
    // determinism
    val a1 = Multimodal.decodeAudio(Multimodal.syntheticWav(7)).get._3.toSeq
    val a2 = Multimodal.decodeAudio(Multimodal.syntheticWav(7)).get._3.toSeq
    assert(a1 == a2)
    // the MFCC is a real spectral feature: two pure tones an octave
    // apart must land far apart; identical tones must coincide
    def toneMfcc(freq: Int): Array[Float] = {
      val sr = 8000
      val pcm = new Array[Byte](sr * 2) // 1 second
      (0 until sr).foreach { i =>
        val v = (math.sin(2 * math.Pi * freq * i / sr) * 12000).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, sr.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      Multimodal.decodeAudio(bos.toByteArray).get._3
    }
    def dist(x: Array[Float], y: Array[Float]): Double =
      math.sqrt(x.zip(y).map { case (a, b) => (a - b).toDouble * (a - b) }.sum)
    assert(dist(toneMfcc(440), toneMfcc(880)) > 1.0,
      "octave-apart tones must separate in MFCC space")
    assert(dist(toneMfcc(440), toneMfcc(440)) == 0.0)
    // non-audio bytes are not decodable -> None (audioFeatures skips them)
    assert(Multimodal.decodeAudio(Array.tabulate(64)(_.toByte)).isEmpty)
  }

  test("audio decode rejects a header claiming an implausible channel count") {
    // a crafted 44-byte WAV claiming 65535 channels would size the
    // read buffer at frameBytes*1024 ≈ 134 MB before any data is read,
    // and the OutOfMemoryError is outside the decoders' Exception
    // contract — the clamp must return None without allocating
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def wavWithChannels(ch: Int): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ le32(36) ++ "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(ch) ++
        le32(8000) ++ le32(8000 * ch * 2) ++ le16(ch * 2) ++ le16(16) ++
        "data".getBytes("US-ASCII") ++ le32(0)
    assert(Multimodal.decodeAudio(wavWithChannels(65535)).isEmpty)
    assert(Multimodal.decodeAudio(wavWithChannels(0)).isEmpty)
    // a plausible multichannel header within the clamp still decodes
    assert(Multimodal.decodeAudio(wavWithChannels(2)).isDefined)
  }

  test("audio decode transcodes stereo and 8-bit inputs to the same features") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val sr = 8000
    val n = 2000
    def sine(i: Int) = (math.sin(2 * math.Pi * 440 * i / sr) * 12000).toInt
    def wav(fmt: AudioFormat, pcm: Array[Byte], frames: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // mono 16-bit reference
    val mono = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val v = sine(i); mono(2 * i) = (v & 0xff).toByte; mono(2 * i + 1) = (v >> 8).toByte
    }
    val ref = Multimodal.decodeAudio(
      wav(new AudioFormat(sr.toFloat, 16, 1, true, false), mono, n)).get
    // stereo with L = R = the same sine: channel mixing must reproduce
    // the mono signal exactly -> identical rate, duration, AND mfcc
    val stereo = new Array[Byte](n * 4)
    (0 until n).foreach { i =>
      val v = sine(i)
      stereo(4 * i) = (v & 0xff).toByte; stereo(4 * i + 1) = (v >> 8).toByte
      stereo(4 * i + 2) = (v & 0xff).toByte; stereo(4 * i + 3) = (v >> 8).toByte
    }
    val st = Multimodal.decodeAudio(
      wav(new AudioFormat(sr.toFloat, 16, 2, true, false), stereo, n)).get
    assert(st._1 == ref._1 && st._2 == ref._2)
    assert(st._3.toSeq == ref._3.toSeq, "L=R stereo must decode identically to mono")
    // 8-bit unsigned PCM goes through the JDK transcoder. Quantization
    // noise lifts the log floor of the tone's SILENT mel bands, so
    // absolute MFCC distance to the 16-bit original is large by
    // construction — the property consumers rely on is RELATIVE: the
    // 8-bit clip must still sit nearer its own tone than another tone.
    val eight = new Array[Byte](n)
    (0 until n).foreach(i => eight(i) = ((sine(i) >> 8) + 128).toByte)
    val e8 = Multimodal.decodeAudio(
      wav(new AudioFormat(sr.toFloat, 8, 1, false, false), eight, n)).get
    assert(e8._1 == sr && e8._2 == ref._2)
    val other = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val v = (math.sin(2 * math.Pi * 1800 * i / sr) * 12000).toInt
      other(2 * i) = (v & 0xff).toByte; other(2 * i + 1) = (v >> 8).toByte
    }
    val ref1800 = Multimodal.decodeAudio(
      wav(new AudioFormat(sr.toFloat, 16, 1, true, false), other, n)).get
    def dist(x: Array[Float], y: Array[Float]): Double =
      math.sqrt(x.zip(y).map { case (a, b) => (a - b).toDouble * (a - b) }.sum)
    assert(dist(e8._3, ref._3) < dist(e8._3, ref1800._3),
      "8-bit 440Hz must stay nearer 16-bit 440Hz than 16-bit 1800Hz")
  }

  test("mfcc features compose with the similarity operators") {
    // media similarity search = audioFeatures |> bruteForceTopK on the
    // mfcc column: clips of the same tone must rank each other first,
    // ahead of a different tone
    import spark.implicits._
    def toneWav(freq: Int, phase: Int): Array[Byte] = {
      val sr = 8000; val n = 1600
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val v = (math.sin(2 * math.Pi * freq * (i + phase) / sr) * 12000).toInt
        pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = (v >> 8).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // ids 0,1: 440 Hz (different phases); ids 2,3: 1800 Hz
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, "audio/wav", toneWav(440, 0)),
      Multimodal.MediaRow(1L, "audio/wav", toneWav(440, 3)),
      Multimodal.MediaRow(2L, "audio/wav", toneWav(1800, 0)),
      Multimodal.MediaRow(3L, "audio/wav", toneWav(1800, 5))))
    val feats = Multimodal.audioFeatures(media).toDF()
      .select(col("media_id"), col("mfcc"))
    val top1 = graft.ops.Similarity.bruteForceTopK(feats, feats,
      "media_id", "media_id", "mfcc", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1(0L) == 1L && top1(1L) == 0L, s"same-tone clips must pair: $top1")
    assert(top1(2L) == 3L && top1(3L) == 2L, s"same-tone clips must pair: $top1")
  }

  test("video decode is real: RIFF parse, JPEG dims, pixel-hash dedup") {
    // container contract: the RIFF walk must find exactly the frames
    // syntheticMjpegAvi wrote, and ImageIO must recover their dims
    (0 until 12).foreach { i =>
      val avi = Multimodal.syntheticMjpegAvi(i)
      val chunks = Multimodal.aviFrameChunks(avi)
      assert(chunks.isDefined, s"seed $i should parse as AVI")
      assert(chunks.get.length == 4 + i % 5, s"seed $i frame count")
    }
    val media = Multimodal.syntheticVideos(spark, 12)
    val feats = Multimodal.videoFrameFeatures(media, stride = 1).collect()
    assert(feats.length == (0 until 12).map(i => 4 + i % 5).sum)
    feats.foreach { f =>
      val i = f.media_id
      assert(f.width == 16 + (i % 7) * 2 && f.height == 12 + (i / 5 % 5) * 2,
        s"media $i frame ${f.frameIndex} dims")
      assert(f.embedding.length == 16)
    }
    // stride + maxFrames are honored
    val strided = Multimodal.videoFrameFeatures(media, stride = 3, maxFrames = 1).collect()
    assert(strided.length == 12 && strided.forall(_.frameIndex == 0))
    // frame content repeats with period 3 — the DECODED-pixel hash
    // must collide exactly there and nowhere else within a period
    val hashes = Multimodal.sampleFrames(media, frames = 100, stride = 1).collect()
      .groupBy(_.media_id).map { case (id, fs) =>
        id -> fs.sortBy(_.frameIndex).map(_.frameHash).toSeq }
    hashes.foreach { case (id, hs) =>
      assert(hs.length == 4 + id % 5, s"media $id real frame count")
      assert(hs(0) == hs(3), s"media $id frames 0/3 are byte-identical input")
      assert(hs(0) != hs(1) && hs(1) != hs(2) && hs(0) != hs(2),
        s"media $id distinct frames must not collide")
    }
    // non-AVI bytes are not a container -> no fabricated frames
    val junk = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, "video/mp4", Array.tabulate(128)(_.toByte))))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    assert(Multimodal.videoFrameFeatures(junk).collect().isEmpty)
  }

  test("image resize: exact target dims, deterministic, content-preserving") {
    // dims contract over every synthetic shape
    (0 until 10).foreach { i =>
      val out = Multimodal.resizeImage(Multimodal.syntheticPng(i), 32, 24).get
      val Some((w, h, _)) = Multimodal.decodeImage(out)
      assert(w == 32 && h == 24, s"seed $i resized dims")
    }
    // deterministic: same input -> byte-identical output
    assert(Multimodal.resizeImage(Multimodal.syntheticPng(5), 16, 16).get.toSeq ==
      Multimodal.resizeImage(Multimodal.syntheticPng(5), 16, 16).get.toSeq)
    // content-preserving: on an image with coarse structure (smooth
    // gradient — what perceptual hashing is FOR; pixel noise has no
    // scale-stable structure by definition) a resize is a perceptual
    // no-op, so the dHash stays within the near-dup band
    val grad = {
      val img = new java.awt.image.BufferedImage(
        60, 45, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 45).foreach { y =>
        (0 until 60).foreach { x =>
          val v = ((math.sin(3.0 * x / 60) + math.cos(2.0 * y / 45)) * 60 + 128).toInt
          img.setRGB(x, y, v << 16 | v << 8 | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val up = Multimodal.resizeImage(grad, 120, 90).get
    val down = Multimodal.resizeImage(grad, 30, 22).get
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(Multimodal.dHash64(grad).get, Multimodal.dHash64(up).get) <= 3)
    assert(ham(Multimodal.dHash64(grad).get, Multimodal.dHash64(down).get) <= 3)
    // uniform image stays exactly uniform through up AND down scaling
    val white = new java.awt.image.BufferedImage(
      10, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 10).foreach(y => (0 until 10).foreach(x => white.setRGB(x, y, 0xffffff)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(white, "png", bos)
    Seq((25, 7), (4, 4)).foreach { case (w, h) =>
      val r = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Multimodal.resizeImage(bos.toByteArray, w, h).get))
      (0 until h).foreach(y => (0 until w).foreach(x =>
        assert((r.getRGB(x, y) & 0xffffff) == 0xffffff)))
    }
    // pipeline pass: images resized, non-images pass through unchanged
    val media = Multimodal.syntheticMedia(spark, 10)
    val resized = Multimodal.resizeImages(media, 20, 20).collect()
      .map(m => m.media_id -> m).toMap
    assert(resized.size == 10)
    (0 until 10 by 2).foreach { i =>
      val Some((w, h, _)) = Multimodal.decodeImage(resized(i.toLong).content)
      assert(w == 20 && h == 20)
    }
    (1 until 10 by 2).foreach { i =>
      assert(resized(i.toLong).content.toSeq == Multimodal.syntheticWav(i).toSeq,
        s"non-image payload $i must pass through untouched")
    }
  }

  test("image dHash: perceptual stability across encode/scale, discrimination") {
    import java.awt.image.BufferedImage
    def render(seed: Int, scale: Int): BufferedImage = {
      val w = 64 * scale; val h = 48 * scale
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          // smooth seed-dependent gradient: perceptual structure that
          // survives JPEG and rescaling
          val v = ((math.sin(seed + 3.0 * x / w) + math.cos(seed * 2 + 2.0 * y / h))
            * 60 + 128).toInt.max(0).min(255)
          img.setRGB(x, y, v << 16 | v << 8 | v)
        }
      }
      img
    }
    def enc(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val png = Multimodal.dHash64(enc(render(1, 1), "png")).get
    // same pixels through lossy JPEG: perceptually identical
    assert(ham(png, Multimodal.dHash64(enc(render(1, 1), "jpg")).get) <= 3)
    // same content at 2x resolution: the area-averaged grid is scale-stable
    assert(ham(png, Multimodal.dHash64(enc(render(1, 2), "png")).get) <= 3)
    // different content separates clearly beyond the near-dup band
    // (these are both smooth gradients — structurally the hardest
    // negatives — so the margin is 2x the band, not the ~32 bits
    // independent images average)
    assert(ham(png, Multimodal.dHash64(enc(render(7, 1), "png")).get) > 6)
    // non-images produce no hash
    assert(Multimodal.dHash64(Array.tabulate(64)(_.toByte)).isEmpty)

    // corpus-scale pipeline: imageDHashes |> hammingPairs64 finds the
    // planted re-encoded pair and nothing else
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, "image/png", enc(render(1, 1), "png")),
      Multimodal.MediaRow(1L, "image/jpeg", enc(render(1, 1), "jpg")),
      Multimodal.MediaRow(2L, "image/png", enc(render(7, 1), "png")),
      Multimodal.MediaRow(3L, "audio/wav", Multimodal.syntheticWav(3))))
    val hashes = Multimodal.imageDHashes(media)
    assert(hashes.count() == 3) // the WAV emits nothing
    val pairs = graft.ops.Dedup.hammingPairs64(hashes, "media_id", "dhash",
      maxHamming = 3, bands = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
  }

  test("image near-dup dedup: planted exact and perturbed twins collapse to min id") {
    // syntheticGridMedia plants id%10==1 as byte-identical copies of
    // id-1 and id%10==6 as hamming<=2 perturbed twins of id-1
    val media = Multimodal.syntheticGridMedia(spark, 100)
    val kept = Multimodal.dedupImagesByDHash(media)
      .select("media_id").as[Long].collect().toSet
    assert(kept == (0L until 100L).filterNot(_ % 5 == 1).toSet,
      s"every planted twin (ids %5==1) must collapse into its base: $kept")
    val pairs = Multimodal.imageNearDupPairs(media)
      .select(col("a"), col("b"), col("hamming").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    (0 until 100).filter(_ % 10 == 1).foreach(i =>
      assert(pairs.get((i - 1L, i.toLong)).contains(0L),
        s"exact copy $i must pair with ${i - 1} at hamming 0"))
    (0 until 100).filter(_ % 10 == 6).foreach(i =>
      assert(pairs.get((i - 1L, i.toLong)).exists(_ <= 2L),
        s"perturbed twin $i must pair with ${i - 1} within hamming 2"))
  }

  test("incremental hamming dedup: store hits drop, intra-batch dedup, null sigs pass") {
    import graft.ops.Dedup
    val store = Seq((1L, 100L), (2L, 0x0f0f0f0fL)).toDF("media_id", "dhash")
    val batch = Seq(
      (10L, java.lang.Long.valueOf(100L ^ 1L)), // hamming 1 of stored id 1
      (11L, java.lang.Long.valueOf(0x7000000000L)), // fresh
      (12L, java.lang.Long.valueOf(0x7000000000L ^ 3L)), // hamming 2 of 11
      (13L, null.asInstanceOf[java.lang.Long]) // undecodable: passes
    ).toDF("media_id", "dhash")
    val kept = Dedup.incrementalHammingDedup(batch, store, "media_id", "dhash")
      .select("media_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L), s"got $kept")
    // persisted store round trip
    val dir = java.nio.file.Files.createTempDirectory("graft_hashstore").toString
    Dedup.saveHashStore(store, "media_id", "dhash", dir)
    val loaded = Dedup.loadHashStore(spark, "media_id", "dhash", dir)
    assert(loaded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 100L), (2L, 0x0f0f0f0fL)))
  }

  test("audio fingerprint: gain-stable, re-encode exact, discriminative; banded dedup") {
    // two-tone clip with a rising envelope: decisive temporal-spectral
    // structure, so the sign-of-delta bits survive PCM re-quantization
    def wav(freqA: Int, freqB: Int, amp: Double): Array[Byte] = {
      val sr = 8000; val frames = 4000
      val pcm = new Array[Byte](frames * 2)
      var i = 0
      while (i < frames) {
        val f = if (i < frames / 2) freqA else freqB
        val env = 0.2 + 0.8 * i / frames
        val v = (math.sin(2 * math.Pi * f * i / sr) * env * amp * 32767).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = Multimodal.audioFingerprint64(wav(300, 1200, 0.9)).get
    // byte-identical clip -> identical fingerprint
    assert(Multimodal.audioFingerprint64(wav(300, 1200, 0.9)).get == base)
    // half gain (re-quantized PCM, not an exact scale): log-delta bits
    // hold except at near-ties
    val gained = Multimodal.audioFingerprint64(wav(300, 1200, 0.45)).get
    assert(ham(base, gained) <= 3, s"gain change flipped ${ham(base, gained)} bits")
    // different spectral-temporal content lands far away
    val other = Multimodal.audioFingerprint64(wav(500, 700, 0.9)).get
    assert(ham(base, other) > 10, s"only ${ham(base, other)} bits apart")
    // non-audio produces no fingerprint
    assert(Multimodal.audioFingerprint64(Multimodal.syntheticPng(3)).isEmpty)

    // pipeline: the gain-copy collapses into its base, the distinct
    // clip and the non-audio frame survive
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(0L, "audio/wav", wav(300, 1200, 0.9)),
      Multimodal.MediaRow(1L, "audio/wav", wav(300, 1200, 0.45)),
      Multimodal.MediaRow(2L, "audio/wav", wav(500, 700, 0.9)),
      Multimodal.MediaRow(3L, "image/png", Multimodal.syntheticPng(3))))
    val kept = Multimodal.dedupAudioByFingerprint(media)
      .select("media_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L), s"got $kept")
  }

  test("syntheticGridWav: real decode fingerprint == md5-walk formula; twins collapse") {
    // the q_audio_neardup oracle contract: every one of the 64
    // sign-of-delta bits the REAL javax.sound -> FFT -> mel pipeline
    // computes must equal the pure md5 reflecting-walk replay
    for (i <- 0 until 60; p <- Seq(false, true)) {
      val real = Multimodal.audioFingerprint64(Multimodal.syntheticGridWav(i, p))
      val want = Multimodal.gridWavFingerprint(i, p)
      assert(real.contains(want),
        s"seed=$i perturb=$p: real=$real want=$want (margin collapsed?)")
    }
    // the perturbation flips the LAST walk transition of bands 2 and 5
    // only — no reflection cascade, so twins sit within Hamming 2
    for (i <- 0 until 40) {
      val h = java.lang.Long.bitCount(
        Multimodal.gridWavFingerprint(i) ^ Multimodal.gridWavFingerprint(i, perturb = true))
      assert(h <= 2, s"seed=$i perturbed twin is $h bits away")
    }
    // planted twins (i%5==1 repeats i-1's seed) collapse to min-id
    val media = Multimodal.syntheticGridAudio(spark, 50)
    val kept = Multimodal.dedupAudioByFingerprint(media, maxHamming = 2)
      .select("media_id").as[Long].collect().toSet
    assert((0 until 50).count(i => i % 5 == 1 && !kept(i.toLong)) == 10,
      s"every planted twin must drop; kept=$kept")
  }

  test("video near-dup: re-encoded keyframe twins collapse; hash == md5-walk formula") {
    // oracle contract: the REAL RIFF-parse -> JPEG-decode -> lumaGrid
    // -> dHash pipeline must reproduce the md5-walk replay at BOTH
    // encoder qualities the generator uses (re-encode invariance)
    for (i <- 0 until 30; p <- Seq(false, true); q <- Seq(0.7f, 0.85f)) {
      val avi = Multimodal.syntheticGridMjpegAvi(i, p, q)
      val row = Multimodal.videoKeyframeDHashes(
        spark.createDataset(Seq(Multimodal.MediaRow(0L, "video/avi", avi))))
        .select("vhash").as[Long].collect()
      assert(row.length == 1 && row.head == Multimodal.gridVideoDHash(i, p),
        s"seed=$i perturb=$p quality=$q: ${row.toSeq} != ${Multimodal.gridVideoDHash(i, p)}")
    }
    // the perturbation flips the LAST walk step of rows 3 and 6 only
    for (i <- 0 until 30) {
      val h = java.lang.Long.bitCount(
        Multimodal.gridVideoDHash(i) ^ Multimodal.gridVideoDHash(i, perturb = true))
      assert(h <= 2, s"seed=$i perturbed twin is $h bits away")
    }
    // min-frame-hash signature: the signed-long min over the three
    // frames' independent walk hashes, computed inside the decode pass
    for (i <- Seq(0, 7, 13)) {
      val avi = Multimodal.syntheticGridMjpegAvi(i)
      val got = Multimodal.videoMinFrameDHashes(
        spark.createDataset(Seq(Multimodal.MediaRow(0L, "video/avi", avi))))
        .select("vhash").as[Long].collect()
      val want = (0 until 3).map(f => Multimodal.gridVideoDHash(i, frame = f)).min
      assert(got.toSeq == Seq(want), s"seed=$i: ${got.toSeq} != $want")
    }
    // planted twins (i%5==1 repeats i-1's pixels, re-encoded at a
    // LOWER jpeg quality — byte-different AVIs) collapse to min-id;
    // non-AVI payloads emit no hash and pass through the dedup
    val media = Multimodal.syntheticGridVideos(spark, 50)
      .union(spark.createDataset(Seq(
        Multimodal.MediaRow(999L, "image/png", Multimodal.syntheticPng(1)))))
    val kept = Multimodal.dedupVideosByKeyframe(media)
      .select("media_id").as[Long].collect().toSet
    assert((0 until 50).count(i => i % 5 == 1 && !kept(i.toLong)) == 10,
      s"every re-encoded twin must drop; kept=$kept")
    assert(kept(999L), "hashless non-video rows must survive untouched")
  }

  test("binaryFile ingestion end-to-end: files on disk -> typed features") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toFile
    dir.deleteOnExit()
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    put("a.png", Multimodal.syntheticPng(4))
    put("b.wav", Multimodal.syntheticWav(9))
    put("c.avi", Multimodal.syntheticMjpegAvi(6))
    val media = Multimodal.asMediaRows(
      Multimodal.readBinaryDir(spark, dir.getAbsolutePath))
    val rows = media.collect()
    assert(rows.length == 3)
    assert(rows.map(_.mime).sorted.toSeq ==
      Seq("audio/wav", "image/png", "video/avi"))
    // each decoder really decodes its file (ids are path hashes, so
    // identify rows by mime)
    val byMime = rows.map(r => r.mime -> r.media_id).toMap
    val img = Multimodal.imageFeatures(media).collect()
      .filter(_.media_id == byMime("image/png"))
    assert(img.map(f => (f.width, f.height)).toSeq == Seq((8 + 4 % 9, 8 + 4 / 3 % 7)))
    val aud = Multimodal.audioFeatures(media).collect()
      .filter(_.media_id == byMime("audio/wav"))
    assert(aud.map(_.sampleRate).toSeq == Seq(8000))
    assert(aud.map(_.durationMs).toSeq == Seq(math.round((800 + 9 % 1600) * 1000.0 / 8000.0)))
    val vid = Multimodal.videoFrameFeatures(media).collect()
    assert(vid.forall(_.media_id == byMime("video/avi")))
    assert(vid.length == 4 + 6 % 5)
    // pathGlobFilter prunes at listing time
    assert(Multimodal.readBinaryDir(spark, dir.getAbsolutePath, "*.png").count() == 1)
  }

  test("audio features + frame sampling") {
    val media = Multimodal.syntheticMedia(spark, 10)
    val audio = Multimodal.audioFeatures(media).collect()
    assert(audio.forall(_.mfcc.length == 13))
    // odd ids really decode: the 8 kHz header of syntheticWav
    audio.filter(_.media_id % 2 == 1).foreach { a =>
      assert(a.sampleRate == 8000, s"media ${a.media_id} should hit the real WAV path")
      assert(a.durationMs == math.round((800 + a.media_id % 1600) * 1000.0 / 8000.0))
    }
    // even ids are PNGs: not audio, so they are skipped, never fabricated
    assert(audio.map(_.media_id).sorted.toSeq == (1L until 10L by 2).toSeq,
      s"undecodable rows must be absent, got ${audio.map(_.media_id).sorted.toSeq}")
    // no payload here is an AVI container: no frames are sampled
    assert(Multimodal.sampleFrames(media, frames = 30, stride = 10).collect().isEmpty)
  }

  // ---- Streaming ----------------------------------------------------

  test("streaming leak monitor counts violations per window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Timestamp)]
    val df = input.toDF().toDF("label_time", "feature_time")
    val q = StreamingPit
      .leakMonitor(df, "label_time", "feature_time", "1 minute", "5 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("leaks").start()
    input.addData(
      (ts("2024-01-01 00:01:00"), ts("2024-01-01 00:00:00")), // clean
      (ts("2024-01-01 00:02:00"), ts("2024-01-01 00:03:00")), // leak
      (ts("2024-01-01 00:03:00"), ts("2024-01-01 00:03:00"))  // leak (>=)
    )
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM leaks").collect()
    q.stop()
    assert(out.map(_.getAs[Long]("n_rows")).sum == 3)
    assert(out.map(_.getAs[Long]("n_leaky")).sum == 2)
  }

  test("streaming as-of enrichment is point-in-time correct across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamingPit.Event]
    val enriched = StreamingPit.StreamingAsOf.enrich(
      spark, input.toDS(), embargo = java.time.Duration.ofMinutes(10))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()

    // batch 1: two features then a label (label at :30, embargo 10m ->
    // bound :20 -> feature at :05 qualifies, :25 does not)
    input.addData(
      StreamingPit.Event(1L, ts("2024-01-01 00:05:00"), isLabel = false, 1.0),
      StreamingPit.Event(1L, ts("2024-01-01 00:25:00"), isLabel = false, 2.0),
      StreamingPit.Event(1L, ts("2024-01-01 00:30:00"), isLabel = true, 0.0))
    q.processAllAvailable()
    // batch 2: later label sees the :25 feature (bound now :50)
    input.addData(StreamingPit.Event(1L, ts("2024-01-01 01:00:00"), isLabel = true, 0.0))
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM enriched ORDER BY labelTime").collect()
    q.stop()
    assert(out.length == 2)
    assert(out(0).getAs[Timestamp]("featureTime") == ts("2024-01-01 00:05:00"))
    assert(out(1).getAs[Timestamp]("featureTime") == ts("2024-01-01 00:25:00"))
  }

  test("streaming exact dedup drops repeat fingerprints within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "event_time", "text")
    val q = StreamingPit.streamingExactDedup(df, "text", "event_time", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sdedup").start()
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), "same text"),
      (2L, ts("2024-01-01 00:01:00"), "same text"),
      (3L, ts("2024-01-01 00:02:00"), "other text"))
    q.processAllAvailable()
    input.addData((4L, ts("2024-01-01 00:03:00"), "same text")) // still duplicate
    q.processAllAvailable()
    val out = spark.sql("SELECT doc_id FROM sdedup").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("streaming quality gate: stateless kernel, verdicts match the batch scan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clean = ("the steady harbor town wakes early and the morning market " +
      "sells fresh catch to everyone while the boats return with the tide " +
      "and the crews have stories to tell of wind and water that carry " +
      "across the quay into every open doorway before the day has begun " +
      "so that the whole town knows the catch before the nets are dry")
    val junk = "zzz qqq www " * 20 // no stopwords, no real words
    val rows = Seq((1L, clean), (2L, junk), (3L, clean + " once more today"))
    val gopher = Some(graft.ops.QualityFilters.GopherConfig())
    val input = MemoryStream[(Long, String)]
    val gated = StreamingPit.streamingQualityGate(
      input.toDF().toDF("doc_id", "text"), "text",
      gopher = gopher, minQuality = 0.3, languages = Seq("en"))
    assert(gated.isStreaming, "the gate must preserve streaming-ness")
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("sgate").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val out = spark.sql("SELECT doc_id, hygiene_verdict FROM sgate")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.stop()
    // bit-identical to the batch kernel on the same rows: the gate
    // keeps exactly the batch scan's passers, all with verdict 0
    val spec = graft.ops.QualityFilters.hygieneSpec(
      None, gopher, None, 0.3, Seq("en"))
    val batch = rows.toDF("doc_id", "text")
      .withColumn("v",
        graft.functions.Hygiene.hygieneVerdictOf(col("text"), spec))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(batch(2L) != 0, "the junk doc must fail a batch stage")
    assert(batch(1L) == 0 && batch(3L) == 0, s"clean docs must pass: $batch")
    assert(out == batch.filter(_._2 == 0),
      s"streaming verdicts must equal the batch kernel's: $out vs $batch")
  }

  test("streaming near-dup hits: prior-member collisions flagged, state evicts, distinct passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the old barn today"
    val twin = base + " extra"                       // high-Jaccard near-dup
    val other = "completely different words about winter harbors and ice floes"
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "event_time", "text")
    val q = StreamingPit.streamingNearDupHits(df, "doc_id", "text", "event_time",
        k = 16, bands = 4, n = 3, threshold = 0.5, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sneardup").start()
    // batch 1: original + unrelated doc — no hits
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), base),
      (2L, ts("2024-01-01 00:01:00"), other))
    q.processAllAvailable()
    // batch 2: the near-twin of doc 1 arrives -> flagged against 1
    input.addData((3L, ts("2024-01-01 00:02:00"), twin))
    q.processAllAvailable()
    val hits = spark.sql("SELECT id, best_est, against FROM sneardup")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(hits.nonEmpty, "near-twin must collide with its prior")
    assert(hits.forall { case (id, est, against) =>
      id == 3L && against == 1L && est >= 0.5 })
    // the estimate matches the batch operator's on the same pair
    val batchEst = graft.ops.Dedup.minhashJaccardPairs(
        Seq((1L, base), (3L, twin)).toDF("doc_id", "text"),
        "doc_id", "text", k = 16, bands = 4, n = 3, threshold = 0.1)
      .select("est_jaccard").as[Double].head()
    assert(hits.forall { case (_, est, _) => est == batchEst },
      s"stream estimate must equal batch estimate $batchEst")
    // an exact repeat of doc 2 also flags (est 1.0)
    input.addData((4L, ts("2024-01-01 00:03:00"), other))
    q.processAllAvailable()
    val all = spark.sql("SELECT DISTINCT id FROM sneardup")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(all.toSeq == Seq(3L, 4L))
  }

  test("streaming hygiene: the verdict kernel filters a live stream statelessly") {
    // the whole scan-side curation gate (C4 + Gopher + repetition +
    // quality + language) is one stateless codegen'd expression, so it
    // drops junk from a firehose with zero state and batch-identical
    // decisions — the ingest-time half of the curation pipeline
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val goodPage = Seq(
      "the quick brown fox jumps over that lazy dog have with today.",
      "a second calm paragraph describes harbor lights at dusk now.",
      "some travelers whisper old stories while walking narrow streets.",
      "every reader finds one quiet idea hiding between these lines.",
      "the weather report shows rain of the kind nobody really minds.").mkString("\n")
    val verdict = graft.ops.QualityFilters.hygieneVerdict(col("text"),
      c4 = Some((3, 5)),
      gopher = Some(graft.ops.QualityFilters.GopherConfig()),
      repetition = Some(graft.ops.QualityFilters.RepetitionConfig()),
      minQuality = 0.3, languages = Seq("en"))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .filter(verdict === 0)
      .writeStream.outputMode("append").format("memory")
      .queryName("shygiene").start()
    input.addData(
      (1L, goodPage),
      (2L, "tiny page."),                                  // c4
      (3L, goodPage + "\n" + Seq.fill(12)("# # # # # spam marks here.").mkString("\n")))
    q.processAllAvailable()
    val out = spark.sql("SELECT doc_id FROM shygiene")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(out.toSeq == Seq(1L))
    // the streaming decision equals the batch decision on the same rows
    val batch = Seq((1L, goodPage), (2L, "tiny page."),
      (3L, goodPage + "\n" + Seq.fill(12)("# # # # # spam marks here.").mkString("\n")))
      .toDF("doc_id", "text").filter(verdict === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(batch.toSeq == out.toSeq)
  }

  test("streaming sampling: stateless scan-side ops compose with readStream") {
    // hashSample/stratifiedSample/mixByWeight are pure projections and
    // filters, so the same operators curate a live firehose with zero
    // state — decisions stay deterministic per id, so a replayed
    // stream (re-run from the source) samples identically
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "lang")
    val q = graft.ops.Sampling.mixByWeight(
      graft.ops.Sampling.hashSample(df, "doc_id", 0.5, seed = 3),
      "doc_id", "lang", Map("en" -> 2.0), default = 1.0)
      .writeStream.outputMode("append").format("memory").queryName("ssample").start()
    input.addData((1L, "en"), (2L, "en"), (3L, "de"), (4L, "de"), (5L, "en"))
    q.processAllAvailable()
    val out = spark.sql("SELECT doc_id, lang, rep_idx FROM ssample").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    q.stop()
    // batch path on the same rows must agree exactly
    import spark.implicits._
    val batch = graft.ops.Sampling.mixByWeight(
      graft.ops.Sampling.hashSample(
        Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "de"), (5L, "en"))
          .toDF("doc_id", "lang"), "doc_id", 0.5, seed = 3),
      "doc_id", "lang", Map("en" -> 2.0), default = 1.0)
      .select("doc_id", "lang", "rep_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(out == batch && out.nonEmpty)
  }

  test("streaming as-of: label with no eligible feature emits nulls") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamingPit.Event]
    val q = StreamingPit.StreamingAsOf.enrich(spark, input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("enriched2").start()
    input.addData(StreamingPit.Event(7L, ts("2024-01-01 00:00:00"), isLabel = true, 0.0))
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM enriched2").collect()
    q.stop()
    assert(out.length == 1)
    assert(out(0).isNullAt(out(0).fieldIndex("featureTime")))
  }
}
