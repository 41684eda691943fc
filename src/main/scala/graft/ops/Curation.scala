package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composition a 100 TB training-data
  * pipeline actually runs — C4 line cleaning → within-doc line dedup →
  * Gopher document rules →
  * repetition rules → quality/language filter → blocklist → URL dedup
  * → corpus boilerplate removal → exact dedup → C4 span dedup →
  * ExactSubstr passage removal → CCNet unigram/bigram LM bucketing →
  * classifier quality filter →
  * benchmark decontamination → near-dup dedup → SemDeDup → DSIR
  * target selection — with per-stage drop accounting so nothing is
  * silently lost.
  *
  * Stage order is deliberate: the cheap scan-side filters (C4, Gopher,
  * repetition, quality, language, blocklist) run FIRST and shrink the
  * corpus before any shuffle; the whole scan-side ledger is ONE kernel
  * call per row (the first-failing-stage hygiene verdict) counted by
  * observed metrics on the job that checkpoints the survivors, so it
  * costs a single corpus read. The shuffle stages follow
  * cheapest-first: URL dedup, exact dedup and the boilerplate/span
  * text rewrites are one-to-two map-side-combined aggregations each,
  * LM scoring is one token-keyed join, decontamination is a broadcast
  * anti-join, and the
  * pair-generating stages — lexical near-dup, then semantic
  * SemDeDup — run last over the smallest surviving frame.
  */
object Curation {

  /** Ordered per-stage survivor counts. `stages` holds (name, rows
    * surviving through that stage) in execution order; only stages
    * that actually ran appear. */
  final case class CurationStats(input: Long, stages: Vector[(String, Long)]) {
    /** Rows surviving through stage `name`. */
    def after(name: String): Long =
      stages.collectFirst { case (`name`, n) => n }.getOrElse(
        throw new NoSuchElementException(
          s"no curation stage '$name' ran; stages: ${stages.map(_._1).mkString(", ")}"))

    /** Rows each stage dropped, keyed by stage name. */
    def dropped: Map[String, Long] = {
      val before = input +: stages.map(_._2)
      stages.zip(before).map { case ((n, after), b) => n -> (b - after) }.toMap
    }

    def output: Long = stages.lastOption.map(_._2).getOrElse(input)
  }

  /** `release()` unpersists the pipeline's internal caches once the
    * caller is DONE with `df` (has written or collected it). It is NOT
    * called automatically: with the caches gone, a later action over
    * `df` recomputes their plans. `cached` holds EVERY frame the
    * pipeline registered, including the ones library calls create
    * internally (near-dup signature/bucket frames, LM model frames,
    * boilerplate line positions, semantic clusters — captured via
    * [[graft.util.Caching.tracking]]), so release() is complete.
    * Skipping it leaks those MEMORY_AND_DISK entries per curate() call
    * in a long-lived session (LRU-evicted under pressure, but
    * CacheManager metadata and spill space grow until cleared).
    *
    * STAGE outputs are not in `cached`: they are eager localCheckpoints
    * (see `stageOut` in [[curate]]), whose blocks the ContextCleaner
    * reclaims once the result (and `df`) become unreachable — the same
    * lifecycle [[Dedup.connectedComponents]] uses for its component
    * frame. They are deliberately NOT unpersisted here: a checkpoint
    * truncates lineage, so dropping its blocks while `df` is still
    * referenced would make the next action FAIL rather than recompute. */
  final case class CurationResult(df: DataFrame, stats: CurationStats,
      private[graft] val cached: Seq[DataFrame] = Nil) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** Near-dup pair generation strategy for the final stage. */
  sealed trait NearDup
  object NearDup {
    /** Exact n-gram Jaccard over the (maxDf-bounded) shingle self-join:
      * the complete >=threshold pair set. Right up to mid-size corpora;
      * the self-join's shuffle grows with corpus x shingle volume. */
    case object NgramExact extends NearDup
    /** MinHash signatures + LSH banding calibrated to the threshold via
      * [[Dedup.lshParamsFor]], pairs kept by estimated Jaccard — the
      * 100 TB path: per-doc work is k hashes, candidate generation
      * touches only same-bucket pairs, recall < 1 by construction. */
    case object MinhashLsh extends NearDup
  }

  /** C4 page-cleaning stage parameters (Raffel et al. 2020 §2.2). */
  final case class C4Config(minSentences: Int = 3, minWordsPerLine: Int = 5)

  /** CCNet-style unigram bucketing stage (Wenzek et al. 2020): score
    * every surviving document under `model` (self-estimated when
    * None), bucket with the approxQuantile scale path, keep the best
    * `keepBuckets` of `buckets`. Runs AFTER dedup like the CCNet
    * recipe, so duplicate pages cannot skew the LM toward themselves. */
  final case class UnigramConfig(
      buckets: Int = 3,
      keepBuckets: Int = 2,
      model: Option[DataFrame] = None,
      relErr: Double = 0.001)

  /** CCNet-with-the-real-LM stage: score every surviving document's
    * mean bigram log-probability under `model` (self-trained when
    * None — but prefer a clean-reference model, see the
    * [[QualityFilters.bigramLogProbs]] UNK caveat), bucket with the
    * approxQuantile scale path, keep the best `keepBuckets`. Like
    * [[UnigramConfig]] it runs post-dedup. Note that documents with
    * fewer than two tokens have no bigrams, score nothing, and are
    * dropped by this stage — run it only on corpora where
    * sub-two-token pages are junk by definition (web text). */
  final case class BigramConfig(
      buckets: Int = 3,
      keepBuckets: Int = 2,
      model: Option[QualityFilters.BigramLm] = None,
      alpha: Double = 0.4,
      minCount: Long = 2,
      relErr: Double = 0.001)

  /** Image near-dup stage for multimodal corpora: `hashCol` holds a
    * precomputed 64-bit perceptual hash per document (e.g.
    * [[Multimodal.mediaHashes]] joined onto the docs frame, or any
    * other 64-bit locality key); documents whose hashes sit within
    * `maxHamming` bits form components that keep only the minimum-id
    * member ([[Dedup.hammingPairs64]] pigeonhole banding +
    * [[Dedup.dedupByPairs]] — never all-pairs). Rows with a null hash
    * (no image) pass through untouched. */
  final case class ImageDupConfig(hashCol: String, maxHamming: Int = 2,
      bands: Int = 4, maxBucket: Int = 100000)

  /** Corpus-level boilerplate line removal stage
    * ([[Dedup.stripBoilerplate]]): lines whose normalized form appears
    * in more than `maxDocFreq` distinct documents are deleted
    * everywhere. `dropEmptied` also drops documents whose text is
    * blank after stripping (a page that was ALL nav/banner). */
  final case class BoilerplateConfig(maxDocFreq: Long = 10,
      dropEmptied: Boolean = true)

  /** C4 cross-document span dedup stage ([[Dedup.spanDedup]]): runs of
    * `span` consecutive sentences survive only at their first corpus
    * occurrence. Sentence segmentation needs terminal punctuation, and
    * documents are REASSEMBLED from their sentences — terminator-free
    * text (code, tables, logs) has no sentences and comes back blank,
    * so with `dropEmptied` those documents are dropped. This stage is
    * for punctuated web prose; use [[Dedup.exactSubstrDedup]] (token
    * windows, no punctuation assumption) for mixed corpora. */
  final case class SpanDedupConfig(span: Int = 3,
      dropEmptied: Boolean = true)

  /** ExactSubstr duplicate-passage removal stage
    * ([[Dedup.exactSubstrDedup]]): runs of `k` consecutive whitespace
    * tokens duplicated anywhere in the corpus survive only at their
    * first occurrence — the terminator-free complement of
    * [[SpanDedupConfig]] for code, tables and logs. `dropEmptied`
    * drops documents left blank by the removal. */
  final case class ExactSubstrConfig(k: Int = 20, dropEmptied: Boolean = true)

  /** fastText-style classifier quality stage
    * ([[QualityClassifier]]): score every surviving document under a
    * logistic model trained positive-vs-negative and keep those at or
    * above `minProb`. `model` skips training (the train-once
    * score-every-drop shape); otherwise positives come from
    * `positives` (a small reference corpus) and negatives from a
    * deterministic `negativeRate` hash-sample of the CURRENT
    * survivors. Runs with the other statistical quality stages —
    * post-dedup, so duplicates cannot skew the fit. */
  final case class ClassifierConfig(
      positives: Option[DataFrame] = None,
      minProb: Double = 0.5,
      negativeRate: Double = 0.01,
      buckets: Int = 65536,
      model: Option[QualityClassifier.Model] = None) {
    require(model.isDefined || positives.isDefined,
      "ClassifierConfig needs a trained model or a positives corpus")
  }

  /** Benchmark-decontamination stage ([[Dedup.decontaminate]]): drop
    * every surviving document sharing an `n`-gram with `eval`. The
    * eval shingle set is broadcast, or with `bloom` (an eval corpus
    * too big to broadcast) probed scan-side as a Bloom filter
    * ([[Dedup.decontaminateBloom]]); either way the training side is
    * scanned once and never shuffled. */
  final case class DecontaminateConfig(eval: DataFrame, n: Int = 8,
      bloom: Boolean = false)

  /** SemDeDup stage ([[Similarity.semDedup]]): semantic near-dup
    * removal over `vecCol` (an embedding array column that must be
    * present on the input frame — join your embedding table on before
    * calling curate). Runs LAST, over the smallest surviving frame:
    * it catches paraphrases the lexical stages cannot. */
  final case class SemDeDupConfig(vecCol: String,
      threshold: Double = 0.95,
      nlist: Int = 16,
      refineIters: Int = 0,
      keepFarthestFromCentroid: Boolean = true,
      maxCluster: Int = 100000)

  /** DSIR target-selection stage ([[Dsir]]): keep the `k` surviving
    * documents that look most like `target` (Gumbel top-k without
    * replacement under hashed-n-gram importance weights). Runs LAST of
    * everything — selection should see only clean, deduplicated
    * survivors, and the distributions it fits should describe them. */
  final case class DsirConfig(target: DataFrame, k: Int,
      buckets: Int = 65536, alpha: Double = 1.0,
      temperature: Double = 1.0, seed: Int = 42)

  /** Per-domain quota stage ([[Sampling.bestKPerStratum]]): cap each
    * `stratumCol` group (source, registered domain, crawl snapshot) at
    * its `k` best surviving documents by `orderCol` descending —
    * RefinedWeb's "no domain dominates the mixture" rule, applied
    * AFTER every dedup (quota capacity is not wasted on duplicates)
    * and BEFORE DSIR selection (the target draw sees the capped
    * mixture). Skew-immune two-phase window — see bestKPerStratum. */
  final case class DomainCapConfig(stratumCol: String, k: Int,
      orderCol: String)

  /** Optional corpus-hygiene stages around the core quality → language
    * → dedup spine. Everything defaults OFF; enabling a stage adds its
    * (name, survivors) entry to the ledger. `blocklist` drops pages
    * containing any listed word (scan-side, fused into the same corpus
    * read as the verdict kernel). `urlCol` names a column of raw page
    * URLs; when set, canonical-URL dedup runs before content dedup
    * (cheaper key, catches mirror fetches exact dedup misses only
    * after the heavier text hash). `boilerplate` and `spanDedup` are
    * corpus-level text rewrites; `decontaminate` and `semDedup` run
    * after the lexical dedups, cheapest-first; `dsir` selection runs
    * last of all. */
  final case class HygieneConfig(
      c4: Option[C4Config] = None,
      gopher: Option[QualityFilters.GopherConfig] = None,
      repetition: Option[QualityFilters.RepetitionConfig] = None,
      /** Within-document duplicate-line removal
        * ([[graft.functions.LineDedup]]): a pure text REWRITE fused into
        * the same scan as the verdict kernel — no extra corpus read,
        * no ledger row (it never drops documents; it normalizes
        * survivors so the later hash dedups catch pages differing
        * only in how often a line repeats). The quality verdict
        * deliberately sees the PRE-rewrite text: within-document
        * repetition is itself a quality signal. */
      lineDedup: Boolean = false,
      /** Mojibake repair passes ([[graft.functions.Mojibake]]); 0 =
        * off. Unlike lineDedup, the repair runs BEFORE the quality
        * verdict: encoding corruption is transport damage, not a
        * content-quality signal, and unrepaired artifacts both
        * depress quality scores (inflated symbol ratios) and split
        * dedup clusters (a corrupted twin hashes differently from its
        * clean original). Fused into the same scan — the replace
        * chain is codegen'd map work on the corpus read. */
      mojibakePasses: Int = 0,
      blocklist: Option[Seq[String]] = None,
      urlCol: Option[String] = None,
      imageDup: Option[ImageDupConfig] = None,
      boilerplate: Option[BoilerplateConfig] = None,
      spanDedup: Option[SpanDedupConfig] = None,
      exactSubstr: Option[ExactSubstrConfig] = None,
      unigram: Option[UnigramConfig] = None,
      bigram: Option[BigramConfig] = None,
      classifier: Option[ClassifierConfig] = None,
      decontaminate: Option[DecontaminateConfig] = None,
      semDedup: Option[SemDeDupConfig] = None,
      domainCap: Option[DomainCapConfig] = None,
      dsir: Option[DsirConfig] = None,
      softQuality: Option[SoftQualityConfig] = None)

  /** Soft quality stage ([[Sampling.softSample]]): score-proportional
    * keep instead of (or after) the verdict kernel's hard `minQuality`
    * floor — each scan survivor keeps with probability
    * min(1, (qualityScore/pivot)^sharpness), deterministically decided
    * by the salted unit hash. Runs right after the scan, before any
    * dedup pays for documents the soft filter would have dropped. */
  final case class SoftQualityConfig(
      pivot: Double,
      sharpness: Double = 1.0,
      seed: Int = 42)

  /** Opt-in stage-level resume store for [[curate]]: each completed
    * stage's surviving frame persists as `<dir>/<stage>/` parquet
    * (atomic `_SUCCESS`-guarded), the scan ledger as a side JSON, and
    * the curation parameters as `_params.json`. A re-run against the
    * same dir skips every completed stage — the thunks are never
    * forced — and recomputes from the first missing one, so a
    * multi-hour 100 TB curation run survives driver loss at the cost
    * of one parquet write per stage. The params pin refuses a dir
    * written under a DIFFERENT config (changed configs shift stage
    * semantics); the input corpus and any auxiliary frames (eval sets,
    * classifier positives, DSIR targets) are NOT fingerprinted —
    * standard checkpoint-dir semantics: one dir per (input, config)
    * pair is the caller's contract. */
  private final class StageStore(dir: String, params: String) {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(dir))
    private val paramsPath = Paths.get(dir, "_params.json")
    if (Files.exists(paramsPath)) {
      val prior = Files.readString(paramsPath)
      if (prior != params) throw graft.errors.Errors.config(
        s"resume dir $dir was written under different curation parameters.",
        "use a fresh resume dir (or delete this one) when the config changes")
    } else Files.writeString(paramsPath, params)

    private def path(stage: String) = s"$dir/$stage"
    def isDone(stage: String): Boolean =
      Files.exists(Paths.get(path(stage), "_SUCCESS"))
    /** Completed stages must form a PREFIX of the enabled pipeline:
      * stage N's checkpoint was computed FROM stage N-1's frame, so a
      * manually deleted (or partially cleaned) intermediate checkpoint
      * with later checkpoints still present would resume those later
      * stages against upstream data recomputed from a different input
      * state. Any done stage after the first missing one is
      * invalidated here (its `_SUCCESS` removed — `write` overwrites
      * the rest) so the pipeline self-heals by recomputing the suffix
      * instead of silently mixing two runs. */
    def validatePrefix(orderedStages: Seq[String]): Unit = {
      val firstMissing = orderedStages.indexWhere(!isDone(_))
      if (firstMissing >= 0)
        orderedStages.drop(firstMissing + 1).filter(isDone).foreach { st =>
          System.err.println(s"[graft] resume dir $dir: checkpoint for " +
            s"stage '$st' follows missing stage " +
            s"'${orderedStages(firstMissing)}' — invalidating it (the " +
            "suffix recomputes from the first missing stage)")
          Files.delete(Paths.get(path(st), "_SUCCESS"))
        }
    }
    def read(spark: org.apache.spark.sql.SparkSession, stage: String): DataFrame =
      spark.read.parquet(path(stage))
    /** Persist `df` and read it back. The `_SUCCESS` marker is written
      * here, after the frame and `beforeCommit` (the scan's side file). */
    def write(stage: String, df: DataFrame, beforeCommit: => Unit): DataFrame = {
      df.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false").parquet(path(stage))
      beforeCommit
      Files.createFile(Paths.get(path(stage), "_SUCCESS"))
      df.sparkSession.read.parquet(path(stage))
    }
    def readSide(stage: String): Map[String, Long] =
      graft.util.Jsons.parse(Files.readString(Paths.get(dir, s"_$stage.json")))
        .collect { case m: Map[_, _] =>
          m.asInstanceOf[Map[String, Any]].map {
            case (k, v: Long) => k -> v
            case (k, v: Number) => k -> v.longValue()
            case (k, v) => throw new IllegalStateException(
              s"non-numeric side entry $k=$v in resume dir $dir")
          }
        }.getOrElse(throw new IllegalStateException(
          s"unreadable side file for stage $stage in resume dir $dir"))
    def writeSide(stage: String, counts: Seq[(String, Long)]): Unit =
      Files.writeString(Paths.get(dir, s"_$stage.json"),
        graft.util.Jsons.obj(counts.map { case (k, v) => k -> (v: Any) }: _*))
  }


  /** One enabled stage of [[curate]]'s table. `key` names the stage's
    * ledger row and its resume dir, `desc` its Spark job description,
    * `pin` its entry in the resume params pin. `body` maps the previous
    * stage's survivors to this stage's; a resumed stage never calls it
    * (fits, model training and iterative loops run eagerly inside). */
  private final case class Stage(key: String, desc: String, pin: String,
      body: DataFrame => DataFrame)

  /** Run the pipeline. `hasher` (used by the MinHash/LSH near-dup
    * stage) hits the codegen'd signature kernel only when it IS
    * `Dedup.md5Hash` or `Dedup.xxHash` by reference — pass the `val`s
    * themselves, not a wrapping lambda (see [[Dedup.signatures]]).
    * `resume` names a stage-checkpoint directory (see [[StageStore]]):
    * completed stages are read back instead of recomputed, making the
    * composed pipeline restartable after driver loss. A resumed MinHash
    * near-dup stage must use one of the two built-in hashers: a custom
    * function has no identity the params pin could compare. */
  def curate(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minQuality: Double = 0.3,
      languages: Seq[String] = Seq("en"),
      nearDupThreshold: Double = 0.8,
      shingleSize: Int = 3,
      nearDup: NearDup = NearDup.NgramExact,
      hygiene: HygieneConfig = HygieneConfig(),
      hasher: (Column, Int) => Column = Dedup.md5Hash,
      resume: Option[String] = None,
      /** Near-dup representative choice: name a score column and each
        * duplicate cluster keeps its HIGHEST-scoring member (ties to
        * min id) via [[Dedup.dedupByPairsBest]] — the RefinedWeb-style
        * "keep the best page of the cluster" instead of the default
        * keep-min-id (whatever was ingested first). */
      nearDupKeepCol: Option[String] = None
  ): CurationResult = {
    val hasherPin = nearDup match {
      case NearDup.NgramExact => "none" // shingle Jaccard never hashes
      case _ if hasher eq Dedup.md5Hash => "md5"
      case _ if hasher eq Dedup.xxHash => "xx"
      case _ if resume.isEmpty => "custom"
      case _ => throw graft.errors.Errors.config(
        "a custom near-dup hasher cannot be pinned in a resume dir: a function " +
          "has no identity a later run could compare, so a checkpoint written " +
          "under one hasher would be served under another.",
        "pass Dedup.md5Hash or Dedup.xxHash with resume, or run without resume")
    }
    // Mojibake repair is a pre-transform of the corpus itself: the
    // verdict kernel, the hash dedups, and every rewrite see the
    // REPAIRED text, so a corrupted twin re-joins its clean
    // duplicate's cluster instead of hashing apart. The replace chain
    // fuses into the same codegen'd corpus scan as the verdict.
    val corpus =
      if (hygiene.mojibakePasses > 0)
        docs.withColumn(textCol,
          graft.functions.Mojibake.fix(col(textCol), hygiene.mojibakePasses))
      else docs
    val t = col(textCol)
    // C4 rewrites the text (line filtering); every later scan-side rule
    // evaluates the CLEANED text, exactly like the recipe's own order.
    val cleanText = hygiene.c4.map(c => QualityFilters.c4Text(t, c.minWordsPerLine))
      .getOrElse(t)

    // ---- scan-side stages: ONE kernel call per row computes the whole
    // verdict (first failing stage, canonical indices 1=c4..5=language;
    // 0 = keep). The previous progressive-conjunction formulation
    // re-evaluated the C4 line filter and re-tokenized once per signal
    // — Spark's codegen eliminates common subexpressions inside
    // projections but NOT across filter conjuncts or aggregate update
    // expressions, and expression trees are trees (every signal holds
    // its own c4Text copy) — measured 2.1 ms/doc at 1M docs. The
    // verdict kernel cleans + tokenizes once and short-circuits; it is
    // computed once per row as a column that both the ledger metrics
    // and the pass filter read.
    val verdictRaw = QualityFilters.hygieneVerdict(t,
      hygiene.c4.map(c => (c.minSentences, c.minWordsPerLine)),
      hygiene.gopher, hygiene.repetition, minQuality, languages)
    // null text never reaches the kernel (null-intolerant expression):
    // it fails the FIRST enabled stage, like the old conjunction where
    // a null predicate dropped the row at its first evaluation
    val firstStage =
      if (hygiene.c4.isDefined) graft.functions.Hygiene.C4Stage
      else if (hygiene.gopher.isDefined) graft.functions.Hygiene.GopherStage
      else if (hygiene.repetition.isDefined) graft.functions.Hygiene.RepetitionStage
      else graft.functions.Hygiene.QualityStage
    val verdict = coalesce(verdictRaw, lit(firstStage))

    val tracked = Vector.newBuilder[DataFrame]
    // tracking: EVERY cacheOnce fired while the pipeline is built —
    // including the ones inside Dedup / QualityFilters / Similarity
    // (signature frames, bounded buckets, LM models, boilerplate line
    // positions, semantic clusters) — lands in `tracked`, so
    // CurationResult.release() owns the full cache set, not just the
    // frames this function registered directly.
    graft.util.Caching.tracking(tracked += _) {
    val sc = docs.sparkSession.sparkContext
    def staged[A](name: String)(body: => A): A = {
      sc.setJobDescription(s"graft curate: $name")
      try body finally sc.setJobDescription(null)
    }
    // text rewrites can leave a document blank; `drop` removes those
    def dropBlank(drop: Boolean)(df: DataFrame): DataFrame =
      if (drop) df.filter(length(trim(col(textCol))) > 0) else df
    // the LM bucketing tail shared by the unigram and bigram stages:
    // keep the `in` rows whose score lands in the best `keep` buckets.
    // `scored` is cached: qualityBucketsApprox's approxQuantile is an
    // eager action over it and the bucket filter consumes it AGAIN —
    // without the cache the corpus-scale LM scoring plan runs twice
    def keepBestBuckets(in: DataFrame, scored: DataFrame, buckets: Int, keep: Int,
        relErr: Double): DataFrame = {
      val bucketed = QualityFilters.qualityBucketsApprox(
        Dedup.cacheOnce(scored), buckets = buckets, relErr = relErr)
      in.join(bucketed.filter(col("quality_bucket") <= keep).select(col(idCol)),
        Seq(idCol), "left_semi")
    }

    // ---- the stage table: every enabled stage after the scan, in
    // pipeline order. Cheapest first: the soft filter before any dedup
    // pays for its drops; cheap keys (URL, image hash) before text
    // hashes; boilerplate strip before exact dedup (mirror pages that
    // differ only in nav menus become byte-identical); the span and
    // passage rewrites after exact dedup and before LM scoring (scores
    // describe the surviving text); the statistical quality stages
    // post-dedup (duplicates cannot skew a fit); the decontamination
    // anti-join shrinks the input to the pair-generating stages, which
    // run over the smallest frame; the domain cap after every dedup and
    // before DSIR, which selects from exactly the surviving corpus. ----
    val h = hygiene
    val table: Seq[Stage] = Seq(
      h.softQuality.map(sq => Stage("soft_quality", "soft quality", sq.toString,
        in => Sampling.softSample(in, idCol, TextAnalysis.qualityScore(col(textCol)),
          sq.pivot, sq.sharpness, sq.seed).drop("keep_prob"))),
      h.urlCol.map(u => Stage("url_dup", "url dedup", u, { in =>
        // rows with no usable URL (null or empty after
        // canonicalization) pass through untouched: grouping them
        // would collapse every URL-less document into ONE group and
        // silently delete all but one unrelated page
        val usable = col(u).isNotNull && length(QualityFilters.canonicalizeUrl(col(u))) > 0
        val keepers = QualityFilters.dedupByUrl(in.filter(usable), u, idCol)
          .select(col("keep_id").as(idCol))
        in.filter(!usable).unionByName(in.filter(usable).join(keepers, Seq(idCol), "left_semi"))
      })),
      // hashless rows pass through exactly like URL-less rows above
      h.imageDup.map(ic => Stage("image_dup", "image dedup", ic.toString, { in =>
        val withHash = in.filter(col(ic.hashCol).isNotNull)
        val pairs = Dedup.hammingPairs64(withHash.select(col(idCol), col(ic.hashCol)),
          idCol, ic.hashCol, ic.maxHamming, ic.bands, ic.maxBucket)
        in.filter(col(ic.hashCol).isNull).unionByName(Dedup.dedupByPairs(withHash, idCol, pairs))
      })),
      h.boilerplate.map(bc => Stage("boilerplate", "boilerplate strip", bc.toString,
        in => dropBlank(bc.dropEmptied)(
          Dedup.stripBoilerplate(in, idCol, textCol, bc.maxDocFreq)))),
      Some(Stage("exact_dup", "exact dedup", "", Dedup.exactDedup(_, textCol, idCol))),
      h.spanDedup.map(sp => Stage("span_dup", "span dedup", sp.toString,
        in => dropBlank(sp.dropEmptied)(Dedup.spanDedup(in, idCol, textCol, sp.span)))),
      h.exactSubstr.map(es => Stage("exact_substr", "exactsubstr dedup", es.toString,
        in => dropBlank(es.dropEmptied)(Dedup.exactSubstrDedup(in, idCol, textCol, es.k)))),
      h.unigram.map(u => Stage("unigram", "unigram buckets",
        s"${u.buckets}:${u.keepBuckets}:${u.model.isDefined}:${u.relErr}",
        in => keepBestBuckets(in, QualityFilters.unigramLogProbs(in, idCol, textCol, u.model),
          u.buckets, u.keepBuckets, u.relErr))),
      h.bigram.map(b => Stage("bigram", "bigram buckets",
        s"${b.buckets}:${b.keepBuckets}:${b.model.isDefined}:${b.alpha}:${b.minCount}:${b.relErr}",
        { in =>
          val model = b.model.getOrElse(QualityFilters.bigramModel(in, textCol, b.minCount))
          keepBestBuckets(in, QualityFilters.bigramLogProbs(in, idCol, textCol, Some(model), b.alpha),
            b.buckets, b.keepBuckets, b.relErr)
        })),
      // train on bounded frames, score the survivors scan-side through
      // the bucket kernel
      h.classifier.map(cc => Stage("classifier", "classifier filter",
        s"${cc.minProb}:${cc.negativeRate}:${cc.buckets}:${cc.model.isDefined}", { in =>
          val model = cc.model.getOrElse {
            val negatives = Sampling.hashSample(in, idCol, cc.negativeRate)
            staged("classifier fit")(QualityClassifier.train(
              cc.positives.get, negatives, textCol, cc.buckets))
          }
          QualityClassifier.filterByQuality(in, model, cc.minProb, textCol)
        })),
      // bloom is deliberately NOT part of the pin: it changes the plan,
      // never the rows (train shingles filter scan-side, only suspects
      // join), so a resume may switch it freely
      h.decontaminate.map(dc => Stage("contaminated", "decontaminate",
        s"${dc.n}", in =>
          if (dc.bloom) Dedup.decontaminateBloom(in, dc.eval, idCol, textCol, dc.n)
          else Dedup.decontaminate(in, dc.eval, idCol, textCol, dc.n))),
      Some(Stage("near_dup", "near-dup dedup",
        s"$nearDup:$nearDupThreshold:$shingleSize:$hasherPin:${nearDupKeepCol.mkString}", { in =>
          val pairs = nearDup match {
            case NearDup.NgramExact =>
              Dedup.ngramJaccardPairs(in, idCol, textCol, shingleSize, nearDupThreshold)
            case NearDup.MinhashLsh =>
              val (k, bands) = Dedup.lshParamsFor(nearDupThreshold)
              Dedup.minhashJaccardPairs(in, idCol, textCol, k = k, bands = bands,
                n = shingleSize, threshold = nearDupThreshold, hasher = hasher)
          }
          nearDupKeepCol match {
            case Some(kc) => Dedup.dedupByPairsBest(in, idCol, pairs, col(kc))
            case None     => Dedup.dedupByPairs(in, idCol, pairs)
          }
        })),
      // paraphrase-level dedup over the embedding column: it sees only
      // what every lexical stage kept
      h.semDedup.map(sd => Stage("semantic_dup", "semantic dedup", sd.toString,
        Similarity.semDedup(_, idCol, sd.vecCol, sd.threshold, sd.nlist, sd.refineIters,
          sd.keepFarthestFromCentroid, sd.maxCluster))),
      h.domainCap.map(cap => Stage("domain_capped", "domain cap", cap.toString,
        Sampling.bestKPerStratum(_, cap.stratumCol, cap.orderCol, cap.k, idCol))),
      h.dsir.map(dc => Stage("dsir_selected", "dsir selection",
        s"${dc.k}:${dc.buckets}:${dc.alpha}:${dc.temperature}:${dc.seed}", { in =>
          val scored = staged("dsir fit")(Dsir.importanceWeights(
            in, dc.target, textCol, dc.buckets, dc.alpha))
          Dsir.resampleTopK(scored, dc.k, idCol, seed = dc.seed, temperature = dc.temperature)
            .drop("dsir_logw", "dsir_key")
        }))
    ).flatten

    // ---- opt-in stage resume (see StageStore). The params pin covers
    // every SCALAR knob: the column names, the scan settings, and each
    // table entry's pin under its key. DataFrame-valued config
    // (decontaminate eval, classifier positives, DSIR target) and the
    // input corpus itself are deliberately outside it — checkpoint-dir
    // semantics. Completed stages must form a prefix of the table.
    import graft.util.Jsons
    val store = resume.map { dir =>
      val st = new StageStore(dir, Jsons.obj(
        "id" -> idCol, "text" -> textCol,
        "scan" -> Jsons.Raw(Jsons.obj(
          "minQuality" -> minQuality, "languages" -> languages,
          "c4" -> h.c4.map(_.toString), "gopher" -> h.gopher.map(_.toString),
          "repetition" -> h.repetition.map(_.toString),
          "lineDedup" -> h.lineDedup, "mojibakePasses" -> h.mojibakePasses,
          "blocklist" -> h.blocklist.map(_.mkString(",")))),
        "stages" -> Jsons.Raw(Jsons.obj(table.map(s => s.key -> s.pin): _*))))
      st.validatePrefix("scan" +: table.map(_.key))
      st
    }
    // Stage-boundary lineage truncation: every stage output is
    // materialized anyway (its ledger count), so ONE job materializes
    // it and observes that count at the plan's root (the scan's rule
    // counts sit under its filters only; no join or adaptive rule can
    // skip either). Without a store that job is an eager
    // localCheckpoint, cutting the plan to a flat LogicalRDD: a stage
    // references its input 2-4 times, and uncut, the plan DAG prints
    // as a tree in explain strings, AQE plan-change events and UI
    // SparkPlanInfo (a 9-stage pipeline once hung >19 min in
    // generateTreeString); the ContextCleaner reclaims its blocks once
    // the result is dropped. Under resume the job is the parquet write
    // (lost partitions recompute from lineage) and the read-back frame
    // the cut; `side` runs between the write and its commit marker.
    def materialize(key: String, desc: String, df: DataFrame, side: => Unit = ()): (DataFrame, Long) = {
      val obs = Observation()
      val observed = df.observe(obs, count(lit(1)).as("n"))
      val out = staged(desc)(store.fold(observed.localCheckpoint(true))(_.write(key, observed, side)))
      (out, obs.get("n").asInstanceOf[Long])
    }
    // One stage boundary: under resume, a completed stage's frame is
    // READ BACK (the thunk is never forced — no refit, no reshuffles;
    // parquet counts are metadata-cheap). Otherwise `materialize`
    // computes the frame and its ledger count in one job. An uncut
    // stage (`cut` off, no resume) is counted and returned as is.
    def stageOut(key: String, desc: String, cut: Boolean)(compute: => DataFrame): (DataFrame, Long) =
      store match {
        case Some(st) if st.isDone(key) =>
          val df = st.read(docs.sparkSession, key)
          (df, staged(s"$desc (resumed)")(df.count()))
        case None if !cut =>
          val df = compute
          (df, staged(desc)(df.count()))
        case _ => materialize(key, desc, compute)
      }

    // survivors through stage i = rows passing every enabled stage <= i
    // = verdict == 0 (passed everything) or verdict > i (first failure
    // comes later); disabled stages never appear as verdicts
    val stageIdx: Seq[(String, Int)] =
      hygiene.c4.map(_ => "c4" -> graft.functions.Hygiene.C4Stage).toSeq ++
        hygiene.gopher.map(_ => "gopher" -> graft.functions.Hygiene.GopherStage).toSeq ++
        hygiene.repetition.map(_ =>
          "repetition" -> graft.functions.Hygiene.RepetitionStage).toSeq ++
        Seq("quality" -> graft.functions.Hygiene.QualityStage,
          "language" -> graft.functions.Hygiene.LanguageStage)

    // ---- the scan prologue resumes as a unit: its per-rule ledger
    // counts the RAW input, so they ride a side JSON next to the
    // persisted frame — resuming must skip the corpus read too, not
    // just the filter. The counts are observed metrics of the job
    // that materializes the survivors: the input count and every
    // rule's survivors (verdict == 0, or a first failure at a later
    // rule) before the pass filter; the blocklist survivors are that
    // job's own count.
    val (scanKept, input, scanLedger): (DataFrame, Long, Vector[(String, Long)]) =
      store match {
        case Some(st) if st.isDone("scan") =>
          val df = st.read(docs.sparkSession, "scan")
          val side = st.readSide("scan")
          (df, side("__input"), stageIdx.map { case (n, _) => n -> side(n) }.toVector ++
            hygiene.blocklist.map(_ => "blocklist" -> staged("blocklist (resumed)")(df.count())))
        case _ =>
          val v = col("__verdict")
          val ruleCounts = count(lit(1)).as("__input") +: stageIdx.map { case (name, idx) =>
            count(when(v === graft.functions.Hygiene.PassVerdict || v > idx, 1)).as(name) }
          val withVerdict = corpus.withColumn("__verdict", verdict)
          val scanObs = Observation()
          // The blocklist filter (when enabled) fuses into the SAME
          // whole-stage-codegen scan as the verdict filter — no extra
          // corpus read — and evaluates the CLEANED text like every
          // other post-C4 rule. The line-dedup kernel composes INSIDE
          // the same codegen span as the verdict filter and C4 rewrite
          // — one corpus read, cleanText evaluated once per document as
          // the kernel's child.
          val scanFiltered = withVerdict.observe(scanObs, ruleCounts.head, ruleCounts.tail: _*)
            .filter(v === graft.functions.Hygiene.PassVerdict).drop("__verdict")
            .withColumn(textCol,
              if (hygiene.lineDedup) graft.functions.LineDedup.of(cleanText) else cleanText)
          val frame = hygiene.blocklist match {
            case Some(words) =>
              scanFiltered.filter(QualityFilters.blocklistKeep(col(textCol), words))
            case None => scanFiltered
          }
          // the rule counts sit between the scan and the pass filter of
          // the materialized plan: no optimizer rule prunes them away.
          // Side JSON before the commit marker: a crash between the two
          // leaves counts without a committed frame — the next run
          // recomputes the stage and overwrites both. The reverse order
          // would leave a committed frame whose resume fails hard on the
          // missing side file.
          lazy val m = scanObs.get
          lazy val counts = stageIdx.map { case (n, _) => n -> m(n).asInstanceOf[Long] }
          lazy val inputN = m("__input").asInstanceOf[Long]
          val (df, kept) = materialize("scan", "scan", frame,
            store.foreach(_.writeSide("scan", counts :+ ("__input" -> inputN))))
          (df, inputN, counts.toVector ++ hygiene.blocklist.map(_ => "blocklist" -> kept))
      }

    // ---- the fold: each table entry runs through stageOut and leaves
    // its (key, survivors) ledger row. Without a resume store, a
    // near-dup stage that ends the pipeline is counted and returned
    // uncut: one extra tail execution when the caller consumes df,
    // instead of a corpus-scale materialization.
    val (curated, ledger) = table.foldLeft((scanKept, scanLedger)) {
      case ((in, rows), s) =>
        val cut = s.key != "near_dup" || (s ne table.last)
        val (kept, n) = stageOut(s.key, s.desc, cut)(s.body(in))
        (kept, rows :+ (s.key -> n))
    }

    // the tracked caches deliberately stay resident: unpersisting any
    // of them here would make the CacheManager REBUILD dependent
    // entries mid-pipeline. The caller releases them AFTER consuming
    // df, via CurationResult.release(); the stage checkpoints are
    // GC-reclaimed (see CurationResult doc).
    CurationResult(curated, CurationStats(input, ledger), tracked.result())
    }
  }
}
