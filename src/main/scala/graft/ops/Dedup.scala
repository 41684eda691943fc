package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Deduplication operators for web-scale corpora: exact (hash-groupBy),
  * MinHash+LSH banding, n-gram Jaccard, and embedding-cosine near-dup
  * (via [[Similarity]]).
  *
  * Scale notes (the interesting part at 100 TB):
  *  - exact dedup is ONE shuffle on the fingerprint; partial
  *    aggregation (map-side combine) collapses duplicates before the
  *    exchange, so shuffle volume ~ distinct docs, not total docs.
  *  - MinHash/LSH replaces the O(n²) pair space with band-bucket
  *    joins: shuffle keyed on (band index, band hash). Hot buckets are
  *    bounded by `maxBucket` — the classic guard against a degenerate
  *    bucket producing |bucket|² candidate pairs on one executor.
  *  - n-gram Jaccard's shared-shingle join explodes on stop-shingles;
  *    `maxDf` drops shingles occurring in more than that many docs
  *    (an IDF cut), which is what keeps the join linear-ish in corpus
  *    size.
  */
object Dedup {

  /** See [[graft.util.Caching.cacheOnce]]: a second query over the
    * same corpus with the same parameters reuses the first query's
    * InMemoryRelation instead of re-issuing `cache()`. */
  private[ops] def cacheOnce(df: DataFrame): DataFrame = graft.util.Caching.cacheOnce(df)

  /** Distinct word n-grams ("shingles") of a text column. Guarded for
    * texts shorter than n words (Spark's `sequence(1, k)` would count
    * DOWN for k < 1). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.Shingles.shingles(text, n)

  /** The pre-kernel SQL formulation of [[shingles]] — kept for the
    * equivalence pin in ExtensionsSpec. Re-tokenizes per element_at
    * lambda call (no CSE inside lambdas): ~20x slower, do not use in
    * operators. */
  private[graft] def shinglesSql(text: Column, n: Int): Column = {
    val w = split(trim(text), "\\s+")
    val grams = transform(
      sequence(lit(1), size(w) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j))): _*))
    when(size(w) >= n, array_distinct(grams)).otherwise(array().cast("array<string>"))
  }

  /** Exact duplicate groups keyed on a fingerprint of `textCol`:
    * (fingerprint, keep_id = min id, n_dups). One shuffle, map-side
    * combined. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Keep exactly one row (min id) per distinct text. Implemented as a
    * semi-join against the winner ids rather than a global window —
    * the winner frame is one narrow column (and already aggregated),
    * so the semi-join shuffles ids, not documents. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(
      exactGroups(df, textCol, idCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Incremental exact dedup for a recurring corpus refresh: drop new
    * documents whose fingerprint already exists in `store` (the
    * [[fingerprintStore]] `fingerprint` column of everything ingested
    * in previous batches) and keep one winner (min id) per fingerprint
    * WITHIN the new batch.
    * Returns the surviving rows of `df` with their original columns.
    *
    * Plan shape: batch winners are one map-side-combined shuffle;
    * the store is anti-joined on the fingerprint key and deliberately
    * NOT broadcast-hinted — at 100 TB of history the store is itself
    * large, and the join keys are hashes, so both sides hash-partition
    * evenly (persist the store bucketed by `fingerprint` to make the
    * refresh exchange-free on the store side). The final semi-join
    * carries ids only, never document payloads. */
  def incrementalDedup(df: DataFrame, store: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val winners = df
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol))
    val fresh = winners
      .join(store.select(col("fingerprint").as("__fp")), Seq("__fp"), "left_anti")
    df.join(fresh.select(idCol), Seq(idCol), "left_semi")
  }

  /** The store delta for [[incrementalDedup]]: distinct fingerprints
    * of a (surviving) batch, to append to the store for the next
    * refresh. */
  def fingerprintStore(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint")).distinct()

  /** [[incrementalDedup]] with a Bloom pre-filter over the store —
    * bit-identical results (the shared oracle row pins it), different
    * plan at 100 TB of history. The plain path hash-partitions BOTH
    * sides of the batch-vs-store anti-join; here the batch winners are
    * probed scan-side against a [[Bloom]] filter of the store's
    * fingerprints, and because a Bloom filter has no false negatives,
    * every `mightContain = false` winner is PROVEN fresh with no join
    * at all. Only the suspects (true dups + an fpp fraction of false
    * positives — batch-sized at worst, typically tiny) reach the exact
    * check, which runs as a broadcast semi-join INTO the store: the
    * history is scanned once and never shuffled, whatever its layout.
    *
    * Pass `bloom` (built once via [[Bloom.build]] over the store's
    * fingerprint column, persisted with [[Bloom.save]], appended to
    * with [[Bloom.merge]] as the store grows) to skip the build scan;
    * omitted, it is built here from `store` (one extra scan +
    * count — still cheaper than shuffling the store whenever the
    * batch is much smaller than history, which is what "incremental"
    * means), at [[Bloom.build]]'s default false-positive rate.
    * Null-fingerprint winners (null text) take the fresh path, exactly
    * like the anti-join's null-never-matches semantics. */
  def incrementalDedupBloom(df: DataFrame, store: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      bloom: Option[Array[Byte]] = None): DataFrame = {
    val winners = cacheOnce(df
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol)))
    val bytes = bloom.getOrElse {
      val n = math.max(1L, store.count())
      Bloom.build(store, col("fingerprint"), n)
    }
    // broadcast, never a literal: the filter is store-sized (MBs to
    // hundreds of MBs) and must ship once per executor, not once per task
    val bc = Bloom.broadcastFilter(df.sparkSession, bytes)
    val suspects = winners
      .filter(coalesce(Bloom.mightContain(bc, col("__fp")), lit(false)))
      .select("__fp")
    // which suspects ARE in the store: history scanned once, suspects
    // broadcast — no exchange on the store side regardless of its size
    val hits = store.select(col("fingerprint").as("__fp"))
      .join(broadcast(suspects), Seq("__fp"), "left_semi").distinct()
    val fresh = winners.join(broadcast(hits), Seq("__fp"), "left_anti")
    df.join(fresh.select(idCol), Seq(idCol), "left_semi")
  }

  /** Per-batch-document best MinHash-estimated Jaccard against a
    * prior-corpus signature store — the candidate-generation half of
    * [[incrementalNearDedup]]. LSH banding on BOTH sides means only
    * same-bucket (batch, store) pairs are ever compared: the store is
    * signature-sized (one row per historical doc), both sides shuffle
    * on the (band, bucket) key, and `maxBucket` caps degenerate
    * buckets on each side independently. Returns (idCol, best_est);
    * batch docs with no bucket collision are absent (no evidence of
    * near-duplication). */
  def nearDupStoreHits(batchSigs: DataFrame, storeSigs: DataFrame,
      idCol: String = "doc_id", k: Int = 16, bands: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    // both signature frames feed TWO consumers (bucketing + the
    // estimation join) — cacheOnce them so the k-hashes-per-shingle
    // signature pass runs once per side, not twice (measured 3x on
    // the contract query at sf0.1)
    val bSigs = cacheOnce(batchSigs)
    val sSigs = cacheOnce(storeSigs)
    val cands = boundedBuckets(bSigs, idCol, k, bands, maxBucket)
      .select(col("band"), col("bucket"), col(idCol).as("__ba"))
      .join(boundedBuckets(sSigs, idCol, k, bands, maxBucket)
        .select(col("band"), col("bucket"), col(idCol).as("__sb")),
        Seq("band", "bucket"))
      .select("__ba", "__sb").distinct()
    cands
      .join(bSigs.select(col(idCol).as("__ba"), col("sig").as("__siga")), "__ba")
      .join(sSigs.select(col(idCol).as("__sb"), col("sig").as("__sigb")), "__sb")
      .groupBy(col("__ba").as(idCol))
      .agg(max(sigAgreement(col("__siga"), col("__sigb"), k)).as("best_est"))
  }

  /** Fraction of the k positions where two MinHash signatures agree: the Jaccard estimate. */
  private def sigAgreement(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p)).cast("double") / k

  /** Incremental NEAR-dup dedup, the fuzzy sibling of
    * [[incrementalDedup]]: drop batch documents whose estimated
    * Jaccard against ANY prior-corpus document reaches `threshold`
    * (via [[nearDupStoreHits]]), then near-dedup the survivors against
    * each other with the standard LSH pair + connected-components
    * path. The store is a persisted [[signatures]] frame
    * ([[saveStore]] / [[loadStore]] with `sigCol = "sig"`); append the
    * survivors' signatures after each refresh. Returns surviving batch
    * rows with their original columns. */
  def incrementalNearDedup(batch: DataFrame, storeSigs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, bands: Int = 4, n: Int = 3, threshold: Double = 0.5,
      hasher: (Column, Int) => Column = md5Hash,
      maxBucket: Int = 1000): DataFrame = {
    val batchSigs = cacheOnce(signatures(batch, idCol, textCol, k, n, hasher))
    val hits = nearDupStoreHits(batchSigs, storeSigs, idCol, k, bands, maxBucket)
      .filter(col("best_est") >= threshold)
      .select(idCol)
    val fresh = batch.join(hits, Seq(idCol), "left_anti")
    // intra-batch pairs reuse the CACHED batch signatures (semi-joined
    // down to the survivors) — recomputing them from text would pay
    // the k-hashes-per-shingle pass a second time for ~the whole batch
    val freshSigs = batchSigs.join(fresh.select(idCol), Seq(idCol), "left_semi")
    val pairs = minhashJaccardPairsFromSigs(freshSigs, idCol, k, bands,
      threshold, maxBucket)
    dedupByPairs(fresh, idCol, pairs)
  }

  /** Persist a near-dup store: a [[signatures]] frame (array `sigCol`,
    * stored as array<string>) or a 64-bit fingerprint frame (integral
    * `sigCol`, stored as long). The id column keeps ITS OWN type — a
    * cast (say, to long) would null out string ids (UUIDs, URL hashes)
    * and turn every later store join into a no-op. */
  def saveStore(sigs: DataFrame, idCol: String, sigCol: String, path: String): Unit =
    storeColumns(sigs, idCol, sigCol).write.mode("overwrite").parquet(path)

  /** Load a persisted store, validating the contract. */
  def loadStore(spark: org.apache.spark.sql.SparkSession,
      idCol: String, sigCol: String, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(Set(idCol, sigCol).subsetOf(df.columns.toSet),
      s"store at $path must have ($idCol, $sigCol) columns, " +
        s"found: ${df.columns.mkString(", ")}")
    storeColumns(df, idCol, sigCol)
  }

  /** The store's (id, sig) projection; the sig cast follows its type. */
  private def storeColumns(df: DataFrame, idCol: String, sigCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val stored = df.schema(sigCol).dataType match {
      case _: ArrayType                                => "array<string>"
      case ByteType | ShortType | IntegerType | LongType => "long"
      case t => throw new IllegalArgumentException(
        s"store column $sigCol must be an array or an integral type, got ${t.sql}")
    }
    df.select(col(idCol), col(sigCol).cast(stored).as(sigCol))
  }

  /** Sentence segmentation for [[spanDedup]]: maximal runs ending in
    * terminal punctuation, trimmed, empties dropped. Deliberately
    * lookaround-free so the DuckDB oracle replays it with the same
    * regex. Trailing text without a terminator is not a sentence (C4's
    * "end in terminal punctuation" rule, Raffel et al. 2020 §2.2). */
  def spanSentences(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit("[^.!?]+[.!?]"), lit(0)),
        s => trim(s)),
      s => length(s) > 0)

  /** C4's corpus-wide span rule (Raffel et al. 2020 §2.2): any run of
    * `span` consecutive sentences occurring more than once in the
    * corpus survives only at its first occurrence — min (id, start),
    * matching C4's keep-one semantics deterministically — and every
    * other occurrence has those sentences deleted; documents are then
    * reassembled from the surviving sentences (single-space joined,
    * which also normalizes inter-sentence whitespace for untouched
    * docs).
    *
    * Scale shape: span hashes are md5 over the whitespace-normalized
    * lowercased span, so the wide text column never shuffles — only
    * (id, start, hash) rows do. The winner aggregation is the
    * [[exactGroups]] shape (one map-side-combined shuffle on the
    * hash); hashes seen once are dropped BEFORE the probe join, so at
    * corpus scale the join's build side holds only actually-duplicated
    * spans; removed-index sets ride a second narrow aggregation keyed
    * on id. No all-pairs path exists at any size. */
  def spanDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", span: Int = 3): DataFrame = {
    require(span >= 1, s"spanDedup wants span >= 1, got $span")
    removeRepeatedRuns(df.withColumn("__sents", spanSentences(col(textCol))),
      idCol, textCol, "__sents",
      md5Runs(col("__sents"), span, regexp_replace(_, "\\s+", " ")), span, " ")
  }

  /** Per start position, md5 of the lowercased, `norm`-ed space join of
    * the next `n` units; empty when there are fewer than `n`. */
  private def md5Runs(units: Column, n: Int, norm: Column => Column): Column =
    when(size(units) >= n,
      transform(sequence(lit(0), size(units) - n),
        i => md5(lower(norm(array_join(slice(units, i + 1, lit(n)), " "))))))
      .otherwise(array().cast("array<string>"))

  /** The repeated-run remover of [[spanDedup]] and [[exactSubstrDedup]]:
    * a run of `runLen` `units` whose hash (`runHashes`, one per start)
    * occurs more than once survives at its min (id, start) occurrence
    * only; documents are rejoined with `sep`. Count first: a
    * min(struct) buffer only SortAggregates, so the corpus-wide pass
    * is a hash-aggregable long count that shrinks to the duplicated
    * hashes, and the winner min runs over ONLY those occurrences
    * (cached: they feed the winner agg and the removal probe). */
  private def removeRepeatedRuns(withUnits: DataFrame, idCol: String,
      textCol: String, units: String, runHashes: Column, runLen: Int,
      sep: String): DataFrame = {
    val runs = withUnits.select(col(idCol),
      posexplode(runHashes).as(Seq("__start", "__h")))
    val dupHashes = runs.groupBy("__h")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select("__h")
    val dupRuns = cacheOnce(runs.join(dupHashes, "__h"))
    val winners = dupRuns.groupBy("__h")
      .agg(min(struct(col(idCol), col("__start"))).as("__w"))
    val removed = dupRuns.join(winners, "__h")
      .filter(struct(col(idCol), col("__start")) =!= col("__w"))
      .select(col(idCol),
        explode(sequence(col("__start"), col("__start") + (runLen - 1)))
          .as("__ridx"))
      .groupBy(idCol).agg(collect_set("__ridx").as("__removed"))
    dropPositions(withUnits, removed, idCol, textCol, units, sep)
  }

  /** Rejoin each document's `units` with `sep`, leaving out the
    * positions in `removed`'s (id, __removed) row; documents without
    * a row keep every unit. Only the removed positions shuffle, never
    * document payloads. */
  private def dropPositions(withUnits: DataFrame, removed: DataFrame,
      idCol: String, textCol: String, units: String, sep: String): DataFrame =
    withUnits.join(removed, Seq(idCol), "left")
      .withColumn(textCol, array_join(
        filter(col(units), (u, i) => !array_contains(
          coalesce(col("__removed"), array().cast("array<int>")), i)),
        sep))
      .drop(units, "__removed")

  // ---- corpus-level boilerplate line removal -------------------------

  /** Normalized line fingerprint shared by [[boilerplateLines]] and
    * [[stripBoilerplate]]: md5 of the lowercased, whitespace-collapsed
    * trimmed line (the [[TextAnalysis.fingerprint]] normal form at
    * line granularity). */
  private def lineFingerprint(line: Column): Column =
    md5(regexp_replace(lower(trim(line)), "\\s+", " "))

  /** (line fingerprints, example text, doc frequency) of lines whose
    * normalized form appears in MORE than `maxDocFreq` distinct
    * documents — nav menus, cookie banners, footers: the
    * RefinedWeb-style cross-document boilerplate signal (per-document
    * repetition is [[graft.ops.QualityFilters.repetitionFilter]]'s
    * territory). One distinct + one map-side-combined count; blank
    * lines never count. */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"boilerplateLines wants maxDocFreq >= 1, got $maxDocFreq")
    df.select(col(idCol), explode(split(col(textCol), "\n")).as("__l"))
      .filter(length(trim(col("__l"))) > 0)
      .select(col(idCol), col("__l"), lineFingerprint(col("__l")).as("line_fp"))
      .groupBy(col("line_fp"))
      .agg(count_distinct(col(idCol)).as("n_docs"), min(col("__l")).as("example"))
      .filter(col("n_docs") > maxDocFreq)
      .select("line_fp", "example", "n_docs")
  }

  /** Remove corpus-level boilerplate lines from EVERY document: any
    * non-blank line whose normalized form exceeds `maxDocFreq`
    * distinct documents is dropped; blank lines and everything else
    * keep their order. Reassembly follows the [[spanDedup]] shape —
    * only the REMOVED (doc, position) pairs shuffle, never document
    * payloads; the boilerplate fingerprint set is tiny by construction
    * (each surviving fingerprint is shared by >maxDocFreq docs). */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"stripBoilerplate wants maxDocFreq >= 1, got $maxDocFreq")
    val lines = col("__lines")
    val withLines = df.withColumn("__lines", split(col(textCol), "\n"))
    // ONE explode+fingerprint of the text column feeds BOTH the corpus
    // frequency aggregation and the removed-position probe. cacheOnce:
    // the two consumers would otherwise each re-read and re-hash the
    // whole corpus (a full extra 100 TB scan per call). The cached
    // frame is (id, pos, fp) — fingerprint-narrow, a fraction of the
    // text it derives from, and spills to disk under pressure. Inside
    // [[graft.ops.Curation.curate]] the cache is owned and released by
    // CurationResult; standalone callers keep one narrow resident
    // entry (LRU-evicted) per distinct input plan.
    val positioned = cacheOnce(withLines.select(col(idCol),
      posexplode(lines).as(Seq("__pos", "__l")))
      .filter(length(trim(col("__l"))) > 0)
      .select(col(idCol), col("__pos"), lineFingerprint(col("__l")).as("line_fp")))
    val boiler = positioned.groupBy("line_fp")
      .agg(count_distinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") > maxDocFreq)
      .select("line_fp")
    val removed = positioned.join(boiler, "line_fp")
      .groupBy(idCol).agg(collect_set("__pos").as("__removed"))
    dropPositions(withLines, removed, idCol, textCol, "__lines", "\n")
  }

  /** WITHIN-document duplicate-line removal (the per-document leg of
    * line hygiene — Dolma/RefinedWeb apply it before any corpus-level
    * pass): every repeated non-blank line keeps only its FIRST
    * occurrence inside the document; blank lines keep the document's
    * structure and are never deduped. Exact line equality — the
    * corpus-level normalized-fingerprint rule is
    * [[stripBoilerplate]]'s job.
    *
    * Entirely scan-side: ONE codegen'd kernel call per row
    * ([[graft.functions.LineDedup]] — split, seen-set filter, rejoin
    * in a single O(lines) pass), NO shuffle, NO join — the cheapest
    * possible place in a pipeline, which is why it runs first in
    * hygiene stacks. */
  def dedupLinesInDoc(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, graft.functions.LineDedup.of(col(textCol)))

  // ---- ExactSubstr duplicate-passage removal -------------------------

  /** ExactSubstr-style duplicate-passage removal (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * run of `k` consecutive whitespace tokens occurring more than once
    * in the corpus survives only at its FIRST occurrence — min
    * (id, start), deterministic — and every other occurrence has the
    * covered tokens deleted; documents are reassembled from their
    * surviving tokens (single-space joined, which also normalizes
    * intra-document whitespace for untouched docs, mirroring
    * [[spanDedup]]'s reassembly). Unlike [[spanDedup]] this assumes no
    * sentence terminators, so duplicated code, tables, chat logs and
    * other punctuation-free passages are caught.
    *
    * Scale shape is [[spanDedup]]'s (the two share one remover): only
    * (id, start, window-hash) rows shuffle. The paper's suffix array
    * is a single-machine construction; the stride-1 sliding-window
    * hash join is its shuffle-native equivalent for runs >= k (what
    * the paper removes), at O(tokens) shuffled rows.
    *
    * The default window hash is the one-pass rolling kernel
    * ([[graft.functions.WindowHash]]): O(tokens) long arithmetic,
    * 8-byte hashes on the wire, identical results modulo its
    * documented 2^-64 window-collision rate. `portableHash = true`
    * switches to md5 over the lowercased space-joined run — O(tokens
    * x k) and ~3.5x slower end-to-end — byte-replayable in DuckDB
    * (the q_exactsubstr oracle path) and collision-free in practice. */
  def exactSubstrDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 20,
      portableHash: Boolean = false): DataFrame = {
    require(k >= 1, s"exactSubstrDedup wants k >= 1, got $k")
    val toks = col("__toks")
    // ws_tokens kernel == filter(split(trim(text), "\\s+"), len > 0)
    // (PropertySpec-pinned) but codegen'd: this projection runs over
    // the corpus THREE times (window pass, probe pass, reassembly)
    val withToks = df.withColumn("__toks",
      graft.functions.WsTokens.of(col(textCol)))
    val windowHash =
      if (portableHash) md5Runs(toks, k, identity)
      else graft.functions.WindowHash.of(toks, k)
    removeRepeatedRuns(withToks, idCol, textCol, "__toks", windowHash, k, " ")
  }

  /** Portable per-shingle hash: lexicographic min over
    * `md5(seed:shingle)` strings. Identical in DuckDB — used by the
    * oracle-checked queries. */
  val md5Hash: (Column, Int) => Column =
    (shingle, seed) => md5(concat(lit(s"$seed:"), shingle))

  /** Fast numeric variant for production scale. Both built-in hashers
    * are `val`s so [[minhashSignatureFromShingles]] can recognize them
    * by reference and dispatch to the one-pass signature kernel. */
  val xxHash: (Column, Int) => Column =
    (shingle, seed) => xxhash64(lit(seed), shingle)

  /** MinHash signature from an ALREADY-PROJECTED shingle array column:
    * array of k per-seed minima. Computed entirely inside the row (no
    * shuffle; codegen'd higher-order functions). Take the shingle
    * column, not the text — referencing `shingles(text)` here would
    * clone that subtree k times. */
  def minhashSignatureFromShingles(sh: Column, k: Int = 16,
      hasher: (Column, Int) => Column = md5Hash): Column =
    // the two built-in hashers run as ONE codegen'd kernel pass (the
    // k-HOF Column formulation is interpreted per element and measured
    // ~10x slower at k=60 — see functions/MinHashSig.scala); custom
    // hashers keep the general formulation
    if (hasher eq md5Hash) graft.functions.MinHashSig.md5SigOf(sh, k)
    else if (hasher eq xxHash) graft.functions.MinHashSig.xxSigOf(sh, k)
    else array((0 until k).map(seed => array_min(transform(sh, s => hasher(s, seed)))): _*)

  /** (id, sig) signature frame — compute ONCE and share between
    * bucketing and estimation; the signature is the expensive part
    * (k hashes per shingle).
    *
    * `hasher` dispatches to the one-pass codegen'd kernel by REFERENCE
    * equality on [[md5Hash]]/[[xxHash]]: pass those `val`s themselves.
    * An eta-expanded or wrapped-but-identical lambda silently takes
    * the interpreted k-HOF path (~10x slower at k=60) — a custom
    * hasher is assumed to MEAN custom semantics, so there is no
    * content-based detection. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, n: Int = 3,
      hasher: (Column, Int) => Column = md5Hash): DataFrame =
    df.select(col(idCol), shingles(col(textCol), n).as("__sh"))
      .select(col(idCol), minhashSignatureFromShingles(col("__sh"), k, hasher).as("sig"))

  /** Pick (k, bands) for a target Jaccard threshold: among signature
    * sizes up to `maxK` and their divisors, minimize the S-curve's
    * miss+false-positive mass around `threshold` — the integral of
    * 1 - P(collide | j) for j above the threshold (misses) plus
    * P(collide | j) below it (false candidates), where
    * P(collide | j) = 1 - (1 - j^rows)^bands. This is the standard
    * banding calibration (Mining of Massive Datasets §3.4); callers
    * who hand-pick stay on the explicit-parameter overloads. */
  def lshParamsFor(threshold: Double, maxK: Int = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    val steps = 200
    def cost(k: Int, bands: Int): Double = {
      val rows = k / bands
      (1 to steps).map { i =>
        val j = i.toDouble / (steps + 1)
        val p = 1.0 - math.pow(1.0 - math.pow(j, rows.toDouble), bands.toDouble)
        if (j >= threshold) (1.0 - p) else p
      }.sum / steps
    }
    val cands = for {
      k <- 4 to maxK
      bands <- 1 to k if k % bands == 0
    } yield (k, bands)
    // ties (same cost) break toward the SMALLEST signature: k is the
    // per-shingle hash bill, the dominant cost of the whole pipeline
    cands.minBy { case (k, b) => (cost(k, b), k, b) }
  }

  /** LSH band buckets of a [[signatures]] frame: split the k-length
    * `sig` into `bands` bands of k/bands rows; one output row per
    * (doc, band) with the band's bucket hash. A frame, not a signature
    * expression: inlined, that expression would be cloned per band. */
  def lshBucketsFromSigs(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val rows = k / bands
    val banded = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", slice(col("sig"), b * rows + 1, rows))).as("bucket"))
    }
    // a shingle-less doc's signature is [null × k] (array_min of an
    // empty transform is null for every seed — first element null iff
    // ALL are); concat_ws skips nulls, so every such doc would land in
    // the md5("") bucket of every band and generate up to maxBucket²
    // spurious candidate pairs. No shingles = no similarity evidence:
    // drop them from bucketing entirely (the DuckDB replays do the
    // same via their `len(w) >= n` guard).
    sigs.filter(element_at(col("sig"), 1).isNotNull)
      .select(col(idCol), explode(array(banded: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The shared degenerate-bucket guard: band buckets capped at
    * `maxBucket` members per (band, bucket). */
  private def boundedBuckets(sigs: DataFrame, idCol: String, k: Int,
      bands: Int, maxBucket: Int): DataFrame =
    lshBucketsFromSigs(sigs, idCol, k, bands)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("__n") <= maxBucket)
      .drop("__n")

  /** Candidate near-dup pairs from LSH banding: distinct (a, b) doc-id
    * pairs sharing at least one band bucket. `maxBucket` bounds the
    * blow-up from degenerate buckets. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, n: Int = 3,
      maxBucket: Int = 1000,
      hasher: (Column, Int) => Column = md5Hash): DataFrame =
    candidatesFromSigs(signatures(df, idCol, textCol, k, n, hasher),
      idCol, k, bands, maxBucket)

  def candidatesFromSigs(sigs: DataFrame, idCol: String, k: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    // cached: both sides of the pair join consume this frame — without
    // it the k×|shingles| hash computation runs twice
    val bounded = cacheOnce(boundedBuckets(sigs, idCol, k, bands, maxBucket))
    val a = bounded.select(col("band"), col("bucket"), col(idCol).as("a"))
    val b = bounded.select(col("band"), col("bucket"), col(idCol).as("b"))
    a.join(b, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing at least
    * one (document-frequency-bounded) shingle, filtered to
    * `threshold`. Output: (a, b, jaccard). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDf: Int = 10000): DataFrame = {
    // cached: the exploded shingle frame feeds three consumers (sizes +
    // both sides of the self-join) — recomputing the explode+window per
    // consumer doubles the heaviest stage
    val sh = cacheOnce(df.select(col(idCol).as("__id"),
      explode(shingles(col(textCol), n)).as("s")))
    val bounded = cacheOnce(sh
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("__df") <= maxDf)
      .drop("__df"))
    // sizes from the SAME bounded frame as the intersection: mixing the
    // unfiltered sizes with a bounded intersection would systematically
    // underestimate jaccard whenever maxDf actually cuts (pairs sharing
    // mostly-common shingles would silently score below threshold) —
    // with the cut active this is consistent "bounded jaccard" over the
    // surviving shingle sets
    val sizes = bounded.groupBy("__id").agg(count(lit(1)).as("n"))
    val inter = bounded.as("x")
      .join(bounded.as("y"), col("x.s") === col("y.s") && col("x.__id") < col("y.__id"))
      .groupBy(col("x.__id").as("a"), col("y.__id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("__id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit fingerprints (custom Catalyst
    * expression, [[graft.functions.SimHash]]) blocked into `bands`
    * 16-bit bands — a pair within Hamming distance h collides on at
    * least one band when h < bands (pigeonhole), so banding is
    * recall-complete for maxHamming < bands. One shuffle keyed on
    * (band, band-bits); the Hamming check is `bit_count(a^b)`, pure
    * codegen.
    *
    * maxHamming >= bands is rejected rather than silently returning
    * incomplete recall. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    hammingPairs64(
      df.select(col(idCol).as("__id"),
        graft.functions.SimHash.simhash64(split(trim(col(textCol)), "\\s+")).as("sig")),
      "__id", "sig", maxHamming, bands, maxBucket)

  /** Near-dup pairs among PRECOMPUTED 64-bit fingerprints — text
    * simhash, image dHash ([[Multimodal.mediaHashes]]), any 64-bit
    * locality key. Pigeonhole banding: a pair within `maxHamming <
    * bands` differs in at most maxHamming bands, so it MUST agree on
    * at least one — candidate generation is recall-complete, then the
    * exact popcount filter keeps true pairs. `maxBucket` bounds the
    * degenerate-bucket blowup (e.g. the all-zero fingerprint of blank
    * inputs) by dropping over-full (band, bits) buckets WHOLE — pairs
    * whose only shared band was a dropped bucket are silently missed,
    * so recall-completeness holds only while no bucket exceeds the
    * cap. Returns (a, b, hamming). */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    bandedHammingPairs(sigs, idCol, sigCol, "__sig", 64, maxHamming, bands,
      maxBucket, identity)

  /** The pigeonhole banding core of the 64-bit family: per row of
    * `sigs`, one (idAs, sigAs, band, bits) row for each of `bands`
    * bit fields of `sigCol`'s low `totalBits` bits, with every (band,
    * bits) bucket holding more than `maxBucket` rows dropped whole. */
  private def bandBits(sigs: DataFrame, idCol: String, sigCol: String,
      idAs: String, sigAs: String, totalBits: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    require(totalBits % bands == 0, s"bands must divide $totalBits")
    val width = totalBits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    sigs.select(col(idCol).as(idAs), col(sigCol).as(sigAs),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col(sigCol), b * width).bitwiseAND(lit(mask))
              .as("bits"))): _*)).as("bb"))
      .select(col(idAs), col(sigAs), col("bb.band").as("band"), col("bb.bits").as("bits"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "bits")))
      .filter(col("__n") <= maxBucket).drop("__n")
  }

  /** (a, b, hamming) pairs of [[bandBits]] rows sharing a bucket, kept
    * at `hamming(popcount) <= maxHamming`: [[hammingPairs64]] and
    * [[simhashPairsPortable]]. */
  private def bandedHammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      sigAs: String, totalBits: Int, maxHamming: Int, bands: Int,
      maxBucket: Int, hamming: Column => Column): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole completeness needs maxHamming < bands (got $maxHamming >= $bands)")
    val bounded = bandBits(sigs, idCol, sigCol, "__id", sigAs, totalBits, bands, maxBucket)
    val a = bounded.select(col("band"), col("bits"), col("__id").as("a"), col(sigAs).as("__sa"))
    val b = bounded.select(col("band"), col("bits"), col("__id").as("b"), col(sigAs).as("__sb"))
    a.join(b, Seq("band", "bits")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        hamming(bit_count(col("__sa").bitwiseXOR(col("__sb")))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Per-batch-row best (lowest) Hamming distance against a prior
    * corpus's 64-bit fingerprint store — the candidate-generation half
    * of [[incrementalHammingDedup]], mirroring [[nearDupStoreHits]]
    * for hash keys. Pigeonhole banding on BOTH sides: only same-band
    * (batch, store) rows are compared, the store is hash-sized (one
    * 8-byte key per historical row), and for `maxHamming < bands` the
    * filtered hits equal the brute-force hit set — unless `maxBucket`
    * drops a bucket on EITHER side (e.g. solid-color images all
    * hashing to dHash 0), at the recall cost [[hammingPairs64]]
    * describes: [[incrementalHammingDedup]] retains batch rows whose
    * only collision was that bucket. Returns (idCol, best_hamming);
    * batch rows with no band collision are absent. */
  def hammingStoreHits(batchSigs: DataFrame, storeSigs: DataFrame,
      idCol: String, sigCol: String, bands: Int = 4,
      maxBucket: Int = 100000): DataFrame =
    bandBits(batchSigs, idCol, sigCol, "__ba", "__siga", 64, bands, maxBucket)
      .join(bandBits(storeSigs, idCol, sigCol, "__sb", "__sigb", 64, bands, maxBucket),
        Seq("band", "bits"))
      .groupBy(col("__ba").as(idCol))
      .agg(min(bit_count(col("__siga").bitwiseXOR(col("__sigb"))))
        .as("best_hamming"))

  /** Incremental 64-bit-fingerprint near-dup dedup — the Hamming
    * sibling of [[incrementalNearDedup]], for recurring corpus drops
    * keyed on image dHashes ([[Multimodal.mediaHashes]]), audio
    * fingerprints, SimHash, or any 64-bit locality key: drop batch
    * rows whose `sigCol` sits within `maxHamming` bits of ANY stored
    * hash, then near-dedup the survivors against each other
    * ([[hammingPairs64]] + min-id components). Rows with a NULL sig
    * (undecodable media) pass through untouched, like the curation
    * stage. The store is a persisted (id, sig) frame
    * ([[saveStore]] / [[loadStore]]); append the survivors'
    * hashes after each refresh. Returns surviving batch rows with
    * their original columns. */
  def incrementalHammingDedup(batch: DataFrame, storeSigs: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 2, bands: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    val withSig = batch.filter(col(sigCol).isNotNull)
    val hits = hammingStoreHits(withSig.select(col(idCol), col(sigCol)),
        storeSigs, idCol, sigCol, bands, maxBucket)
      .filter(col("best_hamming") <= maxHamming)
      .select(idCol)
    val fresh = withSig.join(hits, Seq(idCol), "left_anti")
    val pairs = hammingPairs64(fresh.select(col(idCol), col(sigCol)),
      idCol, sigCol, maxHamming, bands, maxBucket)
    dedupByPairs(fresh, idCol, pairs)
      .unionByName(batch.filter(col(sigCol).isNull))
  }

  /** Portable SimHash near-dup pairs: 60-bit fingerprints whose token
    * hash is the first 15 hex chars of md5 — `('0x'||hex)::BIGINT` in
    * DuckDB reproduces the exact value, so the whole pipeline
    * (votes -> fingerprint -> 4x15-bit bands -> hamming<=h) replays in
    * the oracle. The production path stays [[simhashPairs]] (murmur3
    * `SimHash64Expr`, codegen'd kernel — strictly faster); this
    * variant exists for cross-engine verification and engine
    * migration checks.
    *
    * The fingerprint is one codegen'd pass over the token array
    * ([[graft.functions.SimHashMd5Expr]]) — the earlier formulation
    * (60 per-bit `aggregate()` higher-order functions over a projected
    * hash array) stayed interpreted and re-walked the array 60 times,
    * measured 5-10x slower at sf0.1. maxHamming >= bands is rejected,
    * as in [[simhashPairs]]. */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol).as("__id"),
        graft.functions.SimHash.simhash60md5(split(trim(col(textCol)), "\\s+")).as("sig")),
      "__id", "sig", "sig", 60, maxHamming, bands, maxBucket, _.cast("long"))

  /** Benchmark decontamination: training documents sharing at least
    * one word n-gram with the eval corpus. The eval side is tiny
    * relative to 100 TB of training data — its distinct shingle set is
    * broadcast, so the training corpus is SCANNED ONCE with a broadcast
    * semi-join and never shuffled; an eval set too big to broadcast
    * takes [[contaminatedIdsBloom]]. Returns the distinct contaminated
    * id column. */
  def contaminatedIds(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val trainSh = train.select(col(idCol),
      explode(shingles(col(textCol), n)).as("__s"))
    val evalSh = evalDf.select(explode(shingles(col(textCol), n)).as("__s")).distinct()
    trainSh.join(broadcast(evalSh), Seq("__s"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Drop every training document that shares an n-gram with the eval
    * corpus — the standard guard against benchmark leakage into a
    * training set. */
  def decontaminate(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame =
    train.join(contaminatedIds(train, evalDf, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** [[contaminatedIds]] for an eval set too big to broadcast — where
    * a plain join would SHUFFLE every exploded training shingle (rows
    * × n-grams-per-doc exchange: the single most expensive plan a
    * 100 TB decontamination can pick). Here a [[Bloom]] filter (at
    * [[Bloom.build]]'s default false-positive rate) of the eval shingle
    * set rides
    * the training scan instead: no false negatives means every
    * `mightContain = false` shingle is proven clean and never leaves
    * its partition, so only suspect shingles (true contamination + an
    * fpp sliver) reach the exact semi-join against the eval set.
    * Results are bit-identical to [[contaminatedIds]] (the oracle row
    * pins it); the exchange shrinks from the training corpus to the
    * suspects. `expectedShingles` skips the sizing count when the
    * caller knows the eval set's distinct shingle count. */
  def contaminatedIdsBloom(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, n: Int = 8,
      expectedShingles: Option[Long] = None): DataFrame = {
    val evalSh = cacheOnce(
      evalDf.select(explode(shingles(col(textCol), n)).as("__s")).distinct())
    val items = math.max(1L, expectedShingles.getOrElse(evalSh.count()))
    val bc = Bloom.broadcastFilter(train.sparkSession,
      Bloom.build(evalSh, col("__s"), items))
    val trainSh = train.select(col(idCol),
        explode(shingles(col(textCol), n)).as("__s"))
      .filter(coalesce(Bloom.mightContain(bc, col("__s")), lit(false)))
    trainSh.join(evalSh, Seq("__s"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** [[decontaminate]] over [[contaminatedIdsBloom]] — the hard guard
    * for eval sets past broadcast size, training corpus still scanned
    * exactly once. */
  def decontaminateBloom(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, n: Int = 8,
      expectedShingles: Option[Long] = None): DataFrame =
    train.join(
      contaminatedIdsBloom(train, evalDf, idCol, textCol, n, expectedShingles),
      Seq(idCol), "left_anti")

  /** Graded contamination instead of the boolean: per training
    * document, the NUMBER of distinct eval n-grams it shares and the
    * FRACTION of its own distinct n-grams that are contaminated —
    * the report a threshold policy (e.g. "drop above 5%, flag above
    * 1%") reads, where [[decontaminate]] is the hard guard. Same plan
    * shape: eval shingles broadcast, train scanned once, one
    * map-side-combined aggregation; shingle-less documents score 0. */
  def contaminationScores(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val trainSh = train.select(col(idCol),
      explode_outer(shingles(col(textCol), n)).as("__s"))
    val evalSh = evalDf.select(explode(shingles(col(textCol), n)).as("__s")).distinct()
      .withColumn("__hit", lit(1))
    trainSh.join(broadcast(evalSh), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("contaminated_ngrams"),
        sum(when(col("__s").isNotNull, 1L).otherwise(0L)).as("total_ngrams"))
      .select(col(idCol), col("contaminated_ngrams"), col("total_ngrams"),
        when(col("total_ngrams") === 0L, 0.0)
          .otherwise(col("contaminated_ngrams").cast("double") / col("total_ngrams"))
          .as("contamination_frac"))
  }

  /** Connected components over near-duplicate pairs — the step that
    * turns pairwise similarity into dedup decisions. Returns (id, comp)
    * for every node appearing in `pairs`, where comp is the smallest id
    * of the node's component under the id type's SQL ordering (the
    * `least`/`min` order). Exact for any graph diameter.
    *
    * Two-phase union-find, REPOSE-style (local work, one global merge):
    * each partition unions its own pairs and emits one (node, local
    * root) star edge per node it saw; one exchange gathers the star
    * edges into a single task, whose union-find emits (id, comp). The
    * whole thing is one shuffle — no per-round joins, aggregates or
    * convergence counts. Memory bound: that final task holds one
    * boxed hash-map entry per distinct id that appears in a pair —
    * measured 89 bytes per long id, 134 per 6-digit string id —
    * so 10M paired long ids need about 0.9 GB of its heap. Ids must be atomic
    * and not binary (they are hash keys); pairs with a null end are
    * skipped. The result is a lazy localCheckpoint: the first
    * action computes it once and later actions reuse its blocks
    * (reclaimed by the ContextCleaner once unreferenced), outside the
    * CacheManager whose uncache invalidates dependent entries.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = componentsPlan(pairs).localCheckpoint(false)

  private def componentsPlan(pairs: DataFrame): DataFrame = {
    val idType = pairs.schema("a").dataType
    val edges = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("id", idType, nullable = false), StructField("comp", idType, nullable = false))))
    // union-find whose roots are component minima: a union links the
    // larger root under the smaller, and `find` halves paths as it walks
    def unionFind(rows: Iterator[Row]): Iterator[Row] = {
      val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(idType)
        .on(org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(idType))
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var node = x
        parent.putIfAbsent(node, node)
        while (parent.get(node) != node) {
          val grand = parent.get(parent.get(node))
          parent.put(node, grand)
          node = grand
        }
        node
      }
      rows.foreach { r =>
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ord.lt(rb, ra)) parent.put(ra, rb) else if (ra != rb) parent.put(rb, ra)
      }
      import scala.jdk.CollectionConverters._
      parent.keySet.asScala.toVector.iterator.map(x => Row(x, find(x)))
    }
    pairs.select(col("a"), col("b").cast(idType))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .mapPartitions(unionFind _)(edges)
      .repartition(1)
      .mapPartitions(unionFind _)(edges)
      .toDF()
  }

  /** The components, checkpointed by one eager job that also counts
    * them, and the hint for their join side: broadcast when the
    * measured rows fit Spark's broadcast threshold (the planner's own
    * estimate of this plan is far above any threshold), else none. */
  private def sizedComponents(pairs: DataFrame): (DataFrame, DataFrame => DataFrame) = {
    val obs = org.apache.spark.sql.Observation()
    val comps = componentsPlan(pairs).observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    val bytes = obs.get("n").asInstanceOf[Long] * org.apache.spark.sql.catalyst.plans.logical
      .statsEstimation.EstimationUtils.getSizePerRow(comps.queryExecution.analyzed.output)
    val fits = bytes <= org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    (comps, if (fits) broadcast(_) else identity)
  }

  /** Full near-dup dedup decision: given the corpus and a pair frame
    * (from any of the similarity operators), keep the minimum id of
    * each duplicate component plus every untouched document. The
    * corpus never shuffles while the components fit a broadcast. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val (comps, hint) = sizedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(hint(losers), Seq(idCol), "left_anti")
  }

  /** [[dedupByPairs]] with an explicit representative choice: per
    * duplicate component keep the member with the best `score`
    * (highest by default; lowest with `ascending = true`), ties broken
    * by minimum id. Min-id keeps whatever happened to be ingested
    * first; real pipelines keep the best-quality page of a cluster
    * (pass e.g. [[TextAnalysis.qualityScore]]) or — SemDeDup's choice
    * — the member farthest from its cluster centroid. One extra
    * component-keyed window over the (small) component membership;
    * untouched documents never shuffle while the components fit a
    * broadcast. */
  def dedupByPairsBest(df: DataFrame, idCol: String, pairs: DataFrame,
      score: Column, ascending: Boolean = false): DataFrame = {
    val (comps, hint) = sizedComponents(pairs)
    val members = df.select(col(idCol), score.as("__score"))
      .join(hint(comps.withColumnRenamed("id", idCol)), Seq(idCol))
    val ord = if (ascending) col("__score").asc else col("__score").desc
    val w = Window.partitionBy(col("comp")).orderBy(ord, col(idCol).asc)
    val losers = members
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") > 1)
      .select(col(idCol))
    df.join(hint(losers), Seq(idCol), "left_anti")
  }

  /** MinHash-estimated Jaccard for candidate pairs (signature
    * agreement fraction), the scale path that skips exact set
    * intersection entirely: candidates from LSH, similarity from
    * signatures, no second pass over the corpus. */
  def minhashJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, n: Int = 3, threshold: Double = 0.5,
      hasher: (Column, Int) => Column = md5Hash,
      maxBucket: Int = 1000): DataFrame =
    minhashJaccardPairsFromSigs(signatures(df, idCol, textCol, k, n, hasher),
      idCol, k, bands, threshold, maxBucket)

  /** [[minhashJaccardPairs]] from an ALREADY-COMPUTED signature frame
    * — callers who hold signatures (e.g. [[incrementalNearDedup]], a
    * loaded store) skip the k-hashes-per-shingle pass entirely. */
  def minhashJaccardPairsFromSigs(sigsIn: DataFrame, idCol: String,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // signatures cached and shared by the bucketing pass and both
    // sides of the estimation join. maxBucket guards the
    // degenerate-bucket blowup like every other LSH entry point.
    val sigs = cacheOnce(sigsIn.withColumnRenamed(idCol, "__id"))
    val cands = candidatesFromSigs(sigs.withColumnRenamed("__id", idCol),
      idCol, k, bands, maxBucket = maxBucket)
    cands
      .join(sigs.select(col("__id").as("a"), col("sig").as("siga")), "a")
      .join(sigs.select(col("__id").as("b"), col("sig").as("sigb")), "b")
      .select(col("a"), col("b"),
        sigAgreement(col("siga"), col("sigb"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }
}
