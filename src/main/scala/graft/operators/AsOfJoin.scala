package graft.operators

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, StructField, StructType, TimestampNTZType,
  TimestampType}

import graft.util.Durations

/** Point-in-time (as-of) LEFT join: for each label row, pick the latest
  * feature row satisfying the temporal-availability invariant
  *
  *   feature_time <  label_time - embargo      (strict)
  *   feature_time <= label_time - embargo      (inclusive)
  *   feature_time >= label_time - maxLookback  (lower bound)
  *   feature_time >= label_time - maxStaleness (optional, tighter floor)
  *
  * `embargo` and `maxStaleness` belong to each right side ([[Right]]);
  * the strictness and the lookback are shared by the whole join
  * ([[Spec]]), so one join can serve rights with different bounds.
  *
  * Semantics follow the reference's two join strategies
  * (`/root/reference/src/timefence/engine.py:762-925`), re-expressed
  * Spark-first, as two implementations:
  *
  *  - [[rowNumber]] ([[Strategy.RowNumber]]): LEFT equi-join on keys
  *    with the range bounds as residual predicates, then
  *    `row_number() over (partition by label-rowid order by feature_time desc)`
  *    keeping rank 1 (unmatched labels survive with nulls). Exactly the
  *    reference's universal fallback (engine.py:762-828) and the in-tree
  *    reference for the carry. Catalyst plans the equi-part as
  *    broadcast/shuffled hash or SMJ; AQE handles skew. Cost grows with
  *    the number of in-window candidates per label.
  *
  *  - [[carry]] ([[Strategy.UnionAsOf]], and with a time bucket
  *    [[Strategy.UnionAsOfSegmented]]): the scale path Spark lacks
  *    natively — union label rows with the feature rows of one or more
  *    right sides (each feature row time-shifted forward by its own
  *    right's embargo), sort once per entity key by time, carry the last
  *    whole feature row of each side forward as a struct, keep label
  *    rows, then null-mask values that violate each side's
  *    lookback/staleness floor (the reference applies lower bounds as
  *    post-hoc masking on its ASOF path too, engine.py:905-917). One
  *    shuffle by entity key, no candidate blow-up — survives labels with
  *    thousands of in-window feature rows, which is the 100 TB failure
  *    mode of RowNumber.
  *
  * Every strategy returns identical results, ties included: among feature
  * rows with equal time, the greatest [[Right.tieBreakers]] tuple wins
  * and a null tie breaker ranks lowest (test-pinned). A right side that
  * declares no tie breakers leaves equal-time ties to an arbitrary winner,
  * as the reference does.
  */
object AsOfJoin {

  sealed trait Strategy
  object Strategy {
    case object RowNumber extends Strategy
    case object UnionAsOf extends Strategy
    /** UnionAsOf with the per-key window split into time buckets —
      * the skew escape hatch when single entity keys hold more rows
      * than one task should sort (see [[carry]]). */
    final case class UnionAsOfSegmented(bucket: Duration) extends Strategy
    /** UnionAsOf: benchmarked 6.7x faster at sf0.1 (dense feature
      * histories make RowNumber's candidate set explode — each label
      * joins every in-window feature row before ranking), with
      * identical results (cross-strategy equivalence is test-pinned).
      * The gap widens with history density, i.e. with scale. On a
      * large feature side, Auto additionally probes a sampled key
      * histogram and escapes to the segmented carry when one hot key
      * would serialize a task's sort (see [[autoStrategy]]). */
    case object Auto extends Strategy
  }

  /** Tuning for [[Strategy.Auto]]'s skew probe. Defaults are sized so
    * the probe never runs on inputs too small for any key to serialize
    * a task — there it costs zero extra jobs. */
  final case class AutoConfig(
      /** Feature-side optimized-plan size estimate below which Auto
        * skips the probe and uses the plain union carry: a side this
        * small sorts in one task comfortably even fully skewed. */
      probeMinBytes: Long = 2L << 30, // 2 GiB
      /** Sampling fraction for the key-histogram probe job (one
        * map-side-combined aggregation over the sample). */
      probeFraction: Double = 0.01,
      /** Estimated rows-per-key past which one task's per-key sort is
        * the job's serialization point and the segmented carry wins. */
      skewRowsPerKey: Long = 2000000L,
      /** Bucket duration is chosen so the hottest key spreads to
        * ~this many rows per (key, bucket) task. */
      targetRowsPerBucket: Long = 250000L,
      probeSeed: Long = 42L)

  /** The label side and what every right side of one join shares: the
    * strictness of the upper bound and the lookback floor. Embargo and
    * staleness are per side ([[Right]]). */
  final case class Spec(
      leftKeys: Seq[String],
      leftTime: String,
      inclusive: Boolean = false,
      maxLookback: Option[Duration] = Some(Duration.ofDays(365))
  ) {
    require(leftKeys.nonEmpty, "as-of join needs a non-empty key list")
  }

  /** One feature frame joined as of the labels. `keys` pair with
    * [[Spec.leftKeys]] by position. `timeOuts` lists the output names
    * of the carried feature time (several when same-source features
    * merged into one frame share one carry); value columns keep their
    * names, so the caller namespaces them when sides could collide.
    * `tieBreakers` are further `df` columns ordering rows of equal
    * `time`: the greatest tuple wins, a null ranks lowest. `embargo`
    * moves this side's upper bound to `label_time - embargo`;
    * `maxStaleness` floors it at `label_time - maxStaleness`, on top of
    * the shared [[Spec.maxLookback]]. */
  final case class Right(
      df: DataFrame,
      keys: Seq[String],
      time: String,
      valueCols: Seq[String],
      timeOuts: Seq[String] = Seq("feature_time"),
      tieBreakers: Seq[String] = Nil,
      embargo: Duration = Duration.ZERO,
      maxStaleness: Option[Duration] = None) {
    /** The lower bounds of this side: the shared lookback, then its own
      * staleness. */
    private[operators] def floors(spec: Spec): Seq[Duration] =
      (spec.maxLookback ++ maxStaleness).toSeq
  }

  /** `c` (of type `t`) moved by the exact duration `d`, back when `d`
    * is negative. Spark's day-time interval arithmetic on TIMESTAMP adds
    * calendar days in the session zone — 23 or 25 hours across a DST
    * transition — so a TIMESTAMP moves by microseconds instead.
    * TIMESTAMP_NTZ arithmetic is wall-clock and already exact; a DATE
    * moves by whole days. Exact moves are invertible, which the carry's
    * shifted sort relies on. */
  private def shift(c: Column, t: DataType, d: Duration): Column =
    if (d.isZero) c
    else if (t == TimestampType)
      timestamp_micros(unix_micros(c) + lit(Math.multiplyExact(d.getSeconds, 1000000L) +
        d.getNano / 1000))
    else if (d.isNegative) c - expr(Durations.toSqlInterval(d.negated))
    else c + expr(Durations.toSqlInterval(d))

  /** Bucket key for the segmented carry. `unix_micros` only accepts
    * the tz-aware TIMESTAMP type, so naive (TIMESTAMP_NTZ — e.g.
    * DuckDB-written parquet) and DATE sort columns go through a cast
    * first. The cast interprets naive values in the session zone; the
    * local→instant mapping is monotone non-decreasing under EVERY zone
    * (DST-gap locals map forward, overlap locals take one fixed
    * offset), and bucket boundaries only steer partitioning — results
    * are identical for any bucketing — so the cast is safe here even
    * where value-preserving audits (Audit.tsNorm) must guard DST. */
  private def bucketMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  private val DatetimeTypes: Set[DataType] = Set(DateType, TimestampType, TimestampNTZType)

  /** The type label and feature times of different types compare in,
    * the one Spark's union widens them to: a DATE meets a timestamp as
    * that timestamp type, and naive meets aware as aware. Any other mix
    * keeps the first type; only datetimes are ever cast to it. */
  def timeType(types: DataType*): DataType = types.reduce { (a, b) =>
    if (a == b || !DatetimeTypes(a) || !DatetimeTypes(b)) a
    else if (a == DateType) b
    else if (b == DateType) a
    else TimestampType
  }

  private def asTime(c: Column, t: DataType, s: DataType): Column =
    if (t == s || !DatetimeTypes(t)) c else c.cast(s)

  /** `label_time - d` (`lt` of type `ltType`) computed in the
    * comparison type `s` ([[timeType]]): a DATE label meets a timestamp
    * feature at its midnight before `d` moves it, the placement the
    * carry's sort uses. Every bound (embargo, lookback, staleness) and
    * the build's invariant check go through here, which keeps every
    * strategy on one answer. */
  def labelMinus(lt: Column, ltType: DataType, s: DataType, d: Duration): Column =
    shift(asTime(lt, ltType, s), s, d.negated)

  private def joinTimeType(labels: DataFrame, rights: Seq[Right], spec: Spec): DataType =
    timeType(labels.schema(spec.leftTime).dataType +: rights.map(r => r.df.schema(r.time).dataType): _*)

  /** Internal rowid column identifying label rows across the join. */
  val RowIdCol = "__label_rowid"

  /** Every right side as of the labels under one strategy: RowNumber
    * joins the rights one after another, the carry strategies run one
    * [[carry]] over all of them (Auto resolves its bucket through
    * [[autoStrategy]]). Output: all label columns, then per right its
    * `timeOuts` and value columns. */
  def join(labels: DataFrame, rights: Seq[Right], spec: Spec,
      strategy: Strategy = Strategy.Auto,
      auto: AutoConfig = AutoConfig()): DataFrame =
    strategy match {
      case Strategy.RowNumber             =>
        val s = joinTimeType(labels, rights, spec)
        rights.foldLeft(labels)(rowNumber(_, _, spec, s))
      case Strategy.UnionAsOf             => carry(labels, rights, spec)
      case Strategy.UnionAsOfSegmented(b) => carry(labels, rights, spec, Some(b))
      case Strategy.Auto                  => join(labels, rights, spec, autoStrategy(rights, auto))
    }

  /** Resolve [[Strategy.Auto]] to a concrete strategy for a carry over
    * `rights`. The carry window partitions by key over the UNION of all
    * right sides, so the size gate sums their estimates and the probe
    * runs over their unioned (key, time) columns.
    *
    * Small feature side (optimized-plan estimate < `probeMinBytes`):
    * the plain carry, no probe, no extra job. Large side: run ONE
    * sampled map-side-combined aggregation for the hottest key's
    * estimated row count and time span; past `skewRowsPerKey` the
    * per-key sort would serialize a task (the 100 TB hot-entity
    * failure mode), so escape to the segmented carry with bucket =
    * hot-key span / (est rows / targetRowsPerBucket). A hot key whose
    * rows share one timestamp cannot be spread by time bucketing, so
    * it stays on the plain carry.
    *
    * The decision is memoized per canonicalized feature plan (see
    * [[probeMemo]]): a caller looping single Auto joins over one large
    * frame — or an audit rebuilding N features from one source — pays
    * ONE sample job per distinct plan per session, not one per call. */
  def autoStrategy(rights: Seq[Right], cfg: AutoConfig = AutoConfig()): Strategy = {
    val sizeEst = rights.map(_.df.queryExecution.optimizedPlan.stats.sizeInBytes).sum
    if (rights.isEmpty || sizeEst < BigInt(cfg.probeMinBytes)) Strategy.UnionAsOf
    else {
      val keyCols = rights.head.keys.indices.map(i => s"__pk$i")
      val keyed = rights.map { r =>
        r.df.select(r.keys.zip(keyCols).map { case (k, a) => col(k).as(a) } :+
          col(r.time).as("__pt"): _*)
      }.reduce(_.unionByName(_))
      probeKeyed(keyed, keyCols, cfg)
    }
  }

  /** Probe-decision memo, keyed on the canonicalized analyzed plan of
    * the probe's (key, time) projection plus the AutoConfig. Bounded
    * (a long-lived session touching thousands of distinct frames must
    * not grow it unboundedly); cleared wholesale past the cap — the
    * memo is a pure performance cache, and a stale/missing entry only
    * re-runs the one-job probe. A 32-bit semanticHash collision at
    * worst picks the other (equivalence-pinned) strategy: results are
    * identical either way, so correctness never depends on this map. */
  private val probeMemoMax = 4096
  private val probeMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, AutoConfig), Strategy]()

  /** Drop all memoized probe decisions. The memo keys on the plan, not
    * the data, so a long-lived session that overwrites a source path
    * and re-reads it gets the OLD skew decision until eviction — still
    * correct (both strategies are equivalence-pinned), but possibly
    * the slower plan for the new distribution. Call this after
    * rewriting a frequently-joined source to force fresh probes. */
  def clearProbeMemo(): Unit = probeMemo.clear()

  /** Shared probe: sampled per-key histogram of `keyed` (key columns +
    * a `__pt` time column), decision per [[AutoConfig]]. Memoized per
    * (canonicalized plan, config). */
  private def probeKeyed(keyed: DataFrame, keyCols: Seq[String],
      cfg: AutoConfig): Strategy = {
    val memoKey = (keyed.queryExecution.analyzed.semanticHash(), cfg)
    val hit = probeMemo.get(memoKey)
    if (hit != null) return hit
    val decision = probeKeyedUncached(keyed, keyCols, cfg)
    if (probeMemo.size >= probeMemoMax) probeMemo.clear()
    probeMemo.put(memoKey, decision)
    decision
  }

  private def probeKeyedUncached(keyed: DataFrame, keyCols: Seq[String],
      cfg: AutoConfig): Strategy = {
    // The segmented escape buckets via bucketMicros, which normalizes
    // both timestamp types (aware and NTZ); for anything else (DATE
    // snapshots, numeric epochs) Auto must stay on the plain carry —
    // and can skip the probe job entirely.
    val timeBucketable = keyed.schema("__pt").dataType match {
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    if (!timeBucketable) return Strategy.UnionAsOf
    val hot = keyed
      .filter(col("__pt").isNotNull)
      .sample(withReplacement = false, cfg.probeFraction, cfg.probeSeed)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__pn"), min("__pt").as("__plo"), max("__pt").as("__phi"))
      .orderBy(col("__pn").desc)
      .limit(1)
      .collect()
    if (hot.isEmpty) Strategy.UnionAsOf
    else {
      val row = hot(0)
      val n = row.getLong(row.fieldIndex("__pn"))
      val estRows = (n / math.max(cfg.probeFraction, 1e-9)).toLong
      // A value class the probe can't span-measure must NOT crash the
      // default strategy — fall back to the plain carry (None below).
      // Both java-time APIs of the two timestamp types are covered.
      def ms(v: Any): Option[Long] = v match {
        case t: java.sql.Timestamp      => Some(t.getTime)
        case i: java.time.Instant       => Some(i.toEpochMilli)
        case d: java.time.LocalDateTime => Some(d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
        case _                          => None
      }
      val spanMs = for {
        hi <- ms(row.get(row.fieldIndex("__phi")))
        lo <- ms(row.get(row.fieldIndex("__plo")))
      } yield hi - lo
      spanMs match {
        case Some(span) if estRows > cfg.skewRowsPerKey && span > 0 =>
          val nBuckets = math.max(1L, estRows / math.max(1L, cfg.targetRowsPerBucket))
          Strategy.UnionAsOfSegmented(Duration.ofMillis(math.max(1L, span / nBuckets)))
        case _ => Strategy.UnionAsOf
      }
    }
  }

  private val FtCol = "__ft"
  private val TagCol = "__tag"
  private val SortTime = "__t"
  private val BucketCol = "__bkt"

  /** Internal names both implementations may add next to the label
    * columns; a label column named like one would be silently
    * overwritten and dropped, so the guard fails loudly instead. */
  private val ReservedCols =
    Set("__rn", FtCol, TagCol, SortTime, "__c", "__c_local", "__prev", BucketCol)
  private val ReservedPrefixes =
    Seq("__rk", "__v_", "__tb", "__jk", "__fr", "__mc", "__pv", "__bl")

  private def requireJoinable(labels: DataFrame, rights: Seq[Right], spec: Spec): Unit = {
    val clash = labels.columns.filter(c =>
      ReservedCols.contains(c) || ReservedPrefixes.exists(c.startsWith))
    require(clash.isEmpty,
      s"label columns collide with as-of internals: ${clash.mkString(", ")} — rename them")
    require(rights.forall(_.keys.length == spec.leftKeys.length),
      "as-of join needs matching non-empty key lists")
  }

  /** LEFT join + per-label-row rank. `labels` must already carry a
    * unique [[RowIdCol]] (the engine assigns it once per build so every
    * downstream consumer shares one numbering — SURVEY §7.3).
    * Output: all label columns + `timeOuts` + valueCols.
    */
  private def rowNumber(labels: DataFrame, right: Right, spec: Spec,
      timeT: DataType): DataFrame = {
    requireJoinable(labels, Seq(right), spec)
    // Rename the right side up-front so self-joins (labels and features
    // derived from the same frame) never hit ambiguous references.
    val keyAliases = right.keys.indices.map(i => s"__rk$i")
    val tieAliases = right.tieBreakers.indices.map(i => s"__tb$i")
    val feat = right.df.select(
      right.keys.zip(keyAliases).map { case (k, a) => col(k).as(a) } ++
        Seq(col(right.time).as(FtCol)) ++
        right.valueCols.map(c => col(c).as(s"__v_$c")) ++
        right.tieBreakers.zip(tieAliases).map { case (c, a) => col(c).as(a) }: _*
    )

    val lt = labels(spec.leftTime)
    val ltType = labels.schema(spec.leftTime).dataType
    val ft = feat(FtCol)
    val upperRef = labelMinus(lt, ltType, timeT, right.embargo)
    val upper = if (spec.inclusive) ft <= upperRef else ft < upperRef
    val bounds = right.floors(spec).map(d => ft >= labelMinus(lt, ltType, timeT, d))
    val keyCond = keyAliases.zip(spec.leftKeys).map { case (a, lk) => labels(lk) === feat(a) }
    val cond = (keyCond :+ upper) ++ bounds

    val w = Window.partitionBy(col(RowIdCol))
      .orderBy((FtCol +: tieAliases).map(col(_).desc_nulls_last): _*)

    labels
      .join(feat, cond.reduce(_ && _), "left")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(labels.columns.toSeq.map(col) ++ right.timeOuts.map(col(FtCol).as(_)) ++
        right.valueCols.map(c => col(s"__v_$c").as(c)): _*)
  }

  /** The union carry: N as-of joins that share `spec` — but may come
    * from N DIFFERENT sources, under N different embargoes and
    * staleness limits — in ONE shuffle + ONE window pass.
    *
    * Label rows at their own time and every right's feature rows in one
    * frame, each feature row sorted at its time plus its own right's
    * embargo: `ft + e < lt` ⇔ `ft < lt - e`. Every bound moves times by
    * an exact duration ([[shift]]) in one comparison type ([[timeType]]),
    * so the two forms agree under any session zone, DST included. Each right
    * carries its whole feature row as its
    * own struct slot (null on every other row), and the single sorted
    * window computes one `last(_, ignoreNulls)` per slot — Spark
    * evaluates all N carries in one Window operator over one sort. A
    * batch removes N-1 shuffles AND the N-way rowid re-join at assembly
    * (every carried value lands on the label row directly): the
    * dominant cost of a many-feature build at any scale. Rows of
    * different rights interleave in the sort but only ever write their
    * own slot, so carries cannot cross-contaminate. Carrying the whole
    * row as ONE struct preserves genuinely-null feature values (a
    * per-column carry would wrongly skip back to an older non-null
    * value).
    *
    * Order: time asc, then tag, then every right's tie breakers asc
    * with nulls first — so the deterministic winner (max tie breaker)
    * is carried last. Strict: at equal sort time the label row orders
    * BEFORE the feature row, so the carry at the label row cannot see
    * a feature with feature_time + embargo == label_time. Inclusive:
    * the feature orders first and is visible. `last()` over
    * (unboundedPreceding, currentRow) then implements < vs <=. Lower
    * bounds (the shared lookback, each slot's own staleness) are applied
    * as post-pass null-masking per slot, which is equivalent in output
    * to having them in the join predicate.
    *
    * `bucket` segments the per-key window into fixed time buckets so a
    * hot entity key (one user with 100M events) spreads over many tasks
    * instead of serializing into one sort. Three stages, all bounded:
    *  1. carry WITHIN (key, bucket) — the big window, now partitioned
    *     by (key, bucket) so partition size ≈ rows per key per bucket;
    *  2. per (key, bucket): each slot's LAST feature row (an
    *     aggregation, map-side combined), then a tiny per-key window
    *     over BUCKETS carries the latest previous-bucket row forward
    *     (rows per partition = number of buckets, not events);
    *  3. each row's carry = its in-bucket carry, else the previous
    *     buckets' carry, joined back on (key, bucket).
    * Results are identical for every bucket (test-pinned, including a
    * hot-key fuzz); cost is one extra small shuffle.
    */
  private def carry(labels: DataFrame, rights: Seq[Right], spec: Spec,
      bucket: Option[Duration] = None): DataFrame = {
    require(rights.nonEmpty, "an as-of carry needs at least one right side")
    // whole milliseconds required: toMillis truncates, so a positive
    // sub-ms bucket would pass a zero/negative check yet divide by 0
    // (ANSI mode throws; legacy mode nulls every bucket and collapses
    // each key into ONE partition — the exact skew this variant exists
    // to avoid), and 1.5ms would silently become 1ms
    bucket.foreach(b => require(b.toMillis >= 1 && b.toNanos % 1000000L == 0,
      s"bucket must be a positive whole number of milliseconds, got $b"))
    requireJoinable(labels, rights, spec)

    val joinKeys = spec.leftKeys.indices.map(i => s"__jk$i")
    val (labelTagV, featTagV) = if (spec.inclusive) (1, 0) else (0, 1)
    val labelCols = labels.columns.toSeq
    // label and feature times meet in one sort column of the join's
    // comparison type, where each feature time moves by its embargo
    val sortType = joinTimeType(labels, rights, spec)
    def sortTime(c: Column, t: DataType): Column = asTime(c, t, sortType)
    val tieCols = rights.zipWithIndex.map { case (r, i) =>
      r.tieBreakers.indices.map(j => s"__tb${i}_$j")
    }
    def slotType(r: Right): StructType = StructType(
      StructField("ft", r.df.schema(r.time).dataType) +:
        r.valueCols.zipWithIndex.map { case (c, vi) =>
          StructField(s"v$vi", r.df.schema(c).dataType)
        })
    // every right's slot and tie breakers: filled from right `own`'s
    // row, typed nulls for every other right (own = -1 for label rows)
    def slots(own: Int): Seq[Column] = rights.zipWithIndex.flatMap { case (r, j) =>
      val ties = r.tieBreakers.zip(tieCols(j))
      if (j == own)
        struct(col(r.time).as("ft") +:
          r.valueCols.zipWithIndex.map { case (c, vi) => col(c).as(s"v$vi") }: _*)
          .as(s"__fr$j") +: ties.map { case (c, a) => col(c).as(a) }
      else
        lit(null).cast(slotType(r)).as(s"__fr$j") +:
          ties.map { case (c, a) => lit(null).cast(r.df.schema(c).dataType).as(a) }
    }

    val lhs = labels.select(
      spec.leftKeys.zip(joinKeys).map { case (k, a) => col(k).as(a) } ++
        Seq(
          sortTime(col(spec.leftTime), labels.schema(spec.leftTime).dataType).as(SortTime),
          lit(labelTagV).as(TagCol)) ++
        labelCols.map(col) ++ slots(-1): _*)
    val rhs = rights.zipWithIndex.map { case (r, i) =>
      r.df.filter(col(r.time).isNotNull)
        // null keys never match an equi-join (RowNumber strategy,
        // reference SQL): drop them here so the carry partitioning
        // cannot invent a null==null match the other strategies (and
        // the segmented stage-3 join) would not produce
        .filter(r.keys.map(col(_).isNotNull).reduce(_ && _))
        .select(
          r.keys.zip(joinKeys).map { case (k, a) => col(k).as(a) } ++
            Seq(
              shift(sortTime(col(r.time), r.df.schema(r.time).dataType), sortType, r.embargo)
                .as(SortTime),
              lit(featTagV).as(TagCol)) ++
            labelCols.map(c => lit(null).cast(labels.schema(c).dataType).as(c)) ++
            slots(i): _*)
    }
    val unioned = (lhs +: rhs).reduce(_.unionByName(_))
    val framed = bucket.fold(unioned)(b => unioned.withColumn(BucketCol,
      floor(bucketMicros(col(SortTime)) / lit(b.toMillis * 1000L))))
    val partition = (joinKeys ++ bucket.map(_ => BucketCol)).map(col)

    // stage 1 (the whole carry when unbucketed): one window pass
    // computing every slot, planned as ONE Window operator
    val w = Window
      .partitionBy(partition: _*)
      .orderBy(col(SortTime).asc_nulls_first +: col(TagCol).asc +:
        tieCols.flatten.map(col(_).asc_nulls_first): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = framed.select(col("*") +: rights.indices.map(i =>
      last(col(s"__fr$i"), ignoreNulls = true).over(w).as(s"__mc$i")): _*)

    val carried = if (bucket.isEmpty) local else {
      // stage 2: per (key, bucket) the LAST feature row of each slot
      // by (time, tie breakers) — max_by so the carried struct never
      // needs to be orderable (map-typed values work; max(struct(...))
      // would fail analysis), keyed null off the slot's own rows so
      // label rows and other rights are skipped — then a tiny per-key
      // window over buckets carries the latest previous-bucket row
      // forward per slot
      val lasts = rights.indices.map { i =>
        val ord = if (tieCols(i).isEmpty) col(SortTime)
          else struct(col(SortTime) +: tieCols(i).map(col): _*)
        max_by(col(s"__fr$i"), when(col(s"__fr$i").isNotNull, ord)).as(s"__bl$i")
      }
      val bucketLast = framed.groupBy(partition: _*).agg(lasts.head, lasts.tail: _*)
      val wBuckets = Window
        .partitionBy(joinKeys.map(col): _*)
        .orderBy(col(BucketCol).asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, -1)
      val prevByBucket = rights.indices.foldLeft(bucketLast) { (acc, i) =>
        acc.withColumn(s"__pv$i",
          last(col(s"__bl$i"), ignoreNulls = true).over(wBuckets))
      }.select(partition ++ rights.indices.map(i => col(s"__pv$i")): _*)

      // stage 3: combine per slot
      val joined = local.join(prevByBucket, joinKeys :+ BucketCol, "left")
      rights.indices.foldLeft(joined) { (acc, i) =>
        acc.withColumn(s"__mc$i", coalesce(col(s"__mc$i"), col(s"__pv$i")))
      }
    }

    // keep label rows, per-slot validity mask, emit each right's
    // carried time aliases + value columns
    val lt = col(spec.leftTime)
    val ltType = labels.schema(spec.leftTime).dataType
    carried
      .filter(col(TagCol) === labelTagV)
      .select(
        labelCols.map(col) ++ rights.zipWithIndex.flatMap { case (r, i) =>
          val c = col(s"__mc$i")
          val cft = c.getField("ft")
          val floorOk = r.floors(spec)
            .map(d => cft >= labelMinus(lt, ltType, sortType, d))
            .reduceOption(_ && _).getOrElse(lit(true))
          val valid = c.isNotNull && floorOk
          r.timeOuts.map(o => when(valid, cft).as(o)) ++
            r.valueCols.zipWithIndex.map { case (vc, vi) =>
              when(valid, c.getField(s"v$vi")).as(vc)
            }
        }: _*)
  }
}
