package graft

import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin
import graft.operators.AsOfJoin.{Right, Spec, Strategy}

class AsOfJoinSpec extends SparkFunSuite {
  import spark.implicits._

  // labels: 3 users, various times; rowid pre-assigned
  private lazy val labels: DataFrame = Seq(
    (1L, 1L, "2024-01-10 00:00:00"),
    (2L, 1L, "2024-01-20 00:00:00"),
    (3L, 2L, "2024-01-05 00:00:00"),
    (4L, 3L, "2024-01-15 00:00:00") // user 3 has no features
  ).toDF(AsOfJoin.RowIdCol, "user_id", "lt")
    .withColumn("lt", $"lt".cast("timestamp"))

  private lazy val features: DataFrame = Seq(
    (1L, "2024-01-01 00:00:00", 10.0),
    (1L, "2024-01-10 00:00:00", 20.0), // exactly at label 1's time
    (1L, "2024-01-15 00:00:00", 30.0),
    (2L, "2023-01-01 00:00:00", 99.0) // > lookback for label 3 w/ short lookback
  ).toDF("user_id", "ft", "value")
    .withColumn("ft", $"ft".cast("timestamp"))

  private def spec(
      inclusive: Boolean = false,
      lookback: Option[Duration] = Some(Duration.ofDays(365))) =
    Spec(Seq("user_id"), "lt", inclusive, lookback)

  private def right(feats: DataFrame, embargo: Duration = Duration.ZERO,
      staleness: Option[Duration] = None) =
    Right(feats, Seq("user_id"), "ft", Seq("value"), embargo = embargo, maxStaleness = staleness)

  private def run(s: Spec, strat: Strategy, embargo: Duration = Duration.ZERO,
      staleness: Option[Duration] = None): Map[Long, (Option[java.sql.Timestamp], Option[Double])] =
    AsOfJoin.join(labels, Seq(right(features, embargo, staleness)), s, strat)
      .collect()
      .map { r =>
        val id = r.getLong(r.fieldIndex(AsOfJoin.RowIdCol))
        val ft = Option(r.getAs[java.sql.Timestamp]("feature_time"))
        val v = Option(r.getAs[Any]("value")).map(_.asInstanceOf[Double])
        id -> (ft, v)
      }.toMap

  for (strat <- Seq(Strategy.RowNumber, Strategy.UnionAsOf)) {
    val n = strat.toString

    test(s"$n: strict excludes feature at exactly label_time") {
      val r = run(spec(), strat)
      assert(r(1L) == (Some(ts("2024-01-01 00:00:00")), Some(10.0)))
    }

    test(s"$n: inclusive includes feature at exactly label_time") {
      val r = run(spec(inclusive = true), strat)
      assert(r(1L) == (Some(ts("2024-01-10 00:00:00")), Some(20.0)))
    }

    test(s"$n: picks latest prior, not first") {
      val r = run(spec(), strat)
      assert(r(2L) == (Some(ts("2024-01-15 00:00:00")), Some(30.0)))
    }

    test(s"$n: embargo shifts the upper bound") {
      val r = run(spec(), strat, embargo = Duration.ofDays(6))
      // label 2 at 01-20, embargo 6d -> bound 01-14 -> latest is 01-10
      assert(r(2L) == (Some(ts("2024-01-10 00:00:00")), Some(20.0)))
    }

    test(s"$n: unmatched labels survive with nulls") {
      val r = run(spec(), strat)
      assert(r(4L) == (None, None))
      assert(r.size == 4)
    }

    test(s"$n: lookback floors the window") {
      val r = run(spec(lookback = Some(Duration.ofDays(30))), strat)
      // label 3 (user 2, 2024-01-05): only feature is 2023-01-01 (370d prior)
      // -> out of window at 30d (and even at the 365d default)
      assert(r(3L) == (None, None))
      val rDefault = run(spec(), strat)
      assert(rDefault(3L) == (None, None))
      // a 400d lookback admits it
      val r2 = run(spec(lookback = Some(Duration.ofDays(400))), strat)
      assert(r2(3L) == (Some(ts("2023-01-01 00:00:00")), Some(99.0)))
    }

    test(s"$n: staleness floors tighter than lookback") {
      val r = run(spec(), strat, staleness = Some(Duration.ofDays(3)))
      // label 2 at 01-20 with 3d staleness: latest feature 01-15 is too old
      assert(r(2L) == (None, None))
    }

    test(s"$n: strict at zero embargo with duplicate label rows") {
      // two labels same (user, time) must each get a row
      val dup = labels.union(labels.filter(col(AsOfJoin.RowIdCol) === 1L)
        .withColumn(AsOfJoin.RowIdCol, lit(99L)))
      val out = AsOfJoin.join(dup, Seq(right(features)), spec(), strat)
      assert(out.count() == 5)
    }
  }

  test("null label times keep their rows with null features (all strategies)") {
    val lblWithNull = labels.union(
      Seq((50L, 1L, null.asInstanceOf[String]))
        .toDF(AsOfJoin.RowIdCol, "user_id", "lt")
        .withColumn("lt", $"lt".cast("timestamp")))
    for (strat <- Seq(Strategy.RowNumber, Strategy.UnionAsOf,
        Strategy.UnionAsOfSegmented(Duration.ofDays(1)))) {
      val out = AsOfJoin.join(lblWithNull, Seq(right(features)), spec(), strat).collect()
      assert(out.length == 5)
      val nullRow = out.find(_.getLong(0) == 50L).get
      assert(nullRow.isNullAt(nullRow.fieldIndex("feature_time")))
      assert(nullRow.isNullAt(nullRow.fieldIndex("value")))
    }
  }

  test("strategies agree on a randomized frame") {
    val n = 2000
    val feats = spark.range(n).select(
      (col("id") % 37).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 7919L * 1000000L).as("ft"),
      (col("id") * 13 % 101).cast("double").as("value"))
    val lbls = spark.range(300).select(
      col("id").as(AsOfJoin.RowIdCol),
      (col("id") % 41).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 104729L * 1000000L).as("lt"))
    val s = spec()
    val r = right(feats, Duration.ofHours(12), Some(Duration.ofDays(30)))
    val a = AsOfJoin.join(lbls, Seq(r), s, Strategy.RowNumber)
      .select(AsOfJoin.RowIdCol, "feature_time", "value")
    val b = AsOfJoin.join(lbls, Seq(r), s, Strategy.UnionAsOf)
      .select(AsOfJoin.RowIdCol, "feature_time", "value")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() == 300)
  }

  test("segmented union as-of equals plain union as-of, including a hot key") {
    // one hot key (90% of rows) + long tail; unique times per key
    val feats = spark.range(5000).select(
      when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id") % 37 + 2).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 977L * 1000000L).as("ft"),
      (col("id") % 101).cast("double").as("value"))
    val lbls = spark.range(400).select(
      col("id").as(AsOfJoin.RowIdCol),
      when(col("id") % 5 =!= 0, lit(1L)).otherwise(col("id") % 41 + 2).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 13441L * 1000000L).as("lt"))
    for (bucketHours <- Seq(1L, 24L, 24L * 365)) {
      val s = spec()
      val r = right(feats, Duration.ofHours(3), Some(Duration.ofDays(7)))
      val plain = AsOfJoin.join(lbls, Seq(r), s, Strategy.UnionAsOf)
        .select(AsOfJoin.RowIdCol, "feature_time", "value")
      val seg = AsOfJoin.join(lbls, Seq(r), s,
        Strategy.UnionAsOfSegmented(Duration.ofHours(bucketHours)))
        .select(AsOfJoin.RowIdCol, "feature_time", "value")
      assert(seg.count() == 400)
      assert(plain.exceptAll(seg).isEmpty && seg.exceptAll(plain).isEmpty,
        s"bucket=${bucketHours}h diverged")
    }
  }

  test("segmented multi carry equals plain multi carry, including a hot key") {
    // two right sides with distinct value types; one hot key in each
    val f1 = spark.range(4000).select(
      when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id") % 37 + 2).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 977L * 1000000L).as("t1"),
      (col("id") % 101).cast("double").as("v1"))
    val f2 = spark.range(2500).select(
      when(col("id") % 8 =!= 0, lit(1L)).otherwise(col("id") % 29 + 2).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1381L * 1000000L).as("t2"),
      concat(lit("s"), (col("id") % 13).cast("string")).as("v2"))
    val lbls = spark.range(400).select(
      col("id").as(AsOfJoin.RowIdCol),
      when(col("id") % 5 =!= 0, lit(1L)).otherwise(col("id") % 41 + 2).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 13441L * 1000000L).as("lt"))
    val s = spec()
    val rights = Seq(
      Right(f1, Seq("user_id"), "t1", Seq("v1"), Seq("ft1"),
        embargo = Duration.ofHours(3), maxStaleness = Some(Duration.ofDays(7))),
      Right(f2, Seq("user_id"), "t2", Seq("v2"), Seq("ft2"),
        embargo = Duration.ofHours(3), maxStaleness = Some(Duration.ofDays(7))))
    val plain = AsOfJoin.join(lbls, rights, s, Strategy.UnionAsOf)
    for (bucketHours <- Seq(1L, 24L, 24L * 365)) {
      val seg = AsOfJoin.join(lbls, rights, s,
        Strategy.UnionAsOfSegmented(Duration.ofHours(bucketHours)))
      assert(seg.count() == 400)
      assert(plain.exceptAll(seg).isEmpty && seg.exceptAll(plain).isEmpty,
        s"bucket=${bucketHours}h diverged from plain multi carry")
    }
    // the multi probe sees the hot key across the unioned sides
    val probing = AsOfJoin.AutoConfig(probeMinBytes = 0L, probeFraction = 1.0,
      skewRowsPerKey = 2000L, targetRowsPerBucket = 500L)
    AsOfJoin.autoStrategy(rights, probing) match {
      case Strategy.UnionAsOfSegmented(_) => // expected
      case other => fail(s"expected segmented from the multi probe, got $other")
    }
    // default config: size gate skips the probe for small batches
    assert(AsOfJoin.autoStrategy(rights) == Strategy.UnionAsOf)
  }

  test("Auto probes the key histogram and escapes a hot key to segmented") {
    // 1 key = 90% of rows, spread over ~20000s; cold keys take the rest
    val feats = spark.range(20000).select(
      when(col("id") < 18000, lit(7L)).otherwise(col("id") % 50 + 100).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ft"),
      (col("id") % 101).cast("double").as("value"))
    val lbls = spark.range(300).select(
      col("id").as(AsOfJoin.RowIdCol),
      when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 50 + 100).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 67L * 1000000L).as("lt"))
    val s = spec()
    val stale = Some(Duration.ofDays(7))
    val probing = AsOfJoin.AutoConfig(probeMinBytes = 0L, probeFraction = 1.0,
      skewRowsPerKey = 5000L, targetRowsPerBucket = 1000L)

    // decision: hot key (18000 rows > 5000) -> segmented, bucket sized
    // from the hot key's span so ~targetRowsPerBucket rows per bucket
    AsOfJoin.autoStrategy(Seq(right(feats)), probing) match {
      case Strategy.UnionAsOfSegmented(b) =>
        assert(b.toMillis >= 500000L && b.toMillis <= 2000000L,
          s"bucket $b not sized from the 17999s hot-key span / 18 buckets")
      case other => fail(s"expected segmented for the hot key, got $other")
    }
    // a uniform key histogram stays on the plain carry
    val uniform = feats.withColumn("user_id", col("value").cast("long") * 7919)
    assert(AsOfJoin.autoStrategy(Seq(right(uniform)), probing) == Strategy.UnionAsOf)
    // default config skips the probe entirely for a small side
    assert(AsOfJoin.autoStrategy(Seq(right(feats))) == Strategy.UnionAsOf)

    // end-to-end: Auto output is identical to the plain union carry
    val auto = AsOfJoin.join(lbls, Seq(right(feats, staleness = stale)), s, Strategy.Auto, probing)
      .select(AsOfJoin.RowIdCol, "feature_time", "value")
    val plain = AsOfJoin.join(lbls, Seq(right(feats, staleness = stale)), s, Strategy.UnionAsOf)
      .select(AsOfJoin.RowIdCol, "feature_time", "value")
    assert(auto.count() == 300)
    assert(plain.exceptAll(auto).isEmpty && auto.exceptAll(plain).isEmpty,
      "Auto (segmented) diverged from unionAsOf")
  }

  test("Auto probe decision is memoized: repeated joins of one frame run one probe") {
    // a caller looping single Auto joins over one large frame (or an
    // audit rebuilding N features from one source) must pay ONE sampled
    // histogram job per distinct plan, not one per call
    val feats = spark.range(30000).select(
      when(col("id") < 27000, lit(7L)).otherwise(col("id") % 50 + 100).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 990000L).as("ft"),
      (col("id") % 101).cast("double").as("value"))
    // distinct config (seed) so earlier suites' memo entries can't alias
    val probing = AsOfJoin.AutoConfig(probeMinBytes = 0L, probeFraction = 1.0,
      skewRowsPerKey = 5000L, targetRowsPerBucket = 1000L, probeSeed = 0xC0FFEE)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // the listener bus delivers asynchronously (and is private[spark]):
    // poll the counter until it holds still before reading it
    def settled(): Int = {
      var last = -1
      var same = 0
      var waited = 0
      while (same < 3 && waited < 10000) {
        Thread.sleep(100); waited += 100
        val v = jobs.get()
        if (v == last) same += 1 else { same = 0; last = v }
      }
      last
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val first = AsOfJoin.autoStrategy(Seq(right(feats)), probing)
      val afterFirst = settled()
      assert(afterFirst > 0, "probing config on a hot frame must run the probe job")
      val repeats = (1 to 3).map(_ => AsOfJoin.autoStrategy(Seq(right(feats)), probing))
      assert(settled() == afterFirst,
        s"repeated Auto resolution re-ran the probe: ${jobs.get()} jobs vs $afterFirst")
      assert(repeats.forall(_ == first), "memoized decision diverged")
      // clearProbeMemo drops the decision: the next resolution re-probes
      // (the escape hatch for sessions that rewrite a joined source)
      AsOfJoin.clearProbeMemo()
      assert(AsOfJoin.autoStrategy(Seq(right(feats)), probing) == first)
      assert(settled() > afterFirst,
        "clearProbeMemo must force a fresh probe job on the next resolution")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Auto hot-key escape works on TIMESTAMP_NTZ sort columns") {
    // NTZ is a first-class input (DuckDB-written parquet); the probe
    // marks it bucketable, so the segmented carry it escapes to must
    // bucket it without crashing (unix_micros alone rejects NTZ —
    // bucketMicros casts first). Regression: pre-fix this threw
    // DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE from the DEFAULT strategy.
    val feats = spark.range(20000).select(
      when(col("id") < 18000, lit(7L)).otherwise(col("id") % 50 + 100).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
        .cast("timestamp_ntz").as("ft"),
      (col("id") % 101).cast("double").as("value"))
    val lbls = spark.range(300).select(
      col("id").as(AsOfJoin.RowIdCol),
      when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 50 + 100).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 67L * 1000000L)
        .cast("timestamp_ntz").as("lt"))
    val s = spec()
    val stale = Some(Duration.ofDays(7))
    val probing = AsOfJoin.AutoConfig(probeMinBytes = 0L, probeFraction = 1.0,
      skewRowsPerKey = 5000L, targetRowsPerBucket = 1000L)
    // the probe still sees the hot key through NTZ values
    AsOfJoin.autoStrategy(Seq(right(feats)), probing) match {
      case Strategy.UnionAsOfSegmented(_) => // expected
      case other => fail(s"expected segmented for the NTZ hot key, got $other")
    }
    // end-to-end: Auto (segmented, NTZ-bucketed) equals the plain carry
    val auto = AsOfJoin.join(lbls, Seq(right(feats, staleness = stale)), s, Strategy.Auto, probing)
      .select(AsOfJoin.RowIdCol, "feature_time", "value")
    val plain = AsOfJoin.join(lbls, Seq(right(feats, staleness = stale)), s, Strategy.UnionAsOf)
      .select(AsOfJoin.RowIdCol, "feature_time", "value")
    assert(auto.count() == 300)
    assert(plain.exceptAll(auto).isEmpty && auto.exceptAll(plain).isEmpty,
      "Auto (segmented over NTZ) diverged from unionAsOf")
  }

  test("tie breakers pick the same winner under every strategy and in a multi batch") {
    // planted duplicate (user_id, ft) groups with distinct tie breakers,
    // one of them null: the greatest tie breaker wins, a null ranks lowest
    val fa = Seq(
      (1L, "2024-01-05 00:00:00", Some(3L), 1.0),
      (1L, "2024-01-05 00:00:00", None, 2.0),
      (1L, "2024-01-05 00:00:00", Some(7L), 3.0),
      (1L, "2024-01-10 00:00:00", None, 4.0),
      (1L, "2024-01-10 00:00:00", Some(2L), 5.0),
      (1L, "2024-01-12 00:00:00", Some(5L), 6.0),
      (1L, "2024-01-12 00:00:00", Some(1L), 7.0),
      (2L, "2024-01-03 00:00:00", None, 8.0),
      (2L, "2024-01-03 00:00:00", Some(4L), 9.0)
    ).toDF("user_id", "ft", "tb", "value").withColumn("ft", $"ft".cast("timestamp"))
    // a second right over the same rows whose own tie breaker reverses
    // the order of the non-null ones
    val fb = fa.select(col("user_id"), col("ft").as("t2"),
      (lit(10L) - col("tb")).as("tb2"), col("value").as("v2"))
    val lbls = Seq(
      (1L, 1L, "2024-01-10 00:00:00"),
      (2L, 1L, "2024-01-12 00:00:00"),
      (3L, 1L, "2024-01-15 00:00:00"),
      (4L, 2L, "2024-01-03 00:00:00"),
      (5L, 2L, "2024-01-06 00:00:00")
    ).toDF(AsOfJoin.RowIdCol, "user_id", "lt").withColumn("lt", $"lt".cast("timestamp"))
    val ra0 = Right(fa, Seq("user_id"), "ft", Seq("value"), Seq("ft_a"), Seq("tb"))
    val rb0 = Right(fb, Seq("user_id"), "t2", Seq("v2"), Seq("ft_b"), Seq("tb2"))
    def winners(df: DataFrame, v: String): Seq[Option[Double]] =
      df.select(col(AsOfJoin.RowIdCol), col(v)).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
        .sortBy(_._1).map(_._2).toSeq
    // expected value per label 1..5, for ra and rb, by (inclusive, embargo days)
    val n = None
    val expected = Map(
      (false, 0L) -> (Seq(Some(3.0), Some(5.0), Some(6.0), n, Some(9.0)),
        Seq(Some(1.0), Some(5.0), Some(7.0), n, Some(9.0))),
      (true, 0L) -> (Seq(Some(5.0), Some(6.0), Some(6.0), Some(9.0), Some(9.0)),
        Seq(Some(5.0), Some(7.0), Some(7.0), Some(9.0), Some(9.0))),
      (false, 3L) -> (Seq(Some(3.0), Some(3.0), Some(5.0), n, n),
        Seq(Some(1.0), Some(1.0), Some(5.0), n, n)),
      (true, 3L) -> (Seq(Some(3.0), Some(3.0), Some(6.0), n, Some(9.0)),
        Seq(Some(1.0), Some(1.0), Some(7.0), n, Some(9.0))))
    val buckets = Seq(Duration.ofHours(1), Duration.ofDays(30))
    for (((inclusive, embargoDays), (wantA, wantB)) <- expected) {
      val s = spec(inclusive = inclusive)
      val ra = ra0.copy(embargo = Duration.ofDays(embargoDays))
      val rb = rb0.copy(embargo = Duration.ofDays(embargoDays))
      val ctx = s"inclusive=$inclusive embargo=${embargoDays}d"
      for (strat <- Strategy.RowNumber +: Strategy.UnionAsOf +:
          buckets.map(Strategy.UnionAsOfSegmented(_))) {
        assert(winners(AsOfJoin.join(lbls, Seq(ra), s, strat), "value") == wantA, s"$strat $ctx")
        assert(winners(AsOfJoin.join(lbls, Seq(rb), s, strat), "v2") == wantB, s"$strat $ctx")
        val multi = AsOfJoin.join(lbls, Seq(ra, rb), s, strat)
        assert(winners(multi, "value") == wantA, s"multi $strat $ctx")
        assert(winners(multi, "v2") == wantB, s"multi $strat $ctx")
      }
    }
  }

  // ---- per-right bounds: brute-force references -------------------
  private val H = 3600L * 1000000L
  private val D = 24 * H

  /** A time value as micros: the instant of a TIMESTAMP, the wall clock
    * (read as UTC) of a TIMESTAMP_NTZ. */
  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case l: java.time.LocalDateTime =>
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
  }

  /** One right for the references: rows `(key, time micros, value)`, its
    * embargo and staleness in micros. */
  private final case class RefRight(rows: Seq[(Long, Long, Double)], embargo: Long,
      staleness: Option[Long])

  /** The latest row of `key` with `t < lt - embargo` (`<=` inclusive)
    * and `t` at or above every floor, by a scan of every row. */
  private def bruteAsOf(r: RefRight, key: Long, lt: Long, inclusive: Boolean,
      lookback: Long): Option[(Long, Double)] = {
    val upper = lt - r.embargo
    r.rows.filter { case (k, t, _) =>
      k == key && (if (inclusive) t <= upper else t < upper) &&
        (lookback +: r.staleness.toSeq).forall(f => t >= lt - f)
    }.sortBy(_._2).lastOption.map { case (_, t, v) => (t, v) }
  }

  /** Per label rowid, each right's `(feature time, value)` from a join
    * whose right `j` emits `ft$j` and `v$j`. */
  private def answers(df: DataFrame, nRights: Int): Map[Long, Seq[Option[(Long, Double)]]] =
    df.collect().map { r =>
      r.getLong(r.fieldIndex(AsOfJoin.RowIdCol)) -> (0 until nRights).map { j =>
        Option(r.get(r.fieldIndex(s"ft$j"))).map(t => (micros(t), r.getDouble(r.fieldIndex(s"v$j"))))
      }
    }.toMap

  private val allStrategies: Seq[(Strategy, AsOfJoin.AutoConfig)] = Seq(
    Strategy.RowNumber, Strategy.UnionAsOf,
    Strategy.UnionAsOfSegmented(Duration.ofHours(1)),
    Strategy.UnionAsOfSegmented(Duration.ofDays(30)),
    Strategy.Auto).map(_ -> AsOfJoin.AutoConfig()) :+
    // Auto with a probe that escapes the hot-ish keys to the segmented carry
    (Strategy.Auto -> AsOfJoin.AutoConfig(probeMinBytes = 0L, probeFraction = 1.0,
      skewRowsPerKey = 50L, targetRowsPerBucket = 20L, probeSeed = 7L))

  test("one batch mixing per-right embargo and staleness matches a brute-force scan, every strategy") {
    val base = 1704067200000000L // 2024-01-01 00:00 UTC
    val lookbackDays = 50L
    // embargo 0 / 1d / 3d crossed with staleness none / 30d: six rights
    val bounds = for (e <- Seq(0L, 1L, 3L); st <- Seq(Option.empty[Long], Some(30L)))
      yield (e, st)
    val labelRows = (0 until 80).map { i =>
      (i.toLong, (i % 6 + 1).toLong, base + 60 * D + (i * 7919L % (40 * 24)) * H)
    }
    val refs = bounds.zipWithIndex.map { case ((e, st), j) =>
      val spread = (0 until 150).map(i =>
        ((i % 6 + 1).toLong, base + ((i * 104729L + j * 17L) % (100 * 24)) * H))
      // rows exactly on some labels' embargo edge and staleness edge
      val planted = labelRows.filter(_._1 % 3 == j % 3).flatMap { case (_, k, lt) =>
        (k, lt - e * D) +: st.toSeq.map(s => (k, lt - s * D))
      }
      RefRight((spread ++ planted).distinct.map { case (k, t) =>
        (k, t, ((t - base) / H).toDouble + k * 1e6 + j / 8.0)
      }, e * D, st.map(_ * D))
    }
    val lbls = labelRows.toDF(AsOfJoin.RowIdCol, "user_id", "lt_us")
      .select(col(AsOfJoin.RowIdCol), col("user_id"), timestamp_micros(col("lt_us")).as("lt"))
    val rights = refs.zipWithIndex.map { case (r, j) =>
      Right(r.rows.toDF("user_id", "t_us", s"v$j")
          .select(col("user_id"), timestamp_micros(col("t_us")).as(s"t$j"), col(s"v$j")),
        Seq("user_id"), s"t$j", Seq(s"v$j"), Seq(s"ft$j"),
        embargo = Duration.ofDays(bounds(j)._1), maxStaleness = bounds(j)._2.map(Duration.ofDays))
    }
    for (inclusive <- Seq(false, true)) {
      val want = labelRows.map { case (id, k, lt) =>
        id -> refs.map(bruteAsOf(_, k, lt, inclusive, lookbackDays * D))
      }.toMap
      // the planted edges are live: some label's answer sits exactly on one
      assert(refs.zipWithIndex.exists { case (r, j) =>
        labelRows.exists { case (id, _, lt) => want(id)(j).exists(_._1 == lt - r.embargo) }
      } == inclusive)
      val s = Spec(Seq("user_id"), "lt", inclusive, Some(Duration.ofDays(lookbackDays)))
      for ((strat, cfg) <- allStrategies) {
        val got = answers(AsOfJoin.join(lbls, rights, s, strat, cfg), rights.size)
        assert(got == want, s"$strat $cfg inclusive=$inclusive")
      }
    }
  }

  test("1-day embargo across DST transitions in a DST session zone: TIMESTAMP, TIMESTAMP_NTZ, DATE labels") {
    // one day of embargo is 24 hours of the time line: around New York's
    // 2024 transitions a calendar day is 23 or 25 hours, so rows planted
    // at lt - 25h .. lt - 23h tell exact arithmetic from calendar days
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val ny = java.time.ZoneId.of("America/New_York")
      val labelTimes = Seq(
        "2024-03-10T12:00", "2024-03-11T01:30", "2024-03-11T02:30", "2024-03-10T01:30",
        "2024-11-03T12:00", "2024-11-04T01:30", "2024-11-03T01:30", "2024-11-02T23:00"
      ).map(java.time.LocalDateTime.parse)
      val offsets = Seq(-25L * H, -24L * H - 1, -24L * H, -24L * H + 1, -23L * H)
      for (variant <- Seq("timestamp", "timestamp_ntz", "date labels")) {
        val ntz = variant == "timestamp_ntz"
        val dates = variant == "date labels"
        // micros on each type's own scale: the instant (TIMESTAMP, and a
        // DATE label's midnight in the session zone) or the wall clock read
        // as UTC (TIMESTAMP_NTZ)
        val labelDays = labelTimes.map(_.toLocalDate).distinct
        val lts =
          if (dates) labelDays.map(d => micros(java.sql.Timestamp.from(d.atStartOfDay(ny).toInstant)))
          else labelTimes.map(l =>
            if (ntz) micros(l) else micros(java.sql.Timestamp.from(l.atZone(ny).toInstant)))
        // column values of micros `us`, encoded without the session zone
        def ldt(us: Long) = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
        def inst(us: Long) = java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
        val labelRows = lts.zipWithIndex.map { case (lt, i) => (i.toLong, i.toLong + 1, lt) }
        // right 0: 1-day embargo. Right 1: no embargo, a 1-day staleness
        // floor, with rows only at or below it (the floor row itself on
        // even keys), so a 23- or 25-hour floor changes the answer
        val refs = Seq(
          RefRight(labelRows.flatMap { case (_, k, lt) =>
            offsets.map(o => (k, lt + o, (o + 26 * H).toDouble)) }, D, None),
          RefRight(labelRows.flatMap { case (_, k, lt) =>
            offsets.filter(o => o < -24 * H || (o == -24 * H && k % 2 == 0))
              .map(o => (k, lt + o, (o + 50 * H).toDouble)) }, 0L, Some(D)))
        val lbls =
          if (dates) labelRows.zip(labelDays).map { case ((id, k, _), d) => (id, k, d) }
            .toDF(AsOfJoin.RowIdCol, "user_id", "lt")
          else if (ntz) labelRows.map { case (id, k, lt) => (id, k, ldt(lt)) }
            .toDF(AsOfJoin.RowIdCol, "user_id", "lt")
          else labelRows.map { case (id, k, lt) => (id, k, inst(lt)) }
            .toDF(AsOfJoin.RowIdCol, "user_id", "lt")
        val rights = refs.zipWithIndex.map { case (r, j) =>
          val df =
            if (ntz) r.rows.map { case (k, t, v) => (k, ldt(t), v) }.toDF("user_id", s"t$j", s"v$j")
            else r.rows.map { case (k, t, v) => (k, inst(t), v) }.toDF("user_id", s"t$j", s"v$j")
          Right(df, Seq("user_id"), s"t$j", Seq(s"v$j"), Seq(s"ft$j"),
            embargo = Duration.ofNanos(r.embargo * 1000L),
            maxStaleness = r.staleness.map(st => Duration.ofNanos(st * 1000L)))
        }
        assert(lbls.schema("lt").dataType.typeName ==
          (if (dates) "date" else if (ntz) "timestamp_ntz" else "timestamp"))
        for (inclusive <- Seq(false, true)) {
          val want = labelRows.map { case (id, k, lt) =>
            id -> refs.map(bruteAsOf(_, k, lt, inclusive, 365L * D))
          }.toMap
          val s = Spec(Seq("user_id"), "lt", inclusive)
          for ((strat, cfg) <- allStrategies) {
            val got = answers(AsOfJoin.join(lbls, rights, s, strat, cfg), rights.size)
            assert(got == want, s"$strat $variant inclusive=$inclusive")
          }
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("all-null feature values are carried as null (not skipped back)") {
    val f2 = Seq(
      (1L, "2024-01-01 00:00:00", Some(7.0)),
      (1L, "2024-01-09 00:00:00", None: Option[Double])
    ).toDF("user_id", "ft", "value").withColumn("ft", $"ft".cast("timestamp"))
    for (strat <- Seq(Strategy.RowNumber, Strategy.UnionAsOf)) {
      val out = AsOfJoin.join(labels.filter(col(AsOfJoin.RowIdCol) === 1L), Seq(right(f2)), spec(), strat)
      val row = out.collect().head
      // latest row (01-09) wins even though its value is null
      assert(row.getAs[java.sql.Timestamp]("feature_time") == ts("2024-01-09 00:00:00"))
      assert(row.isNullAt(row.fieldIndex("value")))
    }
  }
}
