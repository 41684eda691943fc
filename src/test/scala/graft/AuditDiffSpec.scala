package graft

import org.apache.spark.sql.functions._

import graft.engine.{Audit, Build, BuildOptions, Diff, Explain}
import graft.errors.LeakageError
import graft.model._
import graft.operators.AsOfJoin

class AuditDiffSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val clean = Seq(
    (1L, ts("2024-01-10 00:00:00"), ts("2024-01-05 00:00:00"), 1.0),
    (2L, ts("2024-01-11 00:00:00"), ts("2024-01-02 00:00:00"), 2.0),
    (3L, ts("2024-01-12 00:00:00"), null.asInstanceOf[java.sql.Timestamp], 3.0)
  ).toDF("user_id", "label_time", "f__feature_time", "f__v")

  private lazy val leaky = Seq(
    (1L, ts("2024-01-10 00:00:00"), ts("2024-01-15 00:00:00"), 1.0), // 5d leak
    (2L, ts("2024-01-11 00:00:00"), ts("2024-01-11 00:00:00"), 2.0), // 0s leak (>=)
    (3L, ts("2024-01-12 00:00:00"), ts("2024-01-01 00:00:00"), 3.0) // fine
  ).toDF("user_id", "label_time", "f__feature_time", "f__v")

  test("temporal audit: clean dataset passes") {
    val r = Audit.temporal(clean, "label_time", Map("f" -> "f__feature_time"))
    assert(r.passed)
    assert(r.details.head.leakyRows == 0)
    assert(r.details.head.nullRows == 1)
    r.assertClean()
  }

  test("temporal audit: leaky dataset fails with stats") {
    val r = Audit.temporal(leaky, "label_time", Map("f" -> "f__feature_time"))
    assert(!r.passed)
    val d = r.details.head
    assert(d.leakyRows == 2)
    assert(d.maxLeak.contains(java.time.Duration.ofDays(5)))
    // median of (5d, 0s) leaks = 2.5d
    assert(d.medianLeak.contains(java.time.Duration.ofHours(60)))
    assert(d.severity == "HIGH") // 2/3 leaky and 5d max... pct > 5%
    assertThrows[LeakageError](r.assertClean())
    assert(r.leakySample.get.count() == 2)
  }

  test("temporal audit accepts TIMESTAMP_NTZ columns (foreign-engine parquet)") {
    // datasets written by other engines (DuckDB, pandas) often carry
    // naive timestamps; unix_micros alone would reject them
    val ntz = leaky
      .withColumn("label_time", col("label_time").cast("timestamp_ntz"))
      .withColumn("f__feature_time", col("f__feature_time").cast("timestamp_ntz"))
    val r = Audit.temporal(ntz, "label_time", Map("f" -> "f__feature_time"))
    assert(r.details.head.leakyRows == 2)
    assert(r.details.head.maxLeak.contains(java.time.Duration.ofDays(5)))
    assert(r.leakySample.get.count() == 2)
  }

  test("temporal audit rejects all-NTZ columns under a DST session zone") {
    // a non-fixed-offset zone shifts NTZ casts by transition-dependent
    // offsets — label/feature times straddling a DST boundary would
    // shift unequally and skew leak durations
    val ntz = leaky
      .withColumn("label_time", col("label_time").cast("timestamp_ntz"))
      .withColumn("f__feature_time", col("f__feature_time").cast("timestamp_ntz"))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assertThrows[graft.errors.TimezoneMismatchError](
        Audit.temporal(ntz, "label_time", Map("f" -> "f__feature_time")))
      // a fixed non-UTC offset is fine: both sides shift equally
      spark.conf.set("spark.sql.session.timeZone", "+02:00")
      val r = Audit.temporal(ntz, "label_time", Map("f" -> "f__feature_time"))
      assert(r.details.head.leakyRows == 2)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("severity boundaries") {
    // tiny pct + small leak => LOW
    val n = 1000
    val rows = (1 to n).map { i =>
      val lt = ts("2024-01-10 00:00:00")
      val ft = if (i == 1) ts("2024-01-10 00:30:00") else ts("2024-01-01 00:00:00")
      (i.toLong, lt, ft)
    }
    val df = rows.toDF("user_id", "label_time", "ftc")
    val r = Audit.temporal(df, "label_time", Map("f" -> "ftc"))
    assert(r.details.head.leakyRows == 1)
    assert(r.details.head.severity == "LOW")
  }

  test("audit json serializes") {
    val r = Audit.temporal(leaky, "label_time", Map("f" -> "f__feature_time"))
    val j = r.toJson
    assert(j.contains("\"leaky_rows\":2"))
    assert(j.contains("\"passed\":false"))
  }

  test("rebuild audit unpersists its caches when the timezone guard throws") {
    val users = spark.range(1, 10).select(
      col("id").as("user_id"),
      (lit(ts("2023-06-01 00:00:00")) + make_dt_interval(col("id"))).as("updated_at"),
      (col("id") * 2.0).as("score"))
    val labelsDf = spark.range(1, 10).select(
      col("id").as("user_id"),
      (lit(ts("2023-07-01 00:00:00")) + make_dt_interval(col("id"))).as("label_time"),
      (col("id") % 2 === 0).as("y"))
    val feature = Feature("score",
      Source.frame("users", users, Seq("user_id"), "updated_at"),
      ColumnsMode(Map("score" -> "score")))
    val built = Build(spark,
      Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")),
      Seq(feature)).df
      // NTZ label vs the rebuilt (tz-aware) feature time under a DST
      // session zone = the guard's mixed-timestamp fail-loud case
      .withColumn("label_time", col("label_time").cast("timestamp_ntz"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assertThrows[graft.errors.TimezoneMismatchError](
        Audit.rebuild(spark, built, Seq(feature), Seq("user_id"), "label_time"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "rebuild audit leaked cached frames on the fail-loud path")
  }

  test("audit report file + html output (reference to_json/to_html)") {
    val r = Audit.temporal(leaky, "label_time", Map("f" -> "f__feature_time"))
    val dir = java.nio.file.Files.createTempDirectory("graft_report")
    r.toJson(s"$dir/audit.json")
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/audit.json"))
      .contains("\"leaky_rows\":2"))
    r.toHtml(s"$dir/audit.html")
    val html = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/audit.html"))
    assert(html.contains("LEAK") && html.contains("Scanned 3 rows"))
    val cleanHtml = Audit.temporal(clean, "label_time", Map("f" -> "f__feature_time")).toHtml
    assert(cleanHtml.contains("CLEAN") && !cleanHtml.contains(">LEAK<"))
  }

  test("rebuild audit: clean build audits clean; tampered column flagged") {
    val users = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-06-01 00:00:00")) + make_dt_interval(col("id"))).as("updated_at"),
      (col("id") * 2.0).as("score"))
    val labelsDf = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-07-01 00:00:00")) + make_dt_interval(col("id"))).as("label_time"),
      (col("id") % 2 === 0).as("y"))
    val feature = Feature("score",
      Source.frame("users", users, Seq("user_id"), "updated_at"),
      ColumnsMode(Map("score" -> "score")))
    val built = Build(spark,
      Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")),
      Seq(feature)).df

    val cleanR = Audit.rebuild(spark, built, Seq(feature), Seq("user_id"), "label_time")
    assert(cleanR.passed, cleanR.details.toString)

    val tampered = built.withColumn("score__score",
      when(col("user_id") === 5, lit(999.0)).otherwise(col("score__score")))
    val badR = Audit.rebuild(spark, tampered, Seq(feature), Seq("user_id"), "label_time")
    assert(!badR.passed)
    assert(badR.details.head.mismatches("score__score") == 1)
    // rebuild mode captures the offending rows (reference engine.py:1800-1815)
    val sample = badR.leakySample.get.collect()
    assert(sample.length == 1)
    assert(sample.head.getAs[Long]("user_id") == 5L)
    assert(sample.head.getAs[Double]("score__score") == 999.0)
    // clean audit produces no sample
    assert(cleanR.leakySample.isEmpty)
  }

  test("rebuild audit: multi-feature rebuild through build's batches, Auto and RowNumber") {
    // two same-source ColumnsMode features (one merged unit) plus a
    // key-mapped SQL feature with a 1-day embargo on a second source
    val users = spark.range(1, 30).select(
      col("id").as("user_id"),
      (lit(ts("2023-06-01 00:00:00")) + make_dt_interval(col("id"))).as("updated_at"),
      (col("id") * 2.0).as("score"),
      concat(lit("T"), col("id") % 3).as("tier"))
    val txns = spark.range(1, 200).select(
      (col("id") % 29 + 1).as("uid"),
      (lit(ts("2023-06-20 00:00:00")) + make_dt_interval(col("id") % 20, col("id") % 24))
        .as("created_at"),
      (col("id") % 17).cast("double").as("amount"))
    val labelsDf = spark.range(1, 30).select(
      col("id").as("user_id"),
      (lit(ts("2023-07-01 00:00:00")) + make_dt_interval(col("id") % 5)).as("label_time"),
      (col("id") % 2 === 0).as("y"))
    val usersSrc = Source.frame("users", users, Seq("user_id"), "updated_at")
    val feats = Seq(
      Feature("fa", usersSrc, ColumnsMode(Map("score" -> "score"))),
      Feature("fb", usersSrc, ColumnsMode(Map("tier" -> "tier"))),
      Feature("spend", Source.frame("txns", txns, Seq("uid"), "created_at"),
        SqlMode("SELECT uid, created_at AS feature_time, amount * 2 AS amt2 FROM {source}"),
        embargo = java.time.Duration.ofDays(1), keyMapping = Map("user_id" -> "uid")))
    val lbl = Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y"))
    Seq(AsOfJoin.Strategy.Auto, AsOfJoin.Strategy.RowNumber).foreach { strat =>
      val opts = BuildOptions(strategy = strat)
      val built = Build(spark, lbl, feats, opts).df
      assert(built.filter(col("spend__amt2").isNotNull).count() > 0, s"$strat")
      val cachedBefore = spark.sparkContext.getPersistentRDDs.size
      val cleanR = Audit.rebuild(spark, built, feats, Seq("user_id"), "label_time", opts)
      assert(cleanR.passed, s"$strat ${cleanR.details}")
      assert(cleanR.details.map(_.feature) == Seq("fa", "fb", "spend"))
      assert(cleanR.details.map(_.mismatches.keySet) ==
        Seq(Set("fa__score"), Set("fb__tier"), Set("spend__amt2")), s"$strat")
      assert(cleanR.leakySample.isEmpty)
      assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore, s"$strat clean")

      val tampered = built.withColumn("fb__tier",
        when(col("user_id") === 7, lit("ZZ")).otherwise(col("fb__tier")))
      val badR = Audit.rebuild(spark, tampered, feats, Seq("user_id"), "label_time", opts)
      assert(!badR.passed)
      assert(badR.details.flatMap(_.mismatches).filter(_._2 > 0) == Seq("fb__tier" -> 1L),
        s"$strat ${badR.details}")
      assert(badR.details.forall(_.leakyRows == 0))
      val sample = badR.leakySample.get.collect()
      assert(sample.map(_.getAs[Long]("user_id")).toSeq == Seq(7L), s"$strat")
      assert(sample.head.getAs[String]("fb__tier") == "ZZ")
      assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore, s"$strat tampered")
    }
  }

  test("audit json round-trips escaped names and rebuild mismatches") {
    val name = "a\\b\n\"c"
    val r = Audit.AuditReport(10L, Seq(Audit.FeatureAuditDetail(name, 0L, 10L, None, None, 0L,
      Map(s"${name}__v" -> 3L))), None)
    val parsed = graft.util.Jsons.parseObject(r.toJson).get
    assert(parsed("passed") == false && parsed("total_rows") == 10L)
    val f = parsed("features").asInstanceOf[Seq[Map[String, Any]]].head
    assert(f("feature") == name)
    assert(f("mismatches") == Map(s"${name}__v" -> 3L))
  }

  test("diff: identical frames") {
    val r = Diff(clean, clean, Seq("user_id"), "label_time")
    assert(r.identical)
  }

  test("diff: schema drift + value changes + null transitions + tolerance") {
    val newDf = clean
      .withColumn("f__v", when(col("user_id") === 1, 10.5).otherwise(col("f__v")))
      .withColumn("f__feature_time",
        when(col("user_id") === 2, lit(null).cast("timestamp"))
          .otherwise(col("f__feature_time")))
      .withColumn("extra", lit(1))
    val r = Diff(clean, newDf, Seq("user_id"), "label_time")
    assert(r.addedColumns == Seq("extra"))
    val v = r.columns.find(_.column == "f__v").get
    assert(v.changed == 1)
    assert(v.meanDelta.exists(d => math.abs(d - 9.5) < 1e-9))
    assert(v.maxAbsDelta.exists(d => math.abs(d - 9.5) < 1e-9))
    val ftc = r.columns.find(_.column == "f__feature_time").get
    assert(ftc.nullTransitions == 1) // user 2: ts -> null; user 3 stays null
  }

  test("diff: within-tolerance changes don't count") {
    val newDf = clean.withColumn("f__v", col("f__v") + lit(1e-12))
    val r = Diff(clean, newDf, Seq("user_id"), "label_time")
    assert(r.columns.find(_.column == "f__v").get.changed == 0)
  }

  test("diff counts both sides in its one action: duplicates, one-sided rows, empty sides") {
    val t = (d: Int) => ts(s"2024-01-${10 + d} 00:00:00")
    val old = Seq(
      (1L, t(1), 1.0), (1L, t(1), 1.5), // duplicate key
      (2L, t(2), 2.0),
      (3L, t(3), 3.0) // old only
    ).toDF("user_id", "label_time", "f__v")
    val neu = Seq(
      (1L, t(1), 1.0),
      (2L, t(2), 2.5),
      (4L, t(4), 4.0), (4L, t(4), 4.0) // new only, duplicated
    ).toDF("user_id", "label_time", "f__v")
    val emptyRuntime = old.filter(col("f__v") < 0) // empty only once it runs
    val emptyStatic = old.limit(0) // empty by plan
    val pairs = Seq("old/new" -> (old, neu), "new/old" -> (neu, old),
      "old/empty" -> (old, emptyRuntime), "empty/new" -> (emptyRuntime, neu),
      "static empty/new" -> (emptyStatic, neu), "empty/empty" -> (emptyRuntime, emptyStatic))
    for ((name, (o, n)) <- pairs) {
      val emptySide = o.isEmpty || n.isEmpty
      val (r, queries) = queriesOf(Diff(o, n, Seq("user_id"), "label_time"))
      // an empty side lets adaptive execution replace the whole join by an
      // empty relation, observations included: those sides are counted
      // together in one more query
      assert(if (emptySide) queries.size <= 2 else queries.size == 1,
        s"$name: one query per diff, got ${queries.size}")
      assert(r.oldRows == o.count() && r.newRows == n.count(), s"$name: $r")
      assert(r.commonRows == o.join(n.select("user_id", "label_time"),
        Seq("user_id", "label_time")).count(), s"$name: $r")
      assert(r.identical == (name == "empty/empty"), s"$name: $r")
    }
  }

  test("explain renders without executing joins") {
    val labelsDf = Seq((1L, ts("2024-01-01 00:00:00"), true))
      .toDF("user_id", "label_time", "y")
    val f = Feature("f",
      Source.frame("s", Seq((1L, ts("2023-01-01 00:00:00"), 1.0)).toDF("user_id", "t", "v"),
        Seq("user_id"), "t"),
      ColumnsMode(Map("v" -> "v")),
      embargo = java.time.Duration.ofDays(2))
    val r = Explain(spark, Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")), Seq(f))
    assert(r.labelRows == 1)
    assert(r.plans.head.window.contains("2d"))
    assert(r.render.contains("union_asof")) // Auto strategy default
    // per-feature example SQL (engine.py:1929-1947)
    assert(r.plans.head.joinCondition == "feature_time < label_time - INTERVAL '2d'")
    val sql = r.plans.head.exampleSql
    assert(sql.contains("ORDER BY t DESC") && sql.contains("LIMIT 1"))
    assert(sql.contains("- INTERVAL '2d'"))
    assert(r.render.contains("LIMIT 1"))
    // a staleness limit floors feature_time like the build does: the
    // lookup carries it next to the lookback, the window shows the
    // tighter of the two
    val src = f.source
    val stale = Feature("g", src, ColumnsMode(Map("v" -> "v")),
      maxStaleness = Some(java.time.Duration.ofDays(30)))
    val loose = Feature("h", src, ColumnsMode(Map("v" -> "v")),
      maxStaleness = Some(java.time.Duration.ofDays(400)))
    val lbl = Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y"))
    val Seq(g, h) = Explain(spark, lbl, Seq(stale, loose)).plans
    assert(g.window == "[label_time - 30d, label_time - 0d)", g.window)
    assert(g.staleness.contains("30d"))
    assert(g.exampleSql.contains("AND t >= {T} - INTERVAL '30d'") &&
      g.exampleSql.contains("AND t >= {T} - INTERVAL '365d'"), g.exampleSql)
    assert(h.window.startsWith("[label_time - 365d,"), h.window)
    assert(h.exampleSql.contains("AND t >= {T} - INTERVAL '400d'"), h.exampleSql)
  }

  test("explain renders sql-mode features in full: body + per-label lookup") {
    val labelsDf = Seq((1L, ts("2024-01-01 00:00:00"), true))
      .toDF("user_id", "label_time", "y")
    val userSql =
      """SELECT user_id, t AS feature_time,
        |       sum(v) OVER (PARTITION BY user_id ORDER BY t) AS v_sum
        |FROM {source}""".stripMargin
    val f = Feature("agg",
      Source.frame("s", Seq((1L, ts("2023-01-01 00:00:00"), 1.0)).toDF("user_id", "t", "v"),
        Seq("user_id"), "t"),
      SqlMode(userSql))
    val r = Explain(spark, Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")), Seq(f))
    val sql = r.plans.head.exampleSql
    // the user's FULL query text, not an elided preview
    assert(sql.contains("sum(v) OVER (PARTITION BY user_id ORDER BY t) AS v_sum"))
    assert(!sql.contains("..."))
    // {source} resolved to the actual source the build substitutes
    assert(!sql.contains("{source}") && sql.contains("'s'"))
    // and the same parameterized lookup columns mode renders
    assert(sql.contains("WHERE user_id = {K1}"))
    assert(sql.contains("AND feature_time < {T}"))
    assert(sql.contains("ORDER BY feature_time DESC") && sql.endsWith("LIMIT 1"))
    assert(r.render.contains("WITH feature AS ("))
  }

  test("explain sql-mode omits the lookup tail when the contract doesn't hold") {
    val labelsDf = Seq((1L, ts("2024-01-01 00:00:00"), true))
      .toDF("user_id", "label_time", "y")
    // emits neither feature_time nor user_id — the parameterized lookup
    // would not execute against this query's output
    val userSql = "SELECT t AS when_seen, v * 2 AS v2 FROM {source}"
    val f = Feature("agg",
      Source.frame("s", Seq((1L, ts("2023-01-01 00:00:00"), 1.0)).toDF("user_id", "t", "v"),
        Seq("user_id"), "t"),
      SqlMode(userSql))
    val r = Explain(spark, Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")), Seq(f))
    val sql = r.plans.head.exampleSql
    // full user query still rendered...
    assert(sql.contains("v * 2 AS v2"))
    // ...but no non-executable WHERE/ORDER tail; a diagnostic names the
    // missing contract columns instead
    assert(!sql.contains("{K1}") && !sql.contains("LIMIT 1"))
    assert(sql.contains("missing") && sql.contains("feature_time") && sql.contains("user_id"))
  }

  test("explain sql-mode contract check is case-insensitive like the build") {
    val labelsDf = Seq((1L, ts("2024-01-01 00:00:00"), true))
      .toDF("user_id", "label_time", "y")
    // FEATURE_TIME/USER_ID resolve case-insensitively at build time
    // (spark.sql.caseSensitive=false default) — the contract check must
    // agree and render the full lookup tail, not a false 'missing'
    val userSql = "SELECT user_id AS USER_ID, t AS FEATURE_TIME, v * 2 AS v2 FROM {source}"
    val f = Feature("agg",
      Source.frame("s", Seq((1L, ts("2023-01-01 00:00:00"), 1.0)).toDF("user_id", "t", "v"),
        Seq("user_id"), "t"),
      SqlMode(userSql))
    val r = Explain(spark, Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")), Seq(f))
    val sql = r.plans.head.exampleSql
    assert(sql.contains("{K1}") && sql.endsWith("LIMIT 1"), sql)
    assert(!sql.contains("missing"), sql)
  }

  test("explain never executes a command statement in sql mode") {
    val labelsDf = Seq((1L, ts("2024-01-01 00:00:00"), true))
      .toDF("user_id", "label_time", "y")
    val src = Seq((1L, ts("2023-01-01 00:00:00"), 1.0)).toDF("user_id", "t", "v")
    spark.sql("DROP TABLE IF EXISTS explain_probe_sink")
    spark.sql("CREATE TABLE explain_probe_sink(user_id BIGINT) USING parquet")
    try {
      // invalid as a feature, but user-supplied SQL reaches explain
      // verbatim — a dry run must not mutate state
      val f = Feature("agg",
        Source.frame("s", src, Seq("user_id"), "t"),
        SqlMode("INSERT INTO explain_probe_sink SELECT user_id FROM {source}"))
      val r = Explain(spark,
        Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")), Seq(f))
      // renders (analysis-only: a command has no query output columns,
      // so the missing-contract diagnostic path applies)...
      assert(r.plans.head.exampleSql.contains("INSERT INTO"))
      // ...but did NOT run the insert
      assert(spark.table("explain_probe_sink").count() == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS explain_probe_sink"); ()
    }
  }

  test("build result render/explain/html") {
    val labelsDf = Seq((1L, ts("2024-01-01 00:00:00"), true))
      .toDF("user_id", "label_time", "y")
    val f = Feature("f",
      Source.frame("s", Seq((1L, ts("2023-01-01 00:00:00"), 1.0)).toDF("user_id", "t", "v"),
        Seq("user_id"), "t"),
      ColumnsMode(Map("v" -> "v")))
    val r = Build(spark, Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("y")), Seq(f))
    assert(r.render.contains("BuildResult: 1 rows"))
    assert(r.render.contains("f: 1/1 matched"))
    assert(r.explain().contains("Physical Plan"))
    assert(r.toHtml.contains("PASSED"))
  }

  test("store: hashing determinism and mtime memo") {
    val s = new graft.store.Store(
      java.nio.file.Files.createTempDirectory("graft_store").toString).init()
    val f = java.nio.file.Files.createTempFile("graft", ".bin")
    java.nio.file.Files.write(f, "hello".getBytes)
    val h1 = s.contentHash(f.toString)
    val h2 = s.contentHash(f.toString)
    assert(h1 == h2 && h1.length == 16)
    java.nio.file.Files.write(f, "world".getBytes)
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(s.contentHash(f.toString) != h1)
    assert(s.featureCacheKey("def", h1, 0) != s.featureCacheKey("def", h1, 86400))
    s.saveManifest("b1", """{"x":1}""")
    assert(s.loadManifest("b1").contains("""{"x":1}"""))
    assert(s.listManifests() == Seq("b1"))
  }

  test("store: remote fingerprint folds in a checksum where the FS has one") {
    // On a store exposing getFileChecksum (HDFS MD5-of-CRC, s3a etag),
    // a same-length overwrite whose mtime is pinned back to the
    // original must STILL change the fingerprint — the stat pair alone
    // could not tell them apart. file:// returns a null checksum, so
    // pin the fold through a registered test FS (chk://) that serves
    // an MD5 checksum over RawLocalFileSystem.
    spark.sparkContext.hadoopConfiguration.setClass("fs.chk.impl",
      classOf[ChecksummedLocalFs], classOf[org.apache.hadoop.fs.FileSystem])
    val s = new graft.store.Store(
      java.nio.file.Files.createTempDirectory("graft_store3").toString).init()
    val dir = java.nio.file.Files.createTempDirectory("graft_remote")
    val uri = s"chk://$dir/data.bin"
    val hp = new org.apache.hadoop.fs.Path(uri)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[ChecksummedLocalFs])
    def put(bytes: String): Unit = {
      val out = fs.create(hp, true)
      try out.write(bytes.getBytes("US-ASCII")) finally out.close()
    }
    put("aaaa")
    val st1 = fs.getFileStatus(hp)
    val h1 = s.contentHash(uri)
    put("bbbb") // same length
    fs.setTimes(hp, st1.getModificationTime, -1) // same mtime
    val st2 = fs.getFileStatus(hp)
    assert(st2.getLen == st1.getLen &&
      st2.getModificationTime == st1.getModificationTime)
    // probe from a FRESH store: within one instance the checksum memo
    // (keyed on path/len/mtime, like the reference's content-hash memo)
    // deliberately cannot see a same-length mtime-pinned overwrite —
    // the discriminator guarantee is for new processes / cold probes
    val sFresh = new graft.store.Store(s.root).init()
    assert(sFresh.contentHash(uri) != h1,
      "checksum discriminator must catch a same-length same-mtime overwrite")
    // and the null-checksum case (plain file://) still fingerprints
    val plain = s"file://$dir/data.bin"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.bin"),
      "cccc".getBytes("US-ASCII"))
    assert(s.contentHash(plain) == s.contentHash(plain))
  }

  test("store: checksum RPCs are memoized and capped") {
    spark.sparkContext.hadoopConfiguration.setClass("fs.chk.impl",
      classOf[ChecksummedLocalFs], classOf[org.apache.hadoop.fs.FileSystem])
    val s = new graft.store.Store(
      java.nio.file.Files.createTempDirectory("graft_store4").toString).init()
    val dir = java.nio.file.Files.createTempDirectory("graft_remote2")
    java.nio.file.Files.write(dir.resolve("a.bin"), "aaaa".getBytes("US-ASCII"))
    java.nio.file.Files.write(dir.resolve("b.bin"), "bbbb".getBytes("US-ASCII"))
    val uri = s"chk://$dir"
    ChecksummedLocalFs.calls.set(0)
    val h1 = s.contentHash(uri)
    assert(ChecksummedLocalFs.calls.get() == 2, "one RPC per data file")
    // repeat probe of unchanged files: zero new RPCs, same hash
    assert(s.contentHash(uri) == h1)
    assert(ChecksummedLocalFs.calls.get() == 2,
      "unchanged (path, len, mtime) must serve the memoized checksum")
    // above the cap the fold is skipped entirely: zero RPCs, and a
    // same-length same-mtime overwrite is (documentedly) invisible
    val capped = new graft.store.Store(s.root, maxChecksumFiles = 1)
    ChecksummedLocalFs.calls.set(0)
    val hc = capped.contentHash(uri)
    assert(ChecksummedLocalFs.calls.get() == 0,
      "directories above maxChecksumFiles must not issue checksum RPCs")
    assert(hc != h1, "folded and unfolded fingerprints live in distinct spaces")
    assert(capped.contentHash(uri) == hc)
  }

  test("store: contentHash recurses into partitioned directories") {
    val s = new graft.store.Store(
      java.nio.file.Files.createTempDirectory("graft_store2").toString).init()
    val dir = java.nio.file.Files.createTempDirectory("graft_part")
    val sub = java.nio.file.Files.createDirectories(dir.resolve("key=1"))
    java.nio.file.Files.write(sub.resolve("part-0.parquet"), "aaa".getBytes)
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    val h1 = s.contentHash(dir.toString) // must not throw on the subdir
    assert(h1.length == 16)
    // content change inside the partition changes the hash
    java.nio.file.Files.write(sub.resolve("part-0.parquet"), "bbb".getBytes)
    java.nio.file.Files.setLastModifiedTime(sub.resolve("part-0.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(s.contentHash(dir.toString) != h1)
  }
}

/** Local filesystem that serves a real content checksum, standing in
  * for HDFS (MD5-of-CRC) / s3a (etag) in store fingerprint tests.
  * Registered under the `chk://` scheme via `fs.chk.impl`. */
object ChecksummedLocalFs {
  /** getFileChecksum RPC counter — pins the store's memoization. */
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

class ChecksummedLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "chk"
  override def getUri: java.net.URI = java.net.URI.create("chk:///")
  // plain FileStatus (not Deprecated­RawLocalFileStatus, whose lazy
  // permission load chokes on the chk:// scheme inside listFiles)
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(st =>
      new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
        st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath))
  override def getFileChecksum(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileChecksum = {
    ChecksummedLocalFs.calls.incrementAndGet()
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = open(f)
    try {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    val digest = md.digest()
    new org.apache.hadoop.fs.FileChecksum {
      override def getAlgorithmName: String = "TESTMD5"
      override def getLength: Int = digest.length
      override def getBytes: Array[Byte] = digest
      override def write(out: java.io.DataOutput): Unit = out.write(digest)
      override def readFields(in: java.io.DataInput): Unit = ()
    }
  }
}
