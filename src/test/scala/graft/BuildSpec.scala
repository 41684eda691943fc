package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Build, BuildOptions, Split}
import graft.errors._
import graft.model._
import graft.operators.AsOfJoin

/** Engine behavior tests mirroring the reference fixture
  * (FIXTURES.md §1: 100 users / 2000 transactions / 50 labels) and the
  * key cases of `tests/test_engine.py`.
  */
class BuildSpec extends SparkFunSuite {
  import spark.implicits._

  // ---- fixture (FIXTURES.md §1) ------------------------------------
  private lazy val users: DataFrame = spark
    .range(1, 101)
    .select(
      col("id").as("user_id"),
      element_at(lit(Array("US", "UK", "DE")), (col("id") % 3 + 1).cast("int")).as("country"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), (col("id") * 10).cast("int")).as("signup_date"),
      (lit(java.sql.Timestamp.valueOf("2023-01-01 00:00:00")).cast("timestamp") +
        make_dt_interval(col("id") * 3)).as("updated_at"))

  private lazy val transactions: DataFrame = spark
    .range(1, 2001)
    .select(
      ((col("id") - 1) % 100 + 1).as("user_id"),
      (lit(java.sql.Timestamp.valueOf("2023-01-01 00:00:00")) +
        make_dt_interval(col("id") * 7 % 365, col("id") * 3 % 24)).as("created_at"),
      round((lit(10) + col("id") * 17 % 200) / 10.0, 2).as("amount"))

  private lazy val labelsDf: DataFrame = spark
    .range(1, 51)
    .select(
      col("id").as("user_id"),
      (lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")) +
        make_dt_interval(col("id") * 5)).as("label_time"),
      (col("id") % 4 === 0).as("churned"))

  private lazy val labels = Labels.frame(labelsDf, Seq("user_id"), "label_time", Seq("churned"))

  private def userCountry = Feature(
    "user_country",
    Source.frame("users", users, Seq("user_id"), "updated_at"),
    ColumnsMode(Map("country" -> "country")))

  private def rollingSpend = Feature(
    "rolling_spend",
    Source.frame("transactions", transactions, Seq("user_id"), "created_at"),
    SqlMode(
      """SELECT user_id, created_at AS feature_time,
        |  SUM(amount) OVER (PARTITION BY user_id ORDER BY created_at
        |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS spend_30d
        |FROM {source}""".stripMargin),
    embargo = java.time.Duration.ofDays(1))

  test("basic build: schema, row count, stats") {
    val r = Build(spark, labels, Seq(userCountry, rollingSpend))
    assert(r.rows == 50)
    assert(r.columns == Seq("user_id", "label_time", "churned",
      "user_country__country", "rolling_spend__spend_30d"))
    assert(r.auditPassed)
    val uc = r.features.find(_.name == "user_country").get
    assert(uc.matched + uc.missing == 50)
    r.validate() // must not throw
  }

  test("progress callback: stage order, one compute+join per feature") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val r = graft.Graft.build(spark, labels, Seq(userCountry, rollingSpend),
      progress = (st, f) => seen.synchronized { seen += ((st, f)) })
    assert(r.rows == 50)
    val stages = seen.map(_._1).toSeq
    // load first, write+verify last, compute/join per feature between
    assert(stages.head == "load", s"got $stages")
    assert(seen.count(_ == ("compute", "user_country")) == 1 &&
      seen.count(_ == ("compute", "rolling_spend")) == 1, s"got $seen")
    assert(seen.count(_ == ("join", "user_country")) == 1 &&
      seen.count(_ == ("join", "rolling_spend")) == 1, s"got $seen")
    assert(stages.count(_ == "write") == 0, "no output => no write stage")
    assert(stages.count(_ == "verify") == 1 && stages.last == "verify", s"got $stages")
    // every feature's compute precedes its join, and load precedes all
    def idx(p: (String, String)) = seen.indexOf(p)
    assert(idx(("compute", "user_country")) < idx(("join", "user_country")))
    assert(idx(("compute", "rolling_spend")) < idx(("join", "rolling_spend")))
    // with an output, write appears and precedes verify (fused path)
    val out = java.nio.file.Files.createTempDirectory("graft_prog").toString + "/t.parquet"
    seen.clear()
    graft.Graft.build(spark, labels, Seq(userCountry),
      BuildOptions(output = Some(out), sortResult = false),
      progress = (st, f) => seen.synchronized { seen += ((st, f)) })
    val st2 = seen.map(_._1).toSeq
    assert(st2.count(_ == "write") == 1 && st2.count(_ == "verify") == 1, s"got $st2")
    assert(st2.indexOf("write") < st2.indexOf("verify"), s"got $st2")
  }

  test("strict build output satisfies the invariant (property-style)") {
    // re-join the output against feature_time bookkeeping via a build
    // that keeps verification on; violations must be 0 for both features
    val r = Build(spark, labels, Seq(userCountry, rollingSpend))
    assert(r.features.forall(_.violations == 0))
  }

  test("embargo shifts the window") {
    // the fixture's updated_at snapshots are >365d before label_time, so
    // widen the lookback to observe the embargo effect in isolation
    val wide = BuildOptions(maxLookback = java.time.Duration.ofDays(3650))
    val emb = Feature("user_country",
      Source.frame("users", users, Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")),
      embargo = java.time.Duration.ofDays(500))
    val matched1 = Build(spark, labels, Seq(userCountry), wide).features.head.matched
    val matched2 = Build(spark, labels, Seq(emb), wide).features.head.matched
    assert(matched1 == 50)
    assert(matched2 < matched1)
  }

  test("multi-source single-shuffle carry equals per-feature RowNumber") {
    // three DIFFERENT sources with identical join params take the
    // one batched AsOfJoin.carry under Auto; RowNumber joins each separately —
    // results must match exactly (including null masking)
    val srcs = (0 until 3).map { k =>
      val df = spark.range(1, 501).select(
        (col("id") % 60 + 1).as("user_id"),
        // unique timestamp per row: minutes derive from the global id
        (lit(ts("2023-06-01 00:00:00")) +
          make_dt_interval(col("id") * (k + 3) % 200, col("id") % 24,
            (col("id") / 100).cast("int") % 60, lit(0))).as("t"),
        (col("id") * (k + 1)).cast("double").as(s"v$k"))
      Feature(s"f$k", Source.frame(s"s$k", df, Seq("user_id"), "t"),
        ColumnsMode(Map(s"v$k" -> s"v$k")))
    }
    val multi = Build(spark, labels, srcs,
      BuildOptions(strategy = AsOfJoin.Strategy.Auto))
    val perFeature = Build(spark, labels, srcs,
      BuildOptions(strategy = AsOfJoin.Strategy.RowNumber))
    assert(multi.columns == perFeature.columns)
    assert(multi.df.exceptAll(perFeature.df).isEmpty &&
      perFeature.df.exceptAll(multi.df).isEmpty)
    assert(multi.features.map(s => (s.name, s.matched, s.violations)) ==
      perFeature.features.map(s => (s.name, s.matched, s.violations)))
    // mixed params split correctly: one feature with embargo leaves the
    // group and still matches the per-feature result
    val mixed = srcs.updated(1, srcs(1).copy(embargo = java.time.Duration.ofDays(2)))
    val m2 = Build(spark, labels, mixed, BuildOptions(strategy = AsOfJoin.Strategy.Auto))
    val p2 = Build(spark, labels, mixed, BuildOptions(strategy = AsOfJoin.Strategy.RowNumber))
    assert(m2.df.exceptAll(p2.df).isEmpty && p2.df.exceptAll(m2.df).isEmpty)
    // width-capped batching: three 5-column features exceed the
    // 12-column carry cap, so the build runs a 2-feature batch and joins
    // a 1-feature batch back on the label rowid; each batch's columns
    // must match a build of its features alone (one batch, no re-join)
    val wide = (0 until 3).map { k =>
      val vs = (0 until 5).map(j => s"w${k}_$j")
      val df = spark.range(1, 501).select(Seq(
        (col("id") % 60 + 1).as("user_id"),
        (lit(ts("2023-06-01 00:00:00")) +
          make_dt_interval(col("id") * (k + 3) % 200, col("id") % 24,
            (col("id") / 100).cast("int") % 60, lit(0))).as("t")) ++
        vs.zipWithIndex.map { case (v, j) => (col("id") * (k + 1) + j).cast("double").as(v) }: _*)
      Feature(s"g$k", Source.frame(s"w$k", df, Seq("user_id"), "t"),
        ColumnsMode(vs.map(v => v -> v).toMap))
    }
    val auto = BuildOptions(strategy = AsOfJoin.Strategy.Auto)
    val capped = Build(spark, labels, wide, auto)
    Seq(wide.take(2), wide.drop(2)).foreach { fs =>
      val alone = Build(spark, labels, fs, auto).df
      val got = capped.df.select(alone.columns.map(col).toSeq: _*)
      assert(got.exceptAll(alone).isEmpty && alone.exceptAll(got).isEmpty,
        s"capped batch of ${fs.map(_.name)} differs from its features built alone")
    }
  }

  test("rowid stability: order-unstable labels frame still aligns features") {
    // Labels downstream of a shuffle have no deterministic row order, so
    // a rowid recomputed per-consumer could renumber between the join
    // side and the assembly side. The cached spine materializes the
    // assignment once; every feature value must still land on its own row.
    val unstable = labelsDf.repartition(7)
    val r = Build(spark,
      Labels.frame(unstable, Seq("user_id"), "label_time", Seq("churned")),
      Seq(userCountry, rollingSpend))
    val stable = Build(spark, labels, Seq(userCountry, rollingSpend))
    assert(r.rows == stable.rows)
    val a = r.df.orderBy("user_id").collect().toSeq
    val b = stable.df.orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  test("inclusive vs strict differ exactly at boundary") {
    val lbl = Labels.frame(
      Seq((1L, ts("2023-01-10 00:00:00"), true)).toDF("user_id", "label_time", "churned"),
      Seq("user_id"), "label_time", Seq("churned"))
    val feat = Feature("f",
      Source.frame("src", Seq((1L, ts("2023-01-10 00:00:00"), 5.0))
        .toDF("user_id", "t", "v"), Seq("user_id"), "t"),
      ColumnsMode(Map("v" -> "v")))
    val strict = Build(spark, lbl, Seq(feat))
    val inclusive = Build(spark, lbl, Seq(feat), BuildOptions(join = "inclusive"))
    assert(strict.features.head.matched == 0)
    assert(inclusive.features.head.matched == 1)
    assert(strict.auditPassed && inclusive.auditPassed)
  }

  test("on_missing=skip drops rows with any missing feature") {
    val r = Build(spark, labels, Seq(rollingSpend), BuildOptions(onMissing = "skip"))
    val full = Build(spark, labels, Seq(rollingSpend))
    assert(r.rows == full.features.head.matched)
  }

  test("flatten strips prefixes when unambiguous") {
    val r = Build(spark, labels, Seq(userCountry), BuildOptions(flattenColumns = true))
    assert(r.columns.contains("country"))
  }

  test("flatten keeps namespaced on conflict") {
    val f2 = Feature("other_country",
      Source.frame("users", users, Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")))
    val r = Build(spark, labels, Seq(userCountry, f2), BuildOptions(flattenColumns = true))
    assert(r.columns.contains("user_country__country"))
    assert(r.columns.contains("other_country__country"))
  }

  test("transform mode") {
    val f = Feature("txn_agg",
      Source.frame("transactions", transactions, Seq("user_id"), "created_at"),
      TransformMode(df => df.select(
        col("user_id"), col("created_at").as("feature_time"),
        (col("amount") * 2).as("double_amount"))))
    val r = Build(spark, labels, Seq(f))
    assert(r.columns.contains("txn_agg__double_amount"))
    assert(r.auditPassed)
  }

  test("key_mapping translates label keys to source keys") {
    val src = transactions.withColumnRenamed("user_id", "uid")
    val f = Feature("amt",
      Source.frame("txn2", src, Seq("uid"), "created_at"),
      ColumnsMode(Map("amount" -> "amount")),
      keyMapping = Map("user_id" -> "uid"))
    val r = Build(spark, labels, Seq(f))
    assert(r.features.head.matched > 0)
  }

  test("duplicate (key,ts) rows raise with on_duplicate=error") {
    val dup = transactions.limit(10).union(transactions.limit(10))
    val f = Feature("d",
      Source.frame("dup", dup, Seq("user_id"), "created_at"),
      ColumnsMode(Map("amount" -> "amount")))
    assertThrows[DuplicateRowsError](Build(spark, labels, Seq(f)))
  }

  test("keep_any tolerates duplicates") {
    val dup = transactions.limit(10).union(transactions.limit(10))
    val f = Feature("d",
      Source.frame("dup", dup, Seq("user_id"), "created_at"),
      ColumnsMode(Map("amount" -> "amount")),
      onDuplicate = OnDuplicate.KeepAny)
    val r = Build(spark, labels, Seq(f))
    assert(r.rows == 50)
  }

  test("schema errors are raised with available columns listed") {
    val f = Feature("bad",
      Source.frame("users", users, Seq("user_id"), "updated_at"),
      ColumnsMode(Map("nope" -> "nope")))
    val e = intercept[SchemaError](Build(spark, labels, Seq(f)))
    assert(e.getMessage.contains("nope"))
    assert(e.getMessage.contains("country"))
  }

  test("duplicate feature names rejected") {
    assertThrows[ConfigError](Build(spark, labels, Seq(userCountry, userCountry)))
  }

  test("sanitization collisions rejected") {
    val a = userCountry.copy(name = "f x")
    val b = userCountry.copy(name = "f_x")
    assertThrows[ConfigError](Build(spark, labels, Seq(a, b)))
  }

  test("embargo >= lookback rejected") {
    val f = userCountry.copy(embargo = java.time.Duration.ofDays(400))
    assertThrows[ConfigError](Build(spark, labels, Seq(f)))
  }

  test("staleness <= embargo rejected") {
    val f = userCountry.copy(
      embargo = java.time.Duration.ofDays(10),
      maxStaleness = Some(java.time.Duration.ofDays(5)))
    assertThrows[ConfigError](Build(spark, labels, Seq(f)))
  }

  test("overlapping splits rejected; valid splits write") {
    assertThrows[ConfigError](Build.validateSplits(Seq(
      Split("a", "2024-01-01", "2024-03-01"),
      Split("b", "2024-02-01", "2024-04-01"))))
    val out = java.nio.file.Files.createTempDirectory("graft_split").toString + "/out.parquet"
    val r = Build(spark, labels, Seq(userCountry), BuildOptions(
      output = Some(out),
      splits = Seq(Split("train", "2024-01-01", "2024-03-01"),
        Split("test", "2024-03-01", "2024-12-31"))))
    val train = spark.read.parquet(out.stripSuffix(".parquet") + "_train.parquet")
    val test = spark.read.parquet(out.stripSuffix(".parquet") + "_test.parquet")
    assert(train.count() + test.count() == 50)
  }

  test("split gap and coverage warnings") {
    val r = Build(spark, labels, Seq(userCountry), BuildOptions(splits = Seq(
      Split("a", "2024-02-01", "2024-03-01"),
      Split("b", "2024-04-01", "2024-05-01"))))
    // labels run 2024-01-20..2024-09-22: before first split, gap
    // between a and b, and past the last split
    assert(r.warnings.exists(w => w.contains("gap between split 'a'")), r.warnings.toString)
    assert(r.warnings.exists(_.contains("labels start")))
    assert(r.warnings.exists(_.contains("labels end")))
  }

  test("CSV source end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv")
    users.select("user_id", "country", "updated_at")
      .write.option("header", "true").csv(s"$dir/users_csv")
    val f = Feature("csv_country",
      Source.csv("users_csv", s"$dir/users_csv", Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")))
    val r = Build(spark, labels, Seq(f),
      BuildOptions(maxLookback = java.time.Duration.ofDays(3650)))
    assert(r.rows == 50)
    assert(r.features.head.matched == 50)
    assert(r.auditPassed)
  }

  test("CSV source with explicit timestampFormat round-trips a build") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_tsfmt")
    // a format default inference cannot parse: slashes + dotted time
    users.select(col("user_id"), col("country"),
        date_format(col("updated_at"), "yyyy/MM/dd HH.mm.ss").as("updated_at"))
      .write.option("header", "true").csv(s"$dir/users_csv")
    // without the format the column infers as STRING — the timestamp
    // probe must reject it loudly, proving the option has real effect
    val bare = Source.csv("users_fmt", s"$dir/users_csv",
      Seq("user_id"), "updated_at")
    assert(bare.resolve(spark).schema("updated_at").dataType ==
      org.apache.spark.sql.types.StringType)
    // with the format: typed timestamps, identical values, full build
    val src = Source.csv("users_fmt", s"$dir/users_csv",
      Seq("user_id"), "updated_at",
      timestampFormat = Some("yyyy/MM/dd HH.mm.ss"))
    val resolved = src.resolve(spark)
    assert(resolved.schema("updated_at").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val want = users.select("user_id", "updated_at")
    assert(resolved.select("user_id", "updated_at").exceptAll(want).isEmpty &&
      want.exceptAll(resolved.select("user_id", "updated_at")).isEmpty,
      "explicit-format parse must reproduce the original instants")
    val f = Feature("csv_country", src, ColumnsMode(Map("country" -> "country")))
    val r = Build(spark, labels, Seq(f),
      BuildOptions(maxLookback = java.time.Duration.ofDays(3650)))
    assert(r.rows == 50 && r.features.head.matched == 50 && r.auditPassed)
    // loud rejection where the option has no effect
    val err = intercept[graft.errors.ConfigError] {
      Source("p", Seq("k"), "ts", path = Some("x.parquet"),
        timestampFormat = Some("yyyy-MM-dd"))
    }
    assert(err.getMessage.contains("non-CSV"))
  }

  test("SQL-query source resolves against the session catalog") {
    transactions.createOrReplaceTempView("txn_view")
    val src = SqlSource("txn_sql",
      "SELECT user_id, created_at, amount * 2 AS amount2 FROM txn_view",
      Seq("user_id"), "created_at")
    val f = Feature("dbl", src, ColumnsMode(Map("amount2" -> "amount2")))
    val r = Build(spark, labels, Seq(f))
    assert(r.columns.contains("dbl__amount2"))
    assert(r.features.head.matched > 0)
  }

  test("empty labels produce an empty result") {
    val empty = Labels.frame(labelsDf.filter(lit(false)),
      Seq("user_id"), "label_time", Seq("churned"))
    val r = Build(spark, empty, Seq(userCountry))
    assert(r.rows == 0)
    assert(r.auditPassed)
  }

  test("UnionAsOf strategy build equals RowNumber build") {
    val a = Build(spark, labels, Seq(userCountry, rollingSpend),
      BuildOptions(strategy = AsOfJoin.Strategy.RowNumber)).df
    val b = Build(spark, labels, Seq(userCountry, rollingSpend),
      BuildOptions(strategy = AsOfJoin.Strategy.UnionAsOf)).df
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("Segmented strategy build equals UnionAsOf build (fused multi path)") {
    val b = Build(spark, labels, Seq(userCountry, rollingSpend),
      BuildOptions(strategy = AsOfJoin.Strategy.UnionAsOf)).df
    val c = Build(spark, labels, Seq(userCountry, rollingSpend),
      BuildOptions(strategy =
        AsOfJoin.Strategy.UnionAsOfSegmented(java.time.Duration.ofDays(30)))).df
    assert(b.exceptAll(c).isEmpty && c.exceptAll(b).isEmpty)
  }

  test("same-source ColumnsMode features merge into one carry pass with identical results") {
    val wide = users.withColumn("tier", concat(lit("T"), col("user_id") % 4))
    def feats(srcName: String => String) = Seq(
      Feature("f_country", Source.frame(srcName("a"), wide, Seq("user_id"), "updated_at"),
        ColumnsMode(Map("country" -> "country"))),
      Feature("f_tier", Source.frame(srcName("b"), wide, Seq("user_id"), "updated_at"),
        ColumnsMode(Map("tier" -> "tier"))),
      Feature("f_signup", Source.frame(srcName("c"), wide, Seq("user_id"), "updated_at"),
        ColumnsMode(Map("signup_date" -> "signup_date"))))
    val opts = BuildOptions(maxLookback = java.time.Duration.ofDays(3650))
    // same source name -> merged into one pass
    val merged = Build(spark, labels, feats(_ => "wide"), opts)
    // distinct names -> three separate passes
    val unmerged = Build(spark, labels, feats(s => s"wide_$s"), opts)
    assert(merged.columns == unmerged.columns)
    assert(merged.df.exceptAll(unmerged.df).isEmpty &&
      unmerged.df.exceptAll(merged.df).isEmpty)
    assert(merged.features.map(s => (s.name, s.matched, s.violations)) ==
      unmerged.features.map(s => (s.name, s.matched, s.violations)))
    assert(merged.auditPassed)
  }

  test("a ColumnsMode feature outputs exactly its declared columns, alone or merged") {
    // source keys (user_id, region) vs label keys (user_id): the unmapped
    // source key is a key, never a value column
    val regional = users.withColumn("region", col("country"))
      .withColumn("score", col("user_id") * 2.0)
    val src = Source.frame("regional", regional, Seq("user_id", "region"), "updated_at")
    val a = Feature("a", src, ColumnsMode(Map("score" -> "score")))
    val b = Feature("b", src, ColumnsMode(Map("tier" -> "country")))
    val opts = BuildOptions(maxLookback = java.time.Duration.ofDays(3650))
    def aCols(r: graft.engine.BuildResult) = r.columns.filter(_.startsWith("a__"))
    val alone = Build(spark, labels, Seq(a), opts)
    val merged = Build(spark, labels, Seq(a, b), opts)
    assert(aCols(alone) == Seq("a__score"))
    assert(aCols(merged) == Seq("a__score"))
    assert(alone.df.select("user_id", "a__score").exceptAll(
      merged.df.select("user_id", "a__score")).isEmpty)

    // the manifest records the same output columns
    val dir = java.nio.file.Files.createTempDirectory("graft_outcols")
    labelsDf.write.parquet(s"$dir/labels.parquet")
    regional.write.parquet(s"$dir/regional.parquet")
    val store = new graft.store.Store(s"$dir/.graft").init()
    val psrc = Source.parquet("regional", s"$dir/regional.parquet",
      Seq("user_id", "region"), "updated_at")
    Build(spark, Labels.parquet(s"$dir/labels.parquet", Seq("user_id"), "label_time",
      Seq("churned")), Seq(a.copy(source = psrc), b.copy(source = psrc)),
      opts.copy(output = Some(s"$dir/out.parquet"), store = Some(store)))
    val manifest = graft.util.Jsons.parseObject(store.listManifests()
      .filter(_.startsWith("build_")).flatMap(store.loadManifest).head).get
    assert(graft.util.Jsons.at(manifest, "features", "a", "output_columns") ==
      Some(Vector("a__score")))
    assert(graft.util.Jsons.at(manifest, "features", "b", "output_columns") ==
      Some(Vector("b__tier")))
  }

  test("reserved output names raise ConfigError alone and merged") {
    val src = Source.frame("users", users, Seq("user_id"), "updated_at")
    val other = Feature("other", src, ColumnsMode(Map("country" -> "country")))
    Seq("feature_time", "user_id").foreach { reserved =>
      val bad = Feature("a", src, ColumnsMode(Map(reserved -> "country")))
      val alone = intercept[ConfigError](Build(spark, labels, Seq(bad)))
      assert(alone.getMessage.contains(s"'$reserved'"))
      val merged = intercept[ConfigError](Build(spark, labels, Seq(bad, other)))
      assert(merged.getMessage.contains(s"'$reserved'"))
    }
  }

  test("observe-fused unsorted write matches the sorted cache path") {
    // regression: the Observation that fuses stats into the write job
    // must count rows exactly once — a global orderBy re-executes its
    // child for range sampling, which double-counted when the observe
    // sat below the sort (hence a sorted output observes ABOVE its sort,
    // over the cached frame the sampling pass reads)
    val dir = java.nio.file.Files.createTempDirectory("graft_obs")
    val fused = Build(spark, labels, Seq(userCountry),
      BuildOptions(output = Some(s"$dir/fused.parquet"), sortResult = false,
        maxLookback = java.time.Duration.ofDays(3650)))
    val sortedR = Build(spark, labels, Seq(userCountry),
      BuildOptions(output = Some(s"$dir/sorted.parquet"), sortResult = true,
        maxLookback = java.time.Duration.ofDays(3650)))
    assert(fused.rows == 50 && sortedR.rows == 50)
    assert(fused.features.map(f => (f.name, f.matched, f.missing, f.violations)) ==
      sortedR.features.map(f => (f.name, f.matched, f.missing, f.violations)))
    assert(fused.df.exceptAll(sortedR.df).isEmpty &&
      sortedR.df.exceptAll(fused.df).isEmpty)

    // sorted outputs with splits, flattened names, skipped misses and zero
    // labels: every stat, the label range (through the split warnings)
    // included, equals a count over the written parquet. The feature
    // exposes its own time as `seen`, so violations can be counted there.
    // (users 1-10 fall inside the staleness limit, the rest miss)
    val seenFeat = Feature("uc", Source.frame("users", users, Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country", "seen" -> "updated_at")),
      embargo = java.time.Duration.ofDays(1), maxStaleness = Some(java.time.Duration.ofDays(400)))
    // labels start before the first split and end after the last
    val splits = Seq(Split("train", "2024-02-01", "2024-04-01"),
      Split("test", "2024-04-01", "2024-06-01"))
    for ((skip, flat, zero) <- Seq((false, false, false), (true, true, false),
        (false, true, true), (true, false, true))) {
      val ctx = s"skip=$skip flatten=$flat zero=$zero"
      val out = s"$dir/sorted_${skip}_${flat}_$zero.parquet"
      val lbl = Labels.frame(if (zero) labelsDf.filter(col("user_id") < 0) else labelsDf,
        Seq("user_id"), "label_time", Seq("churned"))
      val r = Build(spark, lbl, Seq(seenFeat), BuildOptions(output = Some(out), splits = splits,
        flattenColumns = flat, onMissing = if (skip) "skip" else "null",
        maxLookback = java.time.Duration.ofDays(3650)))
      val seen = col(if (flat) "seen" else "uc__seen")
      val row = spark.read.parquet(out).agg(count(lit(1)), count(seen),
        count(when(seen >= col("label_time") - expr("INTERVAL 1 DAY"), 1)),
        min("label_time"), max("label_time")).head()
      val (n, matched) = (row.getLong(0), row.getLong(1))
      assert(r.rows == n, ctx)
      val f = r.features.head
      assert((f.matched, f.missing, f.violations) == ((matched, n - matched, row.getLong(2))), ctx)
      val range = if (row.isNullAt(3)) None else Some((row.getTimestamp(3), row.getTimestamp(4)))
      assert(r.warnings == Build.splitWarnings(splits, range), ctx)
      // the cases are live: rows, misses and range warnings where expected
      assert((n == 0) == zero && (n - matched > 0) == (!skip && !zero), s"$ctx: $n/$matched")
      assert(r.warnings.nonEmpty == !zero, s"$ctx: ${r.warnings}")
    }
  }

  test("store: feature + build caches populate and hit; content change invalidates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache")
    labelsDf.write.parquet(s"$dir/labels.parquet")
    users.write.parquet(s"$dir/users.parquet")
    val store = new graft.store.Store(s"$dir/.graft").init()
    val lbl = Labels.parquet(s"$dir/labels.parquet", Seq("user_id"), "label_time", Seq("churned"))
    val feat = Feature("user_country",
      Source.parquet("users", s"$dir/users.parquet", Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")))
    val opts = BuildOptions(output = Some(s"$dir/out.parquet"), store = Some(store))

    val r1 = Build(spark, lbl, Seq(feat), opts)
    assert(r1.rows == 50)
    // feature cache written + manifest saved
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/.graft/cache/features"))
      .count() >= 1)
    assert(store.listManifests().exists(_.startsWith("build_")))

    // second build: cache hit (stats are skipped, rows come from manifest)
    val r2 = Build(spark, lbl, Seq(feat), opts)
    assert(r2.rows == 50)
    assert(r2.features.head.matched == -1) // marker for manifest-backed result
    assert(r2.auditPassed)

    // changing the source content invalidates the build key
    users.limit(10).write.mode("overwrite").parquet(s"$dir/users.parquet")
    val r3 = Build(spark, lbl, Seq(feat), opts)
    assert(r3.features.head.matched >= 0) // freshly computed

    // changing the SOURCE SPEC — not the file — must also invalidate:
    // a different timestamp column changes which rows are point-in-time
    // eligible while the content hash stays identical; serving the old
    // cache here would be a silent-correctness bug
    val retimed = feat.copy(source =
      Source.parquet("users", s"$dir/users.parquet", Seq("user_id"), "signup_date"))
    assert(Build.featureDefinition(retimed) != Build.featureDefinition(
      feat.copy(source = Source.parquet(
        "users", s"$dir/users.parquet", Seq("user_id"), "updated_at"))))
    val r4 = Build(spark, lbl, Seq(retimed), opts)
    assert(r4.features.head.matched >= 0) // not served from the old cache
  }

  test("store: a feature-cache entry in the bare-name layout is not served") {
    // stores filled before ColumnsMode projections were namespaced hold
    // (source keys, feature_time, bare output names) under the key of the
    // `columns:` definition; a build must miss that entry, not select
    // `user_country__country` from it
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_layout")
    labelsDf.write.parquet(s"$dir/labels.parquet")
    users.write.parquet(s"$dir/users.parquet")
    val store = new graft.store.Store(s"$dir/.graft").init()
    val lbl = Labels.parquet(s"$dir/labels.parquet", Seq("user_id"), "label_time", Seq("churned"))
    val feat = Feature("user_country",
      Source.parquet("users", s"$dir/users.parquet", Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")))
    val bareKey = store.featureCacheKey(
      Build.featureDefinition(feat).replace("columns-ns:", "columns:"),
      store.contentHash(s"$dir/users.parquet"), feat.embargo.getSeconds)
    store.saveFeatureCache(users.select(col("user_id"), col("updated_at").as("feature_time"),
      lit("stale").as("country")), bareKey)

    val opts = BuildOptions(maxLookback = java.time.Duration.ofDays(3650))
    val viaStore = Build(spark, lbl, Seq(feat),
      opts.copy(output = Some(s"$dir/out.parquet"), store = Some(store)))
    val fresh = Build(spark, lbl, Seq(feat), opts)
    assert(viaStore.columns == fresh.columns)
    assert(viaStore.df.exceptAll(fresh.df).isEmpty && fresh.df.exceptAll(viaStore.df).isEmpty)
    assert(viaStore.df.filter(col("user_country__country") === "stale").isEmpty)
  }

  test("store: probe validates output on disk; splits/sort participate in the key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache2")
    labelsDf.write.parquet(s"$dir/labels.parquet")
    users.write.parquet(s"$dir/users.parquet")
    val store = new graft.store.Store(s"$dir/.graft").init()
    val lbl = Labels.parquet(s"$dir/labels.parquet", Seq("user_id"), "label_time", Seq("churned"))
    val feat = Feature("user_country",
      Source.parquet("users", s"$dir/users.parquet", Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")))
    val out = s"$dir/out.parquet"
    val opts = BuildOptions(output = Some(out), store = Some(store))

    val r1 = Build(spark, lbl, Seq(feat), opts)
    assert(r1.rows == 50)
    // manifest carries the reference-parity fields (engine.py:1422-1489)
    val manifest = store.listManifests().filter(_.startsWith("build_"))
      .flatMap(store.loadManifest).head
    Seq("graft_version", "build_id", "created_at", "duration_seconds",
      "content_hash", "time_range", "output_path", "output_content_hash",
      "file_size_bytes", "invariant", "spark_version", "definition_hash")
      .foreach(k => assert(manifest.contains(k), s"manifest missing $k"))

    // cache hit while the output is untouched
    assert(Build(spark, lbl, Seq(feat), opts).features.head.matched == -1)

    // a FOREIGN dataset overwriting the output must not be served from
    // the manifest: the content hash no longer matches -> fresh build
    users.write.mode("overwrite").parquet(out)
    val r2 = Build(spark, lbl, Seq(feat), opts)
    assert(r2.features.head.matched >= 0)
    assert(r2.df.columns.contains("user_country__country"))

    // asking for splits must bypass the split-less cache entry and
    // actually write the split files
    val withSplits = opts.copy(splits = Seq(
      Split("train", "2024-01-01", "2024-03-01"),
      Split("test", "2024-03-01", "2025-01-01")))
    val r3 = Build(spark, lbl, Seq(feat), withSplits)
    assert(r3.features.head.matched >= 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/out_train.parquet")))
  }

  test("store: cache works through scheme-d URIs (Hadoop FS stat fingerprint)") {
    // labels, source AND output all behind file:// — every probe stat
    // (exists, contentHash) exercises the Hadoop FileSystem path the
    // way s3a/hdfs/abfs URIs would
    val dir = java.nio.file.Files.createTempDirectory("graft_cache3")
    labelsDf.write.parquet(s"$dir/labels.parquet")
    users.write.parquet(s"$dir/users.parquet")
    val store = new graft.store.Store(s"$dir/.graft").init()
    val lbl = Labels.parquet(s"file://$dir/labels.parquet",
      Seq("user_id"), "label_time", Seq("churned"))
    val feat = Feature("user_country",
      Source.parquet("users", s"file://$dir/users.parquet", Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")))
    val out = s"file://$dir/out.parquet"
    val opts = BuildOptions(output = Some(out), store = Some(store))

    val r1 = Build(spark, lbl, Seq(feat), opts)
    assert(r1.rows == 50)
    // second build is served from the manifest: features report the
    // cache-hit sentinel and the output parquet is re-read as-is
    val r2 = Build(spark, lbl, Seq(feat), opts)
    assert(r2.features.head.matched == -1)
    assert(r2.rows == 50)

    // a FOREIGN dataset overwriting the remote output must still be
    // detected (the Hadoop stat fingerprint changes) -> fresh build
    users.write.mode("overwrite").parquet(out)
    val r3 = Build(spark, lbl, Seq(feat), opts)
    assert(r3.features.head.matched >= 0)
    assert(r3.df.columns.contains("user_country__country"))

    // fingerprints are scheme-aware but content-stat based: the same
    // directory addressed locally and via file:// may legitimately
    // differ (content hash vs stat fingerprint) — both must be stable
    // call-over-call though
    assert(store.contentHash(out) == store.contentHash(out))
    assert(store.exists(out) && !store.exists(s"file://$dir/nope.parquet"))
  }

  test("tz-aware labels vs naive features raise") {
    val naiveUsers = users.withColumn("updated_at",
      col("updated_at").cast("timestamp_ntz"))
    val f = Feature("user_country",
      Source.frame("users_ntz", naiveUsers, Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country")))
    assertThrows[TimezoneMismatchError](Build(spark, labels, Seq(f)))
  }
}
