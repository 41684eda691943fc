package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.Build
import graft.util.MiniYaml

class CliSpec extends SparkFunSuite {
  import spark.implicits._

  test("MiniYaml parses the config subset") {
    val m = MiniYaml.parse(
      """# comment
        |labels:
        |  path: /tmp/l.parquet
        |  keys: [user_id, product_id]
        |  target: [churned]
        |features:
        |  - name: f1
        |    source: /tmp/u.parquet
        |    columns: [country]
        |    embargo: 1d
        |  - name: f2
        |    source: /tmp/t.parquet
        |    sql: "SELECT 1 AS x"
        |defaults:
        |  join: strict
        |""".stripMargin)
    val labels = m("labels").asInstanceOf[Map[String, Any]]
    assert(labels("path") == "/tmp/l.parquet")
    assert(labels("keys") == List("user_id", "product_id"))
    val feats = m("features").asInstanceOf[List[Map[String, Any]]]
    assert(feats.map(_("name")) == List("f1", "f2"))
    assert(feats(0)("embargo") == "1d")
    assert(feats(1)("sql") == "SELECT 1 AS x")
    assert(m("defaults").asInstanceOf[Map[String, Any]]("join") == "strict")
  }

  test("MiniYaml rejects malformed input with line numbers") {
    val e1 = intercept[IllegalArgumentException](MiniYaml.parse("key value-no-colon"))
    assert(e1.getMessage.contains("line 1"))
    val e2 = intercept[IllegalArgumentException](MiniYaml.parse("a:\n   b: 1\n  c: 2"))
    assert(e2.getMessage.toLowerCase.contains("indent"))
  }

  test("identifier hygiene: unicode/quotes reduce to safe names") {
    import graft.util.Names
    assert(Names.safeName("fancy name!") == "fancy_name_")
    assert(Names.safeName("漢字x") == "__x")
    assert(Names.quoteLit("o'brien") == "'o''brien'")
    assert(Names.quoteIdent("a\"b") == "\"a\"\"b\"")
  }

  test("Jsons reader round-trips writer output incl. escaped values") {
    import graft.util.Jsons
    // a path with a quote and backslash: the exact shape the regex
    // manifest probe silently failed on (ADVICE round 2)
    val weird = "/data/out\"dir\\x.parquet"
    val doc = Jsons.obj(
      "rows" -> 42L,
      "audit_passed" -> true,
      "nested_rows" -> 7L, // must not shadow "rows" during lookup
      "output" -> Jsons.Raw(Jsons.obj(
        "output_path" -> weird,
        "file_size_bytes" -> 1234L,
        "ratio" -> 0.25,
        "none" -> None)),
      "cols" -> Seq("a", "b\nc"))
    val m = Jsons.parseObject(doc).getOrElse(fail(s"unparseable: $doc"))
    assert(Jsons.at(m, "rows").contains(42L))
    assert(Jsons.at(m, "audit_passed").contains(true))
    assert(Jsons.at(m, "output", "output_path").contains(weird))
    assert(Jsons.at(m, "output", "ratio").contains(0.25))
    assert(Jsons.at(m, "output", "none").isEmpty) // null filtered
    assert(Jsons.at(m, "cols").contains(Vector("a", "b\nc")))
    assert(Jsons.at(m, "missing", "key").isEmpty)
    // malformed inputs are None, never throw
    for (bad <- Seq("", "{", "{\"a\":}", "[1,", "{\"a\":1}trailing"))
      assert(Jsons.parse(bad).isEmpty, s"parsed: $bad")
    // unicode escapes
    assert(Jsons.parse("\"\\u0041\\t\"").contains("A\t"))
  }

  test("config-driven build end-to-end") {
    val dir = Files.createTempDirectory("graft_cli")
    val users = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-06-01 00:00:00")) + make_dt_interval(col("id"))).as("updated_at"),
      concat(lit("C"), col("id") % 3).as("country"))
    val labels = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-07-01 00:00:00")) + make_dt_interval(col("id"))).as("label_time"),
      (col("id") % 2 === 0).as("churned"))
    users.write.parquet(s"$dir/users.parquet")
    labels.write.parquet(s"$dir/labels.parquet")
    Files.writeString(dir.resolve("graft.yaml"),
      s"""labels:
         |  path: $dir/labels.parquet
         |  keys: [user_id]
         |  label_time: label_time
         |  target: [churned]
         |features:
         |  - name: user_country
         |    source: $dir/users.parquet
         |    keys: [user_id]
         |    timestamp: updated_at
         |    columns: [country]
         |defaults:
         |  max_lookback: 365d
         |  join: strict
         |""".stripMargin)
    val cfg = graft.cli.Main.loadConfig(s"$dir/graft.yaml")
    assert(cfg.features.size == 1)
    // CLI configs wire a store by default (reference cli.py:169-174)
    assert(cfg.options.store.isDefined)
    val r = Build(spark, cfg.labels, cfg.features,
      cfg.options.copy(store = None))
    assert(r.rows == 19)
    assert(r.auditPassed)
    assert(r.columns.contains("user_country__country"))
    assert(r.features.head.matched == 19)
  }

  test("config store wiring: second config-driven build is a cache hit") {
    val dir = Files.createTempDirectory("graft_cli_store")
    val users = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-06-01 00:00:00")) + make_dt_interval(col("id"))).as("updated_at"),
      concat(lit("C"), col("id") % 3).as("country"))
    val labels = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-07-01 00:00:00")) + make_dt_interval(col("id"))).as("label_time"),
      (col("id") % 2 === 0).as("churned"))
    users.write.parquet(s"$dir/users.parquet")
    labels.write.parquet(s"$dir/labels.parquet")
    Files.writeString(dir.resolve("graft.yaml"),
      s"""labels:
         |  path: $dir/labels.parquet
         |  keys: [user_id]
         |  label_time: label_time
         |  target: [churned]
         |features:
         |  - name: user_country
         |    source: $dir/users.parquet
         |    keys: [user_id]
         |    timestamp: updated_at
         |    columns: [country]
         |store: $dir/.graft
         |""".stripMargin)
    val cfg = graft.cli.Main.loadConfig(s"$dir/graft.yaml")
    assert(cfg.options.store.get.root == s"$dir/.graft")
    val opts = cfg.options.copy(output = Some(s"$dir/train.parquet"))
    val r1 = Build(spark, cfg.labels, cfg.features, opts)
    assert(r1.rows == 19 && r1.features.head.matched == 19)
    val r2 = Build(spark, cfg.labels, cfg.features, opts)
    assert(r2.rows == 19 && r2.features.head.matched == -1) // manifest-backed
  }

  test("build command prints stage progress lines; -v/--debug set the log level") {
    val dir = Files.createTempDirectory("graft_cli_prog")
    val users = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-06-01 00:00:00")) + make_dt_interval(col("id"))).as("updated_at"),
      concat(lit("C"), col("id") % 3).as("country"))
    val labels = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-07-01 00:00:00")) + make_dt_interval(col("id"))).as("label_time"),
      (col("id") % 2 === 0).as("churned"))
    users.write.parquet(s"$dir/users.parquet")
    labels.write.parquet(s"$dir/labels.parquet")
    Files.writeString(dir.resolve("graft.yaml"),
      s"""labels:
         |  path: $dir/labels.parquet
         |  keys: [user_id]
         |  label_time: label_time
         |  target: [churned]
         |features:
         |  - name: user_country
         |    source: $dir/users.parquet
         |    keys: [user_id]
         |    timestamp: updated_at
         |    columns: [country]
         |store: none
         |""".stripMargin)
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdBuild(Array(
        "--config", s"$dir/graft.yaml",
        "--output", s"$dir/train.parquet")) == 0)
    }
    val printed = outCap.toString
    // the reference's progress-bar steps as plain stdout lines
    // (cli.py:629-668 minus rich): load, compute+join per feature,
    // write, verify — with the step counter over 2n+3
    Seq("[build 1/5] load", "compute user_country", "join user_country",
      "write", "verify").foreach(step =>
      assert(printed.contains(step), s"missing '$step' in:\n$printed"))
    // the default sorted path's stats ride the sorted write, so verify
    // is reported AFTER it — the emission order reflects the real
    // execution order (the unsorted path is asserted in BuildSpec)
    assert(printed.indexOf("write") < printed.indexOf("verify"), printed)

    // global verbosity flags (reference cli.py:189-208): -v => INFO,
    // --debug => DEBUG, absent => WARN; position-independent, parsed
    // without disturbing the command args
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.run(Array("-v", "help")) == 0)
      assert(graft.cli.Main.currentLogLevel == "INFO")
      assert(graft.cli.Main.run(Array("help", "--debug")) == 0)
      assert(graft.cli.Main.currentLogLevel == "DEBUG")
      assert(graft.cli.Main.run(Array("help")) == 0)
      assert(graft.cli.Main.currentLogLevel == "WARN")
    }
  }

  test("config passthrough: csv delimiter, flatten_columns, store off") {
    val dir = Files.createTempDirectory("graft_cli_csv")
    Files.writeString(dir.resolve("users.csv"),
      "user_id;updated_at;country\n" +
        (1 to 19).map(i => s"$i;2023-06-01 0${i % 10}:00:00;C${i % 3}")
          .mkString("\n"))
    val labels = spark.range(1, 20).select(
      col("id").as("user_id"),
      (lit(ts("2023-07-01 00:00:00")) + make_dt_interval(col("id"))).as("label_time"),
      (col("id") % 2 === 0).as("churned"))
    labels.write.parquet(s"$dir/labels.parquet")
    Files.writeString(dir.resolve("graft.yaml"),
      s"""labels:
         |  path: $dir/labels.parquet
         |  keys: [user_id]
         |  label_time: label_time
         |  target: [churned]
         |features:
         |  - name: user_country
         |    source: $dir/users.csv
         |    keys: [user_id]
         |    timestamp: updated_at
         |    columns: [country]
         |    delimiter: ";"
         |defaults:
         |  flatten_columns: true
         |store: none
         |""".stripMargin)
    val cfg = graft.cli.Main.loadConfig(s"$dir/graft.yaml")
    assert(cfg.options.store.isEmpty)
    assert(cfg.options.flattenColumns)
    val src = cfg.features.head.source.asInstanceOf[graft.model.Source]
    assert(src.delimiter == ";")
    val r = Build(spark, cfg.labels, cfg.features, cfg.options)
    assert(r.rows == 19)
    // flattened: short name, no user_country__ prefix
    assert(r.columns.contains("country"))
  }

  test("curate command: flags drive the stages, ledger prints, json written") {
    val dir = Files.createTempDirectory("graft_cli_curate")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    val jp = s"$dir/ledger.json"
    // varied sentences: a repeated template line would fail the
    // dup-ngram repetition rule and empty the corpus at the scan
    val page = Seq(
      "the quick brown fox jumps over that lazy dog have with today.",
      "a second calm paragraph describes harbor lights at dusk now.",
      "some travelers whisper old stories while walking narrow streets.",
      "every reader finds one quiet idea hiding between these lines.",
      "the weather report shows rain of the kind nobody really minds.").mkString("\n")
    Seq(
      (1L, "https://example.com/a", page),
      (2L, "https://example.com/a?utm_source=x", page),
      (3L, "https://example.com/b", "tiny."),                    // c4 drop
      (4L, "https://example.com/c", page +
        "\nthis fourth page closes with several extra words about storage engines." +
        "\nits second appended sentence talks about partition pruning instead."),
      (5L, null.asInstanceOf[String], page +
        "\nthe fifth page instead appends commentary about broadcast joins here." +
        "\nanother appended sentence mentions shuffle partitions and task sizes.")
    ).toDF("doc_id", "url", "text").write.parquet(in)
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out, "--c4", "--gopher", "--repetition",
        "--url-col", "url", "--near-dup", "minhash",
        "--near-dup-threshold", "0.9", "--json", jp)) == 0)
    }
    val printed = outCap.toString
    assert(printed.contains("input_rows=5"))
    Seq("c4", "gopher", "repetition", "quality", "language", "url_dup",
      "exact_dup", "near_dup").foreach(stage =>
      assert(printed.contains(stage), s"missing stage '$stage' in:\n$printed"))
    // doc 3 dies at c4; doc 2 is a url mirror of doc 1; the rest survive
    // (1/4/5 differ by a unique closing line — distinct exact hashes,
    // near-dup est below 0.9 is corpus-dependent so just bound it)
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!survivors.contains(3L) && !survivors.contains(2L), s"got $survivors")
    assert(survivors.contains(5L), "null-url doc must pass the url stage")
    val json = new String(Files.readAllBytes(java.nio.file.Paths.get(jp)))
    assert(json.contains("\"input_rows\":5") && json.contains("\"stage\":\"near_dup\""))

    // --resume-dir: stage checkpoints + params pin land; a second run
    // against the same dir resumes and reproduces the output
    val rdir = s"$dir/resume"
    val out2 = s"$dir/curated2.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out2, "--c4", "--gopher", "--repetition",
        "--url-col", "url", "--near-dup", "minhash",
        "--near-dup-threshold", "0.9", "--resume-dir", rdir)) == 0)
    }
    assert(Files.exists(java.nio.file.Paths.get(rdir, "_params.json")))
    assert(Files.exists(java.nio.file.Paths.get(rdir, "scan", "_SUCCESS")))
    val out3 = s"$dir/curated3.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out3, "--c4", "--gopher", "--repetition",
        "--url-col", "url", "--near-dup", "minhash",
        "--near-dup-threshold", "0.9", "--resume-dir", rdir)) == 0)
    }
    assert(spark.read.parquet(out3).select("doc_id").collect().map(_.getLong(0)).toSet ==
      spark.read.parquet(out2).select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("curate --fix-mojibake: corrupted twin collapses, survivors carry repaired text") {
    val dir = Files.createTempDirectory("graft_cli_mojibake")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    val clean = "the café serves warm crème brûlée every single morning here"
    val corrupted = new String(
      clean.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")
    Seq(
      (1L, clean),
      (2L, corrupted),
      (3L, "an unrelated page about harbor boats and morning fog banks")
    ).toDF("doc_id", "text").write.parquet(in)
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out, "--min-quality", "0",
        "--languages", "none", "--fix-mojibake")) == 0)
    }
    val kept = spark.read.parquet(out).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.size == 2 && kept.contains(3L), s"got ${kept.keySet}")
    assert(kept.values.forall(!_.contains("Ã")), s"unrepaired text in $kept")
  }

  test("curate --max-per-domain: keeps the N longest survivors per domain") {
    val dir = Files.createTempDirectory("graft_cli_domaincap")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    // two domains, ten clean docs each, lengths strictly increasing
    // with i — every doc's tokens are unique to it (no shingle overlap,
    // so the dedup stages drop nothing and only the cap cuts) and the
    // 3 longest (largest i) per domain must survive
    def mk(d: Int, i: Int) =
      (1 to i + 3).map(j => s"word${d}x${i}y$j").mkString(" ")
    (1 to 20).map(i => (i.toLong, if (i <= 10) "siteA" else "siteB",
        mk(i, if (i <= 10) i else i - 10)))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap)) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out,
        "--min-quality", "0", "--languages", "none",
        "--max-per-domain", "3")) == 0)
    }
    assert(cap.toString.contains("domain_capped"), cap.toString)
    val kept = spark.read.parquet(out)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.length == 6, s"3 per domain x 2 domains, got ${kept.toSeq}")
    // per domain: the docs with the largest repeat factor (i % 10 + 1)
    assert(kept.filter(_._2 == "siteA").map(_._1).toSet == Set(8L, 9L, 10L))
    assert(kept.filter(_._2 == "siteB").map(_._1).toSet == Set(18L, 19L, 20L))
    // the synthesized __domain_order helper never reaches the output
    assert(!spark.read.parquet(out).columns.contains("__domain_order"))
  }

  test("curate --near-dup-keep-col length: duplicate clusters keep the longest member") {
    val dir = Files.createTempDirectory("graft_cli_keepbest")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    val base = "the steady harbor town wakes early with fishing boats " +
      "and the morning market sells fresh catch to everyone"
    Seq(
      (1L, base),                                      // near-dup, shorter, SMALLER id
      (2L, base + " before the first ferry arrives"),  // near-dup, LONGER
      (3L, (1 to 15).map(j => s"uniqueword$j").mkString(" ")) // untouched
    ).toDF("doc_id", "text").write.parquet(in)
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out,
        "--min-quality", "0", "--languages", "none",
        "--near-dup", "ngram", "--near-dup-threshold", "0.2",
        "--near-dup-keep-col", "length")) == 0)
    }
    val kept = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // min-id would keep doc 1; keep-best by length must keep doc 2
    assert(kept == Set(2L, 3L), s"got $kept")
    assert(!spark.read.parquet(out).columns.contains("__neardup_order"))
  }

  test("curate command: second-wave flags reach their stages") {
    val dir = Files.createTempDirectory("graft_cli_curate2")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    val evalP = s"$dir/eval.parquet"
    val banner = "accept all cookies to continue browsing"
    Seq(
      (1L, s"$banner\nthe quiet harbor town wakes early with the fishing boats today."),
      (2L, s"$banner\nthe narrow lane climbs toward the old chapel on the hill."),
      (3L, s"$banner\nthis page speaks about verboten topics in plain words."),
      (4L, "the secret benchmark passage hides inside this training document today.")
    ).toDF("doc_id", "text").write.parquet(in)
    Seq((100L,
      "the secret benchmark passage hides inside this training document today."))
      .toDF("doc_id", "text").write.parquet(evalP)
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out,
        "--min-quality", "0", "--languages", "none",
        "--blocklist", "verboten",
        "--boilerplate-max-doc-freq", "1",
        "--span-dedup", "--exact-substr", "20",
        "--decontaminate", evalP,
        "--near-dup-threshold", "0.95")) == 0)
    }
    val printed = outCap.toString
    Seq("blocklist", "boilerplate", "span_dup", "exact_substr", "contaminated")
      .foreach(stage => assert(printed.contains(stage), s"missing '$stage' in:\n$printed"))
    // doc 3 dies at blocklist; doc 4 shares its 8-grams with the eval
    // set; 1 and 2 survive with the banner line stripped
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L), s"got $survivors")
    val texts = spark.read.parquet(out).select("text")
      .collect().map(_.getString(0))
    assert(texts.forall(!_.contains("accept all cookies")))
    // --decontaminate-bloom: same survivors through the bloom plan
    val out2 = s"$dir/curated_bloom.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out2,
        "--min-quality", "0", "--languages", "none",
        "--blocklist", "verboten",
        "--boilerplate-max-doc-freq", "1",
        "--span-dedup", "--exact-substr", "20",
        "--decontaminate", evalP, "--decontaminate-bloom",
        "--near-dup-threshold", "0.95")) == 0)
    }
    val survivors2 = spark.read.parquet(out2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors2 == Set(1L, 2L), s"bloom path diverged: $survivors2")
  }

  test("pack command: materialized packs and fixed-length chunking") {
    val dir = Files.createTempDirectory("graft_cli_pack")
    val in = s"$dir/docs.parquet"
    (1 to 50).map(i => (i.toLong, (1 to 30).map(j => s"t${i}x$j").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(in)
    val packsOut = s"$dir/packs.parquet"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdPack(Array(
        "--input", in, "--output", packsOut,
        "--token-budget", "100", "--groups", "2")) == 0)
    }
    assert(outCap.toString.contains("packs="))
    val packs = spark.read.parquet(packsOut)
    assert(packs.columns.toSet == Set("pack_group", "pack_id", "n_docs", "text"))
    assert(packs.count() > 0)
    // --report: the efficiency rollup prints after the write (50 docs
    // x 30 tokens through the same assignment)
    val repCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(repCap)) {
      assert(graft.cli.Main.cmdPack(Array(
        "--input", in, "--output", s"$dir/packs2.parquet",
        "--token-budget", "100", "--groups", "2", "--report")) == 0)
    }
    val rep = repCap.toString
    assert(rep.contains("tokens=1500"), rep)
    assert(rep.contains("mean_fill=") && rep.contains("utilization="), rep)
    // chunking mode: every non-trailing sequence holds exactly seq-len
    // tokens and carries its doc boundaries
    val chunksOut = s"$dir/chunks.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdPack(Array(
        "--input", in, "--output", chunksOut,
        "--token-budget", "100", "--groups", "2",
        "--token-count", "bpe", "--seq-len", "40", "--drop-partial")) == 0)
    }
    val chunks = spark.read.parquet(chunksOut)
    assert(chunks.columns.contains("boundaries"))
    assert(chunks.select("n_tokens").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(40L))
  }

  test("dsir command: selection favors the target domain; weights-only writes scores") {
    val dir = Files.createTempDirectory("graft_cli_dsir")
    val raw = s"$dir/raw.parquet"
    val tgt = s"$dir/target.parquet"
    // 40 cat docs (ids 1-40) + 40 dog docs (ids 41-80); target is cats
    ((1 to 40).map(i => (i.toLong, s"cat purr kitten whiskers nap c$i")) ++
      (41 to 80).map(i => (i.toLong, s"dog bark kennel bone growl d$i")))
      .toDF("doc_id", "text").write.parquet(raw)
    (1 to 5).map(i => (100L + i, "cat kitten purr nap whiskers"))
      .toDF("doc_id", "text").write.parquet(tgt)
    val selOut = s"$dir/selected.parquet"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdDsir(Array(
        "--input", raw, "--target", tgt, "--output", selOut,
        "--k", "20", "--buckets", "1024")) == 0)
    }
    assert(outCap.toString.contains("selected=20"))
    val ids = spark.read.parquet(selOut).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.size == 20 && ids.count(_ <= 40) >= 15,
      s"selection should skew hard toward the cat domain, got $ids")
    val wOut = s"$dir/weights.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdDsir(Array(
        "--input", raw, "--target", tgt, "--output", wOut,
        "--buckets", "1024", "--weights-only")) == 0)
    }
    val w = spark.read.parquet(wOut)
    assert(w.columns.contains("dsir_logw") && w.count() == 80)
  }

  test("classify command: train+save, filter via saved model") {
    val dir = Files.createTempDirectory("graft_cli_classify")
    val raw = s"$dir/raw.parquet"
    val ref = s"$dir/ref.parquet"
    val neg = s"$dir/neg.parquet"
    ((1 to 30).map(i => (i.toLong, s"cat purr kitten whiskers nap c$i")) ++
      (31 to 60).map(i => (i.toLong, s"dog bark kennel bone growl d$i")))
      .toDF("doc_id", "text").write.parquet(raw)
    (1 to 8).map(i => (100L + i, "cat kitten purr nap whiskers"))
      .toDF("doc_id", "text").write.parquet(ref)
    (31 to 60).map(i => (i.toLong, s"dog bark kennel bone growl d$i"))
      .toDF("doc_id", "text").write.parquet(neg)
    val keptOut = s"$dir/kept.parquet"
    val modelOut = s"$dir/model.parquet"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdClassify(Array(
        "--input", raw, "--output", keptOut,
        "--positives", ref, "--negatives", neg,
        "--save-model", modelOut, "--buckets", "1024")) == 0)
    }
    assert(outCap.toString.contains("model=") && outCap.toString.contains("kept="))
    val kept = spark.read.parquet(keptOut).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == (1 to 30).map(_.toLong).toSet, s"got $kept")
    // scoring via the saved model, no retrain
    val scoredOut = s"$dir/scored.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdClassify(Array(
        "--input", raw, "--output", scoredOut,
        "--model", modelOut, "--score-only")) == 0)
    }
    val scored = spark.read.parquet(scoredOut)
    assert(scored.count() == 60 && scored.columns.contains("quality_prob"))
  }

  test("profile command: table + json; shuffle command: ordered shards round-trip") {
    val dir = Files.createTempDirectory("graft_cli_profile")
    val in = s"$dir/docs.parquet"
    ((1 to 20).map(i => (i.toLong, "web", s"alpha beta doc $i")) ++
      (21 to 25).map(i => (i.toLong, "code", s"x = $i")))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val jsonOut = s"$dir/profile.json"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--json", jsonOut)) == 0)
    }
    val printed = outCap.toString
    assert(printed.contains("web") && printed.contains("TOTAL"), printed)
    val parsed = graft.util.Jsons.parse(
        Files.readString(java.nio.file.Paths.get(jsonOut)))
      .getOrElse(fail("unparseable profile json"))
      .asInstanceOf[Vector[Any]].map(_.asInstanceOf[Map[String, Any]])
    assert(parsed.size == 3)
    val total = parsed.find(_("is_total") == 1L).get
    assert(total("n_docs") == 25L, s"got $total")
    // --zipf: the power-law fit line appends after the table
    val zipfCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(zipfCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--zipf", "10")) == 0)
    }
    val zline = zipfCap.toString.linesIterator
      .find(_.startsWith("zipf ")).getOrElse(fail(zipfCap.toString))
    assert(zline.contains("k=10") && zline.contains("vocab=") &&
      zline.contains("slope=-"), zline)
    // --diff-against: the drift report — "code" removed, "web" grown
    val oldIn = s"$dir/docs_old.parquet"
    ((1 to 10).map(i => (i.toLong, "web", s"alpha beta doc $i")) ++
      (21 to 25).map(i => (i.toLong, "code", s"x = $i")) ++
      (30 to 32).map(i => (i.toLong, "gone", s"legacy row $i")))
      .toDF("doc_id", "source", "text").write.parquet(oldIn)
    val diffCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(diffCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--diff-against", oldIn)) == 0)
    }
    val diffPrinted = diffCap.toString
    assert(diffPrinted.contains("grown"), diffPrinted)
    assert(diffPrinted.contains("removed"), diffPrinted)
    assert(diffPrinted.contains("TOTAL"), diffPrinted)
    // --novelty: the set-level drift line after the count table, equal
    // to the library report on the same snapshots
    val novCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(novCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--diff-against", oldIn, "--novelty", "3")) == 0)
    }
    val nov = novCap.toString.linesIterator
      .find(_.startsWith("novelty n=3")).getOrElse(
        fail(s"no novelty line:\n$novCap"))
    val lib = graft.ops.TextAnalysis.ngramNovelty(
      spark.read.parquet(oldIn), spark.read.parquet(in), n = 3).head()
    assert(nov == f"novelty n=3 old_ngrams=${lib.getLong(0)} " +
      f"new_ngrams=${lib.getLong(1)} novel=${lib.getLong(2)} " +
      f"lost=${lib.getLong(3)} novelty_rate=${lib.getDouble(4)}%.4f " +
      f"lost_rate=${lib.getDouble(5)}%.4f", nov)
    // --approx: the KMV path — at k >> distinct the estimates ARE the
    // exact counts (printed with ~ so a reader knows the mode), and
    // the json carries n_unique_texts_approx instead
    val apxJson = s"$dir/profile_apx.json"
    val apxCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(apxCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--approx", "--json", apxJson)) == 0)
    }
    assert(apxCap.toString.contains("~25"), apxCap.toString)
    val apxParsed = graft.util.Jsons.parse(
        Files.readString(java.nio.file.Paths.get(apxJson)))
      .getOrElse(fail("unparseable approx profile json"))
      .asInstanceOf[Vector[Any]].map(_.asInstanceOf[Map[String, Any]])
    assert(apxParsed.find(_("is_total") == 1L).get("n_unique_texts_approx")
      == 25.0, s"$apxParsed")
    // --approx novelty: estimates equal the exact report in the
    // below-k regime, printed in the sketch format
    val apxNovCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(apxNovCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--diff-against", oldIn,
        "--novelty", "3", "--approx", "64")) == 0)
    }
    val apxNov = apxNovCap.toString.linesIterator
      .find(_.startsWith("novelty(approx k=64) n=3")).getOrElse(
        fail(s"no approx novelty line:\n$apxNovCap"))
    assert(apxNov.contains(f"old_ngrams~${lib.getLong(0)}") &&
      apxNov.contains(f"novel~${lib.getLong(2)}") &&
      apxNov.contains(f"novelty_rate=${lib.getDouble(4)}%.4f"), apxNov)
    // --token-drift: the distribution-level mover table, equal to the
    // library's top movers on the same snapshots
    val tdCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(tdCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--diff-against", oldIn, "--token-drift", "3")) == 0)
    }
    assert(tdCap.toString.contains("top 3 token movers"), tdCap.toString)
    val topMover = graft.ops.TextAnalysis.tokenDrift(
      spark.read.parquet(oldIn), spark.read.parquet(in), k = 1)
      .head().getString(0)
    assert(tdCap.toString.contains(topMover), tdCap.toString)
    // --top-ngrams: the frequent-phrase table appends after the profile
    val topCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(topCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--top-ngrams", "2", "--ngram-n", "2",
        "--id-col", "doc_id")) == 0)
    }
    val topPrinted = topCap.toString
    assert(topPrinted.contains("top 2 ngrams"), topPrinted)
    assert(topPrinted.contains("alpha beta"), topPrinted)
    // shuffle with --index --shards: global_idx must equal the
    // cross-shard read-back position of the shard-ordered layout
    val shufOut = s"$dir/shuffled.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdShuffle(Array(
        "--input", in, "--output", shufOut, "--index", "--shards", "3")) == 0)
    }
    val back = spark.read.parquet(shufOut)
    assert(back.count() == 25 && back.columns.contains("global_idx"))
    val byIdx = back.orderBy("global_idx").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val byKey = back.orderBy(col("shuffle_key"), col("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(byIdx == byKey, "index order must equal shuffle-key order")
  }

  test("corpus commands round-trip JSONL by extension") {
    val dir = Files.createTempDirectory("graft_cli_jsonl")
    val in = s"$dir/docs.jsonl"
    (1 to 10).map(i => (i.toLong, s"alpha beta doc $i", "web"))
      .toDF("doc_id", "text", "source").write.json(in)
    val out = s"$dir/shuffled.jsonl"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdShuffle(Array(
        "--input", in, "--output", out)) == 0)
    }
    assert(outCap.toString.contains("shuffled=10"))
    val back = spark.read.json(out)
    assert(back.count() == 10 && back.columns.contains("shuffle_key"))
    // profile reads the same jsonl drop directly
    val profCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(profCap)) {
      assert(graft.cli.Main.cmdProfile(Array("--input", in)) == 0)
    }
    assert(profCap.toString.contains("TOTAL"), profCap.toString)
  }

  test("tokenizer command: train then encode; pack --tokenizer budgets with the trained vocab") {
    val dir = Files.createTempDirectory("graft_cli_bpe")
    val in = s"$dir/docs.parquet"
    (1 to 40).map(i => (i.toLong, s"the quick brown fox number $i jumps high"))
      .toDF("doc_id", "text").write.parquet(in)
    val model = s"$dir/vocab"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdTokenizer(Array(
        "--train", "--input", in, "--model", model, "--vocab-size", "512")) == 0)
    }
    assert(outCap.toString.contains("vocab_size="), outCap.toString)
    val enc = s"$dir/encoded.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdTokenizer(Array(
        "--input", in, "--model", model, "--output", enc)) == 0)
    }
    val back = spark.read.parquet(enc)
    assert(back.count() == 40 &&
      back.columns.contains("token_ids") && back.columns.contains("n_tokens"))
    // the shared words compressed into multi-byte tokens
    val v = graft.ops.Tokenizer.load(spark, model)
    assert(v.size > 256)
    // pack with the trained vocab: exact-count budgeting end-to-end
    val packed = s"$dir/packed.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdPack(Array(
        "--input", in, "--output", packed, "--tokenizer", model,
        "--token-budget", "64", "--groups", "2")) == 0)
    }
    assert(spark.read.parquet(packed).count() > 0)
    // --ids: fixed-length token-ID training sequences
    val seqs = s"$dir/seqs.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdPack(Array(
        "--input", in, "--output", seqs, "--tokenizer", model, "--ids",
        "--seq-len", "32", "--groups", "2")) == 0)
    }
    val sq = spark.read.parquet(seqs)
    assert(sq.count() > 0 && sq.columns.contains("token_ids"))
    assert(sq.filter(col("n_tokens") =!= 32L).count() == 0,
      "--ids drops partial sequences by default")
    // --specials at train time + --eos at export time: the reserved id
    // appears in the exported sequences (one per in-pack document)
    val model2 = s"$dir/vocab_eos"
    val seqs2 = s"$dir/seqs_eos.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdTokenizer(Array(
        "--train", "--input", in, "--model", model2, "--vocab-size", "512",
        "--specials", "<|endoftext|>")) == 0)
      assert(graft.cli.Main.cmdPack(Array(
        "--input", in, "--output", seqs2, "--tokenizer", model2, "--ids",
        "--seq-len", "32", "--groups", "2", "--keep-partial",
        "--eos", "<|endoftext|>")) == 0)
    }
    val v2 = graft.ops.Tokenizer.load(spark, model2)
    val eosId = graft.ops.Tokenizer.specialId(v2, "<|endoftext|>")
    assert(spark.read.parquet(seqs2)
      .filter(array_contains(col("token_ids"), eosId)).count() > 0,
      "exported sequences must carry the document separator")
    // --eos/--pad without --ids is a config error, not a silent no-op
    val err = intercept[graft.errors.ConfigError](graft.cli.Main.cmdPack(Array(
      "--input", in, "--output", s"$dir/x.parquet", "--tokenizer", model,
      "--eos", "<|endoftext|>")))
    assert(err.getMessage.contains("--ids"), err.getMessage)
    // profile --tokenizer: real token counts in the corpus profile
    val profCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(profCap)) {
      assert(graft.cli.Main.cmdProfile(Array(
        "--input", in, "--group-col", "doc_id", "--tokenizer", model)) == 0)
    }
    assert(profCap.toString.contains("TOTAL"), profCap.toString)
  }

  test("inspect: exact and --approx modes both report usable distincts") {
    val dir = Files.createTempDirectory("graft_cli_inspect")
    val p = s"$dir/t.parquet"
    spark.range(1000).select(
      col("id"),
      (col("id") % 7).as("bucket"),
      (lit(ts("2024-01-01 00:00:00")) + make_dt_interval(lit(0), col("id"))).as("t"))
      .write.parquet(p)
    def captured(args: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        assert(graft.cli.Main.cmdInspect(args) == 0)
      }
      out.toString
    }
    val exact = captured(Array(p))
    assert(exact.contains("1000 rows"))
    assert(exact.contains("distinct=1000") && exact.contains("distinct=7"))
    assert(exact.contains("<- key?") && exact.contains("<- timestamp?"))
    // approx: HLL estimates land within rsd bounds; hints still fire
    val approx = captured(Array(p, "--approx"))
    val estId = "distinct=(\\d+)".r.findAllMatchIn(approx).map(_.group(1).toLong).toSeq
    assert(estId.nonEmpty)
    assert(approx.contains("distinct=7")) // tiny cardinalities are exact in HLL++
    assert(estId.max >= 900 && estId.max <= 1100, s"HLL estimate off: $approx")
  }

  test("pack --ids --pad without --keep-partial is a config error, not a no-op") {
    val dir = Files.createTempDirectory("graft_cli_padguard")
    val in = s"$dir/docs.parquet"
    (1 to 10).map(i => (i.toLong, s"alpha beta gamma delta epsilon w$i"))
      .toDF("doc_id", "text").write.parquet(in)
    val model = s"$dir/vocab"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdTokenizer(Array(
        "--train", "--input", in, "--model", model, "--vocab-size", "512",
        "--specials", "<|pad|>")) == 0)
    }
    val err = intercept[graft.errors.ConfigError](graft.cli.Main.cmdPack(Array(
      "--input", in, "--output", s"$dir/x.parquet", "--tokenizer", model,
      "--ids", "--pad", "<|pad|>")))
    assert(err.getMessage.contains("--keep-partial"), err.getMessage)
  }

  test("curate command: --soft-quality-pivot is the library softSample over scan survivors") {
    val dir = Files.createTempDirectory("graft_cli_softq")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    // a quality spread: stopword-rich prose (high score) and short
    // low-stopword fragments (low score) — the soft stage should keep
    // all of the former and a hash-decided fraction of the latter
    val docs = (1 to 15).map(i => (i.toLong,
      "the quiet harbor town wakes early with the fishing boats and " +
        s"the morning market opens with the fresh catch today t$i")) ++
      (16 to 40).map(i => (i.toLong, s"fragment $i"))
    docs.toDF("doc_id", "text").write.parquet(in)
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap)) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out,
        "--min-quality", "0", "--languages", "none",
        "--near-dup-threshold", "0.99",
        "--soft-quality-pivot", "0.8", "--soft-quality-sharpness", "2")) == 0)
    }
    assert(cap.toString.contains("soft_quality"),
      s"soft_quality ledger row missing:\n$cap")
    val survivors = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    // min-quality 0 + languages none passes every doc into the stage,
    // so the survivors are EXACTLY the library softSample decision
    val expected = graft.ops.Sampling.softSample(
        spark.read.parquet(in), "doc_id",
        graft.ops.TextAnalysis.qualityScore(col("text")),
        pivot = 0.8, sharpness = 2.0)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == expected, s"got $survivors expected $expected")
    // high-quality prose all survives; the fragments thinned out
    assert((1L to 15L).toSet.subsetOf(survivors))
    assert(survivors.count(_ > 15L) < 25, s"fragments must thin: $survivors")
  }

  test("curate command: bigram LM stage via --bigram-buckets and --bigram-model") {
    val dir = Files.createTempDirectory("graft_cli_bigram")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    // fluent prose (repeating bigrams) vs one gibberish page: the
    // self-trained LM puts the gibberish in the worst bucket
    val fluent = (1 to 9).map(i => (i.toLong,
      "the quiet harbor town wakes early with the fishing boats " +
        s"and the morning market opens with the fresh catch today t$i"))
    val junk = Seq((10L, "zq xv qk jw vz kx wq zj vv kk qq ww zz jj xx"))
    (fluent ++ junk).toDF("doc_id", "text").write.parquet(in)
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out,
        "--min-quality", "0", "--languages", "none",
        "--near-dup-threshold", "0.99",
        "--bigram-buckets", "2", "--bigram-keep", "1")) == 0)
    }
    assert(outCap.toString.contains("bigram"),
      s"bigram stage missing from the ledger:\n$outCap")
    // self-trained LM: wiring only — scores here tie at the median
    // (identical prose bodies) and the UNK pathology lifts the junk
    // doc (the Scaladoc's caveat), so bucket OUTCOMES are asserted
    // under the reference model below, and in OpsSpec for semantics
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.nonEmpty, "bigram stage must not empty the corpus here")
    // --bigram-model: a persisted clean-reference LM (fluent-only
    // training) maps the gibberish to unseen-UNK bigrams -> lowest
    // scores -> the dropped bucket
    val modelDir = s"$dir/lm"
    val lm = graft.ops.QualityFilters.bigramModel(
      fluent.toDF("doc_id", "text"), "text", minCount = 1)
    graft.ops.QualityFilters.saveBigramModel(lm, modelDir)
    val out2 = s"$dir/curated2.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out2,
        "--min-quality", "0", "--languages", "none",
        "--near-dup-threshold", "0.99",
        "--bigram-model", modelDir, "--bigram-buckets", "2")) == 0)
    }
    val survivors2 = spark.read.parquet(out2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors2.nonEmpty && !survivors2.contains(10L),
      s"gibberish must land in the reference model's dropped bucket: $survivors2")
  }

  test("curate command: --image-hash-col drops perceptual-hash twins, keeps hashless rows") {
    val dir = Files.createTempDirectory("graft_cli_imgdup")
    val in = s"$dir/docs.parquet"
    val out = s"$dir/curated.parquet"
    Seq(
      (1L, java.lang.Long.valueOf(81985529216486895L),
        "first page carries the original hero image today"),
      (2L, java.lang.Long.valueOf(81985529216486895L ^ 3L),
        "second page re-serves a recompressed copy of it"),
      (3L, java.lang.Long.valueOf(-81985529216486895L),
        "third page shows an entirely different picture"),
      (4L, null.asInstanceOf[java.lang.Long],
        "fourth page has no image and must pass through")
    ).toDF("doc_id", "img_hash", "text").write.parquet(in)
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", out,
        "--min-quality", "0", "--languages", "none",
        "--image-hash-col", "img_hash")) == 0)
    }
    assert(outCap.toString.contains("image_dup"), outCap.toString)
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 3L, 4L), s"got $survivors")

    // --image-col: raw binary image column, dHash computed scan-side;
    // undecodable bytes -> null hash -> pass through
    val in2 = s"$dir/docs_img.parquet"
    val out2 = s"$dir/curated_img.parquet"
    Seq(
      (1L, graft.ops.Multimodal.syntheticGridPng(10L),
        "first page carries the original hero image today"),
      (2L, graft.ops.Multimodal.syntheticGridPng(10L, perturb = true),
        "second page re-serves a mildly recompressed copy"),
      (3L, graft.ops.Multimodal.syntheticGridPng(20L),
        "third page shows an entirely different picture"),
      (4L, Array[Byte](1, 2, 3),
        "fourth page has undecodable bytes and passes through")
    ).toDF("doc_id", "image", "text").write.parquet(in2)
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in2, "--output", out2,
        "--min-quality", "0", "--languages", "none",
        "--image-col", "image")) == 0)
    }
    val curated2 = spark.read.parquet(out2)
    assert(!curated2.columns.contains("__media_hash64"),
      "the internal hash column must not leak into the output")
    val survivors2 = curated2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors2 == Set(1L, 3L, 4L), s"got $survivors2")
    // conflicting/invalid image flags fail fast, not mid-job
    val e1 = intercept[graft.errors.ConfigError](graft.cli.Main.cmdCurate(Array(
      "--input", in2, "--output", s"$dir/x", "--image-col", "image",
      "--image-hash-col", "h")))
    assert(e1.getMessage.contains("mutually exclusive"), e1.getMessage)
    val e2 = intercept[graft.errors.ConfigError](graft.cli.Main.cmdCurate(Array(
      "--input", in2, "--output", s"$dir/x", "--image-col", "image",
      "--image-max-hamming", "4", "--image-bands", "4")))
    assert(e2.getMessage.contains("max-hamming"), e2.getMessage)

    // --audio-col: raw WAV bytes, gain-invariant fingerprint scan-side
    // (doc 2 is doc 1's twin clip; doc 3 distinct; doc 4 undecodable)
    val in3 = s"$dir/docs_audio.parquet"
    val out3 = s"$dir/curated_audio.parquet"
    Seq(
      (1L, graft.ops.Multimodal.syntheticGridWav(10L),
        "first page carries the original audio clip today"),
      (2L, graft.ops.Multimodal.syntheticGridWav(10L, perturb = true),
        "second page re-serves a near-identical clip copy"),
      (3L, graft.ops.Multimodal.syntheticGridWav(20L),
        "third page plays an entirely different recording"),
      (4L, Array[Byte](9, 9, 9),
        "fourth page has undecodable bytes and passes through")
    ).toDF("doc_id", "audio", "text").write.parquet(in3)
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in3, "--output", out3,
        "--min-quality", "0", "--languages", "none",
        "--audio-col", "audio")) == 0)
    }
    assert(spark.read.parquet(out3).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 4L))

    // --video-col: raw AVI bytes, keyframe dHash scan-side (doc 2
    // re-encodes doc 1's pixels at a different JPEG quality)
    val in4 = s"$dir/docs_video.parquet"
    val out4 = s"$dir/curated_video.parquet"
    Seq(
      (1L, graft.ops.Multimodal.syntheticGridMjpegAvi(10L),
        "first page embeds the original clip at high quality"),
      (2L, graft.ops.Multimodal.syntheticGridMjpegAvi(10L, quality = 0.7f),
        "second page re-encodes the same clip at a lower quality"),
      (3L, graft.ops.Multimodal.syntheticGridMjpegAvi(20L),
        "third page shows an entirely different video"),
      (4L, Array[Byte](0, 1, 2),
        "fourth page has undecodable bytes and passes through")
    ).toDF("doc_id", "video", "text").write.parquet(in4)
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in4, "--output", out4,
        "--min-quality", "0", "--languages", "none",
        "--video-col", "video")) == 0)
    }
    assert(spark.read.parquet(out4).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 4L))

    // any two raw media flags conflict, same as raw-vs-precomputed
    val e3 = intercept[graft.errors.ConfigError](graft.cli.Main.cmdCurate(Array(
      "--input", in3, "--output", s"$dir/y",
      "--audio-col", "audio", "--video-col", "video")))
    assert(e3.getMessage.contains("mutually exclusive"), e3.getMessage)
  }

  test("export composite keys: null components cannot collide with value components") {
    val dir = Files.createTempDirectory("graft_cli_export_null")
    val in = s"$dir/rows.parquet"
    // ('x', null, 'y') vs ('x', 'y', null): concat_ws skips nulls, so
    // an unmarked key would collide these into one key and make their
    // relative order (and shard) run-dependent
    Seq(
      ("x", null.asInstanceOf[String], "y", 1L),
      ("x", "y", null.asInstanceOf[String], 2L),
      ("a", "b", "c", 3L)
    ).toDF("k1", "k2", "k3", "payload").write.parquet(in)
    val out1 = s"$dir/s1"
    val out2 = s"$dir/s2"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdExport(Array(
        "--input", in, "--output", out1, "--shards", "2",
        "--key-cols", "k1,k2,k3")) == 0)
      assert(graft.cli.Main.cmdExport(Array(
        "--input", in, "--output", out2, "--shards", "2",
        "--key-cols", "k1,k2,k3")) == 0)
    }
    def rows(p: String) = spark.read.parquet(p)
      .select("payload", "global_idx", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(rows(out1).toSeq == rows(out2).toSeq, "order must be reproducible")
    // the two null-pattern rows must NOT share a key: distinct keys ->
    // distinct shuffle positions -> a stable strict order between them
    val idx = rows(out1).map(r => r._1 -> r._2).toMap
    assert(idx(1L) != idx(2L))
    // manifest reports the shards actually written
    val m = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out1, "_manifest.json")))
    assert(m.contains("\"shards\":2") && m.contains("\"shards_requested\":2"), m)
  }

  test("export command: curate -> pack --ids -> export gives deterministic shards + manifest") {
    val dir = Files.createTempDirectory("graft_cli_export")
    val in = s"$dir/docs.parquet"
    def mk(i: Int) = s"the steady harbor town number t$i wakes early with fishing " +
      s"boats and the morning market opens with fresh catch for everyone d$i"
    // 58 clean docs + 2 exact duplicates for curate to drop
    ((1 to 58).map(i => (i.toLong, mk(i))) ++ Seq((59L, mk(1)), (60L, mk(2))))
      .toDF("doc_id", "text").write.parquet(in)
    val curated = s"$dir/curated.parquet"
    val model = s"$dir/vocab"
    val seqs = s"$dir/seqs.parquet"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdCurate(Array(
        "--input", in, "--output", curated,
        "--min-quality", "0", "--languages", "none")) == 0)
      assert(graft.cli.Main.cmdTokenizer(Array(
        "--train", "--input", curated, "--model", model,
        "--vocab-size", "512")) == 0)
      assert(graft.cli.Main.cmdPack(Array(
        "--input", curated, "--output", seqs, "--tokenizer", model, "--ids",
        "--seq-len", "32", "--groups", "2", "--keep-partial")) == 0)
    }
    assert(spark.read.parquet(curated).count() == 58L, "dups curated away")
    val out1 = s"$dir/shards1"
    val out2 = s"$dir/shards2"
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap)) {
      assert(graft.cli.Main.cmdExport(Array(
        "--input", seqs, "--output", out1, "--shards", "3")) == 0)
      assert(graft.cli.Main.cmdExport(Array(
        "--input", seqs, "--output", out2, "--shards", "3")) == 0)
    }
    assert(cap.toString.contains("exported="), cap.toString)
    // the pack-sequence composite key is inferred
    val m1 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out1, "_manifest.json")))
    val m2 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out2, "_manifest.json")))
    assert(m1 == m2, s"re-running the export must reproduce the manifest:\n$m1\n$m2")
    assert(m1.contains("\"key_cols\":[\"pack_group\",\"pack_id\",\"seq_idx\"]"), m1)
    def rows(p: String) = spark.read.parquet(p)
      .select("shard", "global_idx", "pack_group", "pack_id", "seq_idx")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(","))
    assert(rows(out1).toSeq == rows(out2).toSeq,
      "shard contents must be byte-identical across runs")
    // contiguous global index, shards cover contiguous ranges
    val r1 = spark.read.parquet(out1)
    val idx = r1.select("global_idx").collect().map(_.getLong(0)).sorted
    assert(idx.toSeq == (0L until idx.length).toSeq)
    val ranges = r1.groupBy("shard")
      .agg(min("global_idx").as("lo"), max("global_idx").as("hi"),
        count(lit(1)).as("n"))
      .orderBy("shard").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    ranges.foreach { case (lo, hi, n) => assert(hi - lo + 1 == n,
      s"shard range [$lo,$hi] must be contiguous with $n rows") }
  }

  test("index command: build/search/append for ivf and ivf-pq layouts") {
    val dir = Files.createTempDirectory("graft_cli_index")
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val base = s"$dir/base.parquet"
    val batch = s"$dir/batch.parquet"
    val queries = s"$dir/q.parquet"
    spark.read.parquet(emb).filter(col("vec_id") % 3 > 0).write.parquet(base)
    spark.read.parquet(emb).filter(col("vec_id") % 3 === 0).write.parquet(batch)
    spark.read.parquet(emb).filter(col("vec_id") % 50 === 0).write.parquet(queries)
    val sink = new java.io.PrintStream(new java.io.ByteArrayOutputStream())
    // plain IVF: build over base, search
    val ivfIdx = s"$dir/ivf_idx"
    val ivfRes = s"$dir/ivf_res.parquet"
    Console.withOut(sink) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--build", "--input", base, "--output", ivfIdx, "--nlist", "8")) == 0)
      assert(graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", ivfIdx,
        "--output", ivfRes, "--k", "5", "--nprobe", "3")) == 0)
    }
    val viaCli = spark.read.parquet(ivfRes)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
    val viaLib = graft.ops.Similarity.ivfTopKIndexed(
        spark.read.parquet(queries),
        graft.ops.Similarity.loadIvfIndex(spark, ivfIdx),
        "vec_id", "embedding", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
    assert(viaCli == viaLib, "CLI search must equal the library call")
    // IVF-PQ: build with --pq, append the batch, search with exact refine
    val pqIdx = s"$dir/pq_idx"
    val pqRes = s"$dir/pq_res.parquet"
    Console.withOut(sink) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--build", "--input", base, "--output", pqIdx,
        "--nlist", "8", "--pq", "4,16")) == 0)
      assert(graft.cli.Main.cmdIndex(Array(
        "--append", "--input", batch, "--index", pqIdx)) == 0)
      assert(graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", pqIdx,
        "--output", pqRes, "--k", "5", "--nprobe", "3",
        "--refine", "20", "--corpus", emb)) == 0)
    }
    // the appended index holds base+batch codes; every query gets k rows
    assert(graft.ops.Similarity.loadIvfIndex(spark, pqIdx).lists.count() ==
      spark.read.parquet(emb).count())
    val perQuery = spark.read.parquet(pqRes).groupBy("query_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perQuery == Set(5L), s"5 reranked rows per query, got $perQuery")
    // --describe reports layout, params and the per-list distribution
    val desc = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(desc)) {
      assert(graft.cli.Main.cmdIndex(Array("--describe", "--index", pqIdx)) == 0)
    }
    val d = desc.toString
    assert(d.contains("index=ivfpq m=4") && d.contains("codebook=16"), d)
    assert(d.contains(s"rows=${spark.read.parquet(emb).count()}"), d)
    assert(d.contains("list_id="), d)
    // --compact rewrites the appended code layout to one file per list
    // with identical rows and search results
    val preCompact = spark.read.parquet(s"$dir/pq_res.parquet")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
    val filesBefore = new java.io.File(s"$pqIdx/codes.parquet").listFiles()
      .filter(_.getName.startsWith("list_id="))
      .map(d => d.listFiles().count(_.getName.startsWith("part-"))).sum
    Console.withOut(sink) {
      assert(graft.cli.Main.cmdIndex(Array("--compact", "--index", pqIdx)) == 0)
      assert(graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", pqIdx,
        "--output", s"$dir/pq_res2.parquet", "--k", "5", "--nprobe", "3",
        "--refine", "20", "--corpus", emb)) == 0)
    }
    val listDirs2 = new java.io.File(s"$pqIdx/codes.parquet").listFiles()
      .filter(_.getName.startsWith("list_id="))
    val filesAfter = listDirs2
      .map(d => d.listFiles().count(_.getName.startsWith("part-"))).sum
    assert(filesAfter == listDirs2.length,
      s"one file per list after compaction, got $filesAfter for ${listDirs2.length} lists")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    assert(spark.read.parquet(s"$dir/pq_res2.parquet")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
      == preCompact, "search results must be unchanged by compaction")
    // --refine on a plain IVF index fails fast instead of being ignored
    val errR = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", ivfIdx,
        "--output", s"$dir/nope.parquet", "--refine", "20", "--corpus", emb))
    }
    assert(errR.getMessage.contains("plain IVF"))
    // mode and argument validation fail fast
    val err = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdIndex(Array("--build", "--search"))
    }
    assert(err.getMessage.contains("exactly one"))
    val err2 = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdIndex(Array(
        "--build", "--input", base, "--output", s"$dir/x", "--pq", "banana"))
    }
    assert(err2.getMessage.contains("M,K"))
  }

  test("index --rebuild: fresh centroids to a new dir, rows preserved, PQ needs corpus") {
    val dir = Files.createTempDirectory("graft_cli_rebuild")
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = s"$dir/ivf4"
    val idx8 = s"$dir/ivf8"
    val sink = new java.io.PrintStream(new java.io.ByteArrayOutputStream())
    Console.withOut(sink) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--build", "--input", emb, "--output", idx, "--nlist", "4")) == 0)
      assert(graft.cli.Main.cmdIndex(Array(
        "--rebuild", "--index", idx, "--output", idx8, "--nlist", "8")) == 0)
    }
    val old = graft.ops.Similarity.loadIvfIndex(spark, idx)
    val rebuilt = graft.ops.Similarity.loadIvfIndex(spark, idx8)
    assert(rebuilt.centroids.count() == 8, "rebuild must honor the new nlist")
    assert(rebuilt.lists.count() == old.lists.count(), "no rows may vanish")
    // both indexes hold the SAME vectors, and a full probe ranks exact
    // cosines — identical results despite entirely different lists
    val q = spark.read.parquet(emb).filter(col("vec_id") % 50 === 0)
    def rows(idx: graft.ops.Similarity.IvfIndex, np: Int): Seq[String] =
      graft.ops.Similarity.ivfTopKIndexed(q, idx, "vec_id", "embedding",
          k = 3, nprobe = np)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
    assert(rows(rebuilt, 8) == rows(old, 4),
      "full probes of old and rebuilt must agree (same vectors, exact cosines)")
    // IVF-PQ: codes carry no vectors — rebuild demands the corpus
    val pqIdx = s"$dir/pq"
    Console.withOut(sink) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--build", "--input", emb, "--output", pqIdx,
        "--nlist", "4", "--pq", "4,16")) == 0)
    }
    val err = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdIndex(Array(
        "--rebuild", "--index", pqIdx, "--output", s"$dir/pq8", "--nlist", "8"))
    }
    assert(err.getMessage.contains("--corpus"), err.getMessage)
    // with the corpus: rebuilt at the inherited PQ shape, all rows coded
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--rebuild", "--index", pqIdx, "--output", s"$dir/pq8",
        "--nlist", "8", "--corpus", emb)) == 0)
    }
    assert(outCap.toString.contains("rebuilt=ivfpq nlist=8 m=4 codebook=16"),
      s"PQ shape must inherit from the prior index:\n$outCap")
    assert(graft.ops.Similarity.loadIvfIndex(spark, s"$dir/pq8")
      .lists.count() == spark.read.parquet(emb).count())
  }

  test("index --search --recall-sample: printed recall equals the library computation") {
    val dir = Files.createTempDirectory("graft_cli_recall")
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val queries = s"$dir/q.parquet"
    spark.read.parquet(emb).filter(col("vec_id") % 50 === 0).write.parquet(queries)
    val idx = s"$dir/ivf_idx"
    val res = s"$dir/res.parquet"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--build", "--input", emb, "--output", idx, "--nlist", "8")) == 0)
      assert(graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", idx,
        "--output", res, "--k", "5", "--nprobe", "2",
        "--recall-sample", "7")) == 0)
    }
    val line = outCap.toString.linesIterator
      .find(_.startsWith("recall_sample=")).getOrElse(
        fail(s"no recall line printed:\n$outCap"))
    // replay the CLI's ground-truth path in the library: the same
    // md5-ordered 7-query sample, brute force over the index's own
    // vectors, recall of the written result
    import graft.ops.Similarity
    val q = spark.read.parquet(queries)
    val sampleIds = q.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(7)
    val sampleQ = q.join(broadcast(sampleIds), Seq("vec_id"))
    val truth = Similarity.loadIvfIndex(spark, idx).lists
      .select(col("neighbor_id").as("vec_id"), col("vec").as("embedding"))
    val exact = Similarity.bruteForceTopK(sampleQ, truth,
      "vec_id", "vec_id", "embedding", k = 5)
    val approx = spark.read.parquet(res).join(
      broadcast(sampleIds.withColumnRenamed("vec_id", "query_id")), Seq("query_id"))
    val r = Similarity.recallAtK(approx, exact)
      .agg(avg(col("recall")), min(col("recall"))).head()
    val expected = f"recall_sample=7 k=5 " +
      f"mean_recall=${r.getDouble(0)}%.4f min_recall=${r.getDouble(1)}%.4f"
    assert(line == expected, s"CLI printed '$line', library says '$expected'")
    // a partial probe on this near-random corpus should actually be
    // measuring something: recall strictly within (0, 1] and the
    // sample bounded by the flag
    assert(r.getDouble(0) > 0.0 && r.getDouble(0) <= 1.0)
    // IVF-PQ recall needs the true vectors: fail fast without --corpus
    val pqIdx = s"$dir/pq_idx"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--build", "--input", emb, "--output", pqIdx,
        "--nlist", "8", "--pq", "4,16")) == 0)
    }
    val err = intercept[graft.errors.ConfigError] {
      Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
        graft.cli.Main.cmdIndex(Array(
          "--search", "--queries", queries, "--index", pqIdx,
          "--output", s"$dir/pq_res.parquet", "--recall-sample", "5"))
      }
    }
    assert(err.getMessage.contains("--corpus"), err.getMessage)
  }

  test("index --search --target-recall: nprobe doubles until the sample hits the target") {
    val dir = Files.createTempDirectory("graft_cli_tune")
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val queries = s"$dir/q.parquet"
    spark.read.parquet(emb).filter(col("vec_id") % 50 === 0).write.parquet(queries)
    val idx = s"$dir/ivf_idx"
    val res = s"$dir/res.parquet"
    val outCap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap)) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--build", "--input", emb, "--output", idx, "--nlist", "8")) == 0)
      // a plain IVF probe at nprobe = nlist ranks exact cosines, so a
      // target of 1.0 is always reachable — the sweep must terminate
      assert(graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", idx,
        "--output", res, "--k", "5",
        "--target-recall", "1.0", "--recall-sample", "7")) == 0)
    }
    val lines = outCap.toString.linesIterator.toSeq
    val tunes = lines.filter(_.startsWith("tune nprobe="))
    assert(tunes.nonEmpty && tunes.head.startsWith("tune nprobe=1 "),
      s"sweep must start at nprobe=1:\n$outCap")
    // doubling sweep: 1, 2, 4, 8 — prefix thereof
    val swept = tunes.map(_.split("[ =]")(2).toInt)
    assert(swept == Seq(1, 2, 4, 8).take(swept.length), s"swept $swept")
    assert(tunes.last.endsWith("mean_recall=1.0000"), s"final tune line: ${tunes.last}")
    val chosen = lines.find(_.startsWith("results=")).get
      .split("nprobe=")(1).split(" ")(0).toInt
    assert(chosen == swept.last, s"final search must run at the chosen nprobe")
    // the written result IS the library search at that nprobe
    val viaLib = graft.ops.Similarity.ivfTopKIndexed(
        spark.read.parquet(queries),
        graft.ops.Similarity.loadIvfIndex(spark, idx),
        "vec_id", "embedding", k = 5, nprobe = chosen)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
    val viaCli = spark.read.parquet(res)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
    assert(viaCli == viaLib)
    // the tuning PERSISTS (r15): tune lines said so, the index meta
    // holds it, and a fresh --search WITHOUT flags inherits it — the
    // sweep is paid once per index, not once per caller
    assert(lines.exists(_.startsWith(s"tuned nprobe=$chosen persisted")),
      s"tuning must announce persistence:\n$outCap")
    assert(graft.ops.Similarity.readIndexMeta(spark, idx)
      .get("default_nprobe").contains(chosen.toString))
    val res2 = s"$dir/res2.parquet"
    val outCap2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap2)) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", idx,
        "--output", res2, "--k", "5")) == 0)
    }
    assert(outCap2.toString.contains(s"nprobe=$chosen from index meta"),
      s"untuned search must inherit the persisted nprobe:\n$outCap2")
    assert(outCap2.toString.contains(s"nprobe=$chosen written="),
      outCap2.toString)
    // an explicit --nprobe still wins over the meta
    val outCap3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCap3)) {
      assert(graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", idx,
        "--output", s"$dir/res3.parquet", "--k", "5", "--nprobe", "2")) == 0)
    }
    assert(outCap3.toString.contains("nprobe=2 written="), outCap3.toString)
    assert(!outCap3.toString.contains("from index meta"), outCap3.toString)
    // --nprobe 0 is rejected at parse time on BOTH paths (it would
    // loop the tuning sweep forever: 0 * 2 == 0 never reaches nlist)
    val npErr = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", idx,
        "--output", s"$dir/nope0.parquet", "--nprobe", "0"))
    }
    assert(npErr.getMessage.contains(">= 1"))
    val err = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdIndex(Array(
        "--search", "--queries", queries, "--index", idx,
        "--output", s"$dir/nope.parquet", "--target-recall", "1.5"))
    }
    assert(err.getMessage.contains("(0, 1]"))
  }

  test("stream command: checkpointed incremental drain through gate and dedup") {
    val dir = Files.createTempDirectory("graft_cli_stream")
    val in = s"$dir/in"
    val out = s"$dir/out"
    val chk = s"$dir/chk"
    def doc(id: Long, text: String) =
      (id, text, new java.sql.Timestamp(1700000000000L + id * 1000L))
    val clean = "the quiet harbor town wakes early with the fishing boats " +
      "and the morning market opens with the fresh catch today"
    val junk = Seq.fill(10)("############").mkString(" ")
    // drop 1: two clean pages + one symbol-spam page
    Seq(doc(1, clean + " one"), doc(2, clean + " two"), doc(3, junk))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(in)
    val args = Array(
      "--input", in, "--output", out, "--checkpoint", chk,
      "--min-quality", "0.3", "--languages", "en",
      "--exact-dedup", "--event-time-col", "ts")
    val cap1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap1)) {
      assert(graft.cli.Main.cmdStream(args) == 0)
    }
    assert(cap1.toString.contains("appended=2"), cap1.toString)
    val r1 = spark.read.parquet(out)
    assert(r1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "gate must pass the clean pages and drop the spam")
    // drop 2 arrives: a clean page, its exact duplicate, more spam.
    // The rerun must drain ONLY the new files (checkpointed offsets),
    // gate the spam, and dedup the twins via the restored state store.
    Seq(doc(4, clean + " four"), doc(5, clean + " four"), doc(6, junk))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(in)
    val cap2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap2)) {
      assert(graft.cli.Main.cmdStream(args) == 0)
    }
    assert(cap2.toString.contains("appended=1"),
      s"rerun must process only the new drop (one gate+dedup survivor):\n$cap2")
    val r2 = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(r2.size == 3 && r2.subsetOf(Set(1L, 2L, 4L, 5L)) &&
      (r2.contains(4L) ^ r2.contains(5L)),
      s"expected 1,2 + exactly one of the twins, got $r2")
    // nothing new → a third run drains zero rows and changes nothing
    val cap3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap3)) {
      assert(graft.cli.Main.cmdStream(args) == 0)
    }
    assert(cap3.toString.contains("appended=0"), cap3.toString)
    assert(spark.read.parquet(out).count() == 3)
    // no transform requested → fail fast, not a silent file copy
    val err = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdStream(Array(
        "--input", in, "--output", s"$dir/out2", "--checkpoint", s"$dir/chk2"))
    }
    assert(err.getMessage.contains("nothing to do"))
  }

  test("stream --fix-mojibake: repaired before the gate, corrupted twin dedups away") {
    val dir = Files.createTempDirectory("graft_cli_stream_mj")
    val in = s"$dir/in"
    val out = s"$dir/out"
    val chk = s"$dir/chk"
    def doc(id: Long, text: String) =
      (id, text, new java.sql.Timestamp(1700000000000L + id * 1000L))
    val clean = "the café by the harbor serves crème brûlée while the " +
      "morning market opens with the fresh catch of the day again"
    val corrupted = new String(
      clean.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")
    Seq(doc(1, clean), doc(2, corrupted))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(in)
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap)) {
      assert(graft.cli.Main.cmdStream(Array(
        "--input", in, "--output", out, "--checkpoint", chk,
        "--min-quality", "0", "--languages", "none",
        "--fix-mojibake", "--exact-dedup", "--event-time-col", "ts")) == 0)
    }
    // repaired text hashes identically -> the streaming dedup keeps one
    assert(cap.toString.contains("appended=1"), cap.toString)
    val rows = spark.read.parquet(out).select("doc_id", "text").collect()
    assert(rows.length == 1 && rows.head.getString(1) == clean,
      s"survivor must carry repaired text: ${rows.toSeq}")
  }

  test("stream --near-dup + --rejects: cross-drain hits flagged, failures quarantined with codes") {
    val dir = Files.createTempDirectory("graft_cli_stream_nd")
    val in = s"$dir/in"
    val out = s"$dir/out"
    val chk = s"$dir/chk"
    val rej = s"$dir/rejects"
    val nd = s"$dir/neardup"
    def doc(id: Long, text: String) =
      (id, text, new java.sql.Timestamp(1700000000000L + id * 1000L))
    val clean = "the quiet harbor town wakes early with the fishing boats " +
      "and the morning market opens with the fresh catch today"
    val other = "a completely different report about storage engines and " +
      "the compaction schedule for the weekly index rebuild tonight"
    val junk = Seq.fill(10)("############").mkString(" ")
    val args = Array(
      "--input", in, "--output", out, "--checkpoint", chk,
      "--min-quality", "0.3", "--languages", "en",
      "--rejects", rej,
      "--near-dup", "--near-dup-out", nd, "--event-time-col", "ts",
      "--near-dup-threshold", "0.5")
    // drain 1: one clean page, one unrelated clean page, one junk page
    Seq(doc(1, clean), doc(2, other), doc(3, junk))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(in)
    val cap1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap1)) {
      assert(graft.cli.Main.cmdStream(args) == 0)
    }
    assert(cap1.toString.contains("appended=2"), cap1.toString)
    assert(cap1.toString.contains("rejected=1"), cap1.toString)
    assert(cap1.toString.contains("neardup_hits=0"),
      s"no prior members yet — nothing to collide with:\n$cap1")
    // the dead letter carries its verdict CODE (which rule failed),
    // not just the row
    val rej1 = spark.read.parquet(rej)
    assert(rej1.count() == 1 &&
      rej1.select("doc_id").as[Long].head() == 3L &&
      rej1.select("hygiene_verdict").as[Int].head() != 0, "verdict-coded reject")
    // drain 2: a byte-identical near-copy of doc 1 arrives in a LATER
    // drop, plus more junk — the hit must be found ACROSS drains (the
    // LSH bucket state lives in the checkpoint), the junk quarantined
    Seq(doc(11, clean), doc(13, junk))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(in)
    val cap2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap2)) {
      assert(graft.cli.Main.cmdStream(args) == 0)
    }
    assert(cap2.toString.contains("appended=1"), cap2.toString)
    assert(cap2.toString.contains("rejected=1"), cap2.toString)
    val hits = spark.read.parquet(nd)
    assert(hits.count() >= 1, s"cross-drain near-dup must be flagged:\n$cap2")
    assert(hits.select("id").as[Long].collect().toSet == Set(11L),
      "only the newcomer reports")
    assert(hits.select("against").as[Long].collect().toSet == Set(1L),
      "hit must name the PRIOR doc from drain 1, not the unrelated page")
    assert(hits.select("best_est").as[Double].collect().forall(_ >= 0.5))
    assert(spark.read.parquet(rej).count() == 2,
      "rerun quarantines only the new junk (checkpointed rejects leg)")
    // the whole lifecycle above ran under the RocksDB state store —
    // the r16 default for stream's stateful legs (bucket state scales
    // past executor heap); pin that the conf actually landed
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"),
      "stream must default to the RocksDB state store")
    // --rejects without a gate is meaningless — fail fast
    val err = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdStream(Array(
        "--input", in, "--output", s"$dir/out2", "--checkpoint", s"$dir/chk2",
        "--near-dup", "--near-dup-out", s"$dir/nd2", "--event-time-col", "ts",
        "--rejects", s"$dir/rej2"))
    }
    assert(err.getMessage.contains("no gate flags"))
    // unknown provider fails fast; --state-store hdfs is accepted (the
    // pre-r16 checkpoint escape hatch)
    val err2 = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdStream(args ++ Array("--state-store", "bogus"))
    }
    assert(err2.getMessage.contains("state-store"))
    val cap3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap3)) {
      assert(graft.cli.Main.cmdStream(
        Array("--input", in, "--output", s"$dir/out3",
          "--checkpoint", s"$dir/chk3", "--min-quality", "0.3",
          "--state-store", "hdfs")) == 0)
    }
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("HDFSBackedStateStoreProvider"))
  }

  test("export --output-format jsonl: one ordered text file per shard, byte-identical re-runs") {
    val dir = Files.createTempDirectory("graft_cli_export_jsonl")
    val in = s"$dir/docs.parquet"
    // one null text to pin explicit-null serialization
    ((1 to 29).map(i => (i.toLong, s"doc number $i")) ++ Seq((30L, null: String)))
      .toDF("doc_id", "text").write.parquet(in)
    val out1 = s"$dir/shards1"
    val out2 = s"$dir/shards2"
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      assert(graft.cli.Main.cmdExport(Array(
        "--input", in, "--output", out1, "--shards", "4",
        "--output-format", "jsonl")) == 0)
      assert(graft.cli.Main.cmdExport(Array(
        "--input", in, "--output", out2, "--shards", "4",
        "--output-format", "jsonl")) == 0)
    }
    def shardFiles(out: String): Seq[java.io.File] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
        .sortBy(_.getName).toSeq
        .map(d => d.listFiles().filter(f =>
          f.getName.startsWith("part-") && !f.getName.endsWith(".crc")) match {
          case Array(one) => one
          case many => fail(s"shard dir ${d.getName} must hold exactly one " +
            s"part file, got ${many.map(_.getName).mkString(", ")}")
        })
    val files1 = shardFiles(out1)
    assert(files1.size == 4, s"4 shard dirs, got ${files1.size}")
    // byte-identical across re-runs, shard by shard
    files1.zip(shardFiles(out2)).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(a.toPath),
        Files.readAllBytes(b.toPath)),
        s"shard files must be byte-identical: $a vs $b")
    }
    // every line is a JSON object with the data columns + global_idx,
    // in ascending global order within the shard; nulls are explicit
    val lines = files1.flatMap(fl =>
      new String(Files.readAllBytes(fl.toPath), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq)
    assert(lines.size == 30)
    assert(lines.forall(l => l.startsWith("{") && l.contains("\"doc_id\":") &&
      l.contains("\"global_idx\":")), lines.take(2).mkString("\n"))
    assert(lines.exists(_.contains("\"text\":null")),
      "the null text row must serialize an explicit null")
    val perShardIdx = files1.map(fl =>
      new String(Files.readAllBytes(fl.toPath), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq
        .map(l => "\"global_idx\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong))
    perShardIdx.foreach(idx => assert(idx == idx.sorted,
      "rows within a shard file must be in global order"))
    assert(perShardIdx.flatten.sorted == (0L until 30L).toSeq)
    // manifest records the format and the per-shard ranges
    val m = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out1, "_manifest.json")))
    assert(m.contains("\"format\":\"jsonl\"") && m.contains("\"rows\":30"), m)
    // unknown formats still fail fast
    val err = intercept[graft.errors.ConfigError] {
      graft.cli.Main.cmdExport(Array(
        "--input", in, "--output", s"$dir/nope", "--shards", "2",
        "--output-format", "csv"))
    }
    assert(err.getMessage.contains("parquet or jsonl"))
  }
}
