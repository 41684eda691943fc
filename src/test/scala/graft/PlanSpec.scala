package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Physical-plan shape assertions — the "is this the plan you'd want
  * at 100 TB" checks: predicate/projection pushdown reaching the
  * parquet scan, broadcasts where a side is known-small, partial
  * aggregation before exchanges, and no accidental cartesian products.
  */
class PlanSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { df.explain("formatted") }
    out.toString
  }

  test("filter + projection push down to the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .select("l_orderkey", "l_extendedprice")
    val f = formatted(li)
    assert(f.contains("PushedFilters:") && f.contains("LessThan(l_shipdate"),
      s"no pushed filter in:\n$f")
    assert(f.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double"),
      s"scan reads more than the projection needs:\n$f")
  }

  test("tf-idf: no Expand, broadcast 1-row total, partial per-doc group limit") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextAnalysis.tfIdfTerms(docs, k = 3))
    // (doc, term) counts + a second agg over the same grain — the
    // count+countDistinct single-aggregate form would Expand (2x) the
    // exploded token stream before partial aggregation
    assert(!plan.contains("Expand"), s"no distinct-expand expected:\n$plan")
    // corpus size rides a broadcast 1-row cross join, never a driver
    // action or a shuffled scalar
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row total must broadcast:\n$plan")
    // per-document top-k caps each task's contribution BEFORE the
    // exchange (partial WindowGroupLimit below, final above)
    assert("WindowGroupLimit".r.findAllIn(plan).length == 2,
      s"partial + final group limits expected:\n$plan")
  }

  test("brute-force topk broadcasts the query side, never the corpus") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = planOf(Similarity.bruteForceTopK(
      e.filter(col("vec_id") % 50 === 0), e, "vec_id", "vec_id", "embedding", 3))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), "unbroadcast cartesian product")
  }

  test("exact dedup partially aggregates before the exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Dedup.exactGroups(docs, "text", "doc_id"))
    // partial HashAggregate -> Exchange -> final HashAggregate: the
    // map-side combine that keeps shuffle volume ~ distinct keys
    val firstExchange = plan.indexOf("Exchange")
    val firstAgg = plan.indexOf("HashAggregate")
    assert(firstAgg >= 0 && firstExchange >= 0)
    assert(plan.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"missing partial aggregation:\n$plan")
  }

  test("span dedup: hash-keyed joins only, winner agg partially aggregates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Dedup.spanDedup(docs))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span dedup must join on span hash / id, never all pairs:\n$plan")
    // the winner groupBy(__h) must map-side combine: only
    // (hash, min-struct, count) rows cross the wire, not raw spans
    assert(plan.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2 ||
      plan.contains("ObjectHashAggregate"),
      s"missing partial aggregation in span winner agg:\n$plan")
  }

  test("union as-of join plans one shuffle per side into the window, no join explosion") {
    val ev = SparkEntry.events(spark, sf)
    val spine = ev.filter(col("event_id") % 20 === 0).select(
      col("event_id").as(graft.operators.AsOfJoin.RowIdCol),
      col("user_id"), col("ts").as("label_time"))
    val spec = graft.operators.AsOfJoin.Spec(Seq("user_id"), "label_time")
    val right = graft.operators.AsOfJoin.Right(ev, Seq("user_id"), "ts", Seq("value"))
    val plan = planOf(graft.operators.AsOfJoin.join(spine, Seq(right), spec,
      graft.operators.AsOfJoin.Strategy.UnionAsOf))
    assert(plan.contains("Window"), "carry-forward window missing")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"union as-of must not contain a join operator at all:\n$plan")
  }

  test("default build orders every carry window by (time, tag) alone") {
    // two features, one embargoed, under Auto with no tie breakers: they
    // differ only in embargo, so they share ONE carry, and its sort must
    // stay exactly two keys (tie breakers add keys only when a right side
    // declares them)
    val ev = SparkEntry.events(spark, sf)
    val labels = graft.model.Labels.frame(
      ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("label_time"), col("value").as("label_value")),
      Seq("user_id"), "label_time", Seq("label_value"))
    val src = graft.model.Source.frame("events", ev, Seq("user_id"), "ts")
    val feats = Seq(
      graft.model.Feature("f_val", src, graft.model.ColumnsMode(Map("value" -> "value"))),
      graft.model.Feature("f_type", src,
        graft.model.ColumnsMode(Map("event_type" -> "event_type")),
        embargo = java.time.Duration.ofDays(1)))
    val df = graft.engine.Build(spark, labels, feats, graft.engine.BuildOptions(
      checkDuplicates = false)).df
    import org.apache.spark.sql.catalyst.expressions.aggregate.Last
    // the analyzed plan: the build caches its assembled frame, and the
    // optimized plan shows only the cache relation in its place
    val carries = df.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.windowExpressions.exists(_.find(_.isInstanceOf[Last]).isDefined) => w
    }
    assert(carries.size == 1, s"one carry window expected:\n${df.queryExecution.analyzed}")
    carries.foreach(w => assert(w.orderSpec.size == 2, s"carry window orders by ${w.orderSpec}"))
  }

  test("a two-source build with mixed embargo and staleness plans one carry and no rowid join") {
    // different sources, bounds and embargoes: one batch, so the write
    // query holds one carry Window and no join back on the label rowid;
    // the sorted output's stats ride that write, so no other query runs
    val ev = SparkEntry.events(spark, sf)
    val labelsDf = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts").as("label_time"), col("value").as("label_value"))
    val feats = Seq(
      graft.model.Feature("f_val",
        graft.model.Source.frame("ev_a", ev, Seq("user_id"), "ts"),
        graft.model.ColumnsMode(Map("value" -> "value"))),
      graft.model.Feature("f_type",
        graft.model.Source.frame("ev_b", ev, Seq("user_id"), "ts"),
        graft.model.ColumnsMode(Map("event_type" -> "event_type")),
        embargo = java.time.Duration.ofDays(1),
        maxStaleness = Some(java.time.Duration.ofDays(30))))
    val out = java.nio.file.Files.createTempDirectory("graft_one_carry").toString + "/t.parquet"
    val (r, queries) = queriesOf(graft.engine.Build(spark, graft.model.Labels.frame(labelsDf,
      Seq("user_id"), "label_time", Seq("label_value")), feats,
      graft.engine.BuildOptions(checkDuplicates = false, output = Some(out))))
    assert(r.auditPassed && r.features.forall(_.matched > 0))
    import org.apache.spark.sql.catalyst.plans.logical
    val aggQueries = queries.filter(_.analyzed.find(_.isInstanceOf[logical.Aggregate]).isDefined)
    assert(aggQueries.isEmpty, s"no aggregation query expected:\n${aggQueries.map(_.analyzed)}")
    assert(queries.size == 1, s"the write alone expected, got ${queries.map(_.analyzed)}")
    val write = queries.head
    import org.apache.spark.sql.catalyst.expressions.aggregate.Last
    val carries = write.analyzed.collect {
      case w: logical.Window if w.windowExpressions.exists(_.find(_.isInstanceOf[Last]).isDefined) => w
    }
    assert(carries.size == 1, s"one carry window expected:\n${write.analyzed}")
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case other                    => other +: other.children.flatMap(nodes)
    }
    val physical = nodes(write.executedPlan)
    assert(physical.exists(_.isInstanceOf[window.WindowExec]), physical.mkString("\n"))
    val rowidJoins = physical.collect {
      case j: joins.SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == graft.operators.AsOfJoin.RowIdCol)) => j
    }
    assert(rowidJoins.isEmpty, s"rowid re-join planned:\n${write.executedPlan}")
  }

  test("rebuild audit of two join-compatible features plans one carry window") {
    // two sources, same join parameters: the rebuild joins them as ONE
    // batch, exactly like the build, so the aggregation query's plan holds
    // a single carry Window (one per feature when rebuild joined alone)
    val ev = SparkEntry.events(spark, sf)
    val labelsDf = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts").as("label_time"), col("value").as("label_value"))
    val feats = Seq(
      graft.model.Feature("f_val",
        graft.model.Source.frame("ev_a", ev, Seq("user_id"), "ts"),
        graft.model.ColumnsMode(Map("value" -> "value")), onDuplicate = graft.model.OnDuplicate.KeepAny),
      graft.model.Feature("f_type",
        graft.model.Source.frame("ev_b", ev, Seq("user_id"), "ts"),
        graft.model.ColumnsMode(Map("event_type" -> "event_type")),
        onDuplicate = graft.model.OnDuplicate.KeepAny))
    val opts = graft.engine.BuildOptions()
    // audit the written parquet: the dataset's own lineage adds no window
    val out = java.nio.file.Files.createTempDirectory("graft_rebuild_plan").toString + "/t.parquet"
    graft.engine.Build(spark, graft.model.Labels.frame(labelsDf,
      Seq("user_id"), "label_time", Seq("label_value")), feats, opts.copy(output = Some(out)))
    val built = spark.read.parquet(out)
    val (_, queries) = queriesOf(
      graft.engine.Audit.rebuild(spark, built, feats, Seq("user_id"), "label_time", opts))
    import org.apache.spark.sql.catalyst.expressions.aggregate.Last
    val aggQueries = queries.map(_.analyzed).filter(_.find(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]).isDefined)
    assert(aggQueries.size == 1, s"one aggregation query expected, got ${aggQueries.size}")
    val carries = aggQueries.head.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.windowExpressions.exists(_.find(_.isInstanceOf[Last]).isDefined) => w
    }
    assert(carries.size == 1, s"one carry window expected:\n${aggQueries.head}")
  }

  test("text analysis is a single scan-side pass (no shuffles)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextAnalysis.analyze(docs))
    assert(!plan.contains("Exchange"), s"text analysis should not shuffle:\n$plan")
    // note: the higher-order-function expressions (filter/transform
    // lambdas) are interpreted, not codegen'd — Spark limitation; the
    // pass is still one projection over the columnar scan
  }

  test("quality filters are scan-side; url dedup partially aggregates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // gopher + c4 signals: pure projections, zero exchange — at 100 TB
    // these must run at parquet-scan speed like TextAnalysis.analyze
    val gopher = planOf(graft.ops.QualityFilters.gopherSignals(docs))
    assert(!gopher.contains("Exchange"), s"gopher signals should not shuffle:\n$gopher")
    // since the TextStats kernels, the whole signal projection stays in
    // whole-stage codegen (HOF lambdas would evict it)
    assert(gopher.contains("*(1) Project"), s"gopher fell out of codegen:\n$gopher")
    assert(!gopher.contains("lambdafunction"), s"HOF leaked back into gopher:\n$gopher")
    val c4 = planOf(graft.ops.QualityFilters.c4Signals(docs))
    assert(!c4.contains("Exchange"), s"c4 signals should not shuffle:\n$c4")
    assert(c4.contains("*(1) Project"), s"c4 fell out of codegen:\n$c4")
    assert(!c4.contains("lambdafunction"), s"HOF leaked back into c4:\n$c4")
    // dedupByUrl: one map-side-combined shuffle, same shape as exactGroups
    val withUrl = docs.withColumn("url",
      concat(lit("https://example.com/"), col("doc_id") % 50))
    val dedup = planOf(graft.ops.QualityFilters.dedupByUrl(withUrl, "url", "doc_id"))
    assert(dedup.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"url dedup missing partial aggregation:\n$dedup")
  }

  test("hygiene verdict is ONE codegen'd kernel call: scan-side filter and tiny agg") {
    import graft.ops.QualityFilters
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val verdict = QualityFilters.hygieneVerdict(col("text"),
      c4 = Some((3, 5)), gopher = Some(QualityFilters.GopherConfig()),
      repetition = Some(QualityFilters.RepetitionConfig()),
      minQuality = 0.3, languages = Seq("en"))
    val filtered = planOf(docs.filter(verdict === 0))
    assert(!filtered.contains("Exchange"), s"verdict filter should not shuffle:\n$filtered")
    assert(filtered.contains("*(1)"), s"verdict filter fell out of codegen:\n$filtered")
    // ONE kernel expression in the Filter — the duplication this kernel
    // exists to kill would reappear as repeated calls. (The FileScan
    // node ECHOES the filter in its DataFilters description, so the
    // plan string legitimately shows the name twice.)
    assert(filtered.sliding("hygiene_verdict".length)
      .count(_ == "hygiene_verdict") <= 2,
      s"verdict kernel duplicated:\n$filtered")
    // the curate ledger shape: groupBy(verdict).count partially
    // aggregates map-side (the exchange carries <= 7 rows per task)
    val ledger = planOf(docs.groupBy(verdict.as("__v")).count())
    assert(ledger.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"verdict ledger missing partial aggregation:\n$ledger")
  }

  test("minhash signature kernel: one expression, no HOF, codegen survives") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = planOf(Dedup.signatures(docs, "doc_id", "text", k = 60, n = 3,
      hasher = Dedup.xxHash))
    assert(!sigs.contains("lambdafunction"), s"HOF leaked into signatures:\n$sigs")
    assert(sigs.contains("*(1)"), s"signature projection fell out of codegen:\n$sigs")
    assert(sigs.sliding("minhash_sig".length).count(_ == "minhash_sig") == 1,
      s"signature kernel duplicated:\n$sigs")
  }

  test("semdedup clusters broadcast the centroids and pair-join on list_id") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = planOf(Similarity.semDedupPairs(emb, "vec_id", "embedding",
      threshold = 0.4, nlist = 8))
    // centroid assignment: broadcast nested loop against the tiny
    // centroid frame is fine; a non-broadcast cartesian is not
    assert(plan.contains("Broadcast"), s"centroids not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian pair join:\n$plan")
    // the quadratic compare is keyed on the cluster id
    assert(plan.contains("list_id"), s"pair join not keyed on list_id:\n$plan")
  }

  test("approx quality bucketing plans no single-partition window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scored = graft.ops.QualityFilters.unigramLogProbs(docs)
    // exact path: documented deliberate bottleneck — a global ntile
    // window with no partition spec (single partition past ~1e9 docs)
    val exact = planOf(graft.ops.QualityFilters.qualityBuckets(scored))
    assert(exact.contains("Window"), s"exact path should rank via window:\n$exact")
    // scale path: approxQuantile sketch + scan-side comparison — the
    // bucket assignment must contain NO window at all (the only
    // acceptable plan at 100 TB)
    val approx = planOf(graft.ops.QualityFilters.qualityBucketsApprox(scored))
    assert(!approx.contains("Window"),
      s"approx bucketing must not plan a window:\n$approx")
  }

  test("ivf topk broadcasts centroids; no cartesian product") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = planOf(Similarity.ivfTopK(
      e.filter(col("vec_id") % 50 === 0), e, "vec_id", "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 2))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"centroids not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }

  test("bucketed near-dup default joins on LSH buckets, not all pairs") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = planOf(Similarity.cosineNearDupPairsLsh(
      e, "vec_id", "embedding", threshold = 0.4, dim = 64))
    // the default must join on the exploded bucket keys — an all-pairs
    // plan would show a cartesian/bnl join on a constant key
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the default path:\n$plan")
    assert(plan.contains("Generate explode"), s"no bucket explode:\n$plan")
  }

  test("image near-dup pairs join on banded hash buckets, not all pairs") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.{col, xxhash64}
    // signature frame shape only (no decode needed to pin the plan):
    // hammingPairs64 must explode 4 band structs and join on
    // (band, bits) — an all-pairs plan would show a cartesian/BNL join
    val sigs = spark.range(1000)
      .select(col("id").as("media_id"), xxhash64(col("id")).as("dhash"))
    val plan = planOf(Dedup.hammingPairs64(sigs, "media_id", "dhash",
      maxHamming = 2, bands = 4))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the image near-dup path:\n$plan")
    assert(plan.contains("Generate explode"), s"no band explode:\n$plan")
    // the incremental store path must also stay banded: batch and
    // store join only on (band, bits), never all-pairs
    val store = spark.range(500)
      .select((col("id") + 10000).as("media_id"), xxhash64(col("id") * 7).as("dhash"))
    val incPlan = planOf(Dedup.incrementalHammingDedup(
      sigs, store, "media_id", "dhash", maxHamming = 2, bands = 4))
    assert(!incPlan.contains("CartesianProduct") &&
      !incPlan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the incremental hash-dedup path:\n$incPlan")
  }

  test("hyperplane signature plan is O(planes) nodes at production dims") {
    // dim=1024 x planes=16: the per-element lit() form would be >16k
    // Literal nodes before analysis even starts; typedLit keeps each
    // plane ONE array literal.
    val df = spark.range(8).withColumn("emb",
      transform(sequence(lit(0), lit(1023)), j => (j * 37 % 101).cast("double")))
    val sig = df.select(col("id"),
      Similarity.hyperplaneSignature(col("emb"), dim = 1024, planes = 16).as("sig"))
    val nodes = sig.queryExecution.analyzed.expressions
      .map(e => e.collect { case x => x }.size).sum
    assert(nodes < 2000, s"expression node count $nodes — plan-size blowup regressed")
    val rows = sig.collect()
    assert(rows.length == 8)
    rows.foreach(r => assert(r.getString(1).matches("[01]{16}")))
  }

  test("minhash estimation reuses the cached signature frame") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Dedup.minhashJaccardPairs(docs, "doc_id", "text",
      k = 8, bands = 4, threshold = 0.3))
    // bucketing + both sides of the estimation join must read the SAME
    // materialized signatures, not recompute the k x |shingles| hashes
    val scans = plan.sliding("InMemoryTableScan".length)
      .count(_ == "InMemoryTableScan")
    assert(scans >= 3, s"signature frame not shared (got $scans cache scans):\n$plan")
  }

  test("simhash custom expression participates in whole-stage codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = docs.select(graft.functions.SimHash.simhash64(
      split(col("text"), "\\s+")).as("h"))
    val plan = planOf(df)
    // '*(n)' prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project") && plan.contains("simhash64"),
      s"fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange"))
  }

  test("lang-id profile kernel stays in whole-stage codegen: scan-side, no exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.langIdProfiles(col("text")).as("lang"))
    val plan = planOf(df)
    assert(plan.contains("*(1) Project") && plan.contains("lang_id_profiles"),
      s"fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"lang-id must be pure scan-side map work:\n$plan")
  }

  test("mojibake repair stays in whole-stage codegen: scan-side, no exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // two passes = 234 chained StringReplaces — must still land in
    // ONE codegen'd projection (Spark splits oversized generated
    // methods internally), never an interpreted fallback or a shuffle
    val df = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.fixMojibake(col("text"), passes = 2).as("fixed"),
      graft.ops.TextAnalysis.mojibakeChars(col("text"), passes = 2).as("n"))
    val plan = planOf(df)
    assert(plan.contains("*(1) Project") && plan.contains("replace"),
      s"fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"mojibake repair must be pure scan-side map work:\n$plan")
  }

  test("readability is one scan-side projection: no exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val r = graft.ops.TextAnalysis.readabilityStats(col("text"))
    val df = docs.select(col("doc_id"),
      r.getField("flesch").as("flesch"),
      r.getField("fk_grade").as("fk"))
    val plan = planOf(df)
    // higher-order array functions don't codegen, but the plan must
    // still be a single Project over the scan — nothing distributed
    assert(plan.contains("Project") && !plan.contains("Exchange") &&
      !plan.contains("Join") && !plan.contains("Aggregate"),
      s"readability must be pure scan-side map work:\n$plan")
  }

  test("script detection is one scan-side projection: no exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.detectScript(col("text")).as("script"))
    val plan = planOf(df)
    assert(plan.contains("Project") && !plan.contains("Exchange") &&
      !plan.contains("Join") && !plan.contains("Aggregate"),
      s"script detection must be pure scan-side map work:\n$plan")
  }

  test("zipf stats: top-k is TakeOrdered, totals ride a broadcast join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextAnalysis.zipfStats(docs, k = 100))
    // the rank-frequency cut is a TakeOrdered — the token counts are
    // never globally sorted (the 100 TB killer for a vocab-wide sort)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k tokens must plan as TakeOrderedAndProject:\n$plan")
    // the 1-row totals × 1-row fit join must be a broadcast, and the
    // only post-limit window runs over k rows in a single partition
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row frames must join via broadcast:\n$plan")
    // the totals and top-k branches both consume the token wordcount:
    // under AQE the second branch must REUSE the shuffle stage, so the
    // corpus is scanned and shuffled ONCE (the static plan prints the
    // exchange twice; the executed plan must not run it twice)
    val df = graft.ops.TextAnalysis.zipfStats(docs, k = 100)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"wordcount shuffle must be reused across branches:\n$executed")
  }

  test("ngram repetition kernel stays in whole-stage codegen, one expr for all ns") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.QualityFilters.repetitionSignals(docs.select("doc_id", "text"))
    val plan = planOf(df)
    assert(plan.contains("*(1) Project") && plan.contains("ngram_repetition"),
      s"fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange"))
    // the one-pass kernel: a single ngram_repetition call site feeds all
    // nine fraction columns (subexpression elimination applies in the
    // generated stage; the analyzed plan must not fan out per n)
    assert(!plan.contains("array_sort"), s"interpreted sorted folds leaked back:\n$plan")
  }

  test("bigram LM scoring broadcasts the model; corpus aggregates map-side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val model = graft.ops.QualityFilters.bigramModel(docs)
    val plan = planOf(graft.ops.QualityFilters.bigramLogProbs(
      docs, model = Some(model)))
    // every model-sized frame (vocab x2, bigram counts, context totals,
    // 1-row V) reaches the corpus stream via broadcast
    assert("BroadcastExchange".r.findAllIn(plan).size >= 4,
      s"model frames not broadcast:\n$plan")
    // the corpus stream itself: scan -> pairs -> joins -> partial agg;
    // its only shuffle is the final per-doc aggregation exchange
    val partial = plan.indexOf("HashAggregate(keys=[doc_id")
    assert(partial >= 0, s"no per-doc hash aggregate:\n$plan")
    assert(plan.contains("partial_count"), s"per-doc agg not map-side combined:\n$plan")
  }

  test("decontamination broadcasts the eval shingles; train is never shuffled") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Dedup.contaminatedIds(
      docs.filter(col("doc_id") % 17 =!= 0), docs.filter(col("doc_id") % 17 === 0),
      "doc_id", "text", n = 4))
    assert(plan.contains("BroadcastExchange"), s"eval side not broadcast:\n$plan")
    // the only shuffle is the final distinct over contaminated ids —
    // the train shingle stream itself must not be exchange-partitioned
    // before the semi join
    val semiIdx = plan.indexOf("BroadcastHashJoin")
    assert(semiIdx >= 0, s"no broadcast semi join:\n$plan")
  }

  test("pq ADC search fuses to one code scan: no join, no code shuffle") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = Similarity.trainPq(e, "vec_id", "embedding",
      m = 4, codebookSize = 8)
    val plan = planOf(Similarity.pqTopK(
      e.filter(col("vec_id") % 50 === 0),
      Similarity.pqEncode(e, "embedding", model),
      "vec_id", "embedding", "vec_id", k = 5, model))
    // r17: the PqAdcTopK kernel scores every collected query inside
    // ONE aggregate over the code scan — the broadcast-nested-loop
    // join (Q joined rows per corpus code of pure row machinery) is
    // gone, and only the k-bounded heap buffers cross the single
    // exchange
    assert(plan.contains("pq_adc_topk"),
      s"fused ADC aggregate expected:\n$plan")
    assert(!plan.contains("Join"), s"no join in the fused ADC scan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus codes must never hash-exchange:\n$plan")
    // the generic fallback (non-long ids) keeps the broadcast join
    // shape: query side broadcast, codes never exchanged below it
    val s = Similarity.pqEncode(e, "embedding", model)
      .withColumn("vec_id", col("vec_id").cast("string"))
    val fb = planOf(Similarity.pqTopK(
      e.filter(col("vec_id") % 50 === 0)
        .withColumn("vec_id", col("vec_id").cast("string")),
      s, "vec_id", "embedding", "vec_id", k = 5, model))
    assert(fb.contains("BroadcastNestedLoopJoin") ||
      fb.contains("BroadcastExchange"),
      s"fallback query side must broadcast:\n$fb")
  }

  test("packStats reuses the assignment partitioning; topNgrams plans TakeOrdered") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val stats = graft.ops.Sampling.packStats(
      graft.ops.Sampling.packSequences(docs, "doc_id", "text",
        tokenBudget = 2000, groups = 8), seqLen = 512)
    val statsPlan = planOf(stats)
    // the (pack_group, pack_id) aggregation is satisfied by the
    // window's hashpartitioning(pack_group): ONE exchange total
    assert("Exchange hashpartitioning".r.findAllIn(statsPlan).size == 1,
      s"packStats must reuse the assignment exchange:\n$statsPlan")
    val top = graft.ops.TextAnalysis.topNgrams(docs, n = 3, k = 25,
      idCol = Some("doc_id"))
    val topPlan = planOf(top)
    assert(topPlan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered, not a global sort:\n$topPlan")
    assert(topPlan.contains("partial_count") || topPlan.contains("HashAggregate"),
      s"occurrence counts must partially aggregate:\n$topPlan")
  }

  test("bloom incremental dedup: store side scans without an exchange; probe is codegen'd") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // cached: the store feeds both the bloom build and the exact check
    val store = Dedup.fingerprintStore(docs.filter(col("doc_id") % 3 === 0)).cache()
    val out = Dedup.incrementalDedupBloom(
      docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text"), store)
    val plan = planOf(out)
    // the exact check must reach the store as a BROADCAST semi join —
    // the whole point is that history never hash-partitions
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast semi join:\n$plan")
    assert(plan.contains("might_contain"),
      s"bloom probe missing from the plan:\n$plan")
    // the bloom probe itself must ride a codegen'd filter, not a UDF
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"bloom probe fell out of codegen:\n$plan")
  }

  test("bloom decontamination: train shingles filter scan-side before the only semi join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Dedup.contaminatedIdsBloom(
      docs.filter(col("doc_id") % 17 =!= 0), docs.filter(col("doc_id") % 17 === 0),
      "doc_id", "text", n = 4, expectedShingles = Some(100000L))
    val plan = planOf(out)
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    // the bloom filter must sit BELOW the semi join on the train side
    // (whatever join strategy the planner picks): the generate+filter
    // chain runs scan-side, so the exchange feeding the join carries
    // suspects only, never the raw shingle stream
    val joinIdx = plan.indexOf("Join")
    val probeIdx = plan.lastIndexOf("might_contain")
    assert(joinIdx >= 0, s"no semi join in the plan:\n$plan")
    assert(probeIdx > joinIdx,
      s"bloom probe is not below the join on the train side:\n$plan")
  }

  test("loaded ivf index probes prune list partitions dynamically") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = graft.ops.Similarity.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_dpp").toString
    graft.ops.Similarity.saveIvfIndex(idx, dir)
    val loaded = graft.ops.Similarity.loadIvfIndex(spark, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
    val plan = planOf(graft.ops.Similarity.ivfTopKIndexed(
      q, loaded, "vec_id", "embedding", k = 3, nprobe = 2))
    // the probe joins the broadcast query-to-list frame against the
    // partition column of the partitionBy(list_id) layout — Spark must
    // plan a dynamic partition pruning filter on the lists scan, so a
    // 100 TB index reads only the probed lists' directories
    assert(plan.contains("dynamicpruning"),
      s"lists scan should carry a dynamic pruning filter:\n$plan")
  }

  test("best-k per stratum: Catalyst plans a partial WindowGroupLimit before the exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.Sampling.bestKPerStratum(
      docs, "source", "n_chars", 5, "doc_id"))
    // the skew story: the rank<=k filter must plan a PARTIAL
    // WindowGroupLimit below the exchange — each input task ships at
    // most k rows per stratum, so a hot domain cannot funnel its whole
    // membership through one task's sort. One exchange total.
    val idx = plan.indexOf("WindowGroupLimit")
    val exch = plan.indexOf("Exchange hashpartitioning")
    assert(idx >= 0, s"no WindowGroupLimit in:\n$plan")
    assert(exch >= 0, s"no exchange in:\n$plan")
    assert("WindowGroupLimit".r.findAllIn(plan).length == 2,
      s"expected partial + final group limits:\n$plan")
    // plan prints top-down: the PARTIAL instance is the one BELOW the
    // exchange, i.e. appears after it in the string
    assert(plan.lastIndexOf("WindowGroupLimit") > exch,
      s"partial group limit must sit below the exchange:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"one exchange total:\n$plan")
  }

  test("loaded ivf-pq probe prunes code partitions and reads codes, not vectors") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = graft.ops.Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
      nlist = 8, m = 4, codebookSize = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_dpp").toString
    graft.ops.Similarity.saveIvfIndex(idx, dir)
    val loaded = graft.ops.Similarity.loadIvfIndex(spark, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
    val df = graft.ops.Similarity.ivfTopKIndexed(q, loaded, "vec_id", "embedding",
      k = 3, nprobe = 2)
    // like the plain IVF index: the broadcast probe frame joins the
    // partition column, so unprobed list directories are skipped by a
    // dynamic pruning filter at scan time
    val plan = planOf(df)
    assert(plan.contains("dynamicpruning"),
      s"codes scan should carry a dynamic pruning filter:\n$plan")
    // and the pruned scan reads (neighbor_id, pq_code) ONLY — the
    // whole point of IVF-PQ is that the d-float vectors are gone from
    // the search path; a scan block that mentions a double array
    // would mean vectors leaked back in
    val f = formatted(df)
    val codeScans = f.split("\n\n").filter(_.contains("codes.parquet"))
    assert(codeScans.nonEmpty, s"no codes.parquet scan block in:\n$f")
    codeScans.foreach { block =>
      assert(block.contains("pq_code") && !block.contains("array<double>"),
        s"codes scan must read codes, never vectors:\n$block")
    }
    // LUT placement is a plan-time size decision: small duplicated
    // tables ride the probe frame (ONE broadcast join — measured 1.4x
    // faster at the bench shape), big ones get their own one-row-per-
    // query broadcast so the bytes never multiply by nprobe (the r13
    // ADVICE finding). This 4KB/query shape must take the inline path:
    assert(plan.contains("__lut"), s"inline LUT expected at this shape:\n$plan")
    // forcing the split (threshold 0): the probe frame must NOT carry
    // the LUT — it rides a separate query-keyed broadcast
    val split = planOf(graft.ops.Similarity.ivfSearch(q, loaded,
      "vec_id", "embedding", k = 3, nprobe = 2, lutSplitBytes = 0L))
    val fs = formatted(graft.ops.Similarity.ivfSearch(q, loaded,
      "vec_id", "embedding", k = 3, nprobe = 2, lutSplitBytes = 0L))
    val probeBcasts = fs.split("\n\n").filter(b =>
      b.contains("Output") && b.contains("__qc") && b.contains("list_id"))
    assert(probeBcasts.nonEmpty, s"no probe-frame block found in:\n$fs")
    probeBcasts.foreach { b =>
      assert(!b.contains("__lut"),
        s"split probe frame must not carry the LUT:\n$b")
    }
    assert(split.contains("__lut"), "the split plan still scores via the LUT")
  }

  test("ivf append assignment is scan-side: no exchange") {
    // appending a recurring drop must cost ONE batch-sized scan — the
    // centroids ride the plan as literals (TopCentroids kernel) and
    // the assignment must not exchange the embedding payload; at
    // 100 TB of history an accidental re-cluster or shuffle is the
    // scale-killer the append path exists to avoid
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = e.filter(col("vec_id") % 3 > 0)
    val idx = graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding", nlist = 8)
    val appended = graft.ops.Similarity.appendToIvfIndex(
      idx, e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
    // the appended lists = base assignment UNION batch assignment;
    // neither side may plan an Exchange
    val plan = planOf(appended.lists)
    assert(!plan.contains("Exchange"),
      s"append assignment should not shuffle:\n$plan")
  }

  test("min-frame video signature is a single partition pass: no exchange") {
    // the per-video min over frame hashes folds inside the decode
    // iterator — an aggregation shuffle of (media_id, fhash) pairs
    // would re-exchange one row per FRAME at corpus scale
    val plan = planOf(graft.ops.Multimodal.videoMinFrameDHashes(
      graft.ops.Multimodal.syntheticGridVideos(spark, 10)))
    assert(!plan.contains("Exchange"),
      s"min-frame signature should not shuffle:\n$plan")
  }

  test("multimodal decode is a single partition pass: no exchange by default") {
    // decode + feature-extract must stream through mapPartitions with
    // no shuffle — at 100 TB of media an accidental exchange of the
    // binary payload column is the scale-killer. The only exchange
    // allowed is the EXPLICIT repartitionTo sizing knob.
    val media = graft.ops.Multimodal.syntheticMedia(spark, 50)
    val img = planOf(graft.ops.Multimodal.imageFeatures(media).toDF())
    assert(!img.contains("Exchange"), s"image decode should not shuffle:\n$img")
    val aud = planOf(graft.ops.Multimodal.audioFeatures(media).toDF())
    assert(!aud.contains("Exchange"), s"audio decode should not shuffle:\n$aud")
    val vid = planOf(graft.ops.Multimodal.videoFrameFeatures(
      graft.ops.Multimodal.syntheticVideos(spark, 10)).toDF())
    assert(!vid.contains("Exchange"), s"video decode should not shuffle:\n$vid")
    val sized = planOf(graft.ops.Multimodal.imageFeatures(
      media, repartitionTo = Some(7)).toDF())
    assert(sized.contains("Exchange"), "repartitionTo must actually repartition")
  }

  test("sequence packing: one group-keyed exchange, one window, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val plan = planOf(graft.ops.Sampling.packSequences(
      docs, "doc_id", "text", tokenBudget = 2000, groups = 8))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"packing must shuffle exactly once, on the group key:\n$plan")
    assert("Window".r.findAllIn(plan).size >= 1 && !plan.contains("Join"),
      s"packing is one windowed pass, no join:\n$plan")
    // identical window expressions (running sum referenced thrice)
    // collapse into ONE Window operator
    assert("\\bWindow\\b".r.findAllIn(plan).size <= 2, s"window fan-out:\n$plan")
  }

  test("boilerplate strip explodes and fingerprints the corpus text once") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tracked = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
    val stripped = graft.util.Caching.tracking(tracked += _) {
      Dedup.stripBoilerplate(docs, "doc_id", "text", maxDocFreq = 5)
    }
    // the (id, pos, fingerprint) frame is cached and feeds BOTH the
    // frequency aggregation and the removal probe — so the outer
    // logical plan reads the InMemoryRelation twice (a LEAF: its
    // cached build plan is not a child) and contains NO Generate of
    // its own: the posexplode (the full corpus-text read) runs once,
    // inside the shared cached frame. r10 re-exploded per consumer.
    val opt = stripped.queryExecution.optimizedPlan
    val imrs = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(imrs.size == 2,
      s"both consumers must read the shared cached line frame:\n$opt")
    assert(gens.isEmpty,
      s"corpus text must explode only inside the shared cached frame:\n$opt")
    assert(tracked.nonEmpty, "stripBoilerplate must register its cache with the tracker")
    tracked.foreach(_.unpersist())
  }

  test("exactsubstr dedup: hash-keyed shuffles only, text never in the window aggs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Dedup.exactSubstrDedup(docs, "doc_id", "text", k = 20))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"exactsubstr must join on window hash / id, never all pairs:\n$plan")
    // winner groupBy(__h) and removed groupBy(id) both map-side combine
    assert(plan.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 4 ||
      plan.contains("ObjectHashAggregate"),
      s"missing partial aggregation in exactsubstr aggs:\n$plan")
  }

  test("pack chunking reuses the assignment partitioning: ONE exchange total, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val assigned = graft.ops.Sampling.packSequences(
      docs, "doc_id", "text", tokenBudget = 2000, groups = 8)
    val plan = planOf(graft.ops.Sampling.chunkPacks(
      assigned, "doc_id", "text", seqLen = 512))
    // the assignment window partitions by the pack_group COLUMN, so
    // hashpartitioning(pack_group) satisfies the chunking window's
    // (pack_group, pack_id) clustering AND the per-chunk reassembly
    // aggregation: the whole chain shuffles the corpus ONCE (improved
    // from two exchanges when the window keyed on the raw pmod
    // expression, which downstream consumers could not match)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"assignment + chunking must shuffle exactly once total:\n$plan")
    assert(!plan.contains("Join"), s"chunking joins nothing:\n$plan")
  }

  test("within-doc line dedup is one scan-side codegen kernel: no exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val df = graft.ops.Dedup.dedupLinesInDoc(docs, "text")
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"per-document line dedup must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"line dedup joins nothing:\n$plan")
    assert(plan.contains("dedup_lines"),
      s"the LineDedup kernel must appear in the projection:\n$plan")
    // the kernel codegens: the rewrite projection carries the `*(n)`
    // whole-stage-codegen marker (the HOF formulation it replaced was
    // a CodegenFallback and lost it)
    assert("""\*\(\d+\) Project \[.*dedup_lines""".r.findFirstIn(plan).isDefined,
      s"line dedup must stay inside whole-stage codegen:\n$plan")
  }

  test("packToSequences keeps the chunkPacks shape: encode is scan-side, ONE exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val vocab = graft.ops.Tokenizer.train(docs, vocabSize = 300,
      maxWordTypes = 10000)
    val plan = planOf(graft.ops.Tokenizer.packToSequences(
      docs, vocab, seqLen = 128, groups = 4, dropPartial = false))
    // tokenize adds NO exchange of its own (codegen'd scan-side
    // kernel); the packing window's hashpartitioning(pack_group)
    // satisfies the id-chunking window and the reassembly agg too,
    // so the whole train-ready export shuffles the corpus ONCE
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"tokenize + pack + id-chunk must shuffle exactly once total:\n$plan")
    assert(!plan.contains("Join"), s"id chunking joins nothing:\n$plan")
    assert(plan.contains("BpeEncode") || plan.contains("bpe_encode"),
      s"encode kernel must appear in the scan-side projection:\n$plan")
  }

  test("sampling and corpus mixing are scan-side: no exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sampled = planOf(graft.ops.Sampling.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 0.5), default = 0.1))
    assert(!sampled.contains("Exchange") && !sampled.contains("Join"),
      s"stratified sample should be a pure filter:\n$sampled")
    val mixed = planOf(graft.ops.Sampling.mixByWeight(
      docs, "doc_id", "lang", Map("en" -> 2.5), default = 1.0))
    assert(!mixed.contains("Exchange") && !mixed.contains("Join"),
      s"mix should be generate-over-scan, no shuffle:\n$mixed")
    // soft sampling: the per-row probability is scan-side arithmetic
    // over the score expression — still a pure filter, no shuffle
    val soft = planOf(graft.ops.Sampling.softSample(docs, "doc_id",
      graft.ops.TextAnalysis.qualityScore(col("text")), pivot = 0.8))
    assert(!soft.contains("Exchange") && !soft.contains("Join"),
      s"soft sample should be a pure filter:\n$soft")
  }

  test("dsir scoring is scan-side and selection is per-partition top-k") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scored = graft.ops.Dsir.importanceWeights(
      docs, docs.filter(col("source") === "src0"), buckets = 1024)
    // λ rides the plan as a literal: scoring must add no join and no
    // exchange — the corpus payload never shuffles
    val plan = planOf(scored)
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"DSIR scoring must stay scan-side:\n$plan")
    // selection: TakeOrderedAndProject (per-partition top-k + driver
    // merge of k-per-partition), never a global sort exchange
    val sel = planOf(graft.ops.Dsir.resampleTopK(scored, 10))
    assert(sel.contains("TakeOrderedAndProject"),
      s"selection should plan as TakeOrderedAndProject:\n$sel")
    assert(!sel.contains("Exchange"),
      s"selection must not shuffle the corpus:\n$sel")
  }

  test("deterministic shuffle is one range exchange; index never funnels one partition") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val shuffled = planOf(graft.ops.Sampling.shuffleDeterministic(docs, "doc_id"))
    assert(shuffled.contains("rangepartitioning"),
      s"global order should range-partition:\n$shuffled")
    assert(!shuffled.contains("SinglePartition"),
      s"no single-partition funnel in the shuffle:\n$shuffled")
    assert(!shuffled.contains("Window"),
      s"shuffleDeterministic is a sort, not a window:\n$shuffled")
    // the index path: range sort + broadcast offsets join — never a
    // global window (whose sort would collapse to ONE partition)
    val indexed = planOf(graft.ops.Sampling.globalOrderIndex(docs, "doc_id"))
    assert(!indexed.contains("SinglePartition") && !indexed.contains("Window"),
      s"globalOrderIndex must not fall back to a global window:\n$indexed")
    assert(indexed.contains("BroadcastExchange") || indexed.contains("BroadcastHashJoin"),
      s"partition offsets should join broadcast:\n$indexed")
  }

  test("bpe tokenize is a scan-side codegen kernel; training aggregates before its exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vocab = graft.functions.Bpe.learn(Array("the" -> 5L, "thx" -> 3L), 260)
    val tok = planOf(graft.ops.Tokenizer.tokenize(docs, vocab))
    assert(tok.contains("*(1) Project") && tok.contains("bpe_encode"),
      s"encode fell out of codegen:\n$tok")
    assert(!tok.contains("Exchange") && !tok.contains("Join"),
      s"tokenize must not shuffle the corpus:\n$tok")
    // training frequency cut: partial agg before the shuffle, and the
    // top-N arrives via TakeOrdered, not a global sort of all words
    val freq = docs
      .select(explode(graft.functions.Bpe.preTokensOf(col("text"))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__w").asc).limit(1000)
    val fp = planOf(freq)
    val firstEx = fp.indexOf("Exchange")
    assert(firstEx > 0 && fp.substring(0, firstEx).contains("HashAggregate"),
      s"word counts must partially aggregate before the exchange:\n$fp")
    assert(fp.contains("TakeOrderedAndProject"),
      s"the vocab cut must be a top-N, not a global sort:\n$fp")
  }

  test("token-budget mix is scan-side after one bounded aggregate; profile is one agg pass") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // after the driver-side weights collect, the applied mix must be
    // generate-over-scan exactly like mixByWeight
    val mixed = planOf(graft.ops.Sampling.mixByTokenBudget(
      docs, "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.5), tokenBudget = 100000L))
    assert(!mixed.contains("Exchange") && !mixed.contains("Join"),
      s"token-budget mix should be scan-side:\n$mixed")
    // profile: partial HashAggregate before the exchange (map-side
    // combine), and only ONE shuffle round for the rollup + distinct
    val prof = planOf(graft.ops.TextAnalysis.corpusProfile(docs))
    val firstEx = prof.indexOf("Exchange")
    assert(firstEx > 0 && prof.substring(0, firstEx).contains("HashAggregate"),
      s"profile must partially aggregate before the exchange:\n$prof")
    assert(!prof.contains("SinglePartition"),
      s"profile must not collapse to one partition:\n$prof")
  }

  test("tokenDrift: map-side token counts, broadcast totals, top-k never global-sorts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextAnalysis.tokenDrift(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 7 =!= 0), k = 25))
    // token counts combine BEFORE their exchange — only distinct
    // tokens (vocabulary-scale) ever shuffle
    val firstEx = plan.indexOf("Exchange")
    assert(firstEx > 0 && plan.substring(0, firstEx).contains("HashAggregate"),
      s"token counts must partial-aggregate map-side:\n$plan")
    // the 1-row totals attach as a broadcast, never a shuffle or a
    // driver action
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"totals must ride a broadcast cross join:\n$plan")
    // the mover cut is a TakeOrdered — vocab-wide stats are never
    // globally sorted
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k movers must plan as TakeOrderedAndProject:\n$plan")
  }

  test("KMV drift twins: sketches partial-aggregate map-side, nothing gram-keyed shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // approx novelty: each side reduces to ONE k-long sketch — the
    // only exchanges carry partial sketch buffers (single group), and
    // there is no gram-keyed hashpartitioning and no gram-key join
    // (the exact path's two unavoidable costs at 100 TB)
    val nov = planOf(graft.ops.TextAnalysis.ngramNoveltyApprox(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 7 =!= 0), n = 3, k = 256))
    assert(!nov.contains("hashpartitioning(ngram"),
      s"approx novelty must never shuffle on the gram key:\n$nov")
    assert(!nov.contains("SortMergeJoin") && !nov.contains("ShuffledHashJoin"),
      s"approx novelty joins only two 1-row sketch frames:\n$nov")
    val firstAgg = nov.indexOf("ObjectHashAggregate")
    assert(firstAgg > 0, s"KMV must run as an object-buffer aggregate:\n$nov")
    // approx profile: the kmv column rides the SAME single rollup
    // aggregation as the exact profile (partial before the exchange)
    val prof = planOf(graft.ops.TextAnalysis.corpusProfileApprox(docs, k = 64))
    val firstEx = prof.indexOf("Exchange")
    assert(firstEx > 0 &&
      prof.substring(0, firstEx).contains("ObjectHashAggregate"),
      s"approx profile must partially aggregate sketches map-side:\n$prof")
    assert(!prof.contains("SinglePartition"),
      s"approx profile must not collapse to one partition:\n$prof")
  }
}
