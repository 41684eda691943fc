package perfbench

import java.time.Duration

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, count, expr, struct, when}
import org.apache.spark.sql.types._

import graft.Graft
import graft.engine.{Audit, BuildOptions, BuildResult, Diff}
import graft.model.{ColumnsMode, Feature, Labels, Source}
import graft.operators.AsOfJoin
import graft.ops.{Curation, Dedup, QualityFilters}

/** One set of generated inputs plus the closed-loop operation over
  * them. `op` makes the public graft calls (each inside `Span.call`),
  * `observe` pulls out what the check needs (outside the timed region),
  * `check` compares it with the reference and returns the mismatches,
  * and `wrong` gives deliberately corrupted observations the check must
  * reject (the self-test). */
abstract class Prepared[R, O] {
  def op(): R
  def observe(r: R): O
  def check(o: O): Seq[String]
  def wrong(o: O): Seq[(String, O)]
  /** Exact counts taken from the returned result, reported per layer. */
  def counts(r: R): Map[String, Double] = Map.empty
}

abstract class Workload {
  def name: String
  /** Input rows one operation processes, the base of `rows_per_s`. */
  def rowsPerOp: Long
  /** Warm-up operations after the cold one: where op time stopped
    * falling by more than a few percent per operation, in runs on a
    * 4-vCPU VM (the JIT keeps compiling Spark's driver code for tens
    * of operations, so it never quite stops). */
  def warmups: Int
  def sizes: Map[String, Long]
  def setup(spark: SparkSession, dir: String, seed: Long): Prepared[_, _]
}

object Workloads {
  /** `scale` shrinks every size for the self-test. */
  def apply(name: String, scale: Double = 1.0): Workload = name match {
    case "pit_build"  => new PitBuild(scale)
    case "pit_skew"   => new PitSkew(scale)
    case "llm_curate" => new LlmCurate(scale)
    case other        => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("pit_build", "pit_skew", "llm_curate")

  def sized(n: Int, scale: Double): Int = math.max(200, (n * scale).toInt)

  /** Sorted list of mismatches between two maps (at most 5 shown). */
  def diffMaps[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] = {
    def show(v: Option[V]) = v.fold("none")(_.toString)
    val bad = (got.keySet ++ want.keySet).toSeq.sortBy(_.toString)
      .filter(k => got.get(k) != want.get(k))
    bad.take(5).map(k => s"$what[$k]: got ${show(got.get(k))}, want ${show(want.get(k))}") ++
      (if (bad.size > 5) Seq(s"$what: ${bad.size - 5} more mismatches") else Nil)
  }
}

// ---- point-in-time builds --------------------------------------------

/** A feature as the reference sees it: its history and bounds. */
final case class FeatRef(name: String, hist: Data.History, embargoUs: Long, lowerUs: Long)

final case class BuildObs(
    rows: Long,
    outRows: Long,
    statsMatched: Map[String, Long],
    outMatched: Map[String, Long],
    /** label_id -> feature -> (value, feature time in micros) */
    sample: Map[Long, Map[String, (Option[Double], Option[Long])]],
    auditRows: Long,
    /** feature -> (leaky rows, null rows, max leak in micros or -1) */
    audit: Map[String, (Long, Long, Long)],
    diffCommon: Long,
    diffChanged: Map[String, Long])

/** Shared by `pit_build` and `pit_skew`. One operation is the paper's
  * workflow on the labels and histories on disk: build the training
  * set, audit it, and diff it.
  *  - `Graft.build` with the options given plus an output path.
  *  - `Graft.auditTemporal` on the written set with every label time
  *    moved one day earlier, so rows whose feature is under a day old
  *    become leaks whose count and maximum the reference knows.
  *  - `Graft.diff` of the written set against a copy with the first
  *    feature's value raised by 1 on every 50th label. */
final class BuildPrep(spark: SparkSession, dir: String, lab: Data.Labels,
    feats: Seq[FeatRef], options: BuildOptions, clearProbe: Boolean)
    extends Prepared[(BuildResult, Audit.AuditReport, Diff.DiffResult), BuildObs] {
  private val out = s"$dir/out.parquet"
  private val labels = Labels.parquet(s"$dir/labels.parquet", Seq("entity_id"), "label_time",
    Seq("label_id", "y"))
  private val features = feats.map { f =>
    Feature(f.name, Source.parquet(s"src_${f.name}", Data.historyPath(dir, f.name), Seq("entity_id"), "ts"),
      ColumnsMode(Map("v" -> "v", "t" -> "t")),
      embargo = Duration.ofNanos(f.embargoUs * 1000L),
      maxStaleness = if (f.lowerUs < Data.LookbackUs) Some(Duration.ofNanos(f.lowerUs * 1000L)) else None)
  }
  private val nLabels = lab.ent.length
  private val bumped = s"${feats.head.name}__v"
  private def isBumped(labelId: Long): Boolean = labelId % 50 == 7

  /** Every label's chosen history row (-1 for none), by binary search. */
  private val answers: Map[String, Array[Int]] = feats.map { f =>
    f.name -> Array.tabulate(nLabels)(i =>
      f.hist.asOf(lab.ent(i), lab.ts(i) - f.embargoUs, lab.ts(i) - f.lowerUs))
  }.toMap
  private val refMatched = answers.map { case (f, a) => f -> a.count(_ >= 0).toLong }
  private val refAudit: Map[String, (Long, Long, Long)] = feats.map { f =>
    val leaks = answers(f.name).zipWithIndex.collect {
      case (j, i) if j >= 0 && f.hist.ts(j) >= lab.ts(i) - Data.DayUs => f.hist.ts(j) - (lab.ts(i) - Data.DayUs)
    }
    // AuditReport.maxLeak is a Duration of whole seconds
    f.name -> (leaks.length.toLong, nLabels - refMatched(f.name),
      if (leaks.isEmpty) -1L else leaks.max / 1000000L * 1000000L)
  }.toMap
  private val refChanged: Map[String, Long] = Map(bumped ->
    answers(feats.head.name).indices.count(i => isBumped(i) && answers(feats.head.name)(i) >= 0).toLong)
    .filter(_._2 > 0)
  /** A deterministic sample of labels, answered again by a linear scan. */
  private val sampleIds: Seq[Int] = (0 until nLabels by math.max(1, nLabels / 256)).take(256)
  private val refSample: Map[Long, Map[String, (Option[Double], Option[Long])]] =
    sampleIds.map { i =>
      i.toLong -> feats.map { f =>
        val j = f.hist.asOfScan(lab.ent(i), lab.ts(i) - f.embargoUs, lab.ts(i) - f.lowerUs)
        f.name -> (if (j < 0) (None, None) else (Some(f.hist.v(j)), Some(f.hist.ts(j))))
      }.toMap
    }.toMap

  def op(): (BuildResult, Audit.AuditReport, Diff.DiffResult) = {
    if (clearProbe) AsOfJoin.clearProbeMemo() // a one-shot call pays Auto's probe every time
    val built = Span.call("Graft.build")(Graft.build(spark, labels, features,
      options.copy(output = Some(out)), progress = (stage, feature) => Span.progress(stage, feature)))
    val written = spark.read.parquet(out)
    val audit = Span.call("Graft.auditTemporal")(Graft.auditTemporal(
      written.withColumn("label_time", col("label_time") - expr("INTERVAL 1 DAY")), "label_time",
      feats.map(f => f.name -> s"${f.name}__t").toMap))
    val changed = written.withColumn(bumped,
      when(col("label_id") % 50 === 7, col(bumped) + 1.0).otherwise(col(bumped)))
    val diff = Span.call("Graft.diff")(Graft.diff(written, changed, Seq("label_id"), "label_time"))
    (built, audit, diff)
  }

  def observe(r: (BuildResult, Audit.AuditReport, Diff.DiffResult)): BuildObs = {
    val (built, audit, diff) = r
    // counts and the sampled labels in one pass over the written set
    val sampled = when(col("label_id").isin(sampleIds.map(_.toLong): _*),
      struct((col("label_id") +: feats.flatMap(f => Seq(col(s"${f.name}__v"), col(s"${f.name}__t")))): _*))
    val aggs = count(col("label_id")) +: feats.map(f => count(col(s"${f.name}__t"))) :+ collect_list(sampled)
    val row = spark.read.parquet(out).agg(aggs.head, aggs.tail: _*).head()
    val sample = row.getSeq[Row](feats.size + 1).map { r =>
      r.getLong(0) -> feats.zipWithIndex.map { case (f, k) =>
        val v = if (r.isNullAt(1 + 2 * k)) None else Some(r.getDouble(1 + 2 * k))
        val t = Option(r.getTimestamp(2 + 2 * k)).map(ts =>
          Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000)
        f.name -> (v, t)
      }.toMap
    }.toMap
    BuildObs(built.rows, row.getLong(0), built.features.map(s => s.name -> s.matched).toMap,
      feats.zipWithIndex.map { case (f, k) => f.name -> row.getLong(k + 1) }.toMap, sample,
      audit.totalRows,
      audit.details.map(d => d.feature ->
        (d.leakyRows, d.nullRows, d.maxLeak.map(_.toNanos / 1000L).getOrElse(-1L))).toMap,
      diff.commonRows, diff.columns.filter(_.changed > 0).map(c => c.column -> c.changed).toMap)
  }

  def check(o: BuildObs): Seq[String] = {
    val rows = Seq(("BuildResult.rows", o.rows), ("output rows", o.outRows),
      ("audit totalRows", o.auditRows), ("diff commonRows", o.diffCommon)).collect {
      case (what, n) if n != nLabels => s"$what: got $n, want $nLabels"
    }
    // the invariant itself, stated apart from the reference answer
    val invariant = for {
      (id, byFeat) <- o.sample.toSeq
      f <- feats
      t <- byFeat.get(f.name).flatMap(_._2)
      lt = lab.ts(id.toInt)
      if !(t < lt - f.embargoUs && t >= lt - f.lowerUs)
    } yield s"label $id ${f.name}: feature time $t outside [${lt - f.lowerUs}, ${lt - f.embargoUs})"
    rows ++ Workloads.diffMaps("matched (BuildResult)", o.statsMatched, refMatched) ++
      Workloads.diffMaps("matched (output)", o.outMatched, refMatched) ++ invariant ++
      Workloads.diffMaps("sampled answer", o.sample, refSample) ++
      Workloads.diffMaps("audit (leaky, nulls, max leak us)", o.audit, refAudit) ++
      Workloads.diffMaps("diff changed cells", o.diffChanged, refChanged)
  }

  def wrong(o: BuildObs): Seq[(String, BuildObs)] = {
    val f0 = feats.head.name
    def edit(id: Long)(g: ((Option[Double], Option[Long])) => (Option[Double], Option[Long])) =
      o.copy(sample = o.sample.updated(id, o.sample(id).updated(f0, g(o.sample(id)(f0)))))
    val matchedId = o.sample.keys.toSeq.sorted.find(id => o.sample(id)(f0)._2.isDefined).get
    val missingId = o.sample.keys.toSeq.sorted.find(id => o.sample(id)(f0)._2.isEmpty)
    val (leaky, nulls, maxLeak) = o.audit(f0)
    Seq(
      "feature time 1us past the label time" ->
        edit(matchedId) { case (v, _) => (v, Some(lab.ts(matchedId.toInt) + 1)) },
      "selected value differs" -> edit(matchedId) { case (v, t) => (v.map(_ + 0.01), t) },
      "row dropped" -> o.copy(outRows = o.outRows - 1),
      "matched count +1" -> o.copy(statsMatched = o.statsMatched.updated(f0, o.statsMatched(f0) + 1)),
      "leaky row missed" -> o.copy(audit = o.audit.updated(f0, (leaky - 1, nulls, maxLeak))),
      "null row missed" -> o.copy(audit = o.audit.updated(f0, (leaky, nulls - 1, maxLeak))),
      "max leak 1s short" -> o.copy(audit = o.audit.updated(f0, (leaky, nulls, maxLeak - 1000000L))),
      "changed cell missed" -> o.copy(diffChanged = o.diffChanged.updated(bumped, o.diffChanged(bumped) - 1))
    ) ++ missingId.map(id =>
      "missing label given a value" -> edit(id)(_ => (Some(1.0), Some(lab.ts(id.toInt) - Data.DayUs * 2))))
  }
}

/** The paper's headline operation at the BASELINE shape: entities =
  * labels/5, each history twice the label count, labels within one
  * day, histories over the year before. Two features from two sources
  * — one plain, one under both a 1-day embargo and a 30-day staleness
  * limit — rather than BASELINE's ten: at this label count a build's
  * time is mostly per-source Spark jobs, and ten sources do not fit
  * the benchmark's time budget. */
final class PitBuild(scale: Double) extends Workload {
  val name = "pit_build"
  val warmups = 3
  private val nLabels = Workloads.sized(40000, scale)
  private val nEnt = math.max(10, nLabels / 5)
  private val nHist = 2 * nLabels
  private val nFeat = 2
  def rowsPerOp: Long = nLabels
  def sizes = Map("labels" -> nLabels.toLong, "entities" -> nEnt.toLong,
    "features" -> nFeat.toLong, "history_rows_per_feature" -> nHist.toLong)

  def setup(spark: SparkSession, dir: String, seed: Long): Prepared[_, _] = {
    val r = Data.rng(seed, 1)
    val lab = Data.labels(r, nLabels, nEnt, hotShare = 0.0)
    val d = Data.DayUs
    val plants = Seq(0L, 1L, d - 1, d, d + 1, 30 * d, 30 * d + 1, Data.LookbackUs, Data.LookbackUs + 1)
    val feats = (0 until nFeat).map { i =>
      val h = Data.history(Data.rng(seed, 100 + i), nHist, nEnt, 0.0, lab, plants)
      FeatRef(s"f$i", h,
        embargoUs = if (i == 1) d else 0L,
        lowerUs = if (i == 1) 30 * d else Data.LookbackUs)
    }
    Data.writeLabels(spark, s"$dir/labels.parquet", lab)
    Data.writeHistories(spark, dir, feats.map(f => f.name -> f.hist))
    new BuildPrep(spark, dir, lab, feats, BuildOptions(), clearProbe = false)
  }
}

/** One hot entity owns 70% of a single long history; Auto's skew probe
  * is switched on at this size so it picks the segmented carry. */
final class PitSkew(scale: Double) extends Workload {
  val name = "pit_skew"
  val warmups = 3
  private val nLabels = Workloads.sized(20000, scale)
  private val nEnt = math.max(10, nLabels / 5)
  private val nHist = Workloads.sized(600000, scale)
  def rowsPerOp: Long = nLabels
  def sizes = Map("labels" -> nLabels.toLong, "entities" -> nEnt.toLong,
    "history_rows" -> nHist.toLong, "hot_key_share_pct" -> 70L)

  def setup(spark: SparkSession, dir: String, seed: Long): Prepared[_, _] = {
    val r = Data.rng(seed, 2)
    val lab = Data.labels(r, nLabels, nEnt, hotShare = 0.1)
    val plants = Seq(0L, 1L, Data.LookbackUs, Data.LookbackUs + 1)
    val h = Data.history(Data.rng(seed, 200), nHist, nEnt, 0.7, lab, plants)
    val feats = Seq(FeatRef("f0", h, 0L, Data.LookbackUs))
    Data.writeLabels(spark, s"$dir/labels.parquet", lab)
    Data.writeHistories(spark, dir, Seq("f0" -> h))
    val hot = (0.7 * nHist).toLong
    new BuildPrep(spark, dir, lab, feats, BuildOptions(autoConfig = AsOfJoin.AutoConfig(
      probeMinBytes = 0L, skewRowsPerKey = hot / 4, targetRowsPerBucket = hot / 8)),
      clearProbe = true)
  }
}

// ---- LLM-data curation -----------------------------------------------

final case class CurateObs(input: Long, dropped: Map[String, Long], kept: Long, written: Long)

/** Synthetic web documents: clean English prose plus planted defects,
  * each built to fail exactly one stage, so every stage's drop count is
  * known from the generator alone. */
final class LlmCurate(scale: Double) extends Workload {
  val name = "llm_curate"
  val warmups = 5
  private val n = Workloads.sized(1000, scale)
  def rowsPerOp: Long = n
  /** Planted share of documents per stage; the rest are clean. */
  private val shares = Seq("c4" -> 0.03, "gopher" -> 0.03, "repetition" -> 0.03,
    "quality" -> 0.03, "language" -> 0.03, "url_dup" -> 0.04, "exact_dup" -> 0.05,
    "near_dup" -> 0.05)
  def sizes = Map("docs" -> n.toLong) ++
    shares.map { case (s, f) => s"planted_$s" -> (n * f).toLong }

  private val words = ("market signal feature table report window stream batch metric " +
    "filter sample cluster vector token corpus model train value record field index shard " +
    "merge scan group join order range total daily weekly early later about under above " +
    "between because system engine worker driver memory disk network storage format schema " +
    "column river garden bridge mountain village teacher student doctor office kitchen " +
    "window paper letter music picture camera travel weather summer winter morning evening " +
    "market harbor castle forest island valley simple little bright quiet careful modern " +
    "ancient public private useful honest gentle strong rapid steady plain yellow silver " +
    "golden wooden carry build write read open close follow answer remember explain create " +
    "measure repair gather listen wander").split(" ")
  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  private val longWords = ("internationalization characterization responsibilities " +
    "misunderstandings telecommunications electroencephalogram incomprehensibilities " +
    "counterrevolutionary institutionalization disproportionately").split(" ")
  private val shortWords = ("bird frog lamp rope sand tent vase wolf yarn leaf moth pear " +
    "plum reed sock tile wasp bell coin drum fern gate hive kite lime nest oven").split(" ")
  private val german = ("der die das und ist nicht ein zu mit auf haus wasser strasse " +
    "garten freund abend morgen stadt fenster tisch stuhl buch lampe wagen baum blume vogel " +
    "himmel sonne regen schnee winter sommer berg fluss wiese dorf kirche schule lehrer " +
    "kind mutter vater bruder schwester arbeit zeitung brief kuchen milch brot apfel " +
    "birne katze hund pferd").split(" ")

  private def line(n: Int)(pick: => String): String =
    (0 until n).map(_ => pick).mkString(" ")

  /** `lines` sentences, each carrying English stopwords. */
  private def prose(r: java.util.SplittableRandom, lines: Int = 6): Seq[String] = (0 until lines).map { _ =>
    val body = line(9 + r.nextInt(4)) {
      if (r.nextDouble() < 0.3) enStop(r.nextInt(enStop.size)) else words(r.nextInt(words.length))
    }
    s"the $body with ${words(r.nextInt(words.length))}."
  }

  def setup(spark: SparkSession, dir: String, seed: Long): Prepared[_, _] = {
    val r = Data.rng(seed, 4)
    val ids = {
      val p = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    // ids(k) takes the k-th class slot; everything past the planted
    // slots is clean, and copies point at clean docs used once each
    val counts = shares.map { case (s, f) => s -> (n * f).toInt }
    val cls = new Array[String](n)
    var k = 0
    for ((s, c) <- counts; _ <- 0 until c) { cls(ids(k)) = s; k += 1 }
    val clean = ids.drop(k)
    var nextBase = 0
    def base(): Int = { val b = clean(nextBase); nextBase += 1; b }
    val text = new Array[String](n)
    val url = Array.tabulate(n)(i => s"https://site${i % 97}.example.org/page/$i")
    clean.foreach(i => text(i) = prose(r).mkString("\n"))
    for (i <- 0 until n if cls(i) != null) cls(i) match {
      case "c4" => text(i) = prose(r).take(2).mkString("\n")
      case "gopher" =>
        text(i) = (0 until 6).map(_ => line(8)(longWords(r.nextInt(longWords.length))) + ".").mkString("\n")
      case "repetition" =>
        val sentence = prose(r).head
        text(i) = Seq.fill(6)(sentence).mkString("\n")
      case "quality" => // two stopword kinds for Gopher, too few for the quality score
        text(i) = (0 until 6).map(k => (if (k == 0) "be have " else "") +
          line(10)(shortWords(r.nextInt(shortWords.length)) + ",,") + " end.").mkString("\n")
      case "language" => // two Gopher stopword kinds, German stopwords for language ID
        text(i) = (0 until 6).map(k => (if (k == 0) "be have " else "") +
          line(10)(german(r.nextInt(german.length))) + ".").mkString("\n")
      case _ => ()
    }
    for (i <- 0 until n if cls(i) != null) cls(i) match {
      case "url_dup" => text(i) = prose(r).mkString("\n"); url(i) = url(base())
      case "exact_dup" => text(i) = text(base())
      case "near_dup" =>
        // a long base plus one word: word 3-shingle Jaccard ~0.995, so
        // MinHash-LSH (k=60, 6 bands at threshold 0.8) misses a pair
        // with odds ~1e-8, where a six-line base would give ~2e-3
        val b = base()
        text(b) = prose(r, 30).mkString("\n")
        text(i) = text(b).stripSuffix(".") + " again."
      case _ => ()
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("url", StringType, nullable = false),
      StructField("text", StringType, nullable = false)))
    Data.write(spark, s"$dir/docs.parquet", schema, Data.rows(n)(i => Row(i.toLong, url(i), text(i))))
    val dropped = counts.map { case (s, c) => s -> c.toLong }.toMap
    new CuratePrep(spark, dir, n.toLong, dropped)
  }
}

final class CuratePrep(spark: SparkSession, dir: String, n: Long, refDropped: Map[String, Long])
    extends Prepared[Curation.CurationResult, CurateObs] {
  private val out = s"$dir/curated.parquet"
  private val refKept = n - refDropped.values.sum

  def op(): Curation.CurationResult = Span.call("Curation.curate") {
    val r = Curation.curate(spark.read.parquet(s"$dir/docs.parquet"),
      minQuality = 0.6, languages = Seq("en"), nearDupThreshold = 0.8,
      nearDup = Curation.NearDup.MinhashLsh,
      hygiene = Curation.HygieneConfig(
        c4 = Some(Curation.C4Config()),
        gopher = Some(QualityFilters.GopherConfig()),
        repetition = Some(QualityFilters.RepetitionConfig()),
        urlCol = Some("url")),
      hasher = Dedup.xxHash)
    r.df.write.mode("overwrite").parquet(out)
    r.release()
    r
  }

  def observe(r: Curation.CurationResult): CurateObs =
    CurateObs(r.stats.input, r.stats.dropped, r.stats.output, spark.read.parquet(out).count())

  def check(o: CurateObs): Seq[String] =
    Seq(("input", o.input, n), ("kept (ledger)", o.kept, refKept), ("kept (output)", o.written, refKept))
      .collect { case (what, got, want) if got != want => s"$what: got $got, want $want" } ++
      Workloads.diffMaps("dropped", o.dropped, refDropped)

  def wrong(o: CurateObs): Seq[(String, CurateObs)] = Seq(
    "one extra document kept" -> o.copy(written = o.written + 1),
    "near-dup missed" -> o.copy(dropped = o.dropped.updated("near_dup", o.dropped("near_dup") - 1),
      kept = o.kept + 1),
    "drop moved between stages" -> o.copy(dropped = o.dropped
      .updated("gopher", o.dropped("gopher") + 1).updated("c4", o.dropped("c4") - 1)))

  override def counts(r: Curation.CurationResult): Map[String, Double] =
    Map("curation.kept" -> r.stats.output.toDouble) ++
      r.stats.dropped.map { case (s, d) => s"curation.dropped.$s" -> d.toDouble }
}
