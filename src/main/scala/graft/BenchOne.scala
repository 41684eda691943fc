package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Build, BuildOptions}
import graft.model._

/** Dev tool: run ONE build scenario with per-phase timing to locate
  * where the wall-clock goes.
  * `sbt "runMain graft.BenchOne <nLabels> <nFeatures> [dir]"`
  * Audit-scenario isolation (the Bench audit_* rows, 5 reps + job
  * counts): `sbt "runMain graft.BenchOne audit <nLabels> <nFeatures>"`.
  * Hot-key pair isolation (the build_20m_skew_* rows, 3 reps each):
  * `sbt "runMain graft.BenchOne skew"`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val auditMode = args.headOption.contains("audit")
    val skewMode = args.headOption.contains("skew")
    val curateMode = args.headOption.contains("curate")
    val scanMode = args.headOption.contains("scanfilter")
    val substrMode = args.headOption.contains("exactsubstr")
    val chunkMode = args.headOption.contains("chunk")
    val dsirMode = args.headOption.contains("dsir")
    val bpeMode = args.headOption.contains("bpe")
    val seqMode = args.headOption.contains("sequences")
    val shuffleMode = args.headOption.contains("shuffle")
    val streamGateMode = args.headOption.contains("streamgate")
    val clsFitMode = args.headOption.contains("classifierfit")
    val ivfMode = args.headOption.contains("ivf")
    val incDedupMode = args.headOption.contains("incdedup")
    val pqMode = args.headOption.contains("pq")
    val ivfPqMode = args.headOption.contains("ivfpq")
    val domainCapMode = args.headOption.contains("domaincap")
    val sessionMode = args.headOption.contains("session")
    val posArgs =
      if (auditMode || skewMode || curateMode || scanMode || substrMode ||
          chunkMode || dsirMode || bpeMode || seqMode || clsFitMode ||
          ivfMode || incDedupMode || pqMode || ivfPqMode || domainCapMode ||
          sessionMode || shuffleMode || streamGateMode)
        args.drop(1)
      else args
    val nLabels = posArgs.headOption.map(_.toInt).getOrElse(1000000)
    val nFeatures = posArgs.lift(1).map(_.toInt).getOrElse(10)
    val dir = posArgs.lift(2).getOrElse {
      // same scratch hygiene as Bench: a dev-tool run must not leak
      // its datagen onto tmpfs/disk when the JVM exits
      val d = java.nio.file.Files.createTempDirectory("graft_benchone")
      Runtime.getRuntime.addShutdownHook(new Thread(() => Bench.deleteRec(d)))
      d.toString
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
          if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
            "/dev/shm/graft-shuffle"
          else System.getProperty("java.io.tmpdir") + "/graft-shuffle"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // job/stage/task counters: fixed scheduling overhead is the main
    // suspect at the 100K scale, so surface how many jobs a build runs
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val dur = for {
          a <- s.stageInfo.submissionTime; b <- s.stageInfo.completionTime
        } yield (b - a) / 1000.0
        val cpu = s.stageInfo.taskMetrics.executorCpuTime / 1e9
        val rt = s.stageInfo.taskMetrics.executorRunTime / 1e3
        println(f"[benchone]   stage ${s.stageInfo.stageId} " +
          f"(${s.stageInfo.numTasks}t): wall=${dur.getOrElse(-1.0)}%.1fs " +
          f"taskRun=$rt%.1fs taskCpu=$cpu%.1fs ${s.stageInfo.name.take(60)}")
      }
    })

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    def timed[A](label: String)(body: => A): A = {
      val (j0, s0, t0c) = (jobs.get(), stages.get(), tasks.get())
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val r = body
      println(f"[benchone] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
        s"jobs=${jobs.get() - j0} stages=${stages.get() - s0} " +
        s"tasks=${tasks.get() - t0c} gc=${gcMillis() - g0}ms")
      r
    }

    val nEntities = math.max(1000, nLabels / 5)

    def syncFs(): Unit =
      try { new ProcessBuilder("sync").start().waitFor(); () }
      catch { case _: Exception => () }

    if (skewMode) {
      // isolate Bench's build_20m_skew_{auto,plain} pair (hot-key escape
      // vs forced plain carry on the same 20M-row 70%-hot feature side).
      // The first call generates the 20M-row dataset on a clean
      // benchDir — keep that out of the timed reps (Bench's own warmup
      // absorbs it there) or run1 misreports ~10x steady state
      timed("skew datagen + warmup")(Bench.skewScenario(auto = true)(spark))
      Seq(true, false).foreach { auto =>
        (1 to 3).foreach { i =>
          syncFs()
          timed(s"skew ${if (auto) "auto" else "plain"} run$i") {
            println("  rows=" + Bench.skewScenario(auto)(spark))
          }
        }
      }
      spark.stop()
      return
    }

    if (sessionMode) {
      // reproduce the full-bench context effect on exactsubstr_300k:
      // run the heavy corpus rows first in the SAME JVM, then measure
      val nDocs = 300000L
      timed("corpus warmup")(Bench.exactSubstrScenario(nDocs)(spark))
      (1 to 2).foreach { i =>
        syncFs(); timed(s"exactsubstr fresh run$i")(Bench.exactSubstrScenario(nDocs)(spark))
      }
      timed("curate_1m")(Bench.curateScenario(1000000L)(spark))
      timed("gopher_c4_10m")(Bench.scanFilterScenario(10000000L)(spark))
      (1 to 3).foreach { i =>
        syncFs(); timed(s"exactsubstr after-heavy run$i")(Bench.exactSubstrScenario(nDocs)(spark))
      }
      spark.stop()
      return
    }

    if (ivfMode) {
      // isolate the ivf_build_1m / ivf_append_100k scale pair
      timed("ivf corpus + base index (warmup)")(Bench.ivfAppendScenario(spark))
      (1 to 3).foreach { i =>
        syncFs()
        timed(s"ivf_build_1m run$i")(Bench.ivfBuildScenario(spark))
        syncFs()
        timed(s"ivf_append_100k run$i")(println("  rows=" + Bench.ivfAppendScenario(spark)))
      }
      spark.stop()
      return
    }

    if (pqMode) {
      // isolate the pq_encode_1m / pq_search_1m pair
      timed("emb corpus + codes (warmup)")(Bench.pqSearchScenario(spark))
      (1 to 3).foreach { i =>
        syncFs()
        timed(s"pq_encode_1m run$i")(Bench.pqEncodeScenario(spark))
        syncFs()
        timed(s"pq_search_1m run$i")(
          println("  rows=" + Bench.pqSearchScenario(spark)))
      }
      spark.stop()
      return
    }

    if (ivfPqMode) {
      // isolate the ivfpq_build_1m / ivfpq_search_1m pair
      timed("emb corpus + index (warmup)")(Bench.ivfPqSearchScenario(spark))
      (1 to 3).foreach { i =>
        syncFs()
        timed(s"ivfpq_build_1m run$i")(Bench.ivfPqBuildScenario(spark))
        syncFs()
        timed(s"ivfpq_search_1m run$i")(
          println("  rows=" + Bench.ivfPqSearchScenario(spark)))
      }
      spark.stop()
      return
    }

    if (domainCapMode) {
      // isolate the domaincap_10m / domaincap_10m_nolimit pair
      timed("domain corpus (warmup)")(
        Bench.domainCapScenario(noGroupLimit = false)(spark))
      (1 to 3).foreach { i =>
        syncFs()
        timed(s"domaincap_10m run$i")(
          println("  rows=" + Bench.domainCapScenario(noGroupLimit = false)(spark)))
        syncFs()
        timed(s"domaincap_10m_nolimit run$i")(
          println("  rows=" + Bench.domainCapScenario(noGroupLimit = true)(spark)))
      }
      spark.stop()
      return
    }

    if (incDedupMode) {
      // isolate the incdedup_{plain,bloom}_1m_vs_9m pair
      timed("corpus + store (warmup)")(Bench.incDedupScenario(bloom = false)(spark))
      (1 to 3).foreach { i =>
        syncFs()
        timed(s"incdedup_plain run$i")(
          println("  rows=" + Bench.incDedupScenario(bloom = false)(spark)))
        syncFs()
        timed(s"incdedup_bloom run$i")(
          println("  rows=" + Bench.incDedupScenario(bloom = true)(spark)))
      }
      spark.stop()
      return
    }

    if (clsFitMode) {
      // isolate the classifier_fit bench row (the LBFGS fit, pinned
      // optimizer params) over SPARK_GRAFT_SF_DIR's documents table
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      timed("classifier_fit warmup")(Bench.classifierFitScenario(spark, sfDir))
      (1 to 3).foreach { i =>
        syncFs()
        timed(s"classifier_fit run$i")(Bench.classifierFitScenario(spark, sfDir))
      }
      spark.stop()
      return
    }

    if (curateMode || scanMode || substrMode || chunkMode || dsirMode ||
        bpeMode || seqMode || shuffleMode || streamGateMode) {
      // isolate Bench's corpus rows (curate_1m / gopher_c4_10m /
      // exactsubstr_1m / chunk_1m); nLabels reads as the doc count
      // (defaults still apply: 1M docs, `scanfilter 10000000` for the
      // 10M scan row)
      val nDocs = nLabels.toLong
      def run(): Long =
        if (curateMode) Bench.curateScenario(nDocs)(spark)
        else if (scanMode) Bench.scanFilterScenario(nDocs)(spark)
        else if (substrMode) Bench.exactSubstrScenario(nDocs)(spark)
        else if (dsirMode) Bench.dsirScenario(nDocs)(spark)
        else if (bpeMode) Bench.bpeScenario(nDocs)(spark)
        else if (seqMode) Bench.sequencesScenario(nDocs)(spark)
        else if (shuffleMode) Bench.shuffleScenario(nDocs)(spark)
        else if (streamGateMode) Bench.streamingGateScenario(nDocs)(spark)
        else Bench.chunkScenario(nDocs)(spark)
      val label =
        if (curateMode) "curate"
        else if (scanMode) "scanfilter"
        else if (substrMode) "exactsubstr"
        else if (dsirMode) "dsir"
        else if (bpeMode) "bpe"
        else if (seqMode) "sequences"
        else if (shuffleMode) "shuffle"
        else if (streamGateMode) "streamgate"
        else "chunk"
      timed("corpus datagen + warmup")(run())
      (1 to 3).foreach { i =>
        syncFs()
        timed(s"$label run$i")(println("  rows=" + run()))
      }
      spark.stop()
      return
    }

    if (auditMode) {
      // exactly Bench.auditScenario's shape: a flat parquet dataset with
      // nFeatures (feature_time, value) column pairs, Audit.temporal over it
      val path = s"$dir/audit_${nLabels}_$nFeatures.parquet"
      if (!Bench.committed(path)) {
        timed("datagen") {
          spark.range(nLabels.toLong).select(
            col("id") +:
              (col("id") % nEntities).as("user_id") +:
              timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("label_time") +:
              (0 until nFeatures).flatMap(k => Seq(
                timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L
                  - lit(3600000000L) + ((col("id") + k) % 100) * 72000000L)
                  .as(s"f${k}__feature_time"),
                ((col("id") + k) % 7).cast("double").as(s"f${k}__v"))): _*)
            .drop("id")
            .write.mode("overwrite").parquet(path)
        }
      }
      (1 to 5).foreach { i =>
        syncFs()
        timed(s"audit run$i") {
          val r = graft.engine.Audit.temporal(spark.read.parquet(path), "label_time",
            (0 until nFeatures).map(k => s"f$k" -> s"f${k}__feature_time").toMap,
            approxMedian = true)
          println("  rows=" + r.totalRows)
        }
      }
      spark.stop()
      return
    }

    // scale-keyed subdir: a persistent user-supplied dir reused at a
    // DIFFERENT nLabels/nFeatures must regenerate, not silently
    // benchmark stale data at the old scale (the audit path keys its
    // file name the same way)
    val scDir = s"$dir/bo_${nLabels}_$nFeatures"
    val lp = s"$scDir/labels.parquet"
    if (!Bench.committed(lp) ||
      (0 until nFeatures).exists(k => !Bench.committed(s"$scDir/feature_$k.parquet"))) {
      timed("datagen") {
        val labelStepUs = 86400000000L / nLabels
        val featStepUs = 31536000000000L / (2L * nLabels)
        def files(rows: Long): Int = math.max(1, (rows / 2000000L).toInt)
        spark.range(nLabels.toLong).select(
          (col("id") % nEntities).as("user_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * math.max(1L, labelStepUs)).as("label_time"),
          (col("id") % 5 === 0).as("churned"))
          .coalesce(files(nLabels.toLong))
          .write.mode("overwrite").parquet(lp)
        (0 until nFeatures).foreach { k =>
          spark.range(2L * nLabels).select(
            (col("id") % nEntities).as("user_id"),
            timestamp_micros(lit(1672531200000000L) + col("id") * math.max(1L, featStepUs)).as("updated_at"),
            ((col("id") * (k + 17)) % 1000 / 10.0).as(s"val_$k"))
            .coalesce(files(2L * nLabels))
            .write.mode("overwrite").parquet(s"$scDir/feature_$k.parquet")
        }
      }
    }
    val labels = Labels.parquet(lp, Seq("user_id"), "label_time", Seq("churned"))
    val features = (0 until nFeatures).map { k =>
      Feature(s"f$k",
        Source.parquet(s"src$k", s"$scDir/feature_$k.parquet", Seq("user_id"), "updated_at"),
        ColumnsMode(Map(s"val_$k" -> s"val_$k")))
    }

    // phase timings: one as-of join alone, then the full build twice
    timed("single feature as-of (count)") {
      val spine = spark.read.parquet(lp)
        .withColumn(Build.RowId, monotonically_increasing_id())
        .select(Build.RowId, "user_id", "label_time")
      val feat = spark.read.parquet(s"$scDir/feature_0.parquet")
      val spec = graft.operators.AsOfJoin.Spec(Seq("user_id"), "label_time")
      val right = graft.operators.AsOfJoin.Right(feat, Seq("user_id"), "updated_at", Seq("val_0"))
      println("  rows=" + graft.operators.AsOfJoin.join(spine, right, spec,
        graft.operators.AsOfJoin.Strategy.UnionAsOf).count())
    }
    (1 to 5).foreach { i =>
      syncFs()
      timed(s"full build run$i") {
        val r = Build(spark, labels, features, BuildOptions(
          checkDuplicates = false, sortResult = false,
          maxCarryColumns = sys.env.getOrElse("SPARK_GRAFT_CARRY_COLS", "12").toInt,
          output = Some(s"$dir/out.parquet")))
        println("  rows=" + r.rows)
      }
    }
    // variant: stats/verify off to isolate that pass
    timed("build, verify+stats off") {
      val r = Build(spark, labels, features, BuildOptions(
        checkDuplicates = false, sortResult = false,
        verify = false, collectStats = false,
        output = Some(s"$dir/out2.parquet")))
      println("  rows=" + r.rows)
    }
    // variant: no output write
    timed("build, no output") {
      val r = Build(spark, labels, features, BuildOptions(
        checkDuplicates = false, sortResult = false))
      println("  rows=" + r.rows)
    }
    spark.stop()
  }
}
