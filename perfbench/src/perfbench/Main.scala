package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of graft's public calls: one client, the next
  * operation starts when the previous one returned. Prints one JSON
  * result as the last stdout line (see perfbench/README.md).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --scratch <dir> [--spans <file>]
  *        perfbench.Main --selftest --scratch <dir> */
object Main {
  /** setup_s is the median of this many set-ups in one run. */
  val SetupRepeats = 3
  /** Operations timed per run, at least, however short `--seconds`. */
  val MinTimed = 3

  val PerLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.fetch_wait_s", "spark.spill_disk_mb",
    "spark.result_mb", "spark.failed_tasks", "spark.busy_ratio", "spark.driver_s",
    "span.call_self_s", "span.job_self_s", "span.stage_s", "span.count",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "plan.operators", "plan.exchanges", "plan.interpreted_ops", "functions.codegen_ms",
    "functions.codegen_compiles",
    "sources.scan_ms", "sources.read_mb", "sources.files",
    "build.plan_s", "build.exec_s", "build.pre_jobs", "build.pre_jobs_s", "build.agg_ms",
    "cache.mb", "write.ms", "write.output_mb", "write.files",
    "asof.shuffle_write_mb", "asof.sort_ms", "asof.spill_mb", "asof.max_task_s", "asof.task_skew",
    "audit.call_s", "audit.agg_ms", "audit.final_tasks", "audit.busy_ratio",
    "diff.call_s", "diff.shuffle_write_mb",
    "curation.call_s", "curation.shuffle_write_mb", "curation.jobs", "curation.kept") ++
    Seq("c4", "gopher", "repetition", "quality", "language", "url_dup", "exact_dup", "near_dup")
      .map(s => s"curation.dropped.$s") ++
    Seq("jvm.jit_s", "trace.op_s", "trace.untraced_op_s", "trace.overhead_s")

  def unit(metric: String): String =
    if (metric == "rows_per_s") "rows/s"
    else if (metric.endsWith("_ms") || metric == "write.ms") "ms"
    else if (metric.endsWith("_mb") || metric == "cache.mb") "MB"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("ratio") || metric.endsWith("skew")) "ratio"
    else "count"

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, scratch: String = "", spans: Option[String] = None,
      selftest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--scratch" :: v :: t => parse(t, o.copy(scratch = v))
    case "--spans" :: v :: t => parse(t, o.copy(spans = Some(v)))
    case "--selftest" :: t => parse(t, o.copy(selftest = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = cpuBean.getProcessCpuTime / 1e9
  /** Time the JIT compiler threads have spent compiling, summed. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  /** Classes Spark's whole-stage codegen has compiled (codegen cache misses). */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Waits, at most `maxS` seconds, until the JIT compiler has been idle
    * for 0.3 s, so compiles the set-up queued are not charged to the
    * cold operation. Returns the seconds waited. */
  def quiesceJit(maxS: Double = 5.0): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var last = jitS
    var idleSince = elapsed
    while (elapsed - idleSince < 0.3 && elapsed < maxS) {
      Thread.sleep(50)
      val now = jitS
      if (now != last) { last = now; idleSince = elapsed }
    }
    elapsed
  }
  def loadavg: String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("unknown")

  def session(scratch: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's default of 100 generated classes is fewer than one curate
      // call makes (~130), and about as many as one build makes, so with
      // it warm operations recompile 0-33 classes depending on AQE's plan
      // choices, and op_s jumps by a quarter between runs.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Old-generation occupancy after every collection the program
    * triggered (not the benchmark's own System.gc()), by GC start time
    * in JVM uptime milliseconds. */
  object Heap extends NotificationListener {
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured")).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if oldPools(k) => u.getUsed }.sum
          samples.add(info.getGcInfo.getStartTime -> used)
        }
      }
    def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
    /** Highest sample inside any of the (start, end) uptime windows. */
    def peak(windows: Seq[(Long, Long)]): Long = samples.asScala.collect {
      case (t, used) if windows.exists { case (a, b) => t >= a && t <= b } => used
    }.foldLeft(0L)(math.max)
  }

  /** `cpuS` is process CPU; `jitS` the JIT compile time inside it;
    * `compiles` the classes whole-stage codegen compiled. */
  final case class OpRun(wallS: Double, cpuS: Double, jitS: Double, compiles: Long,
      errors: Seq[String], counts: Map[String, Double], window: (Long, Long))

  def runOp[R, O](p: Prepared[R, O]): OpRun = {
    System.gc() // every operation starts from the same collected heap
    val up0 = Heap.uptimeMs
    val j0 = jitS
    val g0 = codegenCompiles
    val c0 = cpuS
    val t0 = System.nanoTime()
    val r = try Right(p.op()) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuS - c0
    val jit = jitS - j0
    val compiles = codegenCompiles - g0
    val up1 = Heap.uptimeMs
    val errors = r match {
      case Left(e) => Seq(s"operation threw: $e")
      case Right(v) => try p.check(p.observe(v)) catch { case e: Throwable => Seq(s"check threw: $e") }
    }
    OpRun(wall, cpu, jit, compiles, errors, r.toOption.map(p.counts).getOrElse(Map.empty), (up0, up1))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.scratch.nonEmpty, "--scratch is required")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg
    val spark = session(o.scratch, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val code =
      try if (o.selftest) selftest(spark, o.scratch) else { run(spark, o, cores, sessionS, loadStart); 0 }
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  def run(spark: SparkSession, o: Opts, cores: Int, sessionS: Double, loadStart: String): Unit = {
    val wl = Workloads(o.workload)
    // set up several times and keep the last copy for the operations
    var prep: Prepared[_, _] = null
    val genS = (0 until SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      prep = wl.setup(spark, s"${o.scratch}/in$k", o.seed)
      (System.nanoTime() - t0) / 1e9
    }
    Heap.install()
    val ops = Vector.newBuilder[OpRun]
    val jitWaitS = quiesceJit()

    val cold = runOp(prep)
    ops += cold
    val warm = (1 to wl.warmups).map { _ =>
      val w = runOp(prep)
      ops += w
      w.wallS
    }

    def phase(seconds: Double): Vector[OpRun] = {
      val out = Vector.newBuilder[OpRun]
      val t0 = System.nanoTime()
      var k = 0
      while (k < MinTimed || (System.nanoTime() - t0) / 1e9 < seconds) {
        out += runOp(prep)
        k += 1
      }
      val rs = out.result()
      ops ++= rs
      rs
    }

    // A traced run alternates untraced and traced operations, so both
    // halves sit at the same point of the JIT warm-up.
    var traced = Vector.empty[(OpRun, Map[String, Double])]
    var spans = Seq.empty[String]
    val timed =
      if (!o.trace) phase(o.seconds)
      else {
        val tracer = new Tracer(spark, cores)
        val plain = Vector.newBuilder[OpRun]
        val buf = Vector.newBuilder[(OpRun, Map[String, Double])]
        val t0 = System.nanoTime()
        var k = 0
        while (k < 2 * MinTimed || (System.nanoTime() - t0) / 1e9 < o.seconds) {
          if (k % 2 == 0) plain += runOp(prep)
          else {
            tracer.attach()
            try {
              val before = tracer.calls.size
              val r = runOp(prep)
              buf += r -> tracer.layers(tracer.calls.drop(before), r.wallS * 1000)
            } finally tracer.detach()
          }
          k += 1
        }
        traced = buf.result()
        spans = tracer.spansJson
        ops ++= traced.map(_._1)
        ops ++= plain.result()
        plain.result()
      }

    val all = ops.result()
    val failed = all.count(_.errors.nonEmpty)
    all.flatMap(_.errors).distinct.take(20).foreach(e => System.err.println(s"perfbench check: $e"))
    val opS = Stats.median(timed.map(_.wallS))
    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "setup_s" -> (sessionS + Stats.median(genS)),
        "cold_cpu_s" -> cold.cpuS,
        "op_s" -> opS,
        "rows_per_s" -> wl.rowsPerOp / opS,
        "op_cpu_s" -> Stats.median(timed.map(_.cpuS)),
        "peak_heap_mb" -> Heap.peak(timed.map(_.window)) / (1024.0 * 1024.0),
        "success_ratio" -> (all.size - failed).toDouble / all.size)
      else {
        val tracedS = Stats.median(traced.map(_._1.wallS))
        PerLayer.map { m =>
          m -> (m match {
            case "trace.op_s" => tracedS
            case "trace.untraced_op_s" => opS
            case "trace.overhead_s" => tracedS - opS
            case "jvm.jit_s" => Stats.median(traced.map(_._1.jitS))
            case "functions.codegen_compiles" => Stats.median(traced.map(_._1.compiles.toDouble))
            case _ =>
              val xs = traced.map { case (r, l) => l.get(m).orElse(r.counts.get(m)).getOrElse(0.0) }
              Stats.median(xs)
          })
        }
      }
    o.spans.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      java.nio.file.Files.createDirectories(p.toAbsolutePath.getParent)
      java.nio.file.Files.write(p, spans.asJava)
    }
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    println(Json.obj("perfbench" -> Json.Raw(Json.obj(
      "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "sizes" -> wl.sizes, "cores" -> cores, "session" -> Json.Raw(Json.obj(
        spark.conf.getAll.toSeq.sortBy(_._1).filter(kv =>
          Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.session.timeZone", "spark.local.dir").contains(kv._1)): _*)),
      "jvm" -> jvm, "loadavg_start" -> loadStart, "loadavg_end" -> loadavg,
      "session_s" -> sessionS, "setup_gen_s" -> genS, "jit_wait_s" -> jitWaitS, "cold_wall_s" -> cold.wallS,
      "warmup_s" -> warm, "op_samples" -> timed.size,
      "op_s_all" -> timed.map(_.wallS), "traced_ops" -> traced.size))))
    println(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> unit(k)))
      }: _*))))
  }

  /** Each check must accept graft's real output and reject every
    * deliberately wrong variant of it. Returns the exit code. */
  def selftest(spark: SparkSession, scratch: String): Int = {
    def one[R, O](name: String, p: Prepared[R, O]): Seq[String] = {
      val obs = p.observe(p.op())
      val good = p.check(obs)
      val goodLine = if (good.isEmpty) Nil else Seq(s"$name: real output rejected: ${good.mkString("; ")}")
      goodLine ++ p.wrong(obs).flatMap { case (what, bad) =>
        val errs = p.check(bad)
        println(Json.obj("selftest" -> name, "planted" -> what, "rejected" -> errs.nonEmpty,
          "first_error" -> errs.headOption.orNull))
        if (errs.isEmpty) Seq(s"$name: check accepted planted error '$what'") else Nil
      }
    }
    val problems = Workloads.names.flatMap { w =>
      one(w, Workloads(w, scale = 0.1).setup(spark, s"$scratch/selftest_$w", 7L))
    }
    problems.foreach(p => System.err.println(s"perfbench selftest: $p"))
    println(Json.obj("selftest_passed" -> problems.isEmpty))
    if (problems.isEmpty) 0 else 1
  }
}
