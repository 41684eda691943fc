package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, InputAdapter,
  QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Entry points the workloads call; a no-op unless a [[Tracer]] is on. */
object Span {
  @volatile var tracer: Tracer = null
  def call[A](name: String)(body: => A): A = {
    val t = tracer
    if (t == null) body else t.call(name)(body)
  }
  def progress(stage: String, feature: String): Unit = {
    val t = tracer
    if (t != null) t.progress(stage)
  }
}

/** Records spans at three levels — public call, Spark job, stage — and
  * the counts each level reports, all from outside the program: a
  * SparkListener (jobs, stages, tasks, cached blocks), a
  * QueryExecutionListener (Catalyst phases and the final physical plan
  * with its SQL metrics) and Build's `progress` hook. A call's span id
  * travels to its jobs as the local property [[Tracer.Prop]]. Spans stay
  * in memory until [[spansJson]] writes them out. */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private var nextId = 0L
  private var current: CallRec = null
  private val byId = mutable.LinkedHashMap.empty[Long, CallRec]
  private val stageCall = mutable.Map.empty[Int, (CallRec, JobRec)]

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    Span.tracer = this
  }
  def detach(): Unit = {
    Span.tracer = null
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  def call[A](name: String)(body: => A): A = {
    val rec = synchronized {
      nextId += 1
      val r = new CallRec(nextId, name, System.currentTimeMillis())
      byId(r.id) = r
      current = r
      r
    }
    sc.setLocalProperty(Prop, rec.id.toString)
    try body
    finally {
      rec.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Prop, null)
      org.apache.spark.perfbench.BusAccess.drain(sc)
      synchronized { current = null }
    }
  }

  /** Build's stage hook: `write`/`verify` fire right before the action
    * that executes the plan, which ends the driver-side planning phase. */
  def progress(stage: String): Unit = synchronized {
    if ((stage == "write" || stage == "verify") && current != null && current.progressMs < 0)
      current.progressMs = System.currentTimeMillis()
  }

  private def owner(props: java.util.Properties): CallRec = {
    val id = Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)
    id.flatMap(byId.get).getOrElse(current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = owner(e.properties)
    if (c != null) {
      val j = new JobRec(e.jobId, e.time)
      c.jobs += j
      e.stageIds.foreach(s => if (!stageCall.contains(s)) stageCall(s) = (c, j))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.values.foreach(_.jobs.find(_.id == e.jobId).foreach(_.endMs = e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageCall.get(i.stageId).foreach { case (_, j) =>
      j.stages += new StageRec(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.accumulables.keySet.toSet)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCall.get(e.stageId).foreach { case (c, _) =>
      val m = e.taskMetrics
      val t = new TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        failed = !e.taskInfo.successful)
      if (m != null) {
        t.cpuNs = m.executorCpuTime
        t.gcMs = m.jvmGCTime
        t.shuffleRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
        t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        t.spillDisk = m.diskBytesSpilled
        t.result = m.resultSize
      }
      c.tasks += t
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (current != null && b.blockId.isRDD && b.storageLevel.isValid)
      current.cacheBytes += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { if (current != null) record(current, qe, durationNs) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Catalyst phase times, plan shape and SQL metrics of one query. */
  private def record(c: CallRec, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, s) => c.phaseMs(phase) += s.durationMs }
    var writes = false
    def metric(p: SparkPlan, name: String, key: String): Unit =
      p.metrics.get(name).foreach(m => c.metrics(m.id) = (key, m.value))
    def walk(p: SparkPlan, inCodegen: Boolean): Unit =
      if (!c.seen.containsKey(p)) {
        c.seen.put(p, ())
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
          case s: QueryStageExec => walk(s.plan, inCodegen = false)
          case r: CommandResultExec => walk(r.commandPhysicalPlan, inCodegen)
          case _: ReusedExchangeExec => ()
          case w: WholeStageCodegenExec =>
            metric(w, "pipelineTime", "codegen_ms")
            walk(w.child, inCodegen = true)
          case i: InputAdapter => walk(i.child, inCodegen = false)
          case other =>
            c.operators += 1
            other match {
              case _: Exchange => c.exchanges += 1
              case _: DataWritingCommandExec => writes = true
              case _ => if (!inCodegen) c.interpreted += 1
            }
            other match {
              case s: FileSourceScanExec =>
                metric(s, "scanTime", "scan_ms"); metric(s, "filesSize", "read_bytes")
                metric(s, "numFiles", "files")
              case a: BaseAggregateExec => metric(a, "aggTime", "agg_ms")
              case d: DataWritingCommandExec =>
                metric(d, "numOutputBytes", "write_bytes"); metric(d, "numFiles", "write_files")
              case w: WindowExec => carry(w)
              case _ => ()
            }
            other match {
              case i: InMemoryTableScanExec => walk(i.relation.cachedPlan, inCodegen = false)
              case _ => ()
            }
            other.children.foreach(walk(_, inCodegen))
            other.subqueries.foreach(walk(_, inCodegen = false))
        }
      }
    /** The as-of carry: a window over a sort over the key exchange. */
    def carry(w: WindowExec): Unit = {
      def down(p: SparkPlan): Unit = p match {
        case s: QueryStageExec => down(s.plan)
        case e: Exchange => metric(e, "shuffleBytesWritten", "carry_shuffle_bytes")
        case s: SortExec =>
          metric(s, "sortTime", "carry_sort_ms"); metric(s, "spillSize", "carry_spill_bytes")
          s.metrics.get("sortTime").foreach(m => c.carrySortIds += m.id)
          s.children.foreach(down)
        case other => other.children.foreach(down)
      }
      down(w.child)
    }
    walk(qe.executedPlan, inCodegen = false)
    if (writes) c.writeMs += durationNs / 1e6
  }

  def calls: Seq[CallRec] = synchronized(byId.values.toSeq)

  /** Spans as JSON lines: call → job → stage, each with its parent. */
  def spansJson: Seq[String] = synchronized {
    byId.values.toSeq.flatMap { c =>
      Json.obj("id" -> s"c${c.id}", "name" -> c.name, "parent" -> null,
        "start_ms" -> c.startMs, "end_ms" -> c.endMs) +:
        c.jobs.toSeq.flatMap { j =>
          Json.obj("id" -> s"j${j.id}", "name" -> "job", "parent" -> s"c${c.id}",
            "start_ms" -> j.startMs, "end_ms" -> j.endMs) +:
            j.stages.toSeq.map(s => Json.obj("id" -> s"s${s.id}", "name" -> "stage",
              "parent" -> s"j${j.id}", "start_ms" -> s.startMs, "end_ms" -> s.endMs,
              "tasks" -> s.numTasks))
        }
    }
  }

  /** Per-layer numbers for one operation made of `calls`, over `wallMs`. */
  def layers(calls: Seq[CallRec], wallMs: Double): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val mb = 1024.0 * 1024.0
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    def metric(cs: Seq[CallRec], key: String): Double =
      cs.flatMap(_.metrics.values.collect { case (`key`, v) => v.toDouble }).sum
    def named(n: String) = calls.filter(_.name == n)
    val tasks = calls.flatMap(_.tasks)
    val jobs = calls.flatMap(_.jobs)
    val stages = jobs.flatMap(_.stages)
    val taskMs = tasks.map(t => (t.finishMs - t.launchMs).toDouble).sum

    // Spark scheduler and executor
    add("spark.jobs", jobs.size)
    add("spark.stages", stages.size)
    add("spark.tasks", tasks.size)
    add("spark.task_s", taskMs / 1000)
    add("spark.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
    add("spark.gc_s", tasks.map(_.gcMs).sum / 1000.0)
    add("spark.shuffle_read_mb", tasks.map(_.shuffleRead).sum / mb)
    add("spark.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / mb)
    add("spark.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1000.0)
    add("spark.spill_disk_mb", tasks.map(_.spillDisk).sum / mb)
    add("spark.result_mb", tasks.map(_.result).sum / mb)
    add("spark.failed_tasks", tasks.count(_.failed))
    add("spark.busy_ratio", if (wallMs > 0) taskMs / (wallMs * cores) else 0)
    add("spark.driver_s", calls.map(c => c.durMs - covered(c.startMs, c.endMs,
      c.tasks.map(t => (t.launchMs, t.finishMs)))).sum / 1000)

    // span self times: call minus its jobs, job minus its stages, stage
    add("span.call_self_s", calls.map(c => c.durMs - covered(c.startMs, c.endMs,
      c.jobs.map(j => (j.startMs, j.endMs)))).sum / 1000)
    add("span.job_self_s", jobs.map(j => (j.endMs - j.startMs) - covered(j.startMs, j.endMs,
      j.stages.map(s => (s.startMs, s.endMs)))).sum / 1000)
    add("span.stage_s", stages.map(s => (s.endMs - s.startMs).toDouble).sum / 1000)
    add("span.count", calls.size + jobs.size + stages.size)

    // Catalyst and plan shape, over every query the calls ran
    add("catalyst.analysis_ms", calls.map(_.phaseMs("analysis")).sum)
    add("catalyst.optimizer_ms", calls.map(_.phaseMs("optimization")).sum)
    add("catalyst.planning_ms", calls.map(_.phaseMs("planning")).sum)
    add("plan.operators", calls.map(_.operators).sum)
    add("plan.exchanges", calls.map(_.exchanges).sum)
    add("plan.interpreted_ops", calls.map(_.interpreted).sum)
    add("functions.codegen_ms", metric(calls, "codegen_ms"))
    add("sources.scan_ms", metric(calls, "scan_ms"))
    add("sources.read_mb", metric(calls, "read_bytes") / mb)
    add("sources.files", metric(calls, "files"))

    // graft.engine.Build, its as-of carry, verify/stats and output
    val builds = named("Graft.build")
    add("build.plan_s", builds.map(c => c.execStartMs - c.startMs).sum / 1000.0)
    add("build.exec_s", builds.map(c => c.endMs - c.execStartMs).sum / 1000.0)
    val preJobs = builds.flatMap(c => c.jobs.filter(_.startMs < c.execStartMs))
    add("build.pre_jobs", preJobs.size)
    add("build.pre_jobs_s", builds.map(c => covered(c.startMs, c.execStartMs,
      c.jobs.filter(_.startMs < c.execStartMs).map(j => (j.startMs, j.endMs)))).sum / 1000)
    add("build.agg_ms", metric(builds, "agg_ms"))
    add("cache.mb", builds.map(_.cacheBytes).sum / mb)
    add("write.ms", builds.map(_.writeMs).sum)
    add("write.output_mb", metric(builds, "write_bytes") / mb)
    add("write.files", metric(builds, "write_files"))
    add("asof.shuffle_write_mb", metric(builds, "carry_shuffle_bytes") / mb)
    add("asof.sort_ms", metric(builds, "carry_sort_ms"))
    add("asof.spill_mb", metric(builds, "carry_spill_bytes") / mb)
    val carryTasks = builds.flatMap { c =>
      val carryStages = c.jobs.flatMap(_.stages).filter(_.accIds.exists(c.carrySortIds)).map(_.id).toSet
      c.tasks.filter(t => carryStages(t.stageId)).map(t => (t.finishMs - t.launchMs) / 1000.0)
    }.sorted
    add("asof.max_task_s", carryTasks.lastOption.getOrElse(0.0))
    add("asof.task_skew", if (carryTasks.isEmpty) 0.0
      else carryTasks.last / math.max(1e-3, Stats.median(carryTasks)))

    // graft.engine.Audit and Diff
    val audits = named("Graft.auditTemporal")
    add("audit.call_s", audits.map(_.durMs).sum / 1000)
    add("audit.agg_ms", metric(audits, "agg_ms"))
    add("audit.final_tasks", audits.flatMap(_.jobs.flatMap(_.stages)).sortBy(_.endMs)
      .lastOption.map(_.numTasks.toDouble).getOrElse(0.0))
    add("audit.busy_ratio", audits.map(c =>
      c.tasks.map(t => (t.finishMs - t.launchMs).toDouble).sum / math.max(1.0, c.durMs * cores)).sum)
    val diffs = named("Graft.diff")
    add("diff.call_s", diffs.map(_.durMs).sum / 1000)
    add("diff.shuffle_write_mb", diffs.flatMap(_.tasks).map(_.shuffleWrite).sum / mb)

    // graft.ops curation (the ledger counts come from the result)
    val curations = named("Curation.curate")
    add("curation.call_s", curations.map(_.durMs).sum / 1000)
    add("curation.shuffle_write_mb", curations.flatMap(_.tasks).map(_.shuffleWrite).sum / mb)
    add("curation.jobs", curations.map(_.jobs.size).sum)
    out.toMap
  }
}

object Tracer {
  val Prop = "perfbench.span"

  final class CallRec(val id: Long, val name: String, val startMs: Long) {
    var endMs = 0L
    var progressMs = -1L
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
    val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var operators = 0
    var exchanges = 0
    var interpreted = 0
    /** accumulator id -> (metric key, value): a plan node seen by two
      * queries (a cached plan) counts once */
    val metrics = mutable.Map.empty[Long, (String, Long)]
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    val carrySortIds = mutable.Set.empty[Long]
    var cacheBytes = 0L
    var writeMs = 0.0
    def durMs: Double = (endMs - startMs).toDouble
    /** End of planning: the first write/verify callback, else the end. */
    def execStartMs: Long = if (progressMs >= 0) progressMs else endMs
  }
  final class JobRec(val id: Int, val startMs: Long) {
    var endMs = 0L
    val stages = mutable.ArrayBuffer.empty[StageRec]
  }
  final class StageRec(val id: Int, val numTasks: Int, val startMs: Long, val endMs: Long,
      val accIds: Set[Long])
  final class TaskRec(val stageId: Int, val launchMs: Long, val finishMs: Long, val failed: Boolean) {
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var shuffleWrite = 0L
    var spillDisk = 0L
    var result = 0L
  }

  /** Milliseconds of [lo, hi] covered by the union of `spans`. */
  def covered(lo: Long, hi: Long, spans: Iterable[(Long, Long)]): Double = {
    var total = 0L
    var reach = lo
    spans.toSeq.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(s => s._2 > s._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total.toDouble
  }
}
