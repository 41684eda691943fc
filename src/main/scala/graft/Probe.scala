package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.ListenerBridge

/** Dev probe over Bench's own row table ([[Bench.rows]]), on Bench's
  * session ([[Bench.session]]), so a probed row is the bench row.
  * The scale dir is SPARK_GRAFT_SF_DIR, as for Bench.
  *
  *  - `row <name[,name…]> [reps]`: runs the named rows in order, each
  *    with one warm-up and `reps` (default 3) timed runs. Every run
  *    prints wall time, jobs, stages, tasks and GC ms, preceded by one
  *    line per stage (wall, task run, CPU).
  *    `sbt "runMain graft.Probe row q_build_e2e,build_100k_x1 2"`
  *  - `plan <names|all> [pattern]`: prints each contract query's
  *    formatted plan after an `=== name ===` marker; with a pattern,
  *    how often it occurs in each query's executed plan instead.
  *    `sbt "runMain graft.Probe plan all SortAggregate"`
  *  - `warn [prefix] [reps]`: runs every row whose name starts with
  *    `prefix` (default `q_`) warm-up + `reps` (default 3) times with
  *    no cache clear in between — a Bench measure — and attributes
  *    CacheManager "already cached" warnings to the row that fired
  *    them. `sbt "runMain graft.Probe warn q_pit 1"`
  *
  * Exit status: 2 for a usage error or an unknown name (nothing runs),
  * 1 when a query failed or a `warn` row fired a warning, else 0. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    val code =
      try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), args.toSeq)
      finally spark.stop()
    sys.exit(code)
  }

  private val Usage =
    "usage: Probe row <name[,name…]> [reps] | plan <names|all> [pattern] | warn [prefix] [reps]"

  def run(spark: SparkSession, sfDir: String, args: Seq[String],
      out: String => Unit = println): Int = {
    def reps(arg: Option[String]): Option[Int] =
      arg.fold(Option(3))(_.toIntOption.filter(_ > 0))
    def names(arg: String): Seq[String] = arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val code = args match {
      case Seq("row", ns, rest @ _*) if rest.size <= 1 =>
        reps(rest.headOption).map(row(spark, sfDir, names(ns), _, out))
      case Seq("plan", ns, rest @ _*) if rest.size <= 1 =>
        Some(plan(spark, sfDir, names(ns), rest.headOption, out))
      case Seq("warn", rest @ _*) if rest.size <= 2 =>
        reps(rest.lift(1)).map(warn(spark, sfDir, rest.headOption.getOrElse("q_"), _, out))
      case _ => None
    }
    code.getOrElse { System.err.println(Usage); 2 }
  }

  /** Every name looked up in `known`, or None after printing the known
    * names: a misspelled name must fail loudly and run nothing, not
    * exit 0 having done less than asked (Verify's rule). */
  private def resolve[A](names: Seq[String], known: Seq[(String, A)]): Option[Seq[(String, A)]] = {
    val byName = known.toMap
    val missing = names.filterNot(byName.contains)
    if (names.nonEmpty && missing.isEmpty) Some(names.map(n => n -> byName(n)))
    else {
      System.err.println(s"[probe] unknown name(s) '${missing.mkString("', '")}' " +
        s"(known: ${known.map(_._1).sorted.mkString(", ")})")
      None
    }
  }

  def row(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      out: String => Unit): Int =
    resolve(names, Bench.rows(spark, sfDir)).fold(2) { picked =>
      val sc = spark.sparkContext
      val jobs, stages, tasks = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          stages.incrementAndGet()
          tasks.addAndGet(i.numTasks)
          val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield (b - a) / 1e3)
            .getOrElse(-1.0)
          out(f"[probe]   stage ${i.stageId} (${i.numTasks}t): wall=$wall%.1fs " +
            f"taskRun=${i.taskMetrics.executorRunTime / 1e3}%.1fs " +
            f"taskCpu=${i.taskMetrics.executorCpuTime / 1e9}%.1fs ${i.name.take(60)}")
        }
      }
      def gcMillis(): Long =
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum
      sc.addSparkListener(listener)
      try picked.foreach { case (name, body) =>
        (0 to reps).foreach { i =>
          if (!name.startsWith("q_")) Bench.syncFs()
          val (j0, s0, t0, g0) = (jobs.get, stages.get, tasks.get, gcMillis())
          val start = System.nanoTime()
          body()
          val secs = (System.nanoTime() - start) / 1e9
          val gc = gcMillis() - g0
          ListenerBridge.drain(sc)
          out(f"[probe] $name ${if (i == 0) "warmup" else s"run$i"}: $secs%.2fs " +
            s"jobs=${jobs.get - j0} stages=${stages.get - s0} tasks=${tasks.get - t0} gc=${gc}ms")
          if (i == 0) Bench.settle(spark, name)
        }
        spark.catalog.clearCache()
        Bench.settle(spark, name)
      } finally sc.removeSparkListener(listener)
      0
    }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String], pattern: Option[String],
      out: String => Unit): Int = {
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val picked = if (names == Seq("all")) Some(queries) else resolve(names, queries)
    picked.fold(2) { qs =>
      var hits, failed = 0
      qs.foreach { case (name, fn) =>
        try pattern match {
          case None =>
            out(s"=== $name ===")
            out(fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted")))
          case Some(p) =>
            val n = p.r.findAllIn(fn(spark, sfDir).queryExecution.executedPlan.toString).size
            if (n > 0) { hits += 1; out(s"[probe] $name: $n x $p") }
        } catch {
          case NonFatal(e) => failed += 1; out(s"[probe] $name: ERROR ${e.getMessage}")
        }
      }
      pattern.foreach(p => out(s"[probe] $hits queries contain '$p'"))
      if (failed > 0) 1 else 0
    }
  }

  def warn(spark: SparkSession, sfDir: String, prefix: String, reps: Int,
      out: String => Unit): Int = {
    val all = Bench.rows(spark, sfDir)
    // a prefix that matches no row is reported like an unknown name
    val matched = all.map(_._1).filter(_.startsWith(prefix))
    resolve(if (matched.isEmpty) Seq(prefix) else matched, all).fold(2) { picked =>
      // attach AFTER session creation: Spark reconfigures log4j on startup
      val fired = new AtomicInteger
      val appender = new AbstractAppender("graft-probe-warn", null, null, false, Array.empty) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.contains("already cached")) { fired.incrementAndGet(); () }
      }
      val logger = LogManager.getLogger("org.apache.spark.sql.execution.CacheManager")
        .asInstanceOf[Logger]
      appender.start()
      logger.addAppender(appender)
      var dirty, failed = 0
      try picked.foreach { case (name, body) =>
        val before = fired.get
        try {
          (0 to reps).foreach(_ => body()) // 0th = warm-up
          val n = fired.get - before
          if (n > 0) { dirty += 1; out(s"[probe] $name: $n re-cache warnings") }
          else out(s"[probe] $name: clean")
        } catch {
          case NonFatal(e) => failed += 1; out(s"[probe] $name: FAILED ${e.getMessage}")
        } finally spark.catalog.clearCache()
      } finally {
        logger.removeAppender(appender)
        appender.stop()
      }
      out(s"[probe] dirty rows: $dirty, failed rows: $failed")
      if (dirty + failed > 0) 1 else 0
    }
  }
}
