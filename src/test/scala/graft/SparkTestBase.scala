package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (SBT runs suites in one
  * JVM; re-creating sessions per suite costs ~5s each).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** `body`'s result and every query (action) it ran, as a
    * QueryExecutionListener saw them, in completion order. */
  def queriesOf[T](body: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe)
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out = try {
      val r = body
      ListenerBridge.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSeq)
  }
}
