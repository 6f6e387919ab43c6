package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** Job-count assertions for specs: `body`'s result and the Spark jobs submitted
  * while it ran (listener events drained on both sides). */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (r, jobs, _) = withScans(spark)(body)
    (r, jobs)
  }

  /** [[apply]], plus the `Location` of every file scan in the plans of the SQL
    * executions `body` ran (initial and adaptive re-plans alike). */
  def withScans[T](spark: SparkSession)(body: => T): (T, Int, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val scans = new ConcurrentLinkedQueue[String]()
    def locations(p: SparkPlanInfo): Unit = {
      p.metadata.get("Location").foreach(scans.add)
      p.children.foreach(locations)
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => locations(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => locations(u.sparkPlanInfo)
        case _ =>
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val result =
      try { val r = body; ListenerDrain(sc); r }
      finally sc.removeSparkListener(listener)
    (result, jobs.get, scans.asScala.toSeq)
  }
}
