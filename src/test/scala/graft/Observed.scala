package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{ExecutionEndPlan, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** What a block ran, seen by a SparkListener through a job tag set on
  * the calling thread (so other threads' work stays out):
  *   - `executions`: each SQL execution's description (its call site)
  *     and query execution, in start order;
  *   - `stageTasks`: the task count of every stage;
  *   - `bareJobs`: the jobs started outside any SQL execution. */
final case class Observed(executions: Seq[(String, QueryExecution)],
    stageTasks: Seq[Int], bareJobs: Int)

object Observed {
  def apply(spark: SparkSession)(body: => Unit): Observed = {
    val sc = spark.sparkContext
    val tag = s"graft-observed-${java.util.UUID.randomUUID}"
    def tagged(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
        .exists(_.split(',').contains(tag))
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, QueryExecution]()
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val bareJobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobTags(tag) =>
          started.add(x.executionId -> x.description)
        case x: SparkListenerSQLExecutionEnd =>
          ExecutionEndPlan(x).foreach(plans.put(x.executionId, _))
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) stageTasks.add(e.stageInfo.numTasks)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties) &&
            e.properties.getProperty("spark.sql.execution.id") == null)
          bareJobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    Observed(
      started.asScala.toSeq.map { case (id, d) =>
        d -> Option(plans.get(id)).getOrElse(
          throw new IllegalStateException(s"no plan for execution $id: $d"))
      },
      stageTasks.asScala.toSeq, bareJobs.get)
  }
}
