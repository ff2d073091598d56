package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `layer` is the graft
  * package the call enters (pipeline, source, op, streaming, sink, ops,
  * functions); `parent` is the span that caused it (0 = none). */
final case class Span(id: Long, layer: String, name: String, parent: Long,
    startNs: Long, endNs: Long)

/** Per-stage task totals, attributed to the innermost open span of the
  * thread that started the stage's job. */
final class StageAgg(val stageId: Int, val span: Long, val batch: Long) {
  var tasks = 0
  var runMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** In-memory span recorder plus the Spark listeners that attribute work
  * to spans. Spans tag the jobs they start (`SparkContext.addJobTag`),
  * so task time, shuffle, spill and output bytes land on the span that
  * caused them. Nothing is written until the run ends. */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  val spans = mutable.ArrayBuffer.empty[Span]
  val stages = mutable.Map.empty[Int, StageAgg]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (span, batch)
  val planMs = mutable.ArrayBuffer.empty[Double]
  val scanBytes = mutable.Map.empty[Int, Long] // file scan (by identity) -> bytes
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val tagPrefix = "graftbench-span-"

  /** Run `body` as a span of `layer`; the body receives the span id so
    * work it hands to other threads (foreachBatch) can name its parent. */
  def span[T](layer: String, name: String, parent: Long = -1L)(body: Long => T): T = {
    val id = nextId.incrementAndGet()
    val par = if (parent >= 0) parent else open.get().headOption.getOrElse(0L)
    val tag = tagPrefix + id
    sc.addJobTag(tag)
    open.set(id :: open.get())
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      open.set(open.get().tail)
      sc.removeJobTag(tag)
      synchronized { spans += Span(id, layer, name, par, t0, t1) }
    }
  }

  private def innermost(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.startsWith(tagPrefix))
        .map(_.stripPrefix(tagPrefix).toLong))
      .filter(_.nonEmpty).map(_.max).getOrElse(0L)

  private def batchOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val sp = innermost(e.properties)
      val b = batchOf(e.properties)
      jobs += ((sp, b))
      e.stageIds.foreach(id => if (!stages.contains(id)) stages(id) = new StageAgg(id, sp, b))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach { a =>
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.taskMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Per executed query: Catalyst analysis + optimisation + planning
    * time, and the bytes of the files its scans read (the scan's own
    * "size of files read"; task input metrics miss vectored parquet reads
    * and count cached-block reads). Scans under a cached relation count
    * once, however many queries read the cache. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private val plans = new AdaptiveSparkPlanHelper {}
    private def scans(plan: SparkPlan, into: mutable.Map[Int, Long]): Unit =
      plans.foreach(plan) {
        case s: FileSourceScanExec =>
          into(System.identityHashCode(s)) = s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case c: InMemoryTableScanExec => scans(c.relation.cachedPlan, into)
        case _ =>
      }
    private def note(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      Trace.this.synchronized { planMs += ms; scans(qe.executedPlan, scanBytes) }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = note(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Block until the listener bus has delivered everything posted so far. */
  def drain(): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def reset(): Unit = synchronized {
    spans.clear(); stages.clear(); jobs.clear(); planMs.clear(); scanBytes.clear()
    progress.clear()
  }

  /** Span duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    (s.endNs - s.startNs) - covered
  }

  /** All spans below (and including) `root`. */
  def subtree(root: Long): Set[Long] = {
    val byParent = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] =
      byParent.getOrElse(id, Nil).map(_.id).toSet.flatMap(go) + id
    go(root)
  }
}

object Trace {
  /** Heap high-water mark and GC time over a region opened by [[open]].
    * The mark is the largest heap occupancy left after any collection in
    * the region (the retained set), or the occupancy at [[peakHeapMb]]
    * if none ran: the pre-collection peak only shows how full the young
    * generation got before the collector ran, which varies from run to
    * run with collector timing. */
  final class Jvm {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile private var mark = 0L
    private var gc0 = 0L
    private def gcMs = gcs.map(g => math.max(g.getCollectionTime, 0L)).sum
    private val onGc = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { mark = math.max(mark, after) }
        }
    }
    gcs.foreach { case e: NotificationEmitter => e.addNotificationListener(onGc, null, null); case _ => }
    def open(): Unit = { synchronized { mark = 0L }; gc0 = gcMs }
    def peakHeapMb: Double = {
      val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      synchronized { (if (mark > 0) mark else now) / 1048576.0 }
    }
    def gcS: Double = (gcMs - gc0) / 1000.0
  }
}
