package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.filter.CompositeFilter
import scala.jdk.CollectionConverters._

/** Pins the session recipe's log muting: Spark's per-unpersist
  * "locally checkpointed … cannot be recomputed" WARN is dropped, and
  * nothing else the `org.apache.spark.rdd` loggers say at WARN is. */
class SessionsSpec extends SparkSpec {

  test("the checkpoint-unpersist filter drops only its one message") {
    val sc = spark.sparkContext // the session installs the filter
    Sessions.muteCheckpointUnpersistWarn() // a second call adds nothing
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    assert(!cfg.getLoggerConfig("org.apache.spark.rdd").getFilter
      .isInstanceOf[CompositeFilter])
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-sessions-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    app.start()
    cfg.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    try {
      // the real message: unpersist a materialized local checkpoint
      val r = sc.parallelize(1 to 10, 2).localCheckpoint()
      assert(r.count() == 10)
      r.unpersist(blocking = false)
      LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD").warn(
        "RDD 1 was locally checkpointed, its lineage has been truncated " +
          "and cannot be recomputed after unpersisting")
      LogManager.getLogger("org.apache.spark.rdd.HadoopRDD")
        .warn("graft-probe: some other rdd warning")
    } finally {
      cfg.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    val lines = seen.asScala.toSeq
    assert(lines.exists(l => l.startsWith("org.apache.spark.rdd.HadoopRDD") &&
      l.contains("graft-probe")), s"other WARN lost: $lines")
    assert(!lines.exists(_.contains("locally checkpointed")),
      s"checkpoint WARN leaked: $lines")
  }
}
