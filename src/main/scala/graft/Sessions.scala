package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.logging.log4j.core.filter.{AbstractFilter, CompositeFilter}
import org.apache.spark.sql.SparkSession

/** ONE local-session recipe shared by every entrypoint (Run, Verify,
  * Bench, StreamBench, the probes): the bench must measure the same
  * session production runs — r21 carried
  * `canChangeCachedPlanOutputPartitioning` in Bench only, so the bench
  * timed plans Run/Verify would never produce (and the r20→r21 deltas
  * on cache-heavy queries conflated the flag with the code changes). */
object Sessions {

  /** Local session with the engine's shared config. `shufflePartitions`
    * defaults to the core count (the local-mode scale heuristic every
    * entrypoint used); pass it explicitly when a tool needs a different
    * plan shape (Explain mirrors the 32-core bench session). */
  def local(cpus: String, shufflePartitions: String = null,
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        Option(shufflePartitions).getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // let AQE coalesce CACHED plans too (off by default): the hot ops
      // cache their operand frames (signatures, edge sets, adjacency),
      // and without this every cache materializes at the full session
      // shuffle constant instead of the input-sized partitioning AQE
      // would pick — the same §2 scale-adaptivity the uncached plans
      // already get. Values are unaffected (partitioning only).
      // SPARK_GRAFT_CACHED_REPART=0 is the A/B attribution knob: a
      // paired bench with it toggled prices this flag alone (it was a
      // bench-only config in r21, confounding the round's deltas).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        (sys.env.getOrElse("SPARK_GRAFT_CACHED_REPART", "1") != "0").toString)
      // list input paths on the driver, never in a Spark job: a store
      // read hands the scan one path per live chain segment (512 for a
      // 64-bucket delta store at 8 generations), far above the default
      // threshold of 32, and the "parallel" listing job then runs on the
      // same local cores at ~5 ms of scheduling per path-task — seconds
      // per read for what a driver-side listStatus does in milliseconds.
      // A cluster session, whose listing tasks run on other machines,
      // is not built here.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    muteCheckpointUnpersistWarn()
    s
  }

  /** The iterative ops' per-round lineage-cut discipline (Lineage.cut)
    * unpersists the PREVIOUS round's localCheckpoint every round, and
    * Spark logs a WARN ("RDD … was locally checkpointed … cannot be
    * recomputed after unpersisting") per unpersist — thousands of lines
    * per run that drowned the one real failure out of r21's `sbt test`
    * tail. The unpersist is deliberate (the frame that read those
    * blocks is gone), so that one message carries no signal: a filter
    * on the `org.apache.spark.rdd` logger config denies it, and every
    * other WARN of the package (HadoopRDD reads, caching) still
    * reaches the appenders. Idempotent; the package level is WARN. */
  def muteCheckpointUnpersistWarn(): Unit =
    try {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val pkg = "org.apache.spark.rdd"
      val lc = Option(cfg.getLoggers.get(pkg)).getOrElse {
        val c = new LoggerConfig(pkg, Level.WARN, true)
        cfg.addLogger(pkg, c)
        c
      }
      lc.setLevel(Level.WARN)
      val installed = lc.getFilter match {
        case _: CheckpointUnpersistFilter => true
        case c: CompositeFilter =>
          c.getFiltersArray.exists(_.isInstanceOf[CheckpointUnpersistFilter])
        case _ => false
      }
      if (!installed) lc.addFilter(new CheckpointUnpersistFilter)
      ctx.updateLoggers()
    } catch { case _: Throwable => () } // logging must never fail a run

  /** Denies exactly Spark's "locally checkpointed … cannot be
    * recomputed after unpersisting" message; passes everything else. */
  private final class CheckpointUnpersistFilter extends AbstractFilter {
    override def filter(e: LogEvent): Filter.Result = {
      val m = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (m.contains("was locally checkpointed") &&
          m.contains("cannot be recomputed after unpersisting")) Filter.Result.DENY
      else Filter.Result.NEUTRAL
    }
  }
}
