package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.filter.CompositeFilter
import scala.jdk.CollectionConverters._
import graft.sink.{DeltaStore, NioLocalFileSystem}

/** Pins the session recipe's log muting (Spark's per-unpersist
  * "locally checkpointed … cannot be recomputed" WARN is dropped, and
  * nothing else the `org.apache.spark.rdd` loggers say at WARN is) and
  * its `file:` filesystem (local writes start no `chmod` process and
  * leave the same modes and `.crc` sidecars as Hadoop's stock one). */
class SessionsSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Hadoop's stock local filesystem, built outside the FS cache. */
  private def stockFs(): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), hconf)
    fs
  }

  /** The `chmod` process starts (JFR `jdk.ProcessStart` commands) that
    * `body` caused. */
  private def chmodsDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft-proc", ".jfr")
      rec.dump(out)
      try RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command")).filter(_.startsWith("chmod"))
      finally Files.delete(out)
    } finally rec.close()
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def rwx(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** mkdirs two levels, create one file: the calls every writer makes. */
  private def touchTree(fs: FileSystem, root: String): Unit = {
    fs.mkdirs(new Path(s"$root/d/e"))
    val o = fs.create(new Path(s"$root/d/e/f.bin"))
    try o.write(7) finally o.close()
  }

  test("the session's file: filesystem is NioLocalFileSystem") {
    assert(FileSystem.get(URI.create("file:///"), hconf)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("a 16-bucket DeltaStore append starts no chmod process") {
    val target = Files.createTempDirectory("graft-nio-delta").toString + "/state"
    val stockRoot = Files.createTempDirectory("graft-nio-stock").toString
    val net = (0 until 400).map(i =>
      (s"sbtest${i % 10}", i.toLong, "insert", i.toLong, i, i * 0.5))
      .toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v")
    val chmods = chmodsDuring {
      DeltaStore.append(net, target, Seq("tbl", "pk"), nBuckets = 16,
        batchId = 0)
      // control: the stock filesystem's forks for the same 16 dirs+files
      val stock = stockFs()
      (0 until 16).foreach(b => touchTree(stock, s"$stockRoot/bucket=$b"))
    }
    val buckets = Option(new java.io.File(s"$target/gen-0").list())
      .getOrElse(Array.empty).count(_.startsWith("bucket="))
    assert(buckets === 16)
    val ours = chmods.filter(_.contains(target))
    assert(ours.isEmpty, s"${ours.size} chmod forks, e.g. ${ours.take(3)}")
    if (!NativeIO.isAvailable)
      assert(chmods.count(_.contains(stockRoot)) >= 3 * 16,
        "the stock filesystem should fork per dir, file and .crc")
  }

  test("modes equal the stock filesystem's under umask 022; .crc stays") {
    assert(FsPermission.getUMask(hconf).toShort === Integer.parseInt("022", 8))
    val nioRoot = Files.createTempDirectory("graft-nio-modes").toString
    val stockRoot = Files.createTempDirectory("graft-stock-modes").toString
    touchTree(FileSystem.get(URI.create("file:///"), hconf), nioRoot)
    touchTree(stockFs(), stockRoot)
    Seq("d", "d/e", "d/e/f.bin", "d/e/.f.bin.crc").foreach { rel =>
      assert(mode(Paths.get(nioRoot, rel)) === mode(Paths.get(stockRoot, rel)), rel)
    }
    assert(rwx(Paths.get(nioRoot, "d/e")) === "rwxr-xr-x")
    assert(rwx(Paths.get(nioRoot, "d/e/f.bin")) === "rw-r--r--")
    // a generation write: every bucket dir, part file and sidecar
    val target = Files.createTempDirectory("graft-nio-gen").toString + "/state"
    DeltaStore.append(Seq(("t", 1L, "insert", 1L, 1, 1.0),
        ("t", 2L, "insert", 2L, 2, 2.0)).toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v"),
      target, Seq("tbl", "pk"), nBuckets = 4, batchId = 0)
    val gen = Paths.get(target, "gen-0")
    val dirs = Files.list(gen).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("bucket="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      assert(rwx(d) === "rwxr-xr-x", d)
      val parts = Files.list(d).iterator.asScala.toSeq
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      assert(parts.nonEmpty, d)
      parts.foreach { f =>
        assert(rwx(d.resolve(f)) === "rw-r--r--", f)
        assert(Files.exists(d.resolve(s".$f.crc")), s"no .crc for $f")
      }
    }
  }

  test("a sticky-bit setPermission gives the stock filesystem's mode") {
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    val modes = Seq(FileSystem.get(URI.create("file:///"), hconf), stockFs())
      .map { fs =>
        val d = Files.createTempDirectory("graft-sticky")
        fs.setPermission(new Path(d.toUri), sticky)
        mode(d)
      }
    assert(modes.head === modes.last)
    assert(modes.head === Integer.parseInt("1755", 8))
  }

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
