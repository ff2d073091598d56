package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.io.FileNotFoundException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import scala.util.{Failure, Success, Try}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.filter.CompositeFilter
import scala.jdk.CollectionConverters._
import graft.sink.{DeltaStore, NioLocalFileSystem, NioLocalFs}

/** Pins the session recipe's log muting (Spark's per-unpersist
  * "locally checkpointed … cannot be recomputed" WARN is dropped, and
  * nothing else the `org.apache.spark.rdd` loggers say at WARN is) and
  * its `file:` filesystems, for both Hadoop APIs (local writes and the
  * streaming checkpoint's atomic create+rename start no `chmod` or
  * `readlink` process, and leave the same modes, `.crc` sidecars and
  * link status as Hadoop's stock ones). */
class SessionsSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Hadoop's stock local filesystem, built outside the FS cache. */
  private def stockFs(): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), hconf)
    fs
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
    val chmods = Forks.during {
      DeltaStore.append(net, target, Seq("tbl", "pk"), nBuckets = 16,
        batchId = 0)
      // control: the stock filesystem's forks for the same 16 dirs+files
      val stock = stockFs()
      (0 until 16).foreach(b => touchTree(stock, s"$stockRoot/bucket=$b"))
    }.filter(_.startsWith("chmod"))
    assert(DeltaStore.readManifest(target).size === 16)
    val gen = Option(new java.io.File(s"$target/gen-0").list()).getOrElse(Array.empty)
    assert(gen.exists(_.endsWith(".parquet")) && !gen.exists(_.startsWith("bucket=")),
      gen.toSeq)
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
    // a generation write: the generation dir, every part file and sidecar
    val target = Files.createTempDirectory("graft-nio-gen").toString + "/state"
    DeltaStore.append(Seq(("t", 1L, "insert", 1L, 1, 1.0),
        ("t", 2L, "insert", 2L, 2, 2.0)).toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v"),
      target, Seq("tbl", "pk"), nBuckets = 4, batchId = 0)
    val gen = Paths.get(target, "gen-0")
    assert(rwx(gen) === "rwxr-xr-x", gen)
    val parts = Files.list(gen).iterator.asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty, gen)
    parts.foreach { f =>
      assert(rwx(gen.resolve(f)) === "rw-r--r--", f)
      assert(Files.exists(gen.resolve(s".$f.crc")), s"no .crc for $f")
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

  /** The session's Hadoop conf with the stock `file:` `FileContext`. */
  private def stockFcConf(): Configuration = {
    val c = new Configuration(hconf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    c
  }

  /** One checkpoint write as Spark's metadata logs make it: an atomic
    * create (temp file, then rename) of `dir/0`. */
  private def checkpointWrite(conf: Configuration, dir: String): Unit = {
    val out = CheckpointFileManager.create(new Path(dir), conf)
      .createAtomic(new Path(s"$dir/0"), false)
    try out.write("v1\n{}\n".getBytes("UTF-8")) finally out.close()
  }

  test("the session's file: FileContext is NioLocalFs") {
    assert(FileContext.getFileContext(new URI("file:///"), hconf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a checkpoint's atomic write starts no readlink or chmod process") {
    val dir = Files.createTempDirectory("graft-ckpt-nio").toString
    val stockDir = Files.createTempDirectory("graft-ckpt-stock").toString
    val stockConf = stockFcConf()
    assert(FileContext.getFileContext(new URI("file:///"), stockConf)
      .getDefaultFileSystem.isInstanceOf[LocalFs])
    val forks = Forks.during {
      checkpointWrite(hconf, dir)
      // control: the stock FileContext's forks for the same write
      checkpointWrite(stockConf, stockDir)
    }
    assert(Files.exists(Paths.get(dir, "0")) && Files.exists(Paths.get(dir, ".0.crc")))
    val ours = Forks.linkOrChmod(forks, dir)
    assert(ours.isEmpty, s"${ours.size} forks, e.g. ${ours.take(3)}")
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      val stock = Forks.linkOrChmod(forks, stockDir)
      assert(stock.size >= 8, s"the stock FileContext should fork: $stock")
    }
  }

  test("getFileLinkStatus gives the stock answers for files, dirs and links") {
    val root = Files.createTempDirectory("graft-links")
    val file = Files.write(root.resolve("f"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val dangling = Files.createSymbolicLink(root.resolve("x"), root.resolve("gone"))
    val missing = root.resolve("missing")
    val nio = new NioLocalFileSystem.Raw
    val stock = new RawLocalFileSystem
    Seq(nio, stock).foreach(_.initialize(URI.create("file:///"), hconf))
    def answer(fs: RawLocalFileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map(st =>
      (st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None, st.getLen,
        st.isDirectory))
    for (j <- Seq(file, dir, link, dangling, missing);
         p <- Seq(new Path(j.toString), new Path(j.toUri))) {
      (answer(nio, p), answer(stock, p)) match {
        case (Success(a), Success(b)) => assert(a === b, p)
        case (Failure(a), Failure(b)) =>
          assert(a.isInstanceOf[FileNotFoundException], p)
          assert(b.isInstanceOf[FileNotFoundException], p)
        case (a, b) => fail(s"$p: $a vs the stock $b")
      }
    }
    // the cases above do reach every branch: a link, a dangling link,
    // and a missing path
    assert(nio.getFileLinkStatus(new Path(link.toString)).getSymlink ===
      new Path(file.toUri))
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(Try(nio.getFileLinkStatus(new Path(missing.toString))).isFailure)
  }

  test("a checkpoint file's mode equals the stock FileContext's under umask 022") {
    assert(FsPermission.getUMask(hconf).toShort === Integer.parseInt("022", 8))
    val dir = Files.createTempDirectory("graft-ckpt-mode").toString
    val stockDir = Files.createTempDirectory("graft-ckpt-mode-stock").toString
    checkpointWrite(hconf, dir)
    checkpointWrite(stockFcConf(), stockDir)
    Seq("0", ".0.crc").foreach { rel =>
      assert(mode(Paths.get(dir, rel)) === mode(Paths.get(stockDir, rel)), rel)
    }
    assert(rwx(Paths.get(dir, "0")) === "rw-r--r--")
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
