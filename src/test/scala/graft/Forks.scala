package graft

import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The processes a block started: the command line of every JFR
  * `jdk.ProcessStart` event recorded while it ran (this JVM only, any
  * thread). Without libhadoop, Hadoop's local filesystems fork `chmod`
  * and `readlink` from some calls; specs filter these by the dirs they
  * wrote. */
object Forks {
  def during(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft-proc", ".jfr")
      rec.dump(out)
      try RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
      finally Files.delete(out)
    } finally rec.close()
  }

  /** The `readlink` and `chmod` starts among `commands` that name `dir`. */
  def linkOrChmod(commands: Seq[String], dir: String): Seq[String] =
    commands.filter(c => (c.startsWith("readlink") || c.startsWith("chmod")) &&
      c.contains(dir))
}
