package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs (one JVM-wide session, cheap per-suite). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @volatile private var sessionUsed = false
  lazy val spark: SparkSession = { sessionUsed = true; SparkSpec.session }
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A suite that used the session leaves no streaming query running
    * (a leaked query keeps writing into the next suite's session and
    * into the JVM's shutdown). A suite that never touched the session
    * does not build one to check. */
  override protected def afterAll(): Unit =
    try {
      if (sessionUsed) {
        val active = spark.streams.active.toSeq
        assert(active.isEmpty, s"${getClass.getSimpleName} left " +
          s"${active.size} streaming queries running: " +
          active.map(q => s"${q.name} ${q.id}").mkString(", "))
      }
    } finally super.afterAll()

  /** All messages along a throwable's cause chain (Spark wraps the
    * interesting raise_error/require text several layers deep). */
  protected def causeMessages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ causeMessages(x.getCause))
}

object SparkSpec {
  /** The production session recipe; the one test override is a temp
    * warehouse dir, passed as the system property `SparkConf` reads. */
  lazy val session: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    Sessions.local("4", appName = "graft-test")
  }
}
