package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs (one JVM-wide session, cheap per-suite). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

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
