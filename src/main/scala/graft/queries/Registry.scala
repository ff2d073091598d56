package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A declared query: the Spark implementation plus (when SQL-expressible)
  * a DuckDB oracle over the same input tables. The driver runs both at
  * sf0.01 and hash-compares results — so every query orders its output
  * totally and emits only portable scalar types (string/long/int/double
  * passthrough/decimal/exact-IEEE derivations).
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  lazy val all: Map[String, QueryDef] =
    CdcQueries.defs ++ RelationalQueries.defs ++ TextQueries.defs ++
      DedupQueries.defs ++ AnnQueries.defs ++ MixQueries.defs ++
      SketchQueries.defs ++ GraphQueries.defs

  /** DuckDB spelling of [[graft.ops.Mixing.hashSlice]]: decode the
    * first 4 hex chars of md5(col) to an int in [0, 65536). ONE
    * implementation — the decode is exactness-critical (every sampling
    * decision gates on it) and every oracle that replays it must stay
    * bit-identical to the Spark side. */
  private[queries] def md5Slice(c: String): String =
    s"""    (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 1, 1)) - 1) * 4096
       |  + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 2, 1)) - 1) * 256
       |  + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 3, 1)) - 1) * 16
       |  + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 4, 1)) - 1)""".stripMargin

  /** Recursive delete for the gated queries' temp stores/drops (pair
    * with the collect-into-local-relation idiom: materialize the result
    * BEFORE deleting, since a lazy read would pin the dir). */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  private val spools = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val spoolSweep: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => spools.forEach(f => rmTree(f))))

  /** A fresh temp dir for a result a query hands back as a lazy reader
    * (so it must outlive the call), removed at JVM exit by ONE shared
    * hook — a hook per call would grow without bound in a long-lived
    * process. */
  private[graft] def spoolDir(prefix: String): java.nio.file.Path = {
    spoolSweep
    val d = java.nio.file.Files.createTempDirectory(prefix)
    spools.add(d.toFile)
    d
  }
}
