package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always passes exactly two args)
    val only = args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    val spark = Sessions.local(Sessions.cpus, appName = "graft-verify")
    // cross-round input-drift tripwire (see graft.model.Footprint): any
    // name/type change in the harness tables vs the committed footprint
    // is shouted to stderr before a single query runs (path anchored to
    // the repo root, not the launcher's cwd)
    graft.model.Footprint.warnOnDrift(spark, sfDir,
      graft.model.Footprint.defaultPath())
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries cache intermediates (token/signature frames); drop them so
      // 141 queries don't accumulate blocks across the whole run.
      // clearCache() misses RDD-level localCheckpoint blocks (the
      // iterative graph ops deliberately pin their final round) —
      // release those through their registry too.
      spark.catalog.clearCache()
      graft.ops.GraphBlocks.releaseAll()
    }
    // Jackson escapes every control char: a tab or CR in an oracle's SQL
    // must not make the comparer's json.load fail and silently drop
    // every correctness check
    val json = Json.write(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // declared == checked gate: a query that errors must be LOUD. A
    // two-round blind spot (r12-r13) happened because errored queries
    // simply vanished from the correctness denominator — stamp the split
    // into the artifact dir and fail the run so nothing downstream can
    // mistake "fewer rows checked" for "all green".
    val status = Json.write(ListMap("declared" -> selected.size,
      "checked" -> (selected.size - failed.size),
      "failed" -> failed.toList.sorted))
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), status)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size}/${selected.size} declared " +
        s"queries FAILED: ${failed.toList.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
