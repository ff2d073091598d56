package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Harness-side slice staging for file-stream sources: a single parquet
  * file is cut into `slices` range-sliced segment files in a
  * content-addressed drop directory, so a bounded table drains as
  * `slices` arriving micro-batches (`maxFilesPerTrigger`=1) — the shape
  * of a real binlog/crawl tail, where state accumulates ACROSS batches.
  * A deployment points the stream at its real landing directory instead.
  *
  * Contract (shared by every stream source that stages):
  *   - staging completion is keyed on a SOURCE marker carrying the input
  *     file's (size, mtime), written atomically AFTER the segments: a
  *     crash mid-staging re-stages everything (moves are REPLACE, so the
  *     retry is idempotent), and a REGENERATED source file at the same
  *     path invalidates the staged dir instead of silently serving stale
  *     slices to every later drain on this machine;
  *   - the marker lives NEXT TO the drop dir, never inside it (the file
  *     stream tails the dir and would read the marker as parquet, and a
  *     current-mtime file among the fixed-stamp slices would shift the
  *     source's maxFileAge window);
  *   - slice files carry strictly increasing mtimes: FileStreamSource
  *     orders arriving files by modification time, and identical stamps
  *     fall back to name order, where slice-10 sorts before slice-2 at
  *     ≥11 slices — a key's delete could apply before its insert.
  */
object Staging {

  /** Stage `srcFile` as `slices` range-slices on `sliceBy` and return
    * the drop directory to tail. `readSchema` (when given) is applied to
    * the source read — pass the declared stream schema so staging and
    * tailing agree on types. */
  def stageSlices(spark: SparkSession, srcFile: String,
      readSchema: Option[StructType], sliceBy: String, slices: Int): String = {
    // The declared schema is part of the drop-dir identity: slices are
    // WRITTEN through it, so a schema change (e.g. the fixture's ts
    // moving long→timestamp) must land in a fresh dir — the (size,mtime)
    // marker alone can't see it and would serve stale-typed slices.
    val schemaSig = readSchema.map(_.catalogString).getOrElse("inferred")
    // full md5 of the identity key, not a 32-bit hashCode: at 2^16 staged
    // dirs a 32-bit name has even-odds of a collision, and a colliding
    // (src,slices,sliceBy,schema) tuple would reuse a stale-typed drop dir
    // that the (size,mtime) marker cannot tell apart
    val dirName = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$srcFile#$slices#$sliceBy#$schemaSig"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val drop = java.nio.file.Paths.get("/tmp/graft-stream", dirName)
    java.nio.file.Files.createDirectories(drop)
    val src = java.nio.file.Paths.get(srcFile)
    val srcSig = s"${java.nio.file.Files.size(src)}#${
      java.nio.file.Files.getLastModifiedTime(src).toMillis}"
    val marker = drop.resolveSibling(drop.getFileName.toString + ".SOURCE")
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8) == srcSig
    if (fresh) {
      // staged and current — nothing to do
    } else if (slices <= 1 && java.nio.file.Files.isRegularFile(src)) {
      // the fast single-slice copy only works for a FILE source; a
      // Spark-written source is a DIRECTORY (Files.copy would stage an
      // empty dir named slice-0.parquet and every drain would silently
      // stream zero rows) — directories take the spark.read path below,
      // which handles slices = 1 fine (one range covering everything)
      java.nio.file.Files.copy(src, drop.resolve("slice-0.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      writeMarker(marker, srcSig)
    } else {
      val reader = readSchema.foldLeft(spark.read)((r, s) => r.schema(s))
      val df = reader.parquet(srcFile)
      // an empty source yields one all-null agg row (not zero rows):
      // guard the null, not just headOption, so the drain stays empty
      // instead of throwing on getLong
      // sliceBy is any LONG-valued SQL expression (a bare column name is
      // the common case; "event_id % 4" deliberately SCRAMBLES event
      // time across slices — the disorder harness the streaming-funnel
      // gate leans on)
      val (lo, hi) = df.agg(min(expr(sliceBy)), max(expr(sliceBy))).collect()
        .headOption.filterNot(_.isNullAt(0))
        .map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
      val span = (hi - lo + slices) / slices
      (0 until slices).foreach { i =>
        val out = java.nio.file.Files.createTempDirectory("graft-slice")
        df.filter(expr(sliceBy) >= lo + i * span &&
            expr(sliceBy) < lo + (i + 1L) * span)
          .coalesce(1).write.mode("overwrite").parquet(out.toString)
        val part = out.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = drop.resolve(s"slice-$i.parquet")
        java.nio.file.Files.move(part.toPath, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1_600_000_000_000L + i * 1000L))
      }
      writeMarker(marker, srcSig)
    }
    drop.toString
  }

  private def writeMarker(marker: java.nio.file.Path, sig: String): Unit =
    graft.sink.ManifestStore.LocalFs.publish(
      marker.getParent.toString, marker.getFileName.toString, sig)
}
