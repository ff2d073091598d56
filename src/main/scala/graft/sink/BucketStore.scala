package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** PK-hash-bucketed parquet state with manifest-flip atomicity — the
  * streaming sync's target store (reference flagship `db_batch_sync`
  * delivery path, `pkg/output/mysql/batch/tableprocessor.go:198-257`,
  * where idempotent statements land in MySQL; here the "table" is parquet
  * and idempotency comes from deterministic per-batch generations).
  *
  * Layout:
  * {{{
  *   target/
  *     MANIFEST                         one "<bucket>\t<genDirName>" line per
  *                                      live bucket; flipped by atomic rename
  *     gen-<batchId>/_SUCCESS           write-completion marker
  *     gen-<batchId>/bucket=<b>/part-....parquet
  * }}}
  *
  * Scale + crash contract:
  *   - a micro-batch rewrites ONLY the buckets its net changes touch:
  *     apply cost is O(touched state), not O(|target|) — at 100 TB the
  *     target is thousands of buckets and a batch touches a handful;
  *   - the generation dir is keyed by batch id and written with
  *     mode=overwrite, so an at-least-once replay of an uncommitted batch
  *     overwrites its own partial output (self-healing);
  *   - readers only ever follow MANIFEST, which is flipped by an atomic
  *     rename AFTER the generation's `_SUCCESS` exists: a crash at any
  *     point between write and swap leaves the previous state fully
  *     intact and re-readable;
  *   - superseded generations are GC'd best-effort once no manifest entry
  *     references them.
  *
  * Every generation this store and [[DeltaStore]] write goes through
  * [[writeBuckets]], which fixes the write-task rule for both.
  */
object BucketStore {

  /** Deterministic bucket assignment from the PK columns. */
  def bucketCol(pkCols: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(pkCols.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** Write `df` (rows carrying an int `bucket` column) as the generation
    * `genDir`, one `bucket=<b>` dir per bucket value, and return the
    * bucket ids whose dirs the write produced — a bucket whose rows all
    * netted away produces none.
    *
    * Write-task rule: `min(maxBuckets, defaultParallelism)` tasks, where
    * `maxBuckets` bounds the distinct buckets `df` can carry. The hash
    * partitioner on `bucket` keeps each bucket's rows in ONE task and
    * `partitionBy("bucket")` splits a task's rows into one file per
    * bucket dir, so the on-disk layout — one file per `bucket=` dir —
    * does not depend on the task count. A cluster with at least
    * `maxBuckets` cores keeps one task per bucket; a smaller one stops
    * paying task scheduling per bucket (on 4 local cores, 64 tasks
    * writing 64 small bucket files took 1.2–1.8 s, the same files from
    * 4 tasks 0.63 s). Per-file costs remain: on the local FS without
    * libhadoop, Hadoop forks `chmod` twice per created file, 128 forks
    * for a 64-bucket generation — only fewer files per generation (a
    * layout change) would cut that.
    *
    * Completion is checked by the `_SUCCESS` marker the committer writes
    * last; a partial write fails here, before any manifest flip. */
  private[sink] def writeBuckets(df: DataFrame, genDir: String,
      maxBuckets: Int): Set[Int] = {
    val tasks = math.max(1,
      math.min(maxBuckets, df.sparkSession.sparkContext.defaultParallelism))
    df.repartition(tasks, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(genDir)
    require(Files.exists(Paths.get(genDir, "_SUCCESS")),
      s"generation write did not complete: $genDir")
    Option(new File(genDir).list()).getOrElse(Array.empty)
      .collect { case n if n.startsWith("bucket=") => n.stripPrefix("bucket=").toInt }
      .toSet
  }

  private def manifestPath(target: String): Path = Paths.get(target, "MANIFEST")

  /** bucket → generation-dir name (relative to target). */
  def readManifest(target: String): Map[Int, String] = {
    val p = manifestPath(target)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map { line =>
        val Array(b, gen) = line.split('\t')
        b.toInt -> gen
      }.toMap
  }

  private def writeManifest(target: String, m: Map[Int, String],
      fs: ManifestStore): Unit =
    fs.publish(target, "MANIFEST",
      m.toSeq.sortBy(_._1).map { case (b, g) => s"$b\t$g" }.mkString("\n"))

  /** Current state as one DataFrame (None when the store is empty).
    * Each manifest entry resolves to `gen/bucket=<b>` — a path INSIDE the
    * partition dir, so the read carries only the state columns. */
  def read(spark: SparkSession, target: String): Option[DataFrame] = {
    val m = readManifest(target)
    if (m.isEmpty) None
    else {
      val paths = m.toSeq.sortBy(_._1).map { case (b, gen) => s"$target/$gen/bucket=$b" }
      // mergeSchema: after an additive evolution that touched only SOME
      // buckets (merge evolves per-bucket, untouched buckets keep the old
      // footer), a plain read takes the first file's schema and silently
      // drops the new column; merged footers read it as null from
      // pre-evolution buckets instead — matching the merge path's own
      // mergeSchema read of stored state.
      Some(spark.read.option("mergeSchema", "true").parquet(paths: _*))
    }
  }

  /** When the store's live generation count reaches this bound, the next
    * merge expands to ALL live buckets, folding the whole store into one
    * fresh generation (then GC'd by the flip) — file counts stay bounded
    * on long streams at the cost of one full rewrite every `maxLiveGens`
    * batches (amortized O(|state|/maxLiveGens) per batch). */
  val defaultMaxLiveGens = 16

  /** Phase 1: write the new generation for the buckets `net` touches and
    * return the manifest that phase 2 should flip to. Public (rather than
    * folded into [[merge]]) so crash-injection tests can die between the
    * phases. The merge must know the touched buckets before it writes (it
    * reads their current state), so it always collects them first; the
    * write follows [[writeBuckets]]'s task rule. */
  def writeGen(net: DataFrame, target: String, pkCols: Seq[String],
      nBuckets: Int, batchId: Long,
      maxLiveGens: Int = defaultMaxLiveGens,
      allowDropColumns: Boolean = false): Map[Int, String] = {
    val spark = net.sparkSession
    val genName = s"gen-$batchId"
    val genDir = s"$target/$genName"
    val manifest0 = readManifest(target)
    if (manifest0.values.exists(_ == genName)) {
      // the flip for this batch already happened (crash fell between flip
      // and checkpoint commit): state already reflects the batch, and
      // re-merging would read from the very generation the overwrite is
      // about to delete — return the manifest unchanged instead
      return manifest0
    }
    val bucketed = net.withColumn("bucket", bucketCol(pkCols, nBuckets)).cache()
    val netTouched = bucketed.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet // bucket ids only — bounded metadata
    val manifest = manifest0
    val globalFold = manifest.values.toSet.size >= maxLiveGens
    if (netTouched.isEmpty && !globalFold) {
      // empty micro-batch (e.g. every doc in an admission batch was
      // rejected): a generation holding only _SUCCESS would be referenced
      // by no manifest entry and leak one dir per empty batch forever;
      // re-merging an empty net on replay is a no-op, so skipping is safe
      bucketed.unpersist()
      return manifest0
    }
    // periodic fold-down: once enough generations accumulated, rewrite
    // every live bucket into this generation so the flip's GC reclaims
    // all of them
    val touched =
      if (globalFold) netTouched ++ manifest.keySet
      else netTouched
    val stateSchema = net.drop("net_op").schema
    val cur = {
      val livePaths = manifest.view.filterKeys(touched)
        .map { case (b, gen) => s"$target/$gen/bucket=$b" }.toSeq
      if (livePaths.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), stateSchema)
      else {
        // read with the NET's state schema, resolved by name: the merge
        // evolves the store to the net's schema — a column the net adds
        // reads as null from pre-evolution generations. A column the net
        // DROPS is dropped from the whole store on this merge, which must
        // be intentional: an accidentally narrowed net (schema drift, a
        // typo'd select) would otherwise silently destroy stored data.
        // Guard with the stored footer schema, MERGED across files: after
        // additive evolution the touched generations carry different
        // footers, and a single-file inference could sample a
        // pre-evolution file and miss the drop. Cost is footer reads of
        // files this merge reads anyway.
        val stored = spark.read.option("mergeSchema", "true")
          .parquet(livePaths: _*).schema.fieldNames.toSet
        val dropped = stored -- stateSchema.fieldNames.toSet
        require(dropped.isEmpty || allowDropColumns,
          s"net schema omits stored column(s) ${dropped.mkString(", ")} — " +
            "this merge would drop them from the whole store; pass " +
            "allowDropColumns=true for intentional schema evolution")
        spark.read.schema(stateSchema).parquet(livePaths: _*)
      }
    }
    val merged = Merge.applyNetChanges(cur, bucketed.drop("bucket"), pkCols)
    // a touched bucket can net to empty (all rows deleted): no bucket dir
    // is written, and its manifest entry must be dropped, not repointed
    val present =
      try writeBuckets(merged.withColumn("bucket", bucketCol(pkCols, nBuckets)),
        genDir, math.min(nBuckets, touched.size))
      finally bucketed.unpersist()
    manifest.view.filterKeys(!touched(_)).toMap ++
      touched.intersect(present).map(_ -> genName)
  }

  /** Phase 2: atomically flip MANIFEST to the new mapping
    * ([[ManifestStore.publish]] — conditional put on an object store),
    * then GC every on-disk generation dir no manifest entry references
    * ([[ManifestStore.sweep]] — batch delete there): superseded
    * generations AND a replayed batch's own output when all its touched
    * buckets netted to empty (that dir never enters any manifest). Safe
    * under the single-writer contract (the streaming sink serializes
    * batches): at flip time an unreferenced dir cannot belong to an
    * in-flight batch; and sweep runs only after a successful publish, so
    * a crash between the two merely orphans dirs for the next flip's
    * sweep (ManifestStoreSpec pins both races). */
  def flip(target: String, newManifest: Map[Int, String],
      fs: ManifestStore = ManifestStore.LocalFs): Unit = {
    writeManifest(target, newManifest, fs)
    fs.sweep(target, Seq("gen-"), newManifest.values.toSet)
  }

  /** Merge one compacted net-change batch into the store (both phases). */
  def merge(net: DataFrame, target: String, pkCols: Seq[String],
      nBuckets: Int, batchId: Long,
      maxLiveGens: Int = defaultMaxLiveGens,
      allowDropColumns: Boolean = false,
      fs: ManifestStore = ManifestStore.LocalFs): Unit =
    flip(target, writeGen(net, target, pkCols, nBuckets, batchId, maxLiveGens,
      allowDropColumns), fs)
}
