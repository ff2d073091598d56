package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import scala.concurrent.Await
import scala.concurrent.duration._
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
  *     gen-<batchId>/part-....parquet   flat; rows carry `bucket`, sorted by it
  * }}}
  *
  * A generation holds the rows of every bucket its batch touched. It
  * stays live while any of those buckets still points at it, so it can
  * also hold stale rows of buckets a later merge moved on: every read
  * goes through [[scanGens]], which keeps a row of bucket `b` from
  * generation `g` only when the manifest maps `b` to `g`.
  *
  * Scale + crash contract:
  *   - a micro-batch rewrites ONLY the buckets its net changes touch,
  *     but it reads them at generation granularity: the read of the
  *     touched buckets opens the footers of every file of every
  *     generation they live in, and only Parquet row-group statistics on
  *     `bucket` (files are sorted by it) skip the rows of other buckets.
  *     After the [[defaultMaxLiveGens]] whole-store merge that is every
  *     file of the store. `LAYOUTPROBE_flatgen.jsonl` measures one
  *     generation of 2M rows in 144 row groups: a read of 4 of its 64
  *     buckets scanned 326K rows (all 2M when unsorted). A large store
  *     with a handful of buckets touched per batch is not measured yet;
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
  * [[writeBuckets]] (or, for a [[DeltaStore]] bucketed by a semantic
  * key, [[writeCells]]), which fixes the file layout for both.
  */
object BucketStore {

  /** Deterministic bucket assignment from the PK columns. */
  def bucketCol(pkCols: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(pkCols.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** Write `df` (rows carrying an int `bucket` column) as the flat
    * generation `genDir` and return the bucket ids it holds rows for — a
    * bucket whose rows all netted away is not among them. This is the
    * layout of every pk-hash store.
    *
    * Files are `genDir/part-*.parquet` with `bucket` kept as a column and
    * rows sorted by it inside each file, so Parquet row-group statistics
    * on `bucket` can skip other buckets once files hold several row
    * groups. In `LAYOUTPROBE_flatgen.jsonl` (one 2M-row, 64-bucket
    * generation in 144 row groups of 1 MB) a read of 4 buckets scanned
    * 326K rows in 203–232 ms sorted against all 2M rows in 333–516 ms
    * unsorted, and the sort added 2–17% to the 1.3–1.6 s write. The write adds
    * no shuffle: it runs at the partitioning `df` already has — for a
    * compacted batch, the AQE-sized output of the compaction, which is
    * one file per generation at small scale and more files as data
    * grows. The bucket set comes from an `observe` on the same action:
    * no collect, no second job, no directory listing; waiting for its
    * result took 0.2 ms (p50) after a 20-row write. On 4 local cores
    * one 2.5K-row, 64-bucket generation (p50 of 12 writes) took 177 ms as
    * 64 `bucket=` dirs (`repartition(4, bucket)` + `partitionBy`), 108 ms
    * as 4 flat files sorted by `bucket`, and 52 ms to the `noop` sink.
    *
    * Completion is checked by the `_SUCCESS` marker the committer writes
    * last; a partial write fails here, before any manifest flip. */
  private[sink] def writeBuckets(df: DataFrame, genDir: String): Set[Int] = {
    val written = Observation()
    df.observe(written, collect_set(col("bucket")).as("buckets"))
      .sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(genDir)
    requireComplete(genDir)
    Await.result(written.future, 1.minute).getAs[Seq[Int]]("buckets").toSet
  }

  /** Write `df` as the generation `genDir` with one `bucket=<b>` dir per
    * bucket — the layout of a [[DeltaStore]] bucketed by a semantic key
    * (its `BUCKETBY` stamp; the IVF index's cells), whose bucket dirs are
    * the inverted lists a probed read prunes its files to. Returns the
    * bucket ids whose dirs the write produced.
    *
    * Write-task rule: `min(maxBuckets, defaultParallelism)` tasks, where
    * `maxBuckets` bounds the distinct buckets `df` can carry. The hash
    * partitioner on `bucket` keeps each bucket's rows in ONE task and
    * `partitionBy("bucket")` splits a task's rows into one file per
    * bucket dir, so the on-disk layout — one file per `bucket=` dir —
    * does not depend on the task count. */
  private[sink] def writeCells(df: DataFrame, genDir: String,
      maxBuckets: Int): Set[Int] = {
    val tasks = math.max(1,
      math.min(maxBuckets, df.sparkSession.sparkContext.defaultParallelism))
    df.repartition(tasks, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(genDir)
    requireComplete(genDir)
    Option(new File(genDir).list()).getOrElse(Array.empty)
      .collect { case n if n.startsWith("bucket=") => n.stripPrefix("bucket=").toInt }
      .toSet
  }

  private def requireComplete(genDir: String): Unit =
    require(Files.exists(Paths.get(genDir, "_SUCCESS")),
      s"generation write did not complete: $genDir")

  /** Batch id of a `gen-<id>` or `snap-<id>` generation dir name. */
  private[sink] def genId(gen: String): Long = gen.dropWhile(!_.isDigit).toLong

  /** The batch id of the generation each row was read from: one regex on
    * the `gen-<id>`/`snap-<id>` segment of its file path, the same for
    * both layouts (`gen-<id>/part-*` and `gen-<id>/bucket=<b>/part-*`). */
  private[sink] def genSeq: Column =
    regexp_extract(input_file_name(),
      "/(?:gen|snap)-(\\d+)/(?:bucket=\\d+/)?[^/]+$", 1).cast("long")

  /** ONE scan over the flat generation dirs of `chains` (bucket → its
    * live generations) that keeps a row of bucket `b` from generation `g`
    * only when `g` is in `b`'s chain: a generation still live for some
    * buckets can hold stale rows of others, superseded by a later fold,
    * snapshot or merge. Rows keep `bucket` and gain `_seq`, their
    * generation's batch id. The membership test compares ids, which is
    * exact because no store holds `gen-<n>` and `snap-<n>` live at once
    * (a snapshot resets every chain).
    *
    * `buckets` restricts the read to those chains; when it leaves out
    * some of the store's buckets, a plain `bucket IN (…)` predicate also
    * goes down to the Parquet scan, where the files' sort on `bucket`
    * lets row-group statistics skip the rest once files hold several
    * row groups ([[writeBuckets]] cites the measurement). The scan still
    * opens every file of every generation read. `schema`, when given, is the read schema (resolved by
    * name); otherwise footers are merged, so additively evolved
    * generations read with nulls for the columns they lack. */
  private[sink] def scanGens(spark: SparkSession, target: String,
      chains: Map[Int, Seq[String]], buckets: Option[Set[Int]] = None,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val read = buckets.fold(chains)(bs => chains.view.filterKeys(bs).toMap)
    val members = read.toSeq
      .flatMap { case (b, gens) => gens.map(g => genId(g) -> b) }
      .groupMap(_._1)(_._2)
    if (members.isEmpty) None
    else {
      val reader = schema.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema(_))
      val gens = read.values.flatten.toSeq.distinct.sorted
      val all = reader.parquet(gens.map(g => s"$target/$g"): _*)
      val scanned =
        if (read.size < chains.size) all.filter(col("bucket").isin(read.keys.toSeq.sorted: _*))
        else all
      val live = members.toSeq.sortBy(_._1).map { case (id, bs) =>
        col("_seq") === id && col("bucket").isin(bs.sorted: _*)
      }.reduce(_ || _)
      Some(scanned.withColumn("_seq", genSeq).filter(live))
    }
  }

  /** [[scanGens]] for generations written by [[writeCells]]: ONE scan
    * over the `bucket=<b>` dirs of `chains` (restricted to `buckets`),
    * which hold exactly each chain's rows, so the path list is the whole
    * membership test and prunes the files a read opens. Rows get `bucket`
    * from their dir and `_seq` from their generation. */
  private[sink] def scanCells(spark: SparkSession, target: String,
      chains: Map[Int, Seq[String]],
      buckets: Option[Set[Int]] = None): Option[DataFrame] = {
    val paths = buckets.fold(chains)(bs => chains.view.filterKeys(bs).toMap).toSeq
      .flatMap { case (b, gens) => gens.map(g => s"$target/$g/bucket=$b") }
    if (paths.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true").parquet(paths: _*)
      .withColumn("bucket", regexp_extract(input_file_name(),
        "/bucket=(\\d+)/[^/]+$", 1).cast("int"))
      .withColumn("_seq", genSeq))
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

  private def chainsOf(m: Map[Int, String]): Map[Int, Seq[String]] =
    m.view.mapValues(Seq(_)).toMap

  /** Current state as one DataFrame (None when the store is empty): the
    * live rows of every generation the manifest names ([[scanGens]]),
    * state columns only. */
  def read(spark: SparkSession, target: String): Option[DataFrame] =
    // mergeSchema: after an additive evolution that touched only SOME
    // buckets (merge evolves per-bucket, untouched buckets keep the old
    // footer), a plain read takes the first file's schema and silently
    // drops the new column; merged footers read it as null from
    // pre-evolution buckets instead — matching the merge path's own
    // mergeSchema read of stored state.
    scanGens(spark, target, chainsOf(readManifest(target)))
      .map(_.drop("bucket", "_seq"))

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
    * write is [[writeBuckets]]'s flat generation. */
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
      val chains = chainsOf(manifest)
      val liveGens = chains.view.filterKeys(touched).values.flatten.toSeq.distinct
      if (liveGens.isEmpty)
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
          .parquet(liveGens.map(g => s"$target/$g"): _*).schema.fieldNames.toSet - "bucket"
        val dropped = stored -- stateSchema.fieldNames.toSet
        require(dropped.isEmpty || allowDropColumns,
          s"net schema omits stored column(s) ${dropped.mkString(", ")} — " +
            "this merge would drop them from the whole store; pass " +
            "allowDropColumns=true for intentional schema evolution")
        scanGens(spark, target, chains, Some(touched),
          Some(stateSchema.add("bucket", IntegerType))).get.drop("bucket", "_seq")
      }
    }
    val merged = Merge.applyNetChanges(cur, bucketed.drop("bucket"), pkCols)
    // a touched bucket can net to empty (all rows deleted): the write
    // holds no row of it, and its manifest entry must be dropped, not
    // repointed
    val present =
      try writeBuckets(merged.withColumn("bucket", bucketCol(pkCols, nBuckets)), genDir)
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
