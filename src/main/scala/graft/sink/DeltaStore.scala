package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** MERGE-shaped incremental target: an append-only delta log over
  * pk-hash buckets — the engine's one pk-bucketed store, and the apply
  * side of the reference's batched delivery
  * (`pkg/output/mysql/batch/tableprocessor.go:198-257`).
  *
  * A batch APPENDS its compacted net changes as a new delta
  * generation — O(|batch|) write, no read of existing state — and the
  * merge is deferred:
  *
  *   - READ-side: a key's visible row is the one from the newest
  *     generation in its bucket's chain (last-writer-wins by batch id);
  *     `delete` net-ops are tombstones. One hash aggregation over
  *     (base + deltas) resolves the state — shuffle ∝ live chain size,
  *     map-side partial agg for free.
  *   - COMPACTION: when a bucket's chain would exceed `maxChain`, that
  *     bucket (and only that bucket) is folded into the new generation —
  *     amortized O(bucket/maxChain) per batch, the classic LSM trade.
  *     `maxChain = 1` folds every touched bucket on every batch: the
  *     read-modify-write policy, O(touched state) per batch. A
  *     store-wide fold triggers when live generation DIRS exceed
  *     `maxLiveGens`, bounding file counts on long streams.
  *
  * Write path: a batch that can fold nothing (no chain at `maxChain`,
  * live generation dirs below `maxLiveGens`) is written verbatim by ONE
  * query — no cache, no bucket-id collect, no shuffle of its own — and
  * the buckets it appends to are observed on that same write. Only a
  * batch that can fold first caches the net batch and collects its
  * bucket ids, to pick the fold set (touched buckets at the cap). Every
  * generation of a pk-hash store is a flat file set sorted by `bucket`
  * ([[writeBuckets]]); a store bucketed by a semantic key (`bucketExpr`,
  * stamped `BUCKETBY`) keeps one dir per bucket ([[writeCells]]) so its
  * reads can prune files.
  *
  * Schema evolution is additive: a net may add a column or omit one, and
  * every read and every fold resolves by name, so a column a generation
  * lacks reads as null.
  *
  * Crash contract: generation dirs are keyed by batch id and written
  * mode=overwrite (replay self-heals its own partial output), MANIFEST
  * is flipped by atomic rename only after the generation's `_SUCCESS`
  * exists, and a replay of an already-flipped batch is detected and
  * returns the manifest unchanged.
  * Replay detection is by the `#applied` MANIFEST header (the highest
  * flipped batch id — batch ids are monotone under the streaming
  * checkpoint contract), not by chain membership alone: a flipped batch
  * whose generation holds no bucket's rows (every folded bucket netted to
  * empty) appears in no chain but must still not re-apply. `flip` also
  * sweeps EVERY on-disk `gen-*` dir that no chain references — safe
  * because the writer is single (the streaming sink serializes batches),
  * so at flip time an unreferenced dir is either a superseded generation
  * or the current batch's own empty output.
  *
  * Layout:
  * {{{
  *   target/
  *     MANIFEST                  "#applied\t<batchId>" header, then
  *                               "<bucket>\t<gen>,<gen>,..." — the bucket's
  *                               chain, oldest → newest (= batch-id order)
  *     gen-<batchId>/_SUCCESS
  *     gen-<batchId>/part-....parquet            rows carry `net_op` and
  *                                               `bucket`, sorted by `bucket`
  *     gen-<batchId>/bucket=<b>/part-....parquet the same, for a store
  *                                               stamped `BUCKETBY`
  * }}}
  *
  * A flat generation holds every bucket its batch wrote and stays live
  * while any of their chains still names it; a chain-cap fold or a
  * snapshot can meanwhile supersede some of those buckets. Every read
  * therefore keeps a row of bucket `b` from generation `g` only when `g`
  * is in `b`'s chain ([[scanGens]]).
  */
object DeltaStore {

  /** Chain length at which an appending bucket folds down. */
  val defaultMaxChain = 8

  /** Live generation-dir bound: at/above this, the next append folds the
    * WHOLE store into one generation (file-count backstop). */
  val defaultMaxLiveGens = 64

  private def manifestPath(target: String): Path = Paths.get(target, "MANIFEST")

  /** bucket → generation chain, oldest → newest. */
  def readManifest(target: String): Map[Int, Seq[String]] = {
    val p = manifestPath(target)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(b, gens) = line.split('\t')
        b.toInt -> gens.split(',').toSeq
      }.toMap
  }

  /** Highest batch id whose flip committed (-1 before any flip). */
  def readApplied(target: String): Long = {
    val p = manifestPath(target)
    if (!Files.exists(p)) -1L
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .collectFirst { case l if l.startsWith("#applied\t") =>
        l.stripPrefix("#applied\t").toLong }
      .getOrElse(-1L)
  }

  private def writeManifest(target: String, m: Map[Int, Seq[String]],
      applied: Long, fs: ManifestStore): Unit =
    fs.publish(target, "MANIFEST",
      (s"#applied\t$applied" +: m.toSeq.sortBy(_._1)
        .map { case (b, gens) => s"$b\t${gens.mkString(",")}" }).mkString("\n"))

  /** Last-writer-wins fold of (base + delta) rows carrying `net_op` and
    * a per-generation `_seq`: newest row per pk wins, tombstones drop.
    * One aggregation, map-side partial merge, no window sort.
    *
    * The argmax runs PER COLUMN with the tombstone flag int-coded, not
    * once over a struct of the row: struct- and string-typed aggregation
    * buffers can't live in the hash map (immutable fields), which silently
    * demotes the whole fold to SortAggregate — a per-partition sort on
    * every read (PlanSpec pins the HashAggregate form). Per-column argmax
    * is row-consistent here because a pk has at most one row per
    * generation (batches are compacted nets, one row per key; a fold
    * emits one row per key), so `_seq` is unique within the group and
    * every `max_by` picks its field from the same winning row. */
  private def resolve(all: DataFrame, pkCols: Seq[String]): DataFrame = {
    val valueCols = all.columns
      .filterNot(c => pkCols.contains(c) || c == "net_op" || c == "_seq")
    all.withColumn("_del", when(col("net_op") === "delete", 1).otherwise(0))
      .groupBy(pkCols.map(col): _*)
      .agg(max_by(col("_del"), col("_seq")).as("_last_del"),
        valueCols.map(v => max_by(col(v), col("_seq")).as(v)): _*)
      .filter(col("_last_del") === 0)
      .select(pkCols.map(col) ++ valueCols.map(col): _*)
  }

  /** Deterministic bucket assignment from the PK columns. */
  private[graft] def bucketCol(pkCols: Seq[String], nBuckets: Int): Column =
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
  private def writeBuckets(df: DataFrame, genDir: String): Set[Int] = {
    val written = Observation()
    df.observe(written, collect_set(col("bucket")).as("buckets"))
      .sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(genDir)
    requireComplete(genDir)
    Await.result(written.future, 1.minute).getAs[Seq[Int]]("buckets").toSet
  }

  /** Write `df` as the generation `genDir` with one `bucket=<b>` dir per
    * bucket — the layout of a store bucketed by a semantic key (its
    * `BUCKETBY` stamp; the IVF index's cells), whose bucket dirs are
    * the inverted lists a probed read prunes its files to. Returns the
    * bucket ids whose dirs the write produced.
    *
    * Write-task rule: `min(maxBuckets, defaultParallelism)` tasks, where
    * `maxBuckets` bounds the distinct buckets `df` can carry. The hash
    * partitioner on `bucket` keeps each bucket's rows in ONE task and
    * `partitionBy("bucket")` splits a task's rows into one file per
    * bucket dir, so the on-disk layout — one file per `bucket=` dir —
    * does not depend on the task count. */
  private def writeCells(df: DataFrame, genDir: String,
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
  private def genId(gen: String): Long = gen.dropWhile(!_.isDigit).toLong

  /** The batch id of the generation each row was read from: one regex on
    * the `gen-<id>`/`snap-<id>` segment of its file path, the same for
    * both layouts (`gen-<id>/part-*` and `gen-<id>/bucket=<b>/part-*`). */
  private def genSeq: Column =
    regexp_extract(input_file_name(),
      "/(?:gen|snap)-(\\d+)/(?:bucket=\\d+/)?[^/]+$", 1).cast("long")

  /** ONE scan over the flat generation dirs of `chains` (bucket → its
    * live generations) that keeps a row of bucket `b` from generation `g`
    * only when `g` is in `b`'s chain: a generation still live for some
    * buckets can hold stale rows of others, superseded by a later fold
    * or snapshot. Rows keep `bucket` and gain `_seq`, their
    * generation's batch id. The membership test compares ids, which is
    * exact because no store holds `gen-<n>` and `snap-<n>` live at once
    * (a snapshot resets every chain).
    *
    * `buckets` restricts the read to those chains; when it leaves out
    * some of the store's buckets, a plain `bucket IN (…)` predicate also
    * goes down to the Parquet scan, where the files' sort on `bucket`
    * lets row-group statistics skip the rest once files hold several
    * row groups ([[writeBuckets]] cites the measurement). The scan still
    * opens every file of every generation read. Footers are merged, so
    * additively evolved generations read with nulls for the columns they
    * lack. */
  private def scanGens(spark: SparkSession, target: String,
      chains: Map[Int, Seq[String]],
      buckets: Option[Set[Int]] = None): Option[DataFrame] = {
    val read = buckets.fold(chains)(bs => chains.view.filterKeys(bs).toMap)
    val members = read.toSeq
      .flatMap { case (b, gens) => gens.map(g => genId(g) -> b) }
      .groupMap(_._1)(_._2)
    if (members.isEmpty) None
    else {
      val gens = read.values.flatten.toSeq.distinct.sorted
      val all = spark.read.option("mergeSchema", "true")
        .parquet(gens.map(g => s"$target/$g"): _*)
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
  private def scanCells(spark: SparkSession, target: String,
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

  /** ONE multi-path scan over the live rows of `chains`, each row's
    * batch-id `_seq` parsed from its file path. Chain order equals
    * batch-id order by construction (appends only ever extend the tail;
    * compaction resets to the new generation), so a global
    * per-generation seq is a valid LWW order — a pk lives in exactly one
    * bucket. A single scan node keeps the read plan flat regardless of
    * chain state (the per-generation union it replaced grew one scan per
    * live generation, up to `maxLiveGens` of them).
    *
    * The store's `BUCKETBY` stamp picks the layout: a pk-hash store is
    * read by [[scanGens]], a store bucketed by a semantic key by
    * [[scanCells]]. Both merge footers, so a
    * schema-ADDITIVE stream (a later batch's net carrying a new column —
    * the CDC analog of ADD COLUMN) resolves with nulls for pre-evolution
    * rows. Rows keep `bucket`; [[chainFrames]] drops it. */
  private def liveRows(spark: SparkSession, target: String,
      chains: Map[Int, Seq[String]],
      buckets: Option[Set[Int]] = None): Option[DataFrame] =
    if (Files.exists(bucketByPath(target))) scanCells(spark, target, chains, buckets)
    else scanGens(spark, target, chains, buckets)

  /** [[liveRows]] without the `bucket` column: the state columns,
    * `net_op` and `_seq`. */
  private def chainFrames(spark: SparkSession, target: String,
      chains: Map[Int, Seq[String]],
      buckets: Option[Set[Int]] = None): Option[DataFrame] =
    liveRows(spark, target, chains, buckets).map(_.drop("bucket"))

  /** Resolved current state (None when the store is empty): pk cols +
    * value cols, no `net_op`. */
  def read(spark: SparkSession, target: String): Option[DataFrame] = {
    val chains = readManifest(target)
    chainFrames(spark, target, chains).map { all =>
      val pkCols = inferPkCols(target)
      resolve(all, pkCols)
    }
  }

  /** Time-travel read: the resolved state AS OF `asOfBatch` — exactly
    * what [[read]] returned after that batch's flip. The LWW fold simply
    * ignores rows from newer generations (`_seq <= asOf`); a key first
    * appended after the cut resolves away entirely.
    *
    * History is bounded by compaction, as in any LSM/delta-log store
    * (Delta Lake's VACUUM horizon): a chain-cap fold, auto/offline
    * or snapshot re-asserts pre-fold rows under the folding
    * batch's id, so states OLDER than the newest fold are gone. The
    * store records that horizon (`HISTORY` file, monotone) and this read
    * REFUSES an `asOfBatch` below it — silently returning partial state
    * would be corruption, not time travel. A store that never folded
    * (chains within `maxChain`, no snapshot) can travel to any batch. */
  def readAt(spark: SparkSession, target: String, asOfBatch: Long): Option[DataFrame] = {
    val floor = readHistoryFloor(target)
    require(asOfBatch >= floor,
      s"time travel to batch $asOfBatch impossible: a fold/snapshot collapsed " +
        s"history up to batch $floor (states older than the newest fold are " +
        "unrecoverable, as after any LSM compaction)")
    val chains = readManifest(target)
    chainFrames(spark, target, chains).map { all =>
      val pkCols = inferPkCols(target)
      resolve(all.filter(col("_seq") <= asOfBatch), pkCols)
    }
  }

  /** Row-level change feed: everything a downstream consumer must apply
    * to move from the resolved state AS OF `fromBatch` to the state AS OF
    * `toBatch` — `change` ∈ insert/update/delete per pk, value columns
    * carrying the post-image (the pre-image for deletes, so the feed rows
    * are directly applyable/auditable). The CDC-out counterpart of the
    * CDC-in sync path: the reference consumes a binlog; a store this
    * engine maintains can EMIT one (the reference's check/recheck sink,
    * `pkg/output/check`, diffs full states — this derives the same
    * difference from the log structure instead).
    *
    * Scale shape — no snapshot diff, no join:
    *   - The manifest prunes the scan to buckets whose chain holds a
    *     generation in `(fromBatch, toBatch]`. A bucket without one is
    *     bit-identical at both cuts (appends are the only mutation inside
    *     an accepted window — see the floor guard). The scan opens every
    *     file of the generations in the touched buckets' chains; only
    *     Parquet row-group statistics on `bucket` skip the rows of other
    *     buckets ([[scanGens]]). So feed cost follows the
    *     generations the changed buckets live in, not the changed keys:
    *     a chain that reaches back to a store-wide fold or snapshot reads
    *     that generation's files too. Only a store bucketed by a semantic
    *     key (the IVF cells, one dir per bucket) prunes whole files.
    *   - Within touched buckets, ONE scan + ONE hash aggregation computes
    *     both images per pk: each leg is [[resolve]]'s per-column argmax
    *     with the `_seq` ordering null-masked above its cut (`max_by`
    *     skips null orderings), so pre and post come out of the same
    *     map-side-combined group — never two resolves + a full outer join.
    *     Untouched pks co-resident in touched buckets classify as
    *     no-change and drop in the same pass.
    *
    * History guard: pre-images need every generation ≤ `fromBatch` intact,
    * so `fromBatch` below the fold horizon is REFUSED exactly like
    * [[readAt]] (and therefore no fold/snapshot id lies past `fromBatch`
    * either — folds raise the floor, so an accepted window contains only
    * plain appends, which is what makes the bucket pruning sound).
    * Returns None only when the store is MISSING (empty manifest); an
    * idle window over an existing store — no bucket holds a generation
    * in (from, to], the common case for a polling CDC-out consumer —
    * yields an EMPTY feed with the feed schema. */
  def changesBetween(spark: SparkSession, target: String,
      fromBatch: Long, toBatch: Long): Option[DataFrame] = {
    require(toBatch >= fromBatch,
      s"change feed needs fromBatch <= toBatch (got $fromBatch > $toBatch)")
    val floor = readHistoryFloor(target)
    require(fromBatch >= floor,
      s"change feed from batch $fromBatch impossible: a fold/snapshot " +
        s"collapsed history up to batch $floor (pre-images below the fold " +
        "horizon are unrecoverable, as after any LSM compaction)")
    val chains = readManifest(target)
    val touched = chains.view.filter { case (_, gens) =>
      gens.exists { g => val id = genId(g); id > fromBatch && id <= toBatch }
    }.keySet.toSet
    // An idle window (store exists, no bucket holds a generation in
    // (from, to]) is the COMMON case for a polling CDC-out consumer —
    // it must yield an EMPTY feed with the feed schema, not None (None
    // means "no store"). limit(0) keeps it schema-only: the scan reads
    // parquet footers, never data.
    val source =
      if (touched.nonEmpty) chainFrames(spark, target, chains, Some(touched))
      else chainFrames(spark, target, chains).map(_.limit(0))
    source.map { all0 =>
      val pkCols = inferPkCols(target)
      val all = all0.filter(col("_seq") <= toBatch)
        .withColumn("_del", when(col("net_op") === "delete", 1).otherwise(0))
      val valueCols = all.columns.filterNot(c =>
        pkCols.contains(c) || c == "net_op" || c == "_seq" || c == "_del")
      // per-column argmax is row-consistent for the same reason as in
      // [[resolve]]: _seq is unique within a pk group
      def cut(c: Long): Column = when(col("_seq") <= c, col("_seq"))
      def leg(pfx: String, c: Long): Seq[Column] =
        Seq(max(when(col("_seq") <= c, 1).otherwise(0)).as(s"${pfx}_has"),
          max_by(col("_del"), cut(c)).as(s"${pfx}_del")) ++
          valueCols.map(v => max_by(col(v), cut(c)).as(s"${pfx}_$v"))
      val aggs = leg("a", fromBatch) ++ leg("b", toBatch)
      val g = all.groupBy(pkCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      val aLive = col("a_has") === 1 && col("a_del") === 0
      val bLive = col("b_has") === 1 && col("b_del") === 0
      val differs = valueCols.map(v => !(col(s"a_$v") <=> col(s"b_$v")))
        .reduceOption(_ || _).getOrElse(lit(false))
      g.withColumn("change",
          when(!aLive && bLive, lit("insert"))
            .when(aLive && !bLive, lit("delete"))
            .when(aLive && bLive && differs, lit("update")))
        .filter(col("change").isNotNull)
        .select(pkCols.map(col) ++ (col("change") +: valueCols.map(v =>
          when(col("change") === "delete", col(s"a_$v"))
            .otherwise(col(s"b_$v")).as(v))): _*)
    }
  }

  private def historyPath(target: String): Path = Paths.get(target, "HISTORY")

  /** Oldest batch id still exactly reconstructable by [[readAt]]
    * (-1 = full history intact). */
  def readHistoryFloor(target: String): Long = {
    val p = historyPath(target)
    if (!Files.exists(p)) -1L
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong
  }

  /** Raise the history floor to `batchId` (monotone; atomic rename).
    * Called BEFORE the fold's flip: a crash in between leaves the floor
    * conservatively high — [[readAt]] refuses slightly more than
    * necessary, never serves a collapsed state. */
  private def raiseHistoryFloor(target: String, batchId: Long): Unit =
    if (batchId > readHistoryFloor(target))
      ManifestStore.LocalFs.publish(target, "HISTORY", batchId.toString)

  /** Union of the live chains WITHOUT the per-pk LWW fold — the read
    * path for APPEND-ONLY stores (insert-only nets, globally unique pks:
    * the admission signature store). No key is ever superseded, so the
    * fold would only burn a corpus-wide shuffle; skipping it keeps the
    * read a plain multi-path scan whose column pruning reaches the
    * parquet footers directly (a consumer selecting (doc_id, bands)
    * never drags the shingle arrays through an aggregation). Tombstones
    * (never produced by an append-only writer) are dropped defensively.
    * `buckets`, when given, restricts the scan to those chains — for
    * stores bucketed by a semantic key (the IVF index's cell id), the
    * caller's candidate cells prune to a subset of the FILES, not just a
    * post-scan filter: an nprobe-cell top-k read touches nprobe/nBuckets
    * of the corpus on disk. */
  def readAppendOnly(spark: SparkSession, target: String,
      buckets: Option[Set[Int]] = None): Option[DataFrame] =
    chainFrames(spark, target, readManifest(target), buckets).map(
      _.drop("_seq").filter(col("net_op") =!= "delete").drop("net_op"))

  private def pkColsPath(target: String): Path = Paths.get(target, "PKCOLS")

  private def bucketByPath(target: String): Path = Paths.get(target, "BUCKETBY")

  /** Stamp a store whose buckets are a caller-supplied semantic key, not
    * the pk hash (atomic, once). [[snapshot]] refuses stamped stores. */
  private def markSemanticBuckets(target: String): Unit =
    if (!Files.exists(bucketByPath(target)))
      ManifestStore.LocalFs.publish(target, "BUCKETBY", "semantic")

  /** Write a generation in the store's layout, picked by its `BUCKETBY`
    * stamp: one dir per bucket for a semantic key
    * ([[writeCells]], at most `maxBuckets` of them), flat files sorted by
    * `bucket` for the pk hash ([[writeBuckets]]). Returns the buckets
    * written. */
  private def writeGeneration(df: DataFrame, target: String, genDir: String,
      maxBuckets: Int): Set[Int] =
    if (Files.exists(bucketByPath(target))) writeCells(df, genDir, maxBuckets)
    else writeBuckets(df, genDir)

  /** The resolution key is part of the store's identity; persist it at
    * first append so readers need no out-of-band schema knowledge. */
  private def writePkCols(target: String, pkCols: Seq[String]): Unit =
    // atomic, like the manifest: a crash mid-write must never leave a
    // truncated PKCOLS for the exists-guard to keep
    if (!Files.exists(pkColsPath(target)))
      ManifestStore.LocalFs.publish(target, "PKCOLS", pkCols.mkString(","))

  private def inferPkCols(target: String): Seq[String] =
    new String(Files.readAllBytes(pkColsPath(target)), StandardCharsets.UTF_8)
      .split(',').toSeq

  /** Phase 1: write generation `gen-<batchId>` holding (a) raw delta rows
    * for buckets that keep appending and (b) folded base rows for buckets
    * at their chain cap, and return the manifest phase 2 flips to.
    * Split from [[append]] so crash-injection tests can die between the
    * phases. */
  def writeGen(net: DataFrame, target: String, pkCols: Seq[String],
      nBuckets: Int, batchId: Long,
      maxChain: Int = defaultMaxChain,
      maxLiveGens: Int = defaultMaxLiveGens,
      bucketExpr: Option[Column] = None): Map[Int, Seq[String]] = {
    // bucketExpr overrides the default pk-hash bucketing with a SEMANTIC
    // key (e.g. the IVF cell id) so reads can prune whole chains; it must
    // be a pure function of the row, stable across batches, in
    // [0, nBuckets). Such stores are stamped (`BUCKETBY`) so offline
    // `snapshot` — which re-buckets by pk hash and would silently break
    // pruned reads — refuses them (their chain-cap folds preserve
    // bucketExpr, so they never need it).
    val spark = net.sparkSession
    val genName = s"gen-$batchId"
    val genDir = s"$target/$genName"
    val manifest0 = readManifest(target)
    if (manifest0.values.exists(_.contains(genName)) ||
        batchId <= readApplied(target)) {
      // flip already happened (crash fell between flip and checkpoint
      // commit): rewriting the generation would destroy rows the chains
      // now depend on — return the manifest unchanged. The `#applied`
      // check catches the chain-membership blind spot: a flipped batch
      // whose generation holds no bucket's rows is in no chain.
      return manifest0
    }
    writePkCols(target, pkCols)
    if (bucketExpr.isDefined) markSemanticBuckets(target)
    val bucketOf = bucketExpr.getOrElse(bucketCol(pkCols, nBuckets))
    val globalFold = manifest0.values.flatten.toSet.size >= maxLiveGens
    def foldsOnAppend(b: Int): Boolean = manifest0.getOrElse(b, Nil).size + 1 > maxChain
    // a batch can fold only if some chain (or, with maxChain < 1, even a
    // fresh one) is at its cap, or the store-wide fold is due
    val canFold = globalFold || maxChain < 1 || manifest0.keys.exists(foldsOnAppend)
    if (!canFold) {
      // no chain can fold: the generation is the batch's rows verbatim,
      // written by ONE query — no cache, no bucket-id collect. The buckets
      // it appends to are the ones the write saw; an empty batch sees
      // none, flips the manifest unchanged, and its row-less dir is swept
      // by that flip like any unreferenced generation.
      val present =
        writeGeneration(net.withColumn("bucket", bucketOf), target, genDir, nBuckets)
      return manifest0 ++
        present.map(b => b -> (manifest0.getOrElse(b, Seq.empty) :+ genName))
    }
    val bucketed = net.withColumn("bucket", bucketOf).cache()
    try {
      val touched = bucketed.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSet // bucket ids only — bounded metadata
      if (touched.isEmpty && !globalFold) {
        // empty micro-batch: nothing to write — a gen dir holding only
        // _SUCCESS would be referenced by no chain
        return manifest0
      }
      val foldBuckets =
        if (globalFold) manifest0.keySet ++ touched
        else touched.filter(foldsOnAppend)
      val appendBuckets = touched -- foldBuckets
      val deltaPart = bucketed.filter(col("bucket").isin(appendBuckets.toSeq: _*))
      val foldedPart: Option[DataFrame] =
        if (foldBuckets.isEmpty) None
        else {
          val base = chainFrames(spark, target, manifest0, Some(foldBuckets))
          val newDeltas = bucketed.filter(col("bucket").isin(foldBuckets.toSeq: _*))
            .drop("bucket").withColumn("_seq", lit(batchId))
          // by name, missing columns null: the fold reads an additively
          // evolved store the way every read does
          val all = base.map(_.unionByName(newDeltas, allowMissingColumns = true))
            .getOrElse(newDeltas)
          Some(resolve(all, pkCols)
            .withColumn("net_op", lit("insert"))
            .withColumn("bucket", bucketOf))
        }
      if (foldBuckets.nonEmpty) {
        // folded rows re-assert under THIS batch's id — states older than
        // it stop being reconstructable; record that before the flip
        raiseHistoryFloor(target, batchId)
      }
      val out = foldedPart
        .map(f => deltaPart.unionByName(f, allowMissingColumns = true))
        .getOrElse(deltaPart)
      // a folded bucket can net to empty (all rows deleted): the write
      // holds no row of it, and its chain must be dropped, not reset
      val present = writeGeneration(out, target, genDir,
        math.min(nBuckets, appendBuckets.size + foldBuckets.size))
      val kept = manifest0.view
        .filterKeys(b => !foldBuckets(b) && !appendBuckets(b)).toMap
      kept ++
        appendBuckets.intersect(present)
          .map(b => b -> (manifest0.getOrElse(b, Seq.empty) :+ genName)) ++
        foldBuckets.intersect(present).map(b => b -> Seq(genName))
    } finally bucketed.unpersist()
  }

  /** Phase 2: atomically flip MANIFEST (recording `appliedBatchId` in the
    * `#applied` header), then GC every on-disk generation dir no chain
    * references — superseded generations AND the current batch's own dir
    * when all its buckets netted to empty. Safe under the single-writer
    * contract: no unflipped generation from another batch can exist at
    * flip time. */
  def flip(target: String, newManifest: Map[Int, Seq[String]],
      appliedBatchId: Long,
      fs: ManifestStore = ManifestStore.LocalFs): Unit = {
    writeManifest(target, newManifest,
      math.max(readApplied(target), appliedBatchId), fs)
    fs.sweep(target, Seq("gen-", "snap-"), newManifest.values.flatten.toSet)
  }

  /** Offline compaction — the maintenance entry point for read-heavy
    * targets: materialize the resolved state as ONE folded generation
    * (`snap-<applied>`), so reads stop re-paying the LWW fold per query.
    * The fold IS [[resolve]] over [[chainFrames]] — the read path itself —
    * so snapshot output and read output cannot diverge.
    *
    * Sequencing: the snapshot takes the id of the last applied batch, so
    * later appends (ids > applied) sort after it in every chain and LWW
    * order is preserved; `#applied` is NOT advanced — a snapshot consumes
    * no batch id from the stream's sequence, and replay detection is
    * untouched. Crash contract: the snap generation is written complete
    * (`_SUCCESS` required) before the flip; a crash before the flip
    * leaves the old chains fully readable and the partial dir is swept by
    * the next flip's GC. If the store is already snapshotted at the
    * current `#applied`, this is a no-op (never overwrite a LIVE
    * generation in place — a crash mid-overwrite would corrupt the only
    * copy).
    *
    * @param nBuckets must match what [[append]] uses for this store: a
    * different bucketing would not corrupt reads (LWW is global) but
    * would break per-bucket fold locality for subsequent appends. */
  def snapshot(spark: SparkSession, target: String, nBuckets: Int): Unit = {
    require(!Files.exists(bucketByPath(target)),
      s"$target is bucketed by a semantic key (BUCKETBY stamp): snapshot " +
        "would re-bucket by pk hash and silently break bucket-pruned reads")
    val chains = readManifest(target)
    val applied = readApplied(target)
    val genName = s"snap-$applied"
    if (chains.isEmpty || chains.values.exists(_.contains(genName))) return
    val genDir = s"$target/$genName"
    val pkCols = inferPkCols(target)
    val all = chainFrames(spark, target, chains).get
    // every key resolved away (all tombstoned) writes no bucket's rows:
    // the manifest legitimately flips to empty and the GC sweeps everything
    val present = writeBuckets(resolve(all, pkCols)
      .withColumn("net_op", lit("insert"))
      .withColumn("bucket", bucketCol(pkCols, nBuckets)), genDir)
    raiseHistoryFloor(target, applied)
    flip(target, present.map(b => b -> Seq(genName)).toMap, applied)
  }

  /** File-merge maintenance for APPEND-ONLY stores — the OPTIMIZE
    * counterpart of [[snapshot]] for stores read via [[readAppendOnly]]
    * (the admission signature store, the IVF index). Such stores never
    * need the LWW fold, but every increment appends one generation, so a
    * long-lived index's serve path degrades into thousands of small
    * files — THE practical failure mode of incremental indexes at scale.
    * This merges each bucket's whole chain into one `snap-<applied>`
    * generation, rows copied VERBATIM: no resolve, and each row keeps
    * the bucket it was read as (its `bucket` column, or its `bucket=`
    * dir), so semantically-bucketed stores (the IVF cell layout that
    * [[snapshot]] must refuse) keep their bucket↔cell mapping and
    * bucket-pruned reads exactly. Only live rows are merged: rows a fold
    * superseded in a still-live generation are dropped with it.
    *
    * Crash contract and sequencing are [[snapshot]]'s: complete
    * generation write (`_SUCCESS`) before the atomic flip, `#applied`
    * untouched, no-op when already optimized at the current applied id,
    * history floor raised (rows re-assert under the snap id). Call from
    * the apply thread between batches (single-writer contract). */
  def optimizeAppendOnly(spark: SparkSession, target: String,
      fs: ManifestStore = ManifestStore.LocalFs): Unit = {
    val chains = readManifest(target)
    val applied = readApplied(target)
    val genName = s"snap-$applied"
    if (chains.isEmpty || chains.values.exists(_.contains(genName))) return
    val genDir = s"$target/$genName"
    val merged = liveRows(spark, target, chains).get.drop("_seq")
    // Refuse an LWW store: verbatim merge collapses every generation's
    // rows under ONE snap id, so resolve()'s _seq order — which decides
    // which version of a key wins — is destroyed, silently serving stale
    // versions. Exactly the rows that make a store non-append-only are
    // update/delete net-ops, so the guard is data-derived and exact; a
    // store that happens to hold only inserts (unique keys) merges
    // safely. Cost: one short-circuit probe over data this maintenance
    // reads anyway.
    val lww = merged.filter(col("net_op") =!= "insert").head(1).nonEmpty
    require(!lww,
      s"$target holds update/delete net-ops — it is an LWW store, and a " +
        "verbatim file-merge would destroy last-writer-wins order; use " +
        "snapshot (maintenance type \"snapshot\") instead")
    // The insert-only probe alone is NOT sufficient: a key re-INSERTED
    // in a later generation is still version-ordered by _seq, and the
    // verbatim merge collapses both versions under one snap id — the
    // resolve would then tie-break by VALUE comparison, silently serving
    // whichever version compares larger. Append-only by contract means
    // globally unique pks; enforce it (one agg over data this
    // maintenance reads anyway — the short-circuit probe shape).
    val dup = merged.groupBy(inferPkCols(target).map(col): _*)
      .agg(count(lit(1)).as("_c")).filter(col("_c") > 1).head(1).nonEmpty
    require(!dup,
      s"$target holds multiple live rows for one pk — re-inserted keys " +
        "are version-ordered by generation, and a verbatim file-merge " +
        "would collapse the versions under one id; use snapshot " +
        "(maintenance type \"snapshot\") instead")
    val present = writeGeneration(merged, target, genDir, chains.size)
    raiseHistoryFloor(target, applied)
    flip(target, present.map(b => b -> Seq(genName)).toMap, applied, fs)
  }

  /** Read-amplification-triggered snapshot policy — the streaming
    * sink's automatic analog of the manual `snapshot` maintenance config
    * (the reference's periodic-maintenance ticker,
    * `/root/reference/pkg/task/task.go:138-147`): fold the store to one
    * resolved generation whenever live generation dirs reach
    * `minLiveGens`, so a long-running stream's read cost stays near the
    * snapshot floor without operator action. Amortized like any LSM
    * compaction: a fold brings the count back to ≤1, so the policy fires
    * at most once per `minLiveGens - 1` appends and each fold's cost is
    * spread over the appends that grew the chains. Single-writer safe:
    * call it from the apply thread, between batches. Returns whether it
    * fired. */
  def maybeSnapshot(spark: SparkSession, target: String, nBuckets: Int,
      minLiveGens: Int): Boolean = {
    val fire = readManifest(target).values.flatten.toSet.size >= minLiveGens
    if (fire) snapshot(spark, target, nBuckets)
    fire
  }

  /** Append one compacted net-change batch (both phases). */
  def append(net: DataFrame, target: String, pkCols: Seq[String],
      nBuckets: Int, batchId: Long,
      maxChain: Int = defaultMaxChain,
      maxLiveGens: Int = defaultMaxLiveGens,
      fs: ManifestStore = ManifestStore.LocalFs,
      bucketExpr: Option[Column] = None): Unit =
    flip(target, writeGen(net, target, pkCols, nBuckets, batchId, maxChain,
      maxLiveGens, bucketExpr), batchId, fs)
}
