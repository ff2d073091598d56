package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** MERGE-shaped incremental target: an append-only delta log over
  * pk-hash buckets — the LSM/Delta-log counterpart of [[BucketStore]].
  *
  * [[BucketStore]] applies a micro-batch by READ-MODIFY-WRITING every
  * bucket the batch touches (the semantics of the reference's executing
  * batch apply, `pkg/output/mysql/batch/tableprocessor.go:198-257`).
  * That is O(touched state) per batch: a workload whose keys spray
  * across buckets rewrites nearly the whole store every batch (and its
  * read of the touched buckets opens every file of their generations). Here a
  * batch instead APPENDS its compacted net changes as a new delta
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
  *     A store-wide fold triggers when live generation DIRS exceed
  *     `maxLiveGens`, bounding file counts on long streams.
  *
  * Write path: a batch that can fold nothing (no chain at `maxChain`,
  * live generation dirs below `maxLiveGens`) is written verbatim by ONE
  * query — no cache, no bucket-id collect, no shuffle of its own — and
  * the buckets it appends to are observed on that same write. Only a
  * batch that can fold first caches the net batch and collects its
  * bucket ids, to pick the fold set (touched buckets at the cap). Every
  * generation of a pk-hash store, here and in [[BucketStore]], is a
  * flat file set sorted by `bucket` ([[BucketStore.writeBuckets]]); a
  * store bucketed by a semantic key (`bucketExpr`, stamped `BUCKETBY`)
  * keeps one dir per bucket ([[BucketStore.writeCells]]) so its reads
  * can prune files.
  *
  * Crash contract is [[BucketStore]]'s, unchanged: generation dirs are
  * keyed by batch id and written mode=overwrite (replay self-heals its
  * own partial output), MANIFEST is flipped by atomic rename only after
  * the generation's `_SUCCESS` exists, and a replay of an
  * already-flipped batch is detected and returns the manifest unchanged.
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
  * is in `b`'s chain ([[BucketStore.scanGens]]).
  */
object DeltaStore {

  /** Chain length at which an appending bucket folds down. */
  val defaultMaxChain = 8

  /** Live generation-dir bound: at/above this, the next append folds the
    * WHOLE store into one generation (file-count backstop, mirrors
    * [[BucketStore.defaultMaxLiveGens]]). */
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
    * read by [[BucketStore.scanGens]], a store bucketed by a semantic key
    * by [[BucketStore.scanCells]]. Both merge footers, so a
    * schema-ADDITIVE stream (a later batch's net carrying a new column —
    * the CDC analog of ADD COLUMN) resolves with nulls for pre-evolution
    * rows. Rows keep `bucket`; [[chainFrames]] drops it. */
  private def liveRows(spark: SparkSession, target: String,
      chains: Map[Int, Seq[String]],
      buckets: Option[Set[Int]] = None): Option[DataFrame] =
    if (Files.exists(bucketByPath(target))) BucketStore.scanCells(spark, target, chains, buckets)
    else BucketStore.scanGens(spark, target, chains, buckets)

  /** [[liveRows]] without the `bucket` column: the state columns,
    * `net_op` and `_seq`. */
  private def chainFrames(spark: SparkSession, target: String,
      chains: Map[Int, Seq[String]],
      buckets: Option[Set[Int]] = None): Option[DataFrame] =
    liveRows(spark, target, chains, buckets).map(_.drop("bucket"))

  /** Resolved current state (None when the store is empty). Same output
    * schema as [[BucketStore.read]]: pk cols + value cols, no `net_op`. */
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
    * snapshot, or rewrite re-asserts pre-fold rows under the folding
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
    *     buckets ([[BucketStore.scanGens]]). So feed cost follows the
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
      gens.exists { g => val id = BucketStore.genId(g); id > fromBatch && id <= toBatch }
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
  private def raiseHistoryFloor(target: String, batchId: Long): Unit = {
    if (batchId > readHistoryFloor(target)) {
      Files.createDirectories(Paths.get(target))
      val tmp = Paths.get(target, s"HISTORY.tmp-${java.util.UUID.randomUUID}")
      Files.write(tmp, batchId.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, historyPath(target),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Union of the live chains WITHOUT the per-pk LWW fold — the read
    * path for APPEND-ONLY stores (insert-only nets, globally unique pks:
    * the admission signature store). No key is ever superseded, so the
    * fold would only burn a corpus-wide shuffle; skipping it keeps the
    * read a plain multi-path scan whose column pruning reaches the
    * parquet footers directly (a consumer selecting (doc_id, bands)
    * never drags the shingle arrays through an aggregation). Tolerates
    * mixed-era chains (mergeSchema): rows from generations written by
    * [[BucketStore]] before a migration carry no `net_op` and read as
    * null — kept; genuine tombstones (never produced by an append-only
    * writer) are dropped defensively.
    * `buckets`, when given, restricts the scan to those chains — for
    * stores bucketed by a semantic key (the IVF index's cell id), the
    * caller's candidate cells prune to a subset of the FILES, not just a
    * post-scan filter: an nprobe-cell top-k read touches nprobe/nBuckets
    * of the corpus on disk. */
  def readAppendOnly(spark: SparkSession, target: String,
      buckets: Option[Set[Int]] = None): Option[DataFrame] =
    chainFrames(spark, target, readManifest(target), buckets).map { rows =>
      val df = rows.drop("_seq")
      if (df.columns.contains("net_op"))
        df.filter(col("net_op").isNull || col("net_op") =!= "delete").drop("net_op")
      else df
    }

  private def pkColsPath(target: String): Path = Paths.get(target, "PKCOLS")

  private def bucketByPath(target: String): Path = Paths.get(target, "BUCKETBY")

  /** Stamp a store whose buckets are a caller-supplied semantic key, not
    * the pk hash (atomic, once). [[snapshot]] refuses stamped stores. */
  private def markSemanticBuckets(target: String): Unit = {
    val p = bucketByPath(target)
    if (!Files.exists(p)) {
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(target, s"BUCKETBY.tmp-${java.util.UUID.randomUUID}")
      Files.write(tmp, "semantic".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, p,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Write a generation in the store's layout, picked by its `BUCKETBY`
    * stamp: one dir per bucket for a semantic key
    * ([[BucketStore.writeCells]], at most `maxBuckets` of them), flat
    * files sorted by `bucket` for the pk hash
    * ([[BucketStore.writeBuckets]]). Returns the buckets written. */
  private def writeGeneration(df: DataFrame, target: String, genDir: String,
      maxBuckets: Int): Set[Int] =
    if (Files.exists(bucketByPath(target))) BucketStore.writeCells(df, genDir, maxBuckets)
    else BucketStore.writeBuckets(df, genDir)

  /** The resolution key is part of the store's identity; persist it at
    * first append so readers need no out-of-band schema knowledge. */
  private def writePkCols(target: String, pkCols: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(target))
    val p = pkColsPath(target)
    if (!Files.exists(p)) {
      // tmp + atomic rename, mirroring writeManifest: a crash mid-write
      // must never leave a truncated PKCOLS for the exists-guard to keep
      val tmp = Paths.get(target, s"PKCOLS.tmp-${java.util.UUID.randomUUID}")
      Files.write(tmp, pkCols.mkString(",").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, p,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def inferPkCols(target: String): Seq[String] =
    new String(Files.readAllBytes(pkColsPath(target)), StandardCharsets.UTF_8)
      .split(',').toSeq

  /** Phase 1: write generation `gen-<batchId>` holding (a) raw delta rows
    * for buckets that keep appending and (b) folded base rows for buckets
    * at their chain cap, and return the manifest phase 2 flips to.
    * Split from [[append]] so crash-injection tests can die between the
    * phases, exactly like [[BucketStore.writeGen]]. */
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
    val bucketOf = bucketExpr.getOrElse(BucketStore.bucketCol(pkCols, nBuckets))
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
          val all = base.map(_.unionByName(newDeltas)).getOrElse(newDeltas)
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
        .map(f => deltaPart.unionByName(f, allowMissingColumns = false))
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
    val present = BucketStore.writeBuckets(resolve(all, pkCols)
      .withColumn("net_op", lit("insert"))
      .withColumn("bucket", BucketStore.bucketCol(pkCols, nBuckets)), genDir)
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
    // safely. Null net_op (pre-migration BucketStore rows) is fine —
    // readAppendOnly keeps those too. Cost: one short-circuit probe over
    // data this maintenance reads anyway.
    if (merged.columns.contains("net_op")) {
      val lww = merged.filter(col("net_op").isNotNull && col("net_op") =!= "insert")
        .head(1).nonEmpty
      require(!lww,
        s"$target holds update/delete net-ops — it is an LWW store, and a " +
          "verbatim file-merge would destroy last-writer-wins order; use " +
          "snapshot (maintenance type \"snapshot\") instead")
    }
    // The insert-only probe alone is NOT sufficient: a key re-INSERTED
    // in a later generation is still version-ordered by _seq, and the
    // verbatim merge collapses both versions under one snap id — the
    // resolve would then tie-break by VALUE comparison, silently serving
    // whichever version compares larger. Append-only by contract means
    // globally unique pks; enforce it (one agg over data this
    // maintenance reads anyway — the short-circuit probe shape).
    val pkCols =
      if (Files.exists(pkColsPath(target))) inferPkCols(target) else Seq.empty
    if (pkCols.nonEmpty && pkCols.forall(merged.columns.contains)) {
      val dup = merged.groupBy(pkCols.map(col): _*)
        .agg(count(lit(1)).as("_c")).filter(col("_c") > 1).head(1).nonEmpty
      require(!dup,
        s"$target holds multiple live rows for one pk — re-inserted keys " +
          "are version-ordered by generation, and a verbatim file-merge " +
          "would collapse the versions under one id; use snapshot " +
          "(maintenance type \"snapshot\") instead")
    }
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

  /** Reset-write: land `net` (state rows carrying `net_op`) as the
    * store's SINGLE generation, every chain reset to it — the
    * migration / offline-fold entry for a caller that computed the full
    * resolved state itself (e.g. [[graft.ops.Admission]] upgrading a
    * pre-delta store layout in one pass). Crash contract identical to
    * [[append]]: the generation is written complete (`_SUCCESS`
    * required) before the atomic flip, a replayed batch is detected by
    * generation name / `#applied` and skipped, and superseded
    * generations are swept only after the flip. */
  def rewrite(net: DataFrame, target: String, pkCols: Seq[String],
      nBuckets: Int, batchId: Long,
      fs: ManifestStore = ManifestStore.LocalFs): Unit = {
    val genName = s"gen-$batchId"
    val genDir = s"$target/$genName"
    val manifest0 = readManifest(target)
    if (manifest0.values.exists(_.contains(genName)) ||
        batchId <= readApplied(target)) return
    writePkCols(target, pkCols)
    val present = writeGeneration(
      net.withColumn("bucket", BucketStore.bucketCol(pkCols, nBuckets)), target, genDir, nBuckets)
    raiseHistoryFloor(target, batchId)
    flip(target, present.map(b => b -> Seq(genName)).toMap, batchId, fs)
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
