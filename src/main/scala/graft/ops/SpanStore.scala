package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sink.{DeltaStore, ManifestStore}

/** Incremental sub-document span dedup against a persisted chunk-digest
  * store — the admission form of [[Dedup.chunkDedup]] for a recurring
  * crawl: each arriving batch of documents is span-deduped against
  * everything admitted before it, and only its NOVEL chunk digests are
  * appended to the store.
  *
  * Store shape: one row per distinct chunk digest ever admitted
  * (`_h`, 32-hex md5) in a [[graft.sink.DeltaStore]] append-only
  * layout — pk-bucketed generations, atomic MANIFEST flip, one
  * generation per batch. The store is insert-only by construction (a
  * digest, once seen, never changes), so appends are O(|novel|), reads
  * are a plain chain-union scan with no LWW fold, and the chain cap
  * folds buckets LSM-style. At 100 TB of corpus the store holds
  * |distinct chunks| fixed-width rows — the digest column prunes at
  * the parquet footer, so the per-batch probe scan moves 16-byte
  * digests, never chunk text.
  *
  * Replay contract (same family as [[Admission]]): the append is
  * generation-keyed by `batchId` — an at-least-once redelivery of an
  * UNFLIPPED batch recomputes deterministically against the pre-batch
  * store and overwrites its own partial output; a batch whose flip
  * already happened is detected and skipped by the store layer. Note
  * that RE-RUNNING an already-flipped batch recomputes stats against a
  * store that now contains the batch's own chunks (everything reads as
  * dup — conservative, and the store itself is unharmed); drive
  * batches from a streaming checkpoint so committed batches are not
  * re-presented.
  */
object SpanStore {

  /** @param target      DeltaStore directory for the digest store
    * @param chunkTokens fixed chunk width in tokens (ignored when
    *   `cdcCutNibbles` is set)
    * @param cdcCutNibbles when non-empty, chunk with CONTENT-DEFINED
    *   boundaries instead ([[Dedup.cdcChunkFrame]], mean length
    *   16/|nibbles| tokens) — the shift-robust store form
    * @param nBuckets    store bucket count (digest-hashed)
    * @param maxChain    per-bucket delta-chain cap before a fold */
  final case class Config(target: String, chunkTokens: Int = 8,
      nBuckets: Int = 16, maxChain: Int = DeltaStore.defaultMaxChain,
      cdcCutNibbles: String = "")

  private[ops] def paramsLine(cfg: Config): String =
    if (cfg.cdcCutNibbles.nonEmpty) s"chunker=cdc cuts=${cfg.cdcCutNibbles}"
    else s"chunker=fixed tokens=${cfg.chunkTokens}"

  private def paramsPath(target: String): java.nio.file.Path =
    java.nio.file.Paths.get(target, "SPANPARAMS")

  /** Refuse a batch whose chunking disagrees with the store's stamp: a
    * mismatched chunk width (or chunker family) produces digests that
    * NEVER collide with the stored ones, so every duplicate span would
    * silently re-admit — the same failure mode Admission's LSHPARAMS
    * stamp closes for band keys. Stamped BEFORE the first append: a
    * crash between the store flip and a post-append stamp would leave a
    * non-empty, unstamped store that a restart under different params
    * would silently mix digest families into; a stamp over an empty
    * store is harmless and still guards the retry. */
  private def checkOrNoteParams(cfg: Config): Unit = {
    val p = paramsPath(cfg.target)
    if (java.nio.file.Files.exists(p)) {
      val stored = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(stored == paramsLine(cfg),
        s"span store ${cfg.target} was built with [$stored] but this batch " +
          s"runs [${paramsLine(cfg)}] — mismatched chunking would silently " +
          "re-admit every duplicate span (digests never collide)")
    }
  }

  private def stampParams(cfg: Config): Unit =
    if (!java.nio.file.Files.exists(paramsPath(cfg.target)))
      ManifestStore.LocalFs.publish(cfg.target, "SPANPARAMS", paramsLine(cfg))

  private def chunksOf(batch: DataFrame, cfg: Config): DataFrame =
    if (cfg.cdcCutNibbles.nonEmpty)
      Dedup.cdcChunkFrame(batch, "doc_id", "text", cfg.cdcCutNibbles)
    else Dedup.chunkFrame(batch, "doc_id", "text", cfg.chunkTokens)

  /** The persisted digest set (None before the first flip). */
  def readHashes(spark: SparkSession, target: String): Option[DataFrame] =
    DeltaStore.readAppendOnly(spark, target).map(_.select("_h"))

  private def emptyHashes(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_h",
          org.apache.spark.sql.types.StringType))))

  /** Span-dedup one batch against the store and append its novel
    * digests: returns the per-doc stats frame (same columns as
    * [[Dedup.chunkDedup]]), MATERIALIZED before the store flip so the
    * caller's read cannot race the manifest. */
  def admitBatch(batch: DataFrame, cfg: Config, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    checkOrNoteParams(cfg)
    stampParams(cfg)
    val chunks = chunksOf(batch, cfg).cache()
    try {
      val corpus = readHashes(spark, cfg.target).getOrElse(emptyHashes(spark))
      val flagged = Dedup.chunkFlagsAgainst(chunks, corpus, "doc_id").cache()
      try {
        // materialize stats BEFORE the flip, distributed (eager
        // localCheckpoint severs the lineage): a post-flip lazy
        // evaluation of the corpus probe would see this batch's own
        // digests; a driver collect would not scale past gate inputs
        val stats = Dedup.perDocRebuild(flagged, "doc_id").localCheckpoint(true)
        val novel = flagged.filter(col("_kept")).select(col("_h")).distinct()
        DeltaStore.append(novel.withColumn("net_op", lit("insert")),
          cfg.target, Seq("_h"), cfg.nBuckets, batchId, cfg.maxChain)
        stats
      } finally { flagged.unpersist(); () }
    } finally { chunks.unpersist(); () }
  }

  /** [[admitBatch]] without the per-doc stats materialization — the
    * streaming driver's form (stats are an audit output; the stream
    * needs only the append). Returns the novel-digest count. */
  def admitOnly(batch: DataFrame, cfg: Config, batchId: Long): Long = {
    val spark = batch.sparkSession
    checkOrNoteParams(cfg)
    stampParams(cfg)
    val chunks = chunksOf(batch, cfg).cache()
    try {
      val corpus = readHashes(spark, cfg.target).getOrElse(emptyHashes(spark))
      val novel = Dedup.chunkFlagsAgainst(chunks, corpus, "doc_id")
        .filter(col("_kept")).select(col("_h")).distinct().cache()
      try {
        // materialize before the flip GCs old gens (chunking + the
        // digest join run here)
        val n = novel.count()
        DeltaStore.append(novel.withColumn("net_op", lit("insert")),
          cfg.target, Seq("_h"), cfg.nBuckets, batchId, cfg.maxChain)
        n
      } finally { novel.unpersist(); () }
    } finally { chunks.unpersist(); () }
  }

  /** Drive [[admitOnly]] over an unbounded (doc_id, text) stream —
    * checkpointed, replay-safe (the generation-keyed flip skips
    * committed batches on redelivery). */
  def admissionStream(newDocs: DataFrame, cfg: Config, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admitOnly(batch, cfg, id)
        ()
      }
      .start()
}
