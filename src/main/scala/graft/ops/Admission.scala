package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sink.{DeltaStore, ManifestStore}

/** Streaming corpus admission — incremental dedup in its full
  * production shape. Each arriving micro-batch of documents is:
  *
  *   1. deduped WITHIN the batch (any doc with a verified near-dup of
  *      lower id is rejected — the deterministic keep-first policy);
  *   2. checked AGAINST the persisted corpus signature store
  *      (new-vs-corpus candidates only, [[Dedup.lshCandidatesAgainst]]
  *      — corpus×corpus pairs never form);
  *   3. survivors' shingle sets + MinHash signatures are APPENDED to
  *      the store ([[graft.sink.DeltaStore]]: pk-bucketed append-only
  *      generations, atomic MANIFEST flip), so a later batch dedupes
  *      against everything admitted before it.
  *
  * Replay safety end to end: the store merge is generation-keyed by
  * batch id (an at-least-once redelivery overwrites its own partial
  * output, and a flip that already happened is detected and skipped),
  * and the admission decision is deterministic given (batch, store
  * state), so re-running an uncommitted batch converges.
  *
  * Scale notes: signatures are computed once per arriving doc (map-only);
  * the corpus side is ONE scan per batch of the persisted store, whose
  * rows carry the banded form as a PACKED column family next to the
  * signature — `bands: array<struct<band,key>>`, pre-derived at admission
  * time — so candidate generation explodes fixed-width band structs
  * (parquet column pruning skips the shingle/signature columns entirely)
  * and never re-derives bands from `perms` stored hashes; candidates meet
  * on the (band, key) shuffle key, and verification touches candidate
  * pairs only, reading shingle sets straight from the same store.
  *
  * ONE store, ONE append, ONE flip per batch — and the append is
  * O(|admitted batch|), NOT O(corpus): admission is insert-only (an
  * admitted doc is never updated or deleted), so the store is a
  * [[graft.sink.DeltaStore]] whose batches land as append-only
  * generations. The earlier read-modify-write layout rewrote every
  * touched bucket, and a batch of new docs hashes uniformly across ALL
  * buckets — at corpus scale that is a full store rewrite per
  * increment, the exact cost this operator exists to avoid. Reads go
  * through [[DeltaStore.readAppendOnly]] (a plain chain-union scan, no
  * LWW fold — column pruning reaches the footers); the chain cap folds
  * a bucket once per `maxChain` appends, amortized like any LSM.
  * Because the band rows travel inside the store's own generation,
  * there is no window in which the corpus and its banded form disagree,
  * and replay safety is the generation-key + `#applied` contract (an
  * already-flipped batch is detected and skipped; an unflipped one
  * recomputes deterministically against the pre-batch store).
  */
object Admission {

  /** @param target     DeltaStore directory for the signature store
    * @param checkpoint streaming checkpoint dir
    * @param threshold  Jaccard rejection threshold on trigram shingles
    * @param perms      MinHash permutations (bands*rows must equal it)
    * @param portableHash use the sliced-md5 MinHash family (k ≤ 8)
    *   instead of xxhash64 — an external SQL engine can then replay the
    *   identical admission decisions (the oracle family; production
    *   keeps the default)
    * @param maxChain per-bucket delta-chain cap before the append folds
    *   that bucket ([[graft.sink.DeltaStore]]'s LSM trade: larger =
    *   cheaper appends, more files per candidate scan) */
  final case class Config(target: String, checkpoint: String,
      threshold: Double = 0.5, perms: Int = 8, bands: Int = 4, rows: Int = 2,
      nBuckets: Int = 16, portableHash: Boolean = false,
      maxChain: Int = DeltaStore.defaultMaxChain) {
    require(bands * rows == perms, "bands*rows must equal perms")
  }

  /** (doc_id, sh, sig) for a (doc_id, text) frame — the store's schema.
    * Two LET-BINDINGS via one-element `transform` lambdas (interpreted
    * HOFs get no common-subexpression elimination; a bound lambda
    * variable is evaluated once and referenced many times, no cache
    * barrier needed — the streaming-safe form of shingleFrame's token
    * cache):
    *   - the TOKEN array is bound before shingling — an inlined token
    *     expression would re-run the regex split once per `element_at`
    *     of the shingle transform, O(tokens) re-tokenizations per doc
    *     (measured: admit.sig 8.0 s → 1.4 s over 3 sf0.1 batches);
    *   - the portable family ([[Dedup.minhashMd5]]) binds the
    *     per-shingle digest array before perm slicing — an inlined
    *     digest expression would re-run the md5 pass once per perm. */
  private[graft] def signatures(docs: DataFrame, perms: Int,
      portableHash: Boolean = false): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val sh = element_at(transform(array(toks),
      t => array_distinct(Dedup.shingles(t))), 1)
    val sig =
      if (portableHash) Dedup.minhashMd5(col("sh"), perms)
      else Dedup.minhashFast(col("sh"), perms).cast("array<string>")
    docs.filter(size(toks) >= 3)
      .select(col("doc_id"), sh.as("sh"))
      .withColumn("sig", sig)
  }

  /** Current signature-store contents (None when absent). The admission
    * store is append-only, so this is [[DeltaStore.readAppendOnly]]'s
    * plain chain-union scan. */
  def readStore(spark: SparkSession, target: String): Option[DataFrame] =
    DeltaStore.readAppendOnly(spark, target)

  /** The store's LSH-parameter stamp (`LSHPARAMS` next to MANIFEST).
    * Band keys are a pure function of (hash family, perms, bands, rows):
    * a batch run with a DIFFERENT config against an existing store would
    * produce keys that never collide with stored ones — near-duplicates
    * silently admitted instead of an error. [[admitBatch]] stamps the
    * store BEFORE its first batch runs (a crash can then never leave a
    * non-empty unstamped store) and refuses a mismatched config thereafter
    * (threshold included: a drifting threshold makes admission decisions
    * inconsistent across batches even though the keys still collide). */
  private[graft] def paramsLine(cfg: Config): String =
    s"family=${if (cfg.portableHash) "md5-sliced" else "xxhash64"} " +
      s"perms=${cfg.perms} bands=${cfg.bands} rows=${cfg.rows} " +
      s"threshold=${cfg.threshold}"

  private def paramsPath(target: String): java.nio.file.Path =
    java.nio.file.Paths.get(target, "LSHPARAMS")

  private def checkOrNoteParams(cfg: Config): Unit = {
    val p = paramsPath(cfg.target)
    if (java.nio.file.Files.exists(p)) {
      val stored = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(stored == paramsLine(cfg),
        s"signature store ${cfg.target} was built with [$stored] but this " +
          s"batch runs [${paramsLine(cfg)}] — mismatched LSH parameters " +
          "would silently admit near-duplicates (band keys never collide)")
    }
  }

  private def stampParams(cfg: Config): Unit =
    if (!java.nio.file.Files.exists(paramsPath(cfg.target)))
      ManifestStore.LocalFs.publish(cfg.target, "LSHPARAMS", paramsLine(cfg))

  /** Rejected batch ids from a unified candidate frame
    * `(doc_id, other_id, src)` — `doc_id` is the batch doc that dies if
    * the pair verifies; `src` names which shingle table the OTHER side
    * lives in (`"batch"` or `"corpus"`). One join pipeline and one
    * distinct serve BOTH rejection branches: the batch side binds its
    * shingles once, the other side resolves against the union of the
    * batch and corpus shingle frames keyed by (src, id) — the src tag
    * keeps the lookup unambiguous even when a replayed batch's ids
    * already exist in the store. */
  private def rejectedIds(cand: DataFrame, batchSh: DataFrame,
      corpusSh: Option[DataFrame], threshold: Double): DataFrame = {
    val (inter, uni, _) = Dedup.jaccardCols(col("_lsh"), col("_rsh"))
    val batchOther = batchSh.select(lit("batch").as("src"),
      col("doc_id").as("other_id"), col("sh").as("_rsh"))
    val otherSh = corpusSh match {
      case Some(c) => batchOther.unionByName(c.select(lit("corpus").as("src"),
        col("doc_id").as("other_id"), col("sh").as("_rsh")))
      case None => batchOther
    }
    cand.join(batchSh.select(col("doc_id"), col("sh").as("_lsh")), "doc_id")
      .join(otherSh, Seq("src", "other_id"))
      .filter(inter * 1.0 / uni >= threshold)
      .select("doc_id").distinct()
  }

  /** Admit one batch: merges the admitted signature rows into the store
    * and returns how many were admitted. (Deliberately NOT the lazy
    * admitted frame: after the store flip GCs superseded generations, a
    * recomputation of that plan could read deleted files — the count is
    * materialized while the pre-flip cache is still live.) Callable
    * directly for batch pipelines; [[admissionStream]] drives it per
    * micro-batch. */
  def admitBatch(batch: DataFrame, cfg: Config, batchId: Long): Long = {
    val spark = batch.sparkSession
    checkOrNoteParams(cfg) // refuse a config mismatched with the store
    // stamp BEFORE the batch runs (same fix as SpanStore's SPANPARAMS):
    // a crash between the merge and a post-merge stamp left a non-empty
    // unstamped store that a restart under a different config would
    // silently mix band families into; stamping an empty store is
    // harmless and still guards the retry. Pre-stamp-era stores are
    // stamped with the current config on first contact, as before.
    stampParams(cfg)
    val sig = signatures(batch, cfg.perms, cfg.portableHash).cache()
    var repSigRef: DataFrame = null // for the failure-path unpersist
    try {
      // EXACT-clique contraction — the hot-band skew guard. Docs with an
      // IDENTICAL shingle set are pairwise Jaccard-1: under the edge
      // keep-first policy every non-min id dies whatever else happens,
      // yet banding all of them would drop m same-signature rows into
      // the same (band, key) buckets and the within-batch self-join
      // would emit C(m,2) candidate pairs — the one quadratic form on
      // this path (a boilerplate page crawled 10^6 times in one batch is
      // m = 10^6 → 5·10^11 pairs). Contract each identical-sh group to
      // its min id BEFORE banding, auto-reject the rest: candidates stay
      // O(collisions among DISTINCT docs) and every admission decision
      // is provably unchanged (group members share bands and shingles,
      // so any pair evidence a non-rep provided, its rep provides with
      // the same Jaccard and a lower id).
      val withShd = sig.withColumn("_shd", md5(concat_ws("\u0000", col("sh"))))
      val repIds = withShd.groupBy("_shd").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val repSig = sig.join(repIds, Seq("doc_id"), "left_semi").cache()
      repSigRef = repSig
      // materialize the contraction (filling the sig cache on the way),
      // then DROP the sig cache: every later consumer (bands, verify's
      // shingle lookups, the admitted anti-join) reads repSig, so keeping
      // both pinned would hold two near-identical copies of the batch's
      // largest column for the call's lifetime. The count must run before
      // the unpersist: a lazily filled repSig would recompute sig.
      repSig.count()
      sig.unpersist()
      val bands = Dedup.lshBands(repSig, "sig", cfg.bands, cfg.rows, "doc_id")

      // 1+2 in ONE pass. Within-batch keep-first is EDGE-based: the
      // higher id of any verified pair is rejected even if the lower id
      // itself gets rejected against the corpus — near-dup chains
      // collapse transitively. (Deliberate: clique-aware admission would
      // need a driver-side iterative pass; the edge policy is the
      // standard MinHash-dedup keep-first, and its only batching
      // sensitivity is the degenerate chain case where the surviving
      // endpoint of a pair is itself corpus-rejected.)
      // Corpus candidates come from the store's packed band column
      // (exploded — column pruning skips sh/sig on this scan), and the
      // two candidate branches union into ONE shingle-join/verify
      // pipeline ([[rejectedIds]]): one distinct over rejected ids, one
      // count, one tiny cached id set feeding the anti-join — the
      // earlier per-branch pipelines paid the batch-side shingle join,
      // the verify filter and the distinct shuffle twice.
      val storeOpt = readStore(spark, cfg.target)
      // b_id = higher id (lshCandidates: a < b) — the rejected side
      val selfCand = Dedup.lshCandidates(bands, "doc_id")
        .select(col("b_id").as("doc_id"), col("a_id").as("other_id"),
          lit("batch").as("src"))
      val cand = storeOpt match {
        case None => selfCand
        case Some(store) =>
          val corpBands = store.select(col("doc_id"), explode(col("bands")).as("bk"))
            .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
          selfCand.unionByName(
            Dedup.lshCandidatesAgainst(bands, corpBands, "doc_id")
              .select(col("new_id").as("doc_id"), col("corpus_id").as("other_id"),
                lit("corpus").as("src")))
      }
      // NOT materialized as its own job: `rejected` is consumed exactly
      // once, by the admitted anti-join below, so the verify join runs
      // inside the admitted aggregate (candidate verification + merge in
      // ONE job per batch).
      val rejected = rejectedIds(cand, repSig,
        storeOpt.map(_.select("doc_id", "sh")), cfg.threshold)

      // 3. append survivors — signature AND packed bands in the same
      // row — to the store: ONE generation, ONE flip, O(|admitted|)
      // written (replay-safe by the generation key / #applied header).
      // Survivors come from the contracted rep set — contracted-away
      // clique members are rejected by construction (identical sh ⟹ a
      // verified pair with their lower-id rep), so they never reach the
      // store.
      val admitted = repSig
        .join(rejected, Seq("doc_id"), "left_anti")
        .withColumn("bands", Dedup.lshBandArray(col("sig"), cfg.bands, cfg.rows))
        .cache()
      try {
        val n = admitted.count() // materialize before the flip GCs old gens
        repSig.unpersist()
        DeltaStore.append(admitted.withColumn("net_op", lit("insert")),
          cfg.target, Seq("doc_id"), cfg.nBuckets, batchId, cfg.maxChain)
        n
      } finally admitted.unpersist()
    } finally {
      // also on failure: a retrying stream must not accumulate orphaned
      // cached batches (both unpersists are no-ops on the success path,
      // where the caches are dropped as soon as their last consumer ran)
      sig.unpersist()
      if (repSigRef != null) { repSigRef.unpersist(); () }
    }
  }

  /** Drive [[admitBatch]] over an unbounded (doc_id, text) stream. */
  def admissionStream(newDocs: DataFrame, cfg: Config,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", cfg.checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admitBatch(batch, cfg, id)
        ()
      }
      .start()
}
