package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.op.Compactor

/** Structured Streaming form of the engine: the binlog/Kafka tail analog.
  *
  * The reference's delivery machinery (disruptor ring, ordered acks,
  * statestore positions — SURVEY.md §2.5) maps wholesale onto Spark's
  * micro-batch + checkpoint commit protocol: offsets are persisted after
  * a batch's sinks succeed, giving the same at-least-once contract as
  * ack-gated position persistence; idempotent apply (compact-then-merge)
  * makes replay safe.
  *
  * All transforms here are the SAME functions used in batch
  * ([[graft.op.Processors]], [[Compactor]]) — a table is a bounded
  * changelog, a stream is an unbounded one.
  */
object ChangeStream {

  /** S1 analog — the engine-local change-stream source: the `events`
    * table tailed as an unbounded changelog via the file stream source
    * (`maxFilesPerTrigger` plays the reference's binlog fetch batching;
    * on a real deployment this is `readStream.format("kafka")` +
    * `from_json`, same downstream code). The parquet's TIMESTAMP(NANOS)
    * is declared as long and narrowed to µs, as in the batch source.
    *
    * `slices` > 1 stages the events file as that many range-sliced
    * segment files instead of one, so the bounded drain runs as `slices`
    * micro-batches (`maxFilesPerTrigger`=1) — the shape of a real binlog
    * tail, where state accumulates ACROSS batches. Multi-batch apply is
    * where the incremental sinks' semantics (chain growth, compaction,
    * replay) actually engage; a single-batch drain never exercises them.
    *
    * `sliceBy` picks the slicing column and with it the apply regime:
    *  - `event_id` (default): log order — every batch's keys spray
    *    across all buckets (the uniform-update regime: the worst case
    *    for a read-modify-write apply, the best for DeltaStore's
    *    appends);
    *  - `user_id`: key ranges — each batch touches only its own keys'
    *    buckets (the key-partitioned/backfill regime, where
    *    read-modify-write's O(touched) is small). A key's ops stay in
    *    ONE slice, so batch order between a key's ops is preserved
    *    trivially. */
  def fromEventsStream(spark: SparkSession, sfDir: String,
      slices: Int = 1, sliceBy: String = "event_id"): DataFrame =
    graft.source.Changelog.fromEventsDf(
      fromEventsRawStream(spark, sfDir, slices, sliceBy))

  /** Stage the events file as range slices and return (dropDir, declared
    * schema). Public so tests can locate the staged dir — the drop path
    * is keyed on the declared schema too, which callers can't rebuild
    * without repeating the footer probe done here. */
  def stageEvents(spark: SparkSession, sfDir: String,
      slices: Int, sliceBy: String): (String, org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A file stream needs a DECLARED schema — probe the fixture's footer
    // through the batch reader first so the forced type of `ts` matches
    // its actual physical shape (legacy ns-long vs timestamp[us]); a
    // mismatched force here silently mis-scales event_time 1000×.
    val tsType =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // The file stream source tails a DIRECTORY (arriving files = arriving
    // binlog segments) — see [[Staging]] for the slice/marker contract.
    // Range segments preserve binlog order between slices (a key's ops
    // land in batch order), mirroring sequential segment rotation.
    (Staging.stageSlices(spark, s"$sfDir/events.parquet",
      Some(schema), sliceBy, slices), schema)
  }

  /** [[fromEventsStream]] WITHOUT the changelog projection: the raw
    * event stream (ts normalized to ts/ts_ns), for event-sequence
    * analytics that want user_id/event_type rather than the changelog
    * view — the streaming twin of the batch `events_raw` source. */
  def fromEventsRawStream(spark: SparkSession, sfDir: String,
      slices: Int = 1, sliceBy: String = "event_id"): DataFrame = {
    val (drop, schema) = stageEvents(spark, sfDir, slices, sliceBy)
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(drop)
    graft.source.Changelog.normalizeTs(raw)
  }

  /** The crawl-increment analog of [[fromEventsStream]]: the `documents`
    * table tailed as an unbounded (doc_id, text, …) stream — `slices`
    * doc_id-range segments arriving one micro-batch each. This is the
    * source shape of a streaming corpus-admission task (each batch is a
    * crawl increment admitted against the growing corpus). */
  def fromDocumentsStream(spark: SparkSession, sfDir: String,
      slices: Int = 1, sliceBy: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val drop = Staging.stageSlices(spark, s"$sfDir/documents.parquet",
      Some(schema), sliceBy, slices)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(drop)
  }

  /** The `embeddings` table tailed as vec_id-range slices — the arriving
    * -embedding-increment source (pairs with the `ivf_append` sink for a
    * config-driven streaming index-maintenance task). Emits
    * (vec_id, v: array<double>) — the cast the ANN family reads. */
  def fromEmbeddingsStream(spark: SparkSession, sfDir: String,
      slices: Int = 1, sliceBy: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val drop = Staging.stageSlices(spark, s"$sfDir/embeddings.parquet",
      Some(schema), sliceBy, slices)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(drop)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** Tumbling-window aggregation with watermark — the streaming form of
    * the `stream_window` declared query. Late events beyond the watermark
    * are dropped; state is bounded by (watermark horizon / slide). */
  /** Stream-STREAM interval join: rows of `right` joined to rows of
    * `left` with the same `keyCol` and `rightTs` within
    * [`leftTs`, `leftTs` + `within`] — the click→purchase attribution
    * shape. The time bound lives IN the join condition (not a
    * post-filter), which is what lets Structured Streaming evict join
    * state once the watermark passes a row's reach: state is bounded
    * by (watermark + within) per key, independent of stream length. On
    * a batch frame the same plan runs with watermarks ignored, so the
    * gate checks the identical join algebra the stream executes.
    * Caller supplies disjoint column names apart from `keyCol` (the
    * right key is dropped from the output). */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, within: String,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r, functions.expr(
      s"l.$keyCol = r.$keyCol AND r.$rightTs >= l.$leftTs AND " +
        s"r.$rightTs <= l.$leftTs + INTERVAL $within"))
      .drop(r.col(keyCol))
  }

  def windowedCounts(events: DataFrame, watermark: String = "1 hour",
      window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))

  private val functions = org.apache.spark.sql.functions

  /** Per-micro-batch compaction + apply: each batch is compacted (P8)
    * and handed to `applyBatch` with its batch id via `foreachBatch`.
    * Batch id + idempotent apply (e.g. [[graft.sink.DeltaStore.append]])
    * ⇒ at-least-once safe. */
  def compactedApply(changelog: DataFrame, checkpoint: String)(
      applyBatch: (DataFrame, Long) => Unit): StreamingQuery =
    changelog.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyBatch(Compactor.compact(batch.toDF()), id)
      }
      .start()

  /** Cross-batch per-key compaction state (the reference keeps this
    * implicitly in its ring + sink buffers; here it is explicit
    * flatMapGroupsWithState). Because each batch's emission is APPLIED
    * downstream, the carried state tracks applied existence (`inDb`):
    * a delete after an applied insert must emit `delete` (unlike one-shot
    * batch compaction, where insert→delete cancels), and a batch that
    * nets to nothing emits zero rows. */
  case class KeyState(inDb: Boolean, lastSeq: Long,
      rId: Option[Long], rK: Option[Int], rV: Option[Double])

  type FlatEvent = graft.model.FlatEvent
  val FlatEvent: graft.model.FlatEvent.type = graft.model.FlatEvent
  type NetRow = graft.model.NetRow
  val NetRow: graft.model.NetRow.type = graft.model.NetRow

  /** The per-(tbl, pk) batch fold, extracted PURE so its semantics — in
    * particular the TTL-eviction contract — are unit-testable without a
    * manual streaming clock (Spark's `StreamManualClock` lives in test
    * jars absent from the runtime classpath): given the carried state
    * (None = fresh key OR a key whose state was evicted by TTL) and a
    * batch's events, return (next state, emitted net row). The eviction
    * contract under test: with `prev = None`, prior existence is
    * re-inferred from the first op (a non-insert first op ⇒ the key was
    * applied before), which is correct as long as the TTL exceeds the
    * source's max replay window. */
  private[graft] def foldGroup(tbl: String, pk: Long,
      prev: Option[KeyState], batch: Seq[FlatEvent]): (KeyState, Option[NetRow]) = {
    val sorted = batch.sortBy(_.seq)
    val inDbStart = prev.map(_.inDb).getOrElse(sorted.head.op != "insert")
    val lastOp = sorted.last.op
    val lastSeq = sorted.last.seq
    val lastUpsert = sorted.filter(_.op != "delete").lastOption
    val (rId, rK, rV) =
      if (lastOp == "delete") (None, None, None)
      else lastUpsert.map(e => (e.r_id, e.r_k, e.r_v))
        .orElse(prev.map(p => (p.rId, p.rK, p.rV)))
        .getOrElse((None, None, None))
    val netOp =
      if (lastOp == "delete") { if (inDbStart) Some("delete") else None }
      else if (inDbStart) Some("update")
      else Some("insert")
    (KeyState(inDb = lastOp != "delete", lastSeq, rId, rK, rV),
      netOp.map(op => NetRow(tbl, pk, op, lastSeq, rId, rK, rV)))
  }

  /** One funnel event after projection/filtering (only step-type events
    * with non-null entity, ts, and id reach the state — a NULL entity
    * identifies no one and every funnel form drops it; `user` stays
    * optional only because groupByKey's key type is what the encoder
    * dictates). */
  case class FunnelEvent(user: Option[Long], ty: String, ts: Long, id: Long,
      // the watermarked TIMESTAMP attribute, carried only so the
      // stateful operator's child output retains the event-time column
      // (getCurrentWatermarkMs refuses to answer without it); the fold
      // itself reads the exact ns in `ts`
      et: Option[java.sql.Timestamp] = None)

  /** Per-user funnel state: for each step TYPE, the (ts, id) keys seen
    * so far, kept sorted. This is the EXACT disorder-tolerant form — a
    * late-arriving early event can re-decide every step of the greedy
    * chain, so nothing less than the per-type key sets suffices; state
    * is bounded by the user's step-type events only (non-step events
    * never enter).
    *
    * `frozen` is the watermark-matured chain prefix (the TTL form,
    * [[streamingFunnel]] with `evictDelay`): picks whose ts fell below
    * the watermark. Freezing them — and evicting every other sub-
    * watermark event — is EXACT under the watermark contract: all
    * future survivors carry ts strictly above the watermark, so (a)
    * the greedy walk over the sub-watermark region is fully determined
    * by events already merged, and (b) no evicted non-pick event can
    * ever be chosen later, because any later step's lower bound is a
    * pick at or above the watermark. The exact-forever form keeps
    * `frozen` empty. */
  case class FunnelProgress(keys: Map[String, Seq[(Long, Long)]],
      frozen: Seq[(Long, Long)] = Nil)

  /** One funnel update: the user's current chain after this batch —
    * step coordinates as parallel (ts, id) arrays of length `depth`. */
  case class FunnelUpd(user_id: Option[Long], depth: Long,
      ts_arr: Seq[Long], id_arr: Seq[Long])

  /** The per-user funnel fold, extracted PURE (the [[foldGroup]]
    * pattern): merge a batch's events into the per-type sorted key
    * sets, replay the greedy earliest-completion chain ([[graft.ops.
    * Funnel]] semantics: step i = min key of type sᵢ strictly after
    * step i−1's), emit the chain if step 1 is reached. Recomputing the
    * chain from the sets — not patching it — is what makes ARBITRARY
    * cross-batch disorder exact: the sets are order-insensitive, and
    * the chain is a pure function of them.
    *
    * `wmMs` is the event-time watermark (ms) at this batch's start;
    * `Long.MinValue` (the default) = the exact-forever form (nothing
    * stale, nothing frozen, nothing dropped).
    *
    * Staleness is judged in MILLISECONDS with `<=` — a strict SUPERSET
    * of whatever late-row filtering Spark's own watermark machinery
    * applies upstream (which compares ms-floored event times), so the
    * effective drop rule is exactly this one and the DuckDB oracle can
    * replay it: survivor ⇔ floor(ts_ns/10⁶) > wm_ms.
    *
    * `withinNs` adds the conversion-window constraint ([[graft.ops.
    * Funnel.stepsByKeyWithin]] semantics: steps 2..k must land within
    * withinNs of the step-1 anchor's ts; `Long.MaxValue`, the default,
    * = no window — the difference of two non-negative epochs can't
    * exceed it). Freezing stays
    * EXACT with the window: picks are (ts, id)-monotone, so stale
    * picks always form a chain PREFIX; once the anchor is frozen it is
    * final (every future survivor's ts sits strictly above the
    * watermark, hence above the anchor), and the window bound —
    * anchored on a final pick — can only EXCLUDE candidates, never
    * admit one the frozen walk rejected. An unfrozen anchor can still
    * move EARLIER (a late above-watermark step-1 event), which only
    * shrinks the window — so no evicted or rejected event ever becomes
    * eligible later, and the full-walk recompute re-clips the chain. */
  private[graft] def funnelFold(user: Option[Long], stepTypes: Seq[String],
      prev: Option[FunnelProgress], batch: Seq[FunnelEvent],
      wmMs: Long = Long.MinValue, withinNs: Long = Long.MaxValue)
      : (FunnelProgress, Option[FunnelUpd]) = {
    val ord = implicitly[Ordering[(Long, Long)]]
    def stale(tsNs: Long): Boolean = Math.floorDiv(tsNs, 1000000L) <= wmMs
    val base = prev.map(_.keys).getOrElse(Map.empty[String, Seq[(Long, Long)]])
    val frozen = prev.map(_.frozen).getOrElse(Nil)
    // arrival-side drop: a late event below the watermark is gone (the
    // exactness trade the TTL form makes — the exact form's wm is -inf)
    val fresh = batch.filterNot(e => stale(e.ts))
    val merged = fresh.groupBy(_.ty).foldLeft(base) { case (m, (ty, evs)) =>
      // linear sorted-merge into the already-sorted state: a hot user
      // pays O(|state| + |batch| log |batch|) per batch, not a
      // re-sort-everything O(|state| log |state|)
      m.updated(ty, mergeSorted(m.getOrElse(ty, Nil),
        evs.map(e => (e.ts, e.id)).distinct.sorted))
    }
    // greedy walk resumes AFTER the frozen prefix (frozen picks are
    // final — see FunnelProgress doc); the conversion window anchors
    // on the chain HEAD's ts (frozen head if any, else the step-1 pick
    // this walk makes)
    var prevKey: Option[(Long, Long)] = frozen.lastOption
    var anchorTs: Option[Long] = frozen.headOption.map(_._1)
    var dead = false
    val picks = Seq.newBuilder[(Long, Long)]
    stepTypes.drop(frozen.size).foreach { ty =>
      if (!dead) {
        val ks = merged.getOrElse(ty, Nil)
        val pick = prevKey match {
          case None => ks.headOption
          case Some(p) =>
            // window test as a subtraction (the batch form's overflow
            // rule): ts − anchor can't wrap for non-negative epochs,
            // and MaxValue degrades to the unwindowed semantics
            val a = anchorTs.get
            ks.find(k => ord.gt(k, p) && k._1 - a <= withinNs)
        }
        pick match {
          case Some(k) =>
            picks += k; prevKey = Some(k)
            if (anchorTs.isEmpty) anchorTs = Some(k._1)
          case None => dead = true
        }
      }
    }
    val chain = frozen ++ picks.result()
    val upd =
      if (chain.isEmpty) None
      else Some(FunnelUpd(user, chain.size.toLong,
        chain.map(_._1), chain.map(_._2)))
    // freeze the matured chain prefix, then evict EVERY sub-watermark
    // event: non-picks below wm can never be chosen (all later lower
    // bounds sit at/above wm), picks below wm are final. A completed
    // chain needs no events at all; a fully-evicted, chain-less user
    // leaves empty state (the caller removes it).
    val frozenNow = chain.takeWhile(k => stale(k._1))
    // window eviction (independent of the watermark, so it bounds the
    // EXACT form's state too): once an anchor exists, an event with
    // ts − anchor > withinNs can never be picked — the anchor is a
    // min, so it only ever moves EARLIER, which only shrinks the
    // window; and no beyond-window event can become the anchor itself
    // (its ts is strictly above the current anchor's). Per-user state
    // is therefore bounded by the step-type events inside one
    // conversion window, not by history. Picks survive the filter by
    // construction (each satisfied the window when chosen).
    def beyondWindow(tsNs: Long): Boolean =
      anchorTs.exists(a => tsNs - a > withinNs)
    // step-1 candidate prune (valid in EVERY mode, not just windowed):
    // the anchor is a MIN, so for step 1 only the set's minimum is ever
    // picked and the minimum only moves EARLIER — a head-typed event
    // above the current anchor is dead weight UNLESS a later step
    // shares the head's type (then the walk may pick it as that later
    // step: the duplicate-step-type guard). With the anchor frozen the
    // pick is final, so every remaining head-typed candidate is dead.
    val headTy = stepTypes.head
    val headTyDup = stepTypes.tail.contains(headTy)
    val kept =
      if (frozenNow.size == stepTypes.size) Map.empty[String, Seq[(Long, Long)]]
      else merged.view
        .mapValues(_.filterNot(k => stale(k._1) || beyondWindow(k._1)))
        .map { case (ty, ks) =>
          if (ty == headTy && !headTyDup)
            ty -> (if (frozenNow.nonEmpty) Nil else ks.take(1))
          else ty -> ks
        }
        .filter(_._2.nonEmpty).toMap
    (FunnelProgress(kept, frozenNow), upd)
  }

  /** Linear dedup-merge of two sorted runs (both already distinct). */
  private def mergeSorted(a0: Seq[(Long, Long)], b0: Seq[(Long, Long)])
      : Seq[(Long, Long)] = {
    // state decodes as List: index through IndexedSeq views or the
    // "linear" merge silently goes quadratic on apply()
    val a = a0.toIndexedSeq; val b = b0.toIndexedSeq
    val ord = implicitly[Ordering[(Long, Long)]]
    val out = Seq.newBuilder[(Long, Long)]
    var (i, j) = (0, 0)
    while (i < a.size || j < b.size) {
      val next =
        if (j >= b.size || (i < a.size && ord.lteq(a(i), b(j)))) {
          val x = a(i); i += 1
          if (j < b.size && b(j) == x) j += 1 // cross-run duplicate
          x
        } else { val x = b(j); j += 1; x }
      out += next
    }
    out.result()
  }

  /** Streaming [[graft.ops.Funnel]]: the incremental funnel over an
    * unbounded raw event stream, EXACT under arbitrary cross-batch
    * event disorder (spec-pinned against the batch operator with
    * ts-scrambled slices). Each batch emits the updated chain for every
    * user that received step-type events — update-mode upserts keyed on
    * the user; the final row per user equals the batch funnel over the
    * full history, by induction on the pure [[funnelFold]].
    *
    * Scale shape: one groupByKey exchange on the user (the state
    * operator's irreducible shuffle); events are filtered to the step
    * types BEFORE the exchange, so the shuffled volume is Σ|type∈steps|
    * rows per batch, and state is per-user step-type keys only.
    *
    * `evictDelay` (a Spark interval string, e.g. "10 days") switches on
    * the DEPLOYMENT form: an event-time watermark on `ts` bounds state
    * — per batch, the fold freezes the chain prefix matured below the
    * watermark, evicts every sub-watermark event, drops late arrivals,
    * and REMOVES users whose state empties. Exact over the surviving
    * events (see [[FunnelProgress]]); the trade is late-data loss,
    * which is every watermarked operator's contract. None = exact
    * under arbitrarily late data, state grows with step-event history.
    *
    * `withinNs` switches on the CONVERSION-WINDOW form (the streaming
    * [[graft.ops.Funnel.stepsByKeyWithin]]): steps 2..k must land
    * within withinNs of the chain's step-1 anchor. Still exact under
    * arbitrary cross-batch disorder — the fold recomputes the anchored
    * walk from the order-insensitive key sets each batch, so a late
    * event that re-decides the anchor re-clips every later step (spec-
    * pinned); composable with `evictDelay` (see [[funnelFold]] for
    * why freezing stays exact under the window). */
  def streamingFunnel(raw: DataFrame, stepTypes: Seq[String],
      evictDelay: Option[String] = None,
      withinNs: Option[Long] = None): Dataset[FunnelUpd] = {
    require(stepTypes.nonEmpty, "funnel needs at least one step")
    require(withinNs.forall(_ >= 0),
      s"withinNs must be >= 0 (got ${withinNs.get})")
    import raw.sparkSession.implicits._
    val filtered = raw
      .filter(col("event_type").isin(stepTypes.map(x => x: Any): _*))
      // null ts/id have no key (dropped, as in the batch forms); a null
      // ENTITY identifies no one and is dropped in ALL funnel forms —
      // before this filter the streaming fold advanced the None group
      // through every step while the batch chain's equi-joins stranded
      // it at depth 1 (divergence found by ADVICE r16)
      .filter(col("user_id").isNotNull)
      .filter(col("ts_ns").isNotNull && col("event_id").isNotNull)
    // `et` carries the event-time TIMESTAMP into the state operator's
    // child output (getCurrentWatermarkMs refuses to answer without
    // it). Resolved against the frame EXPLICITLY: a bare col("ts")
    // would silently fall back to the just-aliased ts_ns via the
    // lateral-column-alias rule on a frame with no ts column — a
    // ns-misscaled watermark instead of an analysis error.
    val et =
      if (evictDelay.isDefined) filtered("ts").as("et")
      else lit(null).cast("timestamp").as("et")
    val projected = filtered
      .select(col("user_id").as("user"), col("event_type").as("ty"),
        col("ts_ns").as("ts"), col("event_id").as("id"), et)
    // the watermark is declared ABOVE the filters and ON the projected
    // event-time column, so its stats cover exactly the step-type
    // non-null rows BY CONSTRUCTION — declaring it on `raw` instead
    // left the coverage to the optimizer, and Catalyst pushes the
    // filters below the EventTimeWatermark node, silently making the
    // watermark a function of NON-step events (caught by review:
    // wm after a batch with a high-ts non-step event = step-only max,
    // not all-events max; the oracle must be able to predict which)
    val ev = evictDelay.map(projected.withWatermark("et", _))
      .getOrElse(projected)
      .as[FunnelEvent]
    val ttl = evictDelay.isDefined
    val window = withinNs.getOrElse(Long.MaxValue)
    ev.groupByKey(_.user)
      .flatMapGroupsWithState[FunnelProgress, FunnelUpd](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (user: Option[Long], events: Iterator[FunnelEvent],
            state: GroupState[FunnelProgress]) =>
          val wmMs = if (ttl) state.getCurrentWatermarkMs() else Long.MinValue
          val (next, upd) = funnelFold(user, stepTypes,
            state.getOption, events.toSeq, wmMs, window)
          if (next.keys.isEmpty && next.frozen.isEmpty) state.remove()
          else state.update(next)
          upd.iterator
      }
  }

  case class RetenEvent(user: Long, p: Long)
  /** Per-user retention state: the sorted distinct set of ACTIVE
    * periods. Order-insensitive by construction (a set), so the
    * emission — cohort = min period, offsets = periods − cohort — is
    * exact under arbitrary cross-batch disorder, including a late
    * EARLIER event re-deciding the user's cohort (every offset shifts;
    * recomputing from the set gets that for free, the streamingFunnel
    * discipline). State is bounded by the user's distinct ACTIVE
    * period count (≤ horizon/period), not their event count. */
  case class RetenProgress(periods: Seq[Long])
  case class RetenUpd(user_id: Long, cohort: Long, offsets: Seq[Long])

  /** Streaming [[graft.ops.Retention]]: per-batch update-mode upserts
    * of each active user's (cohort, offsets) — the per-entity
    * resolution of the retention matrix; the (cohort, offset) cell
    * counts are a batch aggregation over the upserted table (state ops
    * can't feed a streaming agg in update mode, and the per-user form
    * is the reusable artifact anyway). Rows with a NULL entity or
    * timestamp are dropped, as in the batch operator. */
  def streamingRetention(raw: DataFrame, periodNs: Long)
      : Dataset[RetenUpd] = {
    require(periodNs > 0, s"periodNs must be positive (got $periodNs)")
    import raw.sparkSession.implicits._
    val ev = raw
      .filter(col("user_id").isNotNull && col("ts_ns").isNotNull)
      .select(col("user_id").as("user"),
        expr(s"ts_ns div ${periodNs}L").as("p"))
      .as[RetenEvent]
    ev.groupByKey(_.user)
      .flatMapGroupsWithState[RetenProgress, RetenUpd](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[RetenEvent],
            state: GroupState[RetenProgress]) =>
          val prev = state.getOption.map(_.periods).getOrElse(Nil)
          val merged =
            (prev ++ events.map(_.p)).distinct.sorted
          state.update(RetenProgress(merged))
          if (merged.isEmpty) Iterator.empty
          else Iterator.single(
            RetenUpd(user, merged.head, merged.map(_ - merged.head)))
      }
  }

  /** @param ttl evict a key's state after this much processing-time
    * inactivity (None = keep forever). At unbounded key cardinality the
    * state store grows without bound otherwise; after eviction a
    * returning key's `inDb` is re-inferred from its first op — correct
    * as long as the TTL exceeds the source's max replay window.
    * CAVEAT: with a TTL set, run the query under an interval trigger
    * (`Trigger.ProcessingTime(...)`) — pending timeouts make the default
    * as-fast-as-possible trigger busy-loop empty batches, which also
    * starves `processAllAvailable` in tests. */
  def statefulCompact(flat: Dataset[FlatEvent],
      ttl: Option[java.time.Duration] = None): Dataset[NetRow] = {
    import flat.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    flat.groupByKey(e => (e.tbl, e.pk))
      .flatMapGroupsWithState[KeyState, NetRow](
        OutputMode.Update(), timeoutConf) {
        case ((tbl, pk), events, state: GroupState[KeyState]) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case ((tbl, pk), events, state: GroupState[KeyState]) =>
          val (next, out) = foldGroup(tbl, pk, state.getOption, events.toSeq)
          state.update(next)
          ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
          out.iterator
      }
  }
}
