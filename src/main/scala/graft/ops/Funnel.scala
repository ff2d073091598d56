package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ordered-step funnel analysis over an event stream — the
  * MATCH_RECOGNIZE / sequential-pattern class of analytics query
  * (reference scope: its event tables only route/compact rows;
  * sequence semantics are the analytics layer a warehouse adds on
  * top): for each entity, did events of types s₁, s₂, … sₖ occur in
  * temporal order, and at which positions? The standard product
  * funnel ("view → click → purchase") and the crawl/session variant
  * ("fetch → parse → index") are both this shape.
  *
  * Semantics: positions are `row_number` over (`orderCols`) within the
  * entity — `orderCols` MUST total-order events within an entity (tie
  * ties to a unique id; an ambiguous order would make the positions
  * engine-dependent, the round-16 lead() lesson). Rows with a NULL
  * entity are DROPPED in every funnel form — batch window, key form,
  * streaming — and in the oracles (a NULL entity identifies no one;
  * r16's forms silently disagreed on it). Rows with a NULL in
  * any order column are DROPPED before numbering: an unordered event
  * has no position, and engines disagree on null placement (Spark
  * sorts NULLS FIRST, DuckDB NULLS LAST — letting them through would
  * shift every position on one side only). Step i's position is the
  * MINIMUM position of a type-sᵢ event STRICTLY AFTER step i−1's
  * position (the earliest-completion convention; greedy-earliest is
  * optimal for reachability: if any assignment completes the funnel,
  * earliest-first does). Output: one row per entity that completed
  * step 1, with `p1..pk` (null once a step is unreached) and `depth` =
  * number of completed steps.
  *
  * Scale shape: the position numbering is a per-entity window over the
  * events projected to (entity, order, type); the step chain is then k
  * chained (filter → map-side-combined min-aggregate → join) passes,
  * ALL keyed on the entity — no arrays, no per-entity collect_list (a
  * hot entity with 10⁸ events would materialize its whole history in
  * one task under the collect-and-walk form; here the steps cost k
  * partial mins). Honest costs of THIS form: the position window
  * subtree appears once per consuming step in the plan (k re-sorts;
  * AQE may share the identical shuffle stages at runtime but the
  * sort+window above them re-executes), and the hot entity's history
  * sorts in ONE task. Both costs vanish in [[stepsByKey]] — the
  * window-free form — which is
  * the recommended shape at scale whenever a unique orderable key can
  * be packed; positions (event indices) are what this form buys.
  */
object Funnel {

  def steps(events: DataFrame, entityCol: String, typeCol: String,
      stepTypes: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(stepTypes.nonEmpty, "funnel needs at least one step")
    require(orderCols.nonEmpty, "funnel needs an ordering")
    // window over the RENAMED key — the select below drops entityCol
    val w = Window.partitionBy("_ent").orderBy(orderCols.map(col): _*)
    val pos = events
      // a NULL entity identifies no one — DROPPED in every funnel form
      // (batch window, key form, streaming) so the three agree; before
      // this filter the forms silently diverged (the chain's inner
      // equi-joins stranded a null entity at depth 1 while the
      // streaming groupByKey advanced it through all steps)
      .filter(col(entityCol).isNotNull)
      .filter(orderCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col(entityCol).as("_ent") +: col(typeCol).as("_ty") +:
        orderCols.map(col): _*)
      .withColumn("_pos", row_number().over(w).cast("long"))
      .select(col("_ent"), col("_ty"), col("_pos"))
    chain(pos, stepTypes, "p").withColumnRenamed("_ent", entityCol)
  }

  /** [[steps]] without the position window — the hot-entity scale
    * form. `keyCol` must be a UNIQUE, totally-ordered column within
    * each entity ([[packedKey]] packs a timestamp and a unique id into
    * one exact-decimal value). Rows with a NULL key are dropped, as in
    * [[steps]]. Step i's key is the MIN key of a type-sᵢ event
    * strictly after step i−1's key — the same greedy-earliest
    * semantics, compared on keys instead of positions, so the SAME
    * events are chosen and `depth` is identical; only the reported
    * coordinate differs (k1..kk are keys, not indices).
    *
    * Scale shape: the event frame is pre-filtered to the step types
    * (semantics-preserving here — keys are intrinsic, unlike
    * positions), then the whole funnel is k chained map-side-combined
    * min-aggregates + equi-joins on the entity key — NO window
    * anywhere in the plan (PlanSpec pins Window-free). [[steps]]'s
    * per-entity numbering window must sort a hot entity's entire
    * history in ONE task (30% of a 100-TB corpus on one user = one
    * executor sorting 30 TB); here the hot entity collapses to one
    * agg buffer per partition before anything moves, so its cost is
    * k partial mins — skew-immune by construction: at 30% of events
    * on one user the hot tax is 1.22× (`skew_funnel_hotuser` k=50,
    * `SCALEPROBE_r16.jsonl`). */
  def stepsByKey(events: DataFrame, entityCol: String, typeCol: String,
      stepTypes: Seq[String], keyCol: String): DataFrame = {
    require(stepTypes.nonEmpty, "funnel needs at least one step")
    val ev = events
      .filter(col(entityCol).isNotNull) // NULL entity dropped, as in [[steps]]
      .filter(col(keyCol).isNotNull)
      .filter(col(typeCol).isin(stepTypes.map(x => x: Any): _*))
      .select(col(entityCol).as("_ent"), col(typeCol).as("_ty"),
        col(keyCol).as("_pos"))
    chain(ev, stepTypes, "k").withColumnRenamed("_ent", entityCol)
  }

  /** [[stepsByKey]] with a CONVERSION WINDOW: step i (i > 1) must also
    * occur within `withinNs` of the chain's step-1 event — the
    * "purchase within 7 days of first view" funnel every product
    * analytics stack offers. Semantics are GREEDY-ANCHOR: the anchor
    * is the greedy-earliest step-1 event (identical to
    * [[stepsByKey]]'s), and later steps are constrained to
    * [anchor, anchor + withinNs]; a user whose completion exists only
    * under a LATER anchor is reported at the depth the earliest anchor
    * reaches (deterministic and oracle-replayable — max-completion
    * re-anchoring is a different, quadratic operator).
    *
    * `tsCol` carries the event timestamp (ns) separately from the
    * packed key: the window binds on TIME, and unpacking ts from a
    * DECIMAL key needs floor division that engines round differently.
    * Each step's agg takes `min_by(ts, key)` alongside `min(key)` —
    * still one map-side-combined agg per step, same skew-immune shape
    * as [[stepsByKey]]. */
  def stepsByKeyWithin(events: DataFrame, entityCol: String,
      typeCol: String, stepTypes: Seq[String], keyCol: String,
      tsCol: String, withinNs: Long): DataFrame = {
    require(stepTypes.nonEmpty, "funnel needs at least one step")
    require(withinNs >= 0, s"withinNs must be >= 0 (got $withinNs)")
    val ev = events
      .filter(col(entityCol).isNotNull)
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .filter(col(typeCol).isin(stepTypes.map(x => x: Any): _*))
      .select(col(entityCol).as("_ent"), col(typeCol).as("_ty"),
        col(keyCol).as("_pos"), col(tsCol).as("_ts"))
    var acc = ev.filter(col("_ty") === stepTypes.head)
      .groupBy(col("_ent"))
      .agg(min(col("_pos")).as("k1"),
        min_by(col("_ts"), col("_pos")).as("_t1"))
    stepTypes.zipWithIndex.drop(1).foreach { case (ty, i) =>
      val prev = s"k$i"; val cur = s"k${i + 1}"
      val nextMin = ev.filter(col("_ty") === ty)
        .join(acc.select(col("_ent"), col(prev), col("_t1")), "_ent")
        // window test as a SUBTRACTION (`_ts - _t1 <= withinNs`, not
        // `_ts <= _t1 + withinNs`): the sum can wrap Long for a huge
        // withinNs (e.g. Long.MaxValue meaning "no window") and then
        // silently strands every chain at depth 1; the difference of
        // two non-negative epochs can't overflow, and Long.MaxValue
        // naturally degrades to the unwindowed stepsByKey semantics
        .filter(col(prev).isNotNull && col("_pos") > col(prev) &&
          col("_ts") - col("_t1") <= lit(withinNs))
        .groupBy(col("_ent")).agg(min(col("_pos")).as(cur))
        .select(col("_ent").as("_e2"), col(cur))
      acc = acc.join(nextMin, col("_ent") === col("_e2"), "left")
        .drop("_e2")
    }
    val depth = stepTypes.indices.map(i => col(s"k${i + 1}").isNotNull)
      .map(c => when(c, 1L).otherwise(0L)).reduce(_ + _)
    acc.withColumn("depth", depth).drop("_t1")
      .withColumnRenamed("_ent", entityCol)
  }

  /** Pack (timestamp, unique id) into one exact-decimal funnel key:
    * `tsNs · 10¹⁰ + id`. Requires `0 ≤ id < 10¹⁰` — enforced IN the
    * plan (the guard rides inside the key expression, so column
    * pruning can never drop it): a silently-overflowing id would cross
    * timestamp boundaries and reorder events. Exact decimal(38)
    * arithmetic keeps the key engine-portable (an ns epoch already
    * exceeds double's 53-bit mantissa). */
  def packedKey(tsNs: Column, id: Column): Column = {
    val bound = lit(10000000000L)
    // null-TOLERANT guard: a NULL id must yield a NULL key (which the
    // funnel forms then DROP, matching the oracle's IS NOT NULL) — an
    // assert over the bare bound would raise on null, turning the
    // documented drop semantics into a job crash
    val guard = coalesce(
      assert_true(id.isNull || (id >= 0 && id < bound),
        lit("packedKey id out of [0, 1e10) — key would cross ts boundaries"))
        .cast("decimal(38,0)"),
      lit(0).cast("decimal(38,0)"))
    tsNs.cast("decimal(38,0)") * bound + id + guard
  }

  /** The shared greedy step chain over a `(_ent, _ty, _pos)` frame:
    * one min-agg for step 1, then per later step a type filter, an
    * entity-keyed join to the previous step's coordinate, a
    * strictly-after filter, and another min-agg — both public forms
    * delegate here so the join condition, null propagation, and depth
    * arithmetic can never drift apart. Output columns are
    * `<prefix>1..<prefix>k` + `depth`. */
  private def chain(ev: DataFrame, stepTypes: Seq[String],
      prefix: String): DataFrame = {
    var acc = ev.filter(col("_ty") === stepTypes.head)
      .groupBy(col("_ent")).agg(min(col("_pos")).as(s"${prefix}1"))
    stepTypes.zipWithIndex.drop(1).foreach { case (ty, i) =>
      val prev = s"$prefix$i"; val cur = s"$prefix${i + 1}"
      val nextMin = ev.filter(col("_ty") === ty)
        .join(acc.select(col("_ent"), col(prev)), "_ent")
        .filter(col(prev).isNotNull && col("_pos") > col(prev))
        .groupBy(col("_ent")).agg(min(col("_pos")).as(cur))
        .select(col("_ent").as("_e2"), col(cur))
      acc = acc.join(nextMin, col("_ent") === col("_e2"), "left")
        .drop("_e2")
    }
    val depth = stepTypes.indices.map(i => col(s"$prefix${i + 1}").isNotNull)
      .map(c => when(c, 1L).otherwise(0L)).reduce(_ + _)
    acc.withColumn("depth", depth)
  }
}
