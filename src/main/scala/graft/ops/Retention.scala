package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cohort retention over an event stream — the second classic
  * sequential-analytics shape next to [[Funnel]] (reference scope: its
  * event tables only route/compact rows; retention is the analytics
  * layer a warehouse adds on top): bucket each entity by the period of
  * its FIRST activity (the cohort), then count, for every (cohort,
  * offset) cell, how many of that cohort's entities were active
  * `offset` periods later. The training-data twin is crawl-source
  * freshness: of the domains first seen in week c, how many still
  * yield documents at week c+n.
  *
  * Exact integer arithmetic end to end: periods are `tsNs div
  * periodNs` — integer division TRUNCATING TOWARD ZERO, matching
  * DuckDB `//` on integers, so the oracle replays the identical
  * bucketing and the gate hash-compares every cell. Timestamps are
  * assumed non-negative (post-1970): for negative epochs truncation
  * would give period 0 a double width, so pre-epoch data needs an
  * explicit offset before bucketing. Rows with a NULL entity or
  * timestamp are dropped (an unplaceable activity has no cell).
  *
  * Scale shape: ONE map-side-combined agg per entity computes the
  * cohort (min) AND the distinct period set (collect_set) together,
  * then explodes to (cohort, offset) cells — the (entity, period) set
  * crosses the wire once, not three times (the r17 shape paid a
  * distinct pre-pass + a min-agg exchange + an entity-keyed join;
  * the single-exchange form measured 1.2–1.5× faster with the gain
  * GROWING in data size — SCALEPROBE_r18 `retention_agg`, reproduced).
  * Per-entity state is the distinct period set, bounded by
  * horizon/period (the streaming form's bound), NOT by the entity's
  * event count — a hot entity's events collapse in the map-side
  * partial. A hot CELL (everyone active at offset 0) costs one count
  * buffer per partition. */
object Retention {

  def cohorts(events: DataFrame, entityCol: String, tsNsCol: String,
      periodNs: Long): DataFrame = {
    require(periodNs > 0, s"periodNs must be positive (got $periodNs)")
    // integer `div`, never `/`: Column `/` is DOUBLE division, and an
    // ns-epoch (~1.7e18) exceeds double's 53-bit mantissa — floor(x/y)
    // would mis-bucket events near period boundaries
    events
      .select(col(entityCol).as("_ent"),
        col(tsNsCol).cast("long").as("_t"))
      .withColumn("_p", expr(s"_t div ${periodNs}L"))
      .filter(col("_ent").isNotNull && col("_p").isNotNull)
      .groupBy(col("_ent"))
      .agg(min(col("_p")).as("cohort"), collect_set(col("_p")).as("_ps"))
      .select(col("cohort"), explode(col("_ps")).as("_p"))
      .groupBy(col("cohort"), (col("_p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_active"))
  }
}
