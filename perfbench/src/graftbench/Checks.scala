package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks spelled in the benchmark's own Spark SQL, never through
  * the engine code under test. Each returns None when the output is
  * right, or a one-line reason. */
object Checks {

  /** (rows, order-independent hash). */
  type Digest = (Long, BigDecimal)

  /** The [[Digest]] of `df` over `cols`. */
  def digest(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def changelogView(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/events.parquet").createOrReplaceTempView("gb_events")

  /** Store columns with pinned types, so both sides hash alike. */
  val stateTyped = Seq("tbl", "CAST(pk AS BIGINT) AS pk",
    "CAST(r_id AS BIGINT) AS r_id", "CAST(r_k AS INT) AS r_k",
    "CAST(r_v AS DOUBLE) AS r_v", "CAST(last_seq AS BIGINT) AS last_seq")
  val p8Typed: Seq[String] = stateTyped.head +: "net_op" +: stateTyped.tail

  /** The P8 rule over the whole log: per (tbl, pk), last op delete →
    * `delete` unless the key was born in the log (then nothing); else
    * `insert` if the first op inserts, `update` otherwise; the row image
    * is the last non-delete event's. */
  def p8Expected(spark: SparkSession, dir: String): DataFrame = {
    changelogView(spark, dir)
    spark.sql(
      s"""WITH changelog AS (
         |  SELECT event_id AS seq, user_id AS pk,
         |         concat('sbtest', CAST(user_id % 10 AS STRING)) AS tbl,
         |         CASE event_type WHEN 'signup' THEN 'insert'
         |                         WHEN 'error' THEN 'delete'
         |                         ELSE 'update' END AS op,
         |         user_id AS r_id,
         |         CAST(get_json_object(props, '$$.k') AS INT) AS r_k,
         |         value AS r_v
         |  FROM gb_events),
         |net AS (
         |  SELECT tbl, pk, min_by(op, seq) AS first_op, max_by(op, seq) AS last_op,
         |         max(seq) AS last_seq
         |  FROM changelog GROUP BY tbl, pk),
         |lastrow AS (
         |  SELECT tbl, pk, max_by(r_id, seq) AS u_id, max_by(r_k, seq) AS u_k,
         |         max_by(r_v, seq) AS u_v
         |  FROM changelog WHERE op <> 'delete' GROUP BY tbl, pk)
         |SELECT n.tbl AS tbl, n.pk AS pk,
         |       CASE WHEN n.last_op = 'delete' THEN 'delete'
         |            WHEN n.first_op = 'insert' THEN 'insert'
         |            ELSE 'update' END AS net_op,
         |       CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_id END AS r_id,
         |       CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_k END AS r_k,
         |       CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_v END AS r_v,
         |       n.last_seq AS last_seq
         |FROM net n LEFT JOIN lastrow l ON n.tbl = l.tbl AND n.pk = l.pk
         |WHERE NOT (n.last_op = 'delete' AND n.first_op = 'insert')""".stripMargin)
  }

  val p8Cols = Seq("tbl", "net_op", "pk", "r_id", "r_k", "r_v", "last_seq")

  /** `out` is the compacted output projected to [[p8Typed]]. */
  def compacted(out: DataFrame, expected: Digest): Option[String] = {
    val got = digest(out, p8Cols)
    if (got == expected) None else Some(s"compacted output $got != P8 oracle $expected")
  }

  /** Last-event-wins state of the whole log: every key whose last event
    * is not a delete, with that event's row image. */
  def lastEventWins(spark: SparkSession, dir: String): DataFrame = {
    changelogView(spark, dir)
    spark.sql(
      """SELECT concat('sbtest', CAST(user_id % 10 AS STRING)) AS tbl,
        |       user_id AS pk, user_id AS r_id,
        |       CAST(get_json_object(max_by(props, event_id), '$.k') AS INT) AS r_k,
        |       max_by(value, event_id) AS r_v, max(event_id) AS last_seq
        |FROM gb_events GROUP BY user_id
        |HAVING max_by(event_type, event_id) <> 'error'""".stripMargin)
  }

  val stateCols = Seq("tbl", "pk", "r_id", "r_k", "r_v", "last_seq")

  /** `store` is the resolved store projected to [[stateTyped]]. */
  def state(store: DataFrame, expected: Digest): Option[String] = {
    val got = digest(store, stateCols)
    if (got == expected) None else Some(s"store state $got != last-event-wins $expected")
  }

  /** Admission store: ids distinct and drawn from the input, no two
    * stored texts identical, every generated original admitted. */
  def admitted(stored: DataFrame, docs: DataFrame, truth: DataFrame): Option[String] = {
    val ids = stored.select("doc_id")
    val n = ids.count()
    val nDistinct = ids.distinct().count()
    val withText = ids.join(docs.select("doc_id", "text"), Seq("doc_id"))
    val nKnown = withText.count()
    val nTexts = withText.select("text").distinct().count()
    val missed = truth.filter(col("kind") === 0).select("doc_id")
      .join(ids, Seq("doc_id"), "left_anti").count()
    if (n != nDistinct) Some(s"$n stored ids, $nDistinct distinct")
    else if (nKnown != n) Some(s"${n - nKnown} stored ids not in the input")
    else if (nTexts != n) Some(s"${n - nTexts} stored docs repeat another's text")
    else if (missed != 0) Some(s"$missed originals not admitted")
    else None
  }

  /** Release table (cluster, doc_id, score): one row per cluster, no two
    * kept texts identical, every original with no planted copy kept, and
    * at least one cluster per original. */
  def released(kept: DataFrame, docs: DataFrame, truth: DataFrame): Option[String] = {
    val n = kept.count()
    val nClusters = kept.select("cluster").distinct().count()
    val nTexts = kept.select("doc_id").join(docs.select("doc_id", "text"), Seq("doc_id"))
      .select("text").distinct().count()
    val originals = truth.filter(col("kind") === 0).select("doc_id")
    val copied = truth.filter(col("kind") =!= 0).select(col("src").as("doc_id")).distinct()
    val lone = originals.join(copied, Seq("doc_id"), "left_anti")
    val missed = lone.join(kept.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val nOriginals = originals.count()
    if (n != nClusters) Some(s"$n kept rows for $nClusters clusters")
    else if (nTexts != n) Some(s"${n - nTexts} kept docs repeat another's text")
    else if (missed != 0) Some(s"$missed uncopied originals not kept")
    else if (n < nOriginals) Some(s"$n clusters for $nOriginals originals")
    else None
  }
}
