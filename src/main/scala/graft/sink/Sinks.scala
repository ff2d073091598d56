package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink library. The reference's MySQL sinks are wire-protocol appliers;
  * here the apply semantics are expressed as pure SQL-statement
  * generation ([[SqlGen]]: testable without a database, pluggable into a
  * JDBC `foreachPartition` writer); parquet targets apply through
  * [[DeltaStore]].
  */
object Sinks {

  /** K4 `KafkaOutput` (`pkg/output/kafka/kafkaoutput.go`): project the
    * change stream to Kafka's (key, value, topic) contract — key from the
    * partition-key column (hash partitioning ⇒ per-key ordering), value
    * the JSON-marshalled event, topic from a routed column. The result
    * plugs into `.write[Stream].format("kafka")` unchanged. */
  def kafkaProjection(df: DataFrame, keyCol: String, topicCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"),
      col(topicCol).as("topic"))

  /** K5 `LogOutput` — console sink. */
  def console(df: DataFrame, n: Int = 20): Unit = df.show(n, truncate = false)

  /** K6 `DummyOutput` — null sink (noop format; forces full evaluation,
    * used by the benchmark harness exactly like the reference's). */
  def noop(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).format("noop").save()

  /** K7 `DebugOutput` — breakpoint sink (`pkg/output/debug/output.go:18-25`). */
  def debug(df: DataFrame, idCol: String, idValue: Long): Unit =
    df.filter(col(idCol) === idValue).show(truncate = false)
}

/** K1/K2 SQL statement generation (`pkg/utils/mysql.go:159-218`,
  * `pkg/output/mysql/batch/tableprocessor.go:198-257`): idempotent,
  * batch-shaped statements from net change rows. Pure functions — the
  * JDBC writer calls these per partition; tests assert the strings. */
object SqlGen {

  private def q(ident: String) = s"`$ident`"

  /** Multi-row idempotent insert (`INSERT IGNORE ... VALUES (...),(...)`).
    * The reference caps at SqlBatchSize=1000 rows per statement. */
  def insertIgnore(table: String, cols: Seq[String], rows: Seq[Seq[Any]]): String = {
    val vals = rows.map(r => r.map(render).mkString("(", ",", ")")).mkString(",")
    s"INSERT IGNORE INTO ${q(table)} (${cols.map(q).mkString(",")}) VALUES $vals"
  }

  /** Single-row PK update; null column → DEFAULT(col)
    * (`utils/mysql.go:167-169`). */
  def update(table: String, pkCols: Seq[String], row: Map[String, Any]): String = {
    val sets = row.filterNot { case (k, _) => pkCols.contains(k) }
      .map { case (k, v) =>
        if (v == null) s"${q(k)}=DEFAULT(${q(k)})" else s"${q(k)}=${render(v)}" }
      .mkString(",")
    val where = pkCols.map(k => s"${q(k)}=${render(row(k))}").mkString(" AND ")
    s"UPDATE ${q(table)} SET $sets WHERE $where"
  }

  /** Batched delete on a single-column PK (`DELETE ... WHERE pk IN (...)`). */
  def deleteIn(table: String, pkCol: String, keys: Seq[Any]): String =
    s"DELETE FROM ${q(table)} WHERE ${q(pkCol)} IN (${keys.map(render).mkString(",")})"

  private def render(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case other => other.toString
  }
}
