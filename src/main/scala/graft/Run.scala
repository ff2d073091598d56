package graft

import org.apache.spark.sql.SparkSession

/** Standalone pipeline runner — the engine's `cmd/task` analog: load a
  * JSON pipeline config and execute it. A config with a streaming
  * source (`events_stream`) runs as a checkpointed streaming sync
  * (blocks until the bounded source drains); a config with a
  * `maintenance` block runs the named store-maintenance operation
  * (currently `snapshot`: DeltaStore offline compaction); anything else
  * runs as a one-shot batch pipeline.
  *
  *   sbt "runMain graft.Run examples/compact_changelog.json"
  *   sbt "runMain graft.Run examples/delta_sync.json"
  *   sbt "runMain graft.Run examples/snapshot_store.json"
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Run <config.json>")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args(0))), "UTF-8")
    val spark = Sessions.local(Sessions.cpus, appName = "graft-run")
    dispatch(spark, json)
    spark.stop()
  }

  /** Config dispatch, separated from `main`'s session bootstrap so a
    * harness can drive any config kind (maintenance / streaming / batch)
    * against its own session — the gated lifecycle queries call this for
    * the maintenance front-end. */
  def dispatch(spark: SparkSession, json: String): Unit = {
    val cfg = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    if (cfg.has("maintenance")) {
      val m = cfg.get("maintenance")
      m.get("type").asText() match {
        case "snapshot" =>
          graft.sink.DeltaStore.snapshot(spark, m.get("path").asText(),
            if (m.has("buckets")) m.get("buckets").asInt() else 64)
        case "optimize" => // append-only file merge (admission/IVF stores)
          graft.sink.DeltaStore.optimizeAppendOnly(spark, m.get("path").asText())
        case other => throw new IllegalArgumentException(
          s"unknown maintenance op: $other")
      }
    } else if (Set("events_stream", "events_raw_stream", "events_dsv2",
        "documents_stream", "embeddings_stream")(
        cfg.path("source").path("type").asText()))
      graft.pipeline.Pipeline.runStream(spark, json).foreach(s =>
        println(s"[run] last batch ${s.batchId}: ${s.numInputRows} rows, " +
          s"${s.processedRowsPerSecond.round} rows/s, trigger ${s.triggerMs} ms"))
    else graft.pipeline.Pipeline.run(spark, json)
  }
}
