package graft

import graft.source.ChangelogSource

/** The custom DSv2 micro-batch changelog source: rate-limited batching,
  * totality, ordering, and checkpoint resume. */
class Dsv2SourceSpec extends SparkSpec {
  import spark.implicits._

  test("dsv2 changelog source delivers the whole log in rate-limited batches") {
    val df = spark.readStream.format("graft.source.ChangelogSource")
      .option("dir", sf).option("maxRowsPerTrigger", "300").load()
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("dsv2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("dsv2")
      assert(rows.count() == 1000) // sf0.001 events, exactly once each
      assert(rows.select("seq").distinct().count() == 1000)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 4, s"rate limit should yield >=4 batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows <= 300))
    } finally q.stop()
  }

  test("dsv2 source resumes from the checkpointed offset after restart") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dsv2").toString
    @volatile var delivered = 0L
    def runOnce(trigger: Boolean): Unit = {
      val df = spark.readStream.format("graft.source.ChangelogSource")
        .option("dir", sf).option("maxRowsPerTrigger", "400").load()
      val q = df.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          delivered += b.count()
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce(true)
    assert(delivered == 1000)
    runOnce(true) // nothing new: committed offset == total
    assert(delivered == 1000)
  }

  test("dsv2 source reads chunked splits executor-side, >1 input partition") {
    // chunkRows=200 over the 1000-row sf0.001 log → 5 spooled segments;
    // an unthrottled batch must span them as 5 independent splits (the
    // driver holds only the manifest — ChangelogSource has no row cache).
    @volatile var parts = 0
    @volatile var rows = 0L
    val df = spark.readStream.format("graft.source.ChangelogSource")
      .option("dir", sf).option("chunkRows", "200").load()
    val q = df.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        parts = b.rdd.getNumPartitions
        rows += b.count()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(rows == 1000)
    assert(parts == 5, s"expected 5 chunk splits, got $parts")
    assert(ChangelogSource.manifest(sf, 200).map(_.count).sum == 1000)
    assert(ChangelogSource.manifest(sf, 200).length == 5)
  }

  test("dsv2 rate-limited batch cuts fall mid-chunk without loss or dup") {
    // maxRows=170 with chunkRows=400: batch boundaries land inside chunks,
    // exercising the (file, skip, limit) split arithmetic on both ends.
    val df = spark.readStream.format("graft.source.ChangelogSource")
      .option("dir", sf).option("maxRowsPerTrigger", "170")
      .option("chunkRows", "400").load()
    val q = df.writeStream.format("memory").queryName("dsv2midchunk")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val t = spark.table("dsv2midchunk")
      assert(t.count() == 1000)
      assert(t.select("seq").distinct().count() == 1000)
    } finally q.stop()
  }

  test("config-driven sync over the dsv2 source: delta state equals batch compaction") {
    // the custom source driving the APPLY path through the one-binary
    // front-end (source type events_dsv2): a multi-batch rate-limited
    // drain into the delta store, whose final state must equal one-shot
    // compaction of the same events — the apply algebra makes the final
    // state batch-cut-independent
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-delta")
    graft.pipeline.Pipeline.runStream(spark, s"""{
      "source": {"type": "events_dsv2", "dir": "$sf",
                 "maxRowsPerTrigger": "300"},
      "processors": [],
      "sink": {"type": "parquet_delta", "path": "$dir/state",
               "checkpoint": "$dir/ckpt", "pk": ["tbl", "pk"], "buckets": 16}
    }""")
    val cols = Seq("tbl", "pk", "r_id", "r_k", "r_v").map(col)
    val d = graft.sink.DeltaStore.read(spark, s"$dir/state").get.select(cols: _*)
    val want = graft.op.Compactor.compact(graft.source.Changelog.fromEvents(spark, sf))
      .filter(col("net_op") =!= "delete").select(cols: _*)
    assert(d.count() > 0)
    assert(d.exceptAll(want).isEmpty && want.exceptAll(d).isEmpty,
      "dsv2-driven delta state diverges from batch compaction")
  }

  test("dsv2 source feeds the standard operator chain") {
    val df = spark.readStream.format("graft.source.ChangelogSource")
      .option("dir", sf).load()
    val filtered = graft.op.Processors.dmlFilter("^.*sbtest[0-4]$", Seq("insert", "delete"))(
      df.withColumn("db", org.apache.spark.sql.functions.lit("srcdb")))
    val q = filtered.writeStream.format("memory").queryName("dsv2chain")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // matches the batch p1_filter count on the same data
      assert(spark.table("dsv2chain").count() == 268)
    } finally q.stop()
  }
}
