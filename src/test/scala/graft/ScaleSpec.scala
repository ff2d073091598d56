package graft

import org.apache.spark.sql.functions._
import graft.op.{Seqs, Skew}
import graft.streaming.PipelineMetrics

/** Scale utilities: salted aggregation/join equivalence, distributed
  * sequence correctness, bucketed co-located joins, metrics listener. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation") {
    val df = (1 to 10000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 50}", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("c"))
      .as[(String, Double, Long)].collect().toSet
    val salted = Skew.saltedAgg(df, Seq("k"), 8)(
      Seq(sum("v").as("v"), count(lit(1)).as("c")),
      Seq(sum("v").as("v"), sum("c").as("c")))
      .as[(String, Double, Long)].collect().toSet
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    val left = (1 to 5000).map(i => (if (i % 3 == 0) 1L else i.toLong % 100, i))
      .toDF("k", "lv")
    val right = (0L until 100L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
      .as[(Long, Int, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(left, right, Seq("k"), 8).select("k", "lv", "rv")
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("globalSeq is a dense 1..n sequence respecting the order column") {
    val df = (1 to 5000).map(i => (5000 - i + 1).toLong).toDF("k")
    val seqd = Seqs.globalSeq(df, "k").select("k", "seq")
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(seqd.map(_._2).toSeq == (1L to 5000L))
    assert(seqd.map(_._1).toSeq == (1L to 5000L)) // seq follows k order
  }

  test("bucketed tables join without an exchange OR a sort on the bucket key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket-spec")
    val prevBroadcast =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    val prevOrdering =
      spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // report per-bucket ordering to the planner — sound here because
      // writeBucketed guarantees ONE sorted file per bucket (Spark only
      // honors the report for single-file buckets even with this on)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      graft.ops.Bucketing.writeBucketed(spark,
        spark.read.parquet(s"$sf/orders.parquet"),
        "b_orders", s"$tmp/orders", "o_orderkey", 4)
      graft.ops.Bucketing.writeBucketed(spark,
        spark.read.parquet(s"$sf/lineitem.parquet"),
        "b_lineitem", s"$tmp/lineitem", "l_orderkey", 4)
      val joined = graft.ops.Bucketing.cojoin(spark,
        "b_lineitem", "b_orders", "l_orderkey", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      // co-located: no shuffle exchange feeds the join
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected exchange-free bucketed join, got:\n$plan")
      // one sorted file per bucket: the merge join needs no Sort either
      assert(plan.contains("SortMergeJoin") && !plan.contains("Sort ["),
        s"expected sort-free merge join over sorted buckets, got:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrdering)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      graft.queries.Registry.rmTree(tmp.toFile)
    }
  }

  test("AQE splits the skewed join partition (skew=true in the final plan)") {
    // one key carries ~99% of the left side — the hash-shuffle failure
    // mode the brief names. With thresholds scaled to fixture size, the
    // executed adaptive plan must mark the merge join skew-handled
    // (hot partition split across tasks) and still produce exact counts.
    import org.apache.spark.sql.functions.{col, lit, concat}
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      val left = spark.range(200000)
        .select((col("id") % 50).as("k"),
          concat(lit("pad-pad-pad-pad-pad-pad-"), col("id")).as("payload"))
        .withColumn("k", org.apache.spark.sql.functions
          .when(col("k") < 49, lit(0L)).otherwise(col("k")))
      val right = spark.range(50).select(col("id").as("k"), (col("id") * 7).as("w"))
      val j = left.join(right, "k")
      // run THIS dataframe's own adaptive plan to finality (count()
      // would build a separate QueryExecution and leave this one
      // unoptimized — the r14 AQE-inspection trap)
      val qe = j.queryExecution
      assert(qe.executedPlan.execute().count() == 200000L)
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
      // THE TRAP (found measuring `skew_join_aqe`, SCALEPROBE_r16.jsonl):
      // a dim DERIVED in-plan from the fact (distinct on the join key)
      // arrives at the join already partitioned — its agg exchange
      // satisfies the join requirement, and OptimizeSkewedJoin only
      // applies when both children are raw shuffle reads it can
      // split/replicate. Same data, same skew,
      // mitigation silently OFF. At scale: stage skew-facing dims to
      // storage first (the measurement materialized its dim to parquet).
      val derivedDim = left.select("k").distinct()
        .withColumn("w", org.apache.spark.sql.functions.lit(1L))
      val j2 = left.join(derivedDim, "k")
      val qe2 = j2.queryExecution
      assert(qe2.executedPlan.execute().count() == 200000L)
      assert(!qe2.executedPlan.toString.contains("skew=true"),
        "in-plan dim unexpectedly allowed a skew split — revisit the " +
          "materialization note above if Spark lifted this limitation")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("metrics listener reports qps and batch progress") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val metrics = new PipelineMetrics
    spark.streams.addListener(metrics)
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      mem.addData(1L to 1000L: _*)
      val q = mem.toDS().toDF("v").groupBy().count()
        .writeStream.format("memory").queryName("m_cnt").outputMode("complete").start()
      q.processAllAvailable()
      q.stop()
      // listener events are async; wait briefly
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.latest.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val snap = metrics.latest
      assert(snap.nonEmpty && snap.get.numInputRows == 1000L)
    } finally spark.streams.removeListener(metrics)
  }
}
