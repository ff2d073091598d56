package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.Lineage

/** Pins the internal-row lineage cut (r21 optimization: the iterative
  * loops' per-round checkpoint moved from df.rdd→createDataFrame —
  * two serialization passes per round — to Dataset.localCheckpoint over
  * UnsafeRows). The contract every loop leans on: the cut frame carries
  * exactly the input's rows, the count is the materialized row count,
  * and the returned RDD handles are the persisted checkpoint (so the
  * previous round can be unpersisted deterministically).
  *
  * r21 post-mortem: this spec was the one suite without a scalatest
  * report in the driver's run (it aborted/hung without failing a test).
  * Hardened per the verdict: no exact accumulator-equality assertion
  * (accumulators double-count under ANY task retry — assert >= one full
  * pass instead, and check materialization through the block manager),
  * and no `blocking = true` unpersists on the shared session. */
class LineageSpec extends SparkSpec {

  test("cut preserves rows and returns the materialized count") {
    val df = spark.range(0, 1000, 1, 5)
      .select((col("id") % 97).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
    val expected = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (cut, rdds, n) = Lineage.cut(df)
    assert(n == 97)
    assert(cut.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == expected)
    assert(cut.schema == df.schema)
    // the handle is exactly the live checkpoint backing the frame
    assert(rdds.map(_.id) == Seq(scanned(cut).id))
    assert(rdds.forall(r =>
      r.getStorageLevel.useMemory || r.getStorageLevel.useDisk))
    rdds.foreach(_.unpersist(blocking = false))
  }

  test("cutLazy materializes on the caller's first action into " +
      "persisted checkpoint blocks") {
    val acc = spark.sparkContext.longAccumulator("lineage-evals")
    val src = spark.range(0, 100, 1, 4).select(col("id"))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val counted = spark.createDataFrame(
      src.rdd.map { r => acc.add(1); Row(r.getLong(0)) },
      StructType(Seq(StructField("id", LongType))))
    val (cut, rdds) = Lineage.cutLazy(counted.groupBy().agg(sum("id").as("s")))
    assert(rdds.map(_.id) == Seq(scanned(cut).id))
    // NOTE: no nothing-ran-yet assertion here — under AQE the cut call
    // itself already executes the plan's shuffle map stages to pick the
    // final plan (the documented cutLazy behavior), so the source may
    // be fully evaluated before the first caller action.
    // First action materializes — at least one full pass over the 100
    // source rows (task retries may legally add more; exact equality
    // here is what aborted this suite in r21).
    assert(cut.head().getLong(0) == 4950L)
    assert(acc.value >= 100L)
    // … and the checkpoint blocks are now in the block manager: later
    // actions read THEM, not the source plan
    val ids = rdds.map(_.id).toSet
    val cachedParts = spark.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id)).map(_.numCachedPartitions).sum
    assert(cachedParts > 0)
    assert(cut.head().getLong(0) == 4950L)
    rdds.foreach(_.unpersist(blocking = false))
  }

  /** The RDD a checkpointed frame scans. */
  private def scanned(cut: DataFrame): RDD[_] =
    cut.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => fail(s"not an RDD scan: ${p.nodeName}")
    }

  test("cut and cutLazy hand back only their own checkpoint while other " +
      "threads persist RDDs") {
    val sc = spark.sparkContext
    @volatile var running = true
    val foreign = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
    val persister = new Thread(() => {
      while (running) {
        foreign.add(sc.parallelize(Seq(1), 1).persist())
        Thread.sleep(1)
      }
    })
    persister.start()
    try {
      (0 until 5).foreach { i =>
        val df = spark.range(0, 200, 1, 4)
          .groupBy((col("id") % (i + 3)).as("k")).count()
        val (lazyCut, lazyRdds) = Lineage.cutLazy(df)
        assert(lazyRdds.map(_.id) == Seq(scanned(lazyCut).id))
        assert(lazyCut.count() == i + 3)
        val (cut, rdds, n) = Lineage.cut(df)
        assert(rdds.map(_.id) == Seq(scanned(cut).id))
        assert(n == i + 3)
        (lazyRdds ++ rdds).foreach(_.unpersist(blocking = false))
      }
    } finally {
      running = false
      persister.join()
      foreign.forEach(r => { r.unpersist(blocking = false); () })
    }
    assert(!foreign.isEmpty, "the persister thread must have run")
  }
}
