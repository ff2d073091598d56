package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sink.DeltaStore

/** The append-only delta-log target: last-writer-wins resolution,
  * O(|batch|) appends, chain-capped compaction, and the crash contract
  * (atomic flip, replay idempotence, GC). */
class DeltaStoreSpec extends SparkSpec {
  import spark.implicits._

  private val pkCols = Seq("tbl", "pk")

  private def netOf(rows: (String, Long, String, Long, Int, Double)*) =
    rows.toSeq.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v")

  private def state(target: String): Map[(String, Long), (Long, Int, Double)] =
    DeltaStore.read(spark, target).map(_.collect().map { r =>
      (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
        (r.getAs[Long]("r_id"), r.getAs[Int]("r_k"), r.getAs[Double]("r_v"))
    }.toMap).getOrElse(Map.empty)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/state"

  test("randomized batch sequences: resolved state equals the model state") {
    val target = tmp("graft-delta-rand")
    val rnd = new scala.util.Random(20260812L)
    val model = scala.collection.mutable.Map[(String, Long), (Long, Int, Double)]()
    val ops = Seq("insert", "update", "delete")
    (0 until 12).foreach { b =>
      // one compacted batch: at most one op per (tbl, pk); deletes may
      // target absent keys (tombstone of nothing — a no-op on read)
      val keys = rnd.shuffle((0 until 40).map(i =>
        (s"sbtest${i % 10}", rnd.nextInt(25).toLong))).distinct.take(25)
      val batch = keys.map { case (t, pk) =>
        val op = ops(rnd.nextInt(3))
        (t, pk, op, pk * 10, rnd.nextInt(1000), rnd.nextDouble())
      }
      batch.foreach { case (t, pk, op, rid, rk, rv) =>
        if (op == "delete") model.remove((t, pk))
        else model((t, pk)) = (rid, rk, rv)
      }
      DeltaStore.append(batch.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v"),
        target, pkCols, nBuckets = 8, batchId = b, maxChain = 3)
    }
    assert(state(target) == model.toMap && model.nonEmpty)
  }

  test("readAt replays any flipped batch's state while history is intact") {
    val target = tmp("graft-delta-tt")
    // batch-by-batch model snapshots, maxChain high → no folds, full history
    val model = scala.collection.mutable.Map[(String, Long), (Long, Int, Double)]()
    val snaps = scala.collection.mutable.ArrayBuffer[Map[(String, Long), (Long, Int, Double)]]()
    val batches = Seq(
      Seq(("a", 1L, "insert", 1L, 10, 0.5), ("a", 2L, "insert", 2L, 20, 0.25)),
      Seq(("a", 1L, "update", 1L, 11, 0.75), ("b", 3L, "insert", 3L, 30, 1.5)),
      Seq(("a", 2L, "delete", 0L, 0, 0.0)),
      Seq(("a", 2L, "insert", 2L, 22, 2.5), ("b", 3L, "update", 3L, 33, 3.5)))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.foreach { case (t, pk, op, rid, rk, rv) =>
        if (op == "delete") model.remove((t, pk)) else model((t, pk)) = (rid, rk, rv)
      }
      snaps += model.toMap
      DeltaStore.append(netOf(b: _*), target, pkCols,
        nBuckets = 8, batchId = i, maxChain = 16)
    }
    assert(DeltaStore.readHistoryFloor(target) === -1L, "no fold happened")
    snaps.zipWithIndex.foreach { case (snap, i) =>
      val got = DeltaStore.readAt(spark, target, i).map(_.collect().map { r =>
        (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
          (r.getAs[Long]("r_id"), r.getAs[Int]("r_k"), r.getAs[Double]("r_v"))
      }.toMap).getOrElse(Map.empty)
      assert(got === snap, s"asOf batch $i diverges from the replayed model")
    }
    // asOf latest == current read
    assert(DeltaStore.readAt(spark, target, 3).get.collect().toSet ===
      DeltaStore.read(spark, target).get.collect().toSet)
  }

  test("randomized time travel: readAt(i) equals the model replay at every i") {
    val target = tmp("graft-delta-ttrand")
    val rnd = new scala.util.Random(20260813L)
    val model = scala.collection.mutable.Map[(String, Long), (Long, Int, Double)]()
    val snaps = scala.collection.mutable.ArrayBuffer[Map[(String, Long), (Long, Int, Double)]]()
    val ops = Seq("insert", "update", "delete")
    (0 until 8).foreach { b =>
      val keys = rnd.shuffle((0 until 30).map(i =>
        (s"t${i % 5}", rnd.nextInt(15).toLong))).distinct.take(18)
      val batch = keys.map { case (t, pk) =>
        (t, pk, ops(rnd.nextInt(3)), pk * 10, rnd.nextInt(1000), rnd.nextDouble())
      }
      batch.foreach { case (t, pk, op, rid, rk, rv) =>
        if (op == "delete") model.remove((t, pk)) else model((t, pk)) = (rid, rk, rv)
      }
      snaps += model.toMap
      // maxChain high: full history retained, every batch reachable
      DeltaStore.append(batch.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v"),
        target, pkCols, nBuckets = 8, batchId = b, maxChain = 100)
    }
    assert(DeltaStore.readHistoryFloor(target) === -1L)
    snaps.zipWithIndex.foreach { case (snap, i) =>
      val got = DeltaStore.readAt(spark, target, i).map(_.collect().map { r =>
        (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
          (r.getAs[Long]("r_id"), r.getAs[Int]("r_k"), r.getAs[Double]("r_v"))
      }.toMap).getOrElse(Map.empty)
      assert(got === snap, s"asOf $i diverges from the model replay")
    }
  }

  test("schema-additive append: new column resolves, old rows read null") {
    // the same evolution down each write path: (maxChain, appends of key
    // 1 before the evolved batch). The default cap with one prior append
    // never folds; maxChain = 1 folds every touched bucket on every
    // batch, so the evolved batch, and the batch after it that omits the
    // new column, each fold stored rows of the other schema; the last
    // case lands the evolved batch on key 1's chain at its cap
    val paths = Seq(DeltaStore.defaultMaxChain -> 1, 1 -> 1,
      DeltaStore.defaultMaxChain -> DeltaStore.defaultMaxChain)
    paths.foreach { case (maxChain, prior) =>
      val target = tmp("graft-delta-evolve")
      (0 until prior).foreach { b =>
        DeltaStore.append(netOf(("t", 1L, if (b == 0) "insert" else "update", 1L, 10, 0.5)),
          target, pkCols, nBuckets = 4, batchId = b, maxChain = maxChain)
      }
      // this batch's net carries a NEW column (the ADD COLUMN analog) and
      // also updates key 1; key 2 is new with the column populated
      val evolved = Seq(
        ("t", 1L, "update", 1L, 11, 1.5, "x"),
        ("t", 2L, "insert", 2L, 20, 2.5, "y"))
        .toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v", "r_extra")
      DeltaStore.append(evolved, target, pkCols, nBuckets = 4, batchId = prior,
        maxChain = maxChain)
      val got = DeltaStore.read(spark, target).get
      assert(got.columns.contains("r_extra"),
        "evolved column must survive the chain read, not silently drop")
      val byPk = got.collect().map(r =>
        r.getAs[Long]("pk") -> Option(r.getAs[String]("r_extra"))).toMap
      assert(byPk === Map(1L -> Some("x"), 2L -> Some("y")), s"maxChain $maxChain")
      // a key never touched after the evolution reads the column as null
      DeltaStore.append(netOf(("t", 3L, "insert", 3L, 30, 3.5)),
        target, pkCols, nBuckets = 4, batchId = prior + 1, maxChain = maxChain)
      val after = DeltaStore.read(spark, target).get.collect().map(r =>
        r.getAs[Long]("pk") -> Option(r.getAs[String]("r_extra"))).toMap
      assert(after(3L) === None && after(1L) === Some("x"), s"maxChain $maxChain")
    }
  }

  test("optimize refuses an LWW store (update/delete net-ops present)") {
    val target = tmp("graft-delta-optlww")
    DeltaStore.append(netOf(("t", 1L, "insert", 1L, 10, 0.5)),
      target, pkCols, nBuckets = 4, batchId = 0)
    DeltaStore.append(netOf(("t", 1L, "update", 1L, 11, 1.5)),
      target, pkCols, nBuckets = 4, batchId = 1)
    val e = intercept[IllegalArgumentException] {
      DeltaStore.optimizeAppendOnly(spark, target)
    }
    assert(e.getMessage.contains("LWW"))
    // the refused merge changed nothing; snapshot is the right tool here
    assert(state(target) === Map(("t", 1L) -> ((1L, 11, 1.5))))
    DeltaStore.snapshot(spark, target, nBuckets = 4)
    assert(state(target) === Map(("t", 1L) -> ((1L, 11, 1.5))))
  }

  test("optimize refuses a re-inserted key even when every net-op is insert") {
    val target = tmp("graft-delta-optdup")
    // batch 1 re-INSERTS pk 1 with a SMALLER value: recency is carried
    // only by generation order, which the verbatim merge would collapse
    // — the post-merge resolve would tie-break by value and silently
    // serve the STALE row (9, 9, 0.5). The insert-only probe alone
    // cannot see this; the pk-uniqueness probe must.
    DeltaStore.append(netOf(("t", 1L, "insert", 10L, 10, 1.5)),
      target, pkCols, nBuckets = 4, batchId = 0)
    DeltaStore.append(netOf(("t", 1L, "insert", 9L, 9, 0.5)),
      target, pkCols, nBuckets = 4, batchId = 1)
    val e = intercept[IllegalArgumentException] {
      DeltaStore.optimizeAppendOnly(spark, target)
    }
    assert(e.getMessage.contains("multiple live rows"))
    // the refused merge changed nothing; resolve still serves batch 1
    assert(state(target) === Map(("t", 1L) -> ((9L, 9, 0.5))))
    // snapshot folds to unique keys, after which optimize is safe
    DeltaStore.snapshot(spark, target, nBuckets = 4)
    DeltaStore.optimizeAppendOnly(spark, target)
    assert(state(target) === Map(("t", 1L) -> ((9L, 9, 0.5))))
  }

  test("a crash mid-optimize leaves append-only readers intact") {
    val target = tmp("graft-delta-optcrash")
    (0 until 3).foreach { b =>
      DeltaStore.append(netOf(("t", (10 + b).toLong, "insert", b.toLong, b, b / 2.0)),
        target, pkCols, nBuckets = 4, batchId = b)
    }
    val before = DeltaStore.readAppendOnly(spark, target).get.collect().toSet
    val m = DeltaStore.readManifest(target)
    // optimize that died between the merged-generation write and the
    // flip: partial snap dir on disk, manifest untouched — readers see
    // the old chains; the next optimize completes and sweeps it
    val orphan = java.nio.file.Paths.get(target, "snap-1")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk"), "partial")
    assert(DeltaStore.readAppendOnly(spark, target).get.collect().toSet === before)
    assert(DeltaStore.readManifest(target) === m)
    DeltaStore.optimizeAppendOnly(spark, target)
    assert(!java.nio.file.Files.exists(orphan), "orphan dir not GC'd by flip")
    assert(DeltaStore.readAppendOnly(spark, target).get.collect().toSet === before)
    assert(DeltaStore.readManifest(target).values.forall(c =>
      c.size == 1 && c.head.startsWith("snap-")))
  }

  test("readAt refuses travel below the fold horizon; floor is recorded") {
    val target = tmp("graft-delta-ttfold")
    // maxChain=1 → the second append to a bucket folds it: floor rises
    (0 until 3).foreach { b =>
      DeltaStore.append(netOf(("a", 1L, if (b == 0) "insert" else "update",
        1L, 10 + b, b.toDouble)), target, pkCols,
        nBuckets = 4, batchId = b, maxChain = 1)
    }
    val floor = DeltaStore.readHistoryFloor(target)
    assert(floor >= 1L, s"fold must raise the horizon, got $floor")
    val e = intercept[IllegalArgumentException] {
      DeltaStore.readAt(spark, target, floor - 1)
    }
    assert(e.getMessage.contains("time travel"))
    // at/above the horizon still serves exact state
    val cur = DeltaStore.readAt(spark, target, 2).get.collect()
    assert(cur.length === 1 && cur.head.getAs[Int]("r_k") === 12)
    // offline snapshot collapses everything to the applied id
    DeltaStore.snapshot(spark, target, nBuckets = 4)
    assert(DeltaStore.readHistoryFloor(target) === 2L)
  }

  /** Call sites of the SQL executions and task counts of the stages
    * `body` runs. */
  private def observed(body: => Unit): (Seq[String], Seq[Int]) = {
    val o = Observed(spark)(body)
    (o.executions.map(_._1), o.stageTasks)
  }

  test("an append that can fold nothing writes in one cores-sized job: " +
      "no collect, flat files sorted by bucket") {
    val target = tmp("graft-delta-onejob")
    val nBuckets = 64
    val cap = math.min(nBuckets, spark.sparkContext.defaultParallelism)
    val batch0 = (0 until 400).map(i =>
      (s"t${i % 7}", i.toLong, "insert", i.toLong, i, i / 4.0))
    val (writes, tasks) = observed {
      DeltaStore.append(netOf(batch0: _*), target, pkCols,
        nBuckets = nBuckets, batchId = 0, maxChain = 1)
    }
    assert(writes.size == 1 && writes.head.startsWith("parquet"),
      s"a no-fold append must run only its generation write: $writes")
    assert(tasks.nonEmpty && tasks.max <= cap,
      s"stage task counts $tasks exceed min(nBuckets, defaultParallelism) = $cap")
    val gen = new java.io.File(s"$target/gen-0")
    assert(!gen.list().exists(_.startsWith("bucket=")), gen.list().toSeq)
    val parts = gen.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.length <= cap,
      s"${parts.length} parquet files under gen-0, cap $cap")
    // one small file reads back as one partition, in file order
    val perFile = parts.toSeq.map(f =>
      spark.read.parquet(f.getPath).select("bucket").collect().map(_.getInt(0)).toSeq)
    perFile.foreach(bs => assert(bs == bs.sorted, s"file not sorted by bucket: $bs"))
    val buckets = perFile.flatten.toSet
    assert(buckets.size > cap, "the batch must span more buckets than write tasks")
    assert(DeltaStore.readManifest(target) == buckets.map(_ -> Seq("gen-0")).toMap)
    // every chain is now at maxChain = 1: the next append can fold, so it
    // collects its bucket ids first — the listener does see that job
    val (foldRuns, _) = observed {
      DeltaStore.append(netOf(("t0", 0L, "update", 0L, -1, -1.0)), target, pkCols,
        nBuckets = nBuckets, batchId = 1, maxChain = 1)
    }
    assert(foldRuns.exists(_.startsWith("collect")), s"fold-capable append ran: $foldRuns")
    assert(state(target) == batch0.map { case (t, pk, _, rid, rk, rv) =>
      (t, pk) -> (if (pk == 0L) (0L, -1, -1.0) else (rid, rk, rv)) }.toMap)
  }

  test("fold timing at maxChain = 2: an untouched bucket at the cap keeps " +
      "its chain, a touched one folds") {
    val target = tmp("graft-delta-foldtime")
    val keys = (1L to 50L).map(pk => ("t", pk))
    val bucketOf = keys.toDF("tbl", "pk")
      .withColumn("b", DeltaStore.bucketCol(pkCols, 4)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val a = keys.head
    val b = keys.find(k => bucketOf(k) != bucketOf(a)).get
    def row(k: (String, Long), op: String, v: Int) = (k._1, k._2, op, k._2, v, v.toDouble)
    def append(id: Long, rows: (String, Long, String, Long, Int, Double)*): Unit =
      DeltaStore.append(netOf(rows: _*), target, pkCols,
        nBuckets = 4, batchId = id, maxChain = 2)
    append(0, row(a, "insert", 0), row(b, "insert", 0))
    append(1, row(a, "update", 1), row(b, "update", 1))
    val (ba, bb) = (bucketOf(a), bucketOf(b))
    assert(DeltaStore.readManifest(target) ==
      Map(ba -> Seq("gen-0", "gen-1"), bb -> Seq("gen-0", "gen-1")))
    // both chains at the cap; batch 2 touches only a's bucket
    append(2, row(a, "update", 2))
    assert(DeltaStore.readManifest(target) ==
      Map(ba -> Seq("gen-2"), bb -> Seq("gen-0", "gen-1")))
    assert(DeltaStore.readHistoryFloor(target) == 2L)
    append(3, row(b, "update", 3))
    assert(DeltaStore.readManifest(target) ==
      Map(ba -> Seq("gen-2"), bb -> Seq("gen-3")))
    assert(state(target) == Map(a -> (a._2, 2, 2.0), b -> (b._2, 3, 3.0)))
  }

  test("append writes only the batch: untouched chains keep their files") {
    val target = tmp("graft-delta-app")
    // batch 0 seeds two keys landing in (very likely) different buckets
    DeltaStore.append(netOf(
      ("a", 1L, "insert", 1L, 10, 0.5), ("b", 2L, "insert", 2L, 20, 0.25)),
      target, pkCols, nBuckets = 8, batchId = 0)
    val m0 = DeltaStore.readManifest(target)
    // batch 1 touches only key ("a",1): gen-1 must hold exactly one row
    // (the delta), and every untouched bucket's chain is unchanged
    DeltaStore.append(netOf(("a", 1L, "update", 1L, 11, 0.75)),
      target, pkCols, nBuckets = 8, batchId = 1)
    val gen1 = spark.read.parquet(s"$target/gen-1")
    assert(gen1.count() == 1L)
    val m1 = DeltaStore.readManifest(target)
    val touchedBuckets = m1.filter { case (_, chain) => chain.contains("gen-1") }.keySet
    assert(touchedBuckets.size == 1)
    (m0.keySet -- touchedBuckets).foreach(b => assert(m1(b) == m0(b)))
    assert(state(target) == Map(
      ("a", 1L) -> (1L, 11, 0.75), ("b", 2L) -> (2L, 20, 0.25)))
  }

  test("chains stay capped and superseded generations are GC'd") {
    val target = tmp("graft-delta-chain")
    (0 until 10).foreach { i =>
      DeltaStore.append(netOf(("t", 1L, if (i == 0) "insert" else "update",
        1L, i, i / 2.0)), target, pkCols, nBuckets = 4, batchId = i, maxChain = 3)
    }
    val m = DeltaStore.readManifest(target)
    assert(m.values.forall(_.size <= 3), s"chain over cap: $m")
    val live = m.values.flatten.toSet
    val onDisk = new java.io.File(target).list().filter(_.startsWith("gen-")).toSet
    assert(onDisk == live, s"orphan generations: ${onDisk -- live}")
    assert(state(target) == Map(("t", 1L) -> (1L, 9, 4.5)))
  }

  test("a bucket folded down to nothing drops out of the manifest") {
    val target = tmp("graft-delta-del")
    DeltaStore.append(netOf(("t", 1L, "insert", 1L, 1, 1.0)),
      target, pkCols, nBuckets = 4, batchId = 0, maxChain = 1)
    // maxChain=1: this delete forces an immediate fold of the bucket;
    // insert+delete resolve to nothing, so no row of the bucket is written
    DeltaStore.append(netOf(("t", 1L, "delete", 0L, 0, 0.0)),
      target, pkCols, nBuckets = 4, batchId = 1, maxChain = 1)
    assert(DeltaStore.readManifest(target).isEmpty)
    assert(state(target) == Map.empty)
  }

  /** `per` keys in each of `n` distinct buckets of an `nBuckets`-way pk
    * hash, grouped by bucket, with the bucket ids. */
  private def keysByBucket(nBuckets: Int, n: Int, per: Int): Seq[(Int, Seq[(String, Long)])] =
    (0L until 200L).map(pk => ("t", pk)).toDF("tbl", "pk")
      .withColumn("b", DeltaStore.bucketCol(pkCols, nBuckets)).collect()
      .map(r => r.getInt(2) -> (r.getString(0), r.getLong(1))).toSeq
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .collect { case (b, ks) if ks.size >= per => b -> ks.take(per) }.take(n)

  /** The (tbl, pk) -> (r_id, r_k, r_v) rows stored in one generation dir. */
  private def genRows(target: String, gen: String) =
    spark.read.parquet(s"$target/$gen").collect().map { r =>
      (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
        (r.getAs[Long]("r_id"), r.getAs[Int]("r_k"), r.getAs[Double]("r_v"))
    }.toSeq

  test("a generation live for other buckets never serves a superseded bucket's rows") {
    val nBuckets = 4
    // z is written once and never again: its generation stays live, and
    // every read of x and y alone covers only some of the store's buckets
    val Seq((bx, xs), (by, ys), (bz, zs)) = keysByBucket(nBuckets, 3, 3)
    val (x1, x2, x3, y1, z1) = (xs(0), xs(1), xs(2), ys(0), zs(0))
    type K = (String, Long)
    type V = (Long, Int, Double)
    def v(k: K, i: Int): V = (k._2, i, i.toDouble)
    def net(ops: Seq[(K, String, Int)]) =
      netOf(ops.map { case (k, op, i) => (k._1, k._2, op, k._2, i, i.toDouble) }: _*)
    def applyTo(m: scala.collection.mutable.Map[K, V], ops: Seq[(K, String, Int)]): Unit =
      ops.foreach { case (k, op, i) => if (op == "delete") m.remove(k) else m(k) = v(k, i) }
    def onDisk(t: String) = new java.io.File(t).list().filter(_.startsWith("gen-")).toSet

    // --- DeltaStore, maxChain = 2 ---
    val target = tmp("graft-delta-members")
    val model = scala.collection.mutable.Map[K, V]()
    val snaps = scala.collection.mutable.Map[Long, Map[K, V]]()
    def append(id: Long, ops: (K, String, Int)*): Unit = {
      applyTo(model, ops)
      snaps(id) = model.toMap
      DeltaStore.append(net(ops), target, pkCols, nBuckets = nBuckets,
        batchId = id, maxChain = 2)
    }
    def checkReads(id: Long): Unit = {
      assert(state(target) == model.toMap, s"read after batch $id")
      (DeltaStore.readHistoryFloor(target) max 0L).to(id).foreach { at =>
        val got = DeltaStore.readAt(spark, target, at).get.collect().map { r =>
          (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
            (r.getAs[Long]("r_id"), r.getAs[Int]("r_k"), r.getAs[Double]("r_v"))
        }.toMap
        assert(got == snaps(at), s"readAt($at) after batch $id")
      }
      assert(onDisk(target) == DeltaStore.readManifest(target).values.flatten.toSet)
    }
    append(0, (x1, "insert", 0), (x2, "insert", 0), (x3, "insert", 0), (y1, "insert", 0),
      (z1, "insert", 0))
    append(1, (x1, "update", 1), (x2, "delete", 0), (x3, "delete", 0))
    // x's chain is at the cap: x folds into gen-2, and gen-0 stays live
    // for y with x's batch-0 rows (x2 and x3 among them) still in its files
    append(2, (x1, "update", 2))
    assert(DeltaStore.readManifest(target) ==
      Map(bx -> Seq("gen-2"), by -> Seq("gen-0"), bz -> Seq("gen-0")))
    assert(genRows(target, "gen-0").map(_._1).toSet == Set(x1, x2, x3, y1, z1))
    checkReads(2)
    // x2 comes back: to the feed it is an insert, not an update of its
    // stale batch-0 row; gen-0 is in the window's read (y's chain)
    append(3, (x2, "insert", 3), (y1, "update", 3))
    checkReads(3)
    val feed = DeltaStore.changesBetween(spark, target, 2, 3).map(feedOf).get
    assert(feed == modelDiff(snaps(2), snaps(3)))
    assert(feed == Map(x2 -> ("insert", v(x2, 3)), y1 -> ("update", v(y1, 3))))
    // both chains are at the cap: one fold reads gen-0, gen-2 and gen-3
    // for x and y, and must not carry x3's stale row into gen-4
    append(4, (x1, "update", 4), (y1, "update", 4))
    assert(DeltaStore.readManifest(target) ==
      Map(bx -> Seq("gen-4"), by -> Seq("gen-4"), bz -> Seq("gen-0")))
    val folded = genRows(target, "gen-4")
    assert(folded.size == model.size - 1 && folded.toMap == model.toMap - z1)
    checkReads(4)
    // an empty batch (no chain at the cap: the one-query path) observes
    // no bucket: the manifest stays, #applied moves, its dir is swept
    val m4 = DeltaStore.readManifest(target)
    append(5)
    assert(DeltaStore.readManifest(target) == m4 && DeltaStore.readApplied(target) == 5L)
    append(6, (x1, "delete", 0), (x2, "delete", 0), (x3, "delete", 0))
    // the same for an empty batch that could fold (x's chain is at the cap)
    val m6 = DeltaStore.readManifest(target)
    append(7)
    assert(DeltaStore.readManifest(target) == m6 && DeltaStore.readApplied(target) == 7L)
    // x folds down to nothing: the write holds none of its rows, so x
    // leaves the manifest
    append(8, (x1, "delete", 0))
    assert(DeltaStore.readManifest(target) == Map(by -> Seq("gen-4"), bz -> Seq("gen-0")))
    assert(DeltaStore.readApplied(target) == 8L)
    checkReads(8)

    // --- maxChain = 1: the touched bucket moves, the old generation stays ---
    val bt = tmp("graft-fold-members")
    val bmodel = scala.collection.mutable.Map[K, V]()
    def merge(id: Long, ops: (K, String, Int)*): Unit = {
      applyTo(bmodel, ops)
      DeltaStore.append(net(ops), bt, pkCols, nBuckets = nBuckets,
        batchId = id, maxChain = 1)
    }
    def bstate = DeltaStore.read(spark, bt).map(_.collect().map { r =>
      (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
        (r.getAs[Long]("r_id"), r.getAs[Int]("r_k"), r.getAs[Double]("r_v"))
    }.toSeq).getOrElse(Seq.empty)
    merge(0, (x1, "insert", 0), (x2, "insert", 0), (y1, "insert", 0), (z1, "insert", 0))
    merge(1, (x1, "update", 1), (x2, "delete", 0))
    assert(DeltaStore.readManifest(bt) ==
      Map(bx -> Seq("gen-1"), by -> Seq("gen-0"), bz -> Seq("gen-0")))
    assert(genRows(bt, "gen-0").map(_._1).toSet == Set(x1, x2, y1, z1))
    assert(bstate.size == bmodel.size && bstate.toMap == bmodel.toMap)
    // the fold's touched-bucket read spans gen-0 and gen-1
    merge(2, (x1, "update", 2), (y1, "update", 2))
    assert(DeltaStore.readManifest(bt) ==
      Map(bx -> Seq("gen-2"), by -> Seq("gen-2"), bz -> Seq("gen-0")))
    val merged = genRows(bt, "gen-2")
    assert(merged.size == bmodel.size - 1 && merged.toMap == bmodel.toMap - z1)
    assert(bstate.size == bmodel.size && bstate.toMap == bmodel.toMap)
    // an all-deleted bucket leaves the manifest; an empty batch keeps it
    merge(3, (x1, "delete", 0))
    assert(DeltaStore.readManifest(bt) == Map(by -> Seq("gen-2"), bz -> Seq("gen-0")))
    merge(4)
    assert(DeltaStore.readManifest(bt) == Map(by -> Seq("gen-2"), bz -> Seq("gen-0")))
    assert(bstate.toMap == bmodel.toMap && onDisk(bt) == Set("gen-0", "gen-2"))
  }

  test("crash between generation write and flip loses nothing; replay converges") {
    val target = tmp("graft-delta-crash")
    DeltaStore.append(netOf(("t", 1L, "insert", 1L, 1, 1.0)),
      target, pkCols, nBuckets = 4, batchId = 0)
    val before = state(target)
    // phase 1 only — the crash window: generation on disk, manifest not
    // flipped. Readers must still see the pre-batch state.
    DeltaStore.writeGen(netOf(("t", 1L, "update", 1L, 2, 2.0)),
      target, pkCols, nBuckets = 4, batchId = 1)
    assert(state(target) == before)
    // replay of the uncommitted batch overwrites its own partial gen and
    // completes both phases
    DeltaStore.append(netOf(("t", 1L, "update", 1L, 2, 2.0)),
      target, pkCols, nBuckets = 4, batchId = 1)
    assert(state(target) == Map(("t", 1L) -> (1L, 2, 2.0)))
    // replay of the ALREADY-FLIPPED batch (crash between flip and
    // checkpoint commit) is detected and is a no-op
    val m = DeltaStore.readManifest(target)
    DeltaStore.append(netOf(("t", 1L, "update", 1L, 2, 2.0)),
      target, pkCols, nBuckets = 4, batchId = 1)
    assert(DeltaStore.readManifest(target) == m)
    assert(state(target) == Map(("t", 1L) -> (1L, 2, 2.0)))
  }

  test("store-wide fold bounds live generation dirs") {
    val target = tmp("graft-delta-fold")
    (0 until 12).foreach { i =>
      DeltaStore.append(netOf(("t", i.toLong, "insert", i.toLong, i, i / 2.0)),
        target, pkCols, nBuckets = 8, batchId = i,
        maxChain = 100, maxLiveGens = 4)
    }
    val live = DeltaStore.readManifest(target).values.flatten.toSet
    // an append that finds maxLiveGens live generations folds the whole
    // store into its own one, so no append leaves more than 4 live
    assert(live.size <= 4, s"live generations not bounded: $live")
    // … and the flip swept every other generation dir off the disk
    val onDisk = new java.io.File(target).list().filter(_.startsWith("gen-")).toSet
    assert(onDisk == live, s"on disk $onDisk, live $live")
    assert(state(target) == (0 until 12).map(i =>
      ("t", i.toLong) -> (i.toLong, i, i / 2.0)).toMap)
  }

  test("empty micro-batches advance #applied without leaking generations") {
    val target = tmp("graft-delta-empty")
    DeltaStore.append(netOf(("t", 1L, "insert", 1L, 1, 1.0)),
      target, pkCols, nBuckets = 4, batchId = 0)
    assert(DeltaStore.readApplied(target) == 0L)
    def onDisk() = new java.io.File(target).list().filter(_.startsWith("gen-")).toSet
    // a stream can net a whole micro-batch to nothing (e.g. every op in
    // it cancelled within the batch); the apply must still record the
    // batch as applied — a replay after restart must not re-run it — and
    // must write no generation dir (nothing would ever reference it)
    val m1 = DeltaStore.readManifest(target)
    DeltaStore.append(netOf(), target, pkCols, nBuckets = 4, batchId = 1)
    assert(DeltaStore.readApplied(target) == 1L)
    assert(DeltaStore.readManifest(target) == m1)
    assert(onDisk() == m1.values.flatten.toSet, s"leaked generations: ${onDisk()}")
    // stream continues normally after the gap…
    DeltaStore.append(netOf(("t", 2L, "insert", 2L, 2, 2.0)),
      target, pkCols, nBuckets = 4, batchId = 2)
    // …and a later empty batch behaves the same on a longer manifest
    val m3 = DeltaStore.readManifest(target)
    DeltaStore.append(netOf(), target, pkCols, nBuckets = 4, batchId = 3)
    assert(DeltaStore.readApplied(target) == 3L)
    assert(DeltaStore.readManifest(target) == m3)
    assert(onDisk() == m3.values.flatten.toSet, s"leaked generations: ${onDisk()}")
    assert(state(target) == Map(
      ("t", 1L) -> (1L, 1, 1.0), ("t", 2L) -> (2L, 2, 2.0)))
  }

  test("replay of a flipped zero-bucket batch is a no-op (no re-apply, no garbage)") {
    val target = tmp("graft-delta-zerobucket")
    DeltaStore.append(netOf(("t", 1L, "insert", 1L, 1, 1.0)),
      target, pkCols, nBuckets = 4, batchId = 0, maxChain = 1)
    // maxChain=1 forces a fold; insert+delete nets to nothing, so batch 1
    // flips a generation that wrote NO bucket dirs — it appears in no
    // chain, and only the #applied header records it happened
    DeltaStore.append(netOf(("t", 1L, "delete", 0L, 0, 0.0)),
      target, pkCols, nBuckets = 4, batchId = 1, maxChain = 1)
    assert(DeltaStore.readManifest(target).isEmpty)
    assert(DeltaStore.readApplied(target) == 1L)
    def gens() = new java.io.File(target).list().filter(_.startsWith("gen-")).toSet
    assert(gens().isEmpty)
    // at-least-once redelivery of batch 1 (crash fell between the flip
    // and the checkpoint commit): chain membership can't detect it —
    // the #applied guard must, or the tombstone re-applies as a fresh
    // generation and leaves a chain no state justifies
    DeltaStore.append(netOf(("t", 1L, "delete", 0L, 0, 0.0)),
      target, pkCols, nBuckets = 4, batchId = 1, maxChain = 1)
    assert(DeltaStore.readManifest(target).isEmpty, "zero-bucket batch re-applied")
    assert(gens().isEmpty, s"replay left garbage generations: ${gens()}")
    assert(DeltaStore.readApplied(target) == 1L)
    assert(state(target) == Map.empty)
    // the store is still writable past the replayed id
    DeltaStore.append(netOf(("t", 2L, "insert", 2L, 2, 2.0)),
      target, pkCols, nBuckets = 4, batchId = 2, maxChain = 1)
    assert(state(target) == Map(("t", 2L) -> (2L, 2, 2.0)))
  }

  test("resolved-snapshot materialization: read-after equals read-before") {
    val target = tmp("graft-delta-snap")
    val rnd = new scala.util.Random(42L)
    (0 until 6).foreach { b =>
      val batch = (0 until 5).map { k =>
        val op = if (b > 0 && k == b % 5) "delete"
          else if (b == 0) "insert" else "update"
        ("t", k.toLong, op, k.toLong, rnd.nextInt(100), rnd.nextDouble())
      }
      DeltaStore.append(batch.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v"),
        target, pkCols, nBuckets = 4, batchId = b, maxChain = 10)
    }
    val before = state(target)
    val applied = DeltaStore.readApplied(target)
    assert(DeltaStore.readManifest(target).values.exists(_.size > 1),
      "fixture should have real chains to fold")
    DeltaStore.snapshot(spark, target, nBuckets = 4)
    // the snapshot is invisible to readers…
    assert(state(target) == before && before.nonEmpty)
    // …consumes no batch id…
    assert(DeltaStore.readApplied(target) == applied)
    // …and leaves exactly one live generation per bucket, all superseded
    // generations GC'd
    val m = DeltaStore.readManifest(target)
    assert(m.nonEmpty && m.values.forall(_ == Seq(s"snap-$applied")))
    def dirs() = new java.io.File(target).list()
      .filter(n => n.startsWith("gen-") || n.startsWith("snap-")).toSet
    assert(dirs() == Set(s"snap-$applied"))
    // re-snapshot at the same applied id is a no-op (never overwrite the
    // live generation in place)
    DeltaStore.snapshot(spark, target, nBuckets = 4)
    assert(state(target) == before && dirs() == Set(s"snap-$applied"))
    // the stream continues: the next append takes the next batch id and
    // wins LWW over the snapshot
    DeltaStore.append(netOf(("t", 0L, "update", 0L, 999, 9.9)),
      target, pkCols, nBuckets = 4, batchId = applied + 1)
    assert(state(target) == before + (("t", 0L) -> ((0L, 999, 9.9))))
  }

  test("a crash mid-snapshot leaves readers intact; the orphan dir is GC'd") {
    val target = tmp("graft-delta-snapcrash")
    (0 until 3).foreach { b =>
      DeltaStore.append(netOf(("t", b.toLong, "insert", b.toLong, b, b / 2.0)),
        target, pkCols, nBuckets = 4, batchId = b)
    }
    val before = state(target)
    val m = DeltaStore.readManifest(target)
    // simulate a snapshot that died between the generation write and the
    // flip: a partial snap dir exists, the manifest still points at the
    // old chains — readers must see the old state untouched
    val orphan = java.nio.file.Paths.get(target, "snap-1")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk"), "partial")
    assert(state(target) == before)
    assert(DeltaStore.readManifest(target) == m)
    // the next flip (any append) sweeps the unreferenced snap dir
    DeltaStore.append(netOf(("t", 9L, "insert", 9L, 9, 9.0)),
      target, pkCols, nBuckets = 4, batchId = 3)
    assert(!java.nio.file.Files.exists(orphan), "orphan snap dir not GC'd")
    assert(state(target) == before + (("t", 9L) -> ((9L, 9, 9.0))))
  }

  test("config-driven streaming sync appends into the delta target") {
    val target = tmp("graft-delta-sync")
    val ckpt = Files.createTempDirectory("graft-delta-sync-c").toString
    val cfg = s"""{
      "source": {"type": "events_stream", "dir": "$sf"},
      "processors": [],
      "sink": {"type": "parquet_delta", "path": "$target",
               "checkpoint": "$ckpt", "pk": ["tbl", "pk"]}
    }"""
    graft.pipeline.Pipeline.runStream(spark, cfg)
    val got = DeltaStore.read(spark, target).get
      .select("tbl", "pk", "r_k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    val want = graft.op.Compactor.compact(
      graft.source.Changelog.fromEvents(spark, sf))
      .filter(col("net_op") =!= "delete")
      .select("tbl", "pk", "r_k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(got == want && got.nonEmpty)
    // close the loop with the consistency checker (K3), exactly as a
    // deployment would audit the sync: source netted state vs the delta
    // target, zero diff rows in either direction
    val cols = Seq("tbl", "pk", "r_id", "r_k", "r_v")
    val src = graft.op.Compactor.compact(
      graft.source.Changelog.fromEvents(spark, sf))
      .filter(col("net_op") =!= "delete")
      .select(cols.map(col): _*)
    val tgt = DeltaStore.read(spark, target).get.select(cols.map(col): _*)
    assert(graft.op.Checker.check(src, tgt, Seq("tbl", "pk")).isEmpty)
    assert(graft.op.Checker.check(tgt, src, Seq("tbl", "pk")).isEmpty)
    // restart from the same checkpoint: no new batches, target unchanged
    graft.pipeline.Pipeline.runStream(spark, cfg)
    assert(DeltaStore.read(spark, target).get.count() == got.size)
  }

  test("auto-snapshot policy fires from the streaming sink; readers see nothing") {
    // the same 4-slice drain twice: once with autoSnapshotGens=3, once
    // without. The policy must fire during the auto drain (a snap-
    // generation appears without any operator snapshot call), consume no
    // batch id, and be invisible to readers (identical resolved state).
    def run(extra: String): String = {
      val target = tmp("graft-delta-autosnap")
      val ckpt = Files.createTempDirectory("graft-delta-autosnap-c").toString
      graft.pipeline.Pipeline.runStream(spark, s"""{
        "source": {"type": "events_stream", "dir": "$sf", "slices": 4},
        "processors": [],
        "sink": {"type": "parquet_delta", "path": "$target",
                 "checkpoint": "$ckpt", "pk": ["tbl", "pk"],
                 "maxChain": 100$extra}
      }""")
      target
    }
    val auto = run(""", "autoSnapshotGens": 3""")
    val plain = run("")
    def liveGens(t: String) = DeltaStore.readManifest(t).values.flatten.toSet
    // fired: some chain references a snap- generation (batches 0,1,2 grow
    // live gens to the threshold; the fold runs between batches 2 and 3)
    assert(liveGens(auto).exists(_.startsWith("snap-")),
      s"auto-snapshot never fired: ${liveGens(auto)}")
    assert(liveGens(plain).forall(_.startsWith("gen-")))
    // read cost at drain end: the folded store holds fewer live
    // generations than the append-only one
    assert(liveGens(auto).size < liveGens(plain).size)
    // a snapshot consumes no batch id — both drains applied the same ids
    assert(DeltaStore.readApplied(auto) == DeltaStore.readApplied(plain))
    // and resolves to the identical state
    val a = DeltaStore.read(spark, auto).get
    val p = DeltaStore.read(spark, plain).get
    assert(a.count() > 0 && a.exceptAll(p).isEmpty && p.exceptAll(a).isEmpty)
    // the policy primitive itself: below threshold it declines
    assert(!DeltaStore.maybeSnapshot(spark, auto, nBuckets = 16,
      minLiveGens = 100))
  }

  test("maxLiveGens config reaches the store; fold policy never changes state") {
    // the same 3-slice drain twice: once with the store-wide fold forced
    // every batch (maxLiveGens=1), once with defaults. The configured
    // bound must reach DeltaStore (the constrained target ends at ONE
    // live generation where the default keeps one per batch), and the
    // fold policy must be invisible to readers (identical resolved state)
    def run(extra: String): String = {
      val target = tmp("graft-delta-mlg")
      val ckpt = Files.createTempDirectory("graft-delta-mlg-c").toString
      graft.pipeline.Pipeline.runStream(spark, s"""{
        "source": {"type": "events_stream", "dir": "$sf", "slices": 3},
        "processors": [],
        "sink": {"type": "parquet_delta", "path": "$target",
                 "checkpoint": "$ckpt", "pk": ["tbl", "pk"]$extra}
      }""")
      target
    }
    val bounded = run(""", "maxChain": 100, "maxLiveGens": 1""")
    val default = run("")
    def liveGens(t: String) = DeltaStore.readManifest(t).values.flatten.toSet
    assert(liveGens(bounded).size == 1,
      s"maxLiveGens=1 not honored: ${liveGens(bounded)}")
    assert(liveGens(default).size > 1,
      s"sliced drain should leave multiple live generations: ${liveGens(default)}")
    val b = DeltaStore.read(spark, bounded).get
    val d = DeltaStore.read(spark, default).get
    assert(b.count() > 0 && b.exceptAll(d).isEmpty && d.exceptAll(b).isEmpty)
  }

  test("config front-end: delta source reads current and as-of state") {
    val target = tmp("graft-delta-cfg")
    val batches = Seq(
      Seq(("a", 1L, "insert", 1L, 10, 0.5), ("a", 2L, "insert", 2L, 20, 0.25)),
      Seq(("a", 1L, "update", 1L, 11, 0.75), ("b", 3L, "insert", 3L, 30, 1.5)),
      Seq(("a", 2L, "delete", 0L, 0, 0.0)))
    batches.zipWithIndex.foreach { case (b, i) =>
      DeltaStore.append(netOf(b: _*), target, pkCols,
        nBuckets = 8, batchId = i, maxChain = 16)
    }
    // current state through the config front-end == library read
    val cur = graft.pipeline.Pipeline.buildFrame(spark,
      s"""{"source": {"type": "delta", "path": "$target"},
           "processors": [], "sink": {"type": "noop"}}""")
    assert(cur.collect().toSet === DeltaStore.read(spark, target).get.collect().toSet)
    // as-of batch 1 through a FULL Run.dispatch (config → parquet sink)
    val out = Files.createTempDirectory("graft-delta-cfg-out").toString + "/asof"
    graft.Run.dispatch(spark, s"""{
      "source": {"type": "delta", "path": "$target", "asOfBatch": 1},
      "processors": [],
      "sink": {"type": "parquet", "path": "$out"}}""")
    val asOf = spark.read.parquet(out)
    assert(asOf.collect().toSet ===
      DeltaStore.readAt(spark, target, 1).get.collect().toSet)
    // a2 was deleted in batch 2 — present as-of 1, absent now
    assert(asOf.filter(col("tbl") === "a" && col("pk") === 2L).count() === 1)
    assert(cur.filter(col("tbl") === "a" && col("pk") === 2L).count() === 0)
    // the horizon refusal surfaces through the config path too
    DeltaStore.snapshot(spark, target, nBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Pipeline.buildFrame(spark,
        s"""{"source": {"type": "delta", "path": "$target", "asOfBatch": 0},
             "processors": [], "sink": {"type": "noop"}}""")
    }
    assert(e.getMessage.contains("time travel"))
    // a missing store refuses loudly instead of yielding an empty frame
    val miss = intercept[IllegalArgumentException] {
      graft.pipeline.Pipeline.buildFrame(spark,
        """{"source": {"type": "delta", "path": "/tmp/graft-no-such-store"},
            "processors": [], "sink": {"type": "noop"}}""")
    }
    assert(miss.getMessage.contains("no store"))
  }

  // --- changesBetween: the CDC-out change feed ---

  private def feedOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getAs[String]("tbl"), r.getAs[Long]("pk")) ->
        (r.getAs[String]("change"),
          (r.getAs[Long]("r_id"), r.getAs[Int]("r_k"), r.getAs[Double]("r_v")))
    }.toMap

  private def modelDiff(
      a: Map[(String, Long), (Long, Int, Double)],
      b: Map[(String, Long), (Long, Int, Double)])
      : Map[(String, Long), (String, (Long, Int, Double))] =
    (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(v))              => Some(k -> ("insert", v))
        case (Some(v), None)              => Some(k -> ("delete", v)) // pre-image
        case (Some(u), Some(v)) if u != v => Some(k -> ("update", v))
        case _                            => None
      }
    }.toMap

  test("changesBetween equals the model diff over every (from, to) cut pair") {
    val target = tmp("graft-delta-feed")
    val rnd = new scala.util.Random(20260814L)
    val model = scala.collection.mutable.Map[(String, Long), (Long, Int, Double)]()
    val snaps = scala.collection.mutable.ArrayBuffer[Map[(String, Long), (Long, Int, Double)]]()
    val ops = Seq("insert", "update", "delete")
    (0 until 6).foreach { b =>
      val keys = rnd.shuffle((0 until 30).map(i =>
        (s"t${i % 4}", rnd.nextInt(12).toLong))).distinct.take(15)
      val batch = keys.map { case (t, pk) =>
        (t, pk, ops(rnd.nextInt(3)), pk * 10, rnd.nextInt(1000), rnd.nextDouble())
      }
      batch.foreach { case (t, pk, op, rid, rk, rv) =>
        if (op == "delete") model.remove((t, pk)) else model((t, pk)) = (rid, rk, rv)
      }
      snaps += model.toMap
      DeltaStore.append(batch.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v"),
        target, pkCols, nBuckets = 8, batchId = b, maxChain = 100)
    }
    var sawAllThree = Set[String]()
    for (i <- 0 until 6; j <- i until 6) {
      val got = DeltaStore.changesBetween(spark, target, i, j)
        .map(feedOf).getOrElse(Map.empty)
      val want = modelDiff(snaps(i), snaps(j))
      assert(got === want, s"feed ($i -> $j) diverges from the model diff")
      sawAllThree ++= want.values.map(_._1)
    }
    assert(sawAllThree === Set("insert", "update", "delete"),
      "fixture must exercise every change kind")
    // an empty window over a non-empty store is an EMPTY FEED with the
    // feed schema (ADVICE r16: the common case for a polling CDC-out
    // consumer must not read as "no store"); None remains reserved for
    // a missing store
    val idle = DeltaStore.changesBetween(spark, target, 5, 5)
    assert(idle.isDefined && idle.get.count() == 0L)
    assert(idle.get.columns.contains("change"))
    assert(DeltaStore.changesBetween(spark, tmp("graft-delta-nostore"),
      0, 1).isEmpty)
  }

  test("changesBetween prunes the scan to buckets touched inside the window") {
    val target = tmp("graft-delta-feedprune")
    val nBuckets = 8
    def bucketOf(k: (String, Long)): Int = Seq(k).toDF("tbl", "pk")
      .select(DeltaStore.bucketCol(pkCols, nBuckets)).head().getInt(0)
    def append(id: Long, rows: (String, Long, String, Long, Int, Double)*): Unit =
      DeltaStore.append(netOf(rows: _*), target, pkCols,
        nBuckets = nBuckets, batchId = id, maxChain = 100)
    def gensRead(feed: org.apache.spark.sql.DataFrame): Set[String] =
      feed.inputFiles.map(f => "/(gen-\\d+)/[^/]+$".r.findFirstMatchIn(f).get.group(1)).toSet
    // batch 0 spreads keys across (very likely) many buckets
    append(0, (0 until 16).map(i => (s"t$i", i.toLong, "insert", i.toLong, i, i.toDouble)): _*)
    // batch 1 touches exactly one key — one bucket changed
    append(1, ("t3", 3L, "update", 3L, 99, 9.9))
    val before = DeltaStore.changesBetween(spark, target, 0, 1).get
    assert(gensRead(before) === Set("gen-0", "gen-1"))
    val feed01 = feedOf(before)
    assert(feed01 === Map(("t3", 3L) -> ("update", (3L, 99, 9.9))))
    // batch 2 touches one key of another bucket: gen-2 joins that chain
    // only, so a window whose touched chains do not hold it never scans it
    val other = (0 until 16).map(i => (s"t$i", i.toLong))
      .find(k => bucketOf(k) != bucketOf(("t3", 3L))).get
    append(2, (other._1, other._2, "update", other._2, -1, -1.0))
    val after = DeltaStore.changesBetween(spark, target, 0, 1).get
    assert(gensRead(after) === Set("gen-0", "gen-1"), "gen-2 holds no touched bucket")
    assert(feedOf(after) === feed01)
    // and the window (1, 2] skips gen-1, which holds no bucket it touched
    val late = DeltaStore.changesBetween(spark, target, 1, 2).get
    assert(gensRead(late) === Set("gen-0", "gen-2"), "gen-1 holds no touched bucket")
    assert(feedOf(late) === Map(other -> ("update", (other._2, -1, -1.0))))
  }

  test("changesBetween refuses a fromBatch below the fold horizon") {
    val target = tmp("graft-delta-feedfold")
    (0 until 3).foreach { b =>
      DeltaStore.append(netOf(("a", 1L, if (b == 0) "insert" else "update",
        1L, 10 + b, b.toDouble)), target, pkCols,
        nBuckets = 4, batchId = b, maxChain = 1)
    }
    val floor = DeltaStore.readHistoryFloor(target)
    assert(floor >= 1L)
    val e = intercept[IllegalArgumentException] {
      DeltaStore.changesBetween(spark, target, floor - 1, 2)
    }
    assert(e.getMessage.contains("change feed"))
    intercept[IllegalArgumentException] {
      DeltaStore.changesBetween(spark, target, 2, 1) // from > to
    }
    // at the horizon the feed still serves: the folded state IS batch-
    // `floor`'s state, so (floor -> latest) has exact pre-images
    val ok = DeltaStore.changesBetween(spark, target, floor, 2)
    if (floor < 2) assert(ok.isDefined && feedOf(ok.get).nonEmpty)
  }
}
