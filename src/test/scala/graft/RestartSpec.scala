package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.op.Compactor
import graft.sink.DeltaStore
import graft.source.Changelog
import graft.streaming.ChangeStream

/** Recovery semantics — the harness analog of the reference's kill-and-
  * restart data-integrity loop (`integration_test/dbsync/
  * data_integrity_test_linux.sh`): a checkpointed stream re-run from the
  * same checkpoint must not re-deliver committed batches, and the
  * compact-then-merge apply must converge to the same state as one-shot
  * batch compaction over all events. */
class RestartSpec extends SparkSpec {
  import spark.implicits._

  test("streamed compact+merge over checkpoint restart equals batch compaction") {
    val ckpt = Files.createTempDirectory("graft-restart").toString
    @volatile var applied = Map[(String, Long), (String, Option[Int])]()
    @volatile var batches = 0

    def runOnce(): Unit = {
      val stream = ChangeStream.fromEventsStream(spark, sf)
      val q = ChangeStream.compactedApply(stream, ckpt) { (net, _) =>
        batches += 1
        net.collect().foreach { r =>
          val key = (r.getAs[String]("tbl"), r.getAs[Long]("pk"))
          r.getAs[String]("net_op") match {
            case "delete" => applied -= key
            case op => applied += key -> (op, Option(r.getAs[Any]("r_k")).map(_.asInstanceOf[Int]))
          }
        }
      }
      q.awaitTermination()
    }

    runOnce()
    val afterFirst = applied
    val firstBatches = batches
    assert(firstBatches > 0 && afterFirst.nonEmpty)

    // restart from the same checkpoint: everything is committed, so the
    // second run must deliver no new batches and change nothing
    runOnce()
    assert(batches == firstBatches, "restart re-delivered committed batches")
    assert(applied == afterFirst)

    // the streamed incremental application must equal one-shot compaction
    val oneShot = Compactor.compact(Changelog.fromEvents(spark, sf))
      .filter(col("net_op") =!= "delete")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(4)).map(_.asInstanceOf[Int]))
      .toMap
    val appliedRows = applied.map { case (k, (_, v)) => k -> v }
    assert(appliedRows == oneShot)
  }

  test("crash mid-batch, then restart: at-least-once replay + idempotent apply converge") {
    val ckpt = Files.createTempDirectory("graft-crash").toString
    @volatile var applied = Map[(String, Long), Option[Int]]()
    @volatile var crashedOnce = false

    def applyRow(r: org.apache.spark.sql.Row): Unit = {
      val key = (r.getAs[String]("tbl"), r.getAs[Long]("pk"))
      r.getAs[String]("net_op") match {
        case "delete" => applied -= key
        case _ => applied += key -> Option(r.getAs[Any]("r_k")).map(_.asInstanceOf[Int])
      }
    }
    def runOnce(crashFirstBatch: Boolean): Unit = {
      val stream = ChangeStream.fromEventsStream(spark, sf)
      val q = ChangeStream.compactedApply(stream, ckpt) { (net, _) =>
        val rows = net.collect()
        if (crashFirstBatch && !crashedOnce) {
          // apply HALF the batch, then die — the worst case the
          // reference's kill -9 loop simulates
          rows.take(rows.length / 2).foreach(applyRow)
          crashedOnce = true
          throw new RuntimeException("injected crash mid-apply")
        }
        rows.foreach(applyRow)
      }
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }

    runOnce(crashFirstBatch = true) // dies mid-first-batch
    assert(crashedOnce)
    runOnce(crashFirstBatch = false) // restart: uncommitted batch replays fully
    val oneShot = Compactor.compact(Changelog.fromEvents(spark, sf))
      .filter(col("net_op") =!= "delete").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(4)).map(_.asInstanceOf[Int])).toMap
    assert(applied == oneShot)
  }

  test("config-driven streaming sync merges into the parquet target") {
    val target = java.nio.file.Files.createTempDirectory("graft-sync-t").toString + "/state"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sync-c").toString
    val cfg = s"""{
      "source": {"type": "events_stream", "dir": "$sf"},
      "processors": [],
      "sink": {"type": "parquet_delta", "path": "$target",
               "checkpoint": "$ckpt", "pk": ["tbl", "pk"]}
    }"""
    val snap = graft.pipeline.Pipeline.runStream(spark, cfg)
    // the sync task publishes its qps gauge (reference metrics.go:16-23)
    assert(snap.exists(_.numInputRows == 1000L),
      s"expected a progress snapshot covering the 1000-event batch, got $snap")
    val got = DeltaStore.read(spark, target).get
      .select("tbl", "pk", "r_k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    val want = Compactor.compact(Changelog.fromEvents(spark, sf))
      .filter(col("net_op") =!= "delete")
      .select("tbl", "pk", "r_k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(got == want && got.nonEmpty)
    // re-run from the same checkpoint: no new batches, target unchanged
    graft.pipeline.Pipeline.runStream(spark, cfg)
    val again = DeltaStore.read(spark, target).get.count()
    assert(again == got.size)
  }

  test("crash between generation write and manifest flip loses nothing") {
    val target = Files.createTempDirectory("graft-swap-t").toString + "/state"
    val ckpt = Files.createTempDirectory("graft-swap-c").toString
    val pkCols = Seq("tbl", "pk")
    @volatile var crashedOnce = false

    def runOnce(crashBeforeFlip: Boolean): Unit = {
      val stream = ChangeStream.fromEventsStream(spark, sf)
      val q = ChangeStream.compactedApply(stream, ckpt) { (net, id) =>
        if (crashBeforeFlip && !crashedOnce) {
          // generation fully written, MANIFEST never flipped — the exact
          // window the old overwrite-in-place sink corrupted
          DeltaStore.writeGen(net, target, pkCols, 8, id)
          crashedOnce = true
          throw new RuntimeException("injected crash before manifest flip")
        }
        DeltaStore.append(net, target, pkCols, 8, id)
      }
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }

    runOnce(crashBeforeFlip = true)
    assert(crashedOnce)
    // pre-flip state is still consistently readable (empty here: batch 0
    // never committed) — the manifest references no torn generation
    val midManifest = DeltaStore.readManifest(target)
    assert(midManifest.values.flatten.forall(g =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(target, g, "_SUCCESS"))))

    runOnce(crashBeforeFlip = false) // replay overwrites its own partial gen
    val got = DeltaStore.read(spark, target).get
      .select("tbl", "pk", "r_k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    val want = Compactor.compact(Changelog.fromEvents(spark, sf))
      .filter(col("net_op") =!= "delete")
      .select("tbl", "pk", "r_k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(got == want && got.nonEmpty)
    // every live generation completed its write
    assert(DeltaStore.readManifest(target).values.flatten.forall(g =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(target, g, "_SUCCESS"))))
  }

  test("additive evolution touching SOME buckets: read merges, never drops") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-evolve-part").toString + "/state"
    val pkCols = Seq("tbl", "pk")
    // 8 keys spread across the 4 hash buckets
    // maxChain = 1: every batch folds the buckets it touches
    DeltaStore.append((1L to 8L).map(k => ("t", k, "insert", k * 10, 0.5)).toDF(
      "tbl", "pk", "net_op", "r_id", "r_v"),
      target, pkCols, nBuckets = 4, batchId = 0, maxChain = 1)
    // the evolving batch touches ONE key → one bucket rewritten with the
    // new column; the other buckets keep the pre-evolution footer. The
    // store now has mixed per-bucket schemas — read must merge them (a
    // first-file-schema read silently drops r_extra or not depending on
    // path order).
    DeltaStore.append(Seq(("t", 1L, "update", 10L, 0.5, "x")).toDF(
      "tbl", "pk", "net_op", "r_id", "r_v", "r_extra"),
      target, pkCols, nBuckets = 4, batchId = 1, maxChain = 1)
    val rows = DeltaStore.read(spark, target).get
    assert(rows.columns.contains("r_extra"),
      "evolved column must survive a read spanning mixed-schema buckets")
    val byPk = rows.collect().map(r =>
      r.getAs[Long]("pk") -> Option(r.getAs[String]("r_extra"))).toMap
    assert(byPk(1L) === Some("x"))
    assert((2L to 8L).forall(byPk(_) === None))
  }

  test("bucket store folds generations down: live gens stay bounded") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-gens").toString + "/state"
    val pkCols = Seq("tbl", "pk")
    // 12 single-key batches with maxLiveGens=4: without fold-down the
    // store would hold 12 generations; with it, the append that finds 4
    // live gens folds all live buckets into one gen and GC reclaims the
    // rest
    (0 until 12).foreach { i =>
      val net = Seq(("t", i.toLong, "insert", i.toLong, i, i / 2.0))
        .toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v")
      DeltaStore.append(net, target, pkCols, nBuckets = 8, batchId = i,
        maxLiveGens = 4)
    }
    val liveGens = DeltaStore.readManifest(target).values.flatten.toSet
    assert(liveGens.size <= 4, s"generations not folded: $liveGens")
    // no unreferenced generation dirs left on disk
    val onDisk = new java.io.File(target).list().filter(_.startsWith("gen-")).toSet
    assert(onDisk == liveGens, s"orphan generations: ${onDisk -- liveGens}")
    // state is complete and correct after the folds
    val got = DeltaStore.read(spark, target).get
      .select("pk", "r_k").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == (0 until 12).map(i => i.toLong -> i).toMap)
  }

  test("empty and all-cancelling batches leave no orphan generation dirs") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-empty-gens").toString + "/state"
    val pkCols = Seq("tbl", "pk")
    def net(rows: (String, Long, String, Long, Int, Double)*) =
      rows.toSeq.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v")
    def onDisk() = Option(new java.io.File(target).list()).getOrElse(Array.empty)
      .filter(_.startsWith("gen-")).toSet
    // maxChain = 1: every batch folds the buckets it touches
    def merge(n: org.apache.spark.sql.DataFrame, id: Long): Unit =
      DeltaStore.append(n, target, pkCols, 8, id, maxChain = 1)
    merge(net(("t", 1L, "insert", 1L, 1, 1.0)), 0)
    // an empty net (e.g. an admission batch that rejected every doc) must
    // write nothing: a gen dir holding only _SUCCESS is referenced by no
    // manifest entry and would leak one dir per empty batch forever
    val m1 = DeltaStore.readManifest(target)
    merge(net(), 1)
    assert(DeltaStore.readManifest(target) == m1)
    val live = m1.values.flatten.toSet
    assert(onDisk() == live, s"orphans: ${onDisk() -- live}")
    // a batch that deletes EVERYTHING nets every touched bucket to empty:
    // the manifest empties and the batch's own output dir is swept
    merge(net(("t", 1L, "delete", 0L, 0, 0.0)), 2)
    assert(DeltaStore.readManifest(target).isEmpty)
    assert(onDisk().isEmpty, s"orphans: ${onDisk()}")
    assert(DeltaStore.read(spark, target).isEmpty)
    // at-least-once redelivery of that batch (crash fell between flip and
    // checkpoint commit): the #applied guard skips it, writing nothing
    merge(net(("t", 1L, "delete", 0L, 0, 0.0)), 2)
    assert(DeltaStore.readManifest(target).isEmpty && onDisk().isEmpty)
    // the store stays writable past the replayed id
    merge(net(("t", 2L, "insert", 2L, 2, 2.0)), 3)
    assert(DeltaStore.read(spark, target).get.count() == 1)
  }

  test("pipeline config assembles and runs end to end") {
    val cfg = s"""{
      "source": {"type": "events", "dir": "$sf"},
      "processors": [
        {"type": "filter", "tablePattern": "^srcdb\\\\.sbtest\\\\d+$$", "ops": ["insert","update","delete"]},
        {"type": "namecatcher", "pattern": "^([a-z]+)\\\\d+$$"},
        {"type": "compact"}
      ],
      "sink": {"type": "noop"}
    }"""
    val df = graft.pipeline.Pipeline.buildFrame(spark, cfg)
    assert(df.columns.contains("net_op"))
    assert(df.count() > 0)
    graft.pipeline.Pipeline.run(spark, cfg) // full run through the sink
  }
}
