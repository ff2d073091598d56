package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.op.{Compactor, Processors}
import graft.ops.{Admission, Clusters, GraphBlocks}
import graft.pipeline.Pipeline
import graft.sink.DeltaStore
import graft.source.Changelog
import graft.streaming.{ChangeStream, StreamTuning}

/** Generated input of one workload, ready to drain. */
final case class Prepared(dir: Path, seed: Long, rows: Long, stageS: Double,
    small: Boolean, staged: Seq[Path] = Nil)

/** Where one timed pipeline call writes: a fresh target and checkpoint. */
final case class OpDirs(root: Path) {
  val target: String = root.resolve("target").toString
  val ckpt: String = root.resolve("ckpt").toString
}

/** One pipeline call. `batchMs` holds its micro-batch durations (rows > 0
  * only); `counts` carries workload-specific tallies for the trace. */
final case class OpRes(rows: Long, wallS: Double, batchMs: Seq[Double],
    counts: Map[String, Double] = Map.empty)

/** A seeded workload driving one of the engine's public entry points. */
abstract class Workload(val name: String) {
  /** Whether the pipeline is a streaming drain (micro-batches). Streams
    * warm up on a small input of their own (a drain of the real input
    * costs many micro-batches); batch workloads on untimed calls of
    * the real input. */
  def streaming: Boolean
  /** Set-ups per run; `setup_s` reports their median. A stream's set-up
    * stages its slices, which costs about as much as its drain, so it
    * sets up once. */
  def setupReps: Int = if (streaming) 1 else 3
  /** Untimed calls before the timed region. Batch workloads reach their
    * steady call time slowly (the JIT keeps compiling driver-side code for
    * many calls), so a planning-heavy one warms up three times. */
  def warmCalls: Int = 1
  /** Timed reads of the store after the drain; `store_read_s` is their
    * median. A delta store read resolves every chain and takes seconds. */
  def storeReads: Int = if (streaming) 1 else 3
  /** Write the inputs (and pre-stage stream slices) for `seed`. */
  def prepare(spark: SparkSession, dir: Path, seed: Long, small: Boolean): Prepared
  /** The pipeline through its public entry point (`Pipeline.run` or
    * `Pipeline.runStream`), untraced. */
  def op(spark: SparkSession, in: Prepared, d: OpDirs, b: Batches): OpRes
  /** The same pipeline composed from the functions `Pipeline` wires,
    * with a span around each call into a layer. */
  def traced(spark: SparkSession, tr: Trace, in: Prepared, d: OpDirs): OpRes
  /** What a call's output is checked against, computed once per input. */
  type Expected
  def expect(spark: SparkSession, in: Prepared): Expected
  /** None when the call's output is right, else why not. */
  def check(spark: SparkSession, in: Prepared, d: OpDirs, expected: Expected): Option[String]
  /** The store or output the call wrote (under `d.target`), resolved as a
    * reader sees it. */
  def store(spark: SparkSession, d: OpDirs): DataFrame
  /** When the check is a digest of [[store]], the expected digest: the
    * timed store read then doubles as the check of that call. */
  def digestCheck(expected: Expected): Option[Checks.Digest] = None

  protected def parts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism * 2

  /** Time `body`, which stages stream slices, and name the drop dirs it
    * created under the engine's staging root. */
  protected def staging(body: => Any): (Double, Seq[Path]) = {
    val root = Paths.get("/tmp/graft-stream") // fixed in graft.streaming.Staging
    def list() = if (!Files.isDirectory(root)) Set.empty[Path]
      else Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSet
    val before = list()
    val (_, s) = Stats.timed(body)
    (s, (list() -- before).toSeq)
  }
}

/** Streaming progress of the drain in flight (micro-batch durations);
  * registered for the whole run, cleared before each drain. */
final class Batches extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  private val buf = mutable.ArrayBuffer.empty[(Long, Double)]
  private var terminated = 0
  def clear(): Unit = synchronized { buf.clear() }
  def withRows: Seq[Double] = synchronized { buf.filter(_._1 > 0).map(_._2).toSeq }
  def terminations: Int = synchronized { terminated }
  /** Wait until `n` queries have reported termination (bus is async). */
  def awaitTerminations(n: Int): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (terminations < n && System.nanoTime() < deadline) Thread.sleep(5)
  }
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized { terminated += 1 }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    buf += ((e.progress.numInputRows, e.progress.batchDuration.toDouble))
  }
}

object Workloads {

  val filterPattern = "^srcdb\\.sbtest\\d+$"
  val dmlOps = Seq("insert", "update", "delete")

  /** Run a streaming entry point and report its micro-batches. A drain
    * that returns no progress (nothing drained) is a failure. */
  private def drain(b: Batches, rows: Long)(body: => Option[_]): OpRes = {
    b.clear()
    val before = b.terminations
    val t0 = System.nanoTime()
    val last = body
    val wall = (System.nanoTime() - t0) / 1e9
    b.awaitTerminations(before + 1)
    if (last.isEmpty) throw new IllegalStateException("drain processed no batch")
    OpRes(rows, wall, b.withRows)
  }

  // ------------------------------------------------------------ cdc_compact

  object CdcCompact extends Workload("cdc_compact") {
    val shape = Gen.EventsShape(keys = 25000, events = 500000, zipfS = 1.1)
    def streaming = false

    def prepare(spark: SparkSession, dir: Path, seed: Long, small: Boolean): Prepared = {
      val s = if (small) shape.copy(keys = shape.keys / 10, events = shape.events / 10) else shape
      Prepared(dir, seed, Gen.events(spark, s, seed, dir.toString, parts(spark)), 0.0, small)
    }

    private def config(in: Prepared, d: OpDirs) =
      s"""{"source": {"type": "events", "dir": "${in.dir}"},
         | "processors": [
         |   {"type": "filter", "tablePattern": "^srcdb\\\\.sbtest\\\\d+$$", "ops": ["insert", "update", "delete"]},
         |   {"type": "namecatcher", "pattern": "^([a-z]+)\\\\d+$$"},
         |   {"type": "compact"}],
         | "sink": {"type": "parquet", "path": "${d.target}"}}""".stripMargin

    def op(spark: SparkSession, in: Prepared, d: OpDirs, b: Batches): OpRes = {
      val (_, s) = Stats.timed(Pipeline.run(spark, config(in, d)))
      OpRes(in.rows, s, Seq(s * 1000))
    }

    def traced(spark: SparkSession, tr: Trace, in: Prepared, d: OpDirs): OpRes = {
      val (_, s) = Stats.timed(tr.span("pipeline", "Pipeline.run") { _ =>
        GraphBlocks.scoped {
          val src = tr.span("source", "Changelog.fromEvents") { _ =>
            Changelog.fromEvents(spark, in.dir.toString) }
          val net = tr.span("op", "Processors.dmlFilter+nameCatcher+Compactor.compact") { _ =>
            Compactor.compact(Processors.nameCatcher("^([a-z]+)\\d+$")(
              Processors.dmlFilter(filterPattern, dmlOps)(src))) }
          tr.span("pipeline", "Pipeline.sink(parquet)") { _ =>
            net.write.mode("overwrite").parquet(d.target) }
        }
      })
      OpRes(in.rows, s, Seq(s * 1000))
    }

    type Expected = Checks.Digest
    def expect(spark: SparkSession, in: Prepared): Expected =
      Checks.digest(Checks.p8Expected(spark, in.dir.toString), Checks.p8Cols)

    def check(spark: SparkSession, in: Prepared, d: OpDirs, expected: Expected): Option[String] =
      Checks.compacted(store(spark, d), expected)

    def store(spark: SparkSession, d: OpDirs): DataFrame =
      spark.read.parquet(d.target).selectExpr(Checks.p8Typed: _*)

    override def digestCheck(expected: Expected) = Some(expected)
  }

  // --------------------------------------------------------------- cdc_sync

  object CdcSync extends Workload("cdc_sync") {
    val slices = 8
    val shape = Gen.EventsShape(keys = 10000, events = slices * 2500L, zipfS = 0.0)
    val buckets = 64
    val maxChain = 8
    val maxLiveGens = 64
    val autoSnapshotGens = 16
    def streaming = true

    private def sliceCount(small: Boolean) = if (small) 1 else slices
    def prepare(spark: SparkSession, dir: Path, seed: Long, small: Boolean): Prepared = {
      val s = if (small) shape.copy(keys = shape.keys / 10, events = shape.events / 10) else shape
      val n = Gen.events(spark, s, seed, dir.toString, parts(spark))
      val (st, drops) = staging(ChangeStream.stageEvents(spark, dir.toString, sliceCount(small), "event_id"))
      Prepared(dir, seed, n, st, small, drops)
    }

    private def slicesOf(in: Prepared) = sliceCount(in.small)

    private def config(in: Prepared, d: OpDirs) =
      s"""{"source": {"type": "events_stream", "dir": "${in.dir}", "slices": ${slicesOf(in)}},
         | "processors": [
         |   {"type": "filter", "tablePattern": "^srcdb\\\\.sbtest\\\\d+$$", "ops": ["insert", "update", "delete"]}],
         | "sink": {"type": "parquet_delta", "path": "${d.target}", "checkpoint": "${d.ckpt}",
         |          "pk": ["tbl", "pk"], "buckets": $buckets, "maxChain": $maxChain,
         |          "maxLiveGens": $maxLiveGens, "autoSnapshotGens": $autoSnapshotGens}}""".stripMargin

    def op(spark: SparkSession, in: Prepared, d: OpDirs, b: Batches): OpRes =
      drain(b, in.rows)(Pipeline.runStream(spark, config(in, d)))

    def traced(spark: SparkSession, tr: Trace, in: Prepared, d: OpDirs): OpRes = {
      var snapshots = 0
      val (q, s) = Stats.timed(tr.span("pipeline", "Pipeline.runStream") { _ =>
        tr.span("streaming", "StreamTuning.withDrainPartitions") { _ =>
          StreamTuning.withDrainPartitions(spark, Seq(s"${in.dir}/events.parquet")) {
            val src = tr.span("source", "ChangeStream.fromEventsStream") { _ =>
              ChangeStream.fromEventsStream(spark, in.dir.toString, slicesOf(in), "event_id") }
            val filtered = tr.span("op", "Processors.dmlFilter") { _ =>
              Processors.dmlFilter(filterPattern, dmlOps)(src) }
            tr.span("streaming", "ChangeStream.compactedApply") { sid =>
              val q = ChangeStream.compactedApply(filtered, d.ckpt) { (net, id) =>
                tr.span("sink", "DeltaStore.append", sid) { _ =>
                  DeltaStore.append(net, d.target, Seq("tbl", "pk"), buckets, id,
                    maxChain, maxLiveGens) }
                tr.span("sink", "DeltaStore.maybeSnapshot", sid) { _ =>
                  if (DeltaStore.maybeSnapshot(net.sparkSession, d.target, buckets,
                      autoSnapshotGens)) snapshots += 1 }
              }
              q.awaitTermination()
              q
            }
          }
        }
      })
      if (q.lastProgress == null) throw new IllegalStateException("drain processed no batch")
      OpRes(in.rows, s, Nil, Map("snapshots" -> snapshots.toDouble))
    }

    type Expected = Checks.Digest
    def expect(spark: SparkSession, in: Prepared): Expected =
      Checks.digest(Checks.lastEventWins(spark, in.dir.toString), Checks.stateCols)

    def check(spark: SparkSession, in: Prepared, d: OpDirs, expected: Expected): Option[String] =
      DeltaStore.read(spark, d.target) match {
        case None => Some("store is empty")
        case Some(_) => Checks.state(store(spark, d), expected)
      }

    def store(spark: SparkSession, d: OpDirs): DataFrame =
      DeltaStore.read(spark, d.target).get.selectExpr(Checks.stateTyped: _*)

    override def digestCheck(expected: Expected) = Some(expected)
  }

  // ----------------------------------------------------------- corpus_admit

  object CorpusAdmit extends Workload("corpus_admit") {
    val slices = 6
    val shape = Gen.DocsShape(docs = 900)
    val threshold = 0.5
    def streaming = true

    def prepare(spark: SparkSession, dir: Path, seed: Long, small: Boolean): Prepared = {
      val n = Gen.documents(spark, shapeOf(small), seed, dir.toString, parts(spark))
      val (st, drops) = staging(ChangeStream.fromDocumentsStream(spark, dir.toString, sliceCount(small)))
      Prepared(dir, seed, n, st, small, drops)
    }

    private def sliceCount(small: Boolean) = if (small) 1 else slices
    private def slicesOf(in: Prepared) = sliceCount(in.small)
    private def shapeOf(small: Boolean) = if (small) shape.copy(docs = shape.docs / 5) else shape

    private def admitConfig(d: OpDirs) = Admission.Config(target = d.target, checkpoint = d.ckpt,
      threshold = threshold, perms = 8, bands = 4, rows = 2, nBuckets = 16)

    private def config(in: Prepared, d: OpDirs) =
      s"""{"source": {"type": "documents_stream", "dir": "${in.dir}", "slices": ${slicesOf(in)}},
         | "sink": {"type": "corpus_admit", "path": "${d.target}", "checkpoint": "${d.ckpt}",
         |          "threshold": $threshold, "perms": 8, "bands": 4, "rows": 2, "buckets": 16}}""".stripMargin

    def op(spark: SparkSession, in: Prepared, d: OpDirs, b: Batches): OpRes =
      drain(b, in.rows)(Pipeline.runStream(spark, config(in, d)))

    def traced(spark: SparkSession, tr: Trace, in: Prepared, d: OpDirs): OpRes = {
      var admitted = 0L
      var scanned = 0L
      val cfg = admitConfig(d)
      val (q, s) = Stats.timed(tr.span("pipeline", "Pipeline.runStream") { _ =>
        tr.span("streaming", "StreamTuning.withDrainPartitions") { _ =>
          StreamTuning.withDrainPartitions(spark, Seq(s"${in.dir}/documents.parquet")) {
            val src = tr.span("source", "ChangeStream.fromDocumentsStream") { _ =>
              ChangeStream.fromDocumentsStream(spark, in.dir.toString, slicesOf(in)) }
            tr.span("streaming", "foreachBatch") { sid =>
              val q = src.writeStream
                .option("checkpointLocation", d.ckpt)
                .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
                .foreachBatch { (batch: DataFrame, id: Long) =>
                  scanned += Stats.dirBytes(Paths.get(d.target))
                  admitted += tr.span("ops", "Admission.admitBatch", sid) { _ =>
                    Admission.admitBatch(batch, cfg, id) }
                  ()
                }.start()
              q.awaitTermination()
              q
            }
          }
        }
      })
      if (q.lastProgress == null) throw new IllegalStateException("drain processed no batch")
      OpRes(in.rows, s, Nil, Map("admitted" -> admitted.toDouble, "scanned" -> scanned.toDouble))
    }

    type Expected = DataFrame
    def expect(spark: SparkSession, in: Prepared): Expected =
      Gen.docTruth(spark, shapeOf(in.small), in.seed, parts(spark)).cache()

    def check(spark: SparkSession, in: Prepared, d: OpDirs, expected: Expected): Option[String] =
      Admission.readStore(spark, d.target) match {
        case None => Some("store is empty")
        case Some(st) => Checks.admitted(st,
          spark.read.parquet(s"${in.dir}/documents.parquet"), expected)
      }

    def store(spark: SparkSession, d: OpDirs): DataFrame = Admission.readStore(spark, d.target).get
  }

  // --------------------------------------------------------- corpus_release

  object CorpusRelease extends Workload("corpus_release") {
    val shape = Gen.DocsShape(docs = 2000)
    val minJaccard = 0.5
    def streaming = false
    override def warmCalls = 3
    private def shapeOf(small: Boolean) = if (small) shape.copy(docs = shape.docs / 5) else shape

    def prepare(spark: SparkSession, dir: Path, seed: Long, small: Boolean): Prepared = {
      Prepared(dir, seed, Gen.documents(spark, shapeOf(small), seed, dir.toString, parts(spark)), 0.0, small)
    }

    private def config(in: Prepared, d: OpDirs) =
      s"""{"source": {"type": "table", "dir": "${in.dir}", "table": "documents"},
         | "processors": [
         |   {"type": "near_dup_clusters", "idCol": "doc_id", "textCol": "text", "minJaccard": $minJaccard},
         |   {"type": "keep_best", "idCol": "doc_id", "clusterCol": "cluster", "scoreCol": "n_chars"}],
         | "sink": {"type": "parquet", "path": "${d.target}"}}""".stripMargin

    def op(spark: SparkSession, in: Prepared, d: OpDirs, b: Batches): OpRes = {
      val (_, s) = Stats.timed(Pipeline.run(spark, config(in, d)))
      OpRes(in.rows, s, Seq(s * 1000))
    }

    def traced(spark: SparkSession, tr: Trace, in: Prepared, d: OpDirs): OpRes = {
      val (_, s) = Stats.timed(tr.span("pipeline", "Pipeline.run") { _ =>
        GraphBlocks.scoped {
          val docs = tr.span("source", "Changelog.table") { _ =>
            Changelog.table(spark, in.dir.toString, "documents") }
          val labeled = tr.span("ops", "Clusters.nearDupClusters") { _ =>
            docs.join(Clusters.nearDupClusters(docs, "doc_id", "text",
              minJaccard = minJaccard), Seq("doc_id")) }
          val kept = tr.span("ops", "Clusters.keepBest") { _ =>
            Clusters.keepBest(labeled, "doc_id", "cluster", "n_chars") }
          tr.span("pipeline", "Pipeline.sink(parquet)") { _ =>
            kept.write.mode("overwrite").parquet(d.target) }
        }
      })
      OpRes(in.rows, s, Seq(s * 1000))
    }

    type Expected = DataFrame
    def expect(spark: SparkSession, in: Prepared): Expected =
      Gen.docTruth(spark, shapeOf(in.small), in.seed, parts(spark)).cache()

    def check(spark: SparkSession, in: Prepared, d: OpDirs, expected: Expected): Option[String] =
      Checks.released(spark.read.parquet(d.target),
        spark.read.parquet(s"${in.dir}/documents.parquet"), expected)

    def store(spark: SparkSession, d: OpDirs): DataFrame = spark.read.parquet(d.target)
  }

  val all: Seq[Workload] = Seq(CdcCompact, CdcSync, CorpusAdmit, CorpusRelease)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}
