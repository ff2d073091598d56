package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array, col, element_at, transform}
import graft.ops.{Dedup, TextAnalysis}

/** Per-layer metrics of one traced pipeline call, read from its spans,
  * the job-tag attribution of its stages, Catalyst's phase tracker and
  * the streaming progress events. */
object Layers {

  private val all = Set("cdc_compact", "cdc_sync", "corpus_admit", "corpus_release")
  private val cdc = Set("cdc_compact", "cdc_sync")
  private val streams = Set("cdc_sync", "corpus_admit")
  private val corpus = Set("corpus_admit", "corpus_release")
  private val sync = Set("cdc_sync")
  private val admit = Set("corpus_admit")
  private val release = Set("corpus_release")

  /** (metric, unit, workloads it applies to); the rest read n/a. */
  val catalog: Seq[(String, String, Set[String])] = Seq(
    ("pipeline.plan_ms", "ms", all),
    ("pipeline.jobs", "count", all),
    ("pipeline.self_s", "s", all),
    ("source.input_bytes", "B", all),
    ("source.scan_s", "s", all),
    ("source.stage_s", "s", streams),
    ("source.self_s", "s", all),
    ("op.rows_in", "count", cdc),
    ("op.rows_out", "count", cdc),
    ("op.compaction_ratio", "ratio", cdc),
    ("op.shuffle_bytes", "B", cdc),
    ("op.spill_bytes", "B", cdc),
    ("op.task_skew", "ratio", cdc),
    ("op.self_s", "s", cdc),
    ("streaming.batches", "count", streams),
    ("streaming.add_batch_ms", "ms", streams),
    ("streaming.overhead_ms", "ms", streams),
    ("streaming.query_planning_ms", "ms", streams),
    ("streaming.wal_commit_ms", "ms", streams),
    ("streaming.commit_offsets_ms", "ms", streams),
    ("streaming.jobs_per_batch", "count", streams),
    ("streaming.self_s", "s", streams),
    ("sink.append_s", "s", sync),
    ("sink.append_ms_p50", "ms", sync),
    ("sink.snapshot_s", "s", sync),
    ("sink.snapshots", "count", sync),
    ("sink.bytes_written", "B", sync),
    ("sink.write_amp", "ratio", sync),
    ("sink.live_files", "count", streams),
    ("sink.self_s", "s", sync),
    ("ops.admit_batch_s", "s", admit),
    ("ops.admit_batch_ms_p50", "ms", admit),
    ("ops.admitted_rows", "count", admit),
    ("ops.store_scan_bytes", "B", admit),
    ("ops.admit_shuffle_bytes", "B", admit),
    ("ops.near_dup_s", "s", release),
    ("ops.keep_best_s", "s", release),
    ("ops.cluster_jobs", "count", release),
    ("ops.kept_rows", "count", release),
    ("ops.self_s", "s", corpus),
    ("functions.minhash_rows_per_s", "1/s", corpus),
    ("functions.minhash_md5_rows_per_s", "1/s", corpus),
    ("functions.self_s", "s", corpus),
    ("jvm.gc_s", "s", all),
    ("jvm.peak_heap_mb", "MB", all))

  private def dur(s: Span): Double = (s.endNs - s.startNs) / 1e9

  private def files(dir: String) =
    if (!Files.exists(Paths.get(dir))) Seq.empty
    else Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  def of(wl: Workload, tr: Trace, r: OpRes, d: OpDirs, in: Prepared): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    val st = tr.stages.values.toSeq
    def named(n: String) = tr.spans.filter(_.name == n).toSeq
    def under(spans: Seq[Span]) = {
      val ids = spans.flatMap(s => tr.subtree(s.id)).toSet
      st.filter(x => ids(x.span))
    }
    def selfS(layer: String) = tr.spans.filter(_.layer == layer).map(tr.selfNs).sum / 1e9

    m("pipeline.plan_ms") = tr.planMs.sum
    m("pipeline.jobs") = tr.jobs.size
    m("pipeline.self_s") = selfS("pipeline")
    // a micro-batch reaches foreachBatch as an RDD, hiding its file scan
    // from the plan: a drain reads each staged slice file once
    m("source.input_bytes") =
      if (wl.streaming) in.staged.map(Stats.dirBytes).sum.toDouble
      else tr.scanBytes.values.sum.toDouble
    m("source.scan_s") = st.filter(_.inputBytes > 0).map(_.runMs).sum / 1000.0
    if (wl.streaming) m("source.stage_s") = in.stageS
    m("source.self_s") = selfS("source")

    val progress = tr.progress.map(_.progress).filter(_.numInputRows > 0).toSeq
    val rowsIn = if (wl.streaming) progress.map(_.numInputRows).sum.toDouble else r.rows.toDouble
    val rowsOut = under(named("Pipeline.sink(parquet)") ++ named("DeltaStore.append"))
      .map(_.outputRecords).sum.toDouble
    m("op.rows_in") = rowsIn
    m("op.rows_out") = rowsOut
    if (rowsOut > 0) m("op.compaction_ratio") = rowsIn / rowsOut
    m("op.shuffle_bytes") = st.map(_.shuffleWriteBytes).sum.toDouble
    m("op.spill_bytes") = st.map(_.spillBytes).sum.toDouble
    val reads = st.filter(x => x.shuffleReadBytes > 0 && x.taskMs.nonEmpty)
    if (reads.nonEmpty) {
      val hot = reads.maxBy(_.runMs)
      m("op.task_skew") = hot.taskMs.max / math.max(Stats.median(hot.taskMs.map(_.toDouble).toSeq), 1.0)
    }
    m("op.self_s") = selfS("op")

    if (progress.nonEmpty) {
      def phase(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      m("streaming.batches") = progress.size
      m("streaming.add_batch_ms") = Stats.median(phase("addBatch"))
      m("streaming.overhead_ms") = Stats.median(progress.zip(phase("addBatch"))
        .map { case (p, add) => p.batchDuration - add })
      m("streaming.query_planning_ms") = Stats.median(phase("queryPlanning"))
      m("streaming.wal_commit_ms") = Stats.median(phase("walCommit"))
      m("streaming.commit_offsets_ms") = Stats.median(phase("commitOffsets"))
      val perBatch = tr.jobs.groupBy(_._2).map { case (b, js) => b -> js.size.toDouble }
      m("streaming.jobs_per_batch") = Stats.median(progress.map(p => perBatch.getOrElse(p.batchId, 0.0)))
    }
    m("streaming.self_s") = selfS("streaming")

    val appends = named("DeltaStore.append")
    if (appends.nonEmpty) {
      val snaps = named("DeltaStore.maybeSnapshot")
      val written = under(appends ++ snaps).map(_.outputBytes).sum.toDouble
      m("sink.append_s") = appends.map(dur).sum
      m("sink.append_ms_p50") = Stats.median(appends.map(dur(_) * 1000))
      m("sink.snapshot_s") = snaps.map(dur).sum
      m("sink.snapshots") = r.counts.getOrElse("snapshots", 0.0)
      m("sink.bytes_written") = written
      m("sink.write_amp") = written / files(d.target).map(Files.size).sum
      m("sink.self_s") = selfS("sink")
    }
    if (wl.streaming)
      m("sink.live_files") = files(d.target).count(_.toString.endsWith(".parquet")).toDouble

    val admits = named("Admission.admitBatch")
    if (admits.nonEmpty) {
      val s = under(admits)
      m("ops.admit_batch_s") = admits.map(dur).sum
      m("ops.admit_batch_ms_p50") = Stats.median(admits.map(dur(_) * 1000))
      m("ops.admitted_rows") = r.counts.getOrElse("admitted", 0.0)
      m("ops.store_scan_bytes") = r.counts.getOrElse("scanned", 0.0)
      m("ops.admit_shuffle_bytes") = s.map(_.shuffleWriteBytes).sum.toDouble
    }
    val nearDup = named("Clusters.nearDupClusters")
    if (nearDup.nonEmpty) {
      val ids = nearDup.flatMap(s => tr.subtree(s.id)).toSet
      m("ops.near_dup_s") = nearDup.map(dur).sum
      m("ops.keep_best_s") = named("Clusters.keepBest").map(dur).sum
      m("ops.cluster_jobs") = tr.jobs.count(j => ids(j._1)).toDouble
      m("ops.kept_rows") = under(named("Pipeline.sink(parquet)")).map(_.outputRecords).sum.toDouble
    }
    if (wl.name.startsWith("corpus")) m("ops.self_s") = selfS("ops")
    m.toMap
  }

  /** Signature-kernel probes over the workload's documents (cached
    * first, so the probe times tokenize → shingle → sign, not the scan),
    * each into the noop sink, median of three. */
  def probes(spark: SparkSession, tr: Trace, in: Prepared): Map[String, Double] = {
    val docs = spark.read.parquet(s"${in.dir}/documents.parquet").select("text").cache()
    val n = docs.count().toDouble
    val sh = Dedup.shingles(TextAnalysis.tokens(col("text")))
    val reps = 3
    def probe(name: String, sig: org.apache.spark.sql.Column): Double = {
      val ts = (0 until reps).map { _ =>
        tr.span("functions", name) { _ =>
          val t0 = System.nanoTime()
          docs.select(sig.as("sig")).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      n / Stats.median(ts)
    }
    try Map(
      "functions.minhash_rows_per_s" -> probe("Dedup.minhashFast", Dedup.minhashFast(sh, 8)),
      "functions.minhash_md5_rows_per_s" -> probe("Dedup.md5PerShingle+minhashMd5Sliced",
        element_at(transform(array(Dedup.md5PerShingle(sh)),
          mh => Dedup.minhashMd5Sliced(mh, 8)), 1)),
      "functions.self_s" -> tr.spans.filter(_.layer == "functions").map(tr.selfNs).sum / 1e9 / reps)
    finally docs.unpersist()
  }

  /** The spans of the last traced call as JSON objects, each with the
    * Spark work attributed to it directly (jobs it started itself). */
  def spansJson(tr: Trace, origin: Long): Seq[String] = {
    val byspan = tr.stages.values.groupBy(_.span)
    val jobs = tr.jobs.groupBy(_._1).map { case (k, v) => k -> v.size }
    tr.spans.sortBy(_.id).map { s =>
      val st = byspan.getOrElse(s.id, Nil)
      def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      f"""{"id": ${s.id}, "layer": ${q(s.layer)}, "name": ${q(s.name)}, "parent": ${s.parent}, """ +
        f""""start_ms": ${(s.startNs - origin) / 1e6}%.3f, "dur_ms": ${(s.endNs - s.startNs) / 1e6}%.3f, """ +
        f""""self_ms": ${tr.selfNs(s) / 1e6}%.3f, "jobs": ${jobs.getOrElse(s.id, 0)}, """ +
        f""""tasks": ${st.map(_.tasks).sum}, "task_s": ${st.map(_.runMs).sum / 1000.0}%.3f, """ +
        f""""input_bytes": ${st.map(_.inputBytes).sum}, "shuffle_write_bytes": ${st.map(_.shuffleWriteBytes).sum}, """ +
        f""""spill_bytes": ${st.map(_.spillBytes).sum}, "output_bytes": ${st.map(_.outputBytes).sum}}"""
    }.toSeq
  }
}
