package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Drives one run: set-up, warm-up, then either the untraced end-to-end
  * measurement (`--trace 0`) or the traced layer split (`--trace 1`). */
final class Runner(spark: SparkSession, a: Main.Args, rep: Report) {

  private val jvm = new Trace.Jvm
  private val batches = new Batches
  private val runStart = System.nanoTime()

  private def say(s: String): Unit = {
    val line = f"[${(System.nanoTime() - runStart) / 1e9}%6.1f s] $s"
    println(line); rep.notes += line
  }

  def run(wl: Workload, sessionS: Double): Unit = {
    spark.streams.addListener(batches)
    try {
      val preps = (0 until wl.setupReps).map { i =>
        Stats.timed(wl.prepare(spark, a.work.resolve(s"in-$i"), a.seed, small = false))
      }
      val in = preps.last._1
      preps.init.foreach(p => rmTree(p._1.dir))
      val (warmIn, warmPrepS) =
        if (wl.streaming) Stats.timed(wl.prepare(spark, a.work.resolve("warm"), a.seed ^ 0x5eedL, small = true))
        else (in, 0.0)
      val (_, warmS) = Stats.timed(warmUp(wl, warmIn))
      val expected = wl.expect(spark, in)
      val setupS = sessionS + Stats.median(preps.map(_._2)) + warmPrepS + warmS
      say(f"setup: session $sessionS%.3f s, input ${preps.map(p => f"${p._2}%.3f").mkString(" ")} s " +
        f"(${in.rows} rows; staging ${in.stageS}%.3f s), warm-up ${warmPrepS + warmS}%.3f s")
      if (a.trace) layers(wl, in)(expected) else endToEnd(wl, in, setupS)(expected)
    } finally spark.streams.removeListener(batches)
  }

  /** Untraced pipeline calls, each with a read of what it wrote, before
    * anything is timed. Their output is scratch and goes unchecked. */
  private def warmUp(wl: Workload, in: Prepared): Unit =
    (0 until wl.warmCalls).foreach { i =>
      val d = OpDirs(a.work.resolve(s"op-warm-$i"))
      rep.attempted += 1
      try {
        wl.op(spark, in, d, batches)
        wl.store(spark, d).write.format("noop").mode("overwrite").save()
      } catch { case e: Exception => rep.fail(s"warm-up: $e") }
      finally rmTree(d.root)
    }

  /** Timed pipeline calls, back to back, until `seconds` of call time
    * are measured (at least `least` calls); `call` gets each call's
    * index. Outputs are checked after the timed region. */
  private def timedOps(seconds: Double, tag: String, least: Int = 1)(
      call: (OpDirs, Int) => OpRes): Seq[(OpDirs, Option[OpRes])] = {
    val out = mutable.ArrayBuffer.empty[(OpDirs, Option[OpRes])]
    var spent = 0.0
    while (out.size < least || spent < seconds) {
      val i = out.size
      val d = OpDirs(a.work.resolve(s"op-$tag-$i"))
      rep.attempted += 1
      val t0 = System.nanoTime()
      val r = try Some(call(d, i)) catch {
        case e: Exception => rep.fail(s"$tag $i: $e"); None
      }
      spent += (System.nanoTime() - t0) / 1e9
      out += ((d, r))
    }
    out.toSeq
  }

  private def checkAll(wl: Workload, in: Prepared)(expected: wl.Expected,
      ops: Seq[(OpDirs, Option[OpRes])], tag: String): Unit =
    ops.zipWithIndex.foreach { case ((d, r), i) =>
      if (r.isDefined) wl.check(spark, in, d, expected).foreach(w => rep.fail(s"$tag $i: $w"))
    }

  private def rowsPerS(ops: Seq[(OpDirs, Option[OpRes])]): Double =
    Stats.median(ops.flatMap(_._2).map(r => r.rows / r.wallS))

  // ------------------------------------------------------------ end to end

  private def endToEnd(wl: Workload, in: Prepared, setupS: Double)(expected: wl.Expected): Unit = {
    jvm.open()
    val ops = timedOps(a.seconds, "e2e")((d, _) => wl.op(spark, in, d, batches))
    val gc = jvm.gcS
    val last = ops.reverse.collectFirst { case (d, Some(_)) => d }
    val digestChecks = wl.digestCheck(expected)
    checkAll(wl, in)(expected, ops.filter(o => digestChecks.isEmpty || !last.contains(o._1)), "e2e")
    val done = ops.flatMap(_._2)
    val batchMs = done.flatMap(_.batchMs)
    say(s"calls: ${done.map(r => f"${r.wallS}%.3f").mkString(" ")} s; " +
      s"${batchMs.size} batches with rows; gc $gc s")
    rep.put("rows_per_s", rowsPerS(ops), "1/s")
    rep.put("batch_p50_ms", Stats.pct(batchMs, 50), "ms")
    rep.put("batch_p75_ms", Stats.pct(batchMs, 75), "ms")
    // the read digests every column of the resolved store; where the
    // check is that digest, the last call is checked by it
    last.foreach { d =>
      val reads = (0 until wl.storeReads).map(_ => Stats.timed {
        val st = wl.store(spark, d)
        Checks.digest(st, st.columns.toSeq)
      })
      val got = reads.last._1
      digestChecks.foreach(exp =>
        if (got != exp) rep.fail(s"e2e ${ops.size - 1}: store digest $got != expected $exp"))
      rep.put("store_read_s", Stats.median(reads.map(_._2)), "s")
      rep.put("store_bytes_per_row", Stats.dirBytes(Paths.get(d.target)).toDouble / got._1, "B")
    }
    if (last.isEmpty) Seq("store_read_s" -> "s", "store_bytes_per_row" -> "B")
      .foreach { case (m, u) => rep.put(m, Double.NaN, u) } // no call succeeded
    rep.put("setup_s", setupS, "s")
    ops.foreach(o => rmTree(o._1.root))
    say("checks and store reads done")
  }

  // ----------------------------------------------------------------- traced

  /** Untraced and traced calls alternate over `seconds`, starting and
    * ending untraced, so both sample the same stretch of the JIT warm-up
    * curve; the layer metrics are medians over the traced calls. */
  private def layers(wl: Workload, in: Prepared)(expected: wl.Expected): Unit = {
    val tr = new Trace(spark)
    tr.attach()
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[String]
    try {
      val ops = timedOps(a.seconds, "layers", least = 3) { (d, i) =>
        if (i % 2 == 0) wl.op(spark, in, d, batches)
        else {
          tr.reset()
          jvm.open()
          val r = wl.traced(spark, tr, in, d)
          val jvmCall = Map("jvm.gc_s" -> jvm.gcS, "jvm.peak_heap_mb" -> jvm.peakHeapMb)
          tr.drain()
          perOp += Layers.of(wl, tr, r, d, in) ++ jvmCall
          spans ++= Layers.spansJson(tr, runStart)
          r
        }
      }
      checkAll(wl, in)(expected, ops, "layers")
      ops.foreach(o => rmTree(o._1.root))
      val (plain, traced) = ops.zipWithIndex.partition(_._2 % 2 == 0)
      val probes = if (wl.name.startsWith("corpus")) {
        tr.reset()
        val p = Layers.probes(spark, tr, in)
        tr.drain()
        spans ++= Layers.spansJson(tr, runStart)
        p
      } else Map.empty[String, Double]
      Layers.catalog.foreach { case (name, unit, applies) =>
        val vals = perOp.flatMap(_.get(name)) ++ probes.get(name)
        if (!applies(wl.name) || vals.isEmpty) rep.na(name, unit)
        else rep.put(name, Stats.median(vals.toSeq), unit)
      }
      val plainRate = rowsPerS(plain.map(_._1))
      val tracedRate = rowsPerS(traced.map(_._1))
      rep.put("trace.overhead_frac", (tracedRate - plainRate) / plainRate, "ratio")
      say(f"untraced $plainRate%.1f rows/s over ${plain.size} calls; " +
        f"traced $tracedRate%.1f rows/s over ${traced.size} calls")
      say("lazy work is charged to the span whose call executes it: " +
        "plan-building calls (sources, processors, keepBest) read near zero, " +
        "and the write or drain that runs them carries their execution")
    } finally tr.detach()
    rep.spansJson = spans.mkString("[", ",\n", "]")
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}

object Stats {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of the regular files under `p` (0 when absent). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (NaN when empty). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}
