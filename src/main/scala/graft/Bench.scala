package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Registry
import scala.collection.immutable.ListMap

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR,
  * materializing results through the noop sink (full evaluation — the
  * reference benchmarks against its DummyOutput the same way). Prints one
  * JSON line for the driver.
  *
  * Each query is measured in its OWN SparkSession (fresh SparkContext,
  * torn down after the median is taken). Two consecutive rounds showed
  * that a session shared across the whole suite accumulates state that
  * inflates later queries by 5-20x over their isolated cost
  * (p2b_canonical 19.99s suite vs 1.03s isolated in r03; w2_sessionize
  * 5.23s vs 0.42s in r04) — the per-query numbers were untrustworthy.
  * Session setup, the parquet-footer warm read, and the JIT/codegen
  * warmup pass all happen inside the query's own session but OUTSIDE the
  * clock; JIT state is JVM-wide so later queries still benefit from
  * earlier ones' warmup, which only helps (it never inflates). */
object Bench {
  // shared engine session recipe (Sessions.local): r21 carried the
  // cached-plan-repartitioning flag here only; it now lives in the one
  // place every entrypoint (Run/Verify/Bench) builds its session from,
  // so the bench measures exactly the session production runs.
  private def newSession(): SparkSession =
    Sessions.local(Sessions.cpus, appName = "graft-bench")

  /** Calibration BASKET, the bench's one cross-run normalizer: query
    * timings can only be compared ACROSS runs if the machine was equally
    * loaded in both (round 10 saw 2x min drift on three untouched
    * queries that the within-run median/min guard cannot flag). Five
    * heterogeneous cheap probes
    * — codegen scan+filter, hash-agg shuffle, sort-merge join, window,
    * and a real parquet scan of the fixture — each normalized by a
    * PINNED per-element reference time and reduced by the MEDIAN of
    * the five ratios. The median of five near-1 ratios tolerates two
    * ambient outliers; a single-workload anchor tolerated none (r19
    * watched one wander 0.239→0.521 across runs and turn a 12%-faster
    * suite into a phantom 57% regression). Measured at
    * START / MIDDLE / END of the suite (per-element min across the
    * three checkpoints = this run's machine floor), so a load burst in
    * one phase of the run cannot poison the whole normalization. */
  private val basketRefs: Seq[(String, Double)] = Seq(
    // reference seconds pinned on the round-20 build box (sf0.1). The
    // absolute values are ARBITRARY fixed units — they cancel in any
    // cross-run ratio; they only center each element's ratio near 1 so
    // the median mixes all five elements instead of electing one.
    "scan_filter" -> 0.06,
    "hash_agg" -> 0.31,
    "shuffle_join" -> 0.49,
    "window" -> 0.56,
    "parquet_scan" -> 0.14)

  private def basketElems(spark: SparkSession, sfDir: String)
      : Seq[(String, () => Unit)] = {
    import org.apache.spark.sql.functions._
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    Seq(
      "scan_filter" -> (() => noop(
        spark.range(0, 80000000L, 1, 32)
          .filter((col("id") % 7) === 3).select(col("id") * 3))),
      "hash_agg" -> (() => noop(
        spark.range(0, 40000000L, 1, 32)
          .select((col("id") % 9973).as("k"), col("id").as("v"))
          .groupBy("k").agg(sum("v")))),
      "shuffle_join" -> (() => noop(
        spark.range(0, 4000000L, 1, 32)
          .select((col("id") % 1000000).as("k"), col("id").as("a"))
          .join(spark.range(0, 1000000L, 1, 32).select(col("id").as("k"),
            (col("id") * 2).as("b")), "k"))),
      "window" -> (() => noop(
        spark.range(0, 8000000L, 1, 32)
          .select((col("id") % 65536).as("k"), col("id").as("v"))
          .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("k").orderBy("v"))))),
      "parquet_scan" -> (() => noop(
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(sum(col("l_quantity")), count(lit(1))))))
  }

  /** One basket checkpoint: each element warmed once, min of 3 timed
    * runs, all in ONE fresh session. ~15 s per checkpoint. */
  private def basketPoint(sfDir: String): Map[String, Double] = {
    val spark = newSession()
    // fail-soft per element: a transient probe failure must cost ONE
    // basket ratio (basketScale tolerates missing elements), never the
    // suite run it calibrates
    val out = basketElems(spark, sfDir).flatMap { case (name, run) =>
      try {
        run() // JIT/codegen warmup, unmeasured
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          run()
          (System.nanoTime() - t0) / 1e9
        }
        Some(name -> times.min)
      } catch { case e: Exception =>
        System.err.println(s"[bench] basket element $name failed: ${e.getMessage}")
        None
      }
    }.toMap
    spark.stop()
    out
  }

  /** Median of the five floor/reference ratios — the run's machine-
    * speed unit. `points` = the per-checkpoint element times. */
  private def basketScale(points: Seq[Map[String, Double]]): Double = {
    val ratios = basketRefs.flatMap { case (name, ref) =>
      val vals = points.flatMap(_.get(name))
      if (vals.isEmpty) None else Some(vals.min / ref)
    }.sorted
    if (ratios.isEmpty) -1.0 else ratios(ratios.length / 2)
  }

  /** The commit the numbers were measured at (+ "-dirty" when the
    * working tree differs) — BENCH artifacts are compared across rounds
    * AND across machines, and without the SHA in the artifact itself a
    * cross-machine delta (r11: mm_phash_neardup 5.07 s driver vs 3.13 s
    * builder) cannot be attributed to commit vs ambient load. */
  private def commitSha: String = try {
    def git(cmd: String*): (Int, String) = {
      val p = new ProcessBuilder(("git" +: cmd): _*)
        .directory(new java.io.File(sys.props.getOrElse("user.dir", ".")))
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      (p.waitFor(), out)
    }
    val (rc, sha) = git("rev-parse", "--short=12", "HEAD")
    if (rc != 0 || sha.isEmpty) "unknown"
    else {
      val (_, status) = git("status", "--porcelain", "--untracked-files=no")
      if (status.nonEmpty) s"$sha-dirty" else sha
    }
  } catch { case _: Exception => "unknown" }

  /** Exact row count from parquet footer metadata (file or directory of
    * part files) — footers carry it, so no scan and no session needed. */
  private def parquetRowCount(path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = new java.io.File(path)
    val parts =
      if (root.isDirectory)
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      else Array(root)
    parts.map { f =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI),
        new org.apache.hadoop.conf.Configuration())
      val r = ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Per-query JIT/codegen warmup dominates cold runs (4.3s -> 0.5s
    // observed); one unmeasured pass first unless disabled.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") == "1"
    // Median of `reps` timed runs per query: single-shot timings proved to
    // be environment noise round-over-round (r01 183.9s vs r02 34.8s on
    // identical code). Caches are cleared between runs so every rep pays
    // the query's full cost, including its own cache builds.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = Registry.all.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // cross-run calibration only matters for full-suite comparisons:
    // filtered iteration runs (BENCH_ONLY) skip the basket unless
    // SPARK_GRAFT_BENCH_ANCHOR=1 forces it on
    val basket = sys.env.get("SPARK_GRAFT_BENCH_ANCHOR")
      .map(_ == "1").getOrElse(only.isEmpty)
    val basketPoints = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    if (basket) basketPoints += basketPoint(sfDir)
    val middleAt = ordered.size / 2
    val results = ordered.zipWithIndex.flatMap { case ((name, d), qi) =>
      if (basket && qi == middleAt && qi > 0)
        basketPoints += basketPoint(sfDir)
      val spark = newSession()
      // A query that THROWS must not record its fast error path as a
      // legitimate timing (a regression would read as a dramatic
      // improvement): failures are excluded from the per-query map and
      // reported in a "failed" list instead.
      var ok = true
      def runOne(): Unit =
        try d.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          ok = false
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      // Warm this session (parquet footer cache) outside the clock.
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      if (warmup) { runOne(); spark.catalog.clearCache() }
      def oneRep(): Double = {
        spark.catalog.clearCache()
        // clearCache() drops catalog-cached relations but NOT RDD-level
        // persists — a prior rep's localCheckpoint blocks (the iterative
        // clustering queries' lineage cuts) otherwise stay resident and
        // later reps run under block-manager pressure: measured as the
        // recurring dedup_clusters median ≈ 1.7x its own min. Every rep
        // starts from an empty block store.
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = true))
        // also drain the GraphBlocks registry: the sweep above already
        // unpersisted its RDDs, but the strong registry entries (one
        // per iterative-op call) would otherwise accumulate across the
        // suite's hundreds of runs
        graft.ops.GraphBlocks.releaseAll()
        val t0 = System.nanoTime()
        runOne()
        (System.nanoTime() - t0) / 1e9
      }
      var times = (1 to reps).map(_ => oneRep()).sorted
      // Spread = (median − min)/min: the bar that arbitrates a
      // cross-round delta. bench_delta classifies on MIN-based norm
      // ratios, so the relevant noise is how tightly the lower reps
      // cluster — (max − min)/min let one ambient outlier (the class
      // the NOISY guard names separately) inflate the bar forever and
      // hide a real 1.5x regression behind it (r17: graph_closeness
      // 0.73, sketch_overlap 0.58). A bar still above 0.35 buys up to
      // 3 extra reps (genuinely more evidence: min and median both
      // stabilize); if it STAYS wide after that, the variance is real
      // and the stamped value says so.
      def spreadOf(ts: Seq[Double]): Double =
        if (ok && ts.head > 0) (ts(ts.length / 2) - ts.head) / ts.head
        else 0.0
      var extra = 0
      while (ok && extra < 3 && spreadOf(times) > 0.35) {
        times = (times :+ oneRep()).sorted
        extra += 1
      }
      spark.stop()
      if (ok) {
        Some(name -> (times(times.length / 2), times.head, spreadOf(times)))
      } else { failed += name; None }
    }
    // Variance guard: the min is the query's floor on this box — a median
    // far above its own min is environment noise (GC pause, page-cache
    // eviction, a co-tenant burst), not a code regression. Four straight
    // rounds produced phantom 3-4x "regressions" on untouched queries
    // (r05 text_tokens … r08 dedup_incremental) that each burned a judge
    // isolation pass; emitting min alongside median makes them
    // self-clearing. Queries tripping the 1.5x gate are named in "noisy".
    val noisy = results.collect {
      case (name, (med, mn, _)) if mn > 0.0 && med > 1.5 * mn => name
    }
    noisy.foreach { n =>
      val (med, mn, _) = results.toMap.apply(n)
      System.err.println(f"[bench] NOISY $n: median $med%.2fs > 1.5x min $mn%.2fs" +
        " — trust the min; not a regression signal")
    }
    val total = results.map(_._2._1).sum
    val totalMin = results.map(_._2._2).sum
    if (basket) basketPoints += basketPoint(sfDir)
    val bScale = basketScale(basketPoints.toSeq)
    def rounded(x: Double, places: Int): Double =
      BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble
    def perQuery(f: ((Double, Double, Double)) => Double) =
      ListMap(results.map { case (k, v) => k -> f(v) }: _*)
    // BASKET normalization (see basketRefs): total_min / basket_scale is
    // the run's machine-speed-independent work unit; per-query
    // queries_min / basket_scale is what dev/bench_delta.py compares.
    val basketKeys =
      if (bScale > 0) ListMap("basket_scale" -> rounded(bScale, 4),
        "total_min_basket" -> rounded(totalMin / bScale, 2))
      else ListMap.empty[String, Any]
    // The one baseline-transferable number (BASELINE.md): the reference's
    // batch apply sustains ~130K events/s; compare p8_compact's min-rep
    // throughput at this SF. baseline_ratio = our_time / baseline_time —
    // ≤1.0 beats the reference, the round gate is ≤2.0.
    val baselineKeys = results.toMap.get("p8_compact").map { case (_, mn, _) =>
      // row count straight from the parquet footers — no SparkSession
      // spin-up just to count (and no hardcoded core count to get wrong)
      val nEvents = parquetRowCount(s"$sfDir/events.parquet")
      ListMap("p8_events" -> nEvents,
        "p8_events_per_sec" -> rounded(nEvents / math.max(mn, 1e-9), 1),
        "baseline_ratio" -> rounded(mn * 130000.0 / nEvents, 3))
    }.getOrElse(ListMap.empty[String, Any])
    // Contract line, the LAST stdout line (a bench run's consumer
    // parses the final stdout line). queries = per-query MEDIAN seconds
    // (the timing the "value" total sums); queries_min rides along
    // because min-of-reps is the noise-robust number every cross-round
    // analysis uses.
    val contract = Json.write(ListMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> perQuery(_._1), "queries_min" -> perQuery(_._2),
      "total_min" -> totalMin, "n_queries" -> results.size,
      "commit" -> commitSha) ++ basketKeys ++ baselineKeys ++ ListMap(
      "failed" -> failed.toList, "sf" -> sfDir))
    // Detail for attribution, in the sidecar only: rep spreads, the
    // NOISY names, and the raw per-checkpoint basket element times (a
    // wandering element is attributable from the artifact alone).
    val points = ListMap(basketPoints.zipWithIndex.map { case (p, i) =>
      val label = if (i == 0) "start"
        else if (i == basketPoints.length - 1) "end" else s"mid$i"
      label -> ListMap(p.toSeq.sortBy(_._1).map { case (e, v) => e -> rounded(v, 4) }: _*)
    }.toSeq: _*)
    val detail = Json.write(ListMap(
      "metric" -> "total_detail",
      "queries_spread" -> perQuery(v => rounded(v._3, 3)),
      "noisy" -> noisy,
      "basket_points" -> points))
    println(contract)
    // Sidecar: contract line first, detail second (dev/bench_delta.py
    // reads both). On stdout the contract line stays last: build.sbt
    // passes the forked JVM's stdout through raw (run/outputStrategy)
    // and drops sbt's "[success] Total time" trailer (showSuccess).
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_headline.json"),
        contract + "\n" + detail + "\n")
    } catch { case e: Exception =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    if (failed.nonEmpty) sys.exit(1)
  }
}
