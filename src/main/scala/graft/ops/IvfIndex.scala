package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sink.{DeltaStore, ManifestStore}

/** Persisted, incrementally-maintained IVF index — similarity search in
  * its production shape. The `ann_ivf*` queries rebuild the coarse
  * quantizer and re-assign the whole corpus per query; at corpus scale
  * the index is a STORE that embedding increments maintain:
  *
  *   1. the FIRST batch seeds the centroids (hash-ranked sample, as in
  *      [[Similarity.ivfTopK]]) and freezes them next to the manifest
  *      (`CENTROIDS`) — a coarse quantizer must not drift once postings
  *      reference its cells;
  *   2. every batch assigns its vectors to their nearest frozen centroid
  *      (one broadcast pass, map-side `max_by`) and APPENDS the postings
  *      as a [[DeltaStore]] generation — O(|batch|) per increment,
  *      replay-safe by the generation-key / `#applied` contract;
  *   3. the store is bucketed BY CELL ID (`bucketExpr`), so the bucket
  *      dirs ARE the inverted lists: a top-k serve reads only the
  *      `nprobe` probed cells' files ([[DeltaStore.readAppendOnly]]'s
  *      bucket pruning) — nprobe/cells of the corpus touched on disk,
  *      not a post-scan filter.
  *
  * Reference scope: the reference engine has no vector search; this is
  * part of the training-data-pipeline surface (SURVEY §2 extension), so
  * the layout follows the standard IVF file-index design (coarse
  * quantizer + per-cell postings files) re-expressed on the delta-log
  * store machinery.
  */
object IvfIndex {

  /** @param target   index store directory (DeltaStore layout + CENTROIDS)
    * @param checkpoint streaming checkpoint dir
    * @param cells    coarse-quantizer size = bucket count of the store
    * @param portableSeeding use the multiply-shift seeding hash so an
    *   external SQL engine can replay seeding/assignment exactly (the
    *   oracle family; production keeps the default xxhash64) */
  final case class Config(target: String, checkpoint: String,
      cells: Int = 16, portableSeeding: Boolean = false,
      maxChain: Int = DeltaStore.defaultMaxChain,
      // pqM > 0 adds the PQ leg: a codebook of pqM subspaces × pqK
      // centroids is trained on the FIRST batch and frozen next to
      // CENTROIDS (same drift contract as the coarse quantizer), and
      // every posting carries its m codes so [[servePq]] can score
      // candidates without ever reading the vector column
      pqM: Int = 0, pqK: Int = 8, pqIters: Int = 1,
      trainSample: Int = Similarity.defaultTrainSample,
      // metadata columns carried INTO the postings (re-attached after
      // cell assignment), so [[serve]] can evaluate a query-time
      // predicate inside the probed-cell scan — filtered vector search
      // over ONE shared index, not one index per predicate
      metaCols: Seq[String] = Nil,
      // superCells > 0 = ANN-assisted batch assignment
      // (Similarity.assignCellsHier): per-vector centroid scoring drops
      // from `cells` to ~(superCells + cells/superCells) — the knob for
      // paper-scale cell counts, where assignment dominates indexing.
      // Serving is unchanged (queries probe the same frozen cells).
      superCells: Int = 0)

  private def centroidsPath(target: String): java.nio.file.Path =
    java.nio.file.Paths.get(target, "CENTROIDS")

  /** Frozen centroids as `cell\tv1,v2,...` lines (bounded: ≤cells rows);
    * written once, atomically, before the first generation flips. */
  private def writeCentroids(target: String, cents: Seq[(Long, Seq[Double])]): Unit = {
    if (!java.nio.file.Files.exists(centroidsPath(target)))
      ManifestStore.LocalFs.publish(target, "CENTROIDS", cents.sortBy(_._1)
        .map { case (c, v) => s"$c\t${v.mkString(",")}" }.mkString("\n"))
  }

  /** The frozen coarse quantizer (None before the first batch seeded
    * it). Broadcast-sized by construction. */
  def readCentroids(spark: SparkSession, target: String): Option[DataFrame] = {
    val p = centroidsPath(target)
    if (!java.nio.file.Files.exists(p)) None
    else {
      import scala.jdk.CollectionConverters._
      val cents = java.nio.file.Files
        .readAllLines(p, java.nio.charset.StandardCharsets.UTF_8).asScala.toSeq
        .filter(_.nonEmpty).map { line =>
          val Array(c, v) = line.split('\t')
          (c.toLong, v.split(',').toSeq.map(_.toDouble))
        }
      import spark.implicits._
      Some(broadcast(cents.toDF("cell", "cv")))
    }
  }

  private def pqCodebookPath(target: String): java.nio.file.Path =
    java.nio.file.Paths.get(target, "PQCODEBOOK")

  /** Frozen PQ codebook: a `#pq m k` header (the ENCODING-time
    * dimensions — composite code keys are `sub·k + cell`, so the k that
    * built the codes must travel with the codebook even when trailing
    * cells dropped empty in training), then `sub\tcell\tv1,v2,...`
    * lines (≤ m·k rows); written once, atomically — same freeze
    * contract as CENTROIDS: postings reference codebook entries, so the
    * codebook must not drift once any generation flipped. */
  private def writePqCodebook(target: String, m: Int, k: Int,
      rows: Seq[(Int, Long, Seq[Double])]): Unit = {
    if (!java.nio.file.Files.exists(pqCodebookPath(target)))
      ManifestStore.LocalFs.publish(target, "PQCODEBOOK",
        (s"#pq $m $k" +: rows.sortBy(r => (r._1, r._2))
          .map { case (s, c, v) => s"$s\t$c\t${v.mkString(",")}" }).mkString("\n"))
  }

  /** The frozen PQ codebook + its (m, k) (None before the first
    * PQ-enabled batch). */
  def readPqCodebook(spark: SparkSession,
      target: String): Option[(DataFrame, Int, Int)] = {
    val p = pqCodebookPath(target)
    if (!java.nio.file.Files.exists(p)) None
    else {
      import scala.jdk.CollectionConverters._
      val lines = java.nio.file.Files
        .readAllLines(p, java.nio.charset.StandardCharsets.UTF_8).asScala.toSeq
        .filter(_.nonEmpty)
      val Array(_, mS, kS) = lines.head.split(' ')
      val rows = lines.tail.map { line =>
        val Array(s, c, v) = line.split('\t')
        (s.toInt, c.toLong, v.split(',').toSeq.map(_.toDouble))
      }
      import spark.implicits._
      Some((broadcast(rows.toDF("sub", "cell", "cv")), mS.toInt, kS.toInt))
    }
  }

  /** Index one batch of (vec_id, v) rows: seed-and-freeze centroids when
    * this is the store's first batch, assign to the nearest frozen cell,
    * append postings. Returns rows indexed. Materialized (not lazy) for
    * the same reason as [[Admission.admitBatch]]: the flip GCs superseded
    * generations a lazy plan could still reference. */
  def indexBatch(batch: DataFrame, cfg: Config, batchId: Long): Long = {
    val spark = batch.sparkSession
    val cent = readCentroids(spark, cfg.target).getOrElse {
      // first batch bootstraps the quantizer: hash-ranked sample of ITS
      // vectors (the production shape — index seeded from the initial
      // corpus, increments quantized against it). Freeze BEFORE any
      // generation flips so a crash-replay of this batch reloads the
      // identical quantizer instead of re-seeding over different data.
      val seeded = Similarity.seedCentroids(batch, cfg.cells,
          Similarity.seedHashFor("vec_id", cfg.portableSeeding), "vec_id", "v")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      writeCentroids(cfg.target, seeded)
      readCentroids(spark, cfg.target).get
    }
    val assigned0 =
      if (cfg.superCells > 0) Similarity.assignCellsHier(batch, cent,
        cfg.superCells, "vec_id", "v", "vec_id", "v", cfg.portableSeeding)
      else Similarity
        .assignCells(batch, cent, "vec_id", "v", probes = 1, "vec_id", "v")
    // assignCells projects to (vec_id, v, cell); re-attach the declared
    // metadata columns so they land in the store's postings. The
    // re-attach join REQUIRES unique vec_ids in the batch: duplicate
    // ids would fan the collapsed posting back out into one row per
    // duplicate AND could pair the surviving vector with another row's
    // metadata — refuse loudly rather than store a silently-wrong index
    // (the metadata-less path tolerates duplicates because assignCells'
    // max_by collapse is the entire projection).
    val assigned = if (cfg.metaCols.isEmpty) assigned0
      else {
        val dup = batch.groupBy("vec_id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"ivf metaCols requires unique vec_id per batch; vec_id " +
            s"${dup.headOption.map(_.getLong(0)).getOrElse(-1L)} repeats — " +
            "dedup the batch upstream (e.g. dropDuplicates on a keyed read)")
        assigned0.join(
          batch.select(col("vec_id") +: cfg.metaCols.map(col): _*), "vec_id")
      }
    val postings = (if (cfg.pqM > 0) {
      val (codebook, m, k) = readPqCodebook(spark, cfg.target).getOrElse {
        // first PQ batch freezes the codebook — trained on ITS vectors,
        // the same bootstrap contract as the coarse quantizer above
        val trained = Similarity.pqTrain(batch, cfg.pqM, cfg.pqK, cfg.pqIters,
            "vec_id", "v", cfg.portableSeeding, cfg.trainSample)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
          .toSeq
        writePqCodebook(cfg.target, cfg.pqM, cfg.pqK, trained)
        readPqCodebook(spark, cfg.target).get
      }
      assigned.join(
        Similarity.pqEncode(batch, codebook, m, k, "vec_id", "v"),
        "vec_id")
    } else assigned)
      .withColumn("net_op", lit("insert"))
      .cache()
    try {
      val n = postings.count() // materialize before the flip GCs old gens
      DeltaStore.append(postings, cfg.target, Seq("vec_id"), cfg.cells,
        batchId, cfg.maxChain,
        bucketExpr = Some(col("cell").cast("int")))
      n
    } finally postings.unpersist()
  }

  /** Drive [[indexBatch]] over an unbounded (vec_id, v) stream. */
  def indexStream(newVecs: DataFrame, cfg: Config,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    newVecs.writeStream
      .option("checkpointLocation", cfg.checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        indexBatch(batch, cfg, id)
        ()
      }
      .start()

  /** Top-k cosine neighbors for each (vec_id, v) query row, served FROM
    * THE STORE: queries probe their `nprobe` nearest frozen cells, and
    * only those cells' bucket chains are read — the file-pruned inverted
    * -list scan, not a full-corpus pass. Output (qid, rank, nid, cos),
    * self-matches excluded, ties broken by lowest nid (as
    * [[Similarity.ivfTopK]] and the oracle). */
  def serve(spark: SparkSession, target: String, queries: DataFrame,
      k: Int, nprobe: Int = 4,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = readCentroids(spark, target).getOrElse(
      throw new IllegalStateException(s"no CENTROIDS at $target — index empty"))
    val q = Similarity
      .assignCells(queries, cent, "qid", "qv", probes = nprobe, "vec_id", "v")
    // bounded collect: |queries| × nprobe cell ids, then prune the scan
    // to exactly those chains
    val probed = q.select("cell").distinct().collect().map(_.getLong(0).toInt).toSet
    // the optional predicate (over metaCols the index was built with)
    // applies BEFORE ranking — top-k among QUALIFYING neighbors, the
    // pre-filter semantic — and inside the probed-cell scan, so parquet
    // row-group stats can prune on the metadata column on top of the
    // bucket pruning
    val corpus = DeltaStore.readAppendOnly(spark, target, Some(probed)).getOrElse(
      throw new IllegalStateException(s"index store empty at $target"))
      .transform(df => filter.map(df.filter).getOrElse(df))
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cell"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    corpus.join(q, Seq("cell")).filter(col("nid") =!= col("qid"))
      .drop("cell").distinct()
      .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "cos")
  }

  /** [[serve]] through the PQ codes — the compressed inverted-list scan:
    * probed cells' files are read with a (vec_id, cell, codes)
    * projection, so the vector column's pages are never touched (parquet
    * column pruning on top of the bucket pruning), and ADC scores
    * candidates from the frozen codebook's per-query lookup tables.
    * Requires the store to have been built with `pqM > 0`; refuses
    * loudly otherwise. Output (qid, rank, nid, dist — ascending
    * approximate squared L2), ties broken by lowest nid. */
  def servePq(spark: SparkSession, target: String, queries: DataFrame,
      topK: Int, nprobe: Int = 4): DataFrame = {
    val cent = readCentroids(spark, target).getOrElse(
      throw new IllegalStateException(s"no CENTROIDS at $target — index empty"))
    val (codebook, m, k) = readPqCodebook(spark, target).getOrElse(
      throw new IllegalStateException(
        s"no PQCODEBOOK at $target — store not built with pqM > 0"))
    // bounded collect: |queries| × nprobe cell ids, then prune the scan
    // to exactly those chains' files
    val probed = Similarity
      .assignCells(queries, cent, "qid", "qv", probes = nprobe, "vec_id", "v")
      .select("cell").distinct().collect().map(_.getLong(0).toInt).toSet
    val stored = DeltaStore.readAppendOnly(spark, target, Some(probed)).getOrElse(
      throw new IllegalStateException(s"index store empty at $target"))
    if (!stored.columns.contains("codes"))
      throw new IllegalStateException(
        s"$target postings carry no codes column — rebuilt without pqM?")
    val index = stored.select(col("vec_id").as("nid"), col("cell"), col("codes"))
    Similarity.ivfPqServe(index, queries, cent, codebook, topK, nprobe, m, k)
  }
}
