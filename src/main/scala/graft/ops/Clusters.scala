package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the step
  * between pairwise dedup and an actual keep/drop decision. Pair ops
  * ([[Dedup.simhashPairs]], [[Dedup.minhashPairs]]) emit EDGES; a
  * release needs CLUSTERS: a~b and b~c must collapse into one group
  * even when a and c are not themselves a pair, and exactly one
  * canonical doc survives per group.
  *
  * Algorithm: contraction first (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC 2014). A LEVEL takes an edge set,
  * written (least, greatest) with self-loops dropped, and repartitions
  * it on the smaller endpoint with no fixed partition count, so AQE
  * coalesces the session's shuffle partitions by bytes (with Spark's
  * defaults an edge set under ~1 MB, `minPartitionSize`, is ONE
  * partition). Each partition runs one
  * union-find over its edges ([[UnionFind]]: union by min id, so a
  * root is its local component's min id) and emits (node, local root)
  * for every node it saw. A node seen by several partitions has
  * several roots; one fold per node keeps its minimum root `m` and its
  * distinct roots, and that fold is the level's one lineage cut
  * ([[Lineage.cutLazy]]). One job over the cut counts the nodes with
  * two or more roots. None: every component lies inside one local
  * component, `m` is its min id, and the level is the last. Otherwise
  * each such node gives the next level's edges (m, other root) — a
  * graph over roots only, with the same components — and labels
  * compose back down as label(v) = next(m(v)), identity where `v` is
  * absent from the next level. Labels are the component's min id.
  *
  * Levels: an edge set that fits one partition settles in ONE level,
  * whatever its diameter. Across partitions a level merges what its
  * partitions see together, and a component's largest node (never a
  * root) always leaves it, so levels are finite; AQE then packs the
  * smaller root graph into fewer partitions. The partitioning is
  * salted by the level: unsalted, the next level's edges land in the
  * partitions that produced them, and a path whose ids rise along it
  * loses one node per level. Rising paths are still the slow shape
  * (over 4 partitions a level drops about a quarter of their nodes),
  * so `maxIters` bounds LEVELS and turns a pathological graph into a
  * loud failure rather than an unbounded job.
  *
  * Memory: one partition's union-find holds every node its edges name,
  * in primitive arrays — an open-addressing id → index table at load
  * ≤ 1/2 plus an id and a parent per index, about 40 bytes per node,
  * up to ~2× that while the table grows. The edges stream through it.
  * Coalescing merges partitions and never splits one, so a partition
  * takes at most about 1/`spark.sql.shuffle.partitions` of a level's
  * edges (more under key skew), and the map holds their nodes.
  *
  * Null ids: an edge with one null end makes the null id a node that
  * takes the least label among its non-null neighbors and joins no two
  * components (it receives labels, never passes one on). Its roots
  * ride each level as (root, null) edges, so its label is the last
  * level's `m`. A both-null edge is dropped like a self-loop.
  *
  * Each level's checkpoint stays persisted behind the returned frame
  * (the composition reads them all) and is registered for
  * [[GraphBlocks.release]]; levels shrink, so the first dominates.
  * Callers should contract identical-signature cliques BEFORE building
  * edges (CC over distinct signatures, labels joined back to docs) — a
  * 10⁶-doc exact-dup clique is one contracted node instead of 10¹²
  * edges.
  */
object Clusters {

  /** Union-find over one partition's long ids, in primitive arrays: an
    * open-addressing table (linear probing, Fibonacci hashing, power-of-
    * two size) maps an id to a dense index — a slot holds index + 1, 0
    * is empty, so every long is a valid id — and `parent` links indices.
    * Union hangs the root with the larger id under the one with the
    * smaller, so a root is its set's min id; `find` halves paths. */
  private final class UnionFind {
    private var bits = 4
    private var keys = new Array[Long](1 << bits)
    private var slots = new Array[Int](1 << bits)
    private var ids = new Array[Long](8)
    private var parent = new Array[Int](8)
    private var n = 0

    def size: Int = n
    def id(i: Int): Long = ids(i)

    private def slot(x: Long, ks: Array[Long], ss: Array[Int], b: Int): Int = {
      var s = ((x * 0x9E3779B97F4A7C15L) >>> (64 - b)).toInt
      while (ss(s) != 0 && ks(s) != x) s = (s + 1) & (ss.length - 1)
      s
    }

    /** The dense index of `x`, added as its own set when new. */
    def index(x: Long): Int = {
      val s = slot(x, keys, slots, bits)
      if (slots(s) != 0) slots(s) - 1
      else {
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, 2 * n)
          parent = java.util.Arrays.copyOf(parent, 2 * n)
        }
        ids(n) = x; parent(n) = n
        keys(s) = x; slots(s) = n + 1
        n += 1
        if (2 * n > slots.length) grow()
        n - 1
      }
    }

    private def grow(): Unit = {
      val b = bits + 1
      val ks = new Array[Long](1 << b)
      val ss = new Array[Int](1 << b)
      var i = 0
      while (i < n) {
        val s = slot(ids(i), ks, ss, b)
        ks(s) = ids(i); ss(s) = i + 1
        i += 1
      }
      bits = b; keys = ks; slots = ss
    }

    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }

    def union(x: Long, y: Long): Unit = {
      val a = find(index(x)); val b = find(index(y))
      if (a != b) { if (ids(a) < ids(b)) parent(b) = a else parent(a) = b }
    }

    def root(i: Int): Long = ids(find(i))
  }

  /** One partition of a level: union-find over its (u, w) edges, then
    * (node, local root) for every node it saw, and (null, root) once
    * per distinct root among the null id's neighbors (w = None). */
  private def contract(edges: Iterator[(Long, Option[Long])])
      : Iterator[(Option[Long], Long)] = {
    val uf = new UnionFind
    val nullNbrs = new scala.collection.mutable.ArrayBuilder.ofInt
    edges.foreach {
      case (u, Some(w)) => uf.union(u, w)
      case (u, None) => nullNbrs += uf.index(u)
    }
    Iterator.range(0, uf.size).map(i => (Some(uf.id(i)), uf.root(i))) ++
      nullNbrs.result().iterator.map(uf.root).distinct.map(r => (None, r))
  }

  /** (idCol, comp) for every node: `comp` = min node id reachable in
    * the undirected graph `edges` (aId, bId). One row per distinct id of
    * `nodes` and of the edges' endpoints; isolated nodes keep their own
    * id. Raises if the roots still merge after `maxIters` levels. */
  def components(nodes: DataFrame, idCol: String, edges: DataFrame,
      aId: String, bId: String, maxIters: Int = 25): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val a = col(aId).cast("long"); val b = col(bId).cast("long")
    // (least, greatest); an edge with one null end keeps it as w
    var level = edges
      .select(least(a, b).as("u"),
        when(a.isNotNull && b.isNotNull, greatest(a, b)).as("w"))
      .filter(col("u").isNotNull && !(col("u") <=> col("w")))
    var cuts = Vector.empty[(DataFrame, RDD[InternalRow])]
    var multi = 1L
    while (multi > 0 && cuts.size < maxIters) {
      // salted by the level (see the scaladoc): edges one level saw
      // apart meet in fresh partitions at the next
      val seen = level.repartition(col("u"), lit(cuts.size))
        .as[(Long, Option[Long])]
        .mapPartitions(contract).toDF("v", "r")
      // level 0 also folds in the node set (no root of their own), so
      // every node has a row and the last level's cut is the answer
      val rows = if (cuts.isEmpty) seen.unionByName(
          nodes.select(col(idCol).cast("long").as("v"),
            lit(null).cast("long").as("r")))
        else seen
      val fold = rows.groupBy("v").agg(
        coalesce(min("r"), col("v")).as("m"), collect_set("r").as("roots"))
      // Under AQE the cut runs the level's shuffle stages (the caller's
      // edge derivation too, at level 0); the count job below runs the
      // final stage and persists the blocks
      val (cut, rdds) = Lineage.cutLazy(fold)
      multi = rdds.head.sparkContext.runJob(rdds.head,
        (it: Iterator[InternalRow]) =>
          it.count(r => !r.isNullAt(0) && r.getArray(2).numElements() > 1)
      ).map(_.toLong).sum
      cuts :+= (cut, rdds.head)
      // (m, other root) per multi-root node; the null id's roots become
      // (root, null) edges, so it reads the next level's labels
      level = cut.filter(col("v").isNull || size(col("roots")) > 1)
        .select(explode(when(col("v").isNull,
            transform(col("roots"), r =>
              struct(r.as("u"), lit(null).cast("long").as("w"))))
          .otherwise(transform(array_remove(col("roots"), col("m")), r =>
              struct(col("m").as("u"), r.as("w"))))).as("e"))
        .select("e.u", "e.w")
    }
    if (multi > 0) cuts.foreach(_._2.unpersist(blocking = false))
    require(multi == 0,
      s"components: no fixpoint after $maxIters levels — roots still " +
        "merge (raise maxIters, or contract dense cliques first)")
    // compose down: label(v) = next(m(v)); the null id follows the null
    // row (its key is null, and `<=>` matches null to null)
    val labels = cuts.map(_._1).reduceRight { (cut, next) =>
      cut.join(next.select(col("v").as("_k"), col("m").as("_c")),
          when(col("v").isNotNull, col("m")) <=> col("_k"), "left")
        .select(col("v"), coalesce(col("_c"), col("m")).as("m"))
    }
    GraphBlocks.register(
      labels.select(col("v").as(idCol), col("m").as("comp")),
      cuts.map(_._2))
  }

  /** Quality-aware canonical selection — the release-side keep/drop
    * decision over near-dup clusters: per cluster keep the member with
    * the HIGHEST score, ties broken toward the smallest id. Min-id
    * canonical labels ([[components]]) answer "which cluster"; this
    * answers "which DOC survives", the way production release pipelines
    * decide (keep the longest / best-classifier-scored member rather
    * than an arbitrary one). `scoreCol` is pluggable — any numeric
    * column; exact-integer signals (content length, token count,
    * quantized classifier scores) make the argmax bit-portable across
    * engines.
    *
    * Scale shape: a rank-1 window on (score desc, id asc) whose
    * `WindowGroupLimit` prunes MAP-SIDE — at most one candidate per
    * (cluster, upstream partition) crosses the exchange, never the
    * cluster's member rows. (A `max(struct(score, -id))` hash
    * aggregation reads nicer but struct-typed agg buffers are not
    * hash-aggregable — Spark silently falls back to SortAggregate over
    * the FULL input; PlanSpec pins the group-limit form.) Returns one
    * row per cluster: (clusterCol, idCol = the kept id, scoreCol = its
    * score). */
  def keepBest(labeled: DataFrame, idCol: String, clusterCol: String,
      scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.select(col(clusterCol), col(idCol), col(scoreCol))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
  }

  /** (idCol, cluster) for every doc: connected components over
    * VERIFIED near-dup edges — banded-MinHash candidates filtered by
    * exact shingle Jaccard ≥ `minJaccard` — labeled by the component's
    * min doc id. Every doc appears (a doc with no near-dup, or too
    * short to shingle, is its own singleton cluster).
    *
    * This is the cluster definition a SPLIT assignment must use, and
    * deliberately NOT the signature-space radius ball the dedup gates
    * cluster on: raw sig-adjacency merges by hash PROXIMITY, and a
    * dense signature space percolates — on a large corpus most sigs
    * join one giant component, which an over-DROPPING dedup tolerates
    * but a split-by-cluster cannot (every doc would inherit one
    * cluster id and land in one split). An edge here requires real
    * measured similarity, so components only grow through genuine
    * near-dup chains. Scale shape: candidates are the LSH bucket
    * equi-join (never all pairs), verification is per-candidate, CC is
    * [[components]] (contraction-first union-find, doc-id keyed). One
    * cache, (id, sh, sig), feeds both the band fan-out and the verify
    * joins, and is freed as soon as [[components]] returns. */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4, rows: Int = 2,
      minJaccard: Double = 0.5): DataFrame = {
    // bands*rows > k would let lshBandArray's element_at read past the
    // k-slice signature — null slices that concat_ws silently drops, so
    // many docs share degenerate band keys and candidate generation
    // goes near-quadratic (or throws under ANSI mode); same guard as
    // contaminatedNear (ADVICE r18)
    require(bands * rows <= k,
      s"bands*rows must be <= k (got $bands*$rows > $k)")
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0, 1] (got $minJaccard)")
    // cluster labels are min-id LONGS ([[components]] casts the id):
    // a string id would silently cast to null, vanish into a null
    // label, and be dropped by any downstream join — fail loudly here
    // instead (map string ids to a stable long, e.g. xxhash64, first).
    // Rows whose id is NULL identify no document and are excluded.
    val idType = docs.schema(idCol).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"nearDupClusters: id column '$idCol' must be an integral type " +
        s"(got $idType) — cluster labels are min-id longs; map string " +
        "ids to a stable long (e.g. xxhash64) first")
    // ONE cache: (id, sh, sig). The signature feeds the per-band
    // fan-out (uncached, its subtree would re-run once per band key)
    // and the verify joins read `sh` from the same blocks; the md5 pass
    // inside the signature is let-bound by Dedup.minhashMd5
    val sig = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(idCol),
        array_distinct(Dedup.shingles(col("toks"))).as("sh"))
      .withColumn("sig", Dedup.minhashMd5(col("sh"), k))
      .cache()
    val cand = Dedup.lshCandidates(
      Dedup.lshBands(sig, "sig", bands, rows, idCol), idCol)
    val (inter, uni, _) = Dedup.jaccardCols(col("_sha"), col("_shb"))
    val edges = cand
      .join(sig.select(col(idCol).as("a_id"), col("sh").as("_sha")), "a_id")
      .join(sig.select(col(idCol).as("b_id"), col("sh").as("_shb")), "b_id")
      .filter(inter * 1.0 / uni >= minJaccard)
      .select("a_id", "b_id")
    // components folds the node set by id, so `docs` needs no distinct
    val labeled = components(
        docs.select(col(idCol).as("id")).filter(col("id").isNotNull),
        "id", edges, "a_id", "b_id")
      .select(col("id").as(idCol), col("comp").as("cluster"))
    // components ran EAGERLY (level 0's cut runs the edge derivation,
    // and every level materializes), so the signature cache is fully
    // consumed — free it now instead of pinning blocks until session
    // end; the returned frame reads the levels' checkpoints, not this
    // cache
    sig.unpersist(blocking = false)
    labeled
  }
}
