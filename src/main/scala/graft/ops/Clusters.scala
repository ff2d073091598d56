package graft.ops

import java.math.BigInteger

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
  * Algorithm: hash-min label propagation with pointer jumping — every
  * node starts as its own label, and each round takes the min over its
  * own label, its neighbors' labels, AND its label's label (the jump:
  * effective depth doubles per round). At fixpoint the label is the
  * component's min node id (deterministic canonical choice). Rounds =
  * O(log diameter); a `maxIters` bound turns a pathological graph into
  * a loud failure rather than an unbounded job.
  *
  * Convergence: labels only ever DECREASE (min-fold), so the exact sum
  * of labels is a strictly monotone potential — an equal sum in two
  * consecutive rounds is the fixpoint. Each round's sum is ONE Spark
  * job over the round's checkpoint RDD (a per-partition exact sum,
  * folded on the driver); that job is also the action that fills the
  * checkpoint blocks, so a round costs its shuffle stages plus one job
  * and no shuffle of its own. The identity labels are never summed:
  * self-loops are dropped from the edge set (a node's own label is
  * already in its fold), so a remaining edge a–b between two nodes
  * lowers max(a, b) in round 1, and comparison starts at round 2. An
  * edge set that is empty after that needs no round at all. Round 1
  * also skips the jump join, a no-op on identity labels.
  *
  * Scale shape: each round is one keyed equi-join (labels × edges)
  * and one min-agg — both shuffle on the node id, no broadcast of
  * anything corpus-sized. The symmetrized edge set is one plan
  * (each edge exploded into both directions, then deduplicated — a
  * union of the two directions would plan the caller's edge
  * derivation twice) cached once across rounds. Lineage is cut every
  * round (RDD `localCheckpoint`; a deployment would checkpoint to the
  * cluster FS) so round k does not replay rounds 1..k−1 — and the
  * PREVIOUS round's checkpoint is unpersisted explicitly as soon as
  * the next is materialized, so the loop holds exactly ONE round of
  * label blocks at any moment (Dataset.localCheckpoint leaves the
  * superseded rounds to the async ContextCleaner, whose GC-driven
  * timing made repeated runs churn the block store and read as bench
  * noise). Callers should contract identical-signature cliques BEFORE
  * building edges (CC over distinct signatures, labels joined back to
  * docs) — a 10⁶-doc exact-dup clique is one contracted node instead
  * of 10¹² edges.
  */
object Clusters {

  /** The undirected edge set of `edges` (aId, bId) as distinct directed
    * (src, dst) pairs, both directions, self-loops dropped. One plan:
    * each edge explodes into its two directions, so the caller's edge
    * derivation is planned (and run) once. */
  private def symmetricEdges(edges: DataFrame, aId: String,
      bId: String): DataFrame =
    edges
      .select(explode(array(
        struct(col(aId).as("src"), col(bId).as("dst")),
        struct(col(bId).as("src"), col(aId).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // null-safe: an edge with one null end still propagates a label
      // to the null id, as it always has; a loop never changes one
      .filter(!(col("src") <=> col("dst")))
      .distinct()

  /** Exact sum of the non-null labels of a checkpointed (v, comp)
    * label RDD: one job, per-partition partial sums in a long that
    * spill into a BigInteger on overflow, folded on the driver. */
  private def potential(labels: RDD[InternalRow]): BigInteger =
    labels.sparkContext.runJob(labels, (rows: Iterator[InternalRow]) => {
      var big = BigInteger.ZERO
      var acc = 0L
      rows.foreach { r =>
        if (!r.isNullAt(1)) {
          val v = r.getLong(1)
          val s = acc + v
          if (((acc ^ s) & (v ^ s)) < 0) { big = big.add(BigInteger.valueOf(acc)); acc = v }
          else acc = s
        }
      }
      big.add(BigInteger.valueOf(acc))
    }).foldLeft(BigInteger.ZERO)(_.add(_))

  /** (idCol, comp) for every node: `comp` = min node id reachable in
    * the undirected graph `edges` (aId, bId). Isolated nodes keep
    * their own id. Raises if not converged within `maxIters`. */
  def components(nodes: DataFrame, idCol: String, edges: DataFrame,
      aId: String, bId: String, maxIters: Int = 25): DataFrame = {
    val sym = symmetricEdges(edges, aId, bId).cache()
    // the edge count decides the no-edge shortcut below (and fills the
    // edge cache every round reads)
    val nEdges = sym.count()
    var labels = nodes
      .select(col(idCol).cast("long").as("v"), col(idCol).cast("long").as("comp"))
    // no edge: the identity labels are the fixpoint (distinct, as a
    // round's min-fold would leave them)
    if (nEdges == 0) labels = labels.distinct()
    var pot: Option[BigInteger] = None
    var converged = nEdges == 0
    var it = 0
    // the live checkpoint RDD for the current `labels`; replaced (and
    // the old one unpersisted) every round — see the scaladoc
    var liveRdds: Seq[RDD[InternalRow]] = Nil
    while (!converged && it < maxIters) {
      val prop = sym
        .join(labels.select(col("v").as("src"), col("comp")), "src")
        .select(col("dst").as("v"), col("comp"))
      // pointer jumping: also fold in comp(comp(v)) — effective depth
      // doubles per round, so rounds = O(log diameter) instead of
      // O(diameter) (a 100-hop chain resolves in ~7 rounds). Round 1's
      // labels are the identity, whose jump is itself: skipped.
      val candidates =
        if (it == 0) labels.unionByName(prop)
        else labels.unionByName(prop).unionByName(labels.as("x")
          .join(labels.select(col("v").as("comp"), col("comp").as("jcomp")), "comp")
          .select(col("v"), col("jcomp").as("comp")))
      val folded = candidates.groupBy("v").agg(min("comp").as("comp"))
      // Under AQE the cut itself executes the plan's shuffle stages
      // (join + jump + min-fold) to pick the final plan; the potential
      // job then runs the final stage and persists the blocks.
      val (next, rdds) = Lineage.cutLazy(folded)
      val nextPot = potential(rdds.head)
      liveRdds.foreach(_.unpersist(blocking = false))
      liveRdds = rdds
      converged = pot.contains(nextPot)
      pot = Some(nextPot)
      labels = next
      it += 1
    }
    sym.unpersist()
    require(converged,
      s"components: no fixpoint after $maxIters rounds — component diameter " +
        "exceeds the bound (raise maxIters, or contract dense cliques first)")
    // the final round's checkpoint stays persisted: the returned frame
    // reads from it — registered so GraphBlocks.release can free it
    // eagerly (one round of blocks, not one per round)
    GraphBlocks.register(
      labels.select(col("v").as(idCol), col("comp")),
      liveRdds)
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
    * [[components]] (hash-min + pointer jumping, doc-id keyed). One
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
    val labeled = components(
        docs.select(col(idCol).as("id")).filter(col("id").isNotNull)
          .distinct(),
        "id", edges, "a_id", "b_id")
      .select(col("id").as(idCol), col("comp").as("cluster"))
    // components ran EAGERLY (the edge derivation fills during
    // sym.count() and every round materializes), so the signature
    // cache is fully consumed — free it now instead of pinning blocks
    // until session end; the returned frame reads the CC checkpoint
    // (or, with no edge, `docs`), not this cache
    sig.unpersist(blocking = false)
    labeled
  }
}
