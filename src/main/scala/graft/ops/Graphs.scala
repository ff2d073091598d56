package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative link-analysis over an edge list — the authority-scoring
  * step a crawl-scale curation pipeline runs BEFORE sampling: rank
  * domains/pages by the link graph, then weight admission or mixing by
  * the score (CommonCrawl-style harmonic/PageRank centrality feeding
  * seed selection; compose with [[Mixing.sampleByWeight]] for
  * rank-proportional draws). Complements [[Clusters.components]]
  * (reachability) with a quantitative importance measure on the same
  * edge-list representation.
  *
  * EXACT integer arithmetic, by design: ranks live in fixed-point
  * units of 1/`scale` (default 1e-9), every per-edge contribution is
  * an integral division, and the damping multiply-divide is integral
  * too. Long addition is associative — the per-node message sum is
  * bit-identical under ANY partitioning or AQE re-plan, so scores are
  * reproducible run-to-run and engine-to-engine (the DuckDB oracle
  * replays the identical recurrence), unlike a double-typed PageRank
  * whose sums drift with partition order. The quantization error is
  * bounded (< outdeg ulps per node per round, each ulp = 1/scale) and
  * identical everywhere.
  *
  * Recurrence (the classic simplified form; dangling mass leaks, not
  * redistributed — a node with no out-edges absorbs):
  *   rank⁰(n)   = scale                         (i.e. 1.0)
  *   rankⁱ⁺¹(n) = base + (dampNum · Σ_{(m,n)∈E} ⌊rankⁱ(m)/outdeg(m)⌋) div dampDen
  * with base = (scale · (dampDen − dampNum)) div dampDen  (0.15 · scale).
  *
  * Scale shape: the loop body is one equi-join (ranks × edges on src —
  * |V| rows joined to |E|, shuffled on the node key) and one long-sum
  * hash aggregation to dst (map-side combined: a hot page's in-edges
  * partial-sum before the exchange, so a 10⁸-in-link node receives one
  * long per upstream partition, not 10⁸ rows). The edge set with its
  * out-degrees attached is computed ONCE and cached across rounds;
  * lineage is cut every round ([[Lineage.cut]], an internal-row
  * localCheckpoint) and the previous round's blocks are unpersisted
  * (round k must not replay rounds 1..k−1, and the loop holds exactly
  * one round of rank blocks at any moment). On
  * a cluster the checkpoint goes to the cluster FS; iterations are a
  * fixed budget — rank deltas shrink geometrically (damping), so a
  * deployment picks iterations ≈ log(tolerance)/log(damp), not a
  * convergence probe per round.
  */
object Graphs {

  /** (node, rank_units) for every node appearing as src or dst in
    * `edges`. Duplicate edges are collapsed (link multiplicity does not
    * multiply influence — the standard web-graph convention); self-loops
    * kept if present in the distinct set (callers usually filter them
    * when deriving edges). Fails loudly if |V| · scale · dampNum could
    * overflow a long (the message-sum bound). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, scale: Long = 1000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    run(edges, srcCol, dstCol, None, null, iterations, scale, dampNum, dampDen)

  /** Personalized (seed-restart) PageRank: the restart mass — both the
    * initial rank AND the per-round base term — goes ONLY to the seed
    * nodes, so rank measures proximity-weighted reachability FROM the
    * seed set rather than global authority. This is the crawl
    * seed-EXPANSION form: start from a vetted domain list, rank the
    * whole graph by seeded score, admit/weight the frontier by it
    * (compose with [[Mixing.sampleByWeight]]). Same exact integer
    * recurrence with base(n) = base · 1_seed(n) and rank⁰(n) =
    * scale · 1_seed(n); seeds not present in the graph are ignored
    * (they have no edges to carry mass anyway). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int,
      scale: Long = 1000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    run(edges, srcCol, dstCol, Some(seeds), seedCol, iterations, scale,
      dampNum, dampDen)

  /** Weighted PageRank: a source's rank splits across its out-edges
    * PROPORTIONAL to edge weight — ⌊rank·w / Σw⌋ per edge — instead of
    * evenly. Duplicate (src, dst) rows SUM their weights (so a raw
    * pre-aggregated edge list with weight 1 per occurrence ranks by
    * co-occurrence multiplicity — the form the unweighted op
    * deliberately collapses); non-positive/null weights drop. Same
    * exact-integer contract: with w ≡ 1 this IS pageRank (the
    * unweighted loop runs this expression with w=1, wsum=outdeg).
    * Extra overflow edge: the per-edge multiply rank·w — bounded
    * loudly by |V|·scale·max(w) (rank ≤ total mass ≤ |V|·scale). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int,
      scale: Long = 1000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    run(edges, srcCol, dstCol, None, null, iterations, scale,
      dampNum, dampDen, weight = Some(weightCol))

  private def run(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[DataFrame], seedCol: String,
      iterations: Int, scale: Long,
      dampNum: Long, dampDen: Long,
      weight: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"pageRank needs iterations >= 1 (got $iterations)")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < dampNum < dampDen (got $dampNum/$dampDen)")
    require(scale > 0, s"scale must be positive (got $scale)")
    // the base term multiplies scale by (dampDen - dampNum) < dampDen
    // BEFORE dividing — bound it here, not just the message sum below
    require(scale <= Long.MaxValue / dampDen,
      s"pageRank overflow bound: scale $scale x dampDen $dampDen exceeds " +
        "long range — lower scale")
    val spark = edges.sparkSession
    // cached: nodes0 reads e twice (src and dst legs) and eod reads it
    // once more — uncached, the upstream edge derivation would run ~4x
    // during prep (the probe's measured bottleneck); released below
    // once eod/nodes are materialized.
    //
    // The weighted form derives its per-src totals ONCE: the decimal
    // overflow guard, the per-src wsum the loop joins to, and the max
    // edge weight all come out of the same `ws` aggregate — the
    // earlier shape paid three separate |E|-passes for them (guard
    // agg, eod's own per-src sum agg, e.agg(max(w))), re-deriving the
    // edge projection each time (guide §1.2: don't recompute what you
    // already have).
    val (e, wsums, wMaxF, prepCaches) = weight match {
      case None =>
        val e0 = edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"))
          .filter(col("src").isNotNull && col("dst").isNotNull)
          .distinct().withColumn("w", lit(1L)).cache()
        (e0, e0.groupBy("src").agg(sum("w").as("wsum")), () => 1L, Seq(e0))
      case Some(wc) =>
        // weights collapse and total in DECIMAL first: the per-(src,dst)
        // and per-src sums are where magnitudes accumulate, and a long
        // sum would either throw a bare ANSI ArithmeticException or
        // (ANSI off) wrap silently past any later check. Validated
        // loudly below, then cast down — every per-pair weight is ≤ its
        // src's total, so the long downcast cannot overflow.
        val ed = edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"),
            col(wc).cast("decimal(38,0)").as("wd"))
          .filter(col("src").isNotNull && col("dst").isNotNull &&
            col("wd").isNotNull && col("wd") > 0)
          .groupBy("src", "dst").agg(sum("wd").as("wd")).cache()
        val ws = ed.groupBy("src")
          .agg(sum("wd").as("wsd"), max("wd").as("wmx")).cache()
        // deferred to pr.edges (one tiny job): guard + global max weight
        val wMax = () => {
          val b = ws.agg(max("wsd"), max("wmx")).head()
          if (b.isNullAt(0)) 1L // no surviving edge
          else {
            require(b.getDecimal(0).compareTo(
              new java.math.BigDecimal(Long.MaxValue)) <= 0,
              "pageRank overflow bound: a source's total edge weight " +
                s"exceeds long range (max per-src total ${b.getDecimal(0)})")
            b.getDecimal(1).longValueExact() // ≤ its src total ≤ Long.Max
          }
        }
        (ed.select(col("src"), col("dst"), col("wd").cast("long").as("w")),
          ws.select(col("src"), col("wsd").cast("long").as("wsum")),
          wMax, Seq(ed, ws))
    }
    // nodes carry their seed flag (everyone is a "seed" in the global
    // form) — the flag rides the cached frame so the per-round base
    // term needs no extra join
    val nodes0 = e.select(col("src").as("n"))
      .unionByName(e.select(col("dst").as("n"))).distinct()
    val nodes = seeds match {
      case None => nodes0.withColumn("is_seed", lit(true)).cache()
      case Some(sd) =>
        val sl = sd.select(col(seedCol).cast("long").as("n"))
          .filter(col("n").isNotNull).distinct()
          .withColumn("_s", lit(true))
        nodes0.join(sl, Seq("n"), "left")
          .select(col("n"), coalesce(col("_s"), lit(false)).as("is_seed"))
          .cache()
    }
    // edge set with per-src weight total attached — the loop-invariant
    // operand, built and cached once (re-deriving inside the loop would
    // re-shuffle |E| every round); the decimal validation above proves
    // every per-src long sum fits before the guard job runs
    val eod = e.join(wsums, "src").cache()
    // the overflow guards below read wMax and |V|; eod and nodes must be
    // materialized before the prep caches they were built from go
    val wMax = wMaxF() // weighted: fills the ed/ws caches via the guard agg
    eod.count()
    val nNodes = nodes.count()
    // eod/nodes now hold the operands — release the prep caches
    // (e itself in the unweighted form; ed/ws in the weighted one,
    // where e is only a projection over ed)
    prepCaches.foreach(_.unpersist(blocking = false))
    // total mass never exceeds |V|·scale (contributions are floors of a
    // conserved quantity), so the damping multiply is the overflow edge
    require(nNodes <= Long.MaxValue / dampNum / scale,
      s"pageRank overflow bound: $nNodes nodes x scale $scale x damp " +
        s"$dampNum exceeds long range — lower scale")
    // weighted per-edge multiply: rank·w with rank ≤ |V|·scale
    // (nNodes·scale cannot itself overflow — the require above bounds
    // it through dampNum ≥ 1)
    require(wMax <= Long.MaxValue / (math.max(nNodes, 1L) * scale),
      s"pageRank overflow bound: max edge weight $wMax x $nNodes nodes " +
        s"x scale $scale exceeds long range — lower scale or weights")
    val base = scale * (dampDen - dampNum) / dampDen
    val seedBase = when(col("is_seed"), lit(base)).otherwise(lit(0L))
    var ranks = nodes.select(col("n"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
    var liveRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    (1 to iterations).foreach { _ =>
      val next = roundFrame(eod, ranks, nodes, seedBase, dampNum, dampDen)
      // internal-row lineage cut (Lineage.cut): materialize this round,
      // then drop the previous round's blocks
      val (cut, rdds, _) = Lineage.cut(next)
      ranks = cut
      liveRdds.foreach(_.unpersist(blocking = false))
      liveRdds = rdds
    }
    nodes.unpersist()
    eod.unpersist()
    // the final round's checkpoint stays persisted for the caller —
    // registered so GraphBlocks.release can free it without a global
    // sweep
    GraphBlocks.register(
      ranks.select(col("n").as("node"), col("rank").as("rank_units")),
      liveRdds)
  }

  /** Per-node triangle count and local clustering coefficient over the
    * UNDIRECTED simple graph underlying `edges` (direction, duplicate
    * edges, and self-loops all collapse away) — the local-density
    * signal that separates genuinely clustered regions (mirror rings,
    * template families) from mere hub reachability, complementing
    * [[Clusters.components]] (who is connected) and [[pageRank]] (who
    * is important) on the same edge-list representation.
    *
    * Output: (node, degree, tri_count, lcc_units) for every node of
    * the simple graph, where lcc_units is the local clustering
    * coefficient 2T/(d(d−1)) in EXACT fixed-point units of 1e-9
    * (integral division in decimal — bit-identical across engines and
    * partitionings; 0 when d < 2), so the DuckDB oracle can
    * hash-compare every coefficient, not just the counts.
    *
    * Scale shape — the naive wedge join is THE textbook quadratic
    * skew trap (a degree-d hub generates d² wedges: one 10⁶-degree
    * node = 10¹² candidate rows), and degree orientation is the
    * standard fix: direct every edge from its lower-(degree, id)
    * endpoint to the higher, enumerate wedges only at each edge's
    * SOURCE, and close them against the oriented edge set. Each
    * triangle is found exactly once (at its smallest-ordered corner),
    * and per-node wedge generation is bounded by the oriented
    * out-degree, which is O(√|E|) for ANY graph — a hub's wedges
    * migrate to its (many, low-degree) neighbors instead of exploding
    * at the hub. Both the wedge join (on the shared source) and the
    * closing join (on the composite (t1, t2) key) are plain
    * equi-joins; per-node counts come from one map-side-combined
    * hash aggregation over the exploded triangle corners. The oracle
    * replays the orientation-free id-ordered enumeration — per-node
    * counts are orientation-independent, so the two sides meet on
    * values while the Spark side keeps the skew-proof plan. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String,
      scale: Long = 1000000000L): DataFrame = {
    require(scale > 0, s"scale must be positive (got $scale)")
    val und = simpleUndirected(edges, srcCol, dstCol).cache()
    val deg = degreesOf(und).cache()
    val oriented = orientEdges(und, deg).cache()
    // materialize before und goes: oriented is read twice (wedges +
    // closing join)
    oriented.count()
    und.unpersist(blocking = false)
    val out = triangleFrame(oriented, deg, scale)
    // materialize before releasing the operand caches (the caller's
    // frame must not silently rebuild the wedge join per action) —
    // internal-row cut, see Lineage.cut
    val (res, rdds, _) = Lineage.cut(out)
    oriented.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    GraphBlocks.register(res, rdds)
  }

  /** The canonical undirected simple graph under (srcCol, dstCol):
    * direction, duplicate edges, and self-loops collapse away. */
  private def simpleUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** (n, degree) over the simple graph. */
  private def degreesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("degree"))

  /** Degree orientation: each undirected edge directed from its lower
    * (degree, id) endpoint to the higher, carrying the target's degree
    * so the wedge self-join can compare orientation order without a
    * third join. Per-source out-degree under this orientation is
    * O(√|E|) for ANY graph — the hub-wedge bound. */
  private def orientEdges(und: DataFrame, deg: DataFrame): DataFrame =
    und
      .join(deg.select(col("n").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("degree").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))

  /** The wedge-enumeration dataflow off an oriented edge set
    * (s, t, dt) and a degree table (n, degree) — exposed so the plan
    * shape (equi-keyed wedge + closing joins, map-side-combined corner
    * count, no cartesian path) can be pinned by tests. */
  private[graft] def triangleFrame(oriented: DataFrame, deg: DataFrame,
      scale: Long = 1000000000L): DataFrame = {
    val e2 = oriented.select(col("s").as("s2"), col("t").as("t2"),
      col("dt").as("dt2"))
    val tris = oriented.join(e2, col("s") === col("s2"))
      // t <o t2 in the SAME (degree, id) orientation order — each wedge
      // once, and the closing edge (if present) is then oriented t→t2
      .filter(col("dt") < col("dt2") ||
        (col("dt") === col("dt2") && col("t") < col("t2")))
      .join(oriented.select(col("s").as("t"), col("t").as("t2")),
        Seq("t", "t2"))
      .select(col("s"), col("t"), col("t2"))
    val perNode = tris
      .select(explode(array(col("s"), col("t"), col("t2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri_count"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("degree"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"))
      // integral division in decimal(38,0) — `div` truncates identically
      // in Spark and DuckDB, and the decimal product cannot overflow at
      // any degree a 100-TB graph can produce
      .withColumn("lcc_units",
        when(col("degree") >= 2, expr(
          s"""CAST((CAST(2 AS DECIMAL(38,0)) * CAST(tri_count AS DECIMAL(38,0))
             |  * CAST($scale AS DECIMAL(38,0)))
             | div (CAST(degree AS DECIMAL(38,0))
             |  * CAST(degree - 1 AS DECIMAL(38,0))) AS BIGINT)""".stripMargin))
          .otherwise(lit(0L)))
  }

  /** Synchronous label propagation over the undirected simple graph —
    * community detection: every node starts with its own id as label
    * and each round adopts the most frequent label among its
    * neighbors, ties broken to the SMALLEST label, all nodes updating
    * simultaneously from the previous round. Deterministic by
    * construction (frequency + min-label is a pure function of the
    * previous round), so the DuckDB oracle replays the identical
    * rounds and the gate hash-compares every final label — unlike the
    * async/randomized LPA variants whose output depends on visit
    * order. Complements [[Clusters.components]]: components answer
    * reachability (one giant blob on a crawl graph); LPA splits that
    * blob into densely-linked communities — the granularity a
    * curation pipeline samples across to avoid over-representing one
    * template family.
    *
    * Scale shape: each round is one equi-join (symmetric adjacency ×
    * labels on the neighbor key) and one map-side-combined count
    * aggregation to (node, label), then an argmax reduced as
    * max(struct(cnt, −label)) — a second hash aggregation, NOT a
    * per-node window sort. Same per-round lineage-cut discipline as
    * [[pageRank]] (localCheckpoint + previous-round unpersist); the
    * adjacency is built and cached once. Node ids must be > Long.Min
    * (the −label argmax trick; any real id space is). Isolated nodes
    * cannot occur (every node comes off an edge). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1,
      s"labelPropagation needs iterations >= 1 (got $iterations)")
    val spark = edges.sparkSession
    val und = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("n"), col("v").as("nb"))
      .unionByName(und.select(col("v").as("n"), col("u").as("nb")))
      .cache()
    // fill the cache before round 1 is planned: over an unfilled cache
    // AQE broadcasts the whole adjacency into round 1's join instead of
    // a sort-merge join (graph_lpa at sf0.1, 4 cores: min 3.4 → 4.2 s)
    adj.count()
    var labels = adj.select(col("n")).distinct()
      .select(col("n"), col("n").as("label"))
    var liveRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    (1 to iterations).foreach { _ =>
      val next = lpaRoundFrame(adj, labels)
      // internal-row lineage cut (Lineage.cut)
      val (cut, rdds, _) = Lineage.cut(next)
      labels = cut
      liveRdds.foreach(_.unpersist(blocking = false))
      liveRdds = rdds
    }
    adj.unpersist()
    GraphBlocks.register(
      labels.select(col("n").as("node"), col("label")),
      liveRdds)
  }

  /** One synchronous LPA round as a frame — exposed for plan pinning
    * (two HashAggregates, no window). */
  private[graft] def lpaRoundFrame(adj: DataFrame,
      labels: DataFrame): DataFrame =
    adj.join(labels.select(col("n").as("nb"), col("label")), "nb")
      .groupBy(col("n"), col("label")).agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) as ONE more hash agg: max of
      // (c, −label) lexicographically picks max count then min label
      .groupBy(col("n"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("n"), (-col("m.nl")).as("label"))

  /** Multi-source BFS over the DIRECTED edge graph: (node, dist) for
    * every node reachable from the seed set within `maxDepth` hops —
    * crawl-depth / seed-expansion-radius analysis (how far does a
    * vetted seed list reach, and at what depth does each page enter).
    * Unreached nodes are omitted; duplicate edges and self-loops are
    * harmless (min-propagation ignores them). Deterministic integers,
    * so the DuckDB oracle replays the unrolled rounds and the gate
    * hash-compares every distance.
    *
    * Scale shape — FRONTIER-DELTA propagation, the textbook
    * distributed BFS: in unweighted BFS a node's distance is final the
    * round it is first reached, so only the round's NEWLY-reached
    * frontier joins the edge set (frontier × edges on the src key,
    * then one map-side-combined min to dst, then an anti-join against
    * the settled set). Re-propagating settled nodes every round — the
    * naive unrolled form — would join the whole reached set × |E|
    * each round; the frontier form's total join work across ALL
    * rounds is Σ|frontier_i| = |reached| rows. Same per-round
    * lineage-cut discipline as [[pageRank]]. */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"bfsLevels needs maxDepth >= 0 (got $maxDepth)")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().cache()
    val nodes = e.select(col("src").as("n"))
      .unionByName(e.select(col("dst").as("n"))).distinct()
    // seeds restricted to graph nodes (a seed outside the graph has no
    // edges to reach anything, and emitting it would invent a node)
    val s0 = nodes.join(
      seeds.select(col(seedCol).cast("long").as("n"))
        .filter(col("n").isNotNull).distinct(), "n")
      .select(col("n"), lit(0L).as("dist"))
    // rounds' blocks all stay pinned: every one is part of the result
    // union, so none can be dropped early — collected so
    // GraphBlocks.release can free them all at once
    val pinned = Seq.newBuilder[org.apache.spark.rdd.RDD[_]]
    val (d0, r0, n0) = Lineage.cut(s0)
    pinned ++= r0
    var dist = d0
    var frontier = d0
    var frontierN = n0
    var i = 1
    while (i <= maxDepth && frontierN > 0) { // empty frontier: done
      val (next, r, n) = Lineage.cut(bfsRoundFrame(frontier, e, dist, i))
      pinned ++= r
      frontier = next
      frontierN = n
      dist = dist.unionByName(next)
      i += 1
    }
    e.unpersist(blocking = false)
    GraphBlocks.register(
      dist.select(col("n").as("node"), col("dist")), pinned.result())
  }

  /** Per-LANDMARK BFS distances over the directed edge graph:
    * (landmark, node, dist) for every node reachable from each landmark
    * within `maxDepth` hops — the standard landmark/pivot scheme for
    * estimating centrality on graphs where all-pairs distances are
    * unpayable (closeness/harmonic centrality from a seed sample is
    * the web-graph page-importance estimate that complements
    * [[pageRank]]: rank measures endorsement mass, centrality measures
    * reach). [[bfsLevels]] is the lm-collapsed form (min over
    * landmarks); here the frontier key is the COMPOSITE (landmark,
    * node), so each landmark's wave expands independently in the same
    * per-round jobs.
    *
    * Scale shape: identical to [[bfsLevels]] with the key widened —
    * frontier × edges equi-join on the node key, map-side-combined
    * distinct on (lm, dst), keyed anti-join against settled pairs;
    * total join work = Σ|reached pairs| ≤ |landmarks|·|V| (choose the
    * landmark count, pay linearly — the whole point of sampling);
    * per-round lineage cuts, empty-frontier early exit. */
  def landmarkDistances(edges: DataFrame, srcCol: String, dstCol: String,
      landmarks: DataFrame, lmCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0,
      s"landmarkDistances needs maxDepth >= 0 (got $maxDepth)")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().cache()
    val nodes = e.select(col("src").as("n"))
      .unionByName(e.select(col("dst").as("n"))).distinct()
    val s0 = nodes.join(
      landmarks.select(col(lmCol).cast("long").as("n"))
        .filter(col("n").isNotNull).distinct(), "n")
      .select(col("n").as("lm"), col("n"), lit(0L).as("dist"))
    val pinned = Seq.newBuilder[org.apache.spark.rdd.RDD[_]]
    val (d0, r0, n0) = Lineage.cut(s0)
    pinned ++= r0
    var dist = d0
    var frontier = d0
    var frontierN = n0
    var i = 1
    while (i <= maxDepth && frontierN > 0) {
      val (next, r, n) = Lineage.cut(frontier
        .join(e.select(col("src").as("n"), col("dst")), "n")
        .select(col("lm"), col("dst").as("n")).distinct()
        .withColumn("dist", lit(i).cast("long"))
        .join(dist, Seq("lm", "n"), "left_anti"))
      pinned ++= r
      frontier = next
      frontierN = n
      dist = dist.unionByName(next)
      i += 1
    }
    e.unpersist(blocking = false)
    GraphBlocks.register(
      dist.select(col("lm").as("landmark"), col("n").as("node"),
        col("dist")), pinned.result())
  }

  /** Harmonic-centrality estimate from [[landmarkDistances]]: per
    * node, the number of landmarks that reach it and Σ 1e9 div dist
    * over those landmarks (self pairs, dist 0, excluded — harmonic
    * centrality's own convention, and exact fixed-point integer
    * arithmetic keeps it engine-portable). One map-side-combined hash
    * agg over the (landmark, node, dist) pairs. */
  def harmonicCentrality(lmDist: DataFrame, scale: Long = 1000000000L)
      : DataFrame =
    lmDist.filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_landmarks"),
        sum(expr(s"${scale}L div dist")).as("harm_units"))

  /** k-core peeling over the canonical undirected simple graph: run
    * `rounds` synchronous peel rounds — drop every node whose CURRENT
    * degree is < k, discard its edges, repeat — and return the
    * surviving nodes with their within-core degree. The crawl-graph
    * cleaning primitive: the k-core is the maximal subgraph where
    * every page keeps ≥ k within-subgraph links, and peeling is how
    * link-farm tendrils and orphan chains fall away. Synchronous
    * rounds with a FIXED budget keep it deterministic and
    * oracle-replayable (the DuckDB oracle unrolls the identical
    * rounds); once peeling converges, further rounds are no-ops, so a
    * generous budget is safe — `kCorePeel(_, _, _, k, r)` equals the
    * true k-core whenever convergence happens within r rounds.
    *
    * Scale shape, per round: one map-side-combined degree count + two
    * semi-joins of the edge set against the surviving nodes — all
    * equi-keyed on node ids, nothing windowed or collected. The edge
    * frame only SHRINKS, so round cost is monotone non-increasing;
    * per-round lineage cuts (the pageRank pin discipline) keep the
    * plan from re-deriving r rounds of history. A celebrity node's
    * degree count partial-aggregates before its exchange (the same
    * hub argument as [[degreesOf]] everywhere else). */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kCorePeel needs k >= 1 (got $k)")
    require(rounds >= 0, s"kCorePeel needs rounds >= 0 (got $rounds)")
    // the edge frame only SHRINKS and the result reads only the FINAL
    // round, so each cut drops the previous round's blocks
    var (e, eRdds, eN) = Lineage.cut(simpleUndirected(edges, srcCol, dstCol))
    var round = 1
    var converged = false
    while (round <= rounds && !converged) {
      // keep is lazy — the whole round (degree agg + semi-joins)
      // executes at the cut below
      val keep = degreesOf(e).filter(col("degree") >= k).select(col("n"))
      val (e2, r2, n2) = Lineage.cut(e
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
      eRdds.foreach(_.unpersist(blocking = false))
      // nothing peeled: every node already has degree >= k, so all
      // remaining rounds are no-ops — identical result, skip them
      converged = n2 == eN
      e = e2; eRdds = r2; eN = n2
      round += 1
    }
    // the final edge frame stays pinned: the returned plan reads it —
    // registered for GraphBlocks.release
    GraphBlocks.register(
      degreesOf(e).select(col("n").as("node"), col("degree")), eRdds)
  }

  /** One BFS round as a frame — the loop body, exposed so the plan
    * shape (frontier×edges equi-join on the src key, partial-aggregated
    * distinct, keyed anti-join against the settled set) can be pinned
    * by tests. `frontier` must be `(n)`-shaped, `e` `(src, dst)`,
    * `dist` `(n, dist)`. */
  private[graft] def bfsRoundFrame(frontier: DataFrame, e: DataFrame,
      dist: DataFrame, i: Int): DataFrame =
    frontier
      .join(e.select(col("src").as("n"), col("dst")), "n")
      .select(col("dst").as("n")).distinct()
      .withColumn("dist", lit(i).cast("long"))
      .join(dist, Seq("n"), "left_anti")

  /** One rank round as a frame — the loop body, exposed so the plan
    * shape (map-side-combined message HashAggregate, equi-keyed joins
    * only) can be pinned by tests without re-deriving the dataflow. */
  private[graft] def roundFrame(eod: DataFrame, ranks: DataFrame,
      nodes: DataFrame, seedBase: Column,
      dampNum: Long, dampDen: Long): DataFrame = {
    val msgs = eod
      .join(ranks.select(col("n").as("src"), col("rank")), "src")
      .select(col("dst").as("n"), expr("(rank * w) div wsum").as("c"))
      .groupBy("n").agg(sum("c").as("m"))
    nodes.join(msgs, Seq("n"), "left")
      .select(col("n"),
        (seedBase + expr(s"($dampNum * coalesce(m, 0L)) div $dampDen")).as("rank"))
  }
}
