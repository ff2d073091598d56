package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions.col

/** Model check of [[graft.ops.Graphs]]: the distributed fixed-point
  * recurrence against a driver-side exact replay, for RANDOM graphs ×
  * damping × iteration budgets × seed sets. The integer arithmetic is
  * the whole point of the design — bit-equality with a sequential
  * model is the strongest statement the op can make, and the property
  * covers shapes the hand-computed examples can't (self-loops,
  * multi-edges, disconnected nodes, empty seed sets). */
class GraphsPropSpec extends SparkSpec {
  import spark.implicits._

  private case class Case(edges: List[(Long, Long)], iters: Int,
      dampNum: Long, seeds: Option[Set[Long]])

  private val caseGen: Gen[Case] = for {
    nEdges <- Gen.choose(1, 14)
    edges <- Gen.listOfN(nEdges,
      Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 6L)))
    iters <- Gen.choose(1, 4)
    dampNum <- Gen.choose(1L, 99L)
    seeded <- Gen.oneOf(true, false)
    seedSet <- Gen.someOf(0L to 6L)
  } yield Case(edges, iters, dampNum, if (seeded) Some(seedSet.toSet) else None)

  /** Sequential replay of the exact recurrence (duplicate edges
    * collapsed, dangling mass absorbed, seed-gated base). All values
    * are non-negative, so `/` matches Spark's `div` and DuckDB's
    * `//`. */
  private def model(c: Case, scale: Long, dampDen: Long): Map[Long, Long] = {
    val e = c.edges.toSet
    val nodes = e.flatMap { case (s, d) => Seq(s, d) }
    val outd = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val isSeed: Long => Boolean = n => c.seeds.forall(_.contains(n))
    val base = scale * (dampDen - c.dampNum) / dampDen
    var rank = nodes.map(n => n -> (if (isSeed(n)) scale else 0L)).toMap
    (1 to c.iters).foreach { _ =>
      val msgs = e.toSeq
        .map { case (s, d) => d -> rank(s) / outd(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      rank = nodes.map { n =>
        n -> ((if (isSeed(n)) base else 0L) +
          c.dampNum * msgs.getOrElse(n, 0L) / dampDen)
      }.toMap
    }
    rank
  }

  test("pageRank/personalizedPageRank equal the sequential exact model") {
    val prop = Prop.forAll(caseGen) { c =>
      val e = c.edges.toDF("s", "d")
      val got = (c.seeds match {
        case None => graft.ops.Graphs.pageRank(e, "s", "d", c.iters,
          dampNum = c.dampNum)
        case Some(sd) =>
          // empty seed frame: give toDF a typed empty list
          val seedDf = sd.toList.toDF("seed")
          graft.ops.Graphs.personalizedPageRank(e, "s", "d", seedDf, "seed",
            c.iters, dampNum = c.dampNum)
      }).as[(Long, Long)].collect().toMap
      val want = model(c, 1000000000L, 100L)
      if (got != want)
        println(s"MISMATCH case=$c\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  /** Weighted model: duplicate (s,d) rows sum weights; contribution is
    * ⌊rank·w / Σw⌋ per collapsed edge. */
  private def weightedModel(edges: List[(Long, Long, Long)], iters: Int,
      dampNum: Long): Map[Long, Long] = {
    val kept = edges.filter(_._3 > 0)
    val e = kept.groupBy(t => (t._1, t._2))
      .map { case ((s, d), ts) => (s, d, ts.map(_._3).sum) }.toSeq
    val nodes = e.flatMap { case (s, d, _) => Seq(s, d) }.toSet
    val wsum = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val scale = 1000000000L; val dampDen = 100L
    val base = scale * (dampDen - dampNum) / dampDen
    var rank = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val msgs = e.map { case (s, d, w) => d -> rank(s) * w / wsum(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      rank = nodes.map(n =>
        n -> (base + dampNum * msgs.getOrElse(n, 0L) / dampDen)).toMap
    }
    rank
  }

  test("pageRankWeighted equals the sequential weighted model") {
    val wCaseGen = for {
      nEdges <- Gen.choose(1, 12)
      edges <- Gen.listOfN(nEdges, Gen.zip(Gen.choose(0L, 5L),
        Gen.choose(0L, 5L), Gen.choose(-1L, 4L)))
      iters <- Gen.choose(1, 3)
      dampNum <- Gen.choose(1L, 99L)
    } yield (edges, iters, dampNum)
    val prop = Prop.forAll(wCaseGen) { case (edges, iters, dampNum) =>
      // all-dropped inputs (every weight <= 0) run too: both the op and
      // the model must return EMPTY, not crash — the empty-aggregate
      // null path is exactly where a naive guard would NPE
      val got = graft.ops.Graphs.pageRankWeighted(
        edges.toDF("s", "d", "w"), "s", "d", "w", iters,
        dampNum = dampNum).as[(Long, Long)].collect().toMap
      val want = weightedModel(edges, iters, dampNum)
      if (got != want)
        println(s"MISMATCH edges=$edges iters=$iters damp=$dampNum\n" +
          s" got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  /** Brute-force triangle model: canonical simple graph, enumerate all
    * id-ordered triples, per-node counts + exact fixed-point lcc. */
  private def triModel(edges: List[(Long, Long)])
      : Map[Long, (Long, Long, Long)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap { case (u, v) => Seq(u, v) }
    val deg = nodes.map(n =>
      n -> und.count { case (u, v) => u == n || v == n }.toLong).toMap
    val ns = nodes.toSeq.sorted
    val tris = for {
      i <- ns.indices; j <- (i + 1) until ns.size; k <- (j + 1) until ns.size
      if und((ns(i), ns(j))) && und((ns(j), ns(k))) && und((ns(i), ns(k)))
    } yield (ns(i), ns(j), ns(k))
    val perNode = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    nodes.map { n =>
      val d = deg(n); val t = perNode.getOrElse(n, 0L)
      val lcc = if (d >= 2)
        (BigInt(2) * t * 1000000000L / (BigInt(d) * (d - 1))).toLong
      else 0L
      n -> (d, t, lcc)
    }.toMap
  }

  test("triangles equals the brute-force model") {
    val gen = for {
      nEdges <- Gen.choose(1, 18)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
    } yield edges
    val prop = Prop.forAll(gen) { edges =>
      val got = graft.ops.Graphs.triangles(edges.toDF("s", "d"), "s", "d")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val want = triModel(edges)
      if (got != want)
        println(s"MISMATCH edges=$edges\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  /** Sequential synchronous-LPA model: neighbor-label frequency argmax,
    * min-label tie-break, all nodes updating from the previous round. */
  private def lpaModel(edges: List[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nbrs = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    var labels = nbrs.keys.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      labels = nbrs.map { case (n, nb) =>
        val counts = nb.map(labels).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    labels
  }

  test("labelPropagation equals the sequential synchronous model") {
    val gen = for {
      nEdges <- Gen.choose(1, 16)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
      iters <- Gen.choose(1, 4)
    } yield (edges, iters)
    val prop = Prop.forAll(gen) { case (edges, iters) =>
      // all-self-loop inputs yield an empty graph: both sides must
      // return empty, not crash
      val got = graft.ops.Graphs.labelPropagation(
        edges.toDF("s", "d"), "s", "d", iters)
        .as[(Long, Long)].collect().toMap
      val want = lpaModel(edges, iters)
      if (got != want)
        println(s"MISMATCH edges=$edges iters=$iters\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  /** Sequential multi-source BFS model: plain frontier expansion over
    * the directed edge set, seeds restricted to graph nodes. */
  private def bfsModel(edges: List[(Long, Long)], seeds: Set[Long],
      maxDepth: Int): Map[Long, Long] = {
    val e = edges.toSet
    val nodes = e.flatMap { case (s, d) => Seq(s, d) }
    val adj = e.toSeq.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var dist = (seeds & nodes).map(_ -> 0L).toMap
    var frontier = dist.keySet
    (1 to maxDepth).foreach { i =>
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .diff(dist.keySet)
      dist = dist ++ next.map(_ -> i.toLong)
      frontier = next
    }
    dist
  }

  test("bfsLevels equals the sequential frontier model") {
    val gen = for {
      nEdges <- Gen.choose(1, 16)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
      seeds <- Gen.someOf(0L to 9L) // some seeds outside the graph
      depth <- Gen.choose(0, 4)
    } yield (edges, seeds.toSet, depth)
    val prop = Prop.forAll(gen) { case (edges, seeds, depth) =>
      val got = graft.ops.Graphs.bfsLevels(edges.toDF("s", "d"), "s", "d",
        seeds.toList.toDF("seed"), "seed", depth)
        .as[(Long, Long)].collect().toMap
      val want = bfsModel(edges, seeds, depth)
      if (got != want)
        println(s"MISMATCH edges=$edges seeds=$seeds depth=$depth\n" +
          s" got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("landmarkDistances + harmonicCentrality equal the per-seed BFS model") {
    val gen = for {
      nEdges <- Gen.choose(1, 16)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
      lms <- Gen.someOf(0L to 9L)
      depth <- Gen.choose(0, 4)
    } yield (edges, lms.toSet, depth)
    val prop = Prop.forAll(gen) { case (edges, lms, depth) =>
      val lmDf = lms.toList.toDF("lm")
      val got = graft.ops.Graphs.landmarkDistances(
        edges.toDF("s", "d"), "s", "d", lmDf, "lm", depth)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      // per-landmark sequential BFS (bfsModel with a single seed)
      val want = lms.flatMap(l => bfsModel(edges, Set(l), depth)
        .map { case (n, d) => (l, n) -> d }).toMap
      val gotH = graft.ops.Graphs.harmonicCentrality(
        graft.ops.Graphs.landmarkDistances(
          edges.toDF("s", "d"), "s", "d", lmDf, "lm", depth))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val wantH = want.toSeq.filter(_._2 > 0).groupBy(_._1._2)
        .map { case (n, xs) =>
          n -> (xs.size.toLong, xs.map(x => 1000000000L / x._2).sum) }
      if (got != want || gotH != wantH)
        println(s"MISMATCH edges=$edges lms=$lms depth=$depth\n" +
          s" got=$got\n want=$want\n gotH=$gotH\n wantH=$wantH")
      got == want && gotH == wantH
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  /** Sequential synchronous peel model over the simple graph. */
  private def kcoreModel(edges: List[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Long] = {
    var und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    def degs = und.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    (1 to rounds).foreach { _ =>
      val keep = degs.filter(_._2 >= k).keySet
      und = und.filter { case (u, v) => keep(u) && keep(v) }
    }
    degs
  }

  test("kCorePeel equals the sequential synchronous peel model") {
    val gen = for {
      nEdges <- Gen.choose(1, 18)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
      k <- Gen.choose(1, 4)
      rounds <- Gen.choose(0, 4)
    } yield (edges, k, rounds)
    val prop = Prop.forAll(gen) { case (edges, k, rounds) =>
      val got = graft.ops.Graphs.kCorePeel(edges.toDF("s", "d"), "s", "d",
        k, rounds).as[(Long, Long)].collect().toMap
      val want = kcoreModel(edges, k, rounds)
      if (got != want)
        println(s"MISMATCH edges=$edges k=$k rounds=$rounds\n" +
          s" got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("rank mass is conserved exactly on out-degree-complete graphs with full seeds") {
    // every node has at least one out-edge and dampNum=dampDen-? …
    // conservation holds up to floor loss: Σrank ≤ |V|·scale and
    // Σrank ≥ |V|·base. A cycle (permutation graph) with outd=1 loses
    // nothing to floors: Σrank stays EXACTLY |V|·scale every round.
    val cyc = (0L to 5L).map(i => (i, (i + 1) % 6)).toDF("s", "d")
    val r = graft.ops.Graphs.pageRank(cyc, "s", "d", iterations = 5)
      .agg(org.apache.spark.sql.functions.sum(col("rank_units")))
      .head().getLong(0)
    assert(r == 6L * 1000000000L)
  }

  /** Sequential union-find: every node maps to its component's min id
    * (the larger root always joins the smaller, so a root is its set's
    * min). */
  private def componentsModel(nodes: Seq[Long], edges: Seq[(Long, Long)])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** Labels and round count of one `Clusters.components` call. */
  private def components(nodes: Seq[Long], edges: Seq[(Long, Long)])
      : (Map[Long, Long], Long) = {
    def rounds = PhaseClock.snapshot().getOrElse("cc.rounds", 0.0).toLong
    val before = rounds
    val got = graft.ops.Clusters.components(nodes.toDF("id"), "id",
        edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect()
    assert(got.length == nodes.size, s"one label per node: ${got.toSeq}")
    (got.toMap, rounds - before)
  }

  test("components equals a sequential union-find; rounds 0 without " +
      "edges, 2 for a star") {
    val gen = for {
      n <- Gen.choose(1, 12)
      nEdges <- Gen.choose(0, 14)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield ((0L until n).toList, edges)
    val prop = Prop.forAll(gen) { case (nodes, edges) =>
      // duplicate and reversed copies of the drawn edges ride along
      val withDups = edges ++ edges.take(2) ++ edges.take(2).map(_.swap)
      val (got, _) = components(nodes, withDups)
      val want = componentsModel(nodes, withDups)
      if (got != want)
        println(s"MISMATCH nodes=$nodes edges=$withDups\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)

    val nodes = (0L until 6L).toList
    // no edge, or self-loops only: identity labels, no round
    for (edges <- Seq(Nil, nodes.map(n => n -> n))) {
      val (got, rounds) = components(nodes, edges)
      assert(got == nodes.map(n => n -> n).toMap)
      assert(rounds == 0L, s"$edges ran $rounds rounds")
    }
    // a star around the min id settles in round 1; round 2 confirms it
    val (star, starRounds) = components(nodes, nodes.tail.map(0L -> _))
    assert(star == nodes.map(_ -> 0L).toMap)
    assert(starRounds == 2L)
    // a 40-node path, listed in scrambled order, needs several rounds
    val perm = new scala.util.Random(7).shuffle((0L until 40L).toList)
    val path = perm.zip(perm.tail)
    val (chain, chainRounds) = components(perm, path)
    assert(chain == componentsModel(perm, path))
    assert(chain.values.toSet == Set(0L))
    assert(chainRounds > 2L, s"path converged in $chainRounds rounds")
    // ids at both ends of the long range: the label sums overflow a long
    val wide = Seq(Long.MaxValue, Long.MaxValue - 1, Long.MaxValue - 2,
      Long.MinValue, Long.MinValue + 1, 5L)
    val wideEdges = Seq(wide(0) -> wide(1), wide(1) -> wide(2),
      wide(3) -> wide(4), wide(4) -> wide(5))
    assert(components(wide, wideEdges)._1 == componentsModel(wide, wideEdges))
  }
}
