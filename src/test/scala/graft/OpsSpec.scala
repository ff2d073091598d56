package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
  InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data ops: dedup/similarity/text/multimodal over the sf0.001
  * fixtures and synthetic frames. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select($"vec_id", $"embedding".cast("array<double>").as("v"))

  test("exact dedup keeps the min id per text group") {
    val dup = Seq((1L, "x y z"), (5L, "x y z"), (3L, "q")).toDF("doc_id", "text")
    val got = Dedup.exact(dup, Seq("text"), "doc_id")
      .select("keep_id", "dup_cnt").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("requireBounded passes small inputs through and refuses oversize ones fast") {
    val small = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.requireBounded(small, maxRows = 2).count() == 2)
    // an "unbounded" input: the guard must fail without scanning past the
    // cap (a full count of 1e6 synthetic rows would be visibly slower,
    // but the contract we pin is the refusal itself)
    val big = spark.range(1000000L).toDF("doc_id")
    val e = intercept[IllegalArgumentException] {
      Dedup.requireBounded(big, maxRows = 100, what = "test baseline")
    }
    assert(e.getMessage.contains("test baseline"))
    assert(e.getMessage.contains("100"))
  }

  test("minhash LSH candidates superset the high-jaccard pairs and verify exactly") {
    val toks = TextAnalysis.tokens(col("text"))
    val withSh = docs.filter(size(toks) >= 3)
      .select($"doc_id", array_distinct(Dedup.shingles(toks)).as("sh"))
    // fast (xxhash64) family — the production path
    val sig = withSh.withColumn("sig", Dedup.minhashFast($"sh", 8).cast("array<string>"))
    val cand = Dedup.lshCandidates(Dedup.lshBands(sig, "sig", 4, 2, "doc_id"), "doc_id")
    val sa = withSh.select($"doc_id".as("a_id"), $"sh".as("sha"))
    val sb = withSh.select($"doc_id".as("b_id"), $"sh".as("shb"))
    val (inter, uni, jac) = Dedup.jaccardCols($"sha", $"shb")
    val verified = cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("jac", jac).filter($"jac" >= 0.8)
    // ground truth via bounded quadratic join
    val truth = sa.join(sb, $"a_id" < $"b_id").withColumn("jac", jac)
      .filter($"jac" >= 0.8).select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val got = verified.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain engineered near-dups")
    assert(got == truth, s"LSH(0.8-sim) must find all near-exact dups: got=$got want=$truth")
  }

  test("incremental candidates are new-vs-corpus only, and complete") {
    val toks = TextAnalysis.tokens(col("text"))
    val withSh = docs.filter(size(toks) >= 3)
      .select($"doc_id", array_distinct(Dedup.shingles(toks)).as("sh"))
    val sig = withSh.withColumn("sig", Dedup.minhashFast($"sh", 8).cast("array<string>"))
    val bands = Dedup.lshBands(sig, "sig", 4, 2, "doc_id")
    val split = 400L
    val inc = Dedup.lshCandidatesAgainst(
      bands.filter($"doc_id" >= split), bands.filter($"doc_id" < split), "doc_id")
      .as[(Long, Long)].collect().toSet
    // only new×corpus pairs, by construction
    assert(inc.forall { case (n, c) => n >= split && c < split })
    // and exactly the cross-split subset of the symmetric candidate set
    val full = Dedup.lshCandidates(bands, "doc_id")
      .as[(Long, Long)].collect().toSet
    val wantCross = full.collect {
      case (a, b) if a < split && b >= split => (b, a)
      case (a, b) if a >= split && b < split => (a, b)
    }
    assert(inc == wantCross,
      "increment admission must find every cross-split candidate and nothing else")
    assert(inc.nonEmpty, "fixture should contain cross-split near-dups")
  }

  test("embedding increment admission equals the cross-split sketch pairs") {
    val newSide = embs.filter($"vec_id" >= 400)
    val corpus = embs.filter($"vec_id" < 400)
    val inc = Similarity.sketchNearDupAgainst(newSide, corpus, threshold = 0.4,
      bits = 3, tables = 4)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(inc.forall { case (n, c) => n >= 400 && c < 400 })
    val full = Similarity.sketchNearDupPairs(embs, threshold = 0.4,
      bits = 3, tables = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val wantCross = full.collect {
      case (a, b) if a < 400 && b >= 400 => (b, a)
      case (a, b) if a >= 400 && b < 400 => (a, b)
    }
    assert(inc == wantCross && inc.nonEmpty,
      "increment must find exactly the cross-split sketch pairs")
  }

  test("sequential admission equals a greedy model replay of the pair relation") {
    // candidate generation depends only on per-doc band keys, so the
    // verified near-dup relation R is batching-independent; sequential
    // admitBatch must equal a driver-side greedy replay of R:
    //   within a batch, reject the higher id of any verified pair
    //   (edge-based keep-first); across batches, reject anything with a
    //   verified pair into the already-admitted store
    import graft.ops.Admission
    val dir = java.nio.file.Files.createTempDirectory("graft-admission-model")
    val cfg = Admission.Config(
      target = dir.resolve("store").toString,
      checkpoint = dir.resolve("ckpt").toString)
    val docsAll = docs.select($"doc_id", $"text")
    val sig = Admission.signatures(docsAll, cfg.perms).cache()
    val bands = Dedup.lshBands(sig, "sig", cfg.bands, cfg.rows, "doc_id")
    val (inter, uni, _) = Dedup.jaccardCols($"sha", $"shb")
    val relation = Dedup.lshCandidates(bands, "doc_id")
      .join(sig.select($"doc_id".as("a_id"), $"sh".as("sha")), "a_id")
      .join(sig.select($"doc_id".as("b_id"), $"sh".as("shb")), "b_id")
      .filter(inter * 1.0 / uni >= cfg.threshold)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet // a < b
    def near(x: Long, y: Long) = relation.contains((math.min(x, y), math.max(x, y)))

    val ranges = Seq((0L, 200L), (200L, 350L), (350L, 500L))
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      Admission.admitBatch(docsAll.filter($"doc_id" >= lo && $"doc_id" < hi),
        cfg, batchId = i.toLong)
      val batchIds = sig.filter($"doc_id" >= lo && $"doc_id" < hi)
        .select("doc_id").as[Long].collect().sorted // signature contract: ≥3 tokens
      val selfRej = batchIds.filter(b => batchIds.exists(a => a < b && near(a, b))).toSet
      admitted ++= batchIds.filter(d =>
        !selfRej(d) && !admitted.exists(c => near(c, d)))
    }
    val got = graft.ops.Admission.readStore(spark, cfg.target)
      .map(_.select("doc_id").as[Long].collect().toSeq.sorted).getOrElse(Seq.empty)
    assert(relation.nonEmpty, "fixture should contain verified near-dups")
    assert(got == admitted.sorted.toSeq,
      "store after sequential admission must equal the greedy model")
    sig.unpersist()
  }

  test("simhash of identical docs identical; of near-dups close") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.simhash16(TextAnalysis.tokens($"text")).as("s"))
    val vals = df.as[(Long, Long)].collect().toMap
    assert(vals(1L) == vals(2L))
    assert(vals(1L) >= 0 && vals(1L) < (1 << 16))
  }

  test("brute-force topk is exact vs naive; lsh topk has recall > 0.4") {
    val k = 5
    val all = embs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = embs.filter($"vec_id" < 8)
    val got = Similarity.bruteTopK(embs, queries, k)
      .select("qid", "rank", "nid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    val want = (0L until 8L).map { q =>
      q -> all.filter(_._1 != q).toSeq
        .map { case (id, v) => (id, cos(all(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    }.toMap
    assert(got == want)
    val lsh = Similarity.lshTopK(embs, queries, k, bits = 3, tables = 8)
      .select("qid", "nid").as[(Long, Long)].collect().groupBy(_._1)
    val recall = (0L until 8L).map { q =>
      val g = lsh.getOrElse(q, Array.empty).map(_._2).toSet
      g.intersect(want(q).toSet).size.toDouble / k
    }.sum / 8
    assert(recall > 0.6, s"lsh recall $recall")
  }

  test("simhash band blocking finds all pairs within the hamming budget") {
    // engineered: two near-identical docs (1 token differs), one far doc
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.simhash64(TextAnalysis.tokens($"text")).as("sim"))
    // ground truth by brute force
    val vals = df.as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val truth = (for {
      a <- vals.keys; b <- vals.keys if a < b
      if ham(vals(a), vals(b)) <= 12
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(df, "sim", "doc_id", maxHamming = 12, bands = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.contains((1L, 2L)), s"fixture near-dup should be within budget: ${ham(vals(1L), vals(2L))}")
    assert(got == truth)
  }

  test("ivfTopK with ANN-assisted corpus assignment: superCells=1 equals the brute path exactly") {
    val queries = embs.filter($"vec_id" < 8)
    def rows(superCells: Int) =
      Similarity.ivfTopK(embs, queries, 5, cells = 8, nprobe = 4,
        superCells = superCells)
        .select("qid", "rank", "nid").as[(Long, Long, Long)].collect().toSet
    // one super-group scores every centroid — identical result set, so
    // the knob is safe to flip on an existing serving path
    assert(rows(1) == rows(0))
  }

  test("ivf topk recall beats random cell assignment") {
    val queries = embs.filter($"vec_id" < 8)
    val brute = Similarity.bruteTopK(embs, queries, 5)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(iters: Int): Double = {
      val ivf = Similarity.ivfTopK(embs, queries, 5, cells = 8, nprobe = 4,
        trainIters = iters)
        .select("qid", "nid").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (0L until 8L).map { q =>
        ivf.getOrElse(q, Set.empty).intersect(brute(q)).size.toDouble / 5
      }.sum / 8
    }
    val untrained = recallOf(0)
    assert(untrained > 0.5, s"ivf recall $untrained")
    val trained = recallOf(2)
    assert(trained > 0.4, s"trained-ivf recall $trained")
    // int8-served IVF: same cells, quantized re-rank — recall against
    // the exact-double truth survives the ≤scale/2 per-component error
    val q8 = Similarity.ivfTopKQ8(embs, queries, 5, cells = 8, nprobe = 4)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val q8Recall = (0L until 8L).map { q =>
      q8.getOrElse(q, Set.empty).intersect(brute(q)).size.toDouble / 5
    }.sum / 8
    assert(q8Recall > 0.4, s"int8-ivf recall $q8Recall")
  }

  test("sketch-bucketed near-dup pairs superset-verify against bounded brute force") {
    val small = embs.filter($"vec_id" < 256)
    val brute = Similarity.nearDupPairs(small, 0.35)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sketched = Similarity.sketchNearDupPairs(small, 0.35)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(sketched.subsetOf(brute)) // exact verify never invents pairs
    if (brute.nonEmpty) {
      val recall = sketched.size.toDouble / brute.size
      assert(recall > 0.5, s"sketch recall $recall over ${brute.size} pairs")
    }
  }

  test("approximate aggregates land within tolerance of exact (sketch scale path)") {
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val exact = ord.select(countDistinct($"o_custkey")).as[Long].head()
    val approx = ord.select(approx_count_distinct($"o_custkey", 0.02)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"hll approx=$approx exact=$exact")
    val exactMedian = ord.stat.approxQuantile("o_totalprice", Array(0.5), 0.0).head
    val fastMedian = ord.stat.approxQuantile("o_totalprice", Array(0.5), 0.01).head
    assert(math.abs(fastMedian - exactMedian) / exactMedian < 0.1)
  }

  test("int8 quantization: values in range, error bounded by scale/2, zero-vector safe") {
    import graft.ops.Similarity
    val vecs = Seq(
      (1L, Array(0.5, -1.27, 0.003, 1.27)),
      (2L, Array(100.0, -0.1, 0.0, 3.7)),
      (3L, Array(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v")
    val qdf = Similarity.int8Quantize(vecs).cache()
    val q = Similarity.int8Audit(qdf).orderBy("vec_id")
      .select("vec_id", "scale", "q", "max_err")
      .as[(Long, Double, Array[Double], Double)].collect()
    for ((id, scale, qv, maxErr) <- q) {
      assert(qv.forall(x => x == x.floor && math.abs(x) <= 127), s"vec $id: $qv")
      if (scale > 0) assert(maxErr <= scale / 2 + 1e-12, s"vec $id err $maxErr > ${scale / 2}")
      else assert(qv.forall(_ == 0.0) && maxErr == 0.0)
    }
    // the largest-|value| dim quantizes to exactly ±127
    assert(q(0)._3.contains(-127.0) || q(0)._3.contains(127.0))
    qdf.unpersist()
  }

  test("multimodal stub: binary plumbing with deterministic features") {
    val media = Multimodal.attachBinary(docs)
    assert(media.schema.fields.map(_.name).toSeq == Seq("media_id", "bytes", "meta"))
    val feats = Multimodal.opaqueFeatures(spark, media)
    val row = feats.filter($"media_id" === 0L).collect().head
    val text0 = docs.filter($"doc_id" === 0L).select("text").as[String].collect().head
    assert(row.getAs[Long]("n_bytes") == text0.getBytes("UTF-8").length)
    assert(row.getAs[Long]("n_frames") == (text0.length + 31) / 32)
    assert(row.getAs[String]("frame_digest").length == 32)
    assert(feats.count() == docs.count())
  }

  test("text quality + langid + fingerprint are total and sane") {
    val q = TextAnalysis.quality(docs)
    assert(q.filter($"n_tokens" <= 0).count() == 0)
    assert(q.filter($"stop_ratio" < 0 || $"stop_ratio" > 1).count() == 0)
    val l = TextAnalysis.langId(docs)
    assert(l.filter(!$"pred_lang".isin("en", "es", "de", "fr")).count() == 0)
    val f = TextAnalysis.fingerprint(docs)
    assert(f.filter(length($"fp") =!= 32).count() == 0)
  }

  test("tfidf: hand-computed scores, ranks dense in [1, k], deterministic") {
    val tiny = Seq(
      (1L, "the the the zebra the"),
      (2L, "the quick fox"),
      (3L, "the fox den")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidf(tiny, "doc_id", "text", topK = 2)
      .orderBy("doc_id", "rank").collect()
    // every doc gets ranks 1..min(k, |terms|), no gaps
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(5)).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // doc 1 (N=3): score(the) = tf 4 · N 3 / df 3 = 4.0,
    //              score(zebra) = 1 · 3 / 1 = 3.0
    val d1 = got.filter(_.getLong(0) == 1L).map(r => (r.getString(1), r.getDouble(4)))
    assert(d1.head._1 == "the" && d1.head._2 === 4.0)
    assert(d1(1)._1 == "zebra" && d1(1)._2 === 3.0)
    // determinism incl. tie-break
    val again = TextAnalysis.tfidf(tiny, "doc_id", "text", topK = 2)
      .orderBy("doc_id", "rank").collect()
    assert(got.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("hammingBallPairs finds exactly the band-blocked verified pair set") {
    val sigs = docs
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      .withColumn("sim", Dedup.simhash16($"toks"))
      .select($"sim".as("id"), $"sim").distinct()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "b_id", "hamming").orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val ball = norm(Dedup.hammingBallPairs(sigs, "sim", "id", radius = 2, bits = 16))
    val band = norm(Dedup.simhashPairs(sigs, "sim", "id",
      maxHamming = 2, bands = 4, bitsTotal = 16))
    assert(ball.nonEmpty && ball === band,
      s"ball ${ball.size} pairs vs band ${band.size}")
    // each pair must appear exactly once (its mask is a_sim^b_sim)
    assert(ball.map(p => (p._1, p._2)).distinct.size === ball.size)
  }

  test("components: transitive chains collapse, isolated nodes keep their id") {
    import graft.ops.Clusters
    // chain 1-2, 2-3 (1~3 only transitively); pair 10-11; isolated 20;
    // edge listed once but graph is undirected (7 reaches 3's component
    // via a reversed edge)
    val nodes = Seq(1L, 2L, 3L, 7L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (7L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Clusters.components(nodes, "id", edges, "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
      .map(identity), s"got ${got.toSeq}")
    // a path whose ids rise along it, over 4 partitions that AQE may
    // not coalesce (a child session; the shared one stays as it is):
    // a level merges only edges that share a partition, so one level
    // cannot settle it — loud failure at maxIters = 1, labels without it
    val spread = spark.newSession()
    spread.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val rising = spread.range(40).select(col("id").as("a"),
      (col("id") + 1).as("b"))
    val e = intercept[IllegalArgumentException] {
      Clusters.components(spread.range(41).toDF(), "id", rising, "a", "b",
        maxIters = 1)
    }
    assert(e.getMessage.contains("fixpoint"))
    val settled = Clusters.components(spread.range(41).toDF(), "id", rising, "a", "b")
    assert(settled.select("comp").distinct().as[Long].collect().toSeq ==
      Seq(0L))
  }

  test("nearDupClusters: verified-edge CC — chains merge, dissimilar and short docs stay singletons") {
    import graft.ops.Clusters
    // 1~2 and 2~3 are genuine near-dups (shingle Jaccard exactly 0.5);
    // 1~3 only transitively (Jaccard 0.2 — below the bar, so the
    // cluster exists because of the CHAIN, not a direct pair). 4 is
    // dissimilar, 5 too short to shingle — both singletons labeled by
    // their own id. This is the split-feeding cluster definition: an
    // edge requires measured similarity (no signature-space
    // percolation), every doc appears.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "beta gamma delta zeta eta"),
      (4L, "totally different words over here"),
      (5L, "too short")).toDF("doc_id", "text")
    val got = Clusters.nearDupClusters(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L),
      s"got $got")
    // raising the bar above the chain's 0.5 splits it apart
    val strict = Clusters.nearDupClusters(docs, "doc_id", "text",
        minJaccard = 0.6)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(strict === Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L),
      s"got $strict")
  }

  /** Every cache a plan reads, nested caches included. */
  private def cachesIn(qe: QueryExecution): Seq[InMemoryRelation] = {
    object aqe extends AdaptiveSparkPlanHelper
    def nested(r: InMemoryRelation): Seq[InMemoryRelation] =
      r +: aqe.collect(r.cacheBuilder.cachedPlan) {
        case s: InMemoryTableScanExec => s.relation
      }.flatMap(nested)
    qe.withCachedData.collect { case r: InMemoryRelation => r }.flatMap(nested)
  }

  test("nearDupClusters plans its edges once over one signature cache") {
    import graft.ops.Clusters
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "beta gamma delta zeta eta"),
      (4L, "totally different words over here")).toDF("doc_id", "text")
    var got: Seq[(Long, Long)] = Nil
    val runs = Observed(spark) {
      got = Clusters.nearDupClusters(docs, "doc_id", "text")
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    }.executions
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    val caches = runs.flatMap { case (_, qe) => cachesIn(qe) }
      .map(r => r.cacheBuilder -> r.output.map(_.name))
      .distinctBy { case (b, _) => System.identityHashCode(b) }
    // the ONE signature cache is every cache the call reads: the
    // edges stream into components' first level uncached
    assert(caches.map(_._2) == Seq(Seq("doc_id", "sh", "sig")),
      s"caches: ${caches.map(_._2)}")
  }

  test("components runs one cut and one job outside SQL per level") {
    import graft.ops.Clusters
    val nodes = (0L until 8L).toDF("id")
    val star = (1L until 8L).map(0L -> _).toDF("a", "b")
    val clique = for (x <- 0L until 8L; y <- 0L until x) yield (x, y)
    for (edges <- Seq(star, clique.toDF("a", "b"))) {
      var labeled: org.apache.spark.sql.DataFrame = null
      val Observed(runs, _, bareJobs) = Observed(spark) {
        labeled = Clusters.components(nodes, "id", edges, "a", "b")
      }
      // an edge set this small is one partition: its union-find
      // settles the graph in ONE level, whose lineage cut is the only
      // SQL execution (the edges are never counted or cached apart)
      assert(runs.map(_._1.takeWhile(_ != ' ')) == Seq("localCheckpoint"),
        s"executions: ${runs.map(_._1)}")
      // the level's multi-root count is one job over its checkpoint RDD
      assert(bareJobs == 1, s"$bareJobs jobs outside SQL for one level")
      assert(labeled.as[(Long, Long)].collect().toMap ==
        (0L until 8L).map(_ -> 0L).toMap)
    }
  }

  test("pqTopK: exact reconstruction when every vector is a codeword") {
    import graft.ops.Similarity
    // 4 vectors, dim 4, m=2 subspaces, k=4 codebook = the whole corpus,
    // iters=0 -> the codebooks ARE the vectors' subvectors, so ADC
    // distance equals the exact squared L2 (integer coordinates keep
    // both engines' folds exact, no tolerance needed)
    val vs = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 2.0, 0.0, 0.0)),
      (3L, Seq(3.0, 3.0, 3.0, 3.0))).toDF("vec_id", "v")
    val got = Similarity.pqTopK(vs, vs.filter($"vec_id" === 0L), topK = 3,
      m = 2, k = 4, iters = 0, portableSeeding = true, trainSample = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((0L, 1L, 1L, 1.0), (0L, 2L, 2L, 4.0),
      (0L, 3L, 3L, 36.0)), s"got ${got.toSeq}")
  }

  test("keepBest: highest score survives per cluster, ties to smallest id") {
    import graft.ops.Clusters
    // cluster 1: clear winner (id 3); cluster 10: score tie between
    // 10 and 12 -> smallest id wins; cluster 20: singleton survives
    val labeled = Seq(
      (1L, 1L, 5L), (2L, 1L, 9L), (3L, 1L, 12L),
      (10L, 10L, 7L), (11L, 10L, 3L), (12L, 10L, 7L),
      (20L, 20L, 0L)).toDF("doc_id", "cluster", "score")
    val got = Clusters.keepBest(labeled, "doc_id", "cluster", "score")
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 3L, 12L), (10L, 10L, 7L), (20L, 20L, 0L)),
      s"got ${got.toSeq}")
    // exactly one survivor per cluster, always
    assert(got.map(_._1).distinct.length === got.length)
  }

  test("fused profile is bit-identical to the single-signal operators, in one scan") {
    val single = {
      val toksDf = docs.select($"doc_id", TextAnalysis.tokens($"text").as("toks")).cache()
      TextAnalysis.quality(docs).select("doc_id", "n_tokens", "stop_cnt",
          "sum_len", "stop_ratio", "avg_tok_len")
        .join(TextAnalysis.langId(docs).select("doc_id", "s_en", "s_es",
          "s_de", "s_fr", "pred_lang"), "doc_id")
        .join(TextAnalysis.repetition(toksDf).select("doc_id", "dup_tok_frac",
          "dup_2gram_frac", "dup_3gram_frac"), "doc_id")
        .join(TextAnalysis.fingerprint(docs).select("doc_id", "fp"), "doc_id")
        .join(TextAnalysis.tokenCounts(docs).select("doc_id", "n_re", "bpe_est"), "doc_id")
    }
    val cols = single.columns.toSeq
    val fused = TextAnalysis.profile(docs).select(cols.head, cols.tail: _*)
    // bit-identical: same expressions over the same bound token array
    assert(fused.orderBy("doc_id").collect().toSeq ===
      single.orderBy("doc_id").collect().toSeq)
    // one corpus scan, map-only: no shuffle at all below the sort, and
    // exactly one parquet scan in the whole plan
    val plan = TextAnalysis.profile(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"profile must be map-only:\n$plan")
    assert("Scan parquet|FileScan".r.findAllIn(plan).length == 1,
      s"profile must read the corpus once:\n$plan")
  }

  test("multimodal frame sampling and resize stubs: exact windows") {
    import graft.ops.Multimodal
    // 80 bytes → frames of 32 at idx 0,1,2 (last short); everyK=2 → 0,2
    val media = Seq((7L, ("ab" * 40).getBytes("UTF-8")))
      .toDF("media_id", "bytes")
    val frames = Multimodal.frameSample(spark, media, stride = 32, everyK = 2)
      .orderBy("frame_idx").collect()
    assert(frames.map(_.getLong(1)).toSeq == Seq(0L, 2L))
    assert(frames.map(_.getLong(3)).toSeq == Seq(32L, 16L)) // tail frame short
    def md5hex(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
    assert(frames(0).getString(2) == md5hex(("ab" * 16).getBytes("UTF-8")))
    // resize: 80 bytes → 64 samples at idx i*80/64; 10 bytes → identity
    val r = Multimodal.resizeBytes(spark,
      Seq((1L, (0 until 80).map(i => ('a' + i % 26).toChar).mkString.getBytes("UTF-8")),
          (2L, "0123456789".getBytes("UTF-8")),
          (3L, Array.empty[Byte])).toDF("media_id", "bytes"), target = 64)
      .orderBy("media_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // empty payload dropped
    assert(r(0).getLong(1) == 64L)
    assert(r(1).getLong(1) == 10L)
    assert(r(1).getString(2) == md5hex("0123456789".getBytes("UTF-8"))) // identity
  }

  test("real image decode: ImageIO round-trip recovers exact raster; jpeg dims") {
    // PNG is lossless: decode must recover the synthetic raster's exact
    // dimensions and channel sums (closed-form in media_id).
    val media = Multimodal.synthPng(spark, Seq(37L, 0L, 255L).toDF("doc_id"))
    val dec = Multimodal.decodeImage(spark, media).orderBy("media_id").collect()
    assert(dec.map(_.getAs[String]("format")).toSeq == Seq("png", "png", "png"))
    def expected(id: Long) = {
      val (w, h) = ((4 + id % 13).toInt, (3 + id % 11).toInt)
      val sr = h.toLong * (0 until w).map(x => (id + x) % 256).sum
      val sg = w.toLong * (0 until h).map(y => (id + y) % 256).sum
      val sb = (for (x <- 0 until w; y <- 0 until h) yield (id + x + y) % 256).sum
      (w, h, sr, sg, sb)
    }
    for (row <- dec) {
      val (w, h, sr, sg, sb) = expected(row.getLong(0))
      assert((row.getInt(2), row.getInt(3)) == (w, h))
      assert((row.getLong(4), row.getLong(5), row.getLong(6)) == (sr, sg, sb))
    }
    // identity resize (outW=w, outH=h) reproduces the decode sums
    val id37 = media.filter($"media_id" === 37L)
    val (w37, h37, sr37, sg37, sb37) = expected(37L)
    val rz = Multimodal.resizeImage(spark, id37, outW = w37, outH = h37).collect().head
    assert((rz.getLong(3), rz.getLong(4), rz.getLong(5)) == (sr37, sg37, sb37))
    // a JPEG payload (lossy — sums not pinned) still decodes to true
    // dims and a detected "jpeg" format via the same reader-dispatch path
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(Multimodal.synthRaster(5L), "jpg", bos)
    val jmedia = Seq((5L, bos.toByteArray)).toDF("media_id", "bytes")
    val jrow = Multimodal.decodeImage(spark, jmedia).collect().head
    assert(jrow.getAs[String]("format").contains("jpeg"))
    assert((jrow.getInt(2), jrow.getInt(3)) == ((4 + 5 % 13), (3 + 5 % 11)))
    // opaque bytes (no JDK codec) fail loudly, not silently
    val bad = Seq((9L, "not an image".getBytes("UTF-8"))).toDF("media_id", "bytes")
    val e = intercept[Exception](Multimodal.decodeImage(spark, bad).collect())
    assert(causeMessages(e).exists(_.contains("no JDK image codec")))
  }

  test("perceptual hash: identical rasters collide, perturbed ones stay near") {
    // two docs with the same raster id (idMod) must hash identically
    val media = Multimodal.synthPng(spark,
      Seq(3L, 67L, 5L).toDF("doc_id"), idMod = 64) // 3 and 67 share a raster
    val hs = Multimodal.aHash64(spark, media).orderBy("media_id")
      .select("media_id", "phash").as[(Long, String)].collect().toMap
    assert(hs(3L) == hs(67L))
    assert(hs(3L) != hs(5L))
    assert(hs.values.forall(h => h.length == 64 && h.forall(c => c == '0' || c == '1')))
    // a small single-pixel perturbation (+3 blue at (0,0)) moves few
    // bits (near-dup, not equal): hamming distance stays inside what
    // 4x16-bit band blocking catches. (A LARGE perturbation moves the
    // mean and legitimately flips many threshold bits — aHash proximity
    // tracks perturbation size, pin the small case.)
    val img = Multimodal.synthRaster(3L)
    val rgb0 = img.getRGB(0, 0)
    img.setRGB(0, 0, rgb0 + 3) // blue channel +3 → gray cell +1
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val pert = Multimodal.aHash64(spark,
      Seq((9L, bos.toByteArray)).toDF("media_id", "bytes"))
      .select("phash").as[String].collect().head
    val dist = hs(3L).zip(pert).count { case (a, b) => a != b }
    assert(dist > 0 && dist <= 16, s"hamming $dist")
  }

  test("PII redaction counts and scrubs; phones never double-count inside emails") {
    val df = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org or 555-1234 thanks"),
      (2L, "digits 555-0199 only"),
      (3L, "clean text, nothing here")).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(df).orderBy("doc_id")
      .select("doc_id", "text", "n_emails", "n_phones")
      .as[(Long, String, Long, Long)].collect()
    assert(r(0) == ((1L, "mail me at <EMAIL> or <PHONE> thanks", 1L, 1L)))
    assert(r(1) == ((2L, "digits <PHONE> only", 0L, 1L)))
    assert(r(2) == ((3L, "clean text, nothing here", 0L, 0L)))
  }

  test("packed-lane folds raise on >=2^16-token documents instead of wrapping") {
    // 70,000 single-char tokens: every 16-bit lane would overflow silently
    val monster = Seq((1L, Array.fill(70000)("x").mkString(" ")))
      .toDF("doc_id", "text")
    def failsLoudly(f: => Unit): Unit = {
      val e = intercept[Exception](f)
      assert(causeMessages(e).exists(_.contains("lane overflow")), s"got: $e")
    }
    failsLoudly(TextAnalysis.quality(monster).collect())
    failsLoudly(TextAnalysis.langId(monster).collect())
    failsLoudly(monster
      .select(Dedup.simhash16(TextAnalysis.tokens($"text")).as("s")).collect())
    // just under the bound still computes (65,535 tokens)
    val big = Seq((1L, Array.fill(65535)("x").mkString(" "))).toDF("doc_id", "text")
    assert(TextAnalysis.quality(big).select("n_tokens").head.getLong(0) == 65535L)
  }

  test("boilerplate masking: hand-computed coverage, order-preserving reassembly") {
    val df = Seq(
      (1L, "a b c d e x y z w q"),          // "a b c d e" shared with doc 2
      (2L, "a b c d e p q r s t"),          // fully covered by two grams
      (3L, "m n o p q r s t u v"),          // "p q r s t" shared with doc 2
      (4L, "lone words only here now"),     // 5 toks, no shared gram
      (5L, "tiny")                          // < n tokens: nothing to mask
    ).toDF("doc_id", "text")
    val r = TextAnalysis.maskBoilerplate(df, "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(r(0) == ((1L, 10L, 5L, "x y z w q")))
    assert(r(1) == ((2L, 10L, 10L, ""))) // every token under a shared gram
    assert(r(2) == ((3L, 10L, 5L, "m n o u v")))
    assert(r(3) == ((4L, 5L, 0L, "lone words only here now")))
    assert(r(4) == ((5L, 1L, 0L, "tiny")))
  }

  test("lm fluency: rare bigrams by integer cross-multiplication, short docs total") {
    // model: bc(a,b)=5, bc(b,a)=4, bc(a,c)=1; uc(a)=6, uc(b)=4
    // threshold 1/5: rare iff bc*5 < uc — only (a,c): 5 < 6
    val df = Seq(
      (1L, "a b a b a b a b a b"),
      (2L, "a c"),
      (3L, "z")).toDF("doc_id", "text")
    val r = TextAnalysis.lmFluency(df, "doc_id", "text", num = 1, den = 5)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(r(0) == ((1L, 9L, 0L, 0.0)))
    assert(r(1) == ((2L, 1L, 1L, 1.0)))
    assert(r(2) == ((3L, 0L, 0L, 0.0))) // no bigrams, still a row
  }

  test("group sketches: identical corpora agree on every slot, bound enforced") {
    val df = Seq(
      ("g1", "the quick brown fox jumps over the lazy dog"),
      ("g1", "pack my box with five dozen liquor jugs"),
      ("g2", "the quick brown fox jumps over the lazy dog"), // = g1 doc 1
      ("g2", "pack my box with five dozen liquor jugs"),     // = g1 doc 2
      ("g3", "completely different shingle material lives in this group")
    ).toDF("source", "text")
    val r = Dedup.groupSketchSim(df, "source", "text", perms = 8)
      .orderBy("grp_a", "grp_b")
      .as[(String, String, Long, Double)].collect()
    assert(r.length == 3) // C(3,2) unordered pairs
    val g12 = r.find(p => p._1 == "g1" && p._2 == "g2").get
    assert(g12._3 == 8L && g12._4 == 1.0, s"identical corpora must fully agree: $g12")
    // disjoint shingle sets: agreement only by 16-bit slice collision
    assert(r.filter(_._2 == "g3").forall(_._3 < 8L))
    val e = intercept[Exception](
      Dedup.groupSketchSim(df, "source", "text", perms = 8, maxGroups = 2).collect())
    assert(causeMessages(e).exists(_.contains("caller-bounded")), s"got: $e")
  }

  test("chunk dedup: first occurrence wins, intra/cross split, rebuilt text") {
    def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val a8 = words("a", 8); val b8 = words("b", 8); val c8 = words("c", 8)
    val q8 = (1 to 8).map(_ => "q").mkString(" ")
    val df = Seq(
      (1L, s"$a8 $b8"),   // both chunks novel
      (2L, s"$a8 $c8"),   // chunk 0 cross-dup of doc 1, chunk 1 novel
      (3L, s"$b8 $b8"),   // both chunks cross-dups of doc 1 → rebuilt empty
      (5L, s"$q8 $q8")    // chunk 1 intra-doc dup (first occurrence doc 5 pos 0)
    ).toDF("doc_id", "text")
    val r = Dedup.chunkDedup(df, "doc_id", "text", chunkTokens = 8)
      .select("doc_id", "n_chunks", "dup_chunks", "cross_dup_chunks", "kept_text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(r(0) == ((1L, 2L, 0L, 0L, s"$a8 $b8")))
    assert(r(1) == ((2L, 2L, 1L, 1L, c8)))
    assert(r(2) == ((3L, 2L, 2L, 2L, "")))
    assert(r(3) == ((5L, 2L, 1L, 0L, q8)))
    // short tail chunk: 10 tokens → chunks of 8 and 2, reassembled intact
    val tail = Seq((9L, words("t", 10))).toDF("doc_id", "text")
    val t = Dedup.chunkDedup(tail, "doc_id", "text", chunkTokens = 8)
      .select("n_chunks", "kept_text").as[(Long, String)].head()
    assert(t == ((2L, words("t", 10))))
  }

  test("content-defined chunking is shift-robust where fixed chunking is not") {
    // doc 2 = doc 1 with ONE token prepended: fixed windows all shift
    // (zero chunk-level dups), CDC boundaries re-align after the first
    // cut token, so most of doc 2 dedups against doc 1
    val base = (1 to 400).map(i => s"w$i").mkString(" ") // all tokens distinct
    val df = Seq((1L, base), (2L, s"zz $base")).toDF("doc_id", "text")
    val fixed = Dedup.chunkDedup(df, "doc_id", "text", chunkTokens = 8)
      .filter($"doc_id" === 2L)
      .select("n_chunks", "cross_dup_chunks").as[(Long, Long)].head()
    val cdc = Dedup.chunkDedupCDC(df, "doc_id", "text", cutNibbles = "01")
      .filter($"doc_id" === 2L)
      .select("n_chunks", "cross_dup_chunks").as[(Long, Long)].head()
    // the prepended token misaligns every fixed window
    assert(fixed._2 == 0, s"fixed chunking unexpectedly re-aligned: $fixed")
    // CDC recovers nearly everything (all but the first segment)
    assert(cdc._2 >= cdc._1 - 2,
      s"CDC should re-align after the first cut: $cdc")
    // reassembly: a solo all-distinct doc survives CDC dedup VERBATIM
    // (segment order restored by position, boundaries invisible)
    val solo = Dedup.chunkDedupCDC(Seq((7L, base)).toDF("doc_id", "text"),
      "doc_id", "text")
      .select("kept_text").as[String].head()
    assert(solo == base)
  }

  test("exact span cover removes misaligned shared passages the chunkers miss") {
    // docs share a 24-token passage at offsets 3 and 6 — misaligned for
    // any fixed-8 frame. The exact cover marks all 24 tokens of the
    // SECOND occurrence (and only them); the rebuilt text drops exactly
    // the passage.
    def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p24 = (1 to 24).map(i => s"p$i").mkString(" ")
    val pre1 = (1 to 3).map(i => s"a$i").mkString(" ")
    val suf1 = (1 to 20).map(i => s"b$i").mkString(" ")
    val pre2 = (1 to 6).map(i => s"c$i").mkString(" ")
    val suf2 = (1 to 20).map(i => s"d$i").mkString(" ")
    val df = Seq(
      (1L, s"$pre1 $p24 $suf1"),
      (2L, s"$pre2 $p24 $suf2")
    ).toDF("doc_id", "text")
    val r = Dedup.exactSpanCover(df, "doc_id", "text", minTokens = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_toks", "dup_cover", "kept_md5")
      .as[(Long, Long, Long, String)].collect()
    assert(r(0) == ((1L, 47L, 0L, md5Hex(s"$pre1 $p24 $suf1"))))
    assert(r(1) == ((2L, 50L, 24L, md5Hex(s"$pre2 $suf2"))))
    // the fixed chunker sees NOTHING here (no 8-aligned frame matches)
    val fx = Dedup.chunkDedup(df, "doc_id", "text", chunkTokens = 8)
      .agg(sum("dup_chunks")).as[Long].head()
    assert(fx == 0L, s"misaligned passage should defeat fixed chunking, got $fx")
    // overlapping windows merge into ONE cover interval (no L-times
    // double counting), and a sub-L shared fragment is NOT covered
    val short = Seq((11L, words("s", 6) + " x y"), (12L, words("s", 6) + " z w"))
      .toDF("doc_id", "text")
    val s = Dedup.exactSpanCover(short, "doc_id", "text", minTokens = 8)
      .agg(sum("dup_cover")).as[Long].head()
    assert(s == 0L, "a 6-token shared fragment is below the span floor")
  }

  test("CDC short-segment guard keeps sub-span dup fragments") {
    // "of the" recurs in both docs as a 2-token CDC segment candidate;
    // with the guard at 4 a dup segment that short is kept, so doc 2
    // only loses genuinely long shared spans
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, s"zz $base")).toDF("doc_id", "text")
    val noGuard = Dedup.chunkDedupCDC(df, "doc_id", "text", "01")
      .filter($"doc_id" === 2L).select("dup_chunks").as[Long].head()
    val guarded = Dedup.chunkDedupCDC(df, "doc_id", "text", "01",
      minRemoveTokens = 4)
      .filter($"doc_id" === 2L).select("dup_chunks").as[Long].head()
    // the guard can only ever keep MORE (dup count monotone down), and
    // the default (1) preserves historical behavior
    assert(guarded <= noGuard)
    val default1 = Dedup.chunkDedupCDC(df, "doc_id", "text", "01",
      minRemoveTokens = 1)
      .filter($"doc_id" === 2L).select("dup_chunks").as[Long].head()
    assert(default1 == noGuard)
  }

  test("frame dedup: byte-window keeper algebra over opaque media") {
    def blk(c: Char) = c.toString * 32
    val media = Seq(
      (1L, blk('a') + blk('b')),          // two novel frames
      (2L, blk('a') + blk('c')),          // frame 0 cross-dup of media 1
      (5L, blk('d') + blk('d') + "dd")    // frame 1 intra-dup; short tail novel
    ).toDF("media_id", "text")
      .select($"media_id", encode($"text", "UTF-8").as("bytes"))
    val r = Multimodal.frameDedup(media, frameBytes = 32)
      .orderBy("media_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 2L, 0L, 0L), (2L, 2L, 1L, 1L), (5L, 3L, 1L, 0L)))
  }
}
