package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.source.Changelog.table
import graft.ops.{Clusters, Dedup, Mixing, SpanStore, TextAnalysis}

/** Deduplication queries over `documents`. The MinHash+LSH query is the
  * scale path (runs unbounded — candidate generation is a bucket join);
  * the pairwise n-gram Jaccard query is the bounded quadratic baseline
  * that defines what LSH approximates. */
object DedupQueries {

  /** Distinct trigram-shingle sets per doc. Tokens are cached BEFORE
    * shingling: without the barrier, Catalyst inlines the regex split
    * into every element_at of the shingle transform and re-tokenizes the
    * text ~3× per shingle (measured 8.7s → 0.9s at sf0.1). At cluster
    * scale the same role is played by a persisted/checkpointed token
    * table. */
  private def shingleFrame(s: org.apache.spark.sql.SparkSession, dir: String,
      extraCols: Seq[String] = Seq.empty): org.apache.spark.sql.DataFrame = {
    val docs = table(s, dir, "documents")
    val toksDf = docs.select(
      (Seq(col("doc_id")) ++ extraCols.map(col) :+
        TextAnalysis.tokens(col("text")).as("toks")): _*).cache()
    toksDf.filter(size(col("toks")) >= 3)
      .select((Seq(col("doc_id")) ++ extraCols.map(col) :+
        array_distinct(Dedup.shingles(col("toks"))).as("sh")): _*)
      .cache()
  }

  private val shCte =
    """WITH t AS (
      |  SELECT doc_id, lang, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |         list_distinct(list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM t WHERE len(toks) >= 3)""".stripMargin

  /** Verified-edge near-dup cluster CTE, the oracle replay of
    * [[Clusters.nearDupClusters]] (k=8, bands=4, rows=2, Jaccard ≥
    * 0.5): banded-MinHash candidates → exact-Jaccard verify →
    * recursive reachability → min-id label. Shared by
    * `split_leakage_safe`, `dedup_clusters`, and `dedup_keep_best` —
    * every cluster-consuming decision keys on THIS definition, never
    * on raw signature-space adjacency (which percolates; see the
    * dedup_clusters comment). Ends with `c(doc_id, cluster)`; every
    * doc appears (no-near-dup and too-short docs are singletons). */
  private val nearDupClusterCte =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM t WHERE len(toks) >= 3),
      |sig AS (
      |  SELECT doc_id, sh,
      |    list_transform(range(0, 8),
      |      i -> list_aggregate(list_transform(sh,
      |             x -> substr(md5(x), CAST(4*i + 1 AS INTEGER), 4)), 'min')) AS mh
      |  FROM s),
      |bands AS (
      |  SELECT doc_id, b, mh[2*b+1] || '#' || mh[2*b+2] AS key
      |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
      |ve AS (
      |  SELECT a_id, b_id FROM cand
      |  JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id
      |  WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0
      |        / (len(sa.sh) + len(sb.sh)
      |           - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))
      |        >= 0.5),
      |e AS (SELECT a_id AS u, b_id AS v FROM ve
      |      UNION SELECT b_id, a_id FROM ve),
      |reach(v, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN e ON reach.v = e.u),
      |c AS (SELECT v AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster
      |      FROM reach GROUP BY 1)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    "dedup_exact" -> QueryDef(
      (s, dir) => {
        Dedup.exact(table(s, dir, "documents"), Seq("text"), "doc_id")
          .select(md5(col("text")).as("h"), col("keep_id"), col("dup_cnt"))
          .orderBy("keep_id")
      },
      Some("""SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // Sub-document exact span dedup: fixed 8-token chunks, the corpus's
    // first occurrence of each distinct chunk wins, and every document
    // is rebuilt from its surviving chunks. The keep decision AND the
    // rebuilt text are value-checked (kept_md5), so the oracle verifies
    // chunking, the first-occurrence tie-break, and the position-order
    // reassembly — not just the dup counts.
    "dedup_spans" -> QueryDef(
      (s, dir) => {
        Dedup.chunkDedup(table(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 8)
          .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
            col("cross_dup_chunks"), col("dup_frac"),
            md5(col("kept_text")).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |c0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, CAST(ceil(len(toks)/8.0) AS BIGINT)),
        |      i -> struct_pack(pos := i,
        |        chunk := array_to_string(toks[(i*8+1):(i*8+8)], ' ')))) AS u
        |  FROM t WHERE len(toks) >= 1),
        |c AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.chunk AS chunk FROM c0),
        |k AS (
        |  SELECT chunk, min(doc_id * 1048576 + pos) AS firstk FROM c GROUP BY chunk),
        |f AS (
        |  SELECT c.doc_id, c.pos, c.chunk,
        |    (c.doc_id * 1048576 + c.pos = k.firstk) AS kept,
        |    (CAST(k.firstk // 1048576 AS BIGINT) <> c.doc_id) AS crossdup
        |  FROM c JOIN k USING (chunk))
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS dup_chunks,
        |  CAST(SUM(CASE WHEN crossdup THEN 1 ELSE 0 END) AS BIGINT) AS cross_dup_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS dup_frac,
        |  md5(coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE kept), '')) AS kept_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      bench = true),

    // Span dedup with CONTENT-DEFINED boundaries: a chunk ends after
    // every token whose md5 starts with nibble 0 or 1 (mean length 8
    // tokens) — boundaries depend only on local content, so an
    // insertion re-chunks one segment instead of shifting every
    // downstream fixed window. Chunking, keep decisions, and the
    // reassembled text are all value-checked.
    "dedup_spans_cdc" -> QueryDef(
      (s, dir) => {
        Dedup.chunkDedupCDC(table(s, dir, "documents"), "doc_id", "text",
          cutNibbles = "01")
          .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
            col("cross_dup_chunks"), col("dup_frac"),
            md5(col("kept_text")).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
        |tok0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |    i -> struct_pack(tpos := i - 1, tok := toks[i]))) AS u
        |  FROM t WHERE len(toks) >= 1),
        |tok AS (SELECT doc_id, CAST(u.tpos AS BIGINT) AS tpos, u.tok AS tok FROM tok0),
        |seg AS (SELECT doc_id, tpos, tok,
        |  COALESCE(SUM(CASE WHEN substr(md5(tok), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY tpos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM tok),
        |c AS (SELECT doc_id, pos, string_agg(tok, ' ' ORDER BY tpos) AS chunk
        |      FROM seg GROUP BY 1, 2),
        |k AS (SELECT chunk, min(doc_id * 1048576 + pos) AS firstk FROM c GROUP BY chunk),
        |f AS (
        |  SELECT c.doc_id, c.pos, c.chunk,
        |    (c.doc_id * 1048576 + c.pos = k.firstk) AS kept,
        |    (CAST(k.firstk // 1048576 AS BIGINT) <> c.doc_id) AS crossdup
        |  FROM c JOIN k USING (chunk))
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS dup_chunks,
        |  CAST(SUM(CASE WHEN crossdup THEN 1 ELSE 0 END) AS BIGINT) AS cross_dup_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS dup_frac,
        |  md5(coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE kept), '')) AS kept_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // EXACT substring dedup at token granularity — the operator the
    // two chunkers above approximate (suffix-array dedup restated as a
    // stride-1 gram dataflow): a token dies iff it sits inside some
    // ≥8-token window whose content appeared earlier in corpus order,
    // with NO boundary quantization. Coverage, counts, and the rebuilt
    // surviving text are all value-checked; graft.SpanPrecision
    // measures fixed/CDC recall and over-removal against this.
    "dedup_span_exact" -> QueryDef(
      (s, dir) => {
        Dedup.exactSpanCover(table(s, dir, "documents"), "doc_id", "text",
          minTokens = 8)
          .select(col("doc_id"), col("n_toks"), col("dup_cover"),
            col("dup_frac"), col("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 7),
        |    i -> struct_pack(pos := i,
        |      h := md5(array_to_string(toks[(i+1):(i+8)], ' '))))) AS u
        |  FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.h AS h FROM g0),
        |k AS (SELECT h, min(doc_id * 1048576 + pos) AS firstk FROM g GROUP BY h),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN k USING (h)
        |      WHERE g.doc_id * 1048576 + g.pos <> firstk),
        |tok0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |    i -> struct_pack(pos := i - 1, tok := toks[i]))) AS u
        |  FROM t WHERE len(toks) >= 1),
        |tok AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok AS tok FROM tok0),
        |ev AS (
        |  SELECT doc_id, pos, 1 AS istok, tok, CAST(NULL AS BIGINT) AS st FROM tok
        |  UNION ALL
        |  SELECT doc_id, pos, 0 AS istok, CAST(NULL AS VARCHAR) AS tok, pos AS st FROM d),
        |run AS (SELECT *, max(st) OVER (PARTITION BY doc_id ORDER BY pos, istok
        |  ROWS UNBOUNDED PRECEDING) AS runst FROM ev),
        |tc AS (SELECT doc_id, pos, tok,
        |  (runst IS NOT NULL AND runst + 8 > pos) AS covered
        |  FROM run WHERE istok = 1)
        |SELECT doc_id, COUNT(*) AS n_toks,
        |  CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS dup_cover,
        |  CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac,
        |  md5(coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT covered), '')) AS kept_md5
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // INCREMENTAL span dedup — the admission form: batch 1 (even ids)
    // seeds a persisted chunk-digest DeltaStore, batch 2 (odd ids) is
    // span-deduped against store + itself and appends only its novel
    // digests. The gate checks batch 2's per-doc stats AND rebuilt
    // text, so the store round trip (append → manifest flip → probe
    // scan) is value-verified, not just counted.
    "dedup_span_incr" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-span-incr")
        try {
          val docs = table(s, dir, "documents")
          val cfg = SpanStore.Config(s"$tmp/store", chunkTokens = 8)
          SpanStore.admitBatch(docs.filter(col("doc_id") % 2 === 0), cfg, 0L)
          val stats = SpanStore.admitBatch(docs.filter(col("doc_id") % 2 === 1), cfg, 1L)
          val res = stats.select(col("doc_id"), col("n_chunks"),
            col("dup_chunks"), col("cross_dup_chunks"), col("dup_frac"),
            md5(col("kept_text")).as("kept_md5"))
            .orderBy("doc_id")
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally Registry.rmTree(tmp.toFile)
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
        |c0 AS (SELECT doc_id, unnest(list_transform(range(0, CAST(ceil(len(toks)/8.0) AS BIGINT)),
        |    i -> struct_pack(pos := i, chunk := array_to_string(toks[(i*8+1):(i*8+8)], ' ')))) AS u
        |  FROM t WHERE len(toks) >= 1),
        |c AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.chunk AS chunk FROM c0),
        |b1 AS (SELECT DISTINCT chunk FROM c WHERE doc_id % 2 = 0),
        |k2 AS (SELECT chunk, min(doc_id * 1048576 + pos) AS firstk
        |       FROM c WHERE doc_id % 2 = 1 GROUP BY chunk),
        |f AS (
        |  SELECT c.doc_id, c.pos, c.chunk,
        |    (b1.chunk IS NOT NULL) AS hit, k2.firstk AS firstk
        |  FROM c JOIN k2 USING (chunk) LEFT JOIN b1 USING (chunk)
        |  WHERE c.doc_id % 2 = 1),
        |g AS (
        |  SELECT doc_id, pos, chunk,
        |    (NOT hit AND doc_id * 1048576 + pos = firstk) AS kept,
        |    (hit OR CAST(firstk // 1048576 AS BIGINT) <> doc_id) AS crossdup
        |  FROM f)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS dup_chunks,
        |  CAST(SUM(CASE WHEN crossdup THEN 1 ELSE 0 END) AS BIGINT) AS cross_dup_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS dup_frac,
        |  md5(coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE kept), '')) AS kept_md5
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Bounded quadratic baseline: exact trigram-shingle Jaccard over
    // same-language pairs, doc_id < 500 (the spec for the LSH path).
    "dedup_ngram" -> QueryDef(
      (s, dir) => {
        // requireBounded: the all-pairs join below is the quadratic
        // oracle baseline — refuse unbounded input instead of running
        // forever (the guard probe reads at most cap+1 rows)
        val withSh = Dedup.requireBounded(
          shingleFrame(s, dir, Seq("lang")).filter(col("doc_id") < 500),
          maxRows = 10000, what = "dedup_ngram all-pairs Jaccard baseline")
        val a = withSh.select(col("doc_id").as("a_id"), col("lang").as("a_lang"), col("sh").as("sha"))
        val b = withSh.select(col("doc_id").as("b_id"), col("lang").as("b_lang"), col("sh").as("shb"))
        val (inter, uni, jac) = Dedup.jaccardCols(col("sha"), col("shb"))
        a.join(b, col("a_lang") === col("b_lang") && col("a_id") < col("b_id"))
          .withColumn("inter", inter.cast("long"))
          .withColumn("uni", uni.cast("long"))
          .filter(col("inter") * 1.0 / col("uni") >= 0.5)
          .select("a_id", "b_id", "inter", "uni")
          .orderBy("a_id", "b_id")
      },
      Some(s"""$shCte,
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS inter,
        |    CAST(len(a.sh) + len(b.sh)
        |         - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS uni
        |  FROM s a JOIN s b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND a.doc_id < 500 AND b.doc_id < 500)
        |SELECT a_id, b_id, inter, uni FROM p
        |WHERE inter * 1.0 / uni >= 0.5
        |ORDER BY a_id, b_id""".stripMargin)),

    // MinHash + banded LSH near-dup detection — the 100 TB path:
    // signatures map-only; candidates meet on (band, key); exact Jaccard
    // verifies candidates only. md5 hash family for oracle portability
    // (Dedup.minhashFast is the xxhash64 production variant).
    "dedup_minhash" -> QueryDef(
      (s, dir) => {
        // shingles + signatures persisted: they feed the band explode and
        // both sides of the candidate/verify joins (at cluster scale: a
        // checkpointed signature table, one k×|shingles| hash pass)
        val withSh = shingleFrame(s, dir)
        val sig = withSh.withColumn("sig", Dedup.minhashMd5(col("sh"), 8)).cache()
        val cand = Dedup.lshCandidates(
          Dedup.lshBands(sig, "sig", bands = 4, rows = 2, "doc_id"), "doc_id")
        val sa = withSh.select(col("doc_id").as("a_id"), col("sh").as("sha"))
        val sb = withSh.select(col("doc_id").as("b_id"), col("sh").as("shb"))
        val (inter, uni, _) = Dedup.jaccardCols(col("sha"), col("shb"))
        cand.join(sa, "a_id").join(sb, "b_id")
          .withColumn("inter", inter.cast("long"))
          .withColumn("uni", uni.cast("long"))
          .filter(col("inter") * 1.0 / col("uni") >= 0.5)
          .select("a_id", "b_id", "inter", "uni")
          .orderBy("a_id", "b_id")
      },
      Some(s"""$shCte,
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 8),
        |      i -> list_aggregate(list_transform(sh,
        |             x -> substr(md5(x), CAST(4*i + 1 AS INTEGER), 4)), 'min')) AS mh
        |  FROM s),
        |bands AS (
        |  SELECT doc_id, b, mh[2*b+1] || '#' || mh[2*b+2] AS key
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
        |v AS (
        |  SELECT a_id, b_id,
        |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS inter,
        |    CAST(len(sa.sh) + len(sb.sh)
        |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS uni
        |  FROM cand JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id)
        |SELECT a_id, b_id, inter, uni FROM v
        |WHERE inter * 1.0 / uni >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),
      bench = true),

    // Incremental admission — the production dedup shape: docs with
    // doc_id >= 400 play an arriving crawl increment, the rest the
    // persisted corpus. Candidates are NEW×CORPUS only (lshCandidates-
    // Against): corpus×corpus pairs are never generated, so an
    // increment's cost is independent of corpus self-similarity; the
    // corpus's banded signatures would be a checkpointed table reused
    // across increments at scale.
    "dedup_incremental" -> QueryDef(
      (s, dir) => {
        val withSh = shingleFrame(s, dir)
        val sig = withSh.withColumn("sig", Dedup.minhashMd5(col("sh"), 8)).cache()
        val bands = Dedup.lshBands(sig, "sig", bands = 4, rows = 2, "doc_id")
        val cand = Dedup.lshCandidatesAgainst(
          bands.filter(col("doc_id") >= 400),
          bands.filter(col("doc_id") < 400), "doc_id")
        val sa = withSh.select(col("doc_id").as("new_id"), col("sh").as("sha"))
        val sb = withSh.select(col("doc_id").as("corpus_id"), col("sh").as("shb"))
        val (inter, uni, _) = Dedup.jaccardCols(col("sha"), col("shb"))
        cand.join(sa, "new_id").join(sb, "corpus_id")
          .withColumn("inter", inter.cast("long"))
          .withColumn("uni", uni.cast("long"))
          .filter(col("inter") * 1.0 / col("uni") >= 0.5)
          .select("new_id", "corpus_id", "inter", "uni")
          .orderBy("new_id", "corpus_id")
      },
      Some(s"""$shCte,
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 8),
        |      i -> list_aggregate(list_transform(sh,
        |             x -> substr(md5(x), CAST(4*i + 1 AS INTEGER), 4)), 'min')) AS mh
        |  FROM s),
        |bands AS (
        |  SELECT doc_id, b, mh[2*b+1] || '#' || mh[2*b+2] AS key
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM bands n JOIN bands c
        |    ON n.b = c.b AND n.key = c.key
        |   AND n.doc_id >= 400 AND c.doc_id < 400),
        |v AS (
        |  SELECT new_id, corpus_id,
        |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS inter,
        |    CAST(len(sa.sh) + len(sb.sh)
        |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS uni
        |  FROM cand JOIN s sa ON sa.doc_id = new_id JOIN s sb ON sb.doc_id = corpus_id)
        |SELECT new_id, corpus_id, inter, uni FROM v
        |WHERE inter * 1.0 / uni >= 0.5
        |ORDER BY new_id, corpus_id""".stripMargin)),

    // The admission DECISION, end to end: a new doc survives iff it has
    // no verified corpus near-dup (Jaccard >= 0.5) — candidate
    // generation via the increment path above, then a left-anti join on
    // the rejected ids. This is the operation a recurring crawl
    // pipeline actually runs per increment.
    "pipeline_admit" -> QueryDef(
      (s, dir) => {
        val withSh = shingleFrame(s, dir)
        val sig = withSh.withColumn("sig", Dedup.minhashMd5(col("sh"), 8)).cache()
        val bands = Dedup.lshBands(sig, "sig", bands = 4, rows = 2, "doc_id")
        val cand = Dedup.lshCandidatesAgainst(
          bands.filter(col("doc_id") >= 400),
          bands.filter(col("doc_id") < 400), "doc_id")
        val sa = withSh.select(col("doc_id").as("new_id"), col("sh").as("sha"))
        val sb = withSh.select(col("doc_id").as("corpus_id"), col("sh").as("shb"))
        val (inter, uni, _) = Dedup.jaccardCols(col("sha"), col("shb"))
        val rejected = cand.join(sa, "new_id").join(sb, "corpus_id")
          .filter(inter * 1.0 / uni >= 0.5)
          .select("new_id").distinct()
        withSh.filter(col("doc_id") >= 400)
          .select(col("doc_id").as("new_id"))
          .join(rejected, Seq("new_id"), "left_anti")
          .orderBy("new_id")
      },
      Some(s"""$shCte,
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 8),
        |      i -> list_aggregate(list_transform(sh,
        |             x -> substr(md5(x), CAST(4*i + 1 AS INTEGER), 4)), 'min')) AS mh
        |  FROM s),
        |bands AS (
        |  SELECT doc_id, b, mh[2*b+1] || '#' || mh[2*b+2] AS key
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM bands n JOIN bands c
        |    ON n.b = c.b AND n.key = c.key
        |   AND n.doc_id >= 400 AND c.doc_id < 400),
        |rejected AS (
        |  SELECT DISTINCT new_id
        |  FROM cand JOIN s sa ON sa.doc_id = new_id JOIN s sb ON sb.doc_id = corpus_id
        |  WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
        |        (len(sa.sh) + len(sb.sh)
        |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) >= 0.5)
        |SELECT doc_id AS new_id FROM s
        |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT new_id FROM rejected)
        |ORDER BY new_id""".stripMargin)),

    // The STREAMING admission lifecycle, end to end — where
    // pipeline_admit gates the one-shot admission DECISION, this runs
    // the task shape a recurring crawl actually deploys: a config-built
    // pipeline (documents_stream → corpus_admit) drains the corpus as 3
    // doc_id-range micro-batches, each batch LSH-deduped within itself
    // (keep-first edge policy) and against the signature store grown by
    // the previous batches, survivors merged in — checkpointing, trigger
    // boundaries, and the store lifecycle all INSIDE the gated path.
    // The oracle unrolls the 3 rounds: because slices are doc_id ranges,
    // every verified pair (a < b) has batch(a) <= batch(b), so
    // same-batch rejection is the pair edge and cross-batch rejection is
    // "a admitted in an earlier round" — admitted sets build forward
    // with no recursion. portableHash switches admission to the
    // sliced-md5 MinHash family so the decisions replay exactly.
    "stream_admit" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-stream-admit-q")
        try {
          graft.pipeline.Pipeline.runStream(s, s"""{
            "source": {"type": "documents_stream", "dir": "$dir", "slices": 3},
            "processors": [],
            "sink": {"type": "corpus_admit", "path": "$tmp/store",
                     "checkpoint": "$tmp/ckpt", "portableHash": true}
          }""")
          // materialize the admitted ids (bounded: the id column only)
          // before returning, so the temp store/checkpoint can be deleted
          // HERE — the caller's lazy read would otherwise pin the dir, and
          // repeated bench reps would accumulate full store copies in /tmp
          import s.implicits._
          graft.ops.Admission.readStore(s, s"$tmp/store").get
            .select("doc_id").orderBy("doc_id")
            .as[Long].collect().toSeq.toDF("doc_id")
        } finally {
          Registry.rmTree(tmp.toFile)
        }
      },
      Some(s"""$shCte,
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 8),
        |      i -> list_aggregate(list_transform(sh,
        |             x -> substr(md5(x), CAST(4*i + 1 AS INTEGER), 4)), 'min')) AS mh
        |  FROM s),
        |bands AS (
        |  SELECT doc_id, b, mh[2*b+1] || '#' || mh[2*b+2] AS key
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        |bounds AS (
        |  SELECT min(doc_id) AS lo, (max(doc_id) - min(doc_id) + 3) // 3 AS span
        |  FROM documents),
        |bt AS (
        |  SELECT s.doc_id, (s.doc_id - b.lo) // b.span AS batch FROM s, bounds b),
        |vp AS (
        |  SELECT DISTINCT n.doc_id AS a_id, c.doc_id AS b_id
        |  FROM bands n JOIN bands c ON n.b = c.b AND n.key = c.key
        |   AND n.doc_id < c.doc_id),
        |ver AS (
        |  SELECT a_id, b_id, ba.batch AS a_bat, bb.batch AS b_bat
        |  FROM vp JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id
        |  JOIN bt ba ON ba.doc_id = a_id JOIN bt bb ON bb.doc_id = b_id
        |  WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
        |        (len(sa.sh) + len(sb.sh)
        |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) >= 0.5),
        |selfrej AS (
        |  SELECT DISTINCT b_id AS doc_id FROM ver WHERE a_bat = b_bat),
        |adm0 AS (
        |  SELECT doc_id FROM bt WHERE batch = 0
        |    AND doc_id NOT IN (SELECT doc_id FROM selfrej)),
        |adm1 AS (
        |  SELECT doc_id FROM bt WHERE batch = 1
        |    AND doc_id NOT IN (SELECT doc_id FROM selfrej)
        |    AND doc_id NOT IN (
        |      SELECT b_id FROM ver
        |      WHERE b_bat = 1 AND a_bat < 1
        |        AND a_id IN (SELECT doc_id FROM adm0))),
        |adm2 AS (
        |  SELECT doc_id FROM bt WHERE batch = 2
        |    AND doc_id NOT IN (SELECT doc_id FROM selfrej)
        |    AND doc_id NOT IN (
        |      SELECT b_id FROM ver
        |      WHERE b_bat = 2 AND a_bat < 2
        |        AND a_id IN (SELECT doc_id FROM adm0
        |                     UNION ALL SELECT doc_id FROM adm1)))
        |SELECT doc_id FROM (
        |  SELECT doc_id FROM adm0
        |  UNION ALL SELECT doc_id FROM adm1
        |  UNION ALL SELECT doc_id FROM adm2)
        |ORDER BY doc_id""".stripMargin)),

    // 64-bit SimHash near-dup pairs: codegen'd fingerprint + pigeonhole
    // band blocking — candidates meet on the (band, slice) shuffle key,
    // bit_count(xor) verifies exactly. The md5 hash family
    // (functions.SimHash64Md5) makes the fingerprint DuckDB-replicable,
    // so the FULL 64-bit band-blocking path is value-verified (hamming
    // included); Dedup.simhash64 (xxhash64) is the cheaper production
    // family running the identical algebra — FunctionsSpec pins both
    // expressions to their HOF formulations. The oracle skips band
    // blocking deliberately: with maxHamming < bands the pigeonhole
    // guarantee makes the blocked result EQUAL to the exact all-pairs
    // hamming filter, so the simple quadratic spelling verifies the
    // blocking too (any lost candidate would change the result set).
    "dedup_simhash64" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .withColumn("sim", Dedup.simhash64Md5(col("toks")))
        Dedup.simhashPairs(docs, "sim", "doc_id", maxHamming = 3, bands = 4)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, list_transform(toks, x -> substr(md5(x), 1, 16)) AS hs
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 4), k ->
        |      CAST(list_sum(list_transform(range(0, 16), i ->
        |        CASE WHEN coalesce(list_sum(list_transform(hs, s ->
        |            CASE WHEN (((strpos('0123456789abcdef',
        |                    substr(s, (67 - (16 * k + i)) // 4, 1)) - 1)
        |                   >> ((16 * k + i) % 4)) & 1) = 1
        |                 THEN 1 ELSE -1 END)), 0) >= 0
        |             THEN 1 << i ELSE 0 END)) AS BIGINT)) AS sl
        |  FROM h),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(bit_count(xor(a.sl[1], b.sl[1])) + bit_count(xor(a.sl[2], b.sl[2]))
        |       + bit_count(xor(a.sl[3], b.sl[3])) + bit_count(xor(a.sl[4], b.sl[4]))
        |      AS BIGINT) AS hamming
        |  FROM f a JOIN f b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, hamming FROM p WHERE hamming <= 3
        |ORDER BY a_id, b_id""".stripMargin)),

    // SimHash fingerprints (16-bit portable family; simhash64/xxhash is
    // the production variant).
    // Near-dup CLUSTERS, not pairs: connected components over VERIFIED
    // near-dup edges (banded-MinHash candidates + exact Jaccard ≥ 0.5,
    // [[Clusters.nearDupClusters]]), canonical doc = min doc_id per
    // component. Re-keyed in r19 off the simhash16 radius-2 ball: raw
    // signature-space adjacency merges by hash PROXIMITY, and a 16-bit
    // space saturates — at corpus scale (and visibly at 450 fixture
    // docs: 440 in one component) most sigs join ONE component, so any
    // fraction-sensitive consumer (keep-one release, split-by-cluster,
    // cluster-stratified sampling) collapses. Verified edges require
    // real measured similarity, so components only grow through genuine
    // near-dup chains; occupancy of the md5-shingle space is sparse at
    // any corpus size (collisions need shared CONTENT, not nearby
    // hashes). The oracle recomputes reachability with a recursive CTE,
    // so the gate checks transitive closure, not just pair agreement.
    "dedup_clusters" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val w = Window.partitionBy("cluster")
        Clusters.nearDupClusters(docs, "doc_id", "text")
          .withColumn("csize", count(lit(1)).over(w).cast("long"))
          .select("doc_id", "cluster", "csize")
          .orderBy("doc_id")
      },
      Some(s"""$nearDupClusterCte
        |SELECT doc_id, cluster,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS csize
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Leakage-safe train/val/test split: assign by the near-dup
    // CLUSTER's canonical id, not the doc's — an id-hash split lets a
    // near-duplicate pair straddle train/eval (the contamination the
    // whole dedup family exists to prevent; decontaminate only guards
    // against EXTERNAL benchmarks, this guards the split against
    // ITSELF). Clusters are CC over VERIFIED near-dup edges (banded
    // MinHash candidates + exact Jaccard ≥ 0.5) — NOT the sig-space
    // radius ball dedup_clusters uses: raw sig adjacency percolates on
    // a large corpus into one giant component, which over-dropping
    // dedup tolerates but a split-by-cluster cannot (every doc would
    // inherit one cluster and land in one split). Same md5-slice
    // assignment as mix_split, keyed on the cluster label, so the
    // whole cluster lands on one side by construction — MixingSpec
    // witnesses zero straddles where the id split demonstrably
    // straddles. Stability composes: min-id labels and hash ranges
    // both survive corpus growth.
    "split_leakage_safe" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Mixing.assignSplits(
            Clusters.nearDupClusters(docs, "doc_id", "text"), "cluster",
            Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
          .select("doc_id", "cluster", "split")
          .orderBy("doc_id")
      },
      Some(s"""$nearDupClusterCte,
        |u AS (SELECT doc_id, cluster,
        |${Registry.md5Slice("cluster")} AS u
        |      FROM c)
        |SELECT doc_id, cluster,
        |  CASE WHEN u < 58982 THEN 'train'
        |       WHEN u < 62259 THEN 'val' ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin)),

    // Release keep/drop over those clusters: ONE member survives per
    // near-dup cluster, chosen by score (here total token chars — an
    // exact-integer content signal, so the argmax replays bit-identically
    // in the oracle; production swaps in any classifier score column),
    // ties to the smallest doc_id. The keep decision is
    // [[Clusters.keepBest]] — a rank-1 window whose WindowGroupLimit
    // prunes map-side (PlanSpec-pinned), so the exchange never carries
    // a cluster's member rows — and the output is the per-doc decision
    // table (cluster label + kept flag) a release anti-join consumes
    // downstream. The cluster KEY is [[Clusters.nearDupClusters]]
    // (verified Jaccard edges), re-keyed in r19 off simhash16 radius-2
    // adjacency: keep-ONE-per-cluster is maximally fraction-sensitive —
    // a saturated 16-bit sig space is one connected component at corpus
    // scale, so the release would keep essentially ONE document. With
    // verified edges, survivors ≈ distinct near-dup groups (fixture
    // witness in PLANS.md), and the kept fraction tracks real content
    // duplication at any corpus size.
    "dedup_keep_best" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val labeled = Clusters.nearDupClusters(docs, "doc_id", "text")
          .join(TextAnalysis.quality(docs).select("doc_id", "sum_len"),
            "doc_id")
        val kept = Clusters.keepBest(labeled, "doc_id", "cluster", "sum_len")
        labeled
          .join(kept.select(col("cluster"), col("doc_id").as("keep_id")),
            "cluster")
          .select(col("doc_id"), col("cluster"),
            (col("doc_id") === col("keep_id")).cast("long").as("kept"))
          .orderBy("doc_id")
      },
      Some(s"""$nearDupClusterCte,
        |q AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len
        |  FROM t),
        |j AS (
        |  SELECT c.doc_id, c.cluster, q.sum_len
        |  FROM c JOIN q USING (doc_id)),
        |k AS (
        |  SELECT cluster, doc_id AS keep_id FROM j
        |  QUALIFY row_number() OVER (
        |    PARTITION BY cluster ORDER BY sum_len DESC, doc_id) = 1)
        |SELECT j.doc_id, j.cluster,
        |  CAST(CASE WHEN j.doc_id = k.keep_id THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM j JOIN k USING (cluster) ORDER BY doc_id""".stripMargin)),

    "dedup_simhash" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .withColumn("sim", Dedup.simhash16(col("toks")))
          .withColumn("bucket_cnt", count(lit(1)).over(Window.partitionBy("sim")).cast("long"))
          .select("doc_id", "sim", "bucket_cnt")
          .orderBy("doc_id")
      },
      Some(s"""$shCte,
        |f AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 16), j ->
        |      CASE WHEN list_sum(list_transform(toks,
        |             x -> CASE WHEN substr(md5(x), j + 1, 1)
        |                       IN ('8','9','a','b','c','d','e','f')
        |                  THEN 1 ELSE -1 END)) >= 0
        |           THEN 1 << j ELSE 0 END)) AS BIGINT) AS sim
        |  FROM t)
        |SELECT doc_id, sim,
        |       CAST(COUNT(*) OVER (PARTITION BY sim) AS BIGINT) AS bucket_cnt
        |FROM f ORDER BY doc_id""".stripMargin)),

    // Source-pair corpus overlap via union-set MinHash sketches: one
    // min-agg pass per group (min over union = min of mins — no
    // per-doc signatures, no document pairs), pairwise slot agreement
    // is the standard Jaccard estimator over the md5-sliced family.
    "corpus_source_sim" -> QueryDef(
      (s, dir) => {
        Dedup.groupSketchSim(table(s, dir, "documents"), "source", "text",
          perms = 8).orderBy("grp_a", "grp_b")
      },
      Some("""WITH t AS (
        |  SELECT source, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |sh AS (SELECT source, unnest(list_transform(
        |         range(1, greatest(len(toks) - 1, 1)),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |       FROM t),
        |h AS (SELECT source, md5(sh) AS h FROM sh),
        |sk AS (SELECT source,
        |         min(substr(h, 1, 4)) AS m0, min(substr(h, 5, 4)) AS m1,
        |         min(substr(h, 9, 4)) AS m2, min(substr(h, 13, 4)) AS m3,
        |         min(substr(h, 17, 4)) AS m4, min(substr(h, 21, 4)) AS m5,
        |         min(substr(h, 25, 4)) AS m6, min(substr(h, 29, 4)) AS m7
        |       FROM h GROUP BY 1),
        |p AS (SELECT a.source AS grp_a, b.source AS grp_b,
        |        CAST((CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END)
        |           + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END)
        |           + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END)
        |           + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END)
        |           + (CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END)
        |           + (CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END)
        |           + (CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END)
        |           + (CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) AS BIGINT) AS matches
        |      FROM sk a JOIN sk b ON a.source < b.source)
        |SELECT grp_a, grp_b, matches, matches / 8.0 AS est_jaccard
        |FROM p ORDER BY grp_a, grp_b""".stripMargin))
  )
}
