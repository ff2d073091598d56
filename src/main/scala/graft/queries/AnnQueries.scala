package graft.queries

import org.apache.spark.sql.functions._
import graft.source.Changelog.table
import graft.ops.Similarity

/** Similarity-search queries over `embeddings` (array<float>, 64-dim).
  * Outputs are id/rank only — the cosine itself stays internal so the
  * comparison never depends on float formatting; both engines compute
  * the same IEEE doubles via sequential folds. */
object AnnQueries {

  private def vecs(s: org.apache.spark.sql.SparkSession, dir: String) =
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private val ivfPqOracle: String =
    """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |cscored AS (
        |  SELECT e.vec_id, e.v, cent.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM e CROSS JOIN cent),
        |corpus AS (
        |  SELECT vec_id AS nid, cell FROM cscored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, cell FROM cscored WHERE vec_id < 32
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) <= 4),
        |r AS (
        |  SELECT vec_id, v,
        |         row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rn
        |  FROM e),
        |ss AS (
        |  SELECT vec_id, rn, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv
        |  FROM r, (SELECT unnest(range(0, 4)) AS sub) s
        |  WHERE rn <= 256),
        |cent0 AS (SELECT sub, CAST(rn - 1 AS BIGINT) AS cell, sv AS cv
        |          FROM ss WHERE rn <= 8),
        |a0 AS (
        |  SELECT vec_id, sub, sv, cell FROM (
        |    SELECT ss.vec_id, ss.sub, ss.sv, c.cell,
        |      list_sum(list_transform(range(1, 17),
        |        i -> (ss.sv[i] - c.cv[i]) * (ss.sv[i] - c.cv[i]))) AS dd
        |    FROM ss JOIN cent0 c USING (sub))
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, cell) = 1),
        |cent1 AS (
        |  SELECT sub, cell, list_transform(range(1, 17), p ->
        |    list_sum(list_transform(ms, mm -> mm[p])) / len(ms)) AS cv
        |  FROM (SELECT sub, cell, list(sv ORDER BY vec_id) AS ms
        |        FROM a0 GROUP BY 1, 2)),
        |cs AS (
        |  SELECT vec_id, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv
        |  FROM e, (SELECT unnest(range(0, 4)) AS sub) s),
        |csd AS (
        |  SELECT cs.vec_id, cs.sub, c.cell,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (cs.sv[i] - c.cv[i]) * (cs.sv[i] - c.cv[i]))) AS dd
        |  FROM cs JOIN cent1 c USING (sub)),
        |enc AS (
        |  SELECT vec_id, sub, cell FROM csd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, cell) = 1),
        |codes AS (
        |  SELECT vec_id AS nid, list(sub * 8 + cell ORDER BY sub) AS codes
        |  FROM enc GROUP BY 1),
        |lut AS (
        |  SELECT vec_id AS qid,
        |    list(dd ORDER BY sub, cell) AS lut,
        |    list(sub * 8 + cell ORDER BY sub, cell) AS lidx
        |  FROM csd WHERE vec_id < 32 GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT probes.qid, corpus.nid
        |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid),
        |sc AS (
        |  SELECT cand.qid, cand.nid,
        |    list_sum(list_transform(range(1, 5),
        |      s -> l.lut[list_position(l.lidx, c.codes[s])])) AS dist
        |  FROM cand JOIN codes c USING (nid) JOIN lut l ON l.qid = cand.qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank,
        |       nid
        |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Exact brute-force cosine top-k (query set broadcast; corpus streams).
    "ann_topk" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.bruteTopK(e, e.filter(col("vec_id") < 32), k = 5)
          .select("qid", "rank", "nid")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 32),
        |p AS (
        |  SELECT qid, e.vec_id AS nid,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(v,  x -> x * x)))) AS cos
        |  FROM q CROSS JOIN e WHERE e.vec_id <> qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
        |       nid
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Sign-LSH bucketed ANN — the scale path, oracle-checked end to end:
    // the portable multiply-shift hyperplanes let DuckDB replicate the
    // exact (table, bucket) assignment, so candidate generation AND
    // re-ranking are both verified (not just recall).
    "ann_lsh" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.lshTopK(e, e.filter(col("vec_id") < 32), k = 5,
          bits = 3, tables = 4, sketchFn = Similarity.portableSignSketch(_, _, _, _))
          .select("qid", "rank", "nid")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, v, t.t AS tbl_id,
        |    list_sum(list_transform(range(0, 3), i ->
        |      CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
        |        CASE WHEN ((((t.t * 1009 + i) * 769 + d) * 2654435761) >> 16) & 1 = 0
        |             THEN v[d + 1] ELSE -v[d + 1] END)) >= 0
        |      THEN 1 << i ELSE 0 END)) AS bucket
        |  FROM e, range(0, 4) t(t)),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, n.vec_id AS nid
        |  FROM b q JOIN b n ON q.tbl_id = n.tbl_id AND q.bucket = n.bucket
        |  WHERE q.vec_id < 32 AND n.vec_id <> q.vec_id),
        |p AS (
        |  SELECT qid, nid,
        |    list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * n.v[i])) /
        |    (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(n.v, x -> x * x)))) AS cos
        |  FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e n ON n.vec_id = cand.nid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
        |       nid
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // IVF bucketed ANN — portable centroid seeding so the oracle derives
    // the identical coarse quantizer: centroids = 16 corpus vectors
    // hash-ranked by (id·2654435761 mod 2^32), corpus assigned to its
    // nearest cell, queries probe their 4 nearest cells.
    "ann_ivf" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 32), k = 5,
          cells = 16, nprobe = 4, portableSeeding = true)
          .select("qid", "rank", "nid")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |scored AS (
        |  SELECT e.vec_id, e.v, cent.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM e CROSS JOIN cent),
        |corpus AS (
        |  SELECT vec_id AS nid, v AS nv, cell FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id < 32
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) <= 4),
        |p AS (
        |  SELECT DISTINCT qid, nid,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nv[i])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(nv, x -> x * x)))) AS cos
        |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
        |       nid
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // IVF served through the int8-quantized corpus — the storage/shuffle
    // trade wired end to end: the cell join carries (int8 vector, scale,
    // Σq²) instead of the 8-byte-per-dim double vector, and the re-rank
    // scores the dequantized form with pure sequential-fold IEEE
    // arithmetic, so DuckDB replays quantization, bucketing AND scoring
    // exactly (same cells/seeding as ann_ivf — only the serving
    // representation differs).
    "ann_ivf_q8" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.ivfTopKQ8(e, e.filter(col("vec_id") < 32), k = 5,
          cells = 16, nprobe = 4, portableSeeding = true)
          .select("qid", "rank", "nid")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |qz AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e),
        |qq AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x ->
        |      CASE WHEN scale = 0 THEN 0.0 ELSE round(x / scale) END) AS q
        |  FROM qz),
        |qs AS (
        |  SELECT vec_id, v, scale, q,
        |    list_sum(list_transform(q, x -> x * x)) AS sq
        |  FROM qq),
        |scored AS (
        |  SELECT qs.vec_id, qs.v, qs.scale, qs.q, qs.sq, cent.cell,
        |    list_sum(list_transform(range(1, len(qs.v) + 1), i -> qs.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(qs.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM qs CROSS JOIN cent),
        |corpus AS (
        |  SELECT vec_id AS nid, scale AS nscale, q AS nq, sq AS nqs, cell FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id < 32
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) <= 4),
        |p AS (
        |  SELECT DISTINCT qid, nid,
        |    (nscale * list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nq[i]))) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) * (nscale * sqrt(nqs))) AS cos
        |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
        |       nid
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // IVF with sampled k-means refinement — the trained coarse
    // quantizer, oracle-checked END TO END: the training set is the 256
    // lowest portable-hash-ranked corpus vectors (seeds = that ranking's
    // 16-prefix), 2 Lloyd iterations refine the centroids, and every
    // step is bit-portable — assignment ties break (best cosine, lowest
    // cell), each cell's new centroid is a SEQUENTIAL per-dimension fold
    // over its members in vec_id order (a distributed avg would sum in
    // partition order: not replayable in any SQL engine). The oracle
    // unrolls both iterations, so candidate generation through the
    // TRAINED cells is verified, not just recall.
    "ann_ivf_trained" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 32), k = 5,
          cells = 16, nprobe = 4, trainIters = 2, portableSeeding = true,
          trainSample = 256)
          .select("qid", "rank", "nid")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |r AS (
        |  SELECT vec_id, v,
        |         row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rn
        |  FROM e),
        |samp AS (SELECT vec_id, v FROM r WHERE rn <= 256),
        |cent0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cell, v AS cv FROM r WHERE rn <= 16),
        |a0 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT s.vec_id, s.v, c.cell,
        |      list_sum(list_transform(range(1, len(s.v) + 1), i -> s.v[i] * c.cv[i])) /
        |      (sqrt(list_sum(list_transform(s.v, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.cv, x -> x * x)))) AS cd
        |    FROM samp s CROSS JOIN cent0 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |cent1 AS (
        |  SELECT cell, list_transform(range(1, len(ms[1]) + 1), p ->
        |    list_sum(list_transform(ms, m -> m[p])) / len(ms)) AS cv
        |  FROM (SELECT cell, list(v ORDER BY vec_id) AS ms FROM a0 GROUP BY cell)),
        |a1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT s.vec_id, s.v, c.cell,
        |      list_sum(list_transform(range(1, len(s.v) + 1), i -> s.v[i] * c.cv[i])) /
        |      (sqrt(list_sum(list_transform(s.v, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.cv, x -> x * x)))) AS cd
        |    FROM samp s CROSS JOIN cent1 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |cent2 AS (
        |  SELECT cell, list_transform(range(1, len(ms[1]) + 1), p ->
        |    list_sum(list_transform(ms, m -> m[p])) / len(ms)) AS cv
        |  FROM (SELECT cell, list(v ORDER BY vec_id) AS ms FROM a1 GROUP BY cell)),
        |scored AS (
        |  SELECT e.vec_id, e.v, cent2.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM e CROSS JOIN cent2),
        |corpus AS (
        |  SELECT vec_id AS nid, v AS nv, cell FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id < 32
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) <= 4),
        |p AS (
        |  SELECT DISTINCT qid, nid,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nv[i])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(nv, x -> x * x)))) AS cos
        |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
        |       nid
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Product-quantization ADC top-k — the compression serving layer:
    // 4 subspaces × 8-centroid codebooks (1 Lloyd pass, portable
    // seeding), corpus encoded to 4 codes/vector, queries score via
    // per-query lookup tables summed by a fixed-order fold. The oracle
    // replays the ENTIRE pipeline — subspace k-means (sorted-fold
    // means), encoding argmins, LUT construction, ADC sums, final
    // ranks — so training, compression and serving are all
    // value-verified, not just recall-checked.
    "ann_pq" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.pqTopK(e, e.filter(col("vec_id") < 32), topK = 5,
          m = 4, k = 8, iters = 1, portableSeeding = true, trainSample = 256)
          .select("qid", "rank", "nid")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |r AS (
        |  SELECT vec_id, v,
        |         row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rn
        |  FROM e),
        |ss AS (
        |  SELECT vec_id, rn, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv
        |  FROM r, (SELECT unnest(range(0, 4)) AS sub) s
        |  WHERE rn <= 256),
        |cent0 AS (SELECT sub, CAST(rn - 1 AS BIGINT) AS cell, sv AS cv
        |          FROM ss WHERE rn <= 8),
        |a0 AS (
        |  SELECT vec_id, sub, sv, cell FROM (
        |    SELECT ss.vec_id, ss.sub, ss.sv, c.cell,
        |      list_sum(list_transform(range(1, 17),
        |        i -> (ss.sv[i] - c.cv[i]) * (ss.sv[i] - c.cv[i]))) AS dd
        |    FROM ss JOIN cent0 c USING (sub))
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, cell) = 1),
        |cent1 AS (
        |  SELECT sub, cell, list_transform(range(1, 17), p ->
        |    list_sum(list_transform(ms, mm -> mm[p])) / len(ms)) AS cv
        |  FROM (SELECT sub, cell, list(sv ORDER BY vec_id) AS ms
        |        FROM a0 GROUP BY 1, 2)),
        |cs AS (
        |  SELECT vec_id, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv
        |  FROM e, (SELECT unnest(range(0, 4)) AS sub) s),
        |csd AS (
        |  SELECT cs.vec_id, cs.sub, c.cell,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (cs.sv[i] - c.cv[i]) * (cs.sv[i] - c.cv[i]))) AS dd
        |  FROM cs JOIN cent1 c USING (sub)),
        |enc AS (
        |  SELECT vec_id, sub, cell FROM csd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, cell) = 1),
        |codes AS (
        |  SELECT vec_id AS nid, list(sub * 8 + cell ORDER BY sub) AS codes
        |  FROM enc GROUP BY 1),
        |lut AS (
        |  SELECT vec_id AS qid,
        |    list(dd ORDER BY sub, cell) AS lut,
        |    list(sub * 8 + cell ORDER BY sub, cell) AS lidx
        |  FROM csd WHERE vec_id < 32 GROUP BY 1),
        |sc AS (
        |  SELECT l.qid, c.nid,
        |    list_sum(list_transform(range(1, 5),
        |      s -> l.lut[list_position(l.lidx, c.codes[s])])) AS dist
        |  FROM codes c CROSS JOIN lut l WHERE c.nid <> l.qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank,
        |       nid
        |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // IVF + PQ composed (IVFADC without residuals) — the 100-TB serving
    // plan end to end: queries probe 4 of 16 coarse cells (same seeded
    // quantizer as ann_ivf), candidates meet on the cell key carrying
    // only (nid, codes), and ADC scores them from broadcast LUTs. The
    // oracle composes the ann_ivf cell CTEs with the ann_pq codebook
    // CTEs verbatim, so the pruning AND the compressed scoring are both
    // value-verified in one query.
    "ann_ivf_pq" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 32), topK = 5,
          cells = 16, nprobe = 4, m = 4, k = 8, pqIters = 1,
          portableSeeding = true, trainSample = 256)
          .select("qid", "rank", "nid")
          .orderBy("qid", "rank")
      },
      Some(ivfPqOracle)),

    // The SAME plan served from the PERSISTED index: one batch builds a
    // PQ-enabled IvfIndex store (frozen coarse quantizer + frozen
    // codebook + codes in the cell-bucketed postings), and servePq
    // reads only the probed cells' files with a codes-only projection —
    // the vector column's parquet pages are never touched. One batch =
    // the whole corpus, so the frozen state coincides with what
    // ivfPqTopK trains one-shot and the ORACLE IS SHARED VERBATIM:
    // store layout, freezing and pruning must all be invisible to the
    // result.
    "ivf_index_pq" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-index-pq")
        try {
          val cfg = graft.ops.IvfIndex.Config(
            target = tmp.resolve("index").toString,
            checkpoint = tmp.resolve("ckpt").toString,
            cells = 16, portableSeeding = true,
            pqM = 4, pqK = 8, pqIters = 1, trainSample = 256)
          graft.ops.IvfIndex.indexBatch(vecs(s, dir), cfg, 0L)
          val res = graft.ops.IvfIndex.servePq(s, cfg.target,
            vecs(s, dir).filter(col("vec_id") < 32), topK = 5, nprobe = 4)
            .select("qid", "rank", "nid")
            .orderBy("qid", "rank")
          // materialize into a local relation so the temp index can be
          // deleted here (a lazy read would pin the dir)
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally {
          Registry.rmTree(tmp.toFile)
        }
      },
      Some(ivfPqOracle)),

    // Incremental embedding admission — new (vec_id >= 400) vs corpus
    // (< 400) only, through the sketch-bucketed scale path: candidates
    // meet on the portable (tbl_id, bucket) key (so DuckDB replicates
    // the exact bucket assignment and verifies candidate generation, not
    // just recall), corpus×corpus pairs never form.
    "dedup_embed_incr" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        Similarity.sketchNearDupAgainst(
          e.filter(col("vec_id") >= 400), e.filter(col("vec_id") < 400),
          threshold = 0.4, bits = 3, tables = 4,
          sketchFn = Similarity.portableSignSketch(_, _, _, _))
          .select("new_id", "corpus_id")
          .orderBy("new_id", "corpus_id")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, v, t.t AS tbl_id,
        |    list_sum(list_transform(range(0, 3), i ->
        |      CASE WHEN list_sum(list_transform(range(0, len(v)), d ->
        |        CASE WHEN ((((t.t * 1009 + i) * 769 + d) * 2654435761) >> 16) & 1 = 0
        |             THEN v[d + 1] ELSE -v[d + 1] END)) >= 0
        |      THEN 1 << i ELSE 0 END)) AS bucket
        |  FROM e, range(0, 4) t(t)),
        |cand AS (
        |  SELECT DISTINCT n.vec_id AS new_id, c.vec_id AS corpus_id
        |  FROM b n JOIN b c ON n.tbl_id = c.tbl_id AND n.bucket = c.bucket
        |  WHERE n.vec_id >= 400 AND c.vec_id < 400),
        |p AS (
        |  SELECT new_id, corpus_id,
        |    list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(n.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS cos
        |  FROM cand JOIN e n ON n.vec_id = cand.new_id JOIN e c ON c.vec_id = cand.corpus_id)
        |SELECT new_id, corpus_id FROM p WHERE cos >= 0.4
        |ORDER BY new_id, corpus_id""".stripMargin)),

    // Embedding near-dup pairs over a bounded id range (the library's
    // scale path buckets by Similarity.signSketch instead of n²).
    "dedup_embed" -> QueryDef(
      (s, dir) => {
        Similarity.nearDupPairs(vecs(s, dir).filter(col("vec_id") < 512), threshold = 0.4)
          .select("a_id", "b_id")
          .orderBy("a_id", "b_id")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 512),
        |p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
        |    (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id FROM p WHERE cos >= 0.4
        |ORDER BY a_id, b_id""".stripMargin)),

    // SemDeDup (Abbas et al. 2023) — semantic dedup the embedding way:
    // k-means cells from the frozen portable quantizer (the ann_ivf
    // seeding, which the oracle replays exactly), then inside each cell
    // drop every vector with an EARLIER cluster-mate at cosine ≥ 0.4.
    // The cell key bounds the pair join (O(N·cellSize), never all
    // pairs); cross-cell near-dups are invisible by design — the
    // approximation that buys the bound (dedup_embed's LSH family is
    // the recall-tunable alternative). Output is the full per-vector
    // verdict: cell, dominating earlier id (-1 = none), keep 1/0.
    "dedup_semantic" -> QueryDef(
      (s, dir) => {
        Similarity.semDedup(vecs(s, dir), tau = 0.4, cells = 16,
          portableSeeding = true)
          .orderBy("vec_id")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |cscored AS (
        |  SELECT e.vec_id, e.v, cent.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM e CROSS JOIN cent),
        |a AS (
        |  SELECT vec_id, v, cell FROM cscored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |p AS (
        |  SELECT x.vec_id, MIN(y.vec_id) AS dup_of
        |  FROM a x JOIN a y ON x.cell = y.cell AND y.vec_id < x.vec_id
        |  WHERE list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
        |        (sqrt(list_sum(list_transform(x.v, t -> t * t))) *
        |         sqrt(list_sum(list_transform(y.v, t -> t * t)))) >= 0.4
        |  GROUP BY 1)
        |SELECT a.vec_id, a.cell,
        |       CAST(COALESCE(p.dup_of, -1) AS BIGINT) AS dup_of,
        |       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM a LEFT JOIN p USING (vec_id) ORDER BY vec_id""".stripMargin)),

    // SemDeDup with ANN-ASSISTED assignment (r20) — the paper-scale
    // route where brute per-vector scoring of every cell is the
    // dominant cost: the 16 frozen cells are grouped under 4
    // super-centroids (2 sorted-fold Lloyd passes over the 16-row
    // centroid frame), each vector routes to its nearest NON-EMPTY
    // super-group, and only that group's cells are scored exactly.
    // The oracle replays the WHOLE two-level pipeline — fine seeding,
    // super-seeding by the same portable hash over CELL ids, both
    // Lloyd rounds (id-sorted member folds), the centroid→group and
    // vector→group→cell assignments, and the per-cell dominator — so
    // the scale path is value-verified end to end, not just probed.
    "dedup_semantic_hier" -> QueryDef(
      (s, dir) => {
        Similarity.semDedup(vecs(s, dir), tau = 0.4, cells = 16,
          portableSeeding = true, superCells = 4)
          .orderBy("vec_id")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |sseed AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (cell * 2654435761) % 4294967296, cell) AS BIGINT) - 1 AS gid,
        |         cv AS gv
        |  FROM cent
        |  QUALIFY row_number() OVER (ORDER BY (cell * 2654435761) % 4294967296, cell) <= 4),
        |ga0 AS (
        |  SELECT cell, cv, gid FROM (
        |    SELECT c.cell, c.cv, s.gid,
        |      list_sum(list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * s.gv[i])) /
        |      (sqrt(list_sum(list_transform(c.cv, x -> x * x))) *
        |       sqrt(list_sum(list_transform(s.gv, x -> x * x)))) AS cd
        |    FROM cent c CROSS JOIN sseed s)
        |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY cd DESC, gid) = 1),
        |g1 AS (
        |  SELECT gid, list_transform(range(1, len(ms[1]) + 1), p ->
        |    list_sum(list_transform(ms, m -> m[p])) / len(ms)) AS gv
        |  FROM (SELECT gid, list(cv ORDER BY cell) AS ms FROM ga0 GROUP BY gid)),
        |ga1 AS (
        |  SELECT cell, cv, gid FROM (
        |    SELECT c.cell, c.cv, g.gid,
        |      list_sum(list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * g.gv[i])) /
        |      (sqrt(list_sum(list_transform(c.cv, x -> x * x))) *
        |       sqrt(list_sum(list_transform(g.gv, x -> x * x)))) AS cd
        |    FROM cent c CROSS JOIN g1 g)
        |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY cd DESC, gid) = 1),
        |g2 AS (
        |  SELECT gid, list_transform(range(1, len(ms[1]) + 1), p ->
        |    list_sum(list_transform(ms, m -> m[p])) / len(ms)) AS gv
        |  FROM (SELECT gid, list(cv ORDER BY cell) AS ms FROM ga1 GROUP BY gid)),
        |cg AS (
        |  SELECT cell, cv, gid FROM (
        |    SELECT c.cell, c.cv, g.gid,
        |      list_sum(list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * g.gv[i])) /
        |      (sqrt(list_sum(list_transform(c.cv, x -> x * x))) *
        |       sqrt(list_sum(list_transform(g.gv, x -> x * x)))) AS cd
        |    FROM cent c CROSS JOIN g2 g)
        |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY cd DESC, gid) = 1),
        |glive AS (SELECT g2.gid, g2.gv FROM g2 JOIN (SELECT DISTINCT gid FROM cg) l USING (gid)),
        |vg AS (
        |  SELECT vec_id, v, gid FROM (
        |    SELECT e.vec_id, e.v, g.gid,
        |      list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * g.gv[i])) /
        |      (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |       sqrt(list_sum(list_transform(g.gv, x -> x * x)))) AS cd
        |    FROM e CROSS JOIN glive g)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, gid) = 1),
        |a AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT vg.vec_id, vg.v, cg.cell,
        |      list_sum(list_transform(range(1, len(vg.v) + 1), i -> vg.v[i] * cg.cv[i])) /
        |      (sqrt(list_sum(list_transform(vg.v, x -> x * x))) *
        |       sqrt(list_sum(list_transform(cg.cv, x -> x * x)))) AS cd
        |    FROM vg JOIN cg USING (gid))
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |p AS (
        |  SELECT x.vec_id, MIN(y.vec_id) AS dup_of
        |  FROM a x JOIN a y ON x.cell = y.cell AND y.vec_id < x.vec_id
        |  WHERE list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
        |        (sqrt(list_sum(list_transform(x.v, t -> t * t))) *
        |         sqrt(list_sum(list_transform(y.v, t -> t * t)))) >= 0.4
        |  GROUP BY 1)
        |SELECT a.vec_id, a.cell,
        |       CAST(COALESCE(p.dup_of, -1) AS BIGINT) AS dup_of,
        |       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM a LEFT JOIN p USING (vec_id) ORDER BY vec_id""".stripMargin)),

    // Symmetric int8 quantization — the 4x storage/serving compression
    // with its audit trail: per-row scale, an order-weighted integer
    // checksum of the quantized vector (exact; permutation/truncation
    // cannot pass), and the max reconstruction error. Every column is a
    // sequential IEEE fold both engines compute identically; the scale
    // is let-bound inside the quantize and the quantized vector rides a
    // cache barrier into the audit (each is otherwise re-derived per
    // reference — interpreted HOFs get no CSE).
    "emb_quantize" -> QueryDef(
      (s, dir) => {
        val qdf = Similarity.int8Quantize(vecs(s, dir)).cache()
        Similarity.int8Audit(qdf)
          .select("vec_id", "scale", "q_checksum", "max_err")
          .orderBy("vec_id")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x ->
        |      CASE WHEN scale = 0 THEN 0.0 ELSE round(x / scale) END) AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |  CAST(list_sum(list_transform(range(1, len(qv) + 1),
        |    i -> CAST(qv[i] AS BIGINT) * i)) AS BIGINT) AS q_checksum,
        |  list_max(list_transform(range(1, len(qv) + 1),
        |    i -> abs(qv[i] * scale - v[i]))) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin)),

    // The STREAMING index lifecycle — similarity search in task form:
    // a config-built pipeline (embeddings_stream → ivf_append) drains
    // the corpus as 3 vec_id-range micro-batches into a PERSISTED IVF
    // store — batch 0 seeds + freezes the portable hash-ranked coarse
    // quantizer (from ITS vectors only), every batch appends
    // cell-bucketed postings (bucket dir = inverted list) — then top-k
    // is served FROM THE STORE, reading only the probed cells' files
    // (DeltaStore.readAppendOnly bucket pruning; IvfIndexSpec pins the
    // pruned inputFiles). The oracle is ann_ivf's with the quantizer
    // seeded from slice 0 ([lo, lo+span), span = (hi-lo+3)//3 — the
    // staging arithmetic), so seeding, frozen-cell assignment of later
    // increments AND the probed serve are all replayed exactly.
    "stream_index" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-stream-index-q")
        try {
          graft.pipeline.Pipeline.runStream(s, s"""{
            "source": {"type": "embeddings_stream", "dir": "$dir", "slices": 3},
            "processors": [],
            "sink": {"type": "ivf_append", "path": "$tmp/index",
                     "checkpoint": "$tmp/ckpt", "cells": 16,
                     "portableSeeding": true}
          }""")
          // file-merge maintenance INSIDE the gated path (the
          // delta_snapshot pattern: maintenance must be invisible to
          // readers, so the oracle needs no change): every chain folds
          // to one snap- generation, the serve below reads POST-optimize
          graft.Run.dispatch(s, s"""{"maintenance":
            {"type": "optimize", "path": "$tmp/index"}}""")
          val chains = graft.sink.DeltaStore.readManifest(s"$tmp/index")
          require(chains.nonEmpty && chains.values.forall(c =>
            c.size == 1 && c.head.startsWith("snap-")),
            s"optimize did not merge the index chains: $chains")
          val res = graft.ops.IvfIndex.serve(s, s"$tmp/index",
            vecs(s, dir).filter(col("vec_id") < 32), k = 5, nprobe = 4)
            .select("qid", "rank", "nid")
            .orderBy("qid", "rank")
          // materialize into a local relation so the temp index can be
          // deleted here (a lazy read would pin the dir)
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally {
          Registry.rmTree(tmp.toFile)
        }
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |b AS (
        |  SELECT min(vec_id) AS lo, (max(vec_id) - min(vec_id) + 3) // 3 AS span
        |  FROM e),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e, b WHERE vec_id < b.lo + b.span
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |scored AS (
        |  SELECT e.vec_id, e.v, cent.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM e CROSS JOIN cent),
        |corpus AS (
        |  SELECT vec_id AS nid, v AS nv, cell FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id < 32
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) <= 4),
        |p AS (
        |  SELECT DISTINCT qid, nid,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nv[i])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(nv, x -> x * x)))) AS cos
        |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
        |       nid
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Filtered vector search — the standard serving feature: top-k
    // restricted to a metadata predicate (label even), evaluated
    // INSIDE the persisted index's probed-cell scan over ONE shared
    // index (the index is built over everything; the predicate arrives
    // at query time — not one index per predicate). Pre-filter
    // semantics: top-5 among QUALIFYING neighbors, so rank counts only
    // even-label vectors. The oracle replays seeding/assignment over
    // the FULL corpus, then restricts the neighbor side.
    "ann_filtered" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-ann-filtered")
        try {
          val cfg = graft.ops.IvfIndex.Config(
            target = tmp.resolve("index").toString,
            checkpoint = tmp.resolve("ckpt").toString,
            cells = 16, portableSeeding = true, metaCols = Seq("label"))
          val corpus = table(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
              col("label"))
          graft.ops.IvfIndex.indexBatch(corpus, cfg, 0L)
          val res = graft.ops.IvfIndex.serve(s, cfg.target,
            vecs(s, dir).filter(col("vec_id") < 32), k = 5, nprobe = 4,
            filter = Some(pmod(col("label"), lit(2)) === 0))
            .select("qid", "rank", "nid")
            .orderBy("qid", "rank")
          // materialize into a local relation so the temp index can be
          // deleted here (a lazy read would pin the dir)
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally {
          Registry.rmTree(tmp.toFile)
        }
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         label
        |  FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |scored AS (
        |  SELECT e.vec_id, e.v, e.label, cent.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM e CROSS JOIN cent),
        |corpus AS (
        |  SELECT vec_id AS nid, v AS nv, cell FROM scored
        |  WHERE label % 2 = 0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id < 32
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) <= 4),
        |p AS (
        |  SELECT DISTINCT qid, nid,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nv[i])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(nv, x -> x * x)))) AS cos
        |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid)
        |SELECT qid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
        |       nid
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Index-quality evaluation: recall@5 of the IVF serve against the
    // exact brute-force ground truth, per query — the metric an ANN
    // deployment tunes nprobe/cells against. Both legs run in ONE plan
    // (the truth leg broadcasts the query set; the IVF leg prunes to
    // probed cells), and the oracle recomputes both legs AND the
    // intersection, so the reported recall itself is value-checked.
    "ann_recall" -> QueryDef(
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < 32)
        val truth = Similarity.bruteTopK(e, q, k = 5).select("qid", "nid")
        val approx = Similarity.ivfTopK(e, q, k = 5, cells = 16, nprobe = 4,
          portableSeeding = true).select("qid", "nid")
        val hits = truth.join(approx, Seq("qid", "nid"))
          .groupBy("qid").agg(count(lit(1)).as("hits"))
        q.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
          .withColumn("recall", col("hits").cast("double") / 5.0)
          .orderBy("qid")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 32),
        |bp AS (
        |  SELECT qid, e.vec_id AS nid,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(v,  x -> x * x)))) AS cos
        |  FROM q0 CROSS JOIN e WHERE e.vec_id <> qid),
        |bt AS (
        |  SELECT qid, nid FROM bp
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) <= 5),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS BIGINT) - 1 AS cell,
        |         v AS cv
        |  FROM e
        |  QUALIFY row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) <= 16),
        |scored AS (
        |  SELECT e.vec_id, e.v, cent.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cv[i])) /
        |    (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |     sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cd
        |  FROM e CROSS JOIN cent),
        |corpus AS (
        |  SELECT vec_id AS nid, v AS nv, cell FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id < 32
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cell) <= 4),
        |p AS (
        |  SELECT DISTINCT qid, nid,
        |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nv[i])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(nv, x -> x * x)))) AS cos
        |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid),
        |iv AS (
        |  SELECT qid, nid FROM p
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) <= 5),
        |h AS (SELECT qid, COUNT(*) AS hits FROM bt JOIN iv USING (qid, nid) GROUP BY qid)
        |SELECT q0.qid AS qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |       CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0 AS recall
        |FROM q0 LEFT JOIN h USING (qid) ORDER BY qid""".stripMargin))
  )
}
