package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.source.Changelog.table
import graft.ops.{Multimodal, TextAnalysis}

/** Text-analysis + multimodal-stub queries over the `documents` table.
  * Oracle portability: tokenization is a regex split on space runs,
  * hashes are md5, ratios are single IEEE divisions of exact ints. */
object TextQueries {

  /** Shared DuckDB tokenization CTE (mirror of [[TextAnalysis.tokens]]). */
  private val tokCte =
    """WITH t AS (
      |  SELECT doc_id, text, lang, source, n_chars,
      |         regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Corpus vocabulary head: the 100 most frequent tokens by exact
    // count — the tokenizer-coverage / vocab-induction report a
    // training pipeline runs before choosing a vocab. One explode +
    // map-side-combined count, then top-n (TakeOrderedAndProject —
    // each partition keeps a local 100-heap; the token table never
    // globally sorts). Ties break on the token itself.
    "text_vocab" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok"))
          .limit(100)
      },
      Some(s"""$tokCte,
        |c AS (SELECT tok, count(*) AS cnt
        |      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok)
        |SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 100""".stripMargin)),

    // The FUSED profile: every text signal gated individually below
    // (quality counters, language scores, duplicate-n-gram fractions,
    // fingerprint, token estimates) computed in ONE scan of the corpus
    // — the shape a 100 TB profiling pass actually runs. The oracle is
    // the union of the single-signal oracles, so the gate proves the
    // fusion changes nothing.
    "text_profile" -> QueryDef(
      (s, dir) => {
        TextAnalysis.profile(table(s, dir, "documents"))
          .select("doc_id", "n_tokens", "stop_cnt", "sum_len", "stop_ratio",
            "avg_tok_len", "s_en", "s_es", "s_de", "s_fr", "pred_lang",
            "dup_tok_frac", "dup_2gram_frac", "dup_3gram_frac", "fp",
            "n_re", "bpe_est")
          .orderBy("doc_id")
      },
      Some(s"""$tokCte,
        |g AS (
        |  SELECT doc_id, text, toks,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |  FROM t),
        |c AS (
        |  SELECT doc_id, text, toks, g2, g3,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to'))) AS BIGINT) AS stop_cnt,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','los'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('le','les','et','du'))) AS BIGINT) AS s_fr,
        |    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |  FROM g)
        |SELECT doc_id, n_tokens, stop_cnt, sum_len,
        |  stop_cnt / n_tokens AS stop_ratio,
        |  sum_len / n_tokens AS avg_tok_len,
        |  s_en, s_es, s_de, s_fr,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de >= s_fr THEN 'de'
        |       ELSE 'fr' END AS pred_lang,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(toks)) / len(toks) END AS dup_tok_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(g2)) / len(g2) END AS dup_2gram_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(g3)) / len(g3) END AS dup_3gram_frac,
        |  fp,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_re,
        |  CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS bpe_est
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Top-3 characteristic terms per doc by tf·idf (ratio form — no
    // libm ln, so the score is bit-portable). The only text query that
    // genuinely aggregates ACROSS the corpus: one (doc,term) shuffle,
    // one term-keyed df agg, a keyed join back, a per-doc top-k window.
    "text_tfidf" -> QueryDef(
      (s, dir) => {
        TextAnalysis.tfidf(table(s, dir, "documents"), "doc_id", "text", topK = 3)
          .orderBy("doc_id", "rank")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM x GROUP BY 1, 2),
        |d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |        CAST(tf AS DOUBLE) * nd / df AS score
        |      FROM tf JOIN d USING (term), n),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
        |      FROM s)
        |SELECT doc_id, term, tf, df, score, rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    "text_quality" -> QueryDef(
      (s, dir) => {
        TextAnalysis.quality(table(s, dir, "documents"))
          .select("doc_id", "n_chars", "n_tokens", "stop_cnt", "sum_len",
            "stop_ratio", "avg_tok_len")
          .orderBy("doc_id")
      },
      Some(s"""$tokCte,
        |c AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to'))) AS BIGINT) AS stop_cnt,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len
        |  FROM t)
        |SELECT doc_id, n_chars, n_tokens, stop_cnt, sum_len,
        |       stop_cnt / n_tokens AS stop_ratio,
        |       sum_len / n_tokens AS avg_tok_len
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Intra-doc repetition (duplicate n-gram fractions) — the
    // boilerplate/degeneration filter signal that complements the
    // cross-doc dedup family.
    "text_repetition" -> QueryDef(
      (s, dir) => {
        // token arrays behind a cache barrier (repetition() contract)
        val toksDf = table(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .cache()
        TextAnalysis.repetition(toksDf)
          .select("doc_id", "dup_tok_frac", "dup_2gram_frac", "dup_3gram_frac")
          .orderBy("doc_id")
      },
      Some(s"""$tokCte,
        |g AS (
        |  SELECT doc_id, toks,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(toks)) / len(toks) END AS dup_tok_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(g2)) / len(g2) END AS dup_2gram_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(g3)) / len(g3) END AS dup_3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin)),

    "text_langid" -> QueryDef(
      (s, dir) => {
        TextAnalysis.langId(table(s, dir, "documents"))
          .select("doc_id", "lang", "s_en", "s_es", "s_de", "s_fr", "pred_lang")
          .orderBy("doc_id")
      },
      Some(s"""$tokCte,
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','los'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('le','les','et','du'))) AS BIGINT) AS s_fr
        |  FROM t)
        |SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de >= s_fr THEN 'de'
        |       ELSE 'fr' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin)),

    "text_tokens" -> QueryDef(
      (s, dir) => {
        TextAnalysis.tokenCounts(table(s, dir, "documents"))
          .select("doc_id", "n_ws", "n_re", "bpe_est")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_re,
        |  CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "text_fingerprint" -> QueryDef(
      (s, dir) => {
        TextAnalysis.fingerprint(table(s, dir, "documents"))
          .withColumn("dup_cnt", count(lit(1)).over(Window.partitionBy("fp")).cast("long"))
          .select("doc_id", "fp", "dup_cnt")
          .orderBy("doc_id")
      },
      Some(s"""$tokCte,
        |f AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |  FROM t)
        |SELECT doc_id, fp,
        |       CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS dup_cnt
        |FROM f ORDER BY doc_id""".stripMargin)),

    // Composite cleaning pipeline — the training-data flagship: quality
    // filter -> fingerprint dedup -> surviving representatives. One
    // map-only scoring pass, one hash agg; no shuffle before the filter
    // has shrunk the data.
    "pipeline_clean" -> QueryDef(
      (s, dir) => {
        val scored = TextAnalysis.quality(table(s, dir, "documents"))
        val kept = scored.filter(col("n_tokens") >= 12 && col("stop_ratio") <= 0.5)
        TextAnalysis.fingerprint(kept)
          .groupBy("fp")
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("grp"))
          .select("keep_id", "grp")
          .orderBy("keep_id")
      },
      Some(s"""$tokCte,
        |c AS (
        |  SELECT doc_id, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to'))) AS BIGINT) AS stop_cnt
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |  FROM c WHERE n_tokens >= 12 AND stop_cnt / n_tokens <= 0.5)
        |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS grp
        |FROM f GROUP BY fp ORDER BY keep_id""".stripMargin)),

    // The SAME clean chain assembled from JSON through the config
    // front-end's quality_filter + exact_dedup stages — crawl-side
    // quality gating as a task, value-checked against the identical
    // oracle as the code-built chain above.
    "pipeline_clean_cfg" -> QueryDef(
      (s, dir) => graft.pipeline.Pipeline.buildFrame(s, s"""{
          "source": {"type": "table", "dir": "$dir", "table": "documents"},
          "processors": [
            {"type": "quality_filter", "minTokens": 12, "maxStopRatio": 0.5},
            {"type": "exact_dedup", "idCol": "doc_id", "textCol": "text"}
          ],
          "sink": {"type": "noop"}
        }""")
        .select(col("doc_id").as("keep_id"), col("dup_count").as("grp"))
        .orderBy("keep_id"),
      Some(s"""$tokCte,
        |c AS (
        |  SELECT doc_id, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to'))) AS BIGINT) AS stop_cnt
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |  FROM c WHERE n_tokens >= 12 AND stop_cnt / n_tokens <= 0.5)
        |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS grp
        |FROM f GROUP BY fp ORDER BY keep_id""".stripMargin)),

    // One-pass corpus validation: declared expectations → constraint
    // report (the release gate run before publishing). Every counter
    // is a when()-lane in ONE aggregate over a column-pruned scan;
    // the report is |constraints| rows at any corpus size.
    "quality_report" -> QueryDef(
      (s, dir) => {
        import graft.ops.Validate
        Validate.report(table(s, dir, "documents"), Seq(
          Validate.NotNull("text"), Validate.Unique("doc_id"),
          Validate.InRange("n_chars", 1, 1000000), Validate.MinRows(100),
          Validate.DistinctAtLeast("lang", 3),
          Validate.Matches("lang", "^[a-z]{2}$")))
      },
      Some("""SELECT * FROM (
        |  SELECT 'distinct_at_least(lang,3)' AS "constraint",
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS observed,
        |    CAST(3 AS BIGINT) AS bound,
        |    COUNT(DISTINCT lang) >= 3 AS ok FROM documents
        |  UNION ALL SELECT 'in_range(n_chars,1,1000000)',
        |    CAST(SUM(CASE WHEN n_chars < 1 OR n_chars > 1000000
        |      THEN 1 ELSE 0 END) AS BIGINT), 0,
        |    SUM(CASE WHEN n_chars < 1 OR n_chars > 1000000
        |      THEN 1 ELSE 0 END) <= 0 FROM documents
        |  UNION ALL SELECT 'matches(lang)',
        |    CAST(SUM(CASE WHEN lang IS NOT NULL
        |      AND NOT regexp_matches(lang, '^[a-z]{2}$')
        |      THEN 1 ELSE 0 END) AS BIGINT), 0,
        |    SUM(CASE WHEN lang IS NOT NULL
        |      AND NOT regexp_matches(lang, '^[a-z]{2}$')
        |      THEN 1 ELSE 0 END) <= 0 FROM documents
        |  UNION ALL SELECT 'min_rows(100)',
        |    CAST(COUNT(*) AS BIGINT), 100, COUNT(*) >= 100 FROM documents
        |  UNION ALL SELECT 'not_null(text)',
        |    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    0, SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) <= 0
        |    FROM documents
        |  UNION ALL SELECT 'unique(doc_id)',
        |    CAST(COUNT(*) - COUNT(DISTINCT doc_id)
        |      - SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    0, COUNT(*) - COUNT(DISTINCT doc_id)
        |      - SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) <= 0
        |    FROM documents
        |) ORDER BY "constraint"""".stripMargin)),

    // Multimodal stub: binary column + metadata + frame-sampled digests.
    // The bytes are the UTF-8 text (ASCII), so byte slices == char slices
    // and the oracle can mirror them with plain string functions.
    "mm_binary" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.attachBinary(table(s, dir, "documents"))
        media.select(
          col("media_id"),
          col("meta.n_bytes").as("n_bytes"),
          ceil(length(col("bytes")) / lit(32.0)).cast("long").as("n_frames"),
          md5(expr("substring(bytes, 1, 32)")).as("d0"),
          md5(expr("substring(bytes, 33, 32)")).as("d1"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(ceil(strlen(text) / 32.0) AS BIGINT) AS n_frames,
        |  md5(substr(text, 1, 32)) AS d0,
        |  md5(substr(text, 33, 32)) AS d1
        |FROM documents ORDER BY media_id""".stripMargin)),

    // Frame sampling (every 2nd fixed-stride window) — the exploded 1→N
    // media seam, value-verified: each sampled frame's digest must match
    // the oracle's substring digests.
    "mm_frames" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.attachBinary(table(s, dir, "documents"))
        Multimodal.frameSample(s, media, stride = 32, everyK = 2)
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH fr AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(strlen(text) / 32.0) AS BIGINT), 2)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id AS media_id, frame_idx,
        |  md5(substr(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS frame_digest,
        |  CAST(LEAST(32, strlen(text) - frame_idx * 32) AS BIGINT) AS n_bytes
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin)),

    // Frame-level exact dedup across media: 32-byte windows, corpus
    // first occurrence wins — the cheap pre-pass before perceptual
    // clustering (shared intros/credits are byte-exact dups). Keeper
    // algebra shared with dedup_spans; pure Column plan, no UDF.
    "mm_frame_dedup" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.attachBinary(table(s, dir, "documents"))
        Multimodal.frameDedup(media, frameBytes = 32)
          .orderBy("media_id")
      },
      Some("""WITH m AS (
        |  SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS nb
        |  FROM documents),
        |f0 AS (SELECT media_id, unnest(list_transform(range(0, CAST(ceil(nb/32.0) AS BIGINT)),
        |    i -> struct_pack(pos := i, fr := substr(text, CAST(i*32+1 AS INT), 32)))) AS u
        |  FROM m WHERE nb >= 1),
        |f AS (SELECT media_id, CAST(u.pos AS BIGINT) AS pos, md5(u.fr) AS h FROM f0),
        |k AS (SELECT h, min(media_id*1048576+pos) AS firstk FROM f GROUP BY h),
        |j AS (SELECT f.media_id, f.pos, (f.media_id*1048576+f.pos = k.firstk) AS kept,
        |      (CAST(k.firstk // 1048576 AS BIGINT) <> f.media_id) AS crossdup
        |      FROM f JOIN k USING (h))
        |SELECT media_id, COUNT(*) AS n_frames,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS dup_frames,
        |  CAST(SUM(CASE WHEN crossdup THEN 1 ELSE 0 END) AS BIGINT) AS cross_dup_frames
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Resize stub (nearest-neighbor byte downsample to ≤64) — the
    // batched per-media kernel seam, digest-verified against the
    // oracle's character-sampling replica.
    "mm_resize" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.attachBinary(table(s, dir, "documents"))
        Multimodal.resizeBytes(s, media, target = 64).orderBy("media_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |         LEAST(64, strlen(text)) AS out_len
        |  FROM documents WHERE strlen(text) > 0),
        |s AS (
        |  SELECT doc_id, text, len, out_len,
        |         unnest(range(0, out_len)) AS i
        |  FROM d)
        |SELECT doc_id AS media_id, CAST(out_len AS BIGINT) AS out_len,
        |  md5(string_agg(substr(text, CAST((i * len) // out_len AS BIGINT) + 1, 1),
        |                 '' ORDER BY i)) AS digest
        |FROM s GROUP BY doc_id, out_len
        |ORDER BY media_id""".stripMargin)),

    // PII redaction: the corpus has no natural PII, so the fixture is
    // synthesized in-query (deterministic email + phone per doc, the
    // synthPng pattern); the op then counts and scrubs both. Phones are
    // counted AFTER email redaction — digits inside an address never
    // double-count. Output pins counts AND the full redacted text (md5).
    "text_redact" -> QueryDef(
      (s, dir) => {
        val withPii = table(s, dir, "documents").withColumn("text",
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        TextAnalysis.redactPii(withPii)
          .select(col("doc_id"), col("n_emails"), col("n_phones"),
            md5(col("text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or call 555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents),
        |r1 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM p)
        |SELECT doc_id, n_emails,
        |  CAST(len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(t1, '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS clean_md5
        |FROM r1 ORDER BY doc_id""".stripMargin)),

    // REAL image decode: synthesize a deterministic PNG per doc (raster
    // is closed-form in doc_id), decode it back with the JDK's ImageIO,
    // and report true dimensions + per-channel pixel sums. PNG is
    // lossless, so the oracle recomputes the expected values from the
    // raster formula alone — a wrong decoder cannot pass.
    "mm_decode" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.synthPng(s, table(s, dir, "documents"))
        Multimodal.decodeImage(s, media).orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'png' AS format,
        |  CAST(4 + doc_id % 13 AS INT) AS width,
        |  CAST(3 + doc_id % 11 AS INT) AS height,
        |  CAST((3 + doc_id % 11) * list_sum(list_transform(
        |    range(0, CAST(4 + doc_id % 13 AS BIGINT)), x -> (doc_id + x) % 256)) AS BIGINT) AS sum_r,
        |  CAST((4 + doc_id % 13) * list_sum(list_transform(
        |    range(0, CAST(3 + doc_id % 11 AS BIGINT)), y -> (doc_id + y) % 256)) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(0, CAST(4 + doc_id % 13 AS BIGINT)), x ->
        |    list_sum(list_transform(range(0, CAST(3 + doc_id % 11 AS BIGINT)), y ->
        |      (doc_id + x + y) % 256)))) AS BIGINT) AS sum_b
        |FROM documents ORDER BY media_id""".stripMargin)),

    // Image dedup by perceptual hash: rasters repeat with doc_id % 64
    // (a corpus with duplicated images), each is REALLY decoded, aHash'd
    // (8x8 downsample → grayscale → mean threshold → 64-bit signature as
    // a bit string), and grouped — dup_cnt is the per-signature group
    // size. The oracle recomputes every gray cell and the mean from the
    // raster formula; a decoder or downsampler off by one pixel fails.
    "mm_phash" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.synthPng(s, table(s, dir, "documents"), idMod = 64)
        Multimodal.aHash64(s, media)
          .withColumn("dup_cnt",
            count(lit(1)).over(Window.partitionBy("phash")).cast("long"))
          .orderBy("media_id")
      },
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), i ->
        |      (((doc_id % 64) + ((i % 8) * (4 + (doc_id % 64) % 13)) // 8) % 256
        |     + ((doc_id % 64) + ((i // 8) * (3 + (doc_id % 64) % 11)) // 8) % 256
        |     + ((doc_id % 64) + ((i % 8) * (4 + (doc_id % 64) % 13)) // 8
        |                      + ((i // 8) * (3 + (doc_id % 64) % 11)) // 8) % 256) // 3
        |    ) AS gray
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(gray, v ->
        |      CASE WHEN v > list_sum(gray) / 64.0 THEN '1' ELSE '0' END), '') AS phash
        |  FROM g)
        |SELECT doc_id AS media_id, phash,
        |  CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS dup_cnt
        |FROM h ORDER BY media_id""".stripMargin)),

    // Image near-dup PAIRS at scale: aHash signatures band-blocked into
    // 4x16-bit keys, candidates meet on a (band, key) equi-join (never
    // corpus^2), exact hamming verifies. The oracle is the FULL
    // quadratic hamming filter — pigeonhole makes the band-blocked
    // output provably identical for maxDist <= 3, and the gate checks
    // that equivalence on real decoded images.
    "mm_phash_neardup" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.synthPng(s, table(s, dir, "documents"), idMod = 64)
        Multimodal.phashNearDup(Multimodal.aHash64(s, media), maxDist = 3)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), i ->
        |      (((doc_id % 64) + ((i % 8) * (4 + (doc_id % 64) % 13)) // 8) % 256
        |     + ((doc_id % 64) + ((i // 8) * (3 + (doc_id % 64) % 11)) // 8) % 256
        |     + ((doc_id % 64) + ((i % 8) * (4 + (doc_id % 64) % 13)) // 8
        |                      + ((i // 8) * (3 + (doc_id % 64) % 11)) // 8) % 256) // 3
        |    ) AS gray
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(gray, v ->
        |      CASE WHEN v > list_sum(gray) / 64.0 THEN '1' ELSE '0' END), '') AS phash
        |  FROM g),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_filter(range(1, 65),
        |      i -> substr(a.phash, CAST(i AS INT), 1)
        |        <> substr(b.phash, CAST(i AS INT), 1))) AS BIGINT) AS dist
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, dist FROM pairs
        |WHERE dist <= 3 ORDER BY a_id, b_id""".stripMargin)),

    // Image near-dup CLUSTERS — the SAME Clusters.components that
    // groups text docs, fed by the 64-bit phash graph (band-blocked
    // pairs: wide sigs are where banding is right). Identical-raster
    // cliques contract to one node each (distinct phashes), labels
    // join back, canonical = min media_id per component. The oracle's
    // recursive CTE groups by reachability over the distinct-phash
    // graph — representatives differ (min string vs min packed long)
    // but the PARTITIONS are the components on both sides, and only
    // partition-functions (min id, size) are output.
    "mm_phash_clusters" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.synthPng(s, table(s, dir, "documents"), idMod = 64)
        val sigs = Multimodal.aHash64(s, media)
          .select(col("media_id"), Multimodal.packPhash(col("phash")).as("sim"))
          .cache()
        val nodes = sigs.select(col("sim").as("id")).distinct()
        val edges = graft.ops.Dedup.simhashPairs(
          nodes.select(col("id"), col("id").as("_sim")), "_sim", "id",
          maxHamming = 3, bands = 4)
        val comp = graft.ops.Clusters.components(nodes, "id", edges, "a_id", "b_id")
        val w = Window.partitionBy("root")
        sigs.join(comp.select(col("id").as("sim"), col("comp").as("root")), "sim")
          .withColumn("cluster", min("media_id").over(w))
          .withColumn("csize", count(lit(1)).over(w).cast("long"))
          .select("media_id", "cluster", "csize")
          .orderBy("media_id")
      },
      Some("""WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), i ->
        |      (((doc_id % 64) + ((i % 8) * (4 + (doc_id % 64) % 13)) // 8) % 256
        |     + ((doc_id % 64) + ((i // 8) * (3 + (doc_id % 64) % 11)) // 8) % 256
        |     + ((doc_id % 64) + ((i % 8) * (4 + (doc_id % 64) % 13)) // 8
        |                      + ((i // 8) * (3 + (doc_id % 64) % 11)) // 8) % 256) // 3
        |    ) AS gray
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(gray, v ->
        |      CASE WHEN v > list_sum(gray) / 64.0 THEN '1' ELSE '0' END), '') AS phash
        |  FROM g),
        |n AS (SELECT DISTINCT phash FROM h),
        |e AS (
        |  SELECT a.phash AS u, b.phash AS v FROM n a JOIN n b
        |  ON a.phash <> b.phash AND
        |    len(list_filter(range(1, 65),
        |      i -> substr(a.phash, CAST(i AS INT), 1)
        |        <> substr(b.phash, CAST(i AS INT), 1))) <= 3),
        |reach(v, r) AS (
        |  SELECT phash, phash FROM n
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN e ON reach.v = e.u),
        |c AS (SELECT v AS phash, MIN(r) AS root FROM reach GROUP BY 1),
        |j AS (SELECT h.doc_id AS media_id, c.root FROM h JOIN c USING (phash))
        |SELECT media_id,
        |  CAST(MIN(media_id) OVER (PARTITION BY root) AS BIGINT) AS cluster,
        |  CAST(COUNT(*) OVER (PARTITION BY root) AS BIGINT) AS csize
        |FROM j ORDER BY media_id""".stripMargin)),

    // REAL pixel-space resize: decode the synthesized PNG, nearest-
    // neighbor resample to 8x6 (src pixel = floor(out·dim/outDim), the
    // byte-family convention), sum channels of the resampled raster.
    "mm_resize_img" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.synthPng(s, table(s, dir, "documents"))
        Multimodal.resizeImage(s, media, outW = 8, outH = 6).orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
        |  CAST(8 AS INT) AS out_w, CAST(6 AS INT) AS out_h,
        |  CAST(6 * list_sum(list_transform(range(0, 8), xp ->
        |    (doc_id + (xp * (4 + doc_id % 13)) // 8) % 256)) AS BIGINT) AS sum_r,
        |  CAST(8 * list_sum(list_transform(range(0, 6), yp ->
        |    (doc_id + (yp * (3 + doc_id % 11)) // 6) % 256)) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(0, 8), xp ->
        |    list_sum(list_transform(range(0, 6), yp ->
        |      (doc_id + (xp * (4 + doc_id % 13)) // 8
        |              + (yp * (3 + doc_id % 11)) // 6) % 256)))) AS BIGINT) AS sum_b
        |FROM documents ORDER BY media_id""".stripMargin)),

    // C4-style boilerplate scrub: 5-grams repeated across ≥2 distinct
    // docs are masked, survivors reassemble in order. Content-REWRITE
    // from corpus statistics — the oracle checks the rebuilt strings
    // verbatim, so gram positions, coverage expansion and reassembly
    // order are all load-bearing.
    "text_boilerplate" -> QueryDef(
      (s, dir) => {
        TextAnalysis.maskBoilerplate(table(s, dir, "documents"),
          "doc_id", "text", n = 5, minDocs = 2).orderBy("doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, i - 1 AS gpos, array_to_string(toks[i:i+4], ' ') AS gram
        |      FROM t, LATERAL unnest(range(1, greatest(len(toks) - 3, 1))) AS r(i)),
        |f AS (SELECT gram FROM (
        |        SELECT gram, COUNT(DISTINCT doc_id) AS c FROM g GROUP BY 1)
        |      WHERE c >= 2),
        |cov AS (SELECT DISTINCT g.doc_id, g.gpos + j AS pos
        |        FROM g JOIN f USING (gram), LATERAL unnest(range(0, 5)) AS u(j)),
        |tp AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |       FROM t, LATERAL unnest(range(1, len(toks) + 1)) AS r(i)),
        |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
        |         ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |        FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(toks) - COALESCE(n_kept, 0) AS BIGINT) AS n_masked,
        |       COALESCE(clean_text, '') AS clean_text
        |FROM t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Bigram-LM fluency: the corpus is the model, rarity is an integer
    // cross-multiplied threshold (P(v|u) < 1/30) — KenLM-filter shape,
    // zero transcendentals, bit-portable.
    "text_lm_score" -> QueryDef(
      (s, dir) => {
        TextAnalysis.lmFluency(table(s, dir, "documents"),
          "doc_id", "text", num = 1, den = 30).orderBy("doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks[i] AS u, toks[i+1] AS v
        |      FROM t, LATERAL unnest(range(1, greatest(len(toks), 1))) AS r(i)),
        |bc AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS bc FROM b GROUP BY 1, 2),
        |uc AS (SELECT u, CAST(SUM(bc) AS BIGINT) AS uc FROM bc GROUP BY 1),
        |j AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |        CAST(SUM(CASE WHEN bc * 30 < uc THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |      FROM b JOIN bc USING (u, v) JOIN uc USING (u) GROUP BY 1)
        |SELECT t.doc_id,
        |       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(COALESCE(n_rare, 0) AS BIGINT) AS n_rare,
        |       CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
        |            ELSE n_rare * 1.0 / n_bigrams END AS rare_frac
        |FROM t LEFT JOIN j USING (doc_id)
        |ORDER BY doc_id""".stripMargin))
  )
}
