package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import graft.op.{Compactor, Processors}
import graft.sink.Sinks
import graft.source.Changelog

/** Config-driven dataflow assembly — the engine's analog of the
  * reference's JSON pipeline front-end (pipe-s
  * `pkg/builder/componentbuilder.go:126-234`: a name→constructor registry
  * assembling Input → [Processor…] → Output).
  *
  * Here a pipeline is `source → (DataFrame => DataFrame)* → sink`; the
  * processors compose by function composition, so the WHOLE assembled
  * chain is one Catalyst plan — config-driven assembly costs nothing at
  * execution time (unlike the reference's per-message interpreted chain).
  *
  * Config shape (JSON):
  * {{{
  * { "source": {"type": "events", "dir": "/root/testdata/sf0.001"},
  *   "processors": [
  *     {"type": "filter", "tablePattern": "^srcdb\\.sbtest\\d+$", "ops": ["insert","update","delete"]},
  *     {"type": "namecatcher", "pattern": "^([a-z]+)\\d+$"},
  *     {"type": "compact"} ],
  *   "sink": {"type": "noop"} }
  * }}}
  */
object Pipeline {

  type Stage = DataFrame => DataFrame

  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  private def strMap(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  /** JSON scalar → typed Column literal, by the node's OWN type. The
    * dsir_* stages' first cut read every numeric with asLong(), which
    * silently floors a fractional targetValue (1.5 matched rows equal
    * to 1) and never matches a boolean column (asText fallthrough) —
    * the target predicate must fail loudly or compare typed. */
  private def litOf(tv: JsonNode): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    if (tv.isIntegralNumber) lit(tv.asLong())
    else if (tv.isFloatingPointNumber) lit(tv.asDouble())
    else if (tv.isBoolean) lit(tv.asBoolean())
    else lit(tv.asText())
  }

  /** Shared rule parser for the `expect` (fail-loud) and
    * `quality_report` (audit-row) stages. */
  private def parseRules(rules: JsonNode): Seq[graft.ops.Validate.Expectation] = {
    import graft.ops.Validate._
    rules.elements().asScala.map { r =>
      r.get("kind").asText() match {
        case "not_null" => NotNull(r.get("col").asText())
        case "unique" => Unique(r.get("col").asText())
        case "in_range" => InRange(r.get("col").asText(),
          r.get("lo").asLong(), r.get("hi").asLong())
        case "min_rows" => MinRows(r.get("n").asLong())
        case "distinct_at_least" => DistinctAtLeast(r.get("col").asText(),
          r.get("n").asLong())
        case "matches" => Matches(r.get("col").asText(),
          r.get("regex").asText())
        case other =>
          throw new IllegalArgumentException(s"unknown expectation: $other")
      }
    }.toSeq
  }

  /** Name→constructor registry for processor stages (the authoritative
    * component inventory, mirroring `componentbuilder.go:170-234`). */
  val processorRegistry: Map[String, JsonNode => Stage] = Map(
    "filter" -> (c => Processors.dmlFilter(c.get("tablePattern").asText(),
      strs(c.get("ops")))),
    "remap-op" -> (c => Processors.remapOperation(strMap(c.get("map")))),
    "rename-table" -> (c => Processors.renameTable(
      if (c.has("dbMap")) strMap(c.get("dbMap")) else Map.empty,
      if (c.has("tblMap")) strMap(c.get("tblMap")) else Map.empty)),
    "rename-logical" -> (c => Processors.renameTableLogical(strMap(c.get("map")))),
    "namecatcher" -> (c => Processors.nameCatcher(c.get("pattern").asText())),
    "columnvalue" -> (c => Processors.columnValue(strMap(c.get("keyColPerTable")),
      c.get("rowCol").asText())),
    "valuemap" -> (c => Processors.valueMap(strMap(c.get("map")),
      c.get("in").asText(), c.get("out").asText())),
    "marshal" -> (c => Processors.marshal(
      if (c.has("out")) c.get("out").asText() else "json")),
    "compact" -> (_ => Compactor.compact),
    "route" -> (c => Processors.route(c.get("n").asInt(),
      strs(c.get("keys")))),

    // ── corpus-release stages: the training-data layer in task form.
    // The reference's ethos is config-driven assembly (componentbuilder
    // .go:170-234); these make the release chain — scrub → mix →
    // (pack | z-order | shuffle) — a JSON task instead of a library
    // call, and because stages compose as plain DataFrame functions the
    // whole assembled chain is still ONE Catalyst plan.
    "decontaminate" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val id = c.get("idCol").asText()
      val below = c.get("benchBelowId").asLong()
      graft.ops.Decontaminate.scrub(
        df.filter(col(id) >= below), df.filter(col(id) < below),
        id, c.get("textCol").asText(),
        n = if (c.has("n")) c.get("n").asInt() else 5)
    }),
    // near-dup (paraphrase) decontamination scrub: drop corpus docs
    // whose shingle Jaccard against any bench doc (id < benchBelowId)
    // reaches minJaccard — the fuzzy complement of "decontaminate"
    "decontaminate_fuzzy" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val id = c.get("idCol").asText()
      val below = c.get("benchBelowId").asLong()
      val corpus = df.filter(col(id) >= below)
      val hits = graft.ops.Decontaminate.contaminatedNear(
        corpus, df.filter(col(id) < below), id, c.get("textCol").asText(),
        minJaccard =
          if (c.has("minJaccard")) c.get("minJaccard").asDouble() else 0.5)
      corpus.join(hits.select(id).distinct(), Seq(id), "left_anti")
    }),
    "mix_rate" -> (c => df => graft.ops.Mixing.sampleByRate(df,
      c.get("strataCol").asText(), c.get("idCol").asText(),
      strMap(c.get("rates")).map { case (k, v) => k -> v.toDouble },
      if (c.has("default")) c.get("default").asDouble() else 1.0)),
    "mix_temperature" -> (c => df => graft.ops.Mixing.sampleByTemperature(df,
      c.get("strataCol").asText(), c.get("idCol").asText(),
      if (c.has("alpha")) c.get("alpha").asDouble() else 0.5)),
    // fail-loud corpus gate: release configs put this between scrub
    // and write so a malformed corpus can never reach the sink (note:
    // this stage is EAGER — it runs one validation scan when built)
    "expect" -> (c => df =>
      graft.ops.Validate.expect(df, parseRules(c.get("rules")))),
    // the report form of expect: one row per rule with its violation
    // count instead of a throw — the audit artifact a release run keeps
    "quality_report" -> (c => df =>
      graft.ops.Validate.report(df, parseRules(c.get("rules")))),
    "mix_weight" -> (c => df => graft.ops.Mixing.sampleByWeight(df,
      c.get("idCol").asText(), c.get("weightCol").asText(),
      c.get("n").asLong())),
    "mix_epochs" -> (c => df => graft.ops.Mixing.repeatByEpochs(df,
      c.get("strataCol").asText(), c.get("idCol").asText(),
      strMap(c.get("epochsMilli")).map { case (k, v) => k -> v.toLong },
      if (c.has("defaultMilli")) c.get("defaultMilli").asLong() else 1000L)),
    "cap_per_key" -> (c => df => graft.ops.Mixing.capPerKey(df,
      c.get("keyCol").asText(), c.get("ordCol").asText(),
      c.get("idCol").asText(), n = c.get("n").asInt(),
      salts = if (c.has("salts")) c.get("salts").asInt() else 16,
      hotKeys = if (c.has("hotKeys"))
        c.get("hotKeys").elements().asScala.map(v =>
          if (v.isNumber) v.asLong(): Any else v.asText(): Any).toSeq
      else Nil)),
    "sketch_distinct" -> (c => df => graft.ops.Sketches.distinctProfile(df,
      c.get("grpCol").asText(), c.get("idCol").asText(),
      lgK = if (c.has("lgK")) c.get("lgK").asInt() else 12)),
    "split" -> (c => df => graft.ops.Mixing.assignSplits(df,
      c.get("idCol").asText(),
      c.get("fractions").fields().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toSeq)),
    // leakage-safe split: assign by the near-dup CLUSTER's canonical
    // id (CC over VERIFIED near-dup edges — Clusters.nearDupClusters,
    // the split_leakage_safe gate's construction), so a near-duplicate
    // pair can never straddle train/eval — the id-hash "split" stage
    // can and does. The original frame is PRESERVED: cluster and split
    // are added columns, so downstream stages (pack, quality_filter)
    // still see the text.
    "split_safe" -> (c => df => {
      val id = c.get("idCol").asText()
      val clusters = graft.ops.Clusters.nearDupClusters(
        df, id, c.get("textCol").asText(),
        minJaccard = if (c.has("minJaccard"))
          c.get("minJaccard").asDouble() else 0.5)
      graft.ops.Mixing.assignSplits(df.join(clusters, Seq(id)), "cluster",
        c.get("fractions").fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble()).toSeq)
    }),
    // standalone verified-edge cluster labels (the split_safe cluster
    // definition, without the split): adds a `cluster` column — the
    // near-dup component's min id over LSH-candidate + exact-Jaccard
    // edges — for dedup review, fraction-sensitive sampling, or a
    // keep-best release keyed the non-percolating way. The input frame
    // is PRESERVED (cluster is an added column).
    "near_dup_clusters" -> (c => df => {
      val id = c.get("idCol").asText()
      df.join(graft.ops.Clusters.nearDupClusters(
        df, id, c.get("textCol").asText(),
        minJaccard = if (c.has("minJaccard"))
          c.get("minJaccard").asDouble() else 0.5), Seq(id))
    }),
    // DSIR-style importance selection (Selection.dsirSelect): keep the
    // k docs whose hashed-n-gram evidence best matches the target
    // exemplars (rows where targetCol = targetValue). The selected
    // frame KEEPS the input columns (score/n_grams/rank joined on);
    // downstream stages still see the text. EAGER at build time, like
    // dsir_fit: dsirSelect's top-k is a TakeOrdered collect, so the two
    // corpus scans (histogram + scoring) run when the stage BUILDS,
    // even if the caller only inspects the assembled frame's schema.
    "dsir_select" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val id = c.get("idCol").asText()
      val pred = col(c.get("targetCol").asText()) === litOf(c.get("targetValue"))
      val sel = graft.ops.Selection.dsirSelect(df, pred, id,
        c.get("textCol").asText(), k = c.get("k").asInt(),
        buckets = if (c.has("buckets")) c.get("buckets").asInt() else 1024)
      df.join(sel.select(col(id), col("score"), col("n_grams"), col("rank")),
        Seq(id))
    }),
    // fit the DSIR weight table on THIS frame and persist it (EAGER —
    // the bounded ≤buckets-row table is written when the stage builds,
    // the expect-stage pattern); the frame passes through unchanged.
    // Pairs with dsir_score's weightsPath: train once on the reference
    // corpus, apply frozen to every later increment.
    "dsir_fit" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val pred = col(c.get("targetCol").asText()) === litOf(c.get("targetValue"))
      graft.ops.Selection.fitWeights(df, pred, c.get("textCol").asText(),
        buckets = if (c.has("buckets")) c.get("buckets").asInt() else 1024)
        .coalesce(1).write.mode("overwrite")
        .parquet(c.get("path").asText())
      df
    }),
    // score every row, preserving the frame (no selection — downstream
    // stages threshold or mix on the score). Either re-fits on this
    // frame (targetCol/targetValue) or applies a FROZEN stored table
    // (weightsPath — the incremental deployment shape).
    "dsir_score" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val id = c.get("idCol").asText()
      val text = c.get("textCol").asText()
      val scored =
        if (c.has("weightsPath"))
          graft.ops.Selection.scoreAgainst(df,
            df.sparkSession.read.parquet(c.get("weightsPath").asText()),
            id, text)
        else {
          val pred = col(c.get("targetCol").asText()) === litOf(c.get("targetValue"))
          graft.ops.Selection.dsirScores(df, pred, id, text,
            buckets = if (c.has("buckets")) c.get("buckets").asInt() else 1024)
        }
      df.join(scored, Seq(id))
    }),
    // SemDeDup (Similarity.semDedup): semantic dedup by embedding
    // cluster — drops every row with an earlier same-cell mate at
    // cosine >= tau. Filters to the keepers, preserving the input
    // frame (the decontaminate_fuzzy shape).
    "semantic_dedup" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val id = c.get("idCol").asText()
      val vecCol = c.get("vecCol").asText()
      // parquet embedding storage is array<float>; the scoring algebra
      // (VecDot) is double-only — cast on the way in, never on the
      // preserved output frame
      val keep = graft.ops.Similarity.semDedup(
        df.withColumn(vecCol, col(vecCol).cast("array<double>")),
        tau = c.get("tau").asDouble(),
        cells = if (c.has("cells")) c.get("cells").asInt() else 16,
        trainIters = if (c.has("trainIters")) c.get("trainIters").asInt() else 0,
        idCol = id, vecCol = vecCol,
        portableSeeding = c.has("portableSeeding") &&
          c.get("portableSeeding").asBoolean(),
        keepFarthest = c.has("keepFarthest") &&
          c.get("keepFarthest").asBoolean(),
        // superCells > 0 = ANN-assisted assignment (the paper-scale
        // ~100k-cell regime; ~√cells is the cost minimum)
        superCells = if (c.has("superCells")) c.get("superCells").asInt() else 0)
        .filter(col("keep") === 1L).select(col(id))
      df.join(keep, Seq(id))
    }),
    "pack" -> (c => df => {
      import org.apache.spark.sql.functions.{col, size, xxhash64}
      val id = c.get("idCol").asText()
      val withToks = df.select(col(id),
        size(graft.ops.TextAnalysis.tokens(col(c.get("textCol").asText())))
          .cast("long").as("toks"))
      graft.ops.Mixing.packByOffset(withToks, id, "toks",
        ctxTokens = c.get("ctxTokens").asInt(),
        nShards = if (c.has("shards")) c.get("shards").asInt() else 32,
        shardHash = if (c.has("portableHash") && c.get("portableHash").asBoolean())
          graft.ops.Mixing.hashSlice else xxhash64(_))
    }),
    "pack_audit" -> (c => df => {
      import org.apache.spark.sql.functions._
      val id = c.get("idCol").asText()
      df.groupBy(col("shard").cast("long").as("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("pack_toks"),
          min(col(id)).as("min_doc"), max(col(id)).as("max_doc"))
    }),
    "zorder" -> (c => df => graft.ops.Mixing.zorderLayout(df,
      c.get("colA").asText(), c.get("colB").asText(),
      bitsPerDim = if (c.has("bitsPerDim")) c.get("bitsPerDim").asInt() else 3)),
    "global_shuffle" -> (c => df => graft.ops.Mixing.globalShuffle(df,
      c.get("idCol").asText())),
    // quality gating — the filter stages a crawl runs before release.
    // Both are map-only (single-scan packed-lane folds per doc, then a
    // codegen'd filter): no shuffle enters the plan.
    "quality_filter" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val scored = graft.ops.TextAnalysis.quality(df,
        if (c.has("textCol")) c.get("textCol").asText() else "text")
      val minToks =
        if (c.has("minTokens")) col("n_tokens") >= c.get("minTokens").asLong()
        else org.apache.spark.sql.functions.lit(true)
      val maxStop =
        if (c.has("maxStopRatio")) col("stop_ratio") <= c.get("maxStopRatio").asDouble()
        else org.apache.spark.sql.functions.lit(true)
      scored.filter(minToks && maxStop)
        .drop("n_tokens", "stop_cnt", "sum_len", "stop_ratio", "avg_tok_len")
    }),
    "langid_filter" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val keep = strs(c.get("keep"))
      graft.ops.TextAnalysis.langId(df,
        if (c.has("textCol")) c.get("textCol").asText() else "text")
        .filter(col("pred_lang").isin(keep.map(x => x: Any): _*))
        .drop(graft.ops.TextAnalysis.langMarkers.map(m => s"s_${m._1}") :+
          "pred_lang": _*)
    }),
    // link-analysis stages: derive within-group next-value edges, then
    // rank — the config form of the graph_rank_weight chain (compose
    // with mix_weight for rank-proportional seed selection)
    "edges_lead" -> (c => df => {
      import org.apache.spark.sql.functions.{col, lead}
      val v = c.get("valueCol").asText()
      // tie-break the order on the value column — a tied window order
      // would make the derived edge multiset engine/run-dependent
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(c.get("partitionCol").asText())
        .orderBy(c.get("orderCol").asText(), v)
      df.select(col(v).as("src"), lead(col(v), 1).over(w).as("dst"))
    }),
    "page_rank" -> (c => df => {
      val scale = if (c.has("scale")) c.get("scale").asLong() else 1000000000L
      if (c.has("weightCol"))
        graft.ops.Graphs.pageRankWeighted(df, c.get("srcCol").asText(),
          c.get("dstCol").asText(), c.get("weightCol").asText(),
          iterations = c.get("iterations").asInt(), scale = scale)
      else graft.ops.Graphs.pageRank(df, c.get("srcCol").asText(),
        c.get("dstCol").asText(),
        iterations = c.get("iterations").asInt(), scale = scale)
    }),
    "triangles" -> (c => df => graft.ops.Graphs.triangles(df,
      c.get("srcCol").asText(), c.get("dstCol").asText())),
    // multi-source BFS over the incoming edge frame; seeds come either
    // inline ("seeds": [ids…]) or as a SQL predicate over the edge
    // frame ("seedExpr" — seed set = src values of qualifying rows)
    "bfs" -> (c => df => {
      import org.apache.spark.sql.functions.{col, expr}
      val src = c.get("srcCol").asText()
      val seeds =
        if (c.has("seeds")) {
          val ids = c.get("seeds").elements().asScala.map(_.asLong()).toSeq
          df.sparkSession.createDataFrame(
            ids.map(org.apache.spark.sql.Row(_)).asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("seed",
                org.apache.spark.sql.types.LongType))))
        } else if (c.has("seedExpr"))
          df.filter(expr(c.get("seedExpr").asText()))
            .select(col(src).as("seed"))
        else throw new IllegalArgumentException(
          "bfs stage needs \"seeds\" or \"seedExpr\"")
      graft.ops.Graphs.bfsLevels(df, src, c.get("dstCol").asText(),
        seeds, "seed", maxDepth = c.get("maxDepth").asInt())
    }),
    // landmark harmonic-centrality estimate over the incoming edge
    // frame; landmark sampling mirrors the bfs stage's seedExpr form
    "harmonic_centrality" -> (c => df => {
      import org.apache.spark.sql.functions.{col, expr, md5}
      val src = c.get("srcCol").asText(); val dst = c.get("dstCol").asText()
      require(c.has("landmarkK") || c.has("landmarkExpr"),
        "harmonic_centrality: needs landmarkK (fixed-K md5-ranked " +
          "sample — the scale-safe form) or landmarkExpr (node predicate)")
      require(!c.has("landmarkK") || c.get("landmarkK").asInt() > 0,
        s"harmonic_centrality: landmarkK must be > 0 " +
          s"(got ${if (c.has("landmarkK")) c.get("landmarkK").asInt() else 0}" +
          ") — limit(0) would silently yield an empty centrality frame")
      // candidates = nodes of REAL edges (both endpoints non-null):
      // a row with a null endpoint is not an edge, and its non-null
      // side must not compete for a landmark slot
      val realE = df.filter(col(src).isNotNull && col(dst).isNotNull)
      val cand = realE.select(col(src).as("lm"))
        .unionByName(realE.select(col(dst).as("lm")))
      // landmarkK picks a FIXED-size md5-ranked sample (scale-safe:
      // the distance frame stays O(K·N) however big the graph gets);
      // landmarkExpr is the predicate form, e.g. "lm % 11 = 0" —
      // fine for a fixed landmark LIST, a trap as a fraction of nodes
      val lms =
        if (c.has("landmarkK"))
          cand.distinct()
            .orderBy(md5(col("lm").cast("string")))
            .limit(c.get("landmarkK").asInt())
        else cand.filter(expr(c.get("landmarkExpr").asText()))
      graft.ops.Graphs.harmonicCentrality(
        graft.ops.Graphs.landmarkDistances(df, src, dst, lms, "lm",
          maxDepth = c.get("maxDepth").asInt()))
    }),
    // ordered-step funnel over an event frame; "keyCol" (a unique
    // orderable key) selects the window-free hot-entity form, and
    // "withinNs" (+ "tsCol") adds the conversion-window constraint
    // (steps 2..k within withinNs of the chain's step-1 event)
    "funnel" -> (c => df =>
      if (c.has("withinNs")) {
        require(c.has("keyCol") && c.has("tsCol"),
          "funnel: withinNs needs keyCol and tsCol")
        graft.ops.Funnel.stepsByKeyWithin(df,
        c.get("entityCol").asText(), c.get("typeCol").asText(),
        strs(c.get("steps")), c.get("keyCol").asText(),
        c.get("tsCol").asText(), c.get("withinNs").asLong())
      } else if (c.has("keyCol")) graft.ops.Funnel.stepsByKey(df,
        c.get("entityCol").asText(), c.get("typeCol").asText(),
        strs(c.get("steps")), c.get("keyCol").asText())
      else graft.ops.Funnel.steps(df,
        c.get("entityCol").asText(), c.get("typeCol").asText(),
        strs(c.get("steps")), strs(c.get("orderCols")))),
    "sample_exact" -> (c => df => graft.ops.Mixing.sampleExactN(df,
      c.get("idCol").asText(), c.get("n").asInt())),
    "retention" -> (c => df => graft.ops.Retention.cohorts(df,
      c.get("entityCol").asText(), c.get("tsNsCol").asText(),
      c.get("periodNs").asLong())),
    "label_prop" -> (c => df => graft.ops.Graphs.labelPropagation(df,
      c.get("srcCol").asText(), c.get("dstCol").asText(),
      iterations = c.get("iterations").asInt())),
    "kcore" -> (c => df => graft.ops.Graphs.kCorePeel(df,
      c.get("srcCol").asText(), c.get("dstCol").asText(),
      k = c.get("k").asInt(), rounds = c.get("rounds").asInt())),
    // exact dedup as a task stage: fingerprint each doc (sorted distinct
    // token set, md5), keep the min id per fingerprint, carry the group
    // size as `dup_count`. One map-side-combinable hash agg + one join
    // keyed on the fingerprint — never a pairwise form.
    "exact_dedup" -> (c => df => {
      import org.apache.spark.sql.functions._
      val id = c.get("idCol").asText()
      val fp = graft.ops.TextAnalysis.fingerprint(df,
        if (c.has("textCol")) c.get("textCol").asText() else "text")
      val grps = fp.groupBy(col("fp").as("_gfp"))
        .agg(min(col(id)).as("_keep"), count(lit(1)).as("dup_count"))
      fp.join(grps, col("fp") === col("_gfp") && col(id) === col("_keep"))
        .drop("_gfp", "_keep", "fp")
    }),
    // exact token-granular span-dedup audit: per doc, total tokens,
    // covered (duplicated-span) tokens, and the residual fingerprint
    "span_dedup_exact" -> (c => df => graft.ops.Dedup.exactSpanCover(df,
      c.get("idCol").asText(),
      if (c.has("textCol")) c.get("textCol").asText() else "text",
      minTokens = if (c.has("minTokens")) c.get("minTokens").asInt() else 8)),
    // per-stratum exact-N draw: exactly n best-ranked (hash DESC, id)
    // rows per stratum — the salted two-phase capPerKey composed with
    // the deterministic hash-slice order, as the mix_exact_n_strata
    // gate does; `rk` is the within-stratum rank, so rk <= m nests the
    // size-m draw
    "sample_exact_strata" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val id = c.get("idCol").asText()
      graft.ops.Mixing.capPerKey(
        df.withColumn("_u", graft.ops.Mixing.hashSlice(col(id))),
        c.get("strataCol").asText(), "_u", id, n = c.get("n").asInt(),
        salts = if (c.has("salts")) c.get("salts").asInt() else 16)
        .drop("_u")
    }),
    // token-budget mixing: cut each named stratum down to ~N tokens by
    // the deterministic hash-slice threshold; unnamed strata pass
    "mix_budget" -> (c => df => graft.ops.Mixing.sampleByTokenBudget(df,
      c.get("strataCol").asText(), c.get("idCol").asText(),
      c.get("tokensCol").asText(),
      strMap(c.get("budgets")).map { case (k, v) => k -> v.toLong })),
    // HLL overlap estimate between the rows matching `splitExpr` (side
    // a) and the rest (side b) — the one-row corpus-vs-corpus overlap
    // audit (est_a, est_b, est_union, est_overlap)
    "sketch_overlap" -> (c => df => {
      import org.apache.spark.sql.functions.expr
      val p = expr(c.get("splitExpr").asText())
      graft.ops.Sketches.overlapEstimate(df.filter(p), df.filter(!p),
        c.get("idCol").asText(),
        lgK = if (c.has("lgK")) c.get("lgK").asInt() else 14)
    }),
    // count-min heavy-hitter profile — the hot-key detector feeding
    // cap_per_key/salting decisions (eager: builds the sketch when run)
    "heavy_hitters" -> (c => df => graft.ops.Sketches.heavyHitters(df,
      c.get("keyCol").asText(), topK = c.get("topK").asInt(),
      eps = if (c.has("eps")) c.get("eps").asDouble() else 0.0005)),
    // per-group quantile profile (count / min / approx p25-p50-p75-p99 / max)
    "quantile_profile" -> (c => df => graft.ops.Sketches.quantileProfile(df,
      c.get("grpCol").asText(), c.get("valCol").asText())),
    // PII scrub: replace emails/phones in textCol, count per doc
    "redact_pii" -> (c => df => graft.ops.TextAnalysis.redactPii(df,
      if (c.has("textCol")) c.get("textCol").asText() else "text")),
    // quality-aware canonical selection over a clustered frame
    "keep_best" -> (c => df => graft.ops.Clusters.keepBest(df,
      c.get("idCol").asText(), c.get("clusterCol").asText(),
      c.get("scoreCol").asText())),
    // connected components over an edge frame (aCol, bCol): node set =
    // union of endpoints (a null one too), labels = min reachable id
    // (per-partition union-find, then levels over the roots until none
    // merge; one lineage cut per level; `maxIters` bounds levels)
    "components" -> (c => df => {
      import org.apache.spark.sql.functions.col
      val a = c.get("aCol").asText(); val b = c.get("bCol").asText()
      // components folds its node set by id: no distinct needed here
      val nodes = df.select(col(a).as("_n"))
        .unionByName(df.select(col(b).as("_n")))
      graft.ops.Clusters.components(nodes, "_n", df, a, b,
        maxIters = if (c.has("maxIters")) c.get("maxIters").asInt() else 25)
        .withColumnRenamed("_n", if (c.has("idOut")) c.get("idOut").asText()
          else "node")
    })
  )

  def source(spark: SparkSession, c: JsonNode): DataFrame = c.get("type").asText() match {
    case "events" => Changelog.fromEvents(spark, c.get("dir").asText())
    // the raw event stream (ts normalized to ts/ts_ns), for analytics
    // stages that want event_type/user_id rather than the changelog view
    case "events_raw" => Changelog.events(spark, c.get("dir").asText())
    case "scan" => Changelog.scan(spark, c.get("dir").asText(),
      c.get("table").asText(), c.get("pk").asText())
    case "scan_tables" => Changelog.scanTables(spark, c.get("dir").asText(),
      c.get("pattern").asText())
    case "table" => Changelog.table(spark, c.get("dir").asText(), c.get("table").asText())
    case "delta" =>
      // read a DeltaStore as a batch source — current resolved state, or
      // the state AS OF a batch id when `asOfBatch` is given (time
      // travel; refuses below the store's recorded compaction horizon —
      // see DeltaStore.readAt). Config-driven so an as-of audit is a
      // task shape, not a library call: {"type":"delta","path":...,
      // "asOfBatch":2}
      // ... or the row-level change feed between two committed batch ids
      // when `changesFrom`/`changesTo` are given (CDC-out:
      // {"type":"delta","path":...,"changesFrom":1,"changesTo":3})
      val path = c.get("path").asText()
      val read =
        if (c.has("changesFrom") || c.has("changesTo")) {
          require(c.has("changesFrom") && c.has("changesTo"),
            "delta source: changesFrom and changesTo must be given together")
          graft.sink.DeltaStore.changesBetween(spark, path,
            c.get("changesFrom").asLong(), c.get("changesTo").asLong())
        }
        else if (c.has("asOfBatch"))
          graft.sink.DeltaStore.readAt(spark, path, c.get("asOfBatch").asLong())
        else graft.sink.DeltaStore.read(spark, path)
      read.getOrElse(throw new IllegalArgumentException(
        s"delta source: no store at $path (empty manifest)"))
    case other => throw new IllegalArgumentException(s"unknown source: $other")
  }

  def sink(c: JsonNode): DataFrame => Unit = c.get("type").asText() match {
    case "noop" => Sinks.noop
    case "console" => df => Sinks.console(df)
    case "kafka" => df => Sinks.noop(Sinks.kafkaProjection(df,
      c.get("keyCol").asText(), c.get("topicCol").asText()))
    case "parquet" => df => df.write.mode("overwrite").parquet(c.get("path").asText())
    case "parquet_partitioned" =>
      // the layout-write sink: cluster rows so each partition dir holds
      // one file whose footer min/max bounds are tight on the layout
      // key's dimensions (pairs with the zorder/layout processors —
      // repartitioning by the column keeps one writer per value, so the
      // skipping property the layout computed actually lands on disk)
      df => {
        import org.apache.spark.sql.functions.col
        val by = c.get("by").asText()
        df.repartition(col(by)).write.partitionBy(by)
          .mode("overwrite").parquet(c.get("path").asText())
      }
    case "parquet_bucketed" =>
      // the co-location write sink: pay the shuffle once at write time
      // so every later equi-join on `key` reads the table in place
      // (ops/Bucketing — one sorted file per bucket, external path)
      df => graft.ops.Bucketing.writeBucketed(df.sparkSession, df,
        c.get("table").asText(), c.get("path").asText(),
        c.get("key").asText(),
        if (c.has("buckets")) c.get("buckets").asInt() else 32)
    case other => throw new IllegalArgumentException(s"unknown sink: $other")
  }

  /** Assemble the processor chain from config (pure function composition). */
  def stages(cfg: JsonNode): Stage = {
    val procs = Option(cfg.get("processors")).toSeq
      .flatMap(_.elements().asScala)
      .map { p =>
        val t = p.get("type").asText()
        processorRegistry.getOrElse(t,
          throw new IllegalArgumentException(s"unknown processor: $t"))(p)
      }
    procs.foldLeft(identity[DataFrame] _)(_ andThen _)
  }

  /** Build and run a full pipeline from a JSON config string. */
  def run(spark: SparkSession, json: String): Unit = {
    val cfg = new ObjectMapper().readTree(json)
    // strong retention scope: stages that drop a GraphBlocks-registered
    // frame inside their lambda (semantic_dedup, decontaminate_fuzzy)
    // would otherwise leak their barrier caches for the session's life —
    // the weak registry can't release a cache whose frame was GC'd
    // (ADVICE r19). Released right after the sink materializes.
    graft.ops.GraphBlocks.scoped {
      val df = stages(cfg)(source(spark, cfg.get("source")))
      sink(cfg.get("sink"))(df)
    }
  }

  /** Shared update-mode upsert feed: per batch, stamp the batch id as
    * `_b` and append to a parquet feed (a reader resolves the latest
    * `_b` per key). The sink half of funnel_upsert and
    * retention_upsert — one definition, so the resolution column
    * can't drift between them. */
  private def upsertFeed[T](ds: org.apache.spark.sql.Dataset[T],
      path: String, ckpt: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ds.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[T], id: Long) =>
        b.withColumn("_b",
          org.apache.spark.sql.functions.lit(id)).write
          .mode("append").parquet(path)
      }
      .start()

  /** Streaming pipeline: a streaming source (`events_stream`,
    * `events_raw_stream`, `events_dsv2`, `documents_stream`,
    * `embeddings_stream`) → stateless processors → a per-micro-batch
    * sink (the config-driven form of the reference's flagship db_*_sync
    * tasks; recovery = the checkpoint, idempotency = the apply). Sinks:
    * `parquet_delta` (the pk-bucketed [[graft.sink.DeltaStore]]),
    * `jdbc_apply` (executing statements against a SQL target),
    * `corpus_admit`, `span_admit`, `ivf_append`, `dsir_admit`,
    * `funnel_upsert` and `retention_upsert`. Blocks until the bounded
    * source drains (Trigger.AvailableNow).
    *
    * Returns the last progress snapshot from the attached
    * [[graft.streaming.PipelineMetrics]] listener — the task_qps/delay
    * gauges the reference publishes while syncing (`metrics.go:16-23`);
    * None when no batch carried rows (e.g. a restart with nothing new). */
  def runStream(spark: SparkSession, json: String): Option[graft.streaming.PipelineMetrics#Snapshot] = {
    val cfg = new ObjectMapper().readTree(json)
    val src = cfg.get("source")
    // scale-adaptive drain: size shuffle/state partitions from the
    // source's input bytes instead of inheriting the session constant —
    // a stateful streaming plan gets no AQE coalescing, and every
    // foreachBatch job otherwise starts from the full constant too
    // (optimization guide §2; see StreamTuning)
    val drainInputs: Seq[String] = src.get("type").asText() match {
      case "events_stream" | "events_raw_stream" | "events_dsv2" =>
        Seq(s"${src.get("dir").asText()}/events.parquet")
      case "documents_stream" =>
        Seq(s"${src.get("dir").asText()}/documents.parquet")
      case "embeddings_stream" =>
        Seq(s"${src.get("dir").asText()}/embeddings.parquet")
      case _ => Nil
    }
    graft.streaming.StreamTuning.withDrainPartitions(spark, drainInputs) {
      runStreamDrain(spark, cfg)
    }
  }

  private def runStreamDrain(spark: SparkSession,
      cfg: com.fasterxml.jackson.databind.JsonNode)
      : Option[graft.streaming.PipelineMetrics#Snapshot] = {
    val src = cfg.get("source")
    val stream = src.get("type").asText() match {
      case "events_stream" =>
        graft.streaming.ChangeStream.fromEventsStream(
          spark, src.get("dir").asText(),
          if (src.has("slices")) src.get("slices").asInt() else 1,
          if (src.has("sliceBy")) src.get("sliceBy").asText() else "event_id")
      case "events_raw_stream" =>
        // the events table RAW (user_id/event_type/ts) as staged slices
        // — the analytics-stream shape (pairs with the funnel_upsert
        // sink; sliceBy "event_id % N" scrambles event time across
        // batches, the disorder harness)
        graft.streaming.ChangeStream.fromEventsRawStream(
          spark, src.get("dir").asText(),
          if (src.has("slices")) src.get("slices").asInt() else 1,
          if (src.has("sliceBy")) src.get("sliceBy").asText() else "event_id")
      case "documents_stream" =>
        // crawl-increment source: the documents table arriving as
        // doc_id-range slices, one micro-batch each — pairs with the
        // corpus_admit sink for a config-driven streaming admission task
        graft.streaming.ChangeStream.fromDocumentsStream(
          spark, src.get("dir").asText(),
          if (src.has("slices")) src.get("slices").asInt() else 1,
          if (src.has("sliceBy")) src.get("sliceBy").asText() else "doc_id")
      case "embeddings_stream" =>
        // embedding-increment source: the embeddings table arriving as
        // vec_id-range slices — pairs with the ivf_append sink for a
        // config-driven streaming index-maintenance task
        graft.streaming.ChangeStream.fromEmbeddingsStream(
          spark, src.get("dir").asText(),
          if (src.has("slices")) src.get("slices").asInt() else 1,
          if (src.has("sliceBy")) src.get("sliceBy").asText() else "vec_id")
      case "events_dsv2" =>
        // the custom DSv2 MicroBatchStream (S1): spooled seq-ordered
        // segments, executor-side splits, admission-control rate limit.
        // It spools only the replicated columns; `db` is the fixture
        // constant (as in Changelog.fromEventsDf). event_time is NOT
        // carried and deliberately NOT fabricated as a null column: a
        // windowed/canonical stage pairing with this source must fail
        // at analysis ("event_time cannot be resolved"), not watermark-
        // drop every row at runtime — windowed configs use events_stream
        import org.apache.spark.sql.functions.lit
        var r = spark.readStream.format("graft.source.ChangelogSource")
          .option("dir", src.get("dir").asText())
        if (src.has("maxRowsPerTrigger"))
          r = r.option("maxRowsPerTrigger", src.get("maxRowsPerTrigger").asText())
        if (src.has("chunkRows"))
          r = r.option("chunkRows", src.get("chunkRows").asText())
        r.load()
          .withColumn("db", lit("srcdb"))
      case other => throw new IllegalArgumentException(
        "streaming pipeline needs an events_stream, events_raw_stream, " +
          s"events_dsv2, documents_stream or embeddings_stream source, got $other")
    }
    val transformed = stages(cfg)(stream)
    val snk = cfg.get("sink")
    val ckpt = snk.get("checkpoint").asText()
    val metrics = new graft.streaming.PipelineMetrics
    var qid: Option[java.util.UUID] = None
    spark.streams.addListener(metrics) // before start: first batch counts
    // stuck-pipe alarm (reference disruptor.go:216-236): warn when the
    // query goes silent — no batch completion AND no idle report —
    // longer than the horizon. Passive poll on a daemon thread.
    val horizonMs = if (cfg.has("stallHorizonMs"))
      cfg.get("stallHorizonMs").asLong() else 30000L
    val watchdog = new graft.streaming.StallWatchdog(horizonMs)
    spark.streams.addListener(watchdog)
    val pollMs = math.max(horizonMs / 4, 250L)
    val poller = new Thread(() => {
      val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline.StallWatchdog")
      try while (!Thread.interrupted()) {
        Thread.sleep(pollMs)
        watchdog.stalled.foreach(id => log.warn(
          s"pipeline stalled: query $id silent > ${horizonMs}ms " +
            "(no progress, no idle) — sink or stage likely stuck"))
      } catch { case _: InterruptedException => () }
    }, "graft-stall-watchdog")
    poller.setDaemon(true)
    // everything below the listener registrations runs guarded: a bad
    // sink config (or a failed query start) must not leak the poller
    // thread or leave the listeners registered on the shared session
    try {
    poller.start()
    val q = snk.get("type").asText() match {
      case "parquet_delta" =>
        val target = snk.get("path").asText()
        val pkCols = strs(snk.get("pk"))
        val nBuckets = if (snk.has("buckets")) snk.get("buckets").asInt() else 64
        val maxChain = if (snk.has("maxChain")) snk.get("maxChain").asInt()
          else graft.sink.DeltaStore.defaultMaxChain
        val maxLiveGens = if (snk.has("maxLiveGens")) snk.get("maxLiveGens").asInt()
          else graft.sink.DeltaStore.defaultMaxLiveGens
        // `autoSnapshotGens`: fold the store to one resolved generation
        // whenever live generation dirs reach the threshold — keeps read
        // cost near the snapshot floor on long-running streams without a
        // separate maintenance run (0/absent = manual snapshots only)
        val autoSnap = if (snk.has("autoSnapshotGens"))
          snk.get("autoSnapshotGens").asInt() else 0
        // append-only delta-log apply: each batch lands as a new delta
        // generation — O(|batch|) per batch, merge deferred to read,
        // chain-capped compaction — crash-safe (see graft.sink.DeltaStore)
        graft.streaming.ChangeStream.compactedApply(transformed, ckpt) { (net, id) =>
          graft.sink.DeltaStore.append(net, target, pkCols, nBuckets, id,
            maxChain, maxLiveGens)
          if (autoSnap > 0)
            graft.sink.DeltaStore.maybeSnapshot(net.sparkSession, target,
              nBuckets, autoSnap)
        }
      case "corpus_admit" =>
        // streaming corpus admission (the training-data flagship in task
        // form): each micro-batch of documents is LSH-deduped within
        // itself (keep-first) and against the growing signature store,
        // survivors merged in — graft.ops.Admission.admitBatch per batch
        val acfg = graft.ops.Admission.Config(
          target = snk.get("path").asText(),
          checkpoint = ckpt,
          threshold = if (snk.has("threshold")) snk.get("threshold").asDouble() else 0.5,
          perms = if (snk.has("perms")) snk.get("perms").asInt() else 8,
          bands = if (snk.has("bands")) snk.get("bands").asInt() else 4,
          rows = if (snk.has("rows")) snk.get("rows").asInt() else 2,
          nBuckets = if (snk.has("buckets")) snk.get("buckets").asInt() else 16,
          portableHash = snk.has("portableHash") && snk.get("portableHash").asBoolean(),
          maxChain = if (snk.has("maxChain")) snk.get("maxChain").asInt()
            else graft.sink.DeltaStore.defaultMaxChain)
        graft.ops.Admission.admissionStream(transformed, acfg)
      case "span_admit" =>
        // streaming sub-document span dedup: each micro-batch is
        // chunk-deduped against the persisted chunk-digest store and
        // appends only its novel digests — graft.ops.SpanStore.admitOnly
        val scfg = graft.ops.SpanStore.Config(
          target = snk.get("path").asText(),
          chunkTokens = if (snk.has("chunkTokens")) snk.get("chunkTokens").asInt() else 8,
          nBuckets = if (snk.has("buckets")) snk.get("buckets").asInt() else 16,
          maxChain = if (snk.has("maxChain")) snk.get("maxChain").asInt()
            else graft.sink.DeltaStore.defaultMaxChain,
          cdcCutNibbles =
            if (snk.has("cdcCutNibbles")) snk.get("cdcCutNibbles").asText() else "")
        graft.ops.SpanStore.admissionStream(transformed, scfg, ckpt)
      case "ivf_append" =>
        // streaming IVF index maintenance: first batch seeds + freezes
        // the coarse quantizer, every batch appends cell-bucketed
        // postings — graft.ops.IvfIndex.indexBatch per batch
        val icfg = graft.ops.IvfIndex.Config(
          target = snk.get("path").asText(),
          checkpoint = ckpt,
          cells = if (snk.has("cells")) snk.get("cells").asInt() else 16,
          portableSeeding =
            snk.has("portableSeeding") && snk.get("portableSeeding").asBoolean(),
          maxChain = if (snk.has("maxChain")) snk.get("maxChain").asInt()
            else graft.sink.DeltaStore.defaultMaxChain,
          // "pqM" > 0 adds the PQ leg: codebook frozen on the first
          // batch, codes in every posting, compressed servePq reads
          pqM = if (snk.has("pqM")) snk.get("pqM").asInt() else 0,
          pqK = if (snk.has("pqK")) snk.get("pqK").asInt() else 8,
          pqIters = if (snk.has("pqIters")) snk.get("pqIters").asInt() else 1,
          trainSample = if (snk.has("trainSample")) snk.get("trainSample").asInt()
            else graft.ops.Similarity.defaultTrainSample,
          // metadata columns carried into the postings for query-time
          // filtered serves
          metaCols = if (snk.has("metaCols")) strs(snk.get("metaCols")) else Nil,
          // ANN-assisted batch assignment for paper-scale cell counts
          superCells = if (snk.has("superCells")) snk.get("superCells").asInt()
            else 0)
        graft.ops.IvfIndex.indexStream(transformed, icfg)
      case "funnel_upsert" =>
        // streaming funnel over an events_raw_stream source: update-mode
        // per-user chain upserts appended to a parquet feed (reader
        // resolves the latest _b per user). "evictDelay" (e.g.
        // "10 days") is the state bound: watermark eviction of matured
        // chain prefixes — the deployment knob the exact form trades
        // away. The config-front-end form of ChangeStream.streamingFunnel.
        // "withinNs" adds the conversion-window constraint (the
        // streaming stepsByKeyWithin) — composable with evictDelay
        val steps = strs(snk.get("steps"))
        val evict = if (snk.has("evictDelay"))
          Some(snk.get("evictDelay").asText()) else None
        val within = if (snk.has("withinNs"))
          Some(snk.get("withinNs").asLong()) else None
        upsertFeed(graft.streaming.ChangeStream.streamingFunnel(
          transformed, steps, evict, within),
          snk.get("path").asText(), ckpt)
      case "retention_upsert" =>
        // streaming cohort retention over an events_raw_stream source:
        // update-mode per-user (cohort, offsets) upserts appended to a
        // parquet feed (reader resolves the latest _b per user, then
        // aggregates the (cohort, offset) cells in batch). The config
        // front-end form of ChangeStream.streamingRetention.
        upsertFeed(graft.streaming.ChangeStream.streamingRetention(
          transformed, snk.get("periodNs").asLong()),
          snk.get("path").asText(), ckpt)
      case "dsir_admit" =>
        // frozen-weights streaming selection (the DSIR deployment
        // shape): the weight table was fit ONCE (dsir_fit /
        // Selection.fitWeights) and is collected HERE, at query
        // construction — every micro-batch scores map-side against the
        // same literal array, so admission decisions never move as new
        // data arrives (the IVF store's frozen-quantizer contract,
        // applied to selection). Rows at or above `threshold` (the
        // integer fixed-point score; 0 = "over-represented in the
        // target") append to a parquet feed with their batch id.
        val idCol = snk.get("idCol").asText()
        val scorer = graft.ops.Selection.frozenScorer(
          spark.read.parquet(snk.get("weightsPath").asText()),
          idCol, snk.get("textCol").asText())
        val minScore = snk.get("threshold").asLong()
        val target = snk.get("path").asText()
        transformed.writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            import org.apache.spark.sql.functions.{col, lit}
            // replay-idempotent: each batch lands in its own _b=<id>
            // partition under DYNAMIC overwrite, so an at-least-once
            // redelivery after a mid-drain crash replaces its own
            // partial output instead of double-appending admitted
            // rows (a plain append broke the "admitted set == batch
            // scoring" contract on replay)
            scorer(b).filter(col("score") >= minScore)
              .withColumn("_b", lit(id))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("_b").parquet(target)
          }
          .start()
      case "jdbc_apply" =>
        // compacted statements executed against a live JDBC target — the
        // reference's db_batch_sync delivery (idempotent under replay)
        val jc = graft.sink.JdbcApply.Config(snk.get("url").asText(),
          pkCols = if (snk.has("pk")) strs(snk.get("pk")) else Seq("pk"),
          valueCols = if (snk.has("values")) strs(snk.get("values"))
            else Seq("r_id", "r_k", "r_v"),
          writers = if (snk.has("writers")) snk.get("writers").asInt() else 8,
          batchSize = if (snk.has("batchSize")) snk.get("batchSize").asInt() else 1000,
          nullToDefault = snk.has("nullToDefault") && snk.get("nullToDefault").asBoolean(),
          // "dialect": "ansi" | "mysql" — absent = derive from url scheme
          dialect = if (snk.has("dialect"))
            Some(graft.sink.SqlDialect.byName(snk.get("dialect").asText()))
          else None)
        graft.streaming.ChangeStream.compactedApply(transformed, ckpt) { (net, _) =>
          graft.sink.JdbcApply(net, jc)
        }
      case other => throw new IllegalArgumentException(
        "streaming pipeline needs a parquet_delta, " +
          s"jdbc_apply, corpus_admit, span_admit, ivf_append, dsir_admit, " +
          s"funnel_upsert or retention_upsert sink, got $other")
    }
    // listeners are session-global: scope the alarm to THIS pipeline's
    // query so a shared session's other streams never trip it
    watchdog.restrictTo(q.id)
    qid = Some(q.id)
    q.awaitTermination()
    // the gauge read below races async listener delivery — wait for
    // THIS query's termination event (FIFO bus ⇒ all its progress
    // events are in) before reading; see PipelineMetrics.sawTermination
    metrics.awaitDelivery(q.id)
    } finally {
      poller.interrupt()
      spark.streams.removeListener(watchdog)
      spark.streams.removeListener(metrics)
    }
    // read THIS query's gauge, not the listener-global latest — another
    // stream on a shared session could have posted progress after ours
    qid.flatMap(metrics.latest(_))
  }

  /** Build the transformed frame without sinking (for inspection/tests). */
  def buildFrame(spark: SparkSession, json: String): DataFrame = {
    val cfg = new ObjectMapper().readTree(json)
    stages(cfg)(source(spark, cfg.get("source")))
  }
}
