package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{Decontaminate, Mixing, TextAnalysis}

/** Config round-tripping for the release-chain processors: a pipeline
  * assembled from JSON through `Pipeline.stages` must produce the
  * byte-identical result of the equivalent code composition — for
  * RANDOM parameterizations, not just the gated example. A divergence
  * here means the config front-end silently reinterprets a knob (rate,
  * ctx, shard count, n-gram width), which a fixed-example test can't
  * see. */
class PipelineCfgSpec extends SparkSpec {

  private val langs = Seq("en", "de", "zh", "fr")

  private case class Cfg(rates: Map[String, Double], default: Double,
      ctx: Int, shards: Int, benchBelow: Long, n: Int)

  private val cfgGen: Gen[Cfg] = for {
    nRates <- Gen.choose(0, 3)
    ls <- Gen.pick(nRates, langs)
    rs <- Gen.listOfN(nRates, Gen.choose(0.0, 1.0))
    default <- Gen.oneOf(1.0, 0.5, 0.75)
    ctx <- Gen.choose(64, 1024)
    shards <- Gen.choose(1, 16)
    benchBelow <- Gen.choose(10L, 80L)
    n <- Gen.choose(3, 7)
  } yield Cfg(ls.toList.zip(rs).toMap, default, ctx, shards, benchBelow, n)

  private def ratesJson(rates: Map[String, Double]): String =
    rates.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  test("JSON-assembled release chain equals code composition for random configs") {
    val prop = Prop.forAll(cfgGen) { c =>
      val json = s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [
          {"type": "decontaminate", "idCol": "doc_id", "textCol": "text",
           "benchBelowId": ${c.benchBelow}, "n": ${c.n}},
          {"type": "mix_rate", "strataCol": "lang", "idCol": "doc_id",
           "rates": ${ratesJson(c.rates)}, "default": ${c.default}},
          {"type": "pack", "idCol": "doc_id", "textCol": "text",
           "ctxTokens": ${c.ctx}, "shards": ${c.shards}, "portableHash": true},
          {"type": "pack_audit", "idCol": "doc_id"}
        ],
        "sink": {"type": "noop"}
      }"""
      val viaCfg = graft.pipeline.Pipeline.buildFrame(spark, json)
        .orderBy("pack_id").collect().toSeq

      val docs = graft.source.Changelog.table(spark, sf, "documents")
      val clean = Decontaminate.scrub(
        docs.filter(col("doc_id") >= c.benchBelow),
        docs.filter(col("doc_id") < c.benchBelow),
        "doc_id", "text", n = c.n)
      val mixed = Mixing.sampleByRate(clean, "lang", "doc_id",
        c.rates, c.default)
      val withToks = mixed.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("toks"))
      val viaCode = Mixing.packByOffset(withToks, "doc_id", "toks",
        ctxTokens = c.ctx, nShards = c.shards, shardHash = Mixing.hashSlice)
        .groupBy(col("shard").cast("long").as("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("pack_toks"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("pack_id").collect().toSeq

      viaCfg == viaCode
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("zorder and global_shuffle stages round-trip through the registry") {
    val viaCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
      "source": {"type": "table", "dir": "$sf", "table": "documents"},
      "processors": [
        {"type": "zorder", "colA": "doc_id", "colB": "n_chars", "bitsPerDim": 2},
        {"type": "global_shuffle", "idCol": "doc_id"}
      ],
      "sink": {"type": "noop"}
    }""").select("doc_id", "zbucket", "ord").orderBy("doc_id").collect().toSeq
    val docs = graft.source.Changelog.table(spark, sf, "documents")
    val viaCode = Mixing.globalShuffle(
      Mixing.zorderLayout(docs, "doc_id", "n_chars", bitsPerDim = 2), "doc_id")
      .select("doc_id", "zbucket", "ord").orderBy("doc_id").collect().toSeq
    assert(viaCfg == viaCode)
  }

  test("parquet_partitioned sink lands one dir per layout bucket") {
    val out = java.nio.file.Files.createTempDirectory("graft-cfg-zw")
      .resolve("z.parquet").toString
    graft.Run.dispatch(spark, s"""{
      "source": {"type": "table", "dir": "$sf", "table": "documents"},
      "processors": [
        {"type": "zorder", "colA": "doc_id", "colB": "n_chars", "bitsPerDim": 2}
      ],
      "sink": {"type": "parquet_partitioned", "path": "$out", "by": "zbucket"}
    }""")
    val dirs = Option(new java.io.File(out).list()).getOrElse(Array.empty)
      .count(_.startsWith("zbucket="))
    assert(dirs == 16, s"expected 16 zbucket dirs, got $dirs")
    // nothing lost through the layout write, zbucket restored on read
    val back = spark.read.parquet(out)
    assert(back.count() ==
      graft.source.Changelog.table(spark, sf, "documents").count())
    assert(back.columns.contains("zbucket"))
  }

  test("mix_weight, cap_per_key, sketch_distinct stages round-trip through the registry") {
    val viaCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [
          {"type": "mix_weight", "idCol": "doc_id", "weightCol": "n_chars",
           "n": 300},
          {"type": "cap_per_key", "keyCol": "lang", "ordCol": "n_chars",
           "idCol": "doc_id", "n": 3, "salts": 4, "hotKeys": ["en"]},
          {"type": "sketch_distinct", "grpCol": "lang", "idCol": "doc_id"}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("lang").collect().toSeq
    val docs = graft.source.Changelog.table(spark, sf, "documents")
    val viaCode = graft.ops.Sketches.distinctProfile(
      Mixing.capPerKey(
        Mixing.sampleByWeight(docs, "doc_id", "n_chars", n = 300),
        "lang", "n_chars", "doc_id", n = 3, salts = 4, hotKeys = Seq("en")),
      "lang", "doc_id")
      .orderBy("lang").collect().toSeq
    assert(viaCfg == viaCode)
    // capped: every language keeps exactly min(3, count) docs
    assert(viaCfg.forall(r => r.getAs[Long]("n_rows") <= 3))
  }

  test("edges_lead + page_rank stages round-trip through the registry") {
    val viaCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "lineitem"},
        "processors": [
          {"type": "edges_lead", "partitionCol": "l_orderkey",
           "orderCol": "l_linenumber", "valueCol": "l_partkey"},
          {"type": "page_rank", "srcCol": "src", "dstCol": "dst",
           "iterations": 2}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("node").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val e = graft.source.Changelog.table(spark, sf, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
    val viaCode = graft.ops.Graphs.pageRank(e, "src", "dst", iterations = 2)
      .orderBy("node").collect().toSeq
    assert(viaCfg == viaCode)
    assert(viaCfg.nonEmpty &&
      viaCfg.forall(_.getAs[Long]("rank_units") >= 150000000L))
  }

  test("triangles, label_prop, mix_epochs stages round-trip through the registry") {
    val graphCfg = (proc: String) => graft.pipeline.Pipeline.buildFrame(spark,
      s"""{
        "source": {"type": "table", "dir": "$sf", "table": "lineitem"},
        "processors": [
          {"type": "edges_lead", "partitionCol": "l_orderkey",
           "orderCol": "l_linenumber", "valueCol": "l_partkey"},
          $proc
        ],
        "sink": {"type": "noop"}
      }""").orderBy("node").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val e = graft.source.Changelog.table(spark, sf, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))

    val triCfg = graphCfg(
      """{"type": "triangles", "srcCol": "src", "dstCol": "dst"}""")
    val triCode = graft.ops.Graphs.triangles(e, "src", "dst")
      .orderBy("node").collect().toSeq
    assert(triCfg == triCode && triCfg.nonEmpty)

    val lpaCfg = graphCfg(
      """{"type": "label_prop", "srcCol": "src", "dstCol": "dst",
         "iterations": 2}""")
    val lpaCode = graft.ops.Graphs.labelPropagation(e, "src", "dst", 2)
      .orderBy("node").collect().toSeq
    assert(lpaCfg == lpaCode && lpaCfg.nonEmpty)

    val kcoreCfg = graphCfg(
      """{"type": "kcore", "srcCol": "src", "dstCol": "dst",
         "k": 2, "rounds": 2}""")
    val kcoreCode = graft.ops.Graphs.kCorePeel(e, "src", "dst", 2, 2)
      .orderBy("node").collect().toSeq
    assert(kcoreCfg == kcoreCode && kcoreCfg.nonEmpty)

    val hcCfg = graphCfg(
      """{"type": "harmonic_centrality", "srcCol": "src", "dstCol": "dst",
         "landmarkExpr": "lm % 11 = 0", "maxDepth": 2}""")
    val hcLms = e.select(col("src").as("lm"))
      .unionByName(e.select(col("dst").as("lm")))
      .filter(col("lm") % 11 === 0)
    val hcCode = graft.ops.Graphs.harmonicCentrality(
      graft.ops.Graphs.landmarkDistances(e, "src", "dst", hcLms, "lm", 2))
      .orderBy("node").collect().toSeq
    assert(hcCfg == hcCode && hcCfg.nonEmpty)

    val epCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [
          {"type": "mix_epochs", "strataCol": "lang", "idCol": "doc_id",
           "epochsMilli": {"en": 2500, "de": 1200}, "defaultMilli": 500}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("doc_id", "epoch").collect().toSeq
    val epCode = graft.ops.Mixing.repeatByEpochs(
      graft.source.Changelog.table(spark, sf, "documents"),
      "lang", "doc_id", Map("en" -> 2500L, "de" -> 1200L),
      defaultMilli = 500L)
      .orderBy("doc_id", "epoch").collect().toSeq
    assert(epCfg == epCode && epCfg.nonEmpty)
  }

  test("bfs, funnel, sample_exact stages round-trip through the registry") {
    // bfs: seedExpr form over the lead-derived part graph
    val bfsCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "lineitem"},
        "processors": [
          {"type": "edges_lead", "partitionCol": "l_orderkey",
           "orderCol": "l_linenumber", "valueCol": "l_partkey"},
          {"type": "bfs", "srcCol": "src", "dstCol": "dst",
           "seedExpr": "src % 7 = 0", "maxDepth": 2}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("node").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val e = graft.source.Changelog.table(spark, sf, "lineitem")
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
    val bfsCode = graft.ops.Graphs.bfsLevels(e, "src", "dst",
      e.filter(col("src") % 7 === 0).select(col("src").as("seed")),
      "seed", maxDepth = 2).orderBy("node").collect().toSeq
    assert(bfsCfg == bfsCode && bfsCfg.nonEmpty)

    // bfs: inline seed list matches the same seeds passed as a frame
    val seedIds = bfsCode.take(3).map(_.getLong(0))
    val bfsInline = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "lineitem"},
        "processors": [
          {"type": "edges_lead", "partitionCol": "l_orderkey",
           "orderCol": "l_linenumber", "valueCol": "l_partkey"},
          {"type": "bfs", "srcCol": "src", "dstCol": "dst",
           "seeds": [${seedIds.mkString(", ")}], "maxDepth": 1}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("node").collect().toSeq
    import spark.implicits._
    val bfsInlineCode = graft.ops.Graphs.bfsLevels(e, "src", "dst",
      seedIds.toDF("seed"), "seed", maxDepth = 1)
      .orderBy("node").collect().toSeq
    assert(bfsInline == bfsInlineCode && bfsInline.nonEmpty)

    // funnel over the events table
    val funCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "events_raw", "dir": "$sf"},
        "processors": [
          {"type": "funnel", "entityCol": "user_id", "typeCol": "event_type",
           "steps": ["view", "click", "purchase"],
           "orderCols": ["ts_ns", "event_id"]}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("user_id").collect().toSeq
    val funCode = graft.ops.Funnel.steps(
      graft.source.Changelog.events(spark, sf),
      "user_id", "event_type", Seq("view", "click", "purchase"),
      Seq("ts_ns", "event_id")).orderBy("user_id").collect().toSeq
    assert(funCfg == funCode && funCfg.nonEmpty)

    // retention over the raw events
    val retCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "events_raw", "dir": "$sf"},
        "processors": [
          {"type": "retention", "entityCol": "user_id",
           "tsNsCol": "ts_ns", "periodNs": 86400000000000}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("cohort", "offset").collect().toSeq
    val retCode = graft.ops.Retention.cohorts(
      graft.source.Changelog.events(spark, sf), "user_id", "ts_ns",
      86400L * 1000000000L).orderBy("cohort", "offset").collect().toSeq
    assert(retCfg == retCode && retCfg.nonEmpty)

    // sample_exact
    val seCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [
          {"type": "sample_exact", "idCol": "doc_id", "n": 17}
        ],
        "sink": {"type": "noop"}
      }""").orderBy("doc_id").collect().toSeq
    val seCode = graft.ops.Mixing.sampleExactN(
      graft.source.Changelog.table(spark, sf, "documents"), "doc_id", 17)
      .orderBy("doc_id").collect().toSeq
    assert(seCfg == seCode && seCfg.size == 17)
  }

  test("parquet_bucketed sink lands a co-located table (exchange-free re-join)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bkt-sink")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.pipeline.Pipeline.run(spark, s"""{
          "source": {"type": "table", "dir": "$sf", "table": "documents"},
          "processors": [
            {"type": "cap_per_key", "keyCol": "lang", "ordCol": "n_chars",
             "idCol": "doc_id", "n": 50}
          ],
          "sink": {"type": "parquet_bucketed", "table": "graft_docs_bkt_spec",
                   "path": "$tmp/docs", "key": "doc_id", "buckets": 4}
        }""")
      graft.ops.Bucketing.writeBucketed(spark,
        spark.read.parquet(s"$sf/embeddings.parquet"),
        "graft_emb_bkt_spec", s"$tmp/emb", "vec_id", 4)
      val j = graft.ops.Bucketing.cojoin(spark,
        "graft_docs_bkt_spec", "graft_emb_bkt_spec", "doc_id", "vec_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"config-written bucketed table re-joined with a shuffle:\n$plan")
      // the SAME-name key shape (fact⋈fact on doc_id) must take the
      // USING form — a raw col===col condition is ambiguous and threw
      // before the cojoin fix; still exchange-free
      val selfJ = graft.ops.Bucketing.cojoin(spark,
        "graft_docs_bkt_spec", "graft_docs_bkt_spec", "doc_id", "doc_id")
      assert(!selfJ.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      assert(selfJ.count() > 0)
      // and the sink really applied the cap stage before writing
      val capped = spark.table("graft_docs_bkt_spec")
        .groupBy("lang").count().collect()
      assert(capped.nonEmpty && capped.forall(_.getLong(1) <= 50))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.sql("DROP TABLE IF EXISTS graft_docs_bkt_spec")
      spark.sql("DROP TABLE IF EXISTS graft_emb_bkt_spec")
      graft.queries.Registry.rmTree(tmp.toFile)
    }
  }

  test("expect stage passes a sound corpus through and fails loud on violation") {
    val base = s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [{"type": "expect", "rules": [RULES]}],
        "sink": {"type": "noop"}
      }"""
    val ok = graft.pipeline.Pipeline.buildFrame(spark, base.replace("RULES",
      """{"kind": "unique", "col": "doc_id"},
         {"kind": "not_null", "col": "text"},
         {"kind": "min_rows", "n": 10}"""))
    assert(ok.count() > 10)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Pipeline.buildFrame(spark, base.replace("RULES",
        """{"kind": "min_rows", "n": 1000000}"""))
    }
    assert(e.getMessage.contains("min_rows(1000000)"))
  }

  test("langid_filter stage equals the code form and drops the score columns") {
    val viaCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
      "source": {"type": "table", "dir": "$sf", "table": "documents"},
      "processors": [{"type": "langid_filter", "keep": ["en", "de"]}],
      "sink": {"type": "noop"}
    }""")
    val docs = graft.source.Changelog.table(spark, sf, "documents")
    val viaCode = graft.ops.TextAnalysis.langId(docs)
      .filter(col("pred_lang").isin("en", "de"))
    assert(viaCfg.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      viaCode.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(viaCfg.count() > 0)
    // the gate stage is a FILTER, not a projection change: score
    // columns must not leak into downstream stages
    assert(viaCfg.columns.toSet == docs.columns.toSet, viaCfg.columns.mkString(","))
  }

  test("decontaminate_fuzzy stage equals the code-form scrub") {
    val viaCfg = graft.pipeline.Pipeline.buildFrame(spark, s"""{
      "source": {"type": "table", "dir": "$sf", "table": "documents"},
      "processors": [{"type": "decontaminate_fuzzy", "idCol": "doc_id",
                      "textCol": "text", "benchBelowId": 50}],
      "sink": {"type": "noop"}
    }""")
    val docs = graft.source.Changelog.table(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") >= 50)
    val hits = graft.ops.Decontaminate.contaminatedNear(
      corpus, docs.filter(col("doc_id") < 50), "doc_id", "text")
    val viaCode = corpus.join(
      hits.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    val (a, b) = (
      viaCfg.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      viaCode.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(a == b && a.nonEmpty)
    // the scrub must actually drop the near-dup hits, not no-op
    assert(a.size < corpus.count())
  }

  test("r17 stages round-trip through the registry (audit/mix/sketch family)") {
    def cfg1(table: String, stage: String): Seq[org.apache.spark.sql.Row] =
      graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "$table"},
        "processors": [$stage],
        "sink": {"type": "noop"}
      }""").collect().toSeq.sortBy(_.toString)
    def sortRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    val docs = graft.source.Changelog.table(spark, sf, "documents")

    // quality_report: one audit row per rule, never a throw
    val qr = cfg1("documents",
      """{"type": "quality_report", "rules": [
           {"kind": "not_null", "col": "doc_id"},
           {"kind": "min_rows", "n": 1},
           {"kind": "in_range", "col": "doc_id", "lo": -1, "hi": 99999999}]}""")
    assert(qr == sortRows(graft.ops.Validate.report(docs, Seq(
      graft.ops.Validate.NotNull("doc_id"), graft.ops.Validate.MinRows(1),
      graft.ops.Validate.InRange("doc_id", -1, 99999999)))) && qr.nonEmpty)

    // span_dedup_exact
    val sde = cfg1("documents",
      """{"type": "span_dedup_exact", "idCol": "doc_id",
          "textCol": "text", "minTokens": 8}""")
    assert(sde == sortRows(
      graft.ops.Dedup.exactSpanCover(docs, "doc_id", "text", 8)) && sde.nonEmpty)

    // sample_exact_strata: n per stratum, rk nests
    val ses = cfg1("documents",
      """{"type": "sample_exact_strata", "strataCol": "lang",
          "idCol": "doc_id", "n": 5}""")
    val sesCode = sortRows(graft.ops.Mixing.capPerKey(
      docs.withColumn("_u", graft.ops.Mixing.hashSlice(col("doc_id"))),
      "lang", "_u", "doc_id", n = 5).drop("_u"))
    assert(ses == sesCode && ses.nonEmpty)

    // mix_budget over a chars-as-tokens column
    val mb = cfg1("documents",
      """{"type": "mix_budget", "strataCol": "lang", "idCol": "doc_id",
          "tokensCol": "n_chars", "budgets": {"en": "5000", "de": "2000"}}""")
    assert(mb == sortRows(graft.ops.Mixing.sampleByTokenBudget(docs,
      "lang", "doc_id", "n_chars",
      Map("en" -> 5000L, "de" -> 2000L))) && mb.nonEmpty)

    // sketch_overlap: split halves overlap only in the estimate sense —
    // compare against the code form exactly (deterministic sketches)
    val so = cfg1("documents",
      """{"type": "sketch_overlap", "splitExpr": "doc_id % 2 = 0",
          "idCol": "doc_id"}""")
    assert(so == sortRows(graft.ops.Sketches.overlapEstimate(
      docs.filter("doc_id % 2 = 0"), docs.filter("not (doc_id % 2 = 0)"),
      "doc_id")) && so.size == 1)

    // heavy_hitters / quantile_profile / redact_pii / keep_best
    val hh = cfg1("documents",
      """{"type": "heavy_hitters", "keyCol": "lang", "topK": 3}""")
    assert(hh == sortRows(
      graft.ops.Sketches.heavyHitters(docs, "lang", 3)) && hh.size == 3)
    val qp = cfg1("documents",
      """{"type": "quantile_profile", "grpCol": "lang", "valCol": "n_chars"}""")
    assert(qp == sortRows(
      graft.ops.Sketches.quantileProfile(docs, "lang", "n_chars")) && qp.nonEmpty)
    val rp = cfg1("documents",
      """{"type": "redact_pii", "textCol": "text"}""")
    assert(rp == sortRows(graft.ops.TextAnalysis.redactPii(docs, "text"))
      && rp.nonEmpty)
    val kb = cfg1("documents",
      """{"type": "keep_best", "idCol": "doc_id", "clusterCol": "lang",
          "scoreCol": "n_chars"}""")
    assert(kb == sortRows(
      graft.ops.Clusters.keepBest(docs, "doc_id", "lang", "n_chars"))
      && kb.nonEmpty)

    // components over a no-null int edge frame
    val cc = cfg1("nation",
      """{"type": "components", "aCol": "n_regionkey", "bCol": "n_nationkey"}""")
    val nat = graft.source.Changelog.table(spark, sf, "nation")
    val nodes = nat.select(col("n_regionkey").as("_n"))
      .unionByName(nat.select(col("n_nationkey").as("_n"))).distinct()
    assert(cc == sortRows(graft.ops.Clusters.components(
      nodes, "_n", nat, "n_regionkey", "n_nationkey")
      .withColumnRenamed("_n", "node")) && cc.nonEmpty)
  }

  test("components stage: an edge with one null end labels the null id") {
    // the stage's node set is the union of both endpoint columns, so a
    // null endpoint is a node too. It takes the least label among its
    // non-null neighbors and joins no two components: 2 and 9 both
    // touch it, yet {1, 2} and {6, 9} keep their own labels. A
    // both-null edge and a self-loop change nothing.
    import spark.implicits._
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(9L)),
      (Some(9L), Some(6L)), (Some(7L), Some(8L)), (None, None),
      (Some(4L), Some(4L))).toDF("a", "b")
    val got = graft.pipeline.Pipeline.processorRegistry("components")(
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(
          """{"type": "components", "aCol": "a", "bCol": "b"}"""))(edges)
      .as[(Option[Long], Long)].collect().toMap
    assert(got == Map(Some(1L) -> 1L, Some(2L) -> 1L, None -> 1L,
      Some(9L) -> 6L, Some(6L) -> 6L, Some(7L) -> 7L, Some(8L) -> 7L,
      Some(4L) -> 4L), s"got $got")
  }

  test("near_dup_clusters stage round-trips and preserves the frame") {
    // standalone verified-edge cluster labels (VERDICT r18 item 6):
    // same definition as split_safe's key, reachable without the split
    // — and like split_safe it must ADD the cluster column, never
    // project the frame down to its own outputs
    import spark.implicits._
    val docs = (1L to 40L)
      .map(i => (i, s"cluster text block number ${(i - 1) / 2} end"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndc-stage")
    try {
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val frame = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$tmp", "table": "documents"},
        "processors": [
          {"type": "near_dup_clusters", "idCol": "doc_id",
           "textCol": "text"}
        ],
        "sink": {"type": "noop"}
      }""")
      assert(frame.columns.toSet == Set("doc_id", "text", "cluster"),
        frame.columns.mkString(","))
      val viaCfg = frame.select("doc_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaCode = graft.ops.Clusters
        .nearDupClusters(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaCfg == viaCode && viaCfg.size == 40)
      // exact-dup pairs share a cluster; distinct pairs don't
      assert(viaCfg(1L) == viaCfg(2L) && viaCfg(1L) != viaCfg(3L))
    } finally graft.queries.Registry.rmTree(tmp.toFile)
  }

  test("dsir_select stage round-trips and preserves the frame") {
    val docs = graft.source.Changelog.table(spark, sf, "documents")
    val frame = graft.pipeline.Pipeline.buildFrame(spark, s"""{
      "source": {"type": "table", "dir": "$sf", "table": "documents"},
      "processors": [
        {"type": "dsir_select", "idCol": "doc_id", "textCol": "text",
         "targetCol": "lang", "targetValue": "en", "k": 50}
      ],
      "sink": {"type": "noop"}
    }""")
    // input columns survive; selection columns added; exactly k rows
    assert(Set("doc_id", "text", "lang", "score", "n_grams", "rank")
      .subsetOf(frame.columns.toSet), frame.columns.mkString(","))
    assert(frame.count() == 50)
    val viaCfg = frame.select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCode = graft.ops.Selection.dsirSelect(docs,
      col("lang") === "en", "doc_id", "text", k = 50)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCfg == viaCode)
  }

  test("dsir_fit then dsir_score(weightsPath) equals the refit form — frozen-weights chain") {
    val docs = graft.source.Changelog.table(spark, sf, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsir-fit")
    try {
      // train: fit + persist the weight table (frame passes through)
      val fitted = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [
          {"type": "dsir_fit", "textCol": "text", "targetCol": "lang",
           "targetValue": "en", "path": "$tmp/weights.parquet"}
        ],
        "sink": {"type": "noop"}
      }""")
      assert(fitted.columns.toSet == docs.columns.toSet)
      assert(spark.read.parquet(s"$tmp/weights.parquet").count() == 1024)
      // apply: score against the FROZEN table; equals the refit form
      // on the same corpus (scoreAgainst identity, through the config)
      val viaStore = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [
          {"type": "dsir_score", "idCol": "doc_id", "textCol": "text",
           "weightsPath": "$tmp/weights.parquet"}
        ],
        "sink": {"type": "noop"}
      }""").select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaRefit = graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [
          {"type": "dsir_score", "idCol": "doc_id", "textCol": "text",
           "targetCol": "lang", "targetValue": "en"}
        ],
        "sink": {"type": "noop"}
      }""").select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStore == viaRefit && viaStore.size == 500)
    } finally graft.queries.Registry.rmTree(tmp.toFile)
  }

  test("dsir targetValue keeps its JSON type: fractional and boolean targets match typed columns") {
    // r19 ADVICE: asLong() on every numeric floored 1.5 -> 1 (the
    // target predicate silently matched the wrong rows) and a boolean
    // targetValue fell through to asText and never matched. The stage
    // must compare with a literal of the node's own type.
    import spark.implicits._
    val rep = Seq.fill(60)("alpha beta gamma").mkString(" ")
    val rap = Seq.fill(60)("zeta eta theta").mkString(" ")
    val docs = Seq((1L, rep, 1.5, true), (2L, rap, 0.5, false),
      (3L, rep, 1.5, true), (4L, rap, 0.5, false))
      .toDF("doc_id", "text", "q", "flag")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def scored(cfgJson: String) =
      graft.pipeline.Pipeline.processorRegistry("dsir_score")(
        om.readTree(cfgJson))(docs)
        .select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFrac = scored("""{"idCol": "doc_id", "textCol": "text",
      "targetCol": "q", "targetValue": 1.5, "buckets": 64}""")
    val viaBool = scored("""{"idCol": "doc_id", "textCol": "text",
      "targetCol": "flag", "targetValue": true, "buckets": 64}""")
    val want = graft.ops.Selection.dsirScores(docs, col("q") === lit(1.5),
      "doc_id", "text", buckets = 64)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFrac == want, "fractional targetValue must not floor")
    assert(viaBool == want, "boolean targetValue must compare as boolean")
    // the sign structure proves the target was actually matched: the
    // exemplar-vocab docs score positive, the disjoint-vocab docs
    // negative (a never-matching predicate scores everything equal)
    assert(want(1L) > 0 && want(2L) < 0)
  }

  test("Pipeline.run releases semantic_dedup's barrier cache after the sink (r19 ADVICE)") {
    graft.ops.GraphBlocks.releaseAll()
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    graft.pipeline.Pipeline.run(spark, s"""{
      "source": {"type": "table", "dir": "$sf", "table": "embeddings"},
      "processors": [
        {"type": "semantic_dedup", "idCol": "vec_id", "vecCol": "embedding",
         "tau": 0.4, "cells": 8, "portableSeeding": true}
      ],
      "sink": {"type": "noop"}
    }""")
    assert(cm.isEmpty,
      "the run-scope must unpersist the stage's dropped barrier cache")
    assert(graft.ops.GraphBlocks.registered == 0)
  }

  test("semantic_dedup stage filters to keepers, preserving the frame") {
    val vecs = graft.source.Changelog.table(spark, sf, "embeddings")
    val frame = graft.pipeline.Pipeline.buildFrame(spark, s"""{
      "source": {"type": "table", "dir": "$sf", "table": "embeddings"},
      "processors": [
        {"type": "semantic_dedup", "idCol": "vec_id", "vecCol": "embedding",
         "tau": 0.4, "cells": 16, "portableSeeding": true}
      ],
      "sink": {"type": "noop"}
    }""")
    assert(frame.columns.toSet == vecs.columns.toSet,
      frame.columns.mkString(","))
    val kept = frame.select("vec_id").collect().map(_.getLong(0)).toSet
    val want = graft.ops.Similarity.semDedup(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      tau = 0.4, cells = 16, portableSeeding = true)
      .filter(col("keep") === 1).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == want && kept.nonEmpty && kept.size < 500)
  }

  test("registry completeness: every registered stage is inventoried") {
    // the r16 sweep found gated ops with no config stage; this pins the
    // inventory so the NEXT stage added without spec coverage (and a
    // PLANS.md row) fails here instead of drifting silently
    val inventoried = Set(
      // CDC processors (ProcessorsSpec + gates)
      "filter", "remap-op", "rename-table", "rename-logical", "namecatcher",
      "columnvalue", "valuemap", "marshal", "compact", "route",
      // release chain
      "decontaminate", "decontaminate_fuzzy", "mix_rate", "mix_temperature", "mix_weight",
      "mix_epochs", "mix_budget", "cap_per_key", "sample_exact",
      "sample_exact_strata", "split", "split_safe", "near_dup_clusters",
      "dsir_select", "dsir_fit", "dsir_score", "semantic_dedup",
      "pack", "pack_audit",
      "zorder",
      "global_shuffle", "expect", "quality_report",
      // quality/text
      "quality_filter", "langid_filter", "redact_pii", "exact_dedup",
      "span_dedup_exact", "keep_best",
      // sketches
      "sketch_distinct", "sketch_overlap", "heavy_hitters", "quantile_profile",
      // graph/analytics
      "edges_lead", "page_rank", "triangles", "bfs", "harmonic_centrality",
      "funnel", "retention", "label_prop", "kcore", "components")
    assert(graft.pipeline.Pipeline.processorRegistry.keySet == inventoried,
      "registry drift: " +
        (graft.pipeline.Pipeline.processorRegistry.keySet -- inventoried)
          .mkString(",") + " | " +
        (inventoried -- graft.pipeline.Pipeline.processorRegistry.keySet)
          .mkString(","))
  }

  test("unknown processor type fails loudly with its name") {
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Pipeline.buildFrame(spark, s"""{
        "source": {"type": "table", "dir": "$sf", "table": "documents"},
        "processors": [{"type": "mix_rat"}],
        "sink": {"type": "noop"}
      }""")
    }
    assert(e.getMessage.contains("mix_rat"))
  }
}
