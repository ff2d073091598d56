package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the corpus-hygiene pass every training
  * pipeline runs before a data release: find (and drop) training docs
  * that share verbatim word n-grams with an evaluation/benchmark set,
  * so eval scores measure generalization rather than memorized leakage.
  *
  * Scale design: the BENCHMARK side is small (eval suites are
  * KBs–MBs), so its distinct n-gram set broadcasts; the corpus side is
  * a map-only shingle explode feeding a broadcast semi/inner join — the
  * 100 TB corpus is never shuffled. Exact n-gram collision (not
  * similarity) is the standard decontamination criterion: one shared
  * n-gram of the chosen length is already leakage.
  */
object Decontaminate {

  /** Distinct word n-grams per doc: (idCol, ng). */
  private def grams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(idCol),
        explode(array_distinct(Dedup.shingles(col("toks"), n))).as("ng"))

  /** Contaminated docs: corpus docs sharing ≥1 n-gram with `bench`,
    * with the distinct-collision count per doc (the audit artifact —
    * high counts are near-copies, low counts boilerplate overlap). */
  def contaminated(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame =
    grams(corpus, idCol, textCol, n)
      .join(broadcast(grams(bench, idCol, textCol, n)
        .select("ng").distinct()), "ng")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))

  /** [[contaminated]] with a bloom prefilter on the corpus gram stream —
    * the form for when the benchmark gram set outgrows a comfortable
    * broadcast (a full eval-suite union is GBs of distinct grams; at
    * ~10 bits/gram the bloom is MBs).
    *
    * Exactness is preserved by construction: the bloom admits every true
    * benchmark gram (no false negatives), and survivors are confirmed by
    * the same exact join as [[contaminated]] — false positives only cost
    * verify work on the (tiny) hit stream. So the output is IDENTICAL to
    * [[contaminated]] and shares its oracle. Scale shape: the corpus side
    * stays a map-only explode + codegen'd bit probe (never shuffled, and
    * with ~1% fpp ~99% of grams die before the join); the verify join's
    * build side is the benchmark gram set as before, but the probe side
    * has shrunk from |corpus grams| to |hits| ≈ |true collisions|, so at
    * bench sets too big to broadcast a shuffle join is cheap — it only
    * moves the hits. The bits build is a distributed OR-fold
    * ([[graft.functions.Bloom64.BloomAgg]]): one m/8-byte value reaches
    * the driver regardless of benchmark size. */
  def contaminatedBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8, mBits: Int = 1 << 20, k: Int = 4): DataFrame = {
    val benchNg = grams(bench, idCol, textCol, n).select("ng").distinct().cache()
    val bits = graft.functions.Bloom64.build(
      benchNg.select(graft.functions.Fnv64.of(col("ng")).as("h")), mBits, k)
    val hits = grams(corpus, idCol, textCol, n)
      .filter(graft.functions.Bloom64.of(
        lit(bits), graft.functions.Fnv64.of(col("ng")), k))
    hits.join(benchNg, "ng")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }

  /** The scrub: corpus minus contaminated docs (anti-join on the
    * broadcast collision set). */
  def scrub(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame =
    corpus.join(contaminated(corpus, bench, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** NEAR-duplicate contamination: corpus docs whose distinct
    * trigram-shingle Jaccard against ANY benchmark doc reaches
    * `minJaccard` — the paraphrase / light-edit leakage the verbatim
    * n-gram test above misses (change one token in every 8-gram and
    * [[contaminated]] reports a clean doc; the shingle-set overlap
    * barely moves). Candidates come from a cross-corpus banded-MinHash
    * equi-join: corpus meets bench only on colliding (band, key)
    * buckets — never all pairs — and the bench band side is benchmark-
    * sized (broadcastable); survivors are verified with exact Jaccard
    * on the distinct shingle sets, so LSH only spends recall, never
    * precision. Same md5-sliced signature family as the dedup gates
    * (k ≤ 8, engine-portable), same `inter/uni` exact-integer verify.
    *
    * Self-pairs are NOT excluded: the benchmark doc itself appearing
    * in the corpus is the truest contamination, and cross-corpus id
    * equality is coincidence, not identity.
    *
    * Returns one row per surviving (corpus, bench) pair:
    * (idCol, bench_id, inter, uni) — exact longs. The scrub/audit
    * aggregate is one groupBy away. */
  def contaminatedNear(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int = 8, bands: Int = 4, rows: Int = 2,
      minJaccard: Double = 0.5): DataFrame = {
    require(bands * rows <= k,
      s"bands*rows must be <= k (got $bands*$rows > $k)")
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0, 1] (got $minJaccard)")
    def shingled(df: DataFrame) = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(idCol),
        array_distinct(Dedup.shingles(col("toks"))).as("sh"))
    // the signature sits BEHIND a cache barrier before the per-band
    // fan-out (unbarriered, the sig subtree re-runs once per band key;
    // the digest pass inside it is let-bound by Dedup.minhashMd5). The
    // op is LAZY (the returned frame reads THROUGH these barriers), so
    // it cannot unpersist them itself — they're registered on the
    // result for GraphBlocks.release/releaseAll, like the iterative
    // ops' checkpoint blocks (repeated calls in a long-lived session
    // otherwise accumulate barrier caches until session end)
    val barriers = Seq.newBuilder[DataFrame]
    def banded(sh: DataFrame) = {
      val sig = sh.withColumn("sig", Dedup.minhashMd5(col("sh"), k)).cache()
      barriers += sig
      Dedup.lshBands(sig, "sig", bands, rows, idCol)
    }
    val cs = shingled(corpus).cache()
    val bs = shingled(bench).cache()
    barriers += cs += bs
    // bench sides carry an explicit broadcast hint (benchmark-sized by
    // contract): without it the candidate join can plan as a shuffle
    // of the CORPUS band stream — the one thing this op must not move
    val cand = banded(cs)
      .select(col("band"), col("key"), col(idCol).as("_doc"))
      .join(broadcast(banded(bs)
        .select(col("band"), col("key"), col(idCol).as("bench_id"))),
        Seq("band", "key"))
      .select("_doc", "bench_id").distinct()
    val (inter, uni, _) = Dedup.jaccardCols(col("_sha"), col("_shb"))
    GraphBlocks.registerCached(
      cand
        .join(cs.select(col(idCol).as("_doc"), col("sh").as("_sha")), "_doc")
        .join(broadcast(
            bs.select(col(idCol).as("bench_id"), col("sh").as("_shb"))),
          "bench_id")
        .withColumn("inter", inter.cast("long"))
        .withColumn("uni", uni.cast("long"))
        .filter(col("inter") * 1.0 / col("uni") >= minJaccard)
        .select(col("_doc").as(idCol), col("bench_id"),
          col("inter"), col("uni")),
      barriers.result())
  }
}
