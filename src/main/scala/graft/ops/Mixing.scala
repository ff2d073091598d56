package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data corpus composition: deterministic stratified sampling
  * (data mixing) and sequence packing — the two operations that sit
  * between a deduped document store and a training run.
  *
  * Scale design:
  *   - sampling is MAP-ONLY: the keep/drop decision is a pure function
  *     of (id, stratum) — no shuffle, no state, and the same doc makes
  *     the same decision on every run, engine, and partition layout
  *     (md5-slice uniformity, the same portable family the dedup
  *     queries use). Changing a stratum's rate re-decides only that
  *     stratum, monotonically: lowering a rate keeps a SUBSET of the
  *     previously kept docs (the hash-threshold property), so a re-mix
  *     is an incremental delete, never a reshuffle of the corpus.
  *   - packing is SHARD-PARALLEL: docs are hash-sharded, each shard
  *     packs independently under a per-shard running-offset window — at
  *     1000 executors every shard's window sorts only |corpus|/shards
  *     rows; no global window, no single-partition exchange.
  */
object Mixing {

  /** Uniform-in-[0, 65536) hash slice of the id — the sampling coin.
    * First 4 hex chars of md5(id): portable to any engine that can md5
    * a string (the DuckDB oracle decodes the same slice with strpos). */
  private[graft] def hashSlice(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 4), 16, 10).cast("long")

  /** Deterministic stratified sampling: keep a row iff
    * `hashSlice(id) < rate(stratum) * 65536`. `rates` maps stratum
    * values to keep-rates in [0, 1]; unlisted strata use `default`.
    *
    * This is the data-mixing primitive: rates are the mixture weights
    * (relative to each stratum's natural frequency), and the decision
    * is reproducible — reruns, backfills, and incremental increments
    * all agree on every doc without coordination. */
  def sampleByRate(df: DataFrame, strataCol: String, idCol: String,
      rates: Map[String, Double], default: Double = 1.0): DataFrame = {
    require((rates.values.toSeq :+ default).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val rate = rates.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashSlice(col(idCol)) < rate * 65536.0)
  }

  /** Probability-proportional-to-size (Poisson) sampling: keep each row
    * with inclusion probability min(1, n·wᵢ/Σw) for integer weights —
    * the importance-sampling primitive ("sample ~n docs, preferring
    * high quality/length"). E[kept] ≈ n; every weight-zero row drops;
    * any row with wᵢ ≥ Σw/n always survives.
    *
    * The keep decision is `uᵢ·Σw < n·wᵢ·65536` in EXACT decimal(38)
    * integer arithmetic (uᵢ = the md5 hash slice; decimal so the
    * product cannot overflow at 100-TB-scale Σw), so every engine,
    * rerun, and backfill agrees bit-wise — the DuckDB oracle replays
    * the identical inequality in HUGEINT. Raising n only ever ADDS
    * rows (the [[sampleByRate]] incremental algebra). Weight EDITS do
    * NOT share that property: changing any weight moves Σw and
    * re-decides every row — treat a weight change as a re-mix, not an
    * increment. Σw comes from ONE 1-row aggregate broadcast back; the
    * corpus itself never shuffles — the whole op is map-only plus a
    * scalar. */
  def sampleByWeight(df: DataFrame, idCol: String, weightCol: String,
      n: Long): DataFrame = {
    require(n >= 0, s"sample size must be >= 0 (got $n)")
    val dec = "decimal(38,0)"
    val total = df.agg(sum(col(weightCol).cast(dec)).as("_tw"))
    df.crossJoin(broadcast(total))
      .filter(hashSlice(col(idCol)).cast(dec) * col("_tw") <
        lit(n).cast(dec) * col(weightCol).cast(dec) * lit(65536).cast(dec))
      .drop("_tw")
  }

  /** Deterministic TOKEN-BUDGET sampling: cut each stratum down to (at
    * least) `budgets(stratum)` tokens by keeping the docs whose hash
    * slice falls at or below the smallest threshold meeting the budget.
    * Strata without a budget keep everything; a stratum whose total is
    * under its (positive) budget keeps everything (the budget is
    * unreachable); a ZERO budget keeps nothing — zeroing a stratum out
    * excludes it, it does not leak the first hash slice.
    *
    * Two distributed passes, NO driver collect: (1) per-(stratum, slice)
    * token sums — at most 65,536 rows per stratum REGARDLESS of corpus
    * size (map-side combine does the heavy lifting); a per-stratum
    * running sum over that bounded frame finds each stratum's threshold;
    * (2) a map-only filter of the corpus against the broadcast
    * thresholds. Same determinism/monotonicity family as
    * [[sampleByRate]]: the kept set is a pure function of (id, stratum,
    * budget), and RAISING a budget only ever ADDS docs (the threshold is
    * monotone in the budget). Overshoot is bounded by one slice's docs
    * (~1/65,536 of the stratum). */
  def sampleByTokenBudget(df: DataFrame, strataCol: String, idCol: String,
      tokensCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    val withU = df.withColumn("_u", hashSlice(col(idCol)))
    val budget = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val thresholds = withU
      .groupBy(col(strataCol), col("_u"))
      .agg(sum(col(tokensCol)).as("_btoks"))
      .withColumn("_cum", sum(col("_btoks"))
        .over(Window.partitionBy(strataCol).orderBy("_u")))
      .withColumn("_budget", budget)
      .filter(col("_budget").isNotNull && col("_cum") >= col("_budget"))
      .groupBy(col(strataCol))
      // budget 0 is satisfied by the first occupied slice, but "keep at
      // least 0 tokens" minimally means keep NOTHING: force the
      // threshold below every slice (u >= 0 always)
      .agg(when(min(col("_budget")) === 0, lit(-1L))
        .otherwise(min(col("_u"))).as("_thr"))
    withU.join(broadcast(thresholds), Seq(strataCol), "left")
      .filter(col("_thr").isNull || col("_u") <= col("_thr"))
      .drop("_u", "_thr")
  }

  /** Deterministic TEMPERATURE sampling: rebalance strata toward the
    * uniform distribution by keeping stratum i at rate
    * `(c_min / c_i)^(1 − α)` — the multilingual-pretraining `p^α`
    * rebalancing (sample language i proportional to its natural share
    * raised to α), expressed as pure downsampling so no stratum ever
    * upsamples: α = 1 keeps everything (natural mixture), α = 0 cuts
    * every stratum to ≈ the smallest stratum's count (uniform mixture),
    * and values between interpolate. The smallest stratum always keeps
    * rate 1.
    *
    * Same scale/determinism family as [[sampleByRate]]: the keep
    * decision is the hash-threshold coin, so reruns and increments
    * agree doc-by-doc, and RAISING α only ever adds docs per stratum
    * (rate is monotone in α). The only addition is where the rates come
    * from: one map-side-combinable count per stratum, a 1-row global
    * min, and a broadcast join of the (stratum, rate) table back onto
    * the corpus — the corpus itself never shuffles, and nothing is
    * collected to the driver.
    *
    * α = 0.5 computes the rate with `sqrt` — IEEE-correctly-rounded in
    * every engine, so an external oracle replays the exact threshold;
    * other α use `pow`, whose last-ulp rounding is libm-specific (fine
    * in production, where both sides of a rerun are Spark). */
  def sampleByTemperature(df: DataFrame, strataCol: String, idCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0, 1], got $alpha")
    val counts = df.groupBy(col(strataCol).as("_s")).agg(count(lit(1)).as("_c"))
    val cmin = counts.agg(min(col("_c")).as("_cmin"))
    val ratio = col("_cmin").cast("double") / col("_c")
    val rate =
      if (alpha == 1.0) lit(1.0)
      else if (alpha == 0.5) sqrt(ratio)
      else pow(ratio, lit(1.0 - alpha))
    val rates = counts.crossJoin(broadcast(cmin))
      .select(col("_s"), rate.as("_rate"))
    // null-safe equi-join: groupBy already folded NULL strata into their
    // own group, so `<=>` lets them meet their rate row instead of being
    // silently dropped by a plain equi-join — consistent with
    // sampleByRate, which keeps null-stratum rows at the default rate
    df.join(broadcast(rates), col(strataCol) <=> col("_s"))
      .filter(hashSlice(col(idCol)) < col("_rate") * 65536.0)
      .drop("_s", "_rate")
  }

  /** Deterministic EXACT-SIZE sample: the `n` rows whose (hash slice,
    * id) rank lowest — fixed sample SIZE where [[sampleByRate]] /
    * [[sampleByWeight]] fix the RATE (Poisson: size varies ±√n). The
    * eval-set / human-review draw ("exactly 10k docs, reproducibly"):
    * reruns agree row-for-row, and the sample at n₁ < n₂ is a strict
    * PREFIX of the sample at n₂ (the hash order is a fixed global
    * shuffle of the corpus — [[globalShuffle]]'s order, consumed n
    * rows at a time), so growing an eval set never re-draws it. Ties
    * in the 16-bit slice break on id — total order, engine-portable.
    *
    * Scale shape: top-n, NOT a global sort — Spark plans orderBy+limit
    * as TakeOrderedAndProject (each partition keeps its local n, the
    * driver merges partitions' heads), so the corpus never shuffles
    * and driver memory is n × partitions rows. That holds for
    * eval-set-sized n (the intended use); a "sample half the corpus"
    * n belongs to [[sampleByRate]]. */
  def sampleExactN(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 0, s"sample size must be >= 0 (got $n)")
    df.withColumn("_u", hashSlice(col(idCol)))
      .orderBy(col("_u"), col(idCol))
      .limit(n)
      .drop("_u")
  }

  /** Deterministic EPOCH-REPETITION schedule: emit each row
    * `epochsMilli(stratum) / 1000` epochs, in milli-epochs so the
    * fraction is exact integer arithmetic — 2500 = "2.5 epochs" =
    * every doc twice, plus a deterministic half of docs a third time.
    * This is the data-repetition knob of a token-budgeted pretraining
    * mix (high-quality strata repeat for several epochs while bulk web
    * data sees less than one), materialized as an explicit schedule:
    * one output row per (doc, epoch) with `epoch` ∈ 1..copies, so the
    * downstream shuffle/pack stage treats repeats as ordinary rows.
    *
    * The fractional-epoch decision is the [[hashSlice]] coin on a
    * DISTINCT salt (`id || ":ep"`), so it is independent of the
    * sampling coin — a doc kept by [[sampleByRate]] is not thereby
    * biased into the extra epoch. copies is MONOTONE in milli-epochs:
    * the floor and the fraction threshold move together (raising 1900
    * → 2100 first grows the extra-copy set to everyone, then starts a
    * fresh fraction), so raising a stratum's budget only ever ADDS
    * (doc, epoch) rows — an incremental append, never a re-deal.
    * Rows whose copies resolve to 0 (milli < 1000 and the coin misses)
    * drop entirely — sub-epoch milli IS [[sampleByRate]] with the
    * epoch coin.
    *
    * Scale shape: map-only — a when-chain picks the stratum's milli, a
    * codegen'd `sequence` explode fans each row out by its copy count
    * (fanout ≤ ⌈max milli/1000⌉, a config constant), no shuffle, no
    * state. At 100 TB the repeated corpus is written once by whatever
    * sink follows; re-running with a raised budget re-derives only the
    * added epochs' rows. */
  def repeatByEpochs(df: DataFrame, strataCol: String, idCol: String,
      epochsMilli: Map[String, Long], defaultMilli: Long = 1000L,
      epochCol: String = "epoch"): DataFrame = {
    require((epochsMilli.values.toSeq :+ defaultMilli).forall(_ >= 0),
      "milli-epochs must be >= 0")
    // fanout is a deliberate, bounded choice: 1000 epochs of anything
    // is a config typo, not a schedule
    require((epochsMilli.values.toSeq :+ defaultMilli).forall(_ <= 1000000L),
      "milli-epochs above 1e6 (1000 epochs) — lower the schedule")
    val milli = epochsMilli.foldLeft(lit(defaultMilli)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val u = hashSlice(concat(col(idCol).cast("string"), lit(":ep")))
    // extra-copy coin: u/65536 < (milli mod 1000)/1000, cross-multiplied
    // so both sides stay integral (the exact same inequality the DuckDB
    // oracle replays)
    val copies = (milli / lit(1000L)).cast("long") +
      when(u * lit(1000L) < (milli % lit(1000L)) * lit(65536L), lit(1L))
        .otherwise(lit(0L))
    // sequence(1, 0) would count DOWN in Spark — guard the empty case
    // out before explode rather than exploding a descending range
    df.withColumn("_copies", copies)
      .filter(col("_copies") >= 1L)
      .withColumn(epochCol,
        explode(sequence(lit(1L), col("_copies"))))
      .drop("_copies")
  }

  /** Shard-parallel sequence packing, concat-offset form: within each
    * of `nShards` hash-shards, docs are laid out in id order and cut
    * into packs at fixed `ctxTokens` boundaries — a doc is assigned to
    * the pack where its first token LANDS (`floor(start_offset / ctx)`).
    * This is the concat-then-chunk shape production packing uses (a
    * pack can spill past the boundary by less than one doc; a doc
    * longer than the context spans packs but is ASSIGNED once). True
    * first-fit bin packing is inherently sequential per shard and buys
    * little over this at corpus scale.
    *
    * Output: the input columns + `shard`, `start_off` (token offset of
    * the doc within its shard's layout), `pack_id` (unique across
    * shards). One row per input doc; every doc lands in exactly one
    * pack; pack_ids are dense per shard.
    *
    * pack_id layout: `(shard << 42) + pack_no` — shards own disjoint
    * 2^42-pack id spaces (≈2.25e15 tokens per shard at ctx=512, beyond
    * any 100 TB corpus; an Int.MaxValue stride would collide at ~1.1e12
    * tokens/shard, which IS reachable). A shard whose pack index
    * somehow reached 2^42 raises instead of bleeding into the next
    * shard's space, and nShards is bounded so the shard field fits the
    * remaining bits.
    *
    * @param shardHash id → hash for shard assignment: xxhash64 by
    * default (codegen'd — the production family), [[hashSlice]] for the
    * oracle-portable md5 family (same two-family pattern as dedup). */
  def packByOffset(df: DataFrame, idCol: String, tokensCol: String,
      ctxTokens: Int, nShards: Int = 32,
      shardHash: Column => Column = xxhash64(_)): DataFrame = {
    require(ctxTokens > 0 && nShards > 0, "ctxTokens and nShards must be positive")
    require(nShards <= (1 << 21), s"nShards $nShards exceeds the 2^21 shard-id space")
    val shard = pmod(shardHash(col(idCol)), lit(nShards.toLong)).cast("int")
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packNo = floor(col("start_off") / ctxTokens).cast("long")
    df.withColumn("shard", shard)
      .withColumn("start_off",
        (sum(col(tokensCol)).over(w) - col(tokensCol)).cast("long"))
      .withColumn("pack_id",
        when(packNo >= (1L << 42),
          raise_error(concat(lit("packByOffset: pack index overflow — start_off "),
            col("start_off").cast("string"),
            lit(s" exceeds the 2^42 packs-per-shard space at ctx $ctxTokens")))
            .cast("long"))
          .otherwise(shiftleft(col("shard").cast("long"), 42) + packNo))
  }

  /** Deterministic train/val/test split: assign each row a named split
    * by where its hash slice falls in the cumulative fraction ranges —
    * the eval carve-out primitive. Same md5 family and guarantees as
    * [[sampleByRate]]: map-only, no shuffle, reproducible on any engine,
    * and STABLE under re-runs and corpus growth (a doc's split never
    * changes when other docs arrive — the property a random split
    * lacks, and the reason eval contamination audits are possible at
    * all). `fractions` is (name, fraction) in order; fractions must sum
    * to 1 (±1/65536 quantization). */
  def assignSplits(df: DataFrame, idCol: String,
      fractions: Seq[(String, Double)], out: String = "split"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0.0),
      "fractions must be non-negative")
    // tolerance matches the documented 1/65536 quantization: the cuts are
    // rounded to 1/65536 slices anyway, so a sum within one slice of 1
    // still assigns every slice deterministically — the old 1e-9 gate
    // contradicted the scaladoc and punished callers whose fractions came
    // from token-count ratios
    require(math.abs(fractions.map(_._2).sum - 1.0) <= 1.0 / 65536,
      s"fractions must sum to 1 (±1/65536), got ${fractions.map(_._2).sum}")
    val cuts = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(f => math.round(f * 65536).toLong)
    val u = hashSlice(col(idCol))
    val expr = fractions.map(_._1).zip(cuts).init
      .foldRight(lit(fractions.last._1): Column) { case ((name, cut), acc) =>
        when(u < cut, name).otherwise(acc)
      }
    df.withColumn(out, expr)
  }

  /** Deterministic global training-order shuffle: every row gets a dense
    * position `ord` in a pseudo-random total order — the step between
    * packing and release (training must not see the corpus in crawl /
    * source / id order, and the order must be REPRODUCIBLE so a resumed
    * or re-sharded run reads the identical sequence).
    *
    * The order key is `md5(id)` (full 32-hex-char rank, ties broken by
    * id): uniform, seedable by prefixing the id, and portable — any
    * engine that can md5 a string derives the same permutation, so the
    * DuckDB oracle checks the exact positions. Position assignment is
    * [[graft.op.Seqs.globalSeqBy]]'s distributed range-sort +
    * zipWithIndex — data moves through ONE range exchange, no
    * single-partition window at any scale. */
  def globalShuffle(df: DataFrame, idCol: String, out: String = "ord"): DataFrame =
    graft.op.Seqs.globalSeqBy(
      df.withColumn("_rank", md5(col(idCol).cast("string"))),
      Seq("_rank", idCol), out)
      .drop("_rank")

  /** Frequency capping: keep at most `n` rows per key, best-first by
    * `ordCol` descending (ties broken by `idCol` ascending, so the
    * selection is total and rerun-stable). The curation primitive
    * behind "at most N documents per domain / per near-dup cluster /
    * per source" — the long-tail survives untouched while the hot
    * keys are cut to their best n.
    *
    * Scale shape: the naive form is one window over
    * partitionBy(key), which lands EVERY row of a hot key on one
    * task — the exact skewed-shuffle failure mode. This runs two
    * phases: (1) a per-(key, salt) local top-n — same single corpus
    * shuffle, but a hot key spreads over `salts` partitions and the
    * frame leaving phase 1 is ≤ n·salts rows per key; (2) the true
    * per-key top-n over that bounded frame. Selection identity:
    * every global top-n row is in its salt's top-n (removing other
    * rows only improves a row's local rank), so phase 1 never drops
    * a survivor — MixingPropSpec pins equality with the naive window
    * for every `hotKeys` choice.
    *
    * `hotKeys` is the measured refinement (`skew_cap`,
    * `SCALEPROBE_r16.jsonl`):
    * salting EVERY key keeps phase 1 from pruning the long tail (a
    * key with ~n rows per salt passes everything through), so the
    * blanket form pays a near-full second pass — measured ~1.8× the
    * naive window at moderate skew. Passing the known hot keys (from
    * [[graft.ops.Sketches.heavyHitters]], the no-shuffle detector)
    * salts ONLY those: tail keys keep salt 0, where the phase-1 rank
    * IS their true per-key rank and prunes them to n rows, so phase 2
    * reads ≈ n·|keys| + n·salts·|hot| rows — negligible — while the
    * hot keys still spread over the salt partitions.
    *
    * When to salt at all (measured, not presumed — skew_cap probe): a
    * single-task Tungsten sort absorbs hot partitions up to ~20M rows
    * faster than any two-phase form pays for its second exchange, so
    * below the spill regime the naive window (or salts=1, whose
    * phase 1 IS the per-key rank) wins; salting is insurance for hot
    * keys past one task's memory, aimed with `hotKeys`, not blanket.
    *
    * Output keeps all input columns plus `rk` (1-based rank within
    * the key, ≤ n). */
  def capPerKey(df: DataFrame, keyCol: String, ordCol: String,
      idCol: String, n: Int, salts: Int = 16,
      hotKeys: Seq[Any] = Nil): DataFrame = {
    require(n >= 1 && salts >= 1, s"capPerKey needs n>=1, salts>=1 (got $n, $salts)")
    val order = Seq(col(ordCol).desc, col(idCol).asc)
    val salt =
      if (hotKeys.isEmpty) pmod(xxhash64(col(idCol)), lit(salts))
      else when(col(keyCol).isInCollection(hotKeys),
        pmod(xxhash64(col(idCol)), lit(salts))).otherwise(lit(0L))
    val local = Window.partitionBy(col(keyCol), salt).orderBy(order: _*)
    val global = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    df.withColumn("_lrk", row_number().over(local))
      .filter(col("_lrk") <= n).drop("_lrk")
      .withColumn("rk", row_number().over(global).cast("long"))
      .filter(col("rk") <= n)
  }

  /** Count-balanced contiguous range layout: assign every row a group
    * in [0, nGroups) such that groups are contiguous ranges of
    * `keyCol` and hold ~|rows|/nGroups rows each. This is the release
    * layout primitive — a writer partitions by `grp` to get N ordered,
    * balanced shards (the length-bucketed variant, keyed on token or
    * char count, is the padding-efficiency trick: similar-length docs
    * batch together, so training pads less).
    *
    * Scale shape (NO global sort, NO single-partition window — the
    * things a naive `ntile` would do):
    *   1. one hash-agg histogram of the DISTINCT key values — map-side
    *      combine means the shuffle moves ≤ |distinct| rows regardless
    *      of corpus size;
    *   2. a driver-side cumulative fold over the (bounded, ordered)
    *      histogram derives the nGroups−1 boundary keys — the IVF
    *      bounded-collect pattern; a limit-probe REFUSES keys with more
    *      than `maxDistinct` values (quantize first — a layout key is
    *      discrete by nature) instead of OOMing the driver at 100 TB;
    *   3. assignment is a map-only codegen'd comparison chain against
    *      the boundary literals — the corpus itself never shuffles.
    *
    * Group of a key = `((cumEnd(key) − 1) · nGroups) div total` (the
    * group where the key's LAST row lands) — whole keys never split
    * across groups, ties are deterministic, and exact integer
    * arithmetic makes the assignment engine-portable. Balance degrades
    * only when a single key's count exceeds a group's share (then that
    * key IS its group, the best any whole-key layout can do). */
  /** Z-ORDER (Morton) layout over two columns: bucket each column into
    * 2^bitsPerDim count-balanced ranges ([[rangeLayout]] twice), then
    * interleave the bucket bits into a single `zbucket` in
    * [0, 4^bitsPerDim). Writing files clustered by `zbucket` gives
    * every file a bounded min/max range on BOTH columns simultaneously
    * — the multi-dimensional data-skipping layout: at 100 TB a scan
    * filtered on EITHER column prunes ~(1 − 1/2^bitsPerDim) of the
    * files from parquet footer stats alone, where a single-column sort
    * only ever prunes on its leading column. (This is the same trick
    * lakehouse OPTIMIZE ZORDER BY applies; here it composes with
    * [[rangeLayout]]'s whole-key contiguity and bounded-histogram
    * scale shape — the corpus itself never globally sorts.)
    *
    * Assignment is map-only against broadcast boundary literals (two
    * bounded histogram folds derive them); the interleave is integer
    * shift/mask arithmetic, codegen'd and engine-portable. */
  def zorderLayout(df: DataFrame, colA: String, colB: String,
      bitsPerDim: Int = 3, maxDistinct: Int = 1 << 20): DataFrame = {
    require(bitsPerDim >= 1 && bitsPerDim <= 12,
      s"bitsPerDim must be in [1, 12], got $bitsPerDim")
    val n = 1 << bitsPerDim
    val withA = rangeLayout(df, colA, n, maxDistinct).withColumnRenamed("grp", "_ga")
    val withB = rangeLayout(withA, colB, n, maxDistinct).withColumnRenamed("grp", "_gb")
    val z = (0 until bitsPerDim).map { i =>
      shiftright(col("_ga"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(col("_gb"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
    withB.withColumn("zbucket", z).drop("_ga", "_gb")
  }

  def rangeLayout(df: DataFrame, keyCol: String, nGroups: Int,
      maxDistinct: Int = 1 << 20): DataFrame = {
    require(nGroups >= 1 && nGroups <= 4096,
      s"nGroups must be in [1, 4096], got $nGroups")
    val hist = df.groupBy(col(keyCol).cast("long").as("_k"))
      .agg(count(lit(1)).as("_c"))
    require(hist.limit(maxDistinct + 1).count() <= maxDistinct,
      s"rangeLayout: > $maxDistinct distinct $keyCol values — quantize the " +
        "layout key first (the boundary fold is driver-side and bounded)")
    val ordered = hist.orderBy("_k").collect()
    val total = ordered.iterator.map(_.getLong(1)).sum
    // zorderLayout drives nGroups up to 2^12: a small input must fail
    // loudly here, not as an opaque NoSuchElementException in the
    // boundary fold below (every group needs at least one row)
    require(total >= nGroups,
      s"rangeLayout: $total row(s) of $keyCol cannot fill $nGroups groups — " +
        "lower nGroups (or bitsPerDim for zorderLayout) to at most the row count")
    var cum = 0L
    val grpOfKey = ordered.map { r =>
      cum += r.getLong(1)
      (r.getLong(0), (cum - 1) * nGroups / total)
    }
    // boundary g (1-based) = smallest key whose group ≥ g; duplicates
    // when a group is skipped keep `count(bounds ≤ key)` = group
    val bounds = (1 until nGroups).map(g => grpOfKey.find(_._2 >= g).get._1)
    val grp = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(keyCol).cast("long") >= lit(b), lit(1L)).otherwise(lit(0L))
    }
    df.withColumn("grp", grp)
  }
}
