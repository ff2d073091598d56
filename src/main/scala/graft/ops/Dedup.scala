package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is one hash aggregation — map-side partial, output
  *     |distinct|;
  *   - MinHash+LSH is the scalable near-dup path: signatures are a
  *     map-only pass, candidate generation is a shuffle on (band, key)
  *     whose fan-in is only colliding docs, and verification touches
  *     candidate pairs, never the n² cross product;
  *   - the quadratic n-gram Jaccard join exists as the *oracle baseline*
  *     and must be bounded by the caller (it is the spec for what LSH
  *     approximates);
  *   - two hash families: sliced md5 (engine-portable — one digest per
  *     shingle, perms carved as 16-bit hex slices — drives the
  *     DuckDB-checked queries) and xxhash64 (codegen'd, ~10× cheaper —
  *     the production path, same algebra).
  */
object Dedup {

  /** Exact dedup on arbitrary columns: keep the lowest id per group. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Fail-fast guard for the quadratic baseline paths: the all-pairs
    * n-gram Jaccard join is O(n²) BY CONTRACT (it is the spec LSH
    * approximates) and must never see unbounded input — a 100 TB misuse
    * should die in milliseconds, not run forever. The probe is
    * `limit(maxRows+1).count()`: it scans at most maxRows+1 rows, so the
    * guard itself stays cheap on arbitrarily large inputs. Returns `df`
    * unchanged so it wraps inline at the join's build site. */
  def requireBounded(df: DataFrame, maxRows: Int,
      what: String = "quadratic pairwise baseline"): DataFrame = {
    val n = df.limit(maxRows + 1).count()
    require(n <= maxRows,
      s"$what is O(n²) and caller-bounded: input exceeds $maxRows rows — " +
        "use the LSH/band-blocked path for unbounded data")
    df
  }

  /** Word n-gram shingles from a token array (1-indexed element_at). */
  def shingles(toks: Column, n: Int = 3): Column =
    transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*))

  /** Per-shingle md5 digests (hex) — the ONLY hashing pass of the
    * sliced portable family. Never slice perms off this expression
    * inline: [[minhashMd5Sliced]] references its input once per perm,
    * and interpreted HOFs get no common-subexpression elimination, so
    * the md5 pass would re-run once per perm. [[minhashMd5]] binds it
    * once. */
  def md5PerShingle(sh: Column): Column = transform(sh, s => md5(s))

  /** Portable MinHash signature of a shingle array: the per-shingle
    * digest array is LET-BOUND through a one-element `transform` lambda
    * (a bound lambda variable is evaluated once and referenced by every
    * perm slice), so one md5 pass per row needs no cache barrier
    * between the digests and the slicing. */
  def minhashMd5(sh: Column, k: Int): Column =
    element_at(transform(array(md5PerShingle(sh)),
      mh => minhashMd5Sliced(mh, k)), 1)

  /** MinHash signature, portable family: perm i is the lexicographic min
    * (= numeric min — fixed-width lowercase hex) over hex chars
    * [4i+1 .. 4i+4] of the per-shingle digests. ONE md5 per shingle
    * total, vs the k digests per shingle of the seed-prefix formulation
    * it replaced (measured ~2× on the admission queries at sf0.1, k=8).
    * Slices of one digest are not independent permutations in the strict
    * sense, but 16-bit slices of a cryptographic hash are pairwise
    * uncorrelated in practice (the standard one-hash minhash trade); a
    * lower-entropy slice can only ADD band-collision candidates, and
    * verification is exact Jaccard either way. Oracle-portable:
    * `substr(md5(x), 4*i + 1, 4)`. One 32-char digest yields at most 8
    * 4-char slices, so k ≤ 8 — past that every slice is the empty
    * string, all band keys degenerate, and LSH candidates go quadratic
    * silently; use [[minhashFast]] for production k. */
  def minhashMd5Sliced(hashed: Column, k: Int): Column = {
    require(k * 4 <= 32,
      s"sliced md5 family supports at most 8 perms (got k=$k); " +
        "use minhashFast (xxhash64 seeds) for larger k")
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hashed, h => h.substr(i * 4 + 1, lit(4)))))
  }

  /** MinHash signature, production family: xxhash64 with integer seeds —
    * a native codegen'd expression ([[graft.functions.MinHash64]]): one
    * tight pass per row vs k interpreted `transform`/`array_min` folds
    * for the HOF formulation it replaced (FunctionsSpec pins the
    * equivalence, including null-element and empty-array behavior).
    * Measured on sf0.1 documents shingles, median of 3: 0.33→0.10 s at
    * k=8, 1.67→0.25 s at k=64 — the win grows with k, and production
    * MinHash runs k=64–128. */
  def minhashFast(sh: Column, k: Int): Column =
    graft.functions.MinHash64.of(sh, k)

  /** The banded form of one signature, PACKED: an
    * `array<struct<band:int, key:string>>` of `bands` entries, `rows`
    * hashes concatenated per key. This is the column-family shape the
    * admission store persists NEXT TO the signature (one row per doc, one
    * merge) — candidate generation explodes it, never re-hashing. */
  def lshBandArray(sigCol: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        concat_ws("#", (1 to rows).map(r => element_at(sigCol, b * rows + r)): _*)
          .as("key")))

  /** Banded LSH, exploded: one (idCol, band, key) row per band; docs
    * sharing any band key become candidate pairs. */
  def lshBands(df: DataFrame, sigCol: String, bands: Int, rows: Int, idCol: String): DataFrame =
    df.select(col(idCol),
      explode(lshBandArray(col(sigCol), bands, rows)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))

  /** Candidate pairs from banded signatures: a self-equi-join on
    * (band, key) — the shuffle key IS the bucket, so only colliding
    * documents meet. Distinct (a < b) pairs. */
  def lshCandidates(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band"), col("key"), col(idCol).as("a_id"))
    val b = bandsDf.select(col("band"), col("key"), col(idCol).as("b_id"))
    a.join(b, Seq("band", "key")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Incremental candidates: NEW batch × existing corpus only — the
    * admission path for deduping a crawl increment against a persisted
    * signature store. The corpus side's banded signatures are computed
    * once (a checkpointed table in production) and reused across
    * increments; candidates still meet on the (band, key) shuffle key,
    * and corpus×corpus pairs are never generated — an increment costs
    * O(|new| signatures + collisions), independent of how self-similar
    * the corpus is. Returns (new_id, corpus_id). */
  def lshCandidatesAgainst(newBands: DataFrame, corpusBands: DataFrame,
      idCol: String): DataFrame = {
    val n = newBands.select(col("band"), col("key"), col(idCol).as("new_id"))
    val c = corpusBands.select(col("band"), col("key"), col(idCol).as("corpus_id"))
    n.join(c, Seq("band", "key")).filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()
  }

  /** Exact Jaccard between two pre-distinct shingle arrays. |∩| via
    * array_intersect (hash-set build, O(n+m) per pair — on distinct
    * inputs its size equals a membership-filter count, which is what the
    * DuckDB oracle computes); |∪| by inclusion-exclusion. */
  def jaccardCols(shA: Column, shB: Column): (Column, Column, Column) = {
    val inter = size(array_intersect(shA, shB))
    val union = size(shA) + size(shB) - inter
    (inter, union, inter / union)
  }

  /** 16-bit portable SimHash: bit j of md5(token)'s j-th hex nibble votes
    * ±1; the sign of the vote sum sets bit j of the fingerprint. The
    * production variant (64-bit, xxhash64) follows the same shape.
    *
    * Single-pass form: tokens are hashed ONCE (`transform` to an md5
    * array), then one fold accumulates all 16 one-counts in 16-bit lanes
    * across a 4-long struct (naive per-bit folds cost 16 tokenizations +
    * 16 md5 passes per document). bit_j = (2·ones_j ≥ n) ⟺ vote ≥ 0,
    * so results are identical to the per-bit formulation (and the
    * oracle's). */
  def simhash16(toks: Column): Column = {
    // 16 counters in 16-bit lanes, THREE lanes per long (6 accumulator
    // fields): a fourth lane would put counts into bits 48..63 and ANSI
    // arithmetic traps the sign-bit carry as long overflow mid-fold;
    // with lanes capped at bit 47 the fold is overflow-free all the way
    // to the 65,535-token guard (and far beyond, until a lane's carry
    // reaches bit 63 — ~2^31 tokens).
    val fields = Seq("a", "b", "c", "d", "e", "f")
    // Bit j of the fingerprint votes on the HIGH bit of md5 hex nibble j
    // (nibble ≥ 8 ⟺ char ∈ 8..f — what the oracle spells with substr+IN).
    // Two structural rules keep the interpreted HOF path fast:
    //  - per token, decode the first 16 nibbles into two 32-bit ints ONCE
    //    (conv) and gather the high bits with integer shifts, instead of
    //    16 substring+isin string ops;
    //  - every many-use value (the packed counters, the token count)
    //    lives in the fold accumulator and is consumed inside the
    //    aggregate's FINISH lambda, where it binds once — referencing the
    //    aggregate from an outer projection would splice the whole fold
    //    subtree into each of the 16 bit extractions (measured 16x cost).
    val vs = transform(toks, t => {
      val h = md5(t)
      struct(
        conv(substring(h, 1, 8), 16, 10).cast("long").as("v1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("v2"))
    })
    val zero = struct(lit(0L).as("n") +: fields.map(f => lit(0L).as(f)): _*)
    aggregate(vs, zero,
      (acc, v) => {
        val contribs = fields.indices.map { f =>
          (0 until 3).map(k => 3 * f + k).filter(_ < 16).map { j =>
            val vv = v.getField(if (j < 8) "v1" else "v2")
            val shift = (7 - (j % 8)) * 4 + 3 // the nibble's high bit
            shiftright(vv, shift).bitwiseAND(lit(1L)) * lit(1L << (16 * (j % 3)))
          }.reduce(_ + _)
        }
        struct((acc.getField("n") + 1L).as("n") +:
          fields.zip(contribs).map { case (f, c) => (acc.getField(f) + c).as(f) }: _*)
      },
      acc => {
        val n = acc.getField("n")
        val sim = (0 until 16).map { j =>
          val ones = shiftright(acc.getField(fields(j / 3)), 16 * (j % 3))
            .bitwiseAND(lit(0xFFFFL))
          when(ones * 2 >= n, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        // ≥2^16 tokens would wrap a 16-bit one-count lane: refuse rather
        // than emit a silently-corrupt fingerprint (TextAnalysis.laneGuard
        // contract; simhash64's per-bit folds have no lanes)
        when(n >= 65536L,
          raise_error(concat(lit("simhash16: 16-bit lane overflow — "),
            n.cast("string"), lit(" tokens (limit 65535)"))).cast("long"))
          .otherwise(sim)
      })
  }

  /** 64-bit production SimHash over xxhash64(token) bits — a native
    * codegen'd expression ([[graft.functions.SimHash64]]): one pass per
    * row hashing each token once, vs 64 interpreted folds for the HOF
    * formulation it replaces (FunctionsSpec pins the equivalence). */
  def simhash64(toks: Column): Column = graft.functions.SimHash64.of(toks)

  /** [[simhash64]] with the md5 family ([[graft.functions.SimHash64Md5]])
    * — the oracle-portable variant: a SQL engine replicates the bit votes
    * from md5 hex nibbles, so the 64-bit band-blocking path is
    * value-verified end to end (xxhash64 stays the production family). */
  def simhash64Md5(toks: Column): Column = graft.functions.SimHash64Md5.of(toks)

  /** SimHash near-dup pairs via band blocking: split the fingerprint
    * into `bands` bit-slices; by pigeonhole, two hashes within hamming
    * distance `maxHamming < bands` must agree on at least one whole
    * slice, so candidates meet on the (band, slice) shuffle key — never
    * the n² cross product — and `bit_count(xor)` verifies exactly. */
  def simhashPairs(df: DataFrame, simCol: String, idCol: String,
      maxHamming: Int, bands: Int = 4, bitsTotal: Int = 64): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val sliceBits = bitsTotal / bands
    val mask = (1L << sliceBits) - 1
    val banded = (0 until bands).map { b =>
      df.select(col(idCol), col(simCol), lit(b).as("band"),
        shiftright(col(simCol), b * sliceBits).bitwiseAND(lit(mask)).as("slice"))
    }.reduce(_ unionByName _)
    val a = banded.select(col("band"), col("slice"),
      col(idCol).as("a_id"), col(simCol).as("a_sim"))
    val b = banded.select(col("band"), col("slice"),
      col(idCol).as("b_id"), col(simCol).as("b_sim"))
    a.join(b, Seq("band", "slice")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sim", "b_sim").distinct()
      .withColumn("hamming", bit_count(col("a_sim").bitwiseXOR(col("b_sim"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** All pairs within hamming `radius` by BALL ENUMERATION: explode
    * each signature against the XOR masks of popcount ≤ radius and
    * equi-join the probes against exact signatures. Each qualifying
    * pair is found exactly ONCE (its mask is `a_sim ^ b_sim`), so
    * there is no candidate verify and no distinct pass.
    *
    * This is the right shape when the ball is small and the signature
    * space is DENSE — [[simhashPairs]]'s band buckets degenerate there
    * (16-bit sigs / 4-bit slices = 16 bucket values per band: thousands
    * of nodes per bucket is a quadratic candidate join no verify can
    * save). Ball size is 1 + bits + bits·(bits−1)/2 (radius 2), e.g.
    * 137 for 16 bits: the shuffle carries |nodes|·137 probe rows —
    * linear in nodes, independent of how the signatures crowd. For wide
    * sigs (64-bit, ball 2081) band blocking wins back; the two
    * generators share output shape so callers pick per width. */
  def hammingBallPairs(df: DataFrame, simCol: String, idCol: String,
      radius: Int = 2, bits: Int = 16): DataFrame = {
    require(radius >= 0 && radius <= 2, s"ball enumeration is for radius ≤ 2, got $radius")
    require(bits >= 2 && bits <= 64, s"bits must be in [2, 64], got $bits")
    val singles = (0 until bits).map(i => 1L << i)
    val doubles = for {
      i <- 0 until bits; j <- (i + 1) until bits
    } yield (1L << i) | (1L << j)
    val masks = (Seq(0L) ++ (if (radius >= 1) singles else Nil) ++
      (if (radius >= 2) doubles else Nil)).toArray
    val a = df.select(col(idCol).as("a_id"), col(simCol).as("a_sim"))
      .withColumn("m", explode(lit(masks)))
      .withColumn("probe", col("m").bitwiseXOR(col("a_sim")))
      .drop("m")
    val b = df.select(col(idCol).as("b_id"), col(simCol).as("b_sim"))
    a.join(b, col("probe") === col("b_sim"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
  }

  /** Sub-document exact SPAN dedup: cut every document into fixed
    * `chunkTokens`-token chunks, keep each distinct chunk's first
    * occurrence in corpus order (lowest (id, pos)), and rebuild each
    * document from its surviving chunks — the chunk-granular
    * approximation of exact-substring dedup (the reference point is
    * suffix-array dedup à la "Deduplicating Training Data Makes
    * Language Models Better"; fixed chunking trades boundary precision
    * for a fully data-parallel plan). Doc-level exact/near dedup
    * ([[exact]], LSH) misses this entirely: two documents sharing a
    * boilerplate paragraph are not near-duplicates, but the paragraph
    * still trains twice.
    *
    * Scale shape — three shuffles, all keyed and bounded:
    *   1. first-occurrence per chunk hash is a `min` over the packed
    *      `(id << 20) | pos` long, grouped by the chunk's digest —
    *      map-side combinable AND a pure codegen'd HashAggregate (a
    *      `min(struct(id, pos))` formulation is semantically identical
    *      but its struct buffer forces SortAggregate, sorting the whole
    *      exploded chunk stream on both sides of the exchange), so the
    *      exchange moves ≤ |distinct chunks| rows no matter how hot a
    *      boilerplate chunk is. The packing bounds are guarded loudly:
    *      ≥ 2^20 chunks in one doc (8M+ tokens) or |id| ≥ 2^42 raise
    *      instead of silently mis-ordering;
    *   2. the exploded chunks join the keeper table back on the digest
    *      (AQE's skew split handles pathological chunks — the join key
    *      is the hash, never the n² chunk cross product);
    *   3. per-doc rebuild is a groupBy(id) with a collect_list bounded
    *      by the document's own chunk count.
    * The exploded+hashed frame feeds pass 1 and pass 2 from one lazy
    * tree (at cluster scale: materialize a chunk table once and feed
    * both passes from it — the SpanStore form).
    *
    * Output: one row per input doc — idCol, `n_chunks`, `dup_chunks`
    * (chunks whose first occurrence is elsewhere — intra- or cross-doc),
    * `cross_dup_chunks` (first occurrence in a DIFFERENT doc),
    * `dup_frac`, and `kept_text` (surviving chunks in position order,
    * space-joined; empty when every chunk is a dup). Chunk text hashes
    * with md5, so a SQL oracle replays the identical keep decisions. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8): DataFrame =
    // ONE lazy tree, deliberately uncached: the chunk frame is consumed
    // twice (keeper agg + flag join), so the tokenize/md5 map phase runs
    // twice — but the plan stays declarative, so Catalyst prunes unused
    // output (a caller aggregating dup counts never computes the
    // collect_list rebuild) and nothing pins the block store. The two
    // rejected alternatives both cost more than the double map pass:
    // a cache leaks blocks for the session's lifetime (the r15 bench
    // noise), an eager localCheckpoint materializes every document's
    // rebuilt text even for count-only callers. Callers that reuse the
    // RESULT repeatedly should persist it themselves; the incremental
    // form ([[graft.ops.SpanStore]]) caches its per-batch chunk frame
    // explicitly and unpersists inside the call.
    dedupChunkFrame(chunkFrame(df, idCol, textCol, chunkTokens), idCol)

  /** Keeper + flag + rebuild over any (idCol, pos, chunk, _h, _enc)
    * chunk frame — shared by the fixed and content-defined chunkers.
    * A dup chunk shorter than `minRemoveTokens` is kept (the CDC
    * short-segment guard; 1 = remove any dup).
    *
    * `hotMin > 0` switches on the manual hot-digest split for the flag
    * join: digests with ≥ hotMin occurrences (boilerplate chunks — at
    * most |chunks|/hotMin of them, so the set broadcasts at any corpus
    * size) take a BROADCAST keeper join, the rest shuffle with no hot
    * key left in the exchange. 0 = single shuffle join (AQE's skew
    * split is the safety net); the SkewProbe prices the two against
    * each other (`skew_spans_hotchunk` split fields). */
  private def dedupChunkFrame(chunks: DataFrame, idCol: String,
      minRemoveTokens: Int = 1, hotMin: Long = 0L): DataFrame = {
    val docBase = col("_enc") - col("pos") // = id << posBits, sign-safe
    val shortGuard =
      if (minRemoveTokens <= 1) lit(false)
      else size(split(col("chunk"), " ")) < minRemoveTokens
    val flagged =
      if (hotMin <= 0L) {
        val keepers = chunks.groupBy("_h").agg(min(col("_enc")).as("_first"))
        chunks.join(keepers, "_h")
      } else {
        val keepers = chunks.groupBy("_h")
          .agg(min(col("_enc")).as("_first"), count(lit(1)).as("_n"))
        val hotK = keepers.filter(col("_n") >= hotMin).drop("_n")
        val coldK = keepers.filter(col("_n") < hotMin).drop("_n")
        // hot leg: map-only broadcast join; cold leg: the hot digests
        // are carved OUT by a broadcast anti-join first, so its shuffle
        // has no hot key for AQE to rescue
        val hotLeg = chunks.join(broadcast(hotK), "_h")
        val coldLeg = chunks
          .join(broadcast(hotK.select(col("_h"))), Seq("_h"), "left_anti")
          .join(coldK, "_h")
        hotLeg.unionByName(coldLeg)
      }
    val out = flagged
      .withColumn("_kept", col("_enc") === col("_first") || shortGuard)
      // _cross only on REMOVED chunks: with the guard off this is
      // unchanged (a kept first occurrence is never cross), with the
      // guard on a kept-short dup must not inflate the removed-with-
      // cross-doc-keeper audit count
      .withColumn("_cross", !col("_kept") &&
        (col("_first") < docBase || col("_first") >= docBase + (1L << chunkPosBits)))
    perDocRebuild(out, idCol)
  }

  /** [[chunkDedup]] with the manual hot-digest split (see
    * [[dedupChunkFrame]]); identical output, different physical plan —
    * exists to be PRICED against the AQE-split default under the
    * hot-chunk skew probe. */
  def chunkDedupHotSplit(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8, hotMin: Long = 1000L): DataFrame =
    dedupChunkFrame(chunkFrame(df, idCol, textCol, chunkTokens), idCol,
      hotMin = hotMin)

  private[ops] val chunkPosBits = 20

  /** The exploded chunk frame both span-dedup forms share: one row per
    * (doc, chunk position) carrying the chunk text, its md5 digest
    * `_h`, and the packed corpus-order key `_enc` = (id << 20) | pos
    * (both packing bounds raise loudly — see [[chunkDedup]]). UNCACHED:
    * callers own materialization (every consumer reads it ≥ twice). */
  private[ops] def chunkFrame(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be positive, got $chunkTokens")
    val k = chunkTokens
    // let-bind the token array through a 1-element transform (the
    // groupSketchSim trap: an inlined tokens() re-runs the regex split
    // per element_at)
    val chunkArr = element_at(transform(array(TextAnalysis.tokens(col(textCol))),
      t => when(size(t) >= 1,
        transform(sequence(lit(0), ceil(size(t) / k.toDouble).cast("int") - 1),
          i => concat_ws(" ", slice(t, i * k + 1, lit(k)))))
        .otherwise(array())), 1)
    df.select(col(idCol), posexplode(chunkArr).as(Seq("pos", "chunk")))
      .withColumn("_h", md5(col("chunk")))
      .withColumn("_enc", packEnc(idCol))
  }

  /** The packed (id << 20) | pos corpus-order key, bounds guarded. */
  private[ops] def packEnc(idCol: String): Column = {
    val idl = col(idCol).cast("long")
    when(col("pos") >= (1L << chunkPosBits),
      raise_error(concat(lit("chunkDedup: > 2^20 chunks in one document (id "),
        idl.cast("string"), lit(") — the (id, pos) packing would mis-order")))
        .cast("long"))
      .otherwise(when(abs(idl) >= (1L << 42),
        raise_error(concat(lit("chunkDedup: |id| "), idl.cast("string"),
          lit(" >= 2^42 — the (id, pos) packing would overflow"))).cast("long"))
        .otherwise(idl * (1L << chunkPosBits) + col("pos")))
  }

  /** CONTENT-DEFINED chunk frame: instead of fixed k-token windows, a
    * chunk boundary falls AFTER every token whose md5 digest starts
    * with one of `cutNibbles` — the content-defined-chunking trick
    * (LBFS/rsync lineage): boundaries depend only on local content, so
    * inserting one token re-chunks ONE segment instead of shifting
    * every downstream window the way fixed chunking does. Expected
    * chunk length is 16/|cutNibbles| tokens. Same output shape as
    * [[chunkFrame]] (`pos` is the segment index), so the keeper /
    * store pipelines apply unchanged.
    *
    * Scale shape: tokens explode to rows and the segment index is a
    * running sum over a PER-DOCUMENT window (keyed exchange on the id,
    * sort bounded by the document's own token count — the sessionize
    * shape, never a global window); reassembly into chunk rows is a
    * per-(doc, segment) agg off the same exchange. */
  def cdcChunkFrame(df: DataFrame, idCol: String, textCol: String,
      cutNibbles: String = "01"): DataFrame = {
    require(cutNibbles.nonEmpty && cutNibbles.matches("[0-9a-f]+"),
      s"cutNibbles must be lowercase hex characters, got '$cutNibbles'")
    val toks = df.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("tpos", "tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("tpos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cut = substring(md5(col("tok")), 1, 1)
      .isin(cutNibbles.split("").toSeq: _*).cast("long")
    toks.withColumn("pos", coalesce(sum(cut).over(w), lit(0L)).cast("int"))
      .groupBy(col(idCol), col("pos"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("tpos"), col("tok")))),
        x => x.getField("tok")), " ").as("chunk"))
      .withColumn("_h", md5(col("chunk")))
      .withColumn("_enc", packEnc(idCol))
  }

  /** [[chunkDedup]] with content-defined boundaries ([[cdcChunkFrame]])
    * — the shift-robust span-dedup form.
    *
    * `minRemoveTokens` is the short-segment guard: CDC segments are
    * VARIABLE length (geometric, mean 16/|nibbles|), so without a floor
    * a 1-2-token segment that recurs anywhere ("of the", a lone
    * stopword between two cut tokens) is removed even though it sits in
    * no ≥L-token duplicated span — measured against
    * [[exactSpanCover]] on the sf fixture, 62% of the default chunker's
    * removed tokens are such sub-span fragments (graft.SpanPrecision).
    * With the guard at 4, over-removal drops to 0.4% at a recall cost
    * of 0.92 → 0.77. Default 1 keeps the historical behavior (and the
    * oracle-pinned gate semantics). */
  def chunkDedupCDC(df: DataFrame, idCol: String, textCol: String,
      cutNibbles: String = "01", minRemoveTokens: Int = 1): DataFrame =
    // lazy and uncached for the same reasons as [[chunkDedup]]
    dedupChunkFrame(cdcChunkFrame(df, idCol, textCol, cutNibbles), idCol,
      minRemoveTokens)

  /** Per-doc stats + surviving-chunk reassembly over a flagged chunk
    * frame (`_kept`, `_cross` set by the caller's keep policy). */
  private[ops] def perDocRebuild(flagged: DataFrame, idCol: String): DataFrame =
    flagged.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_kept"), 0L).otherwise(1L)).as("dup_chunks"),
        sum(when(col("_cross"), 1L).otherwise(0L)).as("cross_dup_chunks"),
        array_join(transform(
          array_sort(collect_list(when(col("_kept"),
            struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("kept_text"))
      .withColumn("dup_frac",
        col("dup_chunks").cast("double") / col("n_chunks"))

  /** INCREMENTAL span dedup: flag a new batch's chunks against a
    * persisted corpus chunk-digest set (`corpusHashes`: one `_h`
    * column) plus the batch's own first occurrences — the admission
    * form of [[chunkDedup]] for a recurring crawl. A chunk is a dup if
    * the corpus has ever seen it OR an earlier (id, pos) in THIS batch
    * has it; `_cross` counts corpus hits and batch hits from other
    * docs. Returns the flagged chunk frame (callers aggregate with
    * [[perDocRebuild]] and derive the novel digests to append).
    *
    * Scale shape: batch-first keepers are the same map-side-combined
    * hash agg as [[chunkDedup]]; the corpus probe is a left-semi-style
    * join on the digest — the corpus side is a single narrow column
    * (pruned to `_h` at the scan), it is never rewritten, and
    * corpus×corpus pairs never form. Per-batch cost is
    * O(batch chunks + corpus digest scan); at extreme store sizes the
    * digest scan prunes further by bucketing the store on the digest
    * and reading only buckets the batch touches. */
  def chunkFlagsAgainst(chunks: DataFrame, corpusHashes: DataFrame,
      idCol: String): DataFrame = {
    val keepers = chunks.groupBy("_h").agg(min(col("_enc")).as("_bfirst"))
    val hits = corpusHashes.select(col("_h")).distinct()
      .withColumn("_in_corpus", lit(true))
    val docBase = col("_enc") - col("pos")
    chunks.join(keepers, "_h")
      .join(hits, Seq("_h"), "left")
      .withColumn("_hit", coalesce(col("_in_corpus"), lit(false)))
      .withColumn("_kept", !col("_hit") && col("_enc") === col("_bfirst"))
      .withColumn("_cross", col("_hit") ||
        col("_bfirst") < docBase || col("_bfirst") >= docBase + (1L << chunkPosBits))
  }

  /** EXACT sub-document substring dedup at token granularity — the
    * reference point [[chunkDedup]] and [[chunkDedupCDC]] approximate
    * (suffix-array dedup à la "Deduplicating Training Data Makes
    * Language Models Better", restated as a dataflow): a token is
    * DUPLICATED iff it sits inside some ≥ `minTokens`-token window
    * whose content appeared earlier in corpus order. Every such token
    * is removed; the first occurrence survives. Unlike the chunkers
    * there is NO boundary quantization — a shared passage is covered
    * exactly, wherever it starts.
    *
    * Algebra: slide an L-token window at STRIDE 1 (one gram per token
    * position, built map-only from the token array — the chunkers'
    * stride-L loop with the stride turned down), take the first
    * occurrence per gram content (the same packed-long min HashAggregate
    * as [[chunkDedup]] — map-side combined, hot boilerplate grams
    * collapse before the exchange), and mark every non-first gram
    * occurrence as covering positions [pos, pos+L). Token-level
    * coverage then resolves per document with ONE keyed window: union
    * the token events with the dup-gram start events, order by
    * position, and carry the running max start — a token is covered iff
    * the latest start within L positions reaches it. No interval
    * explosion, no L× fan-out on the cover side.
    *
    * Cost vs the chunkers: L× the gram rows (stride 1 vs stride L) and
    * one per-doc window — the known price of exactness; fixed/CDC
    * chunking are the cheap approximations and
    * `graft.SpanPrecision` measures their recall/over-removal against
    * this operator.
    *
    * Output per doc: `n_toks`, `dup_cover` (tokens covered), `dup_frac`,
    * `kept_md5` (md5 of the surviving tokens space-joined in order —
    * value-checks the rebuild). All hashing is md5 so a SQL oracle
    * replays the identical cover. */
  def exactSpanCover(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 8): DataFrame =
    exactTokenCover(df, idCol, textCol, minTokens)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(col("_covered").cast("long")).as("dup_cover"),
        md5(array_join(transform(
          array_sort(collect_list(when(!col("_covered"),
            struct(col("_p"), col("tok"))))),
          x => x.getField("tok")), " ")).as("kept_md5"))
      .withColumn("dup_frac",
        col("dup_cover").cast("double") / col("n_toks"))

  /** The per-token form [[exactSpanCover]] aggregates: one row per
    * (doc, token position) with `_covered` = the token sits inside a
    * ≥L-token window seen earlier in corpus order. `graft.SpanPrecision`
    * reads this as the ground-truth removal set when scoring the
    * chunkers' recall/over-removal. */
  private[graft] def exactTokenCover(df: DataFrame, idCol: String,
      textCol: String, minTokens: Int): DataFrame = {
    require(minTokens >= 1, s"minTokens must be positive, got $minTokens")
    val L = minTokens
    // one gram per position, map-only off the let-bound token array
    // (the documented re-tokenization trap applies at stride 1 with
    // full force: an inlined tokens() would re-split once per gram)
    val gramArr = element_at(transform(array(TextAnalysis.tokens(col(textCol))),
      t => when(size(t) >= L,
        transform(sequence(lit(0), size(t) - L),
          i => md5(concat_ws(" ", slice(t, i + 1, lit(L))))))
        .otherwise(array().cast("array<string>"))), 1)
    val grams = df.select(col(idCol), posexplode(gramArr).as(Seq("pos", "_h")))
      .withColumn("_enc", packEnc(idCol))
    val keepers = grams.groupBy("_h").agg(min(col("_enc")).as("_first"))
    val dupStarts = grams.join(keepers, "_h")
      .filter(col("_enc") =!= col("_first"))
      .select(col(idCol), col("pos").as("_p"), lit(0).as("_istok"),
        lit(null).cast("string").as("tok"), col("pos").as("_start"))
    val tokEvents = df
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("_p", "tok")))
      .select(col(idCol), col("_p"), lit(1).as("_istok"), col("tok"),
        lit(null).cast("int").as("_start"))
    // per-doc running max of dup-window starts: start events sort before
    // the token at the same position, so a window beginning AT a token
    // covers it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("_p", "_istok")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tokEvents.unionByName(dupStarts)
      .withColumn("_runstart", max(col("_start")).over(w))
      .filter(col("_istok") === 1)
      .withColumn("_covered",
        col("_runstart").isNotNull && col("_runstart") + L > col("_p"))
      .select(col(idCol), col("_p"), col("tok"), col("_covered"))
  }

  /** Token positions the FIXED chunker removes: every token of every
    * non-first-occurrence chunk. (id, _p) rows — the comparison frame
    * `graft.SpanPrecision` scores against [[exactTokenCover]]. */
  private[graft] def chunkTokenRemoved(df: DataFrame, idCol: String,
      textCol: String, chunkTokens: Int): DataFrame = {
    val chunks = chunkFrame(df, idCol, textCol, chunkTokens)
    val keepers = chunks.groupBy("_h").agg(min(col("_enc")).as("_first"))
    chunks.join(keepers, "_h")
      .filter(col("_enc") =!= col("_first"))
      .select(col(idCol), col("pos"),
        posexplode(split(col("chunk"), " ")).as(Seq("_i", "_t")))
      .select(col(idCol),
        (col("pos") * chunkTokens + col("_i")).cast("long").as("_p"))
  }

  /** Token positions the CDC chunker removes — segment token offsets
    * derived from a running sum of segment sizes in segment order.
    * `minRemoveTokens` > 1 applies the short-segment guard of
    * [[chunkDedupCDC]]'s `minRemoveTokens` knob: dup segments shorter
    * than the bound are kept. */
  private[graft] def cdcTokenRemoved(df: DataFrame, idCol: String,
      textCol: String, cutNibbles: String,
      minRemoveTokens: Int = 1): DataFrame = {
    val chunks = cdcChunkFrame(df, idCol, textCol, cutNibbles)
      .withColumn("_sz", size(split(col("chunk"), " ")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withStart = chunks
      .withColumn("_startoff", coalesce(sum(col("_sz")).over(w), lit(0L)))
    val keepers = withStart.groupBy("_h").agg(min(col("_enc")).as("_first"))
    withStart.join(keepers, "_h")
      .filter(col("_enc") =!= col("_first") &&
        col("_sz") >= minRemoveTokens)
      .select(col(idCol), col("_startoff"),
        posexplode(split(col("chunk"), " ")).as(Seq("_i", "_t")))
      .select(col(idCol), (col("_startoff") + col("_i")).cast("long").as("_p"))
  }

  /** Group-level MinHash union sketches + pairwise estimated Jaccard —
    * "how much does source A's corpus overlap source B's?" without ever
    * forming document pairs. The union-set sketch needs no per-document
    * signature at all: min over a union is the min of mins, so each
    * group's k-slot sketch is k `min` aggregations over its shingle
    * digests — ONE map-side-combinable pass over the exploded shingles,
    * carrying 4-char slices, not shingle sets. Pairwise estimated
    * Jaccard is then the fraction of agreeing slots between two group
    * sketches (the standard MinHash estimator, here over the md5-sliced
    * portable family, so an external engine replays it exactly).
    *
    * Output: (grp_a, grp_b, matches, est_jaccard) for every unordered
    * group pair. The pair join is groups × groups — group-level
    * analytics (sources, crawls, snapshots number in the thousands, and
    * each group is ONE row of k fixed-width slices), bounded by
    * [[requireBounded]] so a mis-grouped call fails fast instead of
    * going quadratic over documents. */
  def groupSketchSim(df: DataFrame, groupCol: String, textCol: String,
      perms: Int = 8, maxGroups: Int = 10000): DataFrame = {
    require(perms * 4 <= 32, s"sliced md5 family supports at most 8 perms (got $perms)")
    // token array let-bound through a 1-element transform lambda — an
    // inlined tokens() would re-run the regex split once per element_at
    // of the shingle transform, O(len²) splits per doc (measured 14.5 s
    // → 0.9 s at sf0.1 for this op)
    val digests = df
      .select(col(groupCol).as("grp"),
        explode(element_at(transform(array(TextAnalysis.tokens(col(textCol))),
          t => when(size(t) >= 3, shingles(t)).otherwise(array())), 1)).as("sh"))
      .select(col("grp"), md5(col("sh")).as("h"))
    val slots = (0 until perms).map(i => min(col("h").substr(i * 4 + 1, 4)).as(s"m$i"))
    // the sketch is tiny (one row of fixed-width slices per group) but
    // its upstream is the full digest pass: cache it so the bound check
    // and BOTH pair-join branches read one materialization
    val sk = requireBounded(
      digests.groupBy("grp").agg(slots.head, slots.tail: _*).cache(),
      maxGroups, "groupSketchSim pair join")
    val a = sk.select(col("grp").as("grp_a") +:
      (0 until perms).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sk.select(col("grp").as("grp_b") +:
      (0 until perms).map(i => col(s"m$i").as(s"b$i")): _*)
    a.join(b, col("grp_a") < col("grp_b"))
      .withColumn("matches", (0 until perms)
        .map(i => (col(s"a$i") === col(s"b$i")).cast("long")).reduce(_ + _))
      .select(col("grp_a"), col("grp_b"), col("matches"),
        (col("matches").cast("double") / perms).as("est_jaccard"))
  }
}
