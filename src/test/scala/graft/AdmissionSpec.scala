package graft

import org.apache.spark.sql.functions._
import graft.ops.{Admission, Dedup}
import graft.ops.Admission.readStore

/** The admission store's packed banded form: candidate generation reads
  * pre-derived band structs from the SAME store row as the signature —
  * one store, one merge, one flip per batch. */
class AdmissionSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private val other = "completely different content about spark shuffles and parquet footers"
  private val third = "a third unrelated document concerning bucketed state stores"

  private def cfgIn(prefix: String): Admission.Config = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Admission.Config(target = dir.resolve("store").toString,
      checkpoint = dir.resolve("ckpt").toString)
  }

  private def storedIds(cfg: Admission.Config): Set[Long] =
    readStore(spark, cfg.target)
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)

  /** The store's packed band column, exploded. */
  private def bandRows(cfg: Admission.Config): Set[(Long, Int, String)] =
    readStore(spark, cfg.target)
      .map(_.select(col("doc_id"), explode(col("bands")).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key"))
        .as[(Long, Int, String)].collect().toSet)
      .getOrElse(Set.empty)

  /** What the packed column must always equal: the banded form of the
    * stored signatures, exactly. */
  private def wantBands(cfg: Admission.Config): Set[(Long, Int, String)] =
    Dedup.lshBands(readStore(spark, cfg.target).get,
      "sig", cfg.bands, cfg.rows, "doc_id")
      .as[(Long, Int, String)].collect().toSet

  test("admission persists packed bands and rejects cross-batch dups through them") {
    val cfg = cfgIn("graft-adm-bands")
    Admission.admitBatch(Seq((1L, base), (2L, other)).toDF("doc_id", "text"), cfg, 0L)
    assert(bandRows(cfg) == wantBands(cfg))
    assert(bandRows(cfg).map(_._1) == Set(1L, 2L))
    assert(bandRows(cfg).size == 2 * cfg.bands)
    // doc 3 duplicates ADMITTED doc 1: its candidate pair comes from the
    // stored band structs now; doc 4 is new and lands with its bands
    Admission.admitBatch(Seq((3L, base), (4L, third)).toDF("doc_id", "text"), cfg, 1L)
    assert(storedIds(cfg) == Set(1L, 2L, 4L))
    assert(bandRows(cfg) == wantBands(cfg))
    assert(bandRows(cfg).map(_._1) == Set(1L, 2L, 4L))
  }

  test("an empty (or all-filtered) first batch neither crashes nor creates a store") {
    val cfg = cfgIn("graft-adm-empty")
    // nothing admitted: every doc is under the <3-token signature guard
    Admission.admitBatch(Seq((1L, "too short")).toDF("doc_id", "text"), cfg, 0L)
    assert(readStore(spark, cfg.target).isEmpty)
    // a literally empty batch on the still-absent store is also a no-op
    Admission.admitBatch(
      spark.emptyDataset[(Long, String)].toDF("doc_id", "text"), cfg, 1L)
    assert(readStore(spark, cfg.target).isEmpty)
    // the stream then proceeds normally once real docs arrive
    Admission.admitBatch(Seq((2L, base)).toDF("doc_id", "text"), cfg, 2L)
    assert(storedIds(cfg) == Set(2L))
    assert(bandRows(cfg) == wantBands(cfg))
  }

  test("exact-clique contraction: identical-text floods admit one rep, decisions unchanged") {
    // the hot-band skew guard: m docs with an identical shingle set
    // would otherwise form C(m,2) within-batch candidate pairs; after
    // contraction only the min id is banded, the rest are rejected by
    // construction — and every admission decision must equal the
    // uncontracted edge policy's
    val cfg = cfgIn("graft-adm-clique")
    val flood = (10L to 60L).map(i => (i, base)) ++
      Seq((5L, other), (99L, base + " tail variation making it a near dup"))
    Admission.admitBatch(flood.toDF("doc_id", "text"), cfg, 0L)
    // min-id rep (10) survives the flood; 5 is unrelated; 99 is a
    // near-dup of the flood's rep and dies against it (id 99 > 10)
    assert(storedIds(cfg) == Set(5L, 10L))
    assert(bandRows(cfg) == wantBands(cfg))
    // a later batch still dedupes against the contracted store: another
    // copy of the flood text is rejected by the ONE stored rep
    Admission.admitBatch(Seq((200L, base), (201L, third)).toDF("doc_id", "text"),
      cfg, 1L)
    assert(storedIds(cfg) == Set(5L, 10L, 201L))
  }

  test("params are stamped before the first batch — a crashed merge still guards") {
    // same window as SpanStore's SPANPARAMS: stamping must not wait for
    // a successful merge, or a crash in between leaves a store a
    // restart under different params would silently mix band families
    // into. An all-filtered batch never merges — the stamp still lands.
    val cfg = cfgIn("graft-adm-prestamp")
    Admission.admitBatch(Seq((1L, "too short")).toDF("doc_id", "text"), cfg, 0L)
    assert(readStore(spark, cfg.target).isEmpty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(cfg.target, "LSHPARAMS")))
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatch(Seq((2L, base)).toDF("doc_id", "text"),
        cfg.copy(bands = 2, rows = 4), 1L)
    }
    assert(e.getMessage.contains("bands=4"))
  }

  test("config-driven streaming admission drains, then restarts as a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-adm-cfg")
    val cfg = s"""{
      "source": {"type": "documents_stream", "dir": "$sf", "slices": 3},
      "processors": [],
      "sink": {"type": "corpus_admit", "path": "${dir.resolve("store")}",
               "checkpoint": "${dir.resolve("ckpt")}", "portableHash": true}
    }"""
    graft.pipeline.Pipeline.runStream(spark, cfg)
    val store = readStore(spark, dir.resolve("store").toString).get
    val ids = store.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    // the store invariant holds through the config path too
    val acfg = Admission.Config(dir.resolve("store").toString,
      dir.resolve("ckpt").toString)
    assert(bandRows(acfg) == wantBands(acfg))
    // restart from the same checkpoint: no new batches, store unchanged
    graft.pipeline.Pipeline.runStream(spark, cfg)
    assert(readStore(spark, dir.resolve("store").toString).get
      .select("doc_id").as[Long].collect().toSet == ids)
  }

  test("a store refuses a batch whose LSH parameters mismatch its stamp") {
    val cfg = cfgIn("graft-adm-params")
    Admission.admitBatch(Seq((1L, base), (2L, other)).toDF("doc_id", "text"), cfg, 0L)
    // same layout, DIFFERENT hash family: every band key the new batch
    // derives would miss the stored ones — without the stamp this
    // silently admits near-duplicates; with it, the batch dies up front
    val flipped = cfg.copy(portableHash = true)
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatch(Seq((3L, base)).toDF("doc_id", "text"), flipped, 1L)
    }
    assert(e.getMessage.contains("md5-sliced"))
    assert(e.getMessage.contains("xxhash64"))
    // the store is untouched and the ORIGINAL config still works
    assert(storedIds(cfg) == Set(1L, 2L))
    Admission.admitBatch(Seq((4L, third)).toDF("doc_id", "text"), cfg, 1L)
    assert(storedIds(cfg) == Set(1L, 2L, 4L))
  }

  test("at-least-once redelivery converges under the single flip") {
    val cfg = cfgIn("graft-adm-replay")
    Admission.admitBatch(Seq((1L, base), (2L, other)).toDF("doc_id", "text"), cfg, 0L)
    Admission.admitBatch(Seq((3L, base), (4L, third)).toDF("doc_id", "text"), cfg, 1L)
    val (ids, bands) = (storedIds(cfg), bandRows(cfg))
    // crash fell between the flip and the checkpoint commit: the whole
    // batch replays; the generation-keyed merge detects its
    // already-flipped generation and the store converges unchanged.
    // Because signatures and bands travel in the SAME generation, there
    // is no cross-store window to converge — the invariant
    // store ≡ banded(store) holds at every flip boundary by construction
    Admission.admitBatch(Seq((3L, base), (4L, third)).toDF("doc_id", "text"), cfg, 1L)
    assert(storedIds(cfg) == ids)
    assert(bandRows(cfg) == bands)
  }
}
