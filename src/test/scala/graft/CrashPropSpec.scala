package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sink.DeltaStore

/** Randomized CRASH-POINT property check for the store write paths —
  * the composition DeltaLatticeSpec (random maintenance interleavings)
  * and RestartSpec (specific pinned crash points) each cover half of:
  * random batch sequences × random kill points × replay, asserting
  * converge-or-refuse after every delivery.
  *
  * Kill points per batch (all expressible through the two-phase public
  * API — the same seams a real crash exercises):
  *   - none:           the normal append
  *   - beforeFlip:     generation fully written, MANIFEST never flipped
  *                     (writeGen result discarded), then replay
  *   - beforeFlipSnap: same, but a SNAPSHOT maintenance run lands while
  *                     the orphaned unflipped generation exists (its GC
  *                     sweep may remove the orphan), then replay
  *   - torn:           a torn generation dir (junk files, no _SUCCESS)
  *                     left at the batch's own path, then replay
  *   - redeliver:      the batch applies fully, then is delivered AGAIN
  *                     (at-least-once) — must be a no-op
  *
  * Invariants after every delivered batch, whatever the kill:
  *   - the resolved read equals the driver-side LWW model;
  *   - every generation the manifest references completed its write
  *     (`_SUCCESS` present) — no torn state is ever visible;
  *   - `#applied` equals the batch id just applied (monotone, exact).
  */
class CrashPropSpec extends SparkSpec {
  import spark.implicits._

  private val pkCols = Seq("tbl", "pk")
  private val keyPool: Seq[(String, Long)] =
    for (t <- Seq("a", "b"); pk <- 0L until 5L) yield (t, pk)

  private sealed trait Kill
  private case object NoKill extends Kill
  private case object BeforeFlip extends Kill
  private case object BeforeFlipSnap extends Kill
  private case object Torn extends Kill
  private case object Redeliver extends Kill

  private case class Batch(rows: Seq[(String, Long, String)], kill: Kill)
  private case class Program(batches: List[Batch], nBuckets: Int, maxChain: Int)

  private val batchGen: Gen[Batch] = for {
    n <- Gen.choose(1, 5)
    keys <- Gen.pick(n, keyPool)
    ops <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.const("insert"), 3 -> Gen.const("update"), 2 -> Gen.const("delete")))
    kill <- Gen.frequency(
      3 -> Gen.const(NoKill), 2 -> Gen.const(BeforeFlip),
      1 -> Gen.const(BeforeFlipSnap), 1 -> Gen.const(Torn),
      2 -> Gen.const(Redeliver))
  } yield Batch(keys.toSeq.zip(ops).map { case ((t, pk), op) => (t, pk, op) }, kill)

  private val programGen: Gen[Program] = for {
    bs <- Gen.choose(2, 5).flatMap(Gen.listOfN(_, batchGen))
    nBuckets <- Gen.oneOf(1, 2, 4)
    maxChain <- Gen.oneOf(1, 2, 8)
  } yield Program(bs, nBuckets, maxChain)

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree); f.delete(); ()
  }

  private def stateOf(target: String): Map[(String, Long), Long] =
    DeltaStore.read(spark, target)
      .map(_.select("tbl", "pk", "r_id").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap)
      .getOrElse(Map.empty)

  private def manifestComplete(target: String): Boolean =
    DeltaStore.readManifest(target).values.flatten.toSet.forall(g =>
      Files.exists(Paths.get(target, g, "_SUCCESS")))

  test("delta store: random batches x kill points x replay converge, 200 cases") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val prop = Prop.forAll(programGen) { prog =>
        val target = Files.createTempDirectory("graft-crash").toString + "/state"
        val model = scala.collection.mutable.Map[(String, Long), Long]()
        prog.batches.zipWithIndex.foreach { case (Batch(rows, kill), bi) =>
          val b = bi.toLong
          rows.foreach { case (t, pk, op) =>
            if (op == "delete") model.remove((t, pk))
            else model((t, pk)) = pk * 100 + b
          }
          val net = rows.map { case (t, pk, op) =>
            (t, pk, op, pk * 100 + b, bi, 0.0)
          }.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v")
          def deliver(): Unit = DeltaStore.append(net, target, pkCols,
            prog.nBuckets, b, prog.maxChain)
          val preCrash = stateOf(target)
          kill match {
            case NoKill => deliver()
            case BeforeFlip =>
              DeltaStore.writeGen(net, target, pkCols, prog.nBuckets, b,
                prog.maxChain) // result discarded — crash before flip
              // the unflipped generation must be invisible: readers see
              // the pre-batch state, manifest references only complete gens
              assert(stateOf(target) === preCrash, "unflipped gen leaked")
              assert(manifestComplete(target))
              deliver() // replay overwrites its own partial generation
            case BeforeFlipSnap =>
              DeltaStore.writeGen(net, target, pkCols, prog.nBuckets, b,
                prog.maxChain)
              // maintenance lands while the orphan exists (bi > 0 so the
              // store may or may not exist — snapshot only if readable)
              if (DeltaStore.read(spark, target).isDefined) {
                DeltaStore.snapshot(spark, target, prog.nBuckets)
                assert(stateOf(target) === preCrash,
                  "snapshot over an orphaned gen changed visible state")
              }
              deliver()
            case Torn =>
              // a half-written generation in both layouts: a flat part
              // file directly under the dir, and a `bucket=` dir
              val genDir = Paths.get(target, s"gen-$b")
              Files.createDirectories(genDir.resolve("bucket=0"))
              Files.write(genDir.resolve("part-00000-torn.parquet"),
                Array[Byte](1, 2, 3))
              Files.write(genDir.resolve("bucket=0").resolve("torn.parquet"),
                Array[Byte](1, 2, 3))
              assert(manifestComplete(target))
              deliver() // overwrite-mode write replaces the torn dir
            case Redeliver =>
              deliver()
              val applied = stateOf(target)
              deliver() // at-least-once redelivery of a flipped batch
              assert(stateOf(target) === applied, "redelivery not a no-op")
          }
          assert(stateOf(target) === model.toMap,
            s"batch $b (kill $kill) diverged from the model")
          assert(manifestComplete(target), s"torn gen visible after batch $b")
          assert(DeltaStore.readApplied(target) == b,
            s"#applied ${DeltaStore.readApplied(target)} != $b")
        }
        rmTree(new java.io.File(target).getParentFile)
        true
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
      assert(res.passed, res.status.toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("span store: random doc batches with redelivery grow the digest set exactly, 25 cases") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      // small doc pool with overlap: batches share sentences, so novel
      // counts depend on delivery order and replay must not re-admit
      val sentences = (0 until 6).map(s =>
        (0 until 8).map(i => s"s${s}w$i").mkString(" "))
      val docGen: Gen[(Long, String)] = for {
        id <- Gen.choose(0L, 500L)
        k <- Gen.choose(1, 3)
        parts <- Gen.pick(k, sentences)
      } yield (id, parts.mkString(" "))
      val progGen: Gen[List[(List[(Long, String)], Boolean)]] =
        Gen.choose(2, 4).flatMap(Gen.listOfN(_, for {
          docs <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, docGen))
          redeliver <- Gen.oneOf(true, false)
        } yield (docs.distinctBy(_._1), redeliver)))
      val prop = Prop.forAll(progGen) { prog =>
        val tmp = Files.createTempDirectory("graft-crash-s")
        val cfg = graft.ops.SpanStore.Config(s"$tmp/store", chunkTokens = 8)
        val seen = scala.collection.mutable.Set[String]()
        def md5hex(s: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        prog.zipWithIndex.foreach { case ((docs, redeliver), bi) =>
          val df = docs.toDF("doc_id", "text")
          // independent driver-side model of the chunker: 8-token
          // groups (short tail kept), md5 per chunk
          docs.foreach { case (_, text) =>
            text.trim.split(" +").grouped(8)
              .foreach(c => seen += md5hex(c.mkString(" ")))
          }
          graft.ops.SpanStore.admitOnly(df, cfg, bi.toLong)
          if (redeliver) // at-least-once: flipped batch re-presented
            graft.ops.SpanStore.admitOnly(df, cfg, bi.toLong)
          val stored = graft.ops.SpanStore.readHashes(spark, cfg.target)
            .map(_.as[String].collect().toSet).getOrElse(Set.empty)
          assert(stored === seen.toSet,
            s"batch $bi: store digests diverge from the model")
        }
        rmTree(tmp.toFile)
        true
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
      assert(res.passed, res.status.toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
