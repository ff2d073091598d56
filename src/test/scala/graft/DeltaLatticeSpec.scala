package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sink.DeltaStore

/** Property check of the append / chain-fold / snapshot / OPTIMIZE /
  * time-travel lattice — the INTERLEAVING space where LSM-style stores
  * rot (each path has its own spec in DeltaStoreSpec; this drives random
  * compositions of all of them against a driver-side model).
  *
  * Invariants asserted per random program:
  *   - the current read equals the model state after the last append,
  *     regardless of which maintenance ops ran in between (maintenance
  *     is invisible to readers);
  *   - `readAt` is refuse-or-exact at EVERY probed batch id: below the
  *     recorded history floor it throws; at or above it the resolved
  *     state equals the model's replay snapshot bit-for-bit — never a
  *     partial state;
  *   - the floor only ever comes from a fold (floor ≤ last applied id,
  *     and -1 exactly when no fold/snapshot ran);
  *   - OPTIMIZE refuses a store whose live files hold update/delete
  *     net-ops and is a reader-invisible file merge otherwise (e.g.
  *     after a snapshot rewrote history as inserts).
  */
class DeltaLatticeSpec extends SparkSpec {
  import spark.implicits._

  private val pkCols = Seq("tbl", "pk")

  private sealed trait Op
  private case class Append(rows: Seq[(String, Long, String)]) extends Op
  private case object Snapshot extends Op
  private case object Optimize extends Op
  private case class AutoSnap(minLiveGens: Int) extends Op

  /** One compacted batch: at most one op per key; values derived from
    * (key, batch) so every batch writes distinguishable images. */
  private val keyPool: Seq[(String, Long)] =
    for (t <- Seq("a", "b"); pk <- 0L until 6L) yield (t, pk)

  private val appendGen: Gen[Append] = for {
    n <- Gen.choose(1, 6)
    keys <- Gen.pick(n, keyPool)
    ops <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.const("insert"), 3 -> Gen.const("update"), 2 -> Gen.const("delete")))
  } yield Append(keys.toSeq.zip(ops).map { case ((t, pk), op) => (t, pk, op) })

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> appendGen,
    1 -> Gen.const(Snapshot),
    1 -> Gen.const(Optimize),
    1 -> Gen.choose(2, 4).map(AutoSnap))

  private case class Program(ops: List[Op], nBuckets: Int, maxChain: Int)

  private val programGen: Gen[Program] = for {
    // start with an append so probes always have at least one batch
    head <- appendGen
    tail <- Gen.listOfN(5, opGen)
    nBuckets <- Gen.oneOf(1, 2, 4)
    maxChain <- Gen.oneOf(1, 2, 8) // 1 folds on every chain touch
  } yield Program(head :: tail, nBuckets, maxChain)

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree); f.delete(); ()
  }

  private def stateOf(df: org.apache.spark.sql.DataFrame): Map[(String, Long), (Long, Int)] =
    df.select("tbl", "pk", "r_id", "r_k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3))).toMap

  /** Resolved state normalized to a Map: an all-tombstoned store whose
    * manifest folded to EMPTY (read = None) and a store resolving to
    * zero rows are the same logical state. */
  private def curState(target: String): Map[(String, Long), (Long, Int)] =
    DeltaStore.read(spark, target).map(stateOf).getOrElse(Map.empty)

  test("random interleavings: refuse-or-exact time travel, invisible maintenance") {
    // small shuffles: every store op here moves a handful of rows, and
    // the 200-program budget is dominated by fixed per-job overhead
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val prop = Prop.forAll(programGen) { prog =>
        val target = Files.createTempDirectory("graft-lattice").toString + "/state"
        val model = scala.collection.mutable.Map[(String, Long), (Long, Int)]()
        val snaps = scala.collection.mutable.ArrayBuffer[Map[(String, Long), (Long, Int)]]()
        prog.ops.foreach {
          case Append(rows) =>
            val b = snaps.length.toLong
            rows.foreach { case (t, pk, op) =>
              if (op == "delete") model.remove((t, pk))
              else model((t, pk)) = (pk * 100 + b, b.toInt)
            }
            val net = rows.map { case (t, pk, op) =>
              (t, pk, op, pk * 100 + b, b.toInt, 0.0)
            }.toDF("tbl", "pk", "net_op", "r_id", "r_k", "r_v")
            DeltaStore.append(net, target, pkCols, prog.nBuckets,
              batchId = b, maxChain = prog.maxChain)
            snaps += model.toMap
          case Snapshot if snaps.nonEmpty =>
            val before = curState(target)
            DeltaStore.snapshot(spark, target, prog.nBuckets)
            assert(curState(target) === before,
              "snapshot changed the resolved state")
          case Optimize if snaps.nonEmpty =>
            // refuse iff the LIVE files still carry update/delete rows
            // (raw file scan — readAppendOnly would hide tombstones) OR
            // a pk with multiple live versions (re-inserted keys are
            // version-ordered by generation; a verbatim merge would
            // collapse them). A snapshot rewrites history as unique
            // inserts, after which the merge is safe — expectation
            // derived from the data, exactly like the guard itself.
            // the raw live rows: every live generation dir, keeping a row
            // of bucket b from generation g only when g is in b's chain
            // (a generation still live for some buckets can hold rows of
            // others that a later fold superseded)
            val chains = DeltaStore.readManifest(target)
            val liveLww = chains.nonEmpty && {
              val members = chains.toSeq.flatMap { case (b, gens) => gens.map(g => s"$g:$b") }
              val raw = spark.read.option("mergeSchema", "true")
                .parquet(chains.values.flatten.toSeq.distinct.map(g => s"$target/$g"): _*)
                .filter(concat(regexp_extract(input_file_name(), "/((?:gen|snap)-\\d+)/[^/]+$", 1),
                  lit(":"), col("bucket")).isin(members: _*))
              (raw.columns.contains("net_op") &&
                raw.filter(col("net_op").isNotNull && col("net_op") =!= "insert")
                  .head(1).nonEmpty) ||
                raw.groupBy("tbl", "pk").count()
                  .filter(col("count") > 1).head(1).nonEmpty
            }
            if (liveLww)
              intercept[IllegalArgumentException] {
                DeltaStore.optimizeAppendOnly(spark, target)
              }
            else {
              val before = curState(target)
              DeltaStore.optimizeAppendOnly(spark, target)
              assert(curState(target) === before,
                "optimize changed the resolved state")
            }
          case AutoSnap(min) if snaps.nonEmpty =>
            val before = curState(target)
            DeltaStore.maybeSnapshot(spark, target, prog.nBuckets, min)
            assert(curState(target) === before,
              "maybeSnapshot changed the resolved state")
          case _ => () // maintenance before any append: nothing to do
        }
        val n = snaps.length
        val floor = DeltaStore.readHistoryFloor(target)
        assert(floor < n, s"floor $floor beyond last applied ${n - 1}")
        // probe the boundary (floor-1 refuses, floor exact), the ends,
        // and one interior point — every case lands a different floor,
        // so across 200 programs the whole lattice is walked
        val probes = Seq(floor - 1, floor, 0L, n - 1L, n / 2L)
          .filter(i => i >= 0 && i < n).distinct
        probes.foreach { i =>
          if (i < floor)
            intercept[IllegalArgumentException] {
              DeltaStore.readAt(spark, target, i)
            }
          else {
            val got = DeltaStore.readAt(spark, target, i).map(stateOf)
              .getOrElse(Map.empty)
            assert(got === snaps(i.toInt),
              s"readAt($i) diverges from the model replay (floor $floor)")
          }
        }
        // current read == last model state; floor -1 means genuinely no fold
        assert(curState(target) === snaps.last)
        // a floor needs a fold to have been possible: a tight chain cap,
        // or some maintenance op in the program
        if (floor >= 0)
          assert(prog.maxChain <= 2 || prog.ops.exists {
            case Append(_) => false; case _ => true
          }, "floor rose without any possible fold trigger")
        rmTree(new java.io.File(target).getParentFile)
        true
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
      assert(res.passed, res.status.toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
