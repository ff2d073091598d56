package graft

import java.io.File
import graft.sink.{DeltaStore, ManifestStore}

/** The object-store porting seam, pinned with fault-injecting
  * [[ManifestStore]] impls: a lost conditional put must fail the batch
  * without corrupting the readable state (and replay must converge), and
  * a crash between publish and sweep must only orphan generation dirs
  * that the NEXT flip reclaims. */
class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  /** Simulates an object store whose conditional put loses its
    * condition (another writer's ETag won): publish MUST throw and leave
    * the previous manifest untouched. */
  private object LostCondition extends ManifestStore {
    def publish(target: String, manifestName: String, body: String): Unit =
      throw new IllegalStateException("conditional put lost: manifest ETag changed")
    def sweep(target: String, prefixes: Seq[String], keep: Set[String]): Unit =
      ManifestStore.LocalFs.sweep(target, prefixes, keep)
  }

  /** Simulates a crash between the manifest flip and the GC pass:
    * publish commits, sweep never runs. */
  private object CrashBeforeSweep extends ManifestStore {
    def publish(target: String, manifestName: String, body: String): Unit =
      ManifestStore.LocalFs.publish(target, manifestName, body)
    def sweep(target: String, prefixes: Seq[String], keep: Set[String]): Unit = ()
  }

  private def net(rows: (Long, String)*) =
    rows.toSeq.toDF("pk", "v").withColumn("net_op",
      org.apache.spark.sql.functions.lit("insert"))

  private def state(target: String): Map[Long, String] =
    DeltaStore.read(spark, target)
      .map(_.as[(Long, String)].collect().toMap).getOrElse(Map.empty)

  private def genDirs(target: String): Set[String] =
    Option(new File(target).list()).getOrElse(Array.empty)
      .filter(n => n.startsWith("gen-") || n.startsWith("snap-")).toSet

  test("a lost conditional put fails the batch, leaves the old state readable, and replay converges") {
    val target = java.nio.file.Files.createTempDirectory("graft-ms-lost")
      .resolve("store").toString
    DeltaStore.append(net(1L -> "a"), target, Seq("pk"), 1, 0L)
    assert(state(target) == Map(1L -> "a"))
    // batch 1's generation is fully written, but the flip's publish loses
    // its condition: the batch must FAIL (no silent overwrite — under the
    // single-writer contract a lost condition means split-brain)...
    intercept[IllegalStateException] {
      DeltaStore.append(net(2L -> "b"), target, Seq("pk"), 1, 1L, fs = LostCondition)
    }
    // ...and readers still see exactly the pre-batch state through the
    // old manifest (publish was all-or-nothing)
    assert(state(target) == Map(1L -> "a"))
    // the streaming retry replays the batch (same id) against the real
    // store and converges — the orphaned gen-1 dir from the failed
    // attempt is overwritten by its own replay, then flipped in (the
    // append keeps gen-0 in the chain)
    DeltaStore.append(net(2L -> "b"), target, Seq("pk"), 1, 1L)
    assert(state(target) == Map(1L -> "a", 2L -> "b"))
    assert(DeltaStore.readManifest(target) == Map(0 -> Seq("gen-0", "gen-1")))
    assert(genDirs(target) == Set("gen-0", "gen-1"))
  }

  test("a crash between publish and sweep orphans generations that the next flip reclaims") {
    val target = java.nio.file.Files.createTempDirectory("graft-ms-crash")
      .resolve("store").toString
    DeltaStore.append(net(1L -> "a"), target, Seq("pk"), 1, 0L)
    DeltaStore.append(net(2L -> "b"), target, Seq("pk"), 1, 1L)
    // the file-merge maintenance folds the chain into snap-1, so gen-0
    // and gen-1 are fully superseded — but the sweep "crashes" first
    DeltaStore.optimizeAppendOnly(spark, target, fs = CrashBeforeSweep)
    // the NEW state is visible (publish committed before the crash) and
    // the superseded generations are merely orphaned on disk
    assert(DeltaStore.readManifest(target) == Map(0 -> Seq("snap-1")))
    assert(state(target) == Map(1L -> "a", 2L -> "b"))
    assert(genDirs(target) == Set("gen-0", "gen-1", "snap-1"))
    // the next ordinary flip's sweep reclaims every unreferenced dir
    DeltaStore.append(net(3L -> "c"), target, Seq("pk"), 1, 2L)
    assert(state(target) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(genDirs(target) == Set("snap-1", "gen-2"))
  }

  test("DeltaStore flips through the same seam: crash-before-sweep orphans, next append reclaims") {
    val target = java.nio.file.Files.createTempDirectory("graft-ms-delta")
      .resolve("store").toString
    // maxChain = 1 forces a fold every append: each generation fully
    // supersedes the chain, so skipped sweeps visibly accumulate orphans
    DeltaStore.append(net(1L -> "a"), target, Seq("pk"), 1, 0L, maxChain = 1)
    DeltaStore.append(net(2L -> "b"), target, Seq("pk"), 1, 1L, maxChain = 1,
      fs = CrashBeforeSweep)
    assert(DeltaStore.read(spark, target).get.as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b"))
    assert(genDirs(target) == Set("gen-0", "gen-1"))
    DeltaStore.append(net(3L -> "c"), target, Seq("pk"), 1, 2L, maxChain = 1)
    assert(DeltaStore.read(spark, target).get.as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(genDirs(target) == Set("gen-2"))
  }
}
