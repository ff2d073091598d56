package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The two filesystem primitives the incremental store ([[DeltaStore]])
  * needs beyond plain file IO — the object-store porting surface.
  * Everything else in the store algebra
  * (generations, chains, the `#applied` replay header) is
  * filesystem-agnostic; ONLY these two operations change per backend:
  *
  *   - local/HDFS-class filesystems (this repo's [[ManifestStore.LocalFs]]):
  *     `publish` = tmp-write + atomic rename, `sweep` = recursive delete;
  *   - S3-class object stores (deploy-time impl): `publish` = conditional
  *     put (if-match on the manifest object's ETag), `sweep` = the
  *     store's batch-delete API over a prefix listing.
  *
  * Contract (pinned by ManifestStoreSpec with fault-injecting impls):
  *
  *   - `publish` is ALL-OR-NOTHING: after a throw, the previous manifest
  *     must still be fully readable — readers never observe a torn
  *     manifest. A conditional-put impl that loses its condition MUST
  *     throw rather than overwrite: under the single-writer contract a
  *     lost condition means split-brain (two appliers), and the correct
  *     outcome is a failed batch — the streaming retry re-reads the
  *     flipped state and converges through the store's generation-keyed
  *     replay guards.
  *   - `sweep` is BEST-EFFORT and runs strictly AFTER a successful
  *     publish. A crash (or failure) between publish and sweep only
  *     orphans unreferenced generation dirs; the next flip's sweep
  *     reclaims them, so GC needs no crash atomicity of its own.
  */
trait ManifestStore {

  /** Atomically make `body` the content of `target/manifestName`. */
  def publish(target: String, manifestName: String, body: String): Unit

  /** Delete every directory under `target` whose name starts with one of
    * `prefixes` and is not in `keep`. Best-effort: failures may leave
    * orphans but must not corrupt live generations. */
  def sweep(target: String, prefixes: Seq[String], keep: Set[String]): Unit
}

object ManifestStore {

  /** Local-filesystem (and HDFS-compatible, where rename is atomic)
    * implementation — the harness default. Its `publish` is also the
    * engine's one atomic small-file writer (store stamps, the
    * staged-slice marker). */
  object LocalFs extends ManifestStore {
    def publish(target: String, manifestName: String, body: String): Unit = {
      Files.createDirectories(Paths.get(target))
      val tmp = Paths.get(target, s"$manifestName.tmp-${java.util.UUID.randomUUID}")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(target, manifestName),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    def sweep(target: String, prefixes: Seq[String], keep: Set[String]): Unit =
      Option(new File(target).list()).getOrElse(Array.empty)
        .filter(n => prefixes.exists(n.startsWith) && !keep(n))
        .foreach { gen =>
          try deleteRecursively(new File(target, gen))
          catch { case _: Exception => () }
        }

    private def deleteRecursively(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
      f.delete()
    }
  }
}
