package graft.sink

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every local session ([[graft.Sessions]]):
  * Hadoop's checksummed [[LocalFileSystem]] over a raw filesystem that
  * sets permissions in-process. Without libhadoop, the stock
  * `RawLocalFileSystem.setPermission` forks `chmod` for every directory
  * and file it creates, `.crc` sidecars included — about three forks
  * per `bucket=` dir of a generation write. Hadoop applies the umask
  * before calling `setPermission`, so modes, files and layout are the
  * same as the stock filesystem's. Registered as `fs.file.impl`, it also
  * takes the place of the class the Spark jars' service files would
  * pick (Hive's `ProxyLocalFileSystem`, a path-translating wrapper over
  * the same stock filesystem). */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    /** The nine rwx bits through `java.nio`; sticky/setuid/setgid bits,
      * or a default filesystem with no POSIX view, take the stock path. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val bits = perm.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, perm)
      else try {
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values().zipWithIndex.foreach { case (pp, i) =>
          if ((bits & (1 << (8 - i))) != 0) set.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      } catch {
        case _: UnsupportedOperationException => super.setPermission(p, perm)
      }
    }
  }
}
