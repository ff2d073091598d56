package graft.sink

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FSLinkResolver, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every local session ([[graft.Sessions]]):
  * Hadoop's checksummed [[LocalFileSystem]] over a raw filesystem that
  * sets permissions and reads link status in-process. Without
  * libhadoop, the stock `RawLocalFileSystem` forks `chmod` from
  * `setPermission` for every directory and file it creates, `.crc`
  * sidecars included — a generation write forked for its dir, each
  * part file and each file's `.crc` — and `readlink` from
  * `getFileLinkStatus`, which
  * `FileContext.rename` calls four times per rename (source, target and
  * both `.crc` files). Hadoop applies the umask before calling
  * `setPermission`, so modes, files and layout are the same as the
  * stock filesystem's, and link status gives the stock answers.
  *
  * It serves both Hadoop filesystem APIs: registered as `fs.file.impl`
  * for the `FileSystem` API (Spark's file writers and readers), where it
  * also takes the place of the class the Spark jars' service files would
  * pick (Hive's `ProxyLocalFileSystem`, a path-translating wrapper over
  * the same stock filesystem), and through [[NioLocalFs]] for the
  * `FileContext` API (streaming checkpoints and the state store). */
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

    /** The stock link status (`deprecatedGetFileLinkStatusInternal`,
      * the path taken without libhadoop) with its `readlink` fork done
      * through `java.nio`. Like the stock method it reads the link of
      * `new File(p.toString)`, so a `file:` URI, which names no file
      * relative to the working directory, reads as no link, and any
      * failure reads as `""`. */
    override def getFileLinkStatus(p: Path): FileStatus = {
      val target =
        try {
          val f = new File(p.toString).toPath
          if (Files.isSymbolicLink(f)) Files.readSymbolicLink(f).toString else ""
        } catch { case NonFatal(_) => "" }
      val st =
        try {
          val fs = getFileStatus(p)
          if (target.isEmpty) fs
          else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
            fs.getModificationTime, fs.getAccessTime, fs.getPermission,
            fs.getOwner, fs.getGroup, new Path(target), p)
        } catch {
          // File.exists is false for a dangling link: report the link
          case _: FileNotFoundException if target.nonEmpty =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
              "", "", new Path(target), p)
        }
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }
  }
}
