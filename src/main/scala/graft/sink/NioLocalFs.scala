package graft.sink

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys

/** The `file:` `FileContext` filesystem of every local session
  * ([[graft.Sessions]], `fs.AbstractFileSystem.file.impl`): Hadoop's
  * `LocalFs` — a [[ChecksumFs]] over a raw filesystem — with
  * [[NioLocalFileSystem.Raw]] as that raw filesystem, so the streaming
  * checkpoint's atomic create+rename forks neither `chmod` nor
  * `readlink`. `.crc` sidecars, modes and the rename protocol are the
  * stock ones. Hadoop builds it by reflection from the
  * `(URI, Configuration)` constructor and, like `LocalFs`, serves
  * `file:///` whatever URI it is given. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {

  /** Hadoop's `RawLocalFs` over [[NioLocalFileSystem.Raw]]. */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioLocalFileSystem.Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    // local filesystems differ in their name rules: let the OS decide
    override def isValidName(src: String): Boolean = true
  }
}
