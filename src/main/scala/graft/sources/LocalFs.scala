package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` AbstractFileSystem — what Hadoop's FileContext, and so
  * every streaming checkpoint (offset and commit logs, state-store
  * deltas and snapshots, checksum companions), writes through.
  *
  * Same shape as Hadoop's own `org.apache.hadoop.fs.local.LocalFs`
  * (a [[ChecksumFs]] over a [[DelegateToFileSystem]]), but delegating to
  * [[LocalFs.NioLocalFileSystem]]. Without libhadoop, Hadoop's local file
  * system forks a `chmod` for every file or directory it creates and a
  * `readlink` for every link-status lookup, and FileContext's atomic
  * rename looks up the link status of source and destination, each with
  * its `.crc`. JFR counted 2,573 such launches for the checkpoints of one
  * 10-second benchmark run of the minhash dedup stream, most of each
  * micro-batch's commit time. This class does the same two things
  * in-process through java.nio; semantics, including rename with
  * OVERWRITE, are Hadoop's. Hadoop instantiates the class through its
  * `(URI, Configuration)` constructor; like Hadoop's, it ignores the URI. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawFs(conf))

object LocalFs {

  /** The Hadoop key FileContext resolves `file:` through. */
  val ConfKey = "fs.AbstractFileSystem.file.impl"
  private val HadoopDefault = "org.apache.hadoop.fs.local.LocalFs"

  /** Point `file:` FileContexts of `conf` at [[LocalFs]], unless the
    * deployment already chose an implementation other than Hadoop's
    * default. Idempotent. */
  def install(conf: Configuration): Unit =
    if (Option(conf.get(ConfKey)).forall(_ == HadoopDefault))
      conf.set(ConfKey, classOf[LocalFs].getName)

  /** Hadoop's `RawLocalFs` with the file system swapped. */
  private final class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new NioLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
        false) {
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** [[RawLocalFileSystem]] with the two forking calls done in-process.
    * Real symlinks, sticky bits and stores without POSIX attributes fall
    * through to Hadoop's own code. */
  private final class NioLocalFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // declaration order runs OWNER_READ (0400) … OTHERS_EXECUTE (0001)
        PosixFilePermission.values.foreach { pp =>
          if ((bits & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath))
        super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
