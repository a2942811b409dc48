package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process launches. With no Hadoop
  * native library on the classpath, `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates and `readlink` for every link
  * status, which `FileContext` asks for on each rename (the streaming
  * offset and commit logs). This class does both in-process with
  * java.nio; everything else, checksums included, is Hadoop's.
  * `LocalSession` registers the two wrappers below for the `file:` scheme. */
class NioRawLocalFs extends RawLocalFileSystem {

  /** As Hadoop's `chmod`; java.nio cannot set the sticky bit, so a
    * permission carrying it still goes through Hadoop's shell path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission's order is the mode's bits, 0400 down to 0001
      val bits = PosixFilePermission.values
        .filter(b => (mode >> (8 - b.ordinal) & 1) == 1)
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
    }

  /** Hadoop's non-native link status with the link read in-process. As
    * there, the link is looked up at `f.toString`, so a scheme-qualified
    * path never reads as a link, and a link's status is its target's with
    * `isDirectory` false, or an empty one when the target is missing; the
    * target comes back qualified against this filesystem. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      val st =
        try {
          val s = getFileStatus(f)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
            s.getModificationTime, s.getAccessTime, s.getPermission,
            s.getOwner, s.getGroup, target, f)
        } catch {
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "",
              "", target, f)
        }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      st
    }
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[NioRawLocalFs]]. */
class NioLocalFs extends LocalFileSystem(new NioRawLocalFs)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` form,
  * as Hadoop's `local.LocalFs` (whose constructors are package-private).
  * Hadoop constructs it reflectively from `(URI, Configuration)`; like
  * Hadoop's, it serves `file:///` whatever the URI. */
class NioLocalAfs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalAfs.Raw(conf))

object NioLocalAfs {

  /** Hadoop's `local.RawLocalFs` over [[NioRawLocalFs]]. */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFs, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
