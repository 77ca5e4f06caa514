package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its forking calls done through
  * `java.nio`. Without the native Hadoop library, stock
  * `RawLocalFileSystem` starts a `chmod` process on every create and
  * mkdirs and a `readlink` on every `getFileLinkStatus`, which
  * `FileContext.rename` calls twice. Every streaming epoch commit (offset
  * and commit logs, state-store deltas, their checksum files) and every
  * parquet part pays that. Results equal the stock class's, with one
  * exception: stock `getFileLinkStatus` passes `Path.toString` to
  * `readlink`, so on a scheme-qualified path (`file:/...`) it never sees a
  * symlink and reports the link's target; this class reads the link.
  *
  * `src/main/resources/core-site.xml` binds [[LocalFileSystem]] and
  * [[LocalFs]] to `file:` for every Hadoop `Configuration` on this
  * classpath. A cluster's own `core-site.xml` that comes first on the
  * classpath (spark-submit puts `HADOOP_CONF_DIR` there) shadows it. */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  /** chmod(2) through the `unix` attribute view: all twelve mode bits,
    * sticky bit included, following symlinks as `chmod` does. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0xfff))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Stock `getFileLinkStatus` before it qualifies the target: a file or
    * directory is its `getFileStatus`; a symlink is a non-directory with
    * its target's length, times, mode and owners, and a dangling one is
    * all zeros, the default permission and no owners. A missing path
    * throws `getFileStatus`'s `FileNotFoundException`. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val st = getFileStatus(f)
        // what stock reads with `ls -ld` on the resolved path
        val attrs = Files.readAttributes(file, classOf[PosixFileAttributes])
        val mode = FsPermission.valueOf("-" + PosixFilePermissions.toString(attrs.permissions))
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, mode, attrs.owner.getName,
          attrs.group.getName, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

/** `fs.file.impl`: the checksummed `file:` `FileSystem` (`.crc` sidecar
  * files, as stock `LocalFileSystem`) over [[RawLocalFileSystem]].
  * `FileSystem.getLocal` casts to `LocalFileSystem`, hence the subclass. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `file:`
  * `AbstractFileSystem` behind `FileContext`, which Spark's streaming
  * checkpoint manager uses. Stock `LocalFs` hard-codes Hadoop's raw
  * class, so this one rebuilds it over [[RawLocalFileSystem]]. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(uri, conf))

/** Stock `RawLocalFs` over [[RawLocalFileSystem]]. */
private class RawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
