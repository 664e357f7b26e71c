package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem,
  FileAlreadyExistsException, FileStatus, FsConstants, FsServerDefaults,
  Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` [[org.apache.hadoop.fs.AbstractFileSystem]] of the
  * specs' session (`fs.AbstractFileSystem.file.impl`, set in
  * [[SparkSpec]]): Hadoop's `LocalFs` without its process forks.
  * Streaming checkpoints, offset and commit logs and state-store files
  * go through Hadoop's `FileContext`, which resolves this class, not a
  * [[org.apache.hadoop.fs.FileSystem]]. Stock `LocalFs` forks a
  * `readlink` per link-status lookup (four per checkpoint rename) and a
  * `chmod` per directory and file it makes, because the Spark
  * distribution has no `libhadoop`.
  *
  * Same layering as `LocalFs`: `.crc` checksums ([[ChecksumFs]]) over
  * a raw layer that delegates to a local FileSystem. The raw
  * FileSystem is [[graft.io.Fs.Local]]'s, so mode bits are set
  * in-process. Link status reads the link target through `java.nio`
  * instead of forking `readlink`, and a rename reads it only through
  * that path. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

/** The raw layer of [[InProcessLocalFs]]: Hadoop's `RawLocalFs` over
  * [[graft.io.Fs.Local]]'s raw FileSystem, with a fork-free
  * [[getFileLinkStatus]]. */
class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri,
      new graft.io.Fs.Local().getRawFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true

  /** `FileSystem.rename(src, dst, NONE)` without its own link-status
    * lookups, which fork: `AbstractFileSystem.renameInternal`, the
    * one caller, has already checked both ends through
    * [[getFileLinkStatus]] (and cleared `dst` for an overwrite). */
  override def renameInternal(src: Path, dst: Path): Unit = {
    if (fsImpl.exists(dst))
      throw new FileAlreadyExistsException(
        s"rename destination $dst already exists.")
    if (!fsImpl.rename(src, dst))
      throw new IOException(s"rename from $src to $dst failed.")
  }

  /** `RawLocalFileSystem.getFileLinkStatus` with the `readlink`
    * process replaced by `Files.readSymbolicLink`: a regular file or
    * directory gets its plain status, a link gets the status of its
    * target with the link recorded, and a dangling link a zero-length
    * status. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val local = new File(f.toUri.getPath).toPath
    val target =
      if (Files.isSymbolicLink(local)) Files.readSymbolicLink(local).toString
      else ""
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
    } catch {
      case e: FileNotFoundException =>
        if (target.isEmpty) throw e
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
          "", "", new Path(target), f)
    }
  }
}
