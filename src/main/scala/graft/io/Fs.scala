package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** The one place graft resolves a Hadoop [[FileSystem]]: every
  * driver-side file-system call in graft goes through [[get]], and
  * every path write of a frame goes through [[write]].
  *
  * Why it exists. Hadoop's `file:` FileSystem sets the mode of each
  * directory it makes and each file it creates (`setPermission`, the
  * umask applied to 0777/0666). With `libhadoop` loaded that is one
  * `chmod(2)` call; the Spark distribution ships no `libhadoop`, so
  * Hadoop falls back to forking a `chmod 0755 <dir>` / `chmod 0644
  * <file>` process per call (`org.apache.hadoop.util.Shell`). A parquet
  * write of one table makes a dozen dirs and files (committer
  * `_temporary` dirs, part files, `.crc` siblings, `_SUCCESS`), so the
  * daily batch forked ~150 processes and a DDL set-up 17, each costing
  * milliseconds where the system call costs microseconds. [[Local]] is
  * Hadoop's `LocalFileSystem` over a raw layer whose `setPermission`
  * makes the same `chmod(2)` call in-process through `java.nio`
  * (falling back to Hadoop's own code where the `unix` attribute view
  * is missing). Mode bits, umask, `.crc` checksums and `_SUCCESS`
  * markers are unchanged; other schemes resolve as before.
  *
  * Spark's writers get [[Local]] as per-write Hadoop options
  * ([[write]]): the options reach the committer's job set-up and
  * commit and every task's part files, and `disable.cache` makes the
  * lookup bypass Hadoop's FileSystem cache, which keys on scheme and
  * user only and would otherwise hand back the stock `file:`
  * FileSystem the session created first. The session's own conf is
  * never touched: applications that embed graft build their own
  * session, and a `spark.hadoop.fs.file.impl` set after the first
  * `file:` lookup is ignored by that cache anyway.
  *
  * Out of scope: streaming checkpoints go through Hadoop's
  * `FileContext` (`fs.AbstractFileSystem.file.impl`), not through a
  * FileSystem, and still fork.
  */
object Fs {

  /** Hadoop's `LocalFileSystem` (checksummed, `file:`) over [[RawLocal]]. */
  final class Local extends LocalFileSystem(new RawLocal)

  /** `RawLocalFileSystem` whose `setPermission` is an in-process
    * `chmod(2)`. Every directory and file the raw layer makes has its
    * mode set through here, so no write forks. */
  private final class RawLocal extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try java.nio.file.Files.setAttribute(pathToFile(p).toPath,
        "unix:mode", Integer.valueOf(permission.toShort.toInt))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
  }

  private val LocalWrite = Map(
    "fs.file.impl" -> classOf[Local].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The FileSystem of `path` under the session's Hadoop conf. */
  def get(spark: SparkSession, path: Path): FileSystem =
    get(path, spark.sparkContext.hadoopConfiguration)

  def get(spark: SparkSession, path: String): FileSystem =
    get(spark, new Path(path))

  /** The FileSystem of `path` under `conf`: a fresh [[Local]] for a
    * `file:` path (explicit or by the default FS), Hadoop's resolution
    * for every other scheme. */
  def get(path: Path, conf: Configuration): FileSystem = {
    val uri = path.toUri
    val scheme = Option(uri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") path.getFileSystem(conf)
    else {
      val fs = ReflectionUtils.newInstance(classOf[Local], conf)
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
  }

  /** `conf` with [[Local]] as its `file:` FileSystem, for a library
    * writer that resolves its own FileSystem from a conf. Mutates and
    * returns `conf`: pass a copy, never the session's. */
  def localWrites(conf: Configuration): Configuration = {
    LocalWrite.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** `df.write` whose `file:` writes go through [[Local]]: the Hadoop
    * options apply to this write only. */
  def write(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(LocalWrite)
}
