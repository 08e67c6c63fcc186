package graft.streaming

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without child processes. Without `libhadoop`,
  * `RawLocalFileSystem` forks `chmod` for every `setPermission` (so for
  * every file create and mkdir) and `readlink` for every `getFileLinkStatus`
  * (every `FileContext.rename`, so every checkpoint log commit). These
  * classes do both through `java.nio`, and keep Hadoop's own path where NIO
  * cannot express it: sticky, setuid and setgid bits, and real symlinks.
  * Statuses stay Hadoop's: they fork `ls -ld` only if a caller reads the
  * permission or owner, and nothing on the commit path does.
  */
object LocalFs {
  /** The Hadoop keys that route the `file` scheme here: the FileSystem API
    * (Parquet part files) and the FileContext API (the streaming offset,
    * commit and `_spark_metadata` logs).
    */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Route `spark`'s `file` scheme here for queries started after this
    * call. The JVM has usually cached Hadoop's own `file` FileSystem by
    * then, and that cache ignores `fs.file.impl`, so the session bypasses it.
    */
  def install(spark: SparkSession): Unit =
    (hadoopConf :+ ("fs.file.impl.disable.cache" -> "true"))
      .foreach { case (k, v) => spark.conf.set(k, v) }
}

/** `RawLocalFileSystem` with NIO permission writes and symlink probes. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  // `permission` arrives with the umask applied. Sticky, setuid and setgid
  // bits stay with Hadoop's chmod(1): NIO cannot set them, and chmod keeps
  // a directory's setuid/setgid bits where NIO would clear them.
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit ||
        (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, PosixFilePermission.values
      .filter(b => (permission.toShort & (0x100 >> b.ordinal)) != 0).toSet.asJava)
  }

  // Hadoop probes `new File(f.toString)` with readlink; so does this. A
  // non-symlink gets Hadoop's status, whose FileNotFoundException covers
  // every path `File.exists` denies (missing, under a file, unreadable).
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over NIO. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `local.LocalFs` over NIO. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `local.RawLocalFs`, whose constructors are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
