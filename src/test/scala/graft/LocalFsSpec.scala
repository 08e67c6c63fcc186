package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LocalFs, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** graft's NIO local filesystem against Hadoop's `RawLocalFileSystem` on
  * the same files: the same permissions, the same link statuses, the same
  * checkpoint bytes.
  */
class LocalFsSpec extends AnyFunSuite with TempDirs {

  // Hadoop's defaults for `file`, as a session not built by GraftSession has.
  lazy val spark: SparkSession = GraftSession.builder(1)
    .config("spark.hadoop.fs.file.impl", classOf[LocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val root = URI.create("file:///")
  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(root, new Configuration())
    fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  /** Every field a status reports, or the FileNotFoundException. */
  private def status(get: => FileStatus): Any =
    try {
      val s = get
      (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getReplication, s.getBlockSize,
        s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)
    } catch { case _: FileNotFoundException => "FileNotFoundException" }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("create and mkdirs leave the permissions Hadoop leaves") {
    val dir = tmpDir("localfs-perm")
    for (octal <- Seq("600", "644", "750")) {
      val Seq((hf, hd), (nf, nd)) = Seq("hadoop" -> hadoop, "nio" -> nio).map {
        case (name, fs) =>
          val f = dir.resolve(s"$name-$octal.bin")
          val d = dir.resolve(s"$name-$octal.dir")
          fs.create(new Path(f.toString), perm(octal), false, 4096, 1.toShort, 1L << 20, null)
            .close()
          assert(fs.mkdirs(new Path(d.toString), perm(octal)))
          (f, d)
      }
      for ((h, n) <- Seq(hf -> nf, hd -> nd)) {
        assert(mode(n) == mode(h), n)
        assert(mode(n) == perm(octal).toString, n)
      }
    }
  }

  test("sticky and setgid modes keep Hadoop's chmod path and its result") {
    val dir = tmpDir("localfs-special")
    val Seq(h, n) = Seq("hadoop", "nio").map(s => Files.createDirectory(dir.resolve(s)))
    Seq(h, n).foreach(Files.setAttribute(_, "unix:mode", Integer.valueOf(Integer.parseInt("2770", 8))))
    for (octal <- Seq("750", "1777")) {
      hadoop.setPermission(new Path(h.toString), perm(octal))
      nio.setPermission(new Path(n.toString), perm(octal))
      assert(Files.getAttribute(n, "unix:mode") == Files.getAttribute(h, "unix:mode"), octal)
    }
    assert(nio.getFileStatus(new Path(n.toString)).getPermission.getStickyBit)
  }

  test("getFileLinkStatus: file, directory, missing path, path under a file, symlinks") {
    val dir = tmpDir("localfs-link")
    val file = Files.write(dir.resolve("file"), "x".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    // ENOTDIR, not ENOENT: a sink's `_spark_metadata` probe under a file.
    val underFile = file.resolve("child")
    // Both path forms: Hadoop probes symlinks on the path's string, so a
    // qualified `file:` path never reads as a symlink, here or there.
    for (p <- Seq(file, sub, missing, underFile, link, dangling);
         q <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(status(nio.getFileLinkStatus(q)) == status(hadoop.getFileLinkStatus(q)), q)
      assert(status(nio.getFileStatus(q)) == status(hadoop.getFileStatus(q)), q)
    }
    for (p <- Seq(missing, underFile)) {
      assert(status(nio.getFileLinkStatus(new Path(p.toString))) == "FileNotFoundException", p)
      // exists/isFile/isDirectory answer false only on FileNotFoundException.
      val q = new Path(p.toUri)
      assert(!nio.exists(q) && !nio.isFile(q) && !nio.isDirectory(q), p)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("FileContext create then rename-overwrite: same bytes, same .crc sidecar") {
    val conf = new Configuration()
    LocalFs.hadoopConf.foreach { case (k, v) => conf.set(k, v) }
    val viaNio = FileContext.getFileContext(root, conf)
    val viaHadoop = FileContext.getFileContext(root, new Configuration())
    assert(viaNio.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(viaHadoop.getDefaultFileSystem.isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
    // The shape of a checkpoint log commit: write a temp file, rename over.
    def commit(fc: FileContext, dir: JPath): Unit =
      for ((payload, i) <- Seq("v1", "v2, longer than v1").zipWithIndex) {
        val tmp = new Path(dir.toUri.toString, s".0.$i.tmp")
        val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(payload.getBytes(UTF_8)) finally out.close()
        fc.rename(tmp, new Path(dir.toUri.toString, "0"), Options.Rename.OVERWRITE)
      }
    val (n, h) = (tmpDir("localfs-fc-nio"), tmpDir("localfs-fc-hadoop"))
    commit(viaNio, n)
    commit(viaHadoop, h)
    def files(d: JPath): Map[String, Seq[Byte]] = {
      val s = Files.list(d)
      try s.toArray.map(_.asInstanceOf[JPath])
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    assert(files(n).keySet == Set("0", ".0.crc"))
    assert(files(n) == files(h))
    assert(new String(files(n)("0").toArray, UTF_8) == "v2, longer than v1")
    assert(mode(n.resolve("0")) == mode(h.resolve("0")))
  }

  test("after LocalFs.install(spark), file:/// resolves to the NIO classes") {
    def hadoopConf = spark.sessionState.newHadoopConf()
    assert(AbstractFileSystem.get(root, hadoopConf).getClass ==
      classOf[org.apache.hadoop.fs.local.LocalFs])
    LocalFs.install(spark)
    assert(FileSystem.get(root, hadoopConf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hadoopConf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }
}
