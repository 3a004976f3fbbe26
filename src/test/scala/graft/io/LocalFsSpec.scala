package graft.io

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.GraftSession
import graft.streaming.StreamReplay
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` filesystem ([[LocalFs]]) behaves like stock
  * Hadoop: the same permission bits, the same link statuses, the same
  * checksum verification; and every engine session resolves `file:` to
  * it unless the user named another implementation. */
class LocalFsSpec extends AnyFunSuite with graft.TempDirs {

  private val root = URI.create("file:///")

  private def stockConf = new Configuration()
  private def engineConf = { val c = new Configuration(); LocalFs.install(c); c }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Creates files and dirs under `dir` through both Hadoop APIs and
    * returns every resulting entry's relative name and mode bits. */
  private def createAll(dir: java.nio.file.Path, fs: FileSystem,
      fc: FileContext): Seq[(String, String)] = {
    def p(n: String) = new Path(dir.resolve(n).toString)
    fs.create(p("fs_default")).close()
    fs.create(p("fs_0640"), perm("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.mkdirs(p("fs_dir/nested"))
    fs.mkdirs(p("fs_dir_0750"), perm("750"))
    fc.create(p("fc_default"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.create(p("fc_0600"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(perm("600"))).close()
    fc.mkdir(p("fc_dir/nested"), FsPermission.getDirDefault, true)
    fc.create(p("fc_renamed_src"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(p("fc_renamed_src"), p("fc_renamed"), Options.Rename.OVERWRITE)
    Files.walk(dir).iterator().asScala.filter(_ != dir).toSeq
      .map(f => dir.relativize(f).toString -> mode(f)).sortBy(_._1)
  }

  test("files, dirs and .crc sidecars get the stock permission bits through FileSystem and FileContext") {
    val (stockDir, engineDir) =
      (Paths.get(tempDir("localfs_stock")), Paths.get(tempDir("localfs_engine")))
    val stockFs = new LocalFileSystem()
    stockFs.initialize(root, stockConf)
    val engineFs = new NioLocalFileSystem()
    engineFs.initialize(root, engineConf)
    val stockFc = FileContext.getFileContext(root, stockConf)
    val engineFc = FileContext.getFileContext(root, engineConf)
    assert(engineFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val stock = createAll(stockDir, stockFs, stockFc)
    val engine = createAll(engineDir, engineFs, engineFc)
    assert(stock.exists(_._1 == ".fs_0640.crc") && stock.exists(_._1 == ".fc_renamed.crc"), stock)
    assert(engine == stock)
  }

  test("getFileLinkStatus gives the stock result on a file, a dir, a symlink and a dangling symlink") {
    val dir = Paths.get(tempDir("localfs_links"))
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val stock = new RawLocalFileSystem()
    stock.initialize(root, stockConf)
    val engine = new NioRawLocalFileSystem()
    engine.initialize(root, engineConf)
    val stockFc = FileContext.getFileContext(root, stockConf)
    val engineFc = FileContext.getFileContext(root, engineConf)
    def fields(get: Path => org.apache.hadoop.fs.FileStatus)(p: Path) = Try(get(p)).map { s =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, Try(s.getSymlink).toOption,
        s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    }.toEither.left.map(_.getClass)
    for (f <- Seq(file, sub, link, dangling);
         p <- Seq(new Path(f.toString), new Path(f.toUri))) {
      assert(fields(engine.getFileLinkStatus)(p) == fields(stock.getFileLinkStatus)(p), p)
      assert(fields(engineFc.getFileLinkStatus)(p) == fields(stockFc.getFileLinkStatus)(p), p)
    }
    // the unqualified probe really sees the links
    assert(engine.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(engine.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("a GraftSession resolves file: to the engine classes, and a flipped checkpoint byte fails its checksum") {
    val spark = GraftSession(2)
    try {
      val conf = spark.sessionState.newHadoopConf()
      assert(FileSystem.get(root, conf).getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.get(root, spark.sparkContext.hadoopConfiguration).getClass ==
        classOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ==
        classOf[NioLocalFs])
      // one real checkpoint: a file source under AvailableNow
      val d = StreamReplay.dirs(spark, "graft_localfs_ckpt")
      val rows = spark.range(0, 100).select(col("id").as("event_id"))
      StreamReplay.stage(rows, s"${d.in}/part0.parquet")
      StreamReplay.runToEnd(spark,
        spark.readStream.schema(rows.schema).parquet(d.in)
          .writeStream.format("parquet").option("path", d.out)
          .option("checkpointLocation", d.ckpt))
      val log = Paths.get(d.ckpt, "offsets", "0")
      assert(Files.exists(Paths.get(d.ckpt, "offsets", ".0.crc")))
      val raf = new RandomAccessFile(log.toFile, "rw")
      try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 0x01) }
      finally raf.close()
      val logPath = new Path(log.toUri)
      def readAll(in: java.io.InputStream): Unit = try in.readAllBytes() finally in.close()
      // The FileSystem API verifies the sidecar on read. Spark creates
      // checkpoint logs through FileContext with checksums disabled, and
      // reading them back through FileContext, stock LocalFs does not
      // verify the sidecar; neither does ours.
      intercept[ChecksumException](readAll(FileSystem.get(root, conf).open(logPath)))
      def fcRead(c: Configuration) = Try(readAll(FileContext.getFileContext(root, c).open(logPath)))
        .toEither.left.map(_.getClass)
      assert(fcRead(conf) == fcRead(stockConf))
    } finally spark.stop()
  }

  test("a session with explicit spark.hadoop.fs.*file.impl keeps those values") {
    val stockFs = classOf[LocalFileSystem].getName
    val stockAfs = "org.apache.hadoop.fs.local.LocalFs"
    val spark = GraftSession.builder(2)
      .config("spark.hadoop.fs.file.impl", stockFs)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", stockAfs)
      .getOrCreate()
    try {
      val conf = spark.sessionState.newHadoopConf()
      assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == stockFs)
      assert(conf.get("fs.AbstractFileSystem.file.impl") == stockAfs)
      assert(FileSystem.newInstance(root, conf).getClass == classOf[LocalFileSystem])
      assert(AbstractFileSystem.createFileSystem(root, conf).getClass.getName == stockAfs)
    } finally spark.stop()
  }
}
