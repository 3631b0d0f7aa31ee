package graft.fs

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkSpecBase
import graft.cdc.ChangeRecord._
import graft.cdc.{FileCdcDatabase, StreamMaterialize, UpsertSink}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileAlreadyExistsException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The fork-free `file:` file systems (`core-site.xml`): installed, the same
  * answers as Hadoop's own, and no `chmod`/`readlink`/`stat`/`ls` process
  * started on a checkpointed stream or a sink merge. */
class NoForkLocalFsSpec extends SparkSpecBase {

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def mode(p: java.nio.file.Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def stockRaw(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("file: resolves to the fork-free file systems, in and out of a session") {
    val fs = FileSystem.getLocal(new Configuration())
    assert(fs.isInstanceOf[NoForkLocalFileSystem])
    assert(fs.getRaw.isInstanceOf[NoForkRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
    assert(new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[NoForkLocalFileSystem])
  }

  test("CRCs are still written and checked, through FileSystem and FileContext") {
    val dir = Paths.get(tmpDir("nofork-crc"))
    val data = Array.tabulate[Byte](300)(_.toByte)
    val fs = FileSystem.getLocal(new Configuration())
    val fc = FileContext.getLocalFSFileContext
    val viaFs = new Path(dir.resolve("fs.bin").toUri)
    val viaFc = new Path(dir.resolve("fc.bin").toUri)
    val o1 = fs.create(viaFs); o1.write(data); o1.close()
    val o2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE)); o2.write(data); o2.close()
    // FileContext.open(path) alone reads the raw file unchecked (Hadoop's
    // FilterFs.open(Path) bypasses ChecksumFs); with a buffer size it checks
    Seq[(Path, Path => FSDataInputStream)](viaFs -> (fs.open(_)), viaFc -> (fc.open(_, 4096)))
      .foreach { case (p, open) =>
        def readAll(): Array[Byte] = {
          val in = open(p)
          try { val b = new Array[Byte](data.length); in.readFully(b); b }
          finally in.close()
        }
        val local = Paths.get(p.toUri)
        assert(Files.exists(local.resolveSibling(s".${local.getFileName}.crc")), p)
        assert(readAll().sameElements(data))
        val raf = new RandomAccessFile(local.toFile, "rw")
        try { raf.seek(10); raf.write(data(10) ^ 0xff) } finally raf.close()
        intercept[ChecksumException](readAll())
      }
  }

  test("FileContext.rename without OVERWRITE still refuses an existing target") {
    val dir = Paths.get(tmpDir("nofork-rename"))
    val fc = FileContext.getLocalFSFileContext
    def file(name: String): Path = {
      val p = new Path(dir.resolve(name).toUri)
      val o = fc.create(p, EnumSet.of(CreateFlag.CREATE)); o.write(1); o.close()
      p
    }
    val (src, dst) = (file("src"), file("dst"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    fc.rename(src, new Path(dir.resolve("fresh").toUri), Options.Rename.NONE)
    assert(Files.exists(dir.resolve("fresh")) && Files.exists(dir.resolve(".fresh.crc")))
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
  }

  test("setPermission and mkdirs set the mode stock Hadoop sets") {
    val dir = Paths.get(tmpDir("nofork-perm"))
    val fs = FileSystem.getLocal(new Configuration())
    val f = new Path(dir.resolve("f").toUri)
    fs.create(f).close()
    fs.setPermission(f, octal("640"))
    assert(mode(dir.resolve("f")) === "rw-r-----")
    FileContext.getLocalFSFileContext.setPermission(f, octal("604"))
    assert(mode(dir.resolve("f")) === "rw----r--")
    fs.getRaw.mkdirs(new Path(dir.resolve("ours").toUri), octal("751"))
    stockRaw().mkdirs(new Path(dir.resolve("stock").toUri), octal("751"))
    assert(mode(dir.resolve("ours")) === "rwxr-x--x")
    assert(mode(dir.resolve("stock")) === "rwxr-x--x")
  }

  test("getFileLinkStatus answers as stock Hadoop for links, dangling links and files") {
    val dir = Paths.get(tmpDir("nofork-link"))
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    Files.createSymbolicLink(dir.resolve("link"), target)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val ours = FileSystem.getLocal(new Configuration()).getRaw
    val stock = stockRaw()
    def seen(fs: FileSystem, p: Path): String = Try(fs.getFileLinkStatus(p)).fold(
      e => e.getClass.getName,
      s => s"${s.isSymlink} ${if (s.isSymlink) s.getSymlink else ""} ${s.getLen} ${s.getPath}")
    // stock Hadoop reads the link of `new File(path.toString)`, so it sees
    // a link only on an unqualified path
    for (name <- Seq("link", "dangling", "target");
         p <- Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri)))
      assert(seen(ours, p) === seen(stock, p), p)
    assert(ours.getFileLinkStatus(new Path(dir.resolve("link").toString)).isSymlink)
  }

  /** The command lines of the processes started while `body` ran, from an
    * in-process flight recording. */
  private def processStarts(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq.map(_.getString("command"))
    } finally { r.close(); Files.delete(f) }
  }

  /** Starts of the tools Hadoop's local file system forks for file I/O. */
  private def fileToolStarts(commands: Seq[String]): Seq[String] =
    commands.filter(c => Set("chmod", "readlink", "stat", "ls")(
      c.trim.takeWhile(_ != ' ').split('/').last))

  test("zero-fork guard: it sees the forks of stock Hadoop's local file system") {
    val f = new Path(Files.createFile(Paths.get(tmpDir("nofork-guard")).resolve("f")).toUri)
    val stock = stockRaw()
    val started = fileToolStarts(processStarts {
      stock.setPermission(f, octal("640"))
      stock.getFileLinkStatus(f)
    })
    assert(started.exists(_.startsWith("chmod")) && started.exists(_.startsWith("readlink")),
      started)
  }

  test("zero-fork guard: a checkpointed retractAgg stream and a sink merge " +
    "start no chmod, readlink, stat or ls") {
    val dir = tmpDir("nofork-db")
    val pay = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", DoubleType)))
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, pay), StructField(AfterCol, pay)))
    val snapshot = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "g1", 10.0), Row(2L, "g1", 20.0))), pay)
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "c", 10L, "graft", "t", null, Row(3L, "g2", 5.0)),
      Row(2L, "u", 20L, "graft", "t", Row(1L, "g1", 10.0), Row(1L, "g1", 40.0)),
      Row(3L, "d", 30L, "graft", "t", Row(2L, "g1", 20.0), null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes, force = true)
    def cdc(mode: String) = Map("path" -> dir, "table" -> "t", "scan.startup.mode" -> mode)
    val started = processStarts {
      val q = StreamMaterialize.retractAgg(spark.readStream.format("graft-cdc")
          .options(cdc("earliest"))
          .option("scan.stream.max-events-per-trigger", "1").load(), "g", "m")
        .writeStream.format("memory").queryName(s"nofork_${System.nanoTime()}")
        .option("checkpointLocation", tmpDir("nofork-ckpt"))
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      UpsertSink.mergeInto(spark, spark.read.format("graft-cdc").options(cdc("initial")).load(),
        Seq("id"), tmpDir("nofork-sink") + "/state")
    }
    assert(fileToolStarts(started).isEmpty, fileToolStarts(started).take(5))
  }
}
