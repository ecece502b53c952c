package graft.lake

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, FsConstants, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{LogGen, Tail}

/** The fork-free local file system leaves the same POSIX modes, listings and
  * link statuses as Hadoop's stock `LocalFileSystem`/`LocalFs`, and
  * `core-site.xml` puts it under every `file:` path so that no write path
  * forks `chmod` or `readlink`. */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String = null): Configuration = {
    val c = new Configuration()
    if (umask != null) c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def stockFs(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(FsConstants.LOCAL_FS_URI, c); fs
  }
  private def graftFs(c: Configuration): FileSystem = {
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(FsConstants.LOCAL_FS_URI, c); fs
  }
  private def stockFc(c: Configuration): FileContext = {
    val s = new Configuration(c)
    s.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, s)
  }
  private def graftFc(c: Configuration): FileContext = FileContext.getLocalFSFileContext(c)

  /** relative path -> mode bits (sticky included) of everything under root */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap

  /** Run `op` on a fresh dir through each side; both must leave the same modes. */
  private def sameModes[F](stock: F, graft: F)(op: (F, Path) => Unit): Map[String, Int] = {
    def run(fs: F): Map[String, Int] = {
      val root = Files.createTempDirectory("graft-localfs")
      op(fs, new Path(root.toUri)); modes(root)
    }
    val (a, b) = (run(stock), run(graft))
    assert(a.nonEmpty && a == b)
    a
  }

  private def write(fs: FileSystem, p: Path): Unit = { val o = fs.create(p); o.write(1); o.close() }

  test("a created file and its .crc get the stock modes") {
    val m = sameModes(stockFs(conf()), graftFs(conf())) { (fs, d) => write(fs, new Path(d, "a/f")) }
    assert(m.keySet == Set("a", "a/f", "a/.f.crc"))
  }

  test("nested mkdirs get the stock modes") {
    val m = sameModes(stockFs(conf()), graftFs(conf())) { (fs, d) => assert(fs.mkdirs(new Path(d, "x/y/z"))) }
    assert(m.keySet == Set("x", "x/y", "x/y/z"))
  }

  test("create with an explicit permission gets the stock modes") {
    val m = sameModes(stockFs(conf()), graftFs(conf())) { (fs, d) =>
      fs.create(new Path(d, "f"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    }
    assert(m("f") == Integer.parseInt("640", 8))
  }

  test("umask 077 applies as on the stock path") {
    val m = sameModes(stockFs(conf("077")), graftFs(conf("077"))) { (fs, d) =>
      write(fs, new Path(d, "a/f")); assert(fs.mkdirs(new Path(d, "b/c")))
    }
    assert(m("a/f") == Integer.parseInt("600", 8) && m("b/c") == Integer.parseInt("700", 8))
  }

  test("a sticky-bit setPermission sets the same mode") {
    val m = sameModes(stockFs(conf()), graftFs(conf())) { (fs, d) =>
      val p = new Path(d, "t"); assert(fs.mkdirs(p)); fs.setPermission(p, new FsPermission(Integer.parseInt("1777", 8).toShort))
    }
    assert(m("t") == Integer.parseInt("1777", 8))
  }

  test("the checkpoint's FileContext mkdir + create + rename(OVERWRITE) leaves the stock files") {
    val m = sameModes(stockFc(conf()), graftFc(conf())) { (fc, d) =>
      val dir = new Path(d, "offsets")
      fc.mkdir(dir, FsPermission.getDirDefault, true)
      for (i <- 0 until 2) {
        val tmp = new Path(dir, s".0.$i.tmp")
        val o = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)); o.write(i); o.close()
        fc.rename(tmp, new Path(dir, "0"), Options.Rename.OVERWRITE)
      }
      val in = fc.open(new Path(dir, "0")); try assert(in.read() == 1) finally in.close()
    }
    assert(m.keySet == Set("offsets", "offsets/0", "offsets/.0.crc"))
  }

  test("link status of a real symlink and of a plain file match the stock answer") {
    val d = Files.createTempDirectory("graft-localfs")
    val target = Files.write(d.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    def view(st: org.apache.hadoop.fs.FileStatus) =
      (st.isSymlink, st.isFile, st.getLen, if (st.isSymlink) st.getSymlink.toString else "")
    // stock Hadoop resolves a link only through a scheme-less path; ask both forms
    for (p <- Seq(link, target).flatMap(x => Seq(new Path(x.toUri), new Path(x.toString)))) {
      val want = view(stockFs(conf()).getFileLinkStatus(p))
      assert(view(graftFs(conf()).getFileLinkStatus(p)) == want)
      assert(view(graftFc(conf()).getFileLinkStatus(p)) == view(stockFc(conf()).getFileLinkStatus(p)))
    }
    assert(graftFs(conf()).getFileLinkStatus(new Path(link.toString)).isSymlink)
  }

  test("core-site.xml registers the fork-free classes; a parquet write and a Tail batch fork no chmod/readlink") {
    assert(FileSystem.get(new URI("file:///"), new Configuration()).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val spark = SparkSession.builder().master("local[2]").appName("localfs-spec")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false").getOrCreate()
    assert(new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForkFreeLocalFileSystem])
    def tmp(n: String) = Files.createTempDirectory("graft-localfs").resolve(n).toString
    val (streamDir, tableDir, ckpt) = (tmp("stream"), tmp("table"), tmp("ckpt"))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands = try {
      LogGen.events(spark, LogGen.Params(nEvents = 500, nRepos = 5, pathsPerRepo = 10))
        .repartition(2).write.parquet(streamDir)
      Tail.start(spark, streamDir, tableDir, ckpt, buckets = 2).awaitTermination()
      rec.stop()
      val out = Files.createTempFile("graft-localfs", ".jfr")
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toVector
    } finally rec.close()
    assert(IceLite.read(spark, IceLite.load(tableDir)).count() > 0)
    assert(!commands.exists(c => c.contains("chmod") || c.contains("readlink")), commands)
  }
}
