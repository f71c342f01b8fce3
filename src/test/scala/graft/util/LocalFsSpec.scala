package graft.util

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.EventStream
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** graft's local file system gives Hadoop's answers without forking. */
class LocalFsSpec extends SparkSpec {

  private val local = new URI("file:///")

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(local, new Configuration())
    fs
  }

  /** A fresh directory per file system, so both run the same case on
    * the same relative layout. */
  private def both[T](name: String)(run: (RawLocalFileSystem, File) => T): (T, T) = {
    val root = Files.createTempDirectory(s"graft_localfs_$name").toFile
    val (a, b) = (new File(root, "stock"), new File(root, "graft"))
    Seq(a, b).foreach(_.mkdirs())
    try (run(init(new RawLocalFileSystem), a), run(init(new LocalFs.Raw), b))
    finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(f: File): Int = Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def qualified(f: File): Path = new Path(f.toURI)

  test("create, mkdirs and setPermission leave the same mode bits as Hadoop's") {
    val (s, g) = both("modes") { (fs, dir) =>
      val plain = new File(dir, "plain")
      fs.create(qualified(plain)).close() // default 0666 under the 022 umask
      val wide = new File(dir, "wide")
      fs.create(qualified(wide), new FsPermission("777"), false, 4096, 1.toShort, 1L << 20, null).close()
      val made = new File(dir, "made/deeper")
      fs.mkdirs(qualified(made))
      val narrow = new File(dir, "narrow")
      fs.mkdirs(qualified(narrow), new FsPermission("750"))
      val file750 = new File(dir, "file750")
      fs.create(qualified(file750)).close()
      fs.setPermission(qualified(file750), new FsPermission("750"))
      val sticky = new File(dir, "sticky")
      fs.mkdirs(qualified(sticky))
      fs.setPermission(qualified(sticky), new FsPermission("1777"))
      // a directory made under a setgid parent inherits setgid; a
      // four-digit chmod keeps it
      val shared = new File(dir, "shared")
      shared.mkdirs()
      Files.setAttribute(shared.toPath, "unix:mode", Int.box(oct("2775")))
      val child = new File(shared, "child")
      fs.mkdirs(qualified(child))
      fs.setPermission(qualified(child), new FsPermission("750"))
      Seq(plain, wide, made, made.getParentFile, narrow, file750, sticky, child).map(mode)
    }
    assert(g == s)
    assert(s == Seq("644", "755", "755", "755", "750", "750", "1777", "2750").map(oct))
  }

  test("getFileLinkStatus answers as Hadoop's for a file, a directory and symbolic links") {
    def describe(fs: RawLocalFileSystem, p: Path) = {
      val st = fs.getFileLinkStatus(p)
      (st.isSymlink, if (st.isSymlink) Some(st.getSymlink.toUri.getPath) else None,
        st.isDirectory, st.getLen, st.getPermission.toShort)
    }
    val (s, g) = both("links") { (fs, dir) =>
      val file = new File(dir, "file")
      Files.write(file.toPath, Array.fill[Byte](17)(1))
      val sub = new File(dir, "sub")
      sub.mkdirs()
      val link = new File(dir, "link")
      Files.createSymbolicLink(link.toPath, Paths.get("file"))
      Seq(describe(fs, qualified(file)), describe(fs, qualified(sub)),
        describe(fs, new Path(link.getPath)), // unqualified: Hadoop's readlink sees the link
        describe(fs, qualified(link))).map { case (l, t, d, n, m) =>
        (l, t.map(_.stripPrefix(dir.getPath)), d, n, m)
      }
    }
    assert(g == s)
    assert(s.map(_._1) == Seq(false, false, true, false))
    assert(s(2)._2.contains("/file"))
  }

  test("getFileLinkStatus on a missing path throws FileNotFoundException on both") {
    both("missing") { (fs, dir) =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(qualified(new File(dir, "absent"))))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(new File(dir, "absent").getPath)))
    }
  }

  test("the FileSystem class renames as the file system it replaces") {
    def renames(fs: FileSystem, dir: File): Seq[Any] = {
      val (a, b, c) = (new File(dir, "a"), new File(dir, "b"), new File(dir, "c"))
      Seq(a -> "A", b -> "B").foreach { case (f, s) => Files.writeString(f.toPath, s) }
      Seq(fs.rename(qualified(a), qualified(b)), // onto an existing file
        fs.rename(qualified(b), qualified(c)),
        Seq(a, b, c).map(f => if (f.exists) Files.readString(f.toPath) else "-"))
    }
    val root = Files.createTempDirectory("graft_localfs_rename").toFile
    try {
      val default = FileSystem.newInstance(local, new Configuration())
      val graft = init(new LocalFs.Checksummed)
      val dirs = Seq("default", "graft").map(n => new File(root, n))
      dirs.foreach(_.mkdirs())
      assert(renames(graft, dirs(1)) == renames(default, dirs(0)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("FileContext on graft's class writes Hadoop's checksum files and renames atomically") {
    def roundtrip(conf: Configuration, dir: File): (String, Seq[String], String) = {
      val fc = FileContext.getFileContext(local, conf)
      val tmp = qualified(new File(dir, ".1.tmp"))
      val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      try out.write("offsets".getBytes) finally out.close()
      fc.rename(tmp, qualified(new File(dir, "1")), Options.Rename.OVERWRITE)
      (fc.getDefaultFileSystem.getClass.getName, dir.list().toSeq.sorted,
        new String(Files.readAllBytes(new File(dir, "1").toPath)))
    }
    val root = Files.createTempDirectory("graft_localfs_fc").toFile
    try {
      val conf = new Configuration()
      conf.set(graft.GraftSession.LocalFsKey.stripPrefix("spark.hadoop."), classOf[LocalFs.Context].getName)
      val (cls, files, body) = roundtrip(conf, new File(root, "graft"))
      val (_, stockFiles, stockBody) = roundtrip(new Configuration(), new File(root, "stock"))
      assert(cls == classOf[LocalFs.Context].getName)
      assert(files == stockFiles && body == stockBody)
      assert(files == Seq(".1.crc", "1"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("a checkpointed stateful stream forks no process from Hadoop's file system code") {
    val root = Files.createTempDirectory("graft_localfs_stream").toFile
    val rec = new Recording()
    try {
      val (data, _) = EventStream.files(spark, sf, new File(root, "in"), 3)
      val src = new File(root, "src")
      EventStream.land(data, src)
      val canary = new File(root, "canary")
      Files.writeString(canary.toPath, "")
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      // one fork Hadoop's own class makes, so the recording is known to see them
      init(new RawLocalFileSystem).setPermission(qualified(canary), new FsPermission("600"))
      val q = EventStream.run(spark, src, new File(root, "ckp"),
        _.format("memory").queryName("localfs_forks"))
      rec.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      assert(spark.table("localfs_forks").count() > 0)

      val jfr = new File(root, "forks.jfr").toPath
      rec.dump(jfr)
      val hadoop = RecordingFile.readAllEvents(jfr).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
      }
      val (seen, leaked) = hadoop.partition(_.getString("command").contains(canary.getPath))
      assert(seen.size == (if (NativeIO.isAvailable) 0 else 1))
      val commands = leaked.map(_.getString("command"))
      assert(commands.size == 0, s"forks from Hadoop's fs code, e.g. ${commands.take(3)}")
    } finally {
      rec.close()
      spark.sql("DROP VIEW IF EXISTS localfs_forks")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }
}
