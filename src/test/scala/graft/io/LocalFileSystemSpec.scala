package graft.io

import graft.TestSpark
import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => NioPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem answers as Hadoop's stock one does:
  * same files, same `.crc` sidecars, same mode bits, same link status. */
class LocalFileSystemSpec extends AnyFunSuite {
  import LocalFileSystemSpec._

  private lazy val spark = TestSpark.spark
  private val FileUri = new URI("file:///")

  private def conf = spark.sparkContext.hadoopConfiguration

  /** A session on the same context whose Hadoop conf selects the stock
    * classes (uncached, so the JVM-wide cached engine FS is bypassed). */
  private lazy val stock: SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl",
      classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s.conf.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    s
  }

  private def stockConf: Configuration = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  private def rawStock: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(FileUri, conf)
    fs
  }

  private def rawEngine: RawLocalFileSystem = {
    val fs = new NioRawLocalFileSystem
    fs.initialize(FileUri, conf)
    fs
  }

  /** Bytes the given raw class wrote while `body` ran. */
  private def bytesWrittenBy(cls: Class[_ <: FileSystem])(body: => Unit)
      : Long = {
    val stats = FileSystem.getStatistics("file", cls)
    val before = stats.getBytesWritten
    body
    stats.getBytesWritten - before
  }

  /** A parquet write and a two-batch streaming parquet sink with its
    * checkpoint, through `session`, under `root`. */
  private def writeLayout(session: SparkSession, root: File): Unit = {
    import session.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s")
      .write.partitionBy("s").parquet(new File(root, "table").toString)
    implicit val sc = session.sqlContext
    val src = MemoryStream[Int]
    val q = src.toDF().writeStream.format("parquet")
      .option("checkpointLocation", new File(root, "ckpt").toString)
      .start(new File(root, "sink").toString)
    try {
      src.addData(1, 2, 3); q.processAllAvailable()
      src.addData(4, 5); q.processAllAvailable()
    } finally q.stop()
  }

  test("a session built through GraftExtensions resolves file: to the " +
      "engine classes") {
    // a fresh JVM, so nothing has cached a file: filesystem before
    val java = new File(System.getProperty("java.home"), "bin/java")
    val cmd = Seq(java.toString, "-Xmx512m") ++
      org.apache.spark.launcher.JavaModuleOptions
        .defaultModuleOptionArray().toSeq ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.io.LocalFileSystemSpec")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"child run failed: $out")
    val line = out.linesIterator.filter(_.startsWith("RESULT ")).toSeq
    assert(line == Seq(s"RESULT ${classOf[NioLocalFileSystem].getName} " +
      s"${classOf[NioLocalFs].getName} rows=3"), out)
  }

  test("the test session runs on the engine classes") {
    assert(LocalFileSystem.install())
    assert(FileSystem.get(FileUri, conf).getClass == classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(FileUri, conf).getClass == classOf[NioLocalFs])
    assert(FileSystem.getLocal(conf).getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
  }

  test("parquet write and streaming checkpoint: same files, .crc sidecars " +
      "and mode bits as the stock filesystem") {
    val ours = Files.createTempDirectory("lfs-engine").toFile
    val theirs = Files.createTempDirectory("lfs-stock").toFile
    val engineBytes = bytesWrittenBy(classOf[NioRawLocalFileSystem]) {
      writeLayout(spark, ours)
    }
    val stockBytes = bytesWrittenBy(classOf[RawLocalFileSystem]) {
      writeLayout(stock, theirs)
    }
    // each side really went through its own raw filesystem
    assert(engineBytes > 0 && stockBytes > 0, (engineBytes, stockBytes))
    val a = layout(ours.toPath)
    val b = layout(theirs.toPath)
    assert(a == b)
    // the layout holds what the comparison is meant to cover
    val names = a.keySet
    Seq("table/s=a/", "ckpt/offsets/0", "ckpt/offsets/.0.crc",
        "ckpt/commits/1", "ckpt/commits/.1.crc", "sink/_spark_metadata/1")
      .foreach(n => assert(names.exists(_.startsWith(n)), s"$n in $names"))
    assert(names.exists(n => n.startsWith("table/s=a/.part-") &&
      n.endsWith(".crc")), names)
    assert(a.values.toSet == Set("d755", "f644"), a)
  }

  test("getFileLinkStatus: file, directory, symlink and dangling symlink " +
      "as stock, at both FileSystem and AbstractFileSystem level") {
    val dir = Files.createTempDirectory("lfs-links")
    val file = Files.write(dir.resolve("file"), Array.fill[Byte](17)(7))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("missing"))
    val missing = dir.resolve("nothing")
    val ours = rawEngine
    val theirs = rawStock
    val oursAfs = AbstractFileSystem.get(FileUri, conf)
    val theirsAfs = AbstractFileSystem.get(FileUri, stockConf)
    assert(theirsAfs.getClass == classOf[org.apache.hadoop.fs.local.LocalFs])
    for (p <- Seq(file, sub, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = linkStatus(theirs.getFileLinkStatus(path))
      assert(linkStatus(ours.getFileLinkStatus(path)) == want, path)
      assert(linkStatus(oursAfs.getFileLinkStatus(path)) ==
        linkStatus(theirsAfs.getFileLinkStatus(path)), path)
    }
    // a symlink named without a scheme is reported as one
    assert(linkStatus(ours.getFileLinkStatus(new Path(link.toString))) ==
      Right((true, Some(file.toString), 17L, false)))
    // a missing path is FileNotFoundException, not a process exit code
    intercept[FileNotFoundException](
      ours.getFileLinkStatus(new Path(missing.toUri)))
    intercept[FileNotFoundException](
      oursAfs.getFileLinkStatus(new Path(missing.toUri)))
  }

  test("setPermission: plain, sticky and setgid modes as stock") {
    val dir = Files.createTempDirectory("lfs-modes")
    val ours = rawEngine
    val theirs = rawStock
    def twin(name: String, isDir: Boolean, initial: String)
        : (NioPath, NioPath) = {
      val pair = Seq("engine", "stock").map { side =>
        val p = dir.resolve(s"$side-$name")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setAttribute(p, "unix:mode", Integer.valueOf(initial, 8))
        p
      }
      (pair(0), pair(1))
    }
    val cases = Seq(
      ("file", false, "644", "640"),
      ("dir", true, "755", "700"),
      ("sticky", true, "755", "1777"),
      ("unstick", true, "1777", "755"),
      ("setgid", true, "2755", "750"), // GNU chmod 0750 keeps setgid
      ("setgid-sticky", true, "2755", "1777"),
      ("setgid-file", false, "2755", "755")) // a file's setgid is cleared
    cases.foreach { case (name, isDir, initial, mode) =>
      val (e, s) = twin(name, isDir, initial)
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      ours.setPermission(new Path(e.toUri), perm)
      theirs.setPermission(new Path(s.toUri), perm)
      assert(unixMode(e) == unixMode(s),
        f"$name: engine ${unixMode(e)}%o, stock ${unixMode(s)}%o")
    }
  }
}

object LocalFileSystemSpec {
  def unixMode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Relative path (UUIDs masked; directories end in `/`) → "d" or "f"
    * plus the octal mode bits, for every entry under `root`. */
  def layout(root: NioPath): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val isDir = Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)
      val rel = Uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") +
        (if (isDir) "/" else "")
      rel -> f"${if (isDir) "d" else "f"}${unixMode(p)}%o"
    }.toMap

  /** What a caller reads off a link status: symlink?, target, length,
    * directory? — or the exception class. */
  def linkStatus(st: => org.apache.hadoop.fs.FileStatus)
      : Either[String, (Boolean, Option[String], Long, Boolean)] =
    try {
      val s = st
      Right((s.isSymlink,
        if (s.isSymlink) Some(s.getSymlink.toUri.getPath) else None,
        s.getLen, s.isDirectory))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  /** Child JVM: build a session only through GraftSession and report
    * the classes it resolves for file: after writing through them. */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(1).appName("local-fs-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = Files.createTempDirectory("lfs-child").resolve("t").toString
      spark.range(3).write.parquet(out)
      val rows = spark.read.parquet(out).count()
      val conf = spark.sparkContext.hadoopConfiguration
      val uri = new URI("file:///")
      println(s"RESULT ${FileSystem.get(uri, conf).getClass.getName} " +
        s"${AbstractFileSystem.get(uri, conf).getClass.getName} rows=$rows")
    } finally spark.stop()
  }
}
