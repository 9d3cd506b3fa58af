package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` filesystem ([[LocalFs]]) against Hadoop's stock
  * classes: every case runs on both and must give the same `FileStatus`
  * fields, and the engine's class must start no child process where the
  * stock one starts `chmod`/`readlink`.
  */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def raw(fs: RawLocalFileSystem, c: Configuration = conf()): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }
  private def stock(c: Configuration = conf()) = raw(new RawLocalFileSystem, c)
  private def engine(c: Configuration = conf()) = raw(new ForkFreeRawLocalFileSystem, c)

  /** The fields callers read, with `root` cut from every path so runs in
    * two sibling directories compare equal. Times are left out: they
    * differ between two runs that each create their own files.
    */
  private def fields(st: FileStatus, root: String = ""): Seq[Any] = {
    def rel(p: Path) = p.toString.replace(root, "<root>")
    Seq(rel(st.getPath), st.getLen, st.isFile, st.isDirectory, st.isSymlink,
      Try(rel(st.getSymlink)).toOption, st.getPermission, st.getOwner,
      st.getGroup, st.getReplication, st.getBlockSize)
  }

  /** Either the fields or the exception class — two failures compare equal
    * when both sides throw the same type.
    */
  private def outcome(st: => FileStatus, root: String = ""): Either[Class[_], Seq[Any]] =
    Try(fields(st, root)).toEither.left.map(_.getClass)

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** Children's CPU ticks (cutime + cstime of /proc/self/stat): it grows
    * only when this JVM reaps a child process.
    */
  private def childTicks(): Long = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    f(13).toLong + f(14).toLong // fields 16 and 17, counted from field 3
  }

  test("create and mkdirs under a umask: same permissions, sizes and sidecars") {
    val runs = Seq("stock" -> stock(conf("027")), "engine" -> engine(conf("027"))).map {
      case (name, fs) =>
        val root = tmp(s"graft_lfs_mk_$name").toString
        val dir = new Path(s"$root/a/b/c")
        assert(fs.mkdirs(dir, new FsPermission("777")))
        val file = new Path(dir, "part-0")
        val out = fs.create(file, new FsPermission("666"), true, 4096, 1.toShort, 1L << 20, null)
        out.write("graft".getBytes("UTF-8")); out.close()
        val statuses = Seq(s"$root/a", s"$root/a/b", s"$root/a/b/c", s"$root/a/b/c/part-0")
          .map(p => fields(fs.getFileStatus(new Path(p)), root))
        (statuses, Files.list(Paths.get(dir.toString)).toArray.map(_.toString.replace(root, "")).sorted.toSeq)
    }
    assert(runs(0) === runs(1))
    // the umask applies to mkdirs: 777 & ~027
    assert(runs(1)._1(0)(6) === new FsPermission("750"))
  }

  test("setPermission: same bits on both, sticky bit included") {
    for (mode <- Seq("000", "644", "755", "700", "777", "1777")) {
      val perms = Seq(stock(), engine()).map { fs =>
        val root = tmp("graft_lfs_perm")
        val d = Files.createDirectory(root.resolve("d"))
        val f = Files.createFile(root.resolve("f"))
        fs.setPermission(new Path(d.toString), new FsPermission(mode))
        if (mode != "1777") fs.setPermission(new Path(f.toString), new FsPermission(mode))
        Seq(d, f).map(p => fs.getFileStatus(new Path(p.toString)).getPermission)
      }
      assert(perms(0) === perms(1), s"mode $mode")
      assert(perms(1)(0) === new FsPermission(mode), s"mode $mode")
    }
    // a missing path fails on both
    Seq(stock(), engine()).foreach { fs =>
      intercept[IOException](fs.setPermission(new Path("/nonexistent/graft_lfs"), new FsPermission("644")))
    }
  }

  test("getFileLinkStatus and getLinkTarget: file, directory, valid and dangling symlinks") {
    val root = tmp("graft_lfs_link")
    val file = Files.write(root.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val relLink = Files.createSymbolicLink(root.resolve("rel_link"), Paths.get("dir"))
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    val (s, e) = (stock(), engine())
    for (p <- Seq(file, dir, link, relLink, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(s"file:$p"))) {
      val want = outcome(s.getFileLinkStatus(path))
      assert(outcome(e.getFileLinkStatus(path)) === want, path)
      assert(Try(e.getLinkTarget(path)).toEither.left.map(_.getClass) ===
        Try(s.getLinkTarget(path)).toEither.left.map(_.getClass), path)
    }
    // the cases are real: plain paths read as links, a dangling link too
    assert(e.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val d = e.getFileLinkStatus(new Path(dangling.toString))
    assert(d.isSymlink && d.getLen === 0 && d.getPermission === FsPermission.getDefault)
    assert(e.getLinkTarget(new Path(relLink.toString)) === new Path("dir"))
    intercept[FileNotFoundException](e.getFileLinkStatus(new Path(missing.toString)))

    // and through FileContext, stock LocalFs vs the engine's
    val fcs = Seq(new Configuration(), sessionConf()).map(FileContext.getFileContext(URI.create("file:///"), _))
    for (p <- Seq(file, dir, link, dangling); path = new Path(p.toString))
      assert(outcome(fcs(1).getFileLinkStatus(path)) === outcome(fcs(0).getFileLinkStatus(path)), path)
  }

  test("FileContext.rename with OVERWRITE: same result, .crc sidecars moved") {
    val runs = Seq(new Configuration(), sessionConf()).map { c =>
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      val root = tmp("graft_lfs_rename").toString
      def write(name: String, body: String): Path = {
        val p = new Path(s"$root/$name")
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        out.write(body.getBytes("UTF-8")); out.close()
        p
      }
      val (src, dst) = (write("1.delta.tmp", "new state"), write("1.delta", "old"))
      val refused = Try(fc.rename(src, dst)).failed.toOption.map(_.getClass)
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val names = Files.list(Paths.get(root)).toArray.map(_.toString.stripPrefix(root)).sorted.toSeq
      val body = new String(Files.readAllBytes(Paths.get(s"$root/1.delta")), "UTF-8")
      (refused, names, body, fields(fc.getFileStatus(dst), root))
    }
    assert(runs(0) === runs(1))
    assert(runs(1)._1.contains(classOf[org.apache.hadoop.fs.FileAlreadyExistsException]))
    assert(runs(1)._2 === Seq("/.1.delta.crc", "/1.delta"))
    assert(runs(1)._3 === "new state")
  }

  test("no child process: stock setPermission and getFileLinkStatus fork, the engine's do not") {
    assume(Files.isReadable(Paths.get("/proc/self/stat")), "needs Linux procfs")
    assume(!NativeCodeLoader.isNativeCodeLoaded, "libhadoop present: the stock path does not fork either")
    val root = tmp("graft_lfs_fork")
    val files = (0 until 100).map(i => new Path(Files.createFile(root.resolve(s"f$i")).toString))
    def ticks(fs: RawLocalFileSystem): Long = {
      val t0 = childTicks()
      files.foreach { f =>
        fs.setPermission(f, new FsPermission("640"))
        fs.getFileLinkStatus(f)
      }
      childTicks() - t0
    }
    val (s, e) = (stock(), engine())
    assert(ticks(s) > 0, "the probe must see the stock path's chmod/readlink children")
    assert(ticks(e) === 0)
  }

  test("a stateful stream through a Graft session starts no child process") {
    assume(Files.isReadable(Paths.get("/proc/self/stat")), "needs Linux procfs")
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val src = tmp("graft_lfs_stream").toString
    for (i <- 0 until 2)
      spark.range(i * 250, (i + 1) * 250).select(col("id").as("user_id"), lit("click").as("event_type"))
        .coalesce(1).write.parquet(s"$src/b$i")
    // uncached, so each FileSystem.get builds from the session's conf rather
    // than returning whatever instance an earlier caller cached for file:
    val c = sessionConf()
    c.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val t0 = childTicks()
      val agg = spark.readStream.schema("user_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true").parquet(src)
        .groupBy((col("user_id") % 7).as("u"), col("event_type")).agg(count(lit(1)).as("n"))
      val rows = graft.streaming.EventStreams.runToTable(spark, agg, "lfs_stream").collect()
      assert(childTicks() - t0 === 0)
      assert(rows.map(_.getLong(2)).sum === 500)
    } finally c.unset("fs.file.impl.disable.cache")
  }

  private def sessionConf(): Configuration = TestSpark.spark.sparkContext.hadoopConfiguration

  test("a Graft session resolves file: to the engine's classes") {
    val c = sessionConf()
    val fs = FileSystem.newInstance(URI.create("file:///"), c)
    try {
      assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[ForkFreeLocalFileSystem].getRawFileSystem.getClass ===
        classOf[ForkFreeRawLocalFileSystem])
    } finally fs.close()
    assert(FileContext.getFileContext(URI.create("file:///"), c).getDefaultFileSystem.getClass ===
      classOf[ForkFreeLocalFs])
  }
}
