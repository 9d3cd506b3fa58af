package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local filesystem: Hadoop's `file:` scheme without a child
  * process per call.
  *
  * Without `libhadoop.so` (the engine ships none), stock
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process for
  * every file and directory it creates, and `getFileLinkStatus` (which
  * `FileContext.rename` calls on both ends of every rename) runs
  * `readlink`. Streaming checkpoints, state-store commits and part files
  * all go through these: one 500-row stateful stream started ~430 shell
  * commands, ~0.6 s of its 1.3–1.6 s (CHANGES.md has the attribution).
  * [[ForkFreeRawLocalFileSystem]] does both through `java.nio.file`;
  * everything else — bytes, `.crc` sidecars, permission bits, rename
  * semantics — is Hadoop's own code.
  *
  * [[Confs]] registers it for both Hadoop entry points; `Graft.builder()`
  * applies them, so every session gets it.
  */
object LocalFs {

  /** `spark.hadoop.*` confs that route `file:` through the engine's
    * classes: `FileSystem` (reads, writes, listings) and `FileContext`
    * (Spark's checkpoint manager). Hadoop conf, so they must be in the
    * SparkConf when the context starts.
    */
  val Confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  private val posixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission declares OWNER_READ (mode bit 8) first and
  // OTHERS_EXECUTE (bit 0) last
  private val byBit = PosixFilePermission.values.reverse

  /** The nine rwx bits of `mode` as a POSIX set, or None when NIO cannot
    * set `mode` exactly: a bit above them (the sticky bit), or no POSIX
    * view.
    */
  private[graft] def posixBits(mode: Int): Option[java.util.Set[PosixFilePermission]] =
    if (!posixView || (mode & ~0x1ff) != 0) None
    else {
      val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- 0 until 9 if (mode >> i & 1) == 1) s.add(byBit(i))
      Some(s)
    }
}

/** `RawLocalFileSystem` with [[setPermission]] and [[getFileLinkStatus]]
  * in-process (see [[LocalFs]]).
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Stock: `chmod` on the canonical path. NIO follows symlinks the same
    * way; modes NIO cannot express go to the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    LocalFs.posixBits(permission.toShort) match {
      case None => super.setPermission(p, permission)
      case Some(bits) =>
        val file = pathToFile(p)
        try Files.setPosixFilePermissions(file.toPath, bits)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(file.toString) }
    }

  /** The stock (non-`Stat`) link status, with `readlink` done by NIO. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Mirrors `RawLocalFileSystem.deprecatedGetFileLinkStatusInternal`,
    * down to its quirks: the link is looked up at `new File(f.toString)`,
    * so a scheme-qualified path never reads as a symlink, and a dangling
    * link gets a zero-length status with default permissions.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  /** `FileUtil.readLink` without the `readlink` process: the raw link
    * text, or "" when `f` is not a symlink or cannot be read.
    */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: the checksummed `FileSystem` over the engine's raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext`'s raw layer, mirroring `org.apache.hadoop.fs.local.RawLocalFs`
  * (whose constructors are package-private) over the engine's raw class.
  */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: mirrors `org.apache.hadoop.fs.local.LocalFs`
  * (`.crc` sidecars over the raw layer). Like it, ignores the URI: `file:`
  * has one root.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf)) {
  override def getUriDefaultPort: Int = -1
}
