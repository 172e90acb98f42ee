package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** A fork-free binding of the `file:` scheme for Hadoop's FileContext,
  * the API behind Structured Streaming's offset, commit and source logs
  * and the state store's checkpoint writes.
  *
  * Hadoop's `RawLocalFileSystem` starts a shell command for `readlink`
  * (`getFileLinkStatus`, run by every rename; `FileUtil.readLink` forks
  * with or without libhadoop) and, without libhadoop, for chmod
  * (`setPermission`, run by every create). Each is a process start on
  * the per-epoch path of a stream. [[NioRawLocalFileSystem]] answers
  * the same calls from java.nio with the same results (LocalFsSpec
  * compares them field by field), and [[NioLocalFs]] binds it the way
  * Hadoop's `LocalFs` binds `RawLocalFileSystem`: same `.crc` sidecars,
  * same rename semantics.
  */
object LocalFs {

  val Key = "fs.AbstractFileSystem.file.impl"
  val HadoopLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  /** The nio paths are taken where the platform has a `unix` attribute
    * view; elsewhere Hadoop's own methods are the only ones that run.
    */
  private[graft] val nio: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** Bind `file:` FileContexts of this session to [[NioLocalFs]], while
    * the key still holds Hadoop's default as `core-default.xml` sets
    * it: a binding set in the session or in the Hadoop configuration,
    * Hadoop's own class included, is left as it is. Idempotent.
    * FileContexts are not cached, so queries started afterwards use it.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val default = conf.get(Key) == HadoopLocalFs &&
      Option(conf.getPropertySources(Key)).exists(_.sameElements(Seq("core-default.xml")))
    if (default) spark.conf.set(Key, classOf[NioLocalFs].getName)
  }
}

/** `RawLocalFileSystem` whose link status and permission change go
  * through java.nio (`readSymbolicLink`, the `unix:mode` attribute)
  * instead of running `readlink` and `chmod`. Results mirror Hadoop's
  * non-native code. A status is Hadoop's own, which loads mode, owner
  * and group only when they are read.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def getFileLinkStatus(p: Path): FileStatus =
    if (!LocalFs.nio) super.getFileLinkStatus(p)
    else {
      val s = linkStatus(p)
      if (s.isSymlink) s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, s.getPath, s.getSymlink))
      s
    }

  override def getLinkTarget(p: Path): Path =
    if (!LocalFs.nio) super.getLinkTarget(p) else linkStatus(p).getSymlink

  /** Chmod to the 4-digit octal mode, as `chmod %04o` does: a
    * directory keeps its setuid/setgid bits, a file loses them.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!LocalFs.nio) super.setPermission(p, permission)
    else {
      val path = pathToFile(p).toPath
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      val kept = if ((mode & 0xf000) == 0x4000) mode & 0xc00 else 0 // S_IFDIR: keep 06000
      Files.setAttribute(path, "unix:mode", Int.box(permission.toShort | kept))
    }

  /** The link status with an unqualified target, as Hadoop builds it:
    * the path is read as a symlink the way `FileUtil.readLink(new
    * File(p.toString))` reads it (so a `file:` URI string names no
    * link), and a dangling link gets an empty status.
    */
  private def linkStatus(p: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(p.toString).toPath).toString
      catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
    try {
      val s = getFileStatus(p)
      if (target.isEmpty) s
      else new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
        s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, new Path(target), p)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), p)
    }
  }
}

/** [[NioRawLocalFileSystem]] as an `AbstractFileSystem`, with the
  * overrides of Hadoop's `RawLocalFs` (whose constructors are
  * package-private).
  */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `fs.AbstractFileSystem.file.impl` binding [[LocalFs.install]]
  * sets: checksummed like Hadoop's `LocalFs`, so its `.crc` sidecars
  * and checkpoints are interchangeable with it.
  */
class NioLocalFs(uri: URI, conf: Configuration) // the (URI, Configuration) constructor Hadoop instantiates
  extends ChecksumFs(new NioRawLocalFs(conf))
