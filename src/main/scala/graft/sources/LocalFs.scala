package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem every engine session writes through.
  *
  * Without native libhadoop, the stock `RawLocalFileSystem` forks a
  * `chmod` process for every file and directory it creates with a mode,
  * and `getFileLinkStatus` forks `readlink` (twice per FileContext
  * rename, on a `file:` string that never names a link). A microbatch
  * writes its offset, commit, source and `_spark_metadata` logs and the
  * state store's delta files through those calls, so a stateful stream
  * paid about 130 forks per batch. The overrides below do the same work
  * in-process with `java.nio.file`; everything else is the stock class,
  * and both wrappers keep the `.crc` checksum layer.
  *
  * `Engine.session` binds the wrappers for both Hadoop APIs Spark uses:
  * `ForkFreeLocalFileSystem` for the FileSystem API (output committers,
  * the parquet and CSV writers, `Sources`) and `ForkFreeLocalFs` for the
  * FileContext API (streaming checkpoint logs and the HDFS-backed state
  * store).
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO. FsPermission carries the sticky bit, which NIO
    * cannot set, so such modes take the stock (forking) path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE: bit 8 down to bit 0
      PosixFilePermission.values.foreach { x =>
        if ((mode & (0x100 >> x.ordinal)) != 0) perms.add(x)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }
  }

  /** The link's own target, or None when `f` is not a symbolic link. */
  private def readLink(f: Path): Option[Path] = {
    val nio = pathToFile(f).toPath
    if (Files.isSymbolicLink(nio)) Some(new Path(Files.readSymbolicLink(nio).toString))
    else None
  }

  /** Stock semantics without the `readlink` fork: a link reports the
    * attributes of what it points to (zeros when dangling; its mode is
    * still read by the stock `ls` fork, but the engine makes no links)
    * plus its qualified target; anything else is `getFileStatus`, which
    * throws FileNotFoundException for a missing path. */
  override def getFileLinkStatus(f: Path): FileStatus = readLink(f) match {
    case None => getFileStatus(f)
    case Some(target) =>
      val st = try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
          t.getModificationTime, t.getAccessTime, t.getPermission, t.getOwner,
          t.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
  }

  /** Unqualified target; the FileContext wrapper asks for it after
    * `getFileLinkStatus` reports a link. */
  override def getLinkTarget(f: Path): Path = readLink(f).getOrElse {
    getFileStatus(f) // FileNotFoundException when missing
    throw new IOException(s"Path $f is not a symbolic link")
  }
}

/** FileSystem API binding (`fs.file.impl`): checksummed, like the stock
  * `LocalFileSystem`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** FileContext raw layer: Hadoop's `RawLocalFs` over the fork-free
  * filesystem (that class hard-wires the stock one). */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** FileContext API binding (`fs.AbstractFileSystem.file.impl`):
  * checksummed, like the stock `LocalFs`. Hadoop instantiates it through
  * the (URI, Configuration) constructor. */
class ForkFreeLocalFs(conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf)) {
  def this(uri: URI, conf: Configuration) = this(conf)
}
