package graft.core

import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, Path => NPath, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FileAlreadyExistsException, FileStatus, FSDataOutputStream, LocalFileSystem, Options, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The one local filesystem: `file://` without a forked process per call.
  *
  * Without the Hadoop native library, `RawLocalFileSystem.setPermission`
  * shells out (fork/exec of `chmod`), and both Hadoop APIs pass an
  * explicit permission on every create and mkdir — so every data file,
  * committer temp file, partition directory, checkpoint file and
  * graft-delim commit on `file://` would cost a process fork (10–17 ms
  * each, measured). `FileContext` adds a forked `readlink` per link
  * status probe. The permission being set is the one the file was just
  * created with, so the fork is a no-op in effect; this module makes it
  * a no-op in cost too, for both APIs:
  *  - [[BareLocalFileSystem]] is the `FileSystem` (`fs.file.impl`);
  *  - [[BareLocalFs]] is the `AbstractFileSystem` (`FileContext`, which
  *    carries Spark's streaming checkpoints and graft-delim's commits;
  *    `fs.AbstractFileSystem.file.impl`).
  * Both run over [[NoChmodRawLocalFileSystem]]. `GraftSession` installs
  * the pair; HDFS and object-store schemes are untouched, and on a host
  * with the native library the stock path is forkless anyway.
  */
class BareLocalFileSystem extends LocalFileSystem(new NoChmodRawLocalFileSystem)

object NoChmodRawLocalFileSystem {
  /** (fresh-file bits, fresh-directory bits) under the PROCESS umask —
    * what the OS gives a plain `creat`/`mkdir`, which is how files are
    * really created (Hadoop's configured umask can disagree with it).
    * Probed once per JVM inside a private temp directory; temp-file
    * APIs are no probe, they always create 0600/0700. None when the
    * probe fails (a non-POSIX filesystem): then nothing is skipped.
    */
  private[core] lazy val createdBits: Option[(FsPermission, FsPermission)] =
    try {
      val tmp = Files.createTempDirectory("graft-perm-probe")
      val f = tmp.resolve("f")
      val d = tmp.resolve("d")
      def bits(p: NPath) = FsPermission.valueOf(
        "-" + PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      try Some((bits(Files.createFile(f)), bits(Files.createDirectory(d))))
      finally { Files.deleteIfExists(f); Files.deleteIfExists(d); Files.deleteIfExists(tmp) }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Whether setting `permission` on a just-created file (or directory)
    * changes nothing. Compared as bits: `FileContext` passes a
    * `FsCreateModes`, which never `equals` a plain `FsPermission`. */
  private[core] def isNoop(permission: FsPermission, dir: Boolean): Boolean =
    permission != null && createdBits.exists { case (fb, db) =>
      permission.toShort == (if (dir) db else fb).toShort
    }
}

/** `RawLocalFileSystem` whose `setPermission` skips the chmod when it
  * would be a no-op (see [[NoChmodRawLocalFileSystem.isNoop]]); any
  * other permission still goes through. */
class NoChmodRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit =
    if (!NoChmodRawLocalFileSystem.isNoop(permission, pathToFile(p).isDirectory))
      super.setPermission(p, permission)
}

object BareLocalFs {
  /** The Hadoop key that binds `FileContext`'s `file` scheme. */
  val Key = "fs.AbstractFileSystem.file.impl"
}

/** `FileContext`'s `file` scheme over [[NoChmodRawLocalFileSystem]]:
  * unchecksummed like Hadoop's `RawLocalFs` (no `.crc` sidecars), plus
  *  - a link-status probe that forks only for a real symlink;
  *  - an OVERWRITE rename of a file that is one atomic `rename(2)`
  *    (the stock one deletes the destination first, opening a window
  *    in which it is missing);
  *  - a no-overwrite rename of a file that is a true compare-and-set:
  *    `link(2)` fails atomically when the destination exists, then the
  *    source is unlinked. The loser gets Hadoop's
  *    `FileAlreadyExistsException`, which graft-delim's generation
  *    claim and Spark's `HDFSMetadataLog` both match on.
  * A checksummed reader (the `FileSystem` facade) verifies a file
  * against `.<name>.crc` when one exists; bytes landed here carry none,
  * so a sidecar an earlier checksummed writer left at a destination is
  * stale and goes before the bytes land.
  */
class BareLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoChmodRawLocalFileSystem, conf, "file", false) {

  private def local(p: HPath): NPath =
    fsImpl.asInstanceOf[RawLocalFileSystem].pathToFile(p).toPath

  private def clearStaleSidecar(dst: NPath, overwrite: Boolean): Unit =
    if (overwrite || !Files.exists(dst, LinkOption.NOFOLLOW_LINKS))
      Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))

  override def getFileLinkStatus(f: HPath): FileStatus =
    if (Files.isSymbolicLink(local(f))) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def createInternal(f: HPath, flag: java.util.EnumSet[CreateFlag],
      absolutePermission: FsPermission, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: Options.ChecksumOpt,
      createParent: Boolean): FSDataOutputStream = {
    clearStaleSidecar(local(f), flag.contains(CreateFlag.OVERWRITE))
    super.createInternal(f, flag, absolutePermission, bufferSize, replication,
      blockSize, progress, checksumOpt, createParent)
  }

  override def renameInternal(src: HPath, dst: HPath, overwrite: Boolean): Unit = {
    checkPath(src); checkPath(dst)
    val s = local(src)
    val d = local(dst)
    if (Files.isDirectory(s, LinkOption.NOFOLLOW_LINKS) ||
        Files.isDirectory(d, LinkOption.NOFOLLOW_LINKS))
      super.renameInternal(src, dst, overwrite)
    else {
      clearStaleSidecar(d, overwrite)
      try {
        if (overwrite) Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        else { Files.createLink(d, s); Files.delete(s) }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"rename destination $dst already exists")
        case e: NoSuchFileException =>
          throw new java.io.FileNotFoundException(e.getMessage)
        case _: UnsupportedOperationException => // no hard links here
          super.renameInternal(src, dst, overwrite)
      }
    }
  }
}
