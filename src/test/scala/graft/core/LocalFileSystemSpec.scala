package graft.core

import java.nio.file.{Files, Path => NPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkFunSuite

/** Certifies the one local filesystem (`BareLocalFileSystem.scala`):
  * the chmod skip reads the bits the OS really gives a new file, and
  * the `file` AbstractFileSystem's renames keep their guarantees —
  * no-overwrite is a compare-and-set, overwrite replaces, and a stale
  * checksum sidecar never outlives the bytes it summed.
  */
class LocalFileSystemSpec extends SparkFunSuite {

  private def posixBits(p: NPath): FsPermission = FsPermission.valueOf(
    "-" + PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))

  private def fileContext(dir: String): FileContext = {
    val c = new Configuration()
    c.set(BareLocalFs.Key, classOf[BareLocalFs].getName)
    FileContext.getFileContext(new HPath(s"file://$dir").toUri, c)
  }

  private def put(fc: FileContext, p: HPath, text: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def read(p: String): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  test("the chmod probe reads the bits a plain create and mkdir give") {
    val dir = java.nio.file.Paths.get(tempDir("perm-probe"))
    val f = Files.createFile(dir.resolve("f"))
    val d = Files.createDirectory(dir.resolve("d"))
    val (fb, db) = NoChmodRawLocalFileSystem.createdBits.get
    assert(fb == posixBits(f))
    assert(db == posixBits(d))
  }

  test("Hadoop's default permissions under the process umask skip the chmod") {
    val p = new ProcessBuilder("sh", "-c", "umask").start()
    val umask = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
    assert(p.waitFor() == 0, s"umask probe failed: $umask")
    val mask = new FsPermission(Integer.parseInt(umask, 8).toShort)
    assert(NoChmodRawLocalFileSystem.isNoop(
      FsPermission.getFileDefault.applyUMask(mask), dir = false))
    assert(NoChmodRawLocalFileSystem.isNoop(
      FsPermission.getDirDefault.applyUMask(mask), dir = true))
    // a permission that is a real change still goes through
    assert(!NoChmodRawLocalFileSystem.isNoop(new FsPermission("700"), dir = false))
  }

  test("rename(NONE) onto an existing file throws and leaves its bytes intact") {
    val dir = tempDir("afs-rename-none")
    val fc = fileContext(dir)
    val (src, dst) = (new HPath(s"file://$dir/src"), new HPath(s"file://$dir/dst"))
    put(fc, dst, "first")
    put(fc, src, "second")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(s"$dir/dst") == "first")
    assert(read(s"$dir/src") == "second")
    // onto an absent name the same rename moves the file
    fc.rename(src, new HPath(s"file://$dir/moved"), Options.Rename.NONE)
    assert(read(s"$dir/moved") == "second" && !Files.exists(java.nio.file.Paths.get(s"$dir/src")))
  }

  test("rename(OVERWRITE) replaces the file; a stale .crc at it goes") {
    val dir = tempDir("afs-rename-over")
    val dst = new HPath(s"file://$dir/dst")
    // Hadoop's checksummed facade writes `.dst.crc` beside it (a new
    // instance: the cached one is the session's)
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(dst.toUri, new Configuration())
    val o = fs.create(dst, true)
    try o.write("old".getBytes("UTF-8")) finally o.close()
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/.dst.crc")))
    val fc = fileContext(dir)
    val src = new HPath(s"file://$dir/src")
    put(fc, src, "new bytes")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/.dst.crc")))
    // a checksummed read verifies nothing stale
    val in = fs.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "new bytes")
    finally { in.close(); fs.close() }
  }
}
