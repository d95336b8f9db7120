package graft.sources.v2

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, FSDataInputStream, FSDataOutputStream, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local disk under its own scheme ([[CountingLocalFileSystem.Scheme]]),
  * counting the filesystem calls an object store would bill as round
  * trips. Registered per scheme through `fs.<scheme>.impl` and (for
  * `FileContext`) `fs.AbstractFileSystem.<scheme>.impl` ([[CountingFs]]),
  * it runs Hadoop's generic code paths — none of the `file` scheme's
  * special cases. Only the outermost call counts: an `exists` that
  * Hadoop implements through `getFileStatus` is one `exists`.
  */
class CountingLocalFileSystem extends RawLocalFileSystem {
  import CountingLocalFileSystem.count

  override def getUri: URI = CountingLocalFileSystem.Uri
  override def getScheme: String = CountingLocalFileSystem.Scheme

  override def listStatus(f: Path): Array[FileStatus] =
    count("listStatus")(super.listStatus(f))
  override def globStatus(p: Path): Array[FileStatus] =
    count("globStatus")(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    count("globStatus")(super.globStatus(p, filter))
  override def getFileStatus(f: Path): FileStatus =
    count("getFileStatus")(super.getFileStatus(f))
  override def exists(f: Path): Boolean = count("exists")(super.exists(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    count("open")(super.open(f, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    count("create")(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    count("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    count("rename")(super.rename(src, dst))
}

object CountingLocalFileSystem {
  val Scheme = "graftcount"
  val Uri: URI = URI.create(s"$Scheme:///")
  val Ops: Seq[String] =
    Seq("listStatus", "globStatus", "getFileStatus", "exists", "open", "create", "rename")

  /** The Hadoop confs that register the scheme. */
  val Confs: Seq[(String, String)] = Seq(
    s"fs.$Scheme.impl" -> classOf[CountingLocalFileSystem].getName,
    s"fs.AbstractFileSystem.$Scheme.impl" -> classOf[CountingFs].getName)

  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  private def count[A](op: String)(body: => A): A = {
    val d: Int = depth.get
    if (d == 0) counts.computeIfAbsent(op, _ => new AtomicLong).incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** Calls per op since the last reset, then reset. */
  def drain(): Map[String, Long] = synchronized {
    val r = Ops.map(op => op -> Option(counts.get(op)).map(_.get).getOrElse(0L)).toMap
    counts.clear()
    r
  }
}

/** `FileContext`'s view of [[CountingLocalFileSystem]]: Hadoop's generic
  * delegate, with none of `core.BareLocalFs`'s renames. */
class CountingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingLocalFileSystem, conf,
      CountingLocalFileSystem.Scheme, false)
