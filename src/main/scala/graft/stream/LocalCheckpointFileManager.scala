package graft.stream

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption => O}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path => HPath, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Forkless checkpoint I/O on the local filesystem.
  *
  * Spark's default checkpoint manager drives every offset-log, commit-log
  * and state-store file through `FileContext`, whose local implementation
  * (without the Hadoop native library) FORKS A PROCESS per operation:
  * `chmod` on each file create, `readlink` on each status probe. A
  * bounded streaming certification commits 8 state partitions × several
  * stores × ~5 triggers plus the offset/commit logs — all-thread stack
  * sampling attributed ~5.4 s of an 11 s session-window run to these
  * forks (`Shell.runCommand`: readLink 3.5 s, create-chmod 0.9 s,
  * mkdirs 0.2 s).
  *
  * This manager issues the same operations as plain java.nio syscalls
  * when the checkpoint lives on `file://` — tmp create + atomic
  * `rename(2)` for `createAtomic` (the identical two-step the
  * FileContext manager performs, minus its forks), forkless
  * `RawLocalFileSystem` streams for reads/listings — and DELEGATES every
  * non-local scheme to the stock `FileContextBasedCheckpointFileManager`
  * untouched, so HDFS/object-store deployments keep Spark's exact
  * semantics. Installed via the documented
  * `spark.sql.streaming.checkpointFileManagerClass` hook (GraftSession
  * sets it; any downstream deployment can override it back).
  */
class LocalCheckpointFileManager(path: HPath, conf: Configuration)
    extends CheckpointFileManager {

  // Locality is resolved from the FILESYSTEM the path binds to, not the
  // raw URI: a scheme-less checkpoint path inherits fs.defaultFS, and on
  // a cluster whose default is hdfs/s3 classifying it "local" would
  // silently write offset/commit logs and state files to the driver's
  // local disk (round-22 advice). Only a resolved `file` scheme is local.
  private val local = {
    val raw = path.toUri.getScheme
    if (raw != null) raw == "file"
    else scala.util.Try(
      path.getFileSystem(conf).getUri.getScheme == "file").getOrElse(false)
  }
  private lazy val delegate = new FileContextBasedCheckpointFileManager(path, conf)
  private lazy val rawFs: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
  private def nio(p: HPath) = Paths.get(p.toUri.getPath)

  /** tmp-create + rename-on-close via java.nio — the same two-step the
    * stock rename-based stream performs, forkless. `cancel` (a failed
    * or abandoned write) drops the tmp file; double close is a no-op;
    * the no-overwrite rename surfaces the HADOOP FileAlreadyExists type
    * (HDFSMetadataLog's concurrent-update detection matches on it).
    */
  private final class NioAtomicStream(
      dst: HPath, tmp: java.nio.file.Path, overwriteIfPossible: Boolean)
      extends CancellableFSDataOutputStream(
        Files.newOutputStream(tmp, O.CREATE, O.TRUNCATE_EXISTING, O.WRITE)) {
    private val terminated = new AtomicBoolean(false)
    override def close(): Unit = if (terminated.compareAndSet(false, true)) {
      super.close()
      if (overwriteIfPossible)
        Files.move(tmp, nio(dst), StandardCopyOption.ATOMIC_MOVE)
      else
        try Files.move(tmp, nio(dst))
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(tmp)
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(
              s"rename destination $dst already exists: ${e.getMessage}")
        }
    }
    override def cancel(): Unit = if (terminated.compareAndSet(false, true)) {
      try super.close() catch { case _: Throwable => () }
      Files.deleteIfExists(tmp)
    }
  }

  override def createAtomic(
      p: HPath, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val np = nio(p)
      if (np.getParent != null) Files.createDirectories(np.getParent)
      val tmp = np.getParent.resolve(
        s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
      new NioAtomicStream(p, tmp, overwriteIfPossible)
    }

  override def open(p: HPath): FSDataInputStream =
    if (!local) delegate.open(p) else rawFs.open(p)

  override def list(p: HPath, filter: PathFilter): Array[FileStatus] =
    if (!local) delegate.list(p, filter) else rawFs.listStatus(p, filter)

  override def mkdirs(p: HPath): Unit =
    if (!local) delegate.mkdirs(p)
    else { Files.createDirectories(nio(p)); () }

  override def exists(p: HPath): Boolean =
    if (!local) delegate.exists(p) else Files.exists(nio(p))

  override def delete(p: HPath): Unit =
    if (!local) delegate.delete(p)
    else {
      try { rawFs.delete(p, true); () }
      catch { case _: java.io.FileNotFoundException => () }
    }

  override def isLocal: Boolean = local

  override def createCheckpointDirectory(): HPath =
    if (!local) delegate.createCheckpointDirectory()
    else { Files.createDirectories(nio(path)); path }
}
