package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.{Comparator, UUID}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * Spark's [[CheckpointFileManager]] over `java.nio` for local checkpoints
 * (`file:` paths, and schemeless ones when the default filesystem is
 * local); any other scheme goes to Spark's default
 * `FileContextBasedCheckpointFileManager`. Hadoop's local filesystem starts a
 * `chmod` or `readlink` process for each checksummed create and rename, so
 * every offset, commit, source-log and state-store file used to cost a few
 * process spawns; this manager starts none and writes no hidden
 * `.<name>.crc` checksum sidecars (Spark's own state-store checksums,
 * `<name>.crc`, are ordinary files to it).
 *
 * `createAtomic` writes a hidden temp file next to the target and `close`
 * publishes it: with overwrite by an atomic move, without by a hard link,
 * which fails with Hadoop's `FileAlreadyExistsException` and leaves the
 * target as it was if it exists. Publishing removes a stale `.<name>.crc`
 * beside the target, so Spark's default manager can still read a
 * checkpoint this one wrote. `open` and `list` use Hadoop's raw local
 * filesystem, which checks no checksums and starts no processes.
 */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val local = Option(path.toUri.getScheme)
    .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
  private lazy val raw = FileSystem.getLocal(conf).getRawFileSystem
  private lazy val fallback = new FileContextBasedCheckpointFileManager(path, conf)

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  def createAtomic(p: Path, overwrite: Boolean): CancellableFSDataOutputStream =
    if (!local) fallback.createAtomic(p, overwrite)
    else {
      val target = nio(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new Publishing(new BufferedOutputStream(Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)),
        tmp, target, overwrite)
    }

  def open(p: Path): FSDataInputStream = if (local) raw.open(p) else fallback.open(p)

  def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (local) raw.listStatus(p, filter) else fallback.list(p, filter)

  def mkdirs(p: Path): Unit = if (local) Files.createDirectories(nio(p)) else fallback.mkdirs(p)

  def exists(p: Path): Boolean = if (local) Files.exists(nio(p)) else fallback.exists(p)

  /** Recursive, and a missing path is no error, as in Spark's managers. */
  def delete(p: Path): Unit =
    if (!local) fallback.delete(p)
    else if (Files.exists(nio(p), LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(nio(p))
      try walk.sorted(Comparator.reverseOrder[NioPath]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  def isLocal: Boolean = local || fallback.isLocal

  def createCheckpointDirectory(): Path =
    if (!local) fallback.createCheckpointDirectory()
    else { mkdirs(path); raw.makeQualified(path) }

  private final class Publishing(out: OutputStream, tmp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(out) {
    private var done = false
    private def crc = target.resolveSibling(s".${target.getFileName}.crc")

    override def close(): Unit = if (!done) {
      done = true
      try {
        super.close()
        if (overwrite) {
          Files.deleteIfExists(crc)
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        } else {
          try Files.createLink(target, tmp)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$target already exists")
          }
          Files.deleteIfExists(crc)
        }
      } finally Files.deleteIfExists(tmp)
    }

    def cancel(): Unit = if (!done) {
      done = true
      try super.close() finally Files.deleteIfExists(tmp)
    }
  }
}
