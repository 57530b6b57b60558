package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint file manager, except that a `file:` path
  * is written with `java.nio`. Without the native Hadoop library every
  * file Hadoop's local filesystem creates forks a `chmod` (and a second
  * one for its `.crc`), so the default manager spends ~28 ms on each
  * offset-log and commit-log entry: the micro-batch's commit floor. Here
  * a file costs ~0.1 ms.
  *
  * A file is staged as a dot-prefixed temp file beside its target and
  * published on `close()`: an overwrite by an atomic rename (after
  * deleting a `.crc` Hadoop may have left for the old file: Hadoop's
  * `FileSystem` would verify the new bytes against it); a create by a
  * hard link, which fails on an existing target with Hadoop's
  * [[FileAlreadyExistsException]], the signal `HDFSMetadataLog` uses to
  * detect a concurrent writer. Neither fsyncs, like Hadoop's local
  * filesystem. Other schemes and all reads, listings and deletes go to
  * the superclass.
  *
  * Installed through `spark.sql.streaming.checkpointFileManagerClass`,
  * which Spark instantiates with this constructor.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  override def createAtomic(path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val qualified = fc.makeQualified(path)
    if (qualified.toUri.getScheme != "file") super.createAtomic(path, overwriteIfPossible)
    else {
      val target = Paths.get(qualified.toUri)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new LocalCheckpointFileManager.Staged(target, tmp, overwriteIfPossible)
    }
  }
}

object LocalCheckpointFileManager {
  private final class Staged(target: NioPath, tmp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var finished = false

    override def close(): Unit = synchronized {
      if (!finished) {
        finished = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else Files.createLink(target, tmp)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$target already exists")
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!finished) {
        finished = true
        try super.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}
