package graft.streaming

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Checkpoint file manager for the engine's local checkpoints
  * (`spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Without libhadoop, Hadoop's raw local filesystem forks a process for
  * each temp-file permission set (`chmod`) and each rename's link lookup
  * (`readlink`): about 30 forks per micro-batch across the offset log, the
  * commit log and the state-store delta files. For `file:` paths this
  * writes the temp file with a plain `FileOutputStream` and renames it
  * with `Files.move`; everything else is the FileContext manager's. A
  * rename that may not overwrite still fails with Hadoop's
  * `FileAlreadyExistsException` when the target exists, and deletes its
  * temp file. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  override def createTempFile(path: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(path)
    else new FSDataOutputStream(
      new BufferedOutputStream(new FileOutputStream(local(path).toFile), 1 << 16), null)

  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit =
    if (!isLocal) super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    else if (overwriteIfPossible) {
      Files.move(local(srcPath), local(dstPath),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else {
      try Files.move(local(srcPath), local(dstPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // the caller's stream is closed by now and nobody cancels it
          Files.deleteIfExists(local(srcPath))
          throw new FileAlreadyExistsException(s"Failed to rename $srcPath to $dstPath as it exists")
      }
    }
}
