package org.apache.spark.sql.execution.streaming.checkpointing

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}

/** [[FileSystemBasedCheckpointFileManager]] with a java.nio fast path
  * for LOCAL checkpoint locations (round-16 optimization, measured by
  * tools/WalWriteProbe (removed; last in 672d67d)).
  *
  * Why it exists: every streaming checkpoint write — offset log,
  * commit log, file-source metadata log, HDFS-state-store delta,
  * RocksDB zip upload — is an atomic create-temp-then-rename through
  * the configured [[CheckpointFileManager]]. On a local filesystem
  * WITHOUT the native Hadoop library (this host, and any local/NVMe
  * checkpoint deployment without libhadoop), each Hadoop-FS create
  * pays a forked `chmod` for the permission call, and the checksummed
  * LocalFileSystem doubles that by writing a `.crc` sidecar per file:
  * ~9–11 ms per checkpoint write where raw java.nio needs ~0.05 ms
  * (same probe). Spark's atomic-write machinery
  * ([[CheckpointFileManager.RenameBasedFSDataOutputStream]]) calls
  * back into the manager's `createTempFile`/`renameTempFile`, so
  * overriding exactly those two with NIO keeps the parent's
  * create-temp → write → rename protocol — same temp-file naming,
  * same cancellation path, same error contract — while removing the
  * fork and the sidecar. All other operations (open/list/exists/
  * delete/mkdirs), and EVERYTHING on non-local filesystems, delegate
  * to the parent unchanged.
  *
  * Semantics notes, deliberate and documented:
  *  - No-overwrite renames (`overwriteIfPossible = false`, the
  *    offset/commit-log add path) check-then-move: a concurrent
  *    writer of the same batch file could in principle win the window
  *    between the exists check and the rename. The parent manager has
  *    the same non-atomic check-then-rename window (its pre-check +
  *    `fs.rename`), and single-driver micro-batch execution serializes
  *    batch-file writers anyway — the loser scenario is a zombie
  *    driver, which this library's run-to-completion pipelines never
  *    create.
  *  - Like the local Hadoop filesystems (neither `LocalFileSystem` nor
  *    `RawLocalFileSystem` fsyncs on close/rename), the NIO path does
  *    not fsync — durability across power loss is not part of the
  *    local-FS checkpoint contract either way.
  *  - Dropping the `.crc` sidecar loses read-time corruption detection
  *    for LOCAL checkpoint files only. Readers go through this same
  *    manager class (Hadoop's checksummed reader skips verification
  *    when no sidecar exists), so mixed read/write is safe.
  *
  * A 100 TB HDFS/object-store deployment is entirely unaffected: the
  * local fast path keys on the resolved filesystem type, and every
  * non-local scheme runs the parent manager's code verbatim
  * (`SPARK_GRAFT_CKPT_FM` in [[graft.SparkEnv]] selects the manager;
  * `default` restores Spark's FileContext-based default).
  */
class GraftLocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val localFast: Boolean =
    try {
      val fs = path.getFileSystem(hadoopConf)
      fs.isInstanceOf[LocalFileSystem] || fs.isInstanceOf[RawLocalFileSystem]
    } catch { case NonFatal(_) => false }

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  override def createTempFile(tempPath: Path): FSDataOutputStream =
    if (!localFast) super.createTempFile(tempPath)
    else {
      val p = nio(tempPath)
      val os =
        try Files.newOutputStream(p, StandardOpenOption.CREATE,
          StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
        catch {
          case _: java.nio.file.NoSuchFileException =>
            // parent dir missing: Hadoop's fs.create makes parents
            // implicitly; mirror that, then retry once
            Files.createDirectories(p.getParent)
            Files.newOutputStream(p, StandardOpenOption.CREATE,
              StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
        }
      // BufferedOutputStream: metadata logs write line-at-a-time;
      // FSDataOutputStream's PositionCache tracks position itself, and
      // its hflush/hsync degrade to flush on a non-Syncable stream —
      // identical to the local Hadoop stream's behavior.
      new FSDataOutputStream(new BufferedOutputStream(os, 32 * 1024), null)
    }

  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit =
    if (!localFast) super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    else {
      val src = nio(srcPath)
      val dst = nio(dstPath)
      if (!overwriteIfPossible && Files.exists(dst)) {
        // mirror the parent: surface the Hadoop FileAlreadyExists type
        // (HDFSMetadataLog catches exactly this to detect a lost race),
        // and clean up the temp file like the parent's rename-failed leg
        Files.deleteIfExists(src)
        throw new FileAlreadyExistsException(
          s"Failed to rename temp file $srcPath to $dstPath as destination already exists")
      }
      // POSIX rename(2): atomic, replaces dst if present — exactly the
      // overwriteIfPossible contract
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
}
