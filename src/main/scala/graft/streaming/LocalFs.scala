package graft.streaming

import java.nio.file.{Files, InvalidPathException, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system without a process per file.
  * Lacking libhadoop, the stock one runs `chmod` for every file or
  * directory it creates and `readlink` for every link-status lookup; this
  * one does both through `java.nio`. Modes, `.crc` sidecars and their
  * verification on read are the stock ones. [[EventPipeline.startQuery]]
  * installs it for every stream ([[LocalFs.settings]]). */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {

  /** A corrupt file stays where it is and its read fails, as under the
    * `ChecksumFs` of the stock checkpoint path; the stock
    * `LocalFileSystem` would move it out of the checkpoint. */
  override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
      sums: FSDataInputStream, sumsPos: Long): Boolean = false
}

object LocalFs {

  final class Raw extends RawLocalFileSystem {

    /** `java.nio` cannot set the sticky, setuid or setgid bits. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    /** The stock lookup hands `readlink` the string `f.toString`, so a
      * qualified `file:/…` path always reads as "not a link"; `java.nio`
      * is asked about that same string, and only a link goes on to it. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val link =
        try Files.isSymbolicLink(Paths.get(f.toString))
        catch { case _: InvalidPathException => false }
      if (link) super.getFileLinkStatus(f) else getFileStatus(f)
    }
  }

  /** The per-query settings: `file:` paths resolve to [[LocalFs]],
    * uncached because the JVM cached a stock `file:` file system before any
    * query started; the checkpoint logs and state files go through it by
    * Spark's `FileSystemBasedCheckpointFileManager`. That is one setting,
    * where routing Hadoop's `FileContext` (the default manager's) to it
    * needs a `ChecksumFs` and a `DelegateToFileSystem` subclass repeating
    * what Hadoop's package-private `RawLocalFs` sets. */
  val settings: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
}
