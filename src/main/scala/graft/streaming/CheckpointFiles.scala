package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The streaming checkpoint manager of every [[graft.GraftSession.derived]]
  * session: Spark's FileSystem-based manager, except that a `file:`
  * checkpoint goes through a [[LocalFileSystem]] over
  * [[NioPermissionsLocalFileSystem]]. Checksums (`.crc` siblings),
  * rename-based atomic writes and permission bits are the stock ones;
  * only the way a permission is set changes. Any other scheme keeps the
  * FileSystem the path resolves to. State stores (HDFS-backed and
  * RocksDB) create their managers from the same conf, so they write
  * through it too. */
class CheckpointFiles(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override protected val fs: FileSystem = {
    val resolved = path.getFileSystem(hadoopConf)
    if (!resolved.isInstanceOf[LocalFileSystem]) resolved
    else {
      // the construction FileSystem.get performs: setConf, then initialize
      val local = new LocalFileSystem(new NioPermissionsLocalFileSystem)
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }
}

/** Hadoop's raw local file system, setting permission bits through
  * `java.nio` instead of a forked `chmod`. Without the native Hadoop
  * library `RawLocalFileSystem.setPermission` runs `chmod` in a new
  * process, and every file create (data file and `.crc`) and every
  * `mkdirs` with a permission calls it: 4.2–5.0 ms per call on a 4-core
  * VM, against 0.007–0.02 ms for the NIO call (mean of 200 calls, three
  * rounds). It defers to Hadoop
  * whenever NIO cannot set the same bits: native IO is loaded, the
  * sticky bit is set, or the default file system has no POSIX view. */
class NioPermissionsLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit || !NioPermissionsLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioPermissionsLocalFileSystem.bits(permission.toShort))
}

object NioPermissionsLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The `rwxrwxrwx` bits of a mode as NIO permissions; the enum lists
    * them from owner-read (octal 400) down to others-execute (1). */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (256 >> i)) != 0) set.add(p)
    }
    set
  }
}
