package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`file:`) whose permission
  * calls start no process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `chmod`, and it runs for every local file or directory created
  * with a permission: `create` (data file and `.crc` sidecar) and
  * `mkdirs`. Streaming checkpoint commits, state-store delta and
  * checksum files, file-sink `_spark_metadata` entries and parquet part
  * files are all such creates. This file system sets the same nine
  * permission bits with `Files.setPosixFilePermissions`; everything else,
  * checksums included, is Hadoop's own. It is a `LocalFileSystem`, so
  * `FileSystem.getLocal` and Spark's `LocalFileSystem` checks accept it.
  *
  * Install it with `fs.file.impl` (`graft.HarnessConf` does); LocalFsSpec
  * checks that the files written and their modes equal the stock file
  * system's.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with a `setPermission` on `java.nio`. A sticky
    * bit, which `PosixFilePermission` cannot express, and a file store
    * without POSIX attributes take Hadoop's own path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  // PosixFilePermission.values runs owner read/write/execute, group, others:
  // mode bits 0400 down to 0001
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(perm)
    }
    s
  }
}
