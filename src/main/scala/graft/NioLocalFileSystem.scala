package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`.crc` sidecars stay on)
  * over a raw filesystem that sets permission bits in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file and directory a write creates. Registered
  * as `fs.file.impl` by [[GraftSession.tune]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Sets the same bits through `java.nio`; the sticky bit, which NIO
    * cannot express, goes through Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  /** `PosixFilePermission` declares its constants in mode-bit order,
    * from OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.filter(p => (mode & (0x100 >> p.ordinal)) != 0).toSet.asJava
}
