package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem, setting permissions inside the
  * JVM instead of by starting a process.
  *
  * Without libhadoop (none ships with this build's Spark), the stock
  * `RawLocalFileSystem.setPermission` runs `Shell.execCommand("chmod", ...)`
  * for every file, every `.crc` sidecar and every directory it creates:
  * 768 child processes, at about 3 ms each, for one 256-file
  * `RunPipeline` write. The reference persists its registrar state with
  * in-process file calls only (`lc-lib/registrar/registrar.go:94-199`).
  * [[NioRawLocalFileSystem]] applies the same mode with
  * `Files.setPosixFilePermissions`; wrapping it in a `LocalFileSystem`
  * keeps the `.crc` checksums written and verified, and keeps
  * `FileSystem.getLocal` working.
  *
  * `RunPipeline` registers it for the `file` scheme with
  * [[NioLocalFileSystem.SessionConf]], only when `spark.hadoop.fs.file.impl`
  * is unset, so a deployer's own choice wins.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {

  /** The session setting that makes `file:` paths use this class. */
  val SessionConf: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName

  /** The nine permission bits of `mode` (`0`–`0777`) as NIO permissions. */
  private[util] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = EnumSet.noneOf(classOf[PosixFilePermission])
    // declared OWNER_READ … OTHERS_EXECUTE: mode bits 8 down to 0
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) perms.add(p)
    }
    perms
  }
}

/** `RawLocalFileSystem` whose `setPermission` calls NIO (see
  * [[NioLocalFileSystem]]). Hadoop has already applied the umask to
  * `permission`, so the resulting mode is the stock one. Anything NIO
  * cannot express takes the stock path: bits above `0777` (sticky,
  * setuid, setgid) or a filesystem without POSIX attributes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocalFileSystem.posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
