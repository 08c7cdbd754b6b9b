package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, except that setting a permission does
  * not fork. Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `chmod` in a child process, and Hadoop sets the permission of every
  * file and directory it creates — five forks for each table a writer
  * lands (its dir, part file, `_SUCCESS` and their `.crc` files). This
  * one sets the same mode bits through `java.nio`. It keeps Hadoop's own
  * path where `chmod` and a POSIX permission set differ: the sticky bit,
  * a directory's setuid/setgid bits (`chmod 0755` keeps them) and a
  * store that is not POSIX. `GraftSession.builder` registers it for
  * `file:`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // 0x200 is the sticky bit
      if ((mode & 0x200) != 0 || !setByNio(pathToFile(p).toPath, mode)) super.setPermission(p, permission)
    }
  }

  /** Sets the `rwxrwxrwx` bits of `mode` on `file`, unless it is a
    * directory with setuid or setgid bits, which `chmod` keeps and a
    * POSIX permission set clears. False if it set nothing: that case,
    * or a store that is not POSIX.
    */
  private def setByNio(file: java.nio.file.Path, mode: Int): Boolean =
    try {
      val st = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val keepsSetIds = (st & 0xf000) == 0x4000 && (st & 0xc00) != 0 // S_IFDIR, S_ISUID | S_ISGID
      if (!keepsSetIds) Files.setPosixFilePermissions(file,
        PosixFilePermission.values.zipWithIndex // owner-to-others order
          .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }.toSet.asJava)
      !keepsSetIds
    } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
}
