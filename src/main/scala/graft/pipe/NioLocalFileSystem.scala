package graft.pipe

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of the pipeline's own writes: Hadoop's
  * checksummed [[LocalFileSystem]] (the `.crc` side files stay) over a
  * raw file system that sets permissions in-process.
  *
  * Spark bundles the Hadoop client without its native library, so the
  * stock `RawLocalFileSystem.setPermission` forks `chmod` for every
  * file, `.crc` file and directory it creates — about a thousand child
  * processes per 64-bucket job. Hadoop builds the class by reflection
  * from `fs.file.impl`, hence the no-arg constructor. It is reached only
  * through [[NioLocalFileSystem.writerOptions]]; no session or global
  * Hadoop conf names it, and other schemes are untouched.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` is one
    * `Files.setPosixFilePermissions` call. Modes with a bit beyond 0777
    * (sticky, setuid), which the POSIX permission set cannot express,
    * and file stores without POSIX attributes take the stock path.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // enum order OWNER_READ .. OTHERS_EXECUTE is mode bit 8 .. bit 0
        PosixFilePermission.values.foreach { b =>
          if ((mode >> (8 - b.ordinal) & 1) == 1) perms.add(b): Unit
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }

  /** DataFrameWriter options that route one write's `file:` paths
    * through this file system. The Hadoop FileSystem cache is keyed by
    * scheme and user, not by conf, so without `disable.cache` the writer
    * would get back the cached, forking instance.
    */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
