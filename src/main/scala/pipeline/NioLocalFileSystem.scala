package pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `file:` file system with permissions set in-process. Without
  * libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` in a child
  * process for every file and directory it creates: about six processes
  * per written parquet file (data file, checksum file, staging
  * directories). On a local disk that, not the bytes, sets the cost of a
  * partitioned write with hundreds of files, and it varies with how fast
  * the host forks.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** Options that send one write's `file:` paths through this file system.
    * The cache is off for them because the JVM-wide cache, keyed by scheme,
    * already holds the stock `file:` instance.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
