package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system over [[RawLocalFileSystem]].
  *
  * Like Hadoop's own `LocalFileSystem` it writes a `.crc` sidecar next to
  * every file. `core-site.xml` on the classpath registers it as
  * `fs.file.impl`; Hadoop loads that file into every `Configuration`, so
  * every Spark session picks it up with no option. A `core-site.xml`
  * earlier on the classpath (a cluster's `HADOOP_CONF_DIR`) takes
  * precedence, and Hadoop's own class is used again.
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

/** Hadoop's raw local file system with `setPermission` done in-process.
  *
  * Without libhadoop, Hadoop's `setPermission` forks a `chmod` process, and
  * it is called for every directory and file Hadoop creates: ~20 forks per
  * `WalmartPipeline.run`. The rwx bits are set with
  * `Files.setPosixFilePermissions` instead. The sticky bit, which NIO cannot
  * set, and non-POSIX file systems go through Hadoop's own code;
  * `FsPermission` holds no setuid or setgid bits.
  */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}
