package graft.io

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

class LocalFileSystemSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def tree(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  test("file:/// resolves to graft.io.LocalFileSystem in every configuration") {
    for (conf <- Seq(new Configuration(), spark.sparkContext.hadoopConfiguration)) {
      val fs = FileSystem.get(new URI("file:///"), conf)
      assert(fs.isInstanceOf[LocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[RawLocalFileSystem])
    }
  }

  test("Spark writes get Hadoop's modes and keep .crc sidecars") {
    val conf = spark.sparkContext.hadoopConfiguration
    // what Hadoop's own local file system gives a directory and a file
    val hadoopFs = new org.apache.hadoop.fs.LocalFileSystem()
    hadoopFs.initialize(new URI("file:///"), conf)
    val ref = Paths.get(graft.ops.Core.tmp("graft_fs_ref"))
    val refDir = new HPath(ref.resolve("d").toUri)
    assert(hadoopFs.mkdirs(refDir))
    hadoopFs.create(new HPath(refDir, "f")).close()
    val dirMode = mode(ref.resolve("d"))
    val fileMode = mode(ref.resolve("d/f"))
    if (FsPermission.getUMask(conf).toShort == Integer.parseInt("022", 8)) {
      assert(dirMode == "rwxr-xr-x")
      assert(fileMode == "rw-r--r--")
    }

    val root = Paths.get(graft.ops.Core.tmp("graft_fs_write"))
    val df = spark.range(100).selectExpr("id", "id * 2 AS twice").repartition(2)
    df.write.csv(root.resolve("csv").toString)
    df.write.parquet(root.resolve("parquet").toString)
    for (out <- Seq("csv", "parquet")) {
      val paths = tree(root.resolve(out))
      val (dirs, regular) = paths.partition(Files.isDirectory(_))
      dirs.foreach(d => assert(mode(d) == dirMode, d))
      regular.foreach(f => assert(mode(f) == fileMode, f))
      val data = regular.filter(_.getFileName.toString.startsWith("part-"))
      assert(data.size == 2, s"$out: $data")
      for (f <- data)
        assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
    }
  }

  test("setPermission sets rwx bits, and the sticky bit through Hadoop's code") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = Paths.get(graft.ops.Core.tmp("graft_fs_modes"))
    def set(octal: String): Int = {
      fs.setPermission(new HPath(dir.toUri), new FsPermission(Integer.parseInt(octal, 8).toShort))
      Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    }
    assert(set("750") == Integer.parseInt("750", 8))
    assert(set("1777") == Integer.parseInt("1777", 8))
  }
}
