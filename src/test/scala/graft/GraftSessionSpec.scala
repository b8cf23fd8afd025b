package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session factory's fixed settings: the `file:` filesystem class
  * (whose writes must keep Hadoop's modes) and the parquet nanos read. */
class GraftSessionSpec extends SparkSpec {

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("file: resolves to the graft filesystem under a graft session") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftLocalFileSystem.Raw])
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("written files and directories keep Hadoop's modes: 0644 and 0755 under umask 022") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FsPermission.getUMask(conf).toShort == Integer.parseInt("022", 8))
    val out = Files.createTempDirectory("graft_fs_modes").resolve("out")
    spark.range(100).toDF("id").repartition(2).write.json(out.toString)
    val s = Files.list(out)
    val files = try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    assert(files.exists(_.getFileName.toString.startsWith("part-")))
    assert(files.exists(_.getFileName.toString.endsWith(".crc")))
    assert(mode(out) == Integer.parseInt("755", 8), f"${mode(out)}%o")
    for (f <- files) assert(mode(f) == Integer.parseInt("644", 8), f"$f: ${mode(f)}%o")
    // every mode bit reaches chmod, the sticky bit included
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    fs.setPermission(new org.apache.hadoop.fs.Path(out.toUri),
      new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(out) == Integer.parseInt("1750", 8), f"${mode(out)}%o")
  }
}
