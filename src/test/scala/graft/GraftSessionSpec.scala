package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.graftbridge.CodegenBridge

/** The session factory's fixed settings: the `file:` filesystem class
  * (whose writes must keep Hadoop's modes), the parquet nanos read and
  * the size of the generated-class cache. */
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
    withTempDir("graft_fs_modes") { base =>
      val out = java.nio.file.Paths.get(base, "out")
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

  test("a warm pass over d7, s1 and s4 compiles no class: the codegen cache holds their working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == GraftSession.CodegenCacheEntries.toString)
    val queries = Seq("d7_cluster", "s1_knn_brute", "s4_ivf_probe").map(SparkEntry.queries)
    def pass(): Long = {
      val before = CodegenBridge.compiles()
      queries.foreach(_(spark, sf).write.mode("overwrite").format("noop").save())
      CodegenBridge.compiles() - before
    }
    val cold = pass()
    // AQE's choice of a broadcast join's build side, and its codegen
    // stage numbers, follow the order stages finish in, so a warm pass
    // now and then generates d7 classes no earlier pass did (2 to 8);
    // a cache that evicts (100 entries) recompiles about 94 every pass
    val warm = scala.collection.mutable.ArrayBuffer(pass(), pass())
    while (warm.last != 0 && warm.size < 4) warm += pass()
    assert(warm.last == 0, s"cold pass $cold, warm passes ${warm.mkString(", ")}")
  }
}
