package graft

/** `Tables.load` reads the schema parquet inference would give, from
  * one footer on the driver, without a Spark job. */
class TablesSpec extends SparkSpec {

  private def tables(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  test("every table loads with the inferred schema and runs no job") {
    val names = tables(sf)
    assert(names.contains("events") && names.size >= 10, names)
    for (name <- names) {
      val (df, jobs) = jobsOf(Tables.load(spark, sf, name))
      assert(jobs.isEmpty, s"$name: $jobs")
      assert(df.schema == spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
  }

  test("a multi-part table loads with the inferred schema and all its rows") {
    withTempDir("graft_tables") { dir =>
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      docs.repartition(8).write.parquet(s"$dir/documents.parquet")
      val parts = new java.io.File(s"$dir/documents.parquet").list().count(_.startsWith("part-"))
      assert(parts == 8, parts)
      val (df, jobs) = jobsOf(Tables.documents(spark, dir))
      assert(jobs.isEmpty, jobs)
      assert(df.schema == spark.read.parquet(s"$dir/documents.parquet").schema)
      assert(df.count() == docs.count())
    }
  }

  test("an empty table directory fails naming its path") {
    withTempDir("graft_tables_empty") { dir =>
      val path = java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "documents.parquet"))
      val e = intercept[IllegalArgumentException](Tables.documents(spark, dir))
      assert(e.getMessage.contains(path.toString), e.getMessage)
    }
  }
}
