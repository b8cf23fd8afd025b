package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Scale notes: AQE handles runtime re-planning (skew joins, partition
  * coalescing) on a real cluster; shuffle.partitions here matches the
  * local core count — on a 1000-executor cluster it would be set to
  * ~2-3x total cores (or left to AQE's coalescing with a high initial
  * value).
  */
object GraftSession {
  def builder(master: String = "local[*]", cpus: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // graft's Catalyst hooks (TopKStrategy, LatestRewrite) are
      // registered at SESSION CONSTRUCTION, never mutated by a query:
      // plan shape must not depend on which query ran first
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // catalog tables (bucketed-join path) land outside the repo
      .config("spark.sql.warehouse.dir",
        System.getProperty("java.io.tmpdir") + "/graft_warehouse")
      // Hadoop caches one `file:` filesystem per scheme and user, not
      // per conf: the class is fixed here, before the session's first
      // `file:` access, never per query
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      // early testdata generations wrote events.ts as parquet
      // TIMESTAMP(NANOS), which the vectorized reader rejects unless
      // read as a Long (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(cpus: Int = 32): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
