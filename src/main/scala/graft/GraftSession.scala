package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Scale notes: AQE handles runtime re-planning (skew joins, partition
  * coalescing) on a real cluster; shuffle.partitions here matches the
  * local core count — on a 1000-executor cluster it would be set to
  * ~2-3x total cores (or left to AQE's coalescing with a high initial
  * value).
  *
  * Generated classes: Spark keeps the classes Janino compiles for
  * whole-stage and projection code in one JVM-wide LRU cache of
  * `spark.sql.codegen.cache.maxEntries` entries, 100 by default.
  * graft's working set is larger:
  *  - one `curation` iteration (d7, s1, s4) generates 125 distinct
  *    classes, so at 100 entries every warm iteration recompiled
  *    94–115 of them on the critical path of its stages;
  *  - one cold pass over every registered query at sf0.001 compiles
  *    4,227 distinct classes, staging included. A warm pass then
  *    compiles about 400–550 more that no later pass reuses (the
  *    streaming queries generate theirs anew on every run), which the
  *    LRU order evicts first.
  * [[CodegenCacheEntries]] is about twice the cold pass, leaving room
  * for those and for the plans AQE picks at another scale (Bench warms
  * up at sf0.001 and times sf0.1 in one JVM). Holding that cold pass
  * costs about 34 MB of Metaspace and 216 MB of heap over the default.
  *
  * The conf is static: Spark reads it once per JVM, when
  * `CodeGenerator` is first used, and every later session shares that
  * cache. So it is fixed here, in the one factory every session is
  * built from, before any query runs.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`; see the object doc. */
  val CodegenCacheEntries: Int = 8192

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def local(cpus: Int = 32): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
