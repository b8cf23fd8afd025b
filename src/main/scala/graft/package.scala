package object graft {
  /** A named query: (session, sfDir) => result DataFrame. */
  type QFn = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Runs `body` with `desc` as the Spark job description, so the jobs
    * it submits carry that name in listeners and `Dev explain`'s job
    * log, then restores the previous description. */
  def withJobDescription[T](s: org.apache.spark.sql.SparkSession, desc: String)(body: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }
}
