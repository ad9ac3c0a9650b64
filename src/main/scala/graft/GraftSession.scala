package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession factory for every runnable main (Bench, Verify, QTime,
  * QCheck, QExplain, AdjProbe, WorkloadTime, Demo) so no tool can drift from the session config the others
  * verified under — QTime once omitted `nanosAsLong` and crashed on every
  * events-backed query while Bench ran them fine.
  */
object GraftSession {

  /** Local session sized by SPARK_GRAFT_CPUS (default `defaultCpus`).
    * `spark.sql.legacy.parquet.nanosAsLong` is load-bearing: testdata
    * events.ts is INT64 TIMESTAMP(NANOS), readable only as a nanos Long.
    */
  def local(appName: String, defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
