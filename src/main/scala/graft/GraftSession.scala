package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every entry point runs on (Bench, Verify,
  * ScaleProbe, LogProbe, QueryProbe, ExplainDump): `local[cpus]` with as
  * many shuffle partitions, UTC session time, AQE on, a 64 MB broadcast
  * threshold and no UI — so a plan dumped or probed is the plan the bench
  * times. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
