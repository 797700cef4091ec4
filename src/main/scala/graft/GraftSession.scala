package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every entry point (and the
  * test suites) builds through [[builder]] and chains only what it needs
  * to differ, so the plans a dev tool inspects are the plans the bench
  * runs.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with the engine's extensions, shuffle partitions =
    * cpus, AQE on, UTC session time, legacy nanos-as-long parquet reads
    * (the events table's encoding) and no UI.
    */
  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
