package graft

import org.apache.spark.sql.SparkSession

/** The one session every graft main runs on (Bench, Verify and the
  * `graft.tools` mains), so their configs cannot drift apart: `local[n]`
  * with n = SPARK_GRAFT_CPUS (default: every available core), n shuffle
  * partitions, AQE on, UTC session time, no UI, the [[functions.GraftExtensions]]
  * expressions and rules, and untruncated plan metadata so
  * PushedFilters/ReadSchema print in full in a dumped plan. */
object GraftSession {

  def apply(app: String): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.maxMetadataStringLength", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
