package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session builder of the tool mains (RunAll, BenchExtra,
  * ExplainAudit). `graft.Bench` and `graft.Verify` keep their own builders
  * because their configuration is a fixed external contract. The settings
  * match Bench's session, split sizing included, so a tool run sees the
  * same plan shapes as a bench run.
  */
object ToolSession {

  def apply(appName: String,
            cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
