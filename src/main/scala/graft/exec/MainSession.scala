package graft.exec

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The session of the command-line mains (`BenchExtra`, `RunPipeline`,
  * `LinkDemo`): `cpus` shuffle partitions, adaptive execution with skew-join
  * splitting, UTC, no UI, WARN logs. It runs on `local[cpus]` only when no
  * master is configured, so spark-submit's `--master` wins.
  */
object MainSession {
  def apply(cpus: Int, appName: String): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cpus]")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
