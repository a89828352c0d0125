package graft

import org.apache.spark.sql.SparkSession

/** The one way to build the engine's local session. Bench, Verify,
  * ScaleGen and the test suites all take their confs from here, so the
  * oracle checks the same join strategies the bench times. */
object GraftSession {
  /** Cores for the entry points: `SPARK_GRAFT_CPUS`, else 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The SQL confs every session carries, `cores` shuffle partitions. */
  def sqlConfs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m")

  def local(cores: Int = envCores): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config(sqlConfs(cores)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
