package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup of the project's mains and tests:
  * `local[cores]` with as many shuffle partitions, UTC session time,
  * no UI, nanosecond parquet timestamps read as longs (the testdata
  * carries them), and the graft extensions installed.
  */
object LocalSession {

  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The core count a main runs with: `SPARK_GRAFT_CPUS`, default 4. */
  def coresFromEnv: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
}
