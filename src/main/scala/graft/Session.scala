package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and the test suites run on:
  * `local[cores]` with as many shuffle partitions, UI off, UTC session
  * time zone, [[graft.plans.GraftExtensions]], log level WARN. */
object Session {

  /** Cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def apply(cores: Int = cores,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
