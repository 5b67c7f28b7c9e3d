package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on: `cores` task slots and
  * as many shuffle partitions, UTC session time, nanosecond parquet
  * timestamps read as longs (see [[Tables.events]]), no UI.
  */
object GraftSession {

  /** Cores from `SPARK_GRAFT_CPUS`, else every available processor. */
  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = envCores): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
