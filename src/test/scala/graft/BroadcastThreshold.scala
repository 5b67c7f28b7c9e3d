package graft

import org.apache.spark.sql.SparkSession

/** Runs `body` with the session's `spark.sql.autoBroadcastJoinThreshold`
  * — also [[operators.Iterate]]'s size rule — at `bytes`, then restores
  * the previous setting. −1 forces every iterative round onto its
  * distributed plan.
  */
object BroadcastThreshold {
  val Key = "spark.sql.autoBroadcastJoinThreshold"

  def apply[T](spark: SparkSession, bytes: Long)(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    spark.conf.set(Key, bytes)
    try body
    finally prev.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }
}
