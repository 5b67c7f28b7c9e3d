package org.apache.spark

/** Runs `body` with `sc`'s reliable-checkpoint directory set to `dir`,
  * then restores the previous setting. SparkContext has no public way
  * to unset the directory (`setCheckpointDir` only ever installs a
  * fresh subdirectory), so the scoped form lives in Spark's package:
  * a suite that exercises reliable checkpointing never leaks its
  * directory into the suites that share the session after it.
  */
object CheckpointDirScope {
  def apply[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.checkpointDir = Some(dir)
    try body finally sc.checkpointDir = prev
  }
}
