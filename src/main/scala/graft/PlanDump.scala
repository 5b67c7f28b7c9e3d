package graft
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Plan snapshot main for the optimization rounds: writes
  * `explain("formatted")` of named queries to `<outDir>/<name>_<tag>.txt`
  * so before/after plan claims in OPTIMIZATION_r*.md are checkable
  * without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(',').map(_.trim).filter(_.nonEmpty).foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
      println(s"[plandump] $n -> $outDir/${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
