package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrameWriter, Row, SaveMode, SparkSession}

/** The sealed-generation protocol of the file-backed stores: one family
  * of directories under a store root, e.g. [[IndexStore]]'s list table
  * or [[PostingsStore]]'s postings and stats.
  *
  * Generation 0 lives at `<name>/` (`<name>_g0/` when `bareZero` is
  * false) and generation n at `<name>_g<n>/`. The CURRENT generation is
  * the highest one sealed by the `_SUCCESS` marker of Spark's job
  * commit; a family with none sealed is an error, never read as 0. No
  * pointer object is ever rewritten, so a torn write leaves only an
  * unsealed directory that readers skip and the next [[write]] of that
  * generation replaces. Append and dynamic partition overwrite into a
  * sealed generation leave its marker in place.
  */
private[sources] final case class Generations(name: String,
  bareZero: Boolean = true) {
  import Generations._

  def dir(path: String, gen: Long): String =
    if (gen == 0L && bareZero) s"$path/$name" else s"$path/${name}_g$gen"

  private def genOf(dirName: String): Option[Long] =
    if (bareZero && dirName == name) Some(0L)
    else if (dirName.startsWith(s"${name}_g"))
      dirName.stripPrefix(s"${name}_g").toLongOption
    else None

  private def listed(spark: SparkSession, path: String): Seq[(Long, Path)] =
    children(spark, path).flatMap(p => genOf(p.getName).map(_ -> p))

  def isSealed(spark: SparkSession, path: String, gen: Long): Boolean =
    fsOf(spark, path).exists(new Path(dir(path, gen), "_SUCCESS"))

  def current(spark: SparkSession, path: String): Long =
    listed(spark, path).map(_._1).filter(isSealed(spark, path, _))
      .maxOption.getOrElse(throw new IllegalArgumentException(
        s"no sealed $name generation under $path"))

  /** Write generation `gen` (replacing what a torn attempt left); the
    * job commit seals it.
    */
  def write(w: DataFrameWriter[Row], path: String, gen: Long): Unit =
    w.mode(SaveMode.Overwrite).parquet(dir(path, gen))

  /** Delete every generation below `gen`, sealed or not. */
  def dropBelow(spark: SparkSession, path: String, gen: Long): Unit =
    listed(spark, path).foreach { case (g, p) =>
      if (g < gen) fsOf(spark, path).delete(p, true)
    }
}

private[sources] object Generations {

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def children(spark: SparkSession, path: String): Seq[Path] = {
    val fs = fsOf(spark, path)
    if (!fs.exists(new Path(path))) Seq.empty
    else fs.listStatus(new Path(path)).toSeq.map(_.getPath)
  }

  /** What a rebuild reclaims before it rewrites generation 0: every
    * higher generation of `families` (a stale one would shadow the
    * fresh build) and the `extra` side directories.
    */
  def reset(spark: SparkSession, path: String, families: Seq[Generations],
    extra: Set[String]): Unit =
    children(spark, path).foreach { p =>
      val n = p.getName
      if (extra(n) || families.exists(_.genOf(n).exists(_ > 0L)))
        fsOf(spark, path).delete(p, true)
    }

  /** True iff any `<partCol>=` partition directory of `dir` holds more
    * than `maxFiles` parquet files — a listing, no data read.
    */
  def overFileBudget(spark: SparkSession, dir: String, partCol: String,
    maxFiles: Int): Boolean = {
    val fs = fsOf(spark, dir)
    fs.listStatus(new Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .exists(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
  }

  /** Delete partitions `values` of `dir`: a dynamic partition overwrite
    * writes nothing for a partition it emptied, so its old files stay.
    */
  def dropPartitions(spark: SparkSession, dir: String, partCol: String,
    values: Iterable[Int]): Unit =
    values.foreach(v =>
      fsOf(spark, dir).delete(new Path(s"$dir/$partCol=$v"), true))
}
