package graft.sources

import graft.Tables
import graft.functions.GridWindow
import graft.operators.Iterate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_prune_stats — zone-map pruning effectiveness, MEASURED: lay the
  * same table out two ways (arrival order vs Z-order on the
  * (custkey, order-day) pair), derive each file's min/max column
  * stats — exactly what parquet footers carry — and replay a derived
  * predicate workload (point lookups on custkey, range scans on day)
  * against the stats. A file is "scanned" when the predicate interval
  * overlaps its [min, max]; prune_micro is the fraction of
  * (file × predicate) reads the stats eliminate. This is the query
  * that turns `q_zorder`'s cell extents and `q_compaction`'s
  * full-files argument into a NUMBER: arrival-order boxes span the
  * whole custkey range (every point lookup hits every file), Z-order
  * boxes are tight in both dimensions.
  *
  * Determinism: file assignment is row_number over a TOTAL order
  * (arrival: o_orderkey; zorder: (morton, o_orderkey)) in fixed
  * [[RowsPerFile]] chunks — equal file counts per layout, so the
  * comparison is granularity-fair; predicates derive from the data's
  * integer bounds by integer division. Zero floats anywhere.
  *
  * Scale shape: ONE orders scan (checkpoint barrier feeds both layout
  * branches); the global row_number is the exact-audit shape at test
  * scale — in production the file stats come off the write path's
  * range exchange (`Layout.writeZOrdered`) or the table manifest (the
  * `Compaction` grain, ~1 row per 128 MB), so the stats frame is
  * metadata-sized and the workload replay is a broadcast join against
  * it. The predicate table (2·[[NumPreds]] rows) broadcasts.
  */
object PruneStats {

  val RowsPerFile = 250
  val NumPreds = 16

  def pruneStatsQuery(s: SparkSession, d: String): DataFrame =
    pruneStats(Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("k"),
      col("o_custkey").cast("long").as("x"),
      floor(unix_timestamp(col("o_orderdate")) / 86400L).cast("long").as("y")),
      RowsPerFile, NumPreds)

  /** Library form over a `(k, x, y)` frame: k the arrival/tiebreak
    * key, (x, y) the two clustered dimensions.
    */
  def pruneStats(rows: DataFrame, rowsPerFile: Int, numPreds: Int): DataFrame = {
    val pts = Iterate.materialize(
      rows.withColumn("z", Layout.morton(col("x"), col("y"))))

    val fa = pts.withColumn("rk",
      row_number().over(GridWindow.ord(col("k"))))
      .select(lit("arrival").as("layout"),
        expr(s"(rk - 1) div $rowsPerFile").as("fid"), col("x"), col("y"))
    val fz = pts.withColumn("rk",
      row_number().over(GridWindow.ord(col("z"), col("k"))))
      .select(lit("zorder").as("layout"),
        expr(s"(rk - 1) div $rowsPerFile").as("fid"), col("x"), col("y"))
    val stats = fa.unionByName(fz)
      .groupBy(col("layout"), col("fid"))
      .agg(min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))

    val bounds = pts.agg(min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
      min(col("y")).as("y_lo"), max(col("y")).as("y_hi"))
    val idx = bounds.select(col("x_lo"), col("x_hi"), col("y_lo"), col("y_hi"),
      explode(sequence(lit(1), lit(numPreds))).as("i"))
    val predFrame = idx.select(lit("x_point").as("kind"), lit("x").as("dim"),
      expr(s"x_lo + ((x_hi - x_lo) * i) div ${numPreds + 1}").as("lo"),
      expr(s"x_lo + ((x_hi - x_lo) * i) div ${numPreds + 1}").as("hi"))
      .unionByName(idx.select(lit("y_range").as("kind"), lit("y").as("dim"),
        expr(s"y_lo + ((y_hi - y_lo) * (i - 1)) div $numPreds").as("lo"),
        expr(s"y_lo + ((y_hi - y_lo) * i) div $numPreds").as("hi")))

    val hits = stats.join(broadcast(predFrame),
      (col("dim") === "x" && col("lo") <= col("x_max") && col("hi") >= col("x_min")) ||
        (col("dim") === "y" && col("lo") <= col("y_max") && col("hi") >= col("y_min")))
      .groupBy(col("layout"), col("kind"))
      .agg(count(lit(1)).cast("long").as("file_hits"))

    val nf = stats.groupBy(col("layout"))
      .agg(count(lit(1)).cast("long").as("n_files"))
    val kinds = predFrame.select(col("kind")).distinct()
    nf.crossJoin(broadcast(kinds))
      .join(hits, Seq("layout", "kind"), "left")
      .select(col("layout"), col("kind"), col("n_files"),
        lit(numPreds.toLong).as("n_preds"),
        coalesce(col("file_hits"), lit(0L)).as("file_hits"))
      .select(col("layout"), col("kind"), col("n_files"), col("n_preds"),
        col("file_hits"),
        expr(s"(1000000 * (n_files * n_preds - file_hits)) div (n_files * n_preds)")
          .as("prune_micro"))
  }

  val pruneStatsSql: String = {
    val z = Layout.mortonSql("x", "y")
    s"""WITH pts AS (
       |  SELECT o_orderkey::BIGINT AS k, o_custkey::BIGINT AS x,
       |         floor(date_part('epoch', o_orderdate) / 86400)::BIGINT AS y
       |  FROM orders
       |), coded AS (
       |  SELECT k, x, y, $z AS z FROM pts
       |), stats AS (
       |  SELECT layout, fid,
       |         min(x) AS x_min, max(x) AS x_max,
       |         min(y) AS y_min, max(y) AS y_max
       |  FROM (
       |    SELECT 'arrival' AS layout,
       |           (row_number() OVER (ORDER BY k) - 1) // $RowsPerFile AS fid,
       |           x, y
       |    FROM coded
       |    UNION ALL
       |    SELECT 'zorder' AS layout,
       |           (row_number() OVER (ORDER BY z, k) - 1) // $RowsPerFile AS fid,
       |           x, y
       |    FROM coded
       |  ) GROUP BY layout, fid
       |), bounds AS (
       |  SELECT min(x) AS x_lo, max(x) AS x_hi,
       |         min(y) AS y_lo, max(y) AS y_hi
       |  FROM pts
       |), preds AS (
       |  SELECT 'x_point' AS kind, 'x' AS dim,
       |         x_lo + ((x_hi - x_lo) * i) // ${NumPreds + 1} AS lo,
       |         x_lo + ((x_hi - x_lo) * i) // ${NumPreds + 1} AS hi
       |  FROM bounds CROSS JOIN (SELECT unnest(generate_series(1, $NumPreds)) AS i)
       |  UNION ALL
       |  SELECT 'y_range', 'y',
       |         y_lo + ((y_hi - y_lo) * (i - 1)) // $NumPreds,
       |         y_lo + ((y_hi - y_lo) * i) // $NumPreds
       |  FROM bounds CROSS JOIN (SELECT unnest(generate_series(1, $NumPreds)) AS i)
       |), hits AS (
       |  SELECT s.layout, p.kind, count(*)::BIGINT AS file_hits
       |  FROM stats s JOIN preds p
       |    ON (p.dim = 'x' AND p.lo <= s.x_max AND p.hi >= s.x_min)
       |    OR (p.dim = 'y' AND p.lo <= s.y_max AND p.hi >= s.y_min)
       |  GROUP BY s.layout, p.kind
       |), nf AS (
       |  SELECT layout, count(*)::BIGINT AS n_files FROM stats GROUP BY layout
       |)
       |SELECT n.layout, k.kind, n.n_files, $NumPreds::BIGINT AS n_preds,
       |       coalesce(h.file_hits, 0)::BIGINT AS file_hits,
       |       (1000000 * (n.n_files * $NumPreds - coalesce(h.file_hits, 0)))
       |         // (n.n_files * $NumPreds) AS prune_micro
       |FROM nf n
       |CROSS JOIN (SELECT DISTINCT kind FROM preds) k
       |LEFT JOIN hits h ON h.layout = n.layout AND h.kind = k.kind
       |ORDER BY n.layout, k.kind""".stripMargin
  }
}
