package graft.sources

import graft.Tables
import graft.operators.Iterate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hilbert-curve layout — the locality upgrade over [[Layout]]'s
  * Z-order: Morton interleaving has unbounded "seams" (crossing a
  * high bit teleports the code across the keyspace, so two
  * physically adjacent values can land files apart), while the
  * Hilbert curve visits every cell of the grid with EVERY step
  * adjacent — the standard second rung of lakehouse clustering
  * (Delta/Iceberg both grew HILBERT options after Z-order, for
  * exactly this seam reason). This operator makes the difference
  * MEASURABLE on the table's own key distribution with the metric
  * the theory actually guarantees (Moon–Jagadish–Faloutsos–Saltz
  * 2001, clustering properties of the Hilbert curve): for a
  * rectangular query box, the number of CONTIGUOUS CURVE RUNS the
  * box fragments into — each run is one contiguous file/offset range
  * a range scan touches, so fewer runs = fewer seeks. (Mean |Δcode|
  * between adjacent cells is NOT smaller for Hilbert — measured here
  * first, morton won — the guarantee is about box fragmentation,
  * and the operator reports exactly that.) Occupied (custkey, day)
  * cells on a 2^bits grid, both codes per cell, aligned 8×8 query
  * boxes, runs = cells whose predecessor code is absent from the
  * box (one anti-join per curve — no window, no sort).
  *
  * The xy→d conversion is the classic iterative quadrant
  * rotate-and-fold, UNROLLED: each of the `bits` rounds is a plain
  * projection threading (hx, hy, hd) through named columns — no
  * recursion, no UDF, and the Spark chain and the DuckDB nested
  * CTEs are generated from the same round template, so the codes
  * are engine-identical by construction (the [[Layout.morton]]
  * discipline). Everything is integer bit arithmetic; means ride
  * micro units via `div`.
  *
  * Scale: codes are per-row projections on the scan; the occupied
  * grid is ≤ 4^bits rows (bounded), materialized once
  * ([[Iterate.materialize]] — two neighbor self-joins read it); the report
  * is 1 row.
  */
object Hilbert {

  /** Grid order: 6 bits per axis → a 64×64 cell grid. */
  val Bits = 6

  /** Thread one rotate-and-fold round over named columns. Spark side:
    * three projections per round (rx/ry, fold, swap).
    */
  private def sparkRound(df: DataFrame, s: Long): DataFrame =
    df
      .withColumn("rx", when(col("hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
      .withColumn("ry", when(col("hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
      .withColumn("x1", when(col("ry") === 0 && col("rx") === 1,
        lit(s - 1) - col("hx")).otherwise(col("hx")))
      .withColumn("y1", when(col("ry") === 0 && col("rx") === 1,
        lit(s - 1) - col("hy")).otherwise(col("hy")))
      .withColumn("hd", col("hd") +
        lit(s * s) * (lit(3L) * col("rx")).bitwiseXOR(col("ry")))
      .withColumn("hx2", when(col("ry") === 0, col("y1")).otherwise(col("x1")))
      .withColumn("hy2", when(col("ry") === 0, col("x1")).otherwise(col("y1")))
      .drop("hx", "hy", "rx", "ry", "x1", "y1")
      .withColumnRenamed("hx2", "hx").withColumnRenamed("hy2", "hy")

  /** Add column `h` = Hilbert d of (x, y) on the 2^bits grid. */
  def withHilbert(df: DataFrame, bits: Int = Bits): DataFrame = {
    var cur = df.withColumn("hx", col("x")).withColumn("hy", col("y"))
      .withColumn("hd", lit(0L))
    for (b <- (bits - 1) to 0 by -1) cur = sparkRound(cur, 1L << b)
    cur.withColumnRenamed("hd", "h").drop("hx", "hy")
  }

  /** The same rounds as nested CTEs for the DuckDB oracle. */
  private def hilbertRoundsSql(bits: Int): String =
    (0 until bits).map { i =>
      val s = 1L << (bits - 1 - i)
      s"""h${i + 1} AS (
         |  SELECT x, y,
         |    CASE WHEN ry = 0 THEN y1 ELSE x1 END AS hx,
         |    CASE WHEN ry = 0 THEN x1 ELSE y1 END AS hy,
         |    hd + ${s * s} * xor(3 * rx, ry) AS hd
         |  FROM (
         |    SELECT x, y, hd, rx, ry,
         |      CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - hx ELSE hx END AS x1,
         |      CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - hy ELSE hy END AS y1
         |    FROM (
         |      SELECT *,
         |        CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |        CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
         |      FROM h$i))
         |)""".stripMargin
    }.mkString(",\n")

  /** Aligned query-box edge (8×8 cells per box). */
  val BoxEdge = 8L

  /** q_hilbert — the box-fragmentation report: occupied 64×64 cells
    * of (custkey mod 64, order-day mod 64), coded under Morton and
    * Hilbert; per aligned 8×8 box, a cell STARTS a run when its
    * predecessor code is not in the box; mean runs/box in micro
    * units per curve. Fewer runs = fewer contiguous ranges a box
    * query reads.
    */
  def hilbertReport(s: SparkSession, d: String): DataFrame = {
    val cellsRaw = Tables.orders(s, d)
      .select((col("o_custkey") % 64).cast("long").as("x"),
        (floor(unix_timestamp(col("o_orderdate")) / 86400L).cast("long") % 64)
          .as("y"))
      .distinct()
    val coded = Iterate.materialize(withHilbert(cellsRaw)
      .withColumn("z", Layout.morton(col("x"), col("y"), Bits))
      .withColumn("bx", expr(s"x div $BoxEdge"))
      .withColumn("by", expr(s"y div $BoxEdge")))
    def starts(code: String): DataFrame = {
      val prev = coded.select(col("bx").as("pbx"), col("by").as("pby"),
        col(code).as("pc"))
      coded.join(prev,
        col("pbx") === col("bx") && col("pby") === col("by") &&
          col("pc") === col(code) - 1, "left_anti")
        .agg(count(lit(1)).cast("long").as(s"runs_$code"))
    }
    val meta = coded.agg(count(lit(1)).cast("long").as("n_cells"),
      count_distinct(col("bx"), col("by")).cast("long").as("n_boxes"))
    meta.crossJoin(broadcast(starts("z"))).crossJoin(broadcast(starts("h")))
      .select(col("n_cells"), col("n_boxes"),
        expr("(runs_z * 1000000) div n_boxes").as("runs_z_micro"),
        expr("(runs_h * 1000000) div n_boxes").as("runs_h_micro"),
        (col("runs_h") < col("runs_z")).as("hilbert_better"))
  }

  val hilbertReportSql: String =
    s"""WITH cells AS (
       |  SELECT DISTINCT (o_custkey % 64)::BIGINT AS x,
       |         (floor(date_part('epoch', o_orderdate) / 86400)::BIGINT % 64) AS y
       |  FROM orders
       |), h0 AS (
       |  SELECT x, y, x AS hx, y AS hy, 0::BIGINT AS hd FROM cells
       |),
       |${hilbertRoundsSql(Bits)},
       |coded AS MATERIALIZED (
       |  SELECT c.x, c.y, h.hd AS h, ${Layout.mortonSql("c.x", "c.y", Bits)} AS z,
       |         c.x // $BoxEdge AS bx, c.y // $BoxEdge AS by
       |  FROM cells c JOIN h$Bits h ON h.x = c.x AND h.y = c.y
       |), rz AS (
       |  SELECT count(*)::BIGINT AS runs_z FROM coded a
       |  WHERE NOT EXISTS (SELECT 1 FROM coded b
       |    WHERE b.bx = a.bx AND b.by = a.by AND b.z = a.z - 1)
       |), rh AS (
       |  SELECT count(*)::BIGINT AS runs_h FROM coded a
       |  WHERE NOT EXISTS (SELECT 1 FROM coded b
       |    WHERE b.bx = a.bx AND b.by = a.by AND b.h = a.h - 1)
       |), meta AS (
       |  SELECT count(*)::BIGINT AS n_cells,
       |         count(DISTINCT (bx, by))::BIGINT AS n_boxes
       |  FROM coded
       |)
       |SELECT n_cells, n_boxes,
       |       (runs_z * 1000000) // n_boxes AS runs_z_micro,
       |       (runs_h * 1000000) // n_boxes AS runs_h_micro,
       |       runs_h < runs_z AS hilbert_better
       |FROM meta CROSS JOIN rz CROSS JOIN rh""".stripMargin
}
