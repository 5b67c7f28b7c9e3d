package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SAX — Symbolic Aggregate approXimation (Lin–Keogh–Lonardi–Chiu
  * 2003) of each event type's hourly series: PAA-compress the series
  * to [[Frames]] frame means, then discretize to a [[Alphabet]]-letter
  * word. The word is the INDEXABLE form of a shape — two types with
  * the same word have the same coarse trajectory, and a type whose
  * word changed week over week changed shape (the motif/novelty
  * primitive for series, as `q_fingerprint` is for text).
  *
  * Two deliberate exactness departures from the paper, both
  * documented: (1) integer PAA — frame(t) = (t·W) div H assigns each
  * hour to exactly one frame (sizes differ by ≤1; the paper's
  * fractional-overlap PAA would put IEEE fractions in the fold), and
  * each frame mean is micro-fixed by one truncating div of exact
  * sums; (2) EQUI-DEPTH breakpoints — exact order statistics of the
  * pooled PAA values at ranks (k·n) div A (the q_equidepth
  * discipline) instead of Gaussian quantiles of a z-normalized
  * series (whose mean/std would ride doubles); a value equal to a
  * breakpoint falls in the LOWER bucket. Both engines agree
  * bit-for-bit; no doubles exist anywhere.
  *
  * Scale: one corpus fold to the dense H·|types| cell grid (the
  * q_theil_sen grid), one fold to the W·|types| PAA frame, breakpoints
  * from a bounded rank window, symbols by a broadcast ≤(A−1)-row
  * join, words by a per-type sorted fold. Nothing after the first
  * fold is corpus-sized.
  */
object Sax {

  /** PAA frames per series (the word length). */
  val Frames = 8

  /** Alphabet size (letters a..). */
  val Alphabet = 4

  def sax(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val span = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = span.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"),
      col("lo"))
      .withColumn("t", ((unix_micros(col("h")) - unix_micros(col("lo"))) /
        3600000000L).cast("long"))
    val grid = hours.crossJoin(ev.select(col("event_type")).distinct())
    val agg = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("y"))
    val cells = grid.join(agg, Seq("h", "event_type"), "left")
      .select(col("event_type"), col("t"),
        coalesce(col("y"), lit(0L)).as("y"))
    saxOf(cells)
  }

  /** SAX words over any (event_type, t, y) dense cell frame. */
  private[graft] def saxOf(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val hspan = cells.agg((max(col("t")) + 1L).as("hh"))
    val paa = Iterate.materialize(cells.crossJoin(broadcast(hspan))
      .withColumn("f", expr(s"(t * $Frames) div hh"))
      .groupBy(col("event_type"), col("f"))
      .agg(expr("(sum(y) * 1000000) div count(1)").as("paa_micro")))
    val rw = Window.orderBy(col("paa_micro"), col("event_type"), col("f"))
    val bps = paa.withColumn("rk", row_number().over(rw).cast("long"))
      .withColumn("n", count(lit(1)).over(all))
      .filter((1 until Alphabet).map(k =>
        col("rk") === expr(s"(n * $k) div $Alphabet")).reduce(_ || _))
      // distinct: tied paa_micro blocks can land 2 ranks on one value;
      // without dedup the symbol count would skip a letter (a->c) and
      // silently shrink the effective alphabet
      .select(col("paa_micro").as("bp")).distinct()
    val syms = paa.crossJoin(broadcast(bps))
      .groupBy(col("event_type"), col("f"), col("paa_micro"))
      .agg(sum((col("paa_micro") > col("bp")).cast("long")).as("sym"))
      .withColumn("letter", expr("substr('abcdefgh', cast(sym as int) + 1, 1)"))
    syms.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_frames"),
        array_join(transform(array_sort(collect_list(struct(col("f"),
          col("letter")))), s => s.getField("letter")), "").as("sax_word"),
        min(col("paa_micro")).as("paa_min_micro"),
        max(col("paa_micro")).as("paa_max_micro"))
  }

  val saxSql: String =
    s"""WITH span AS (
       |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
       |  FROM events
       |), hours AS (
       |  SELECT g.h, ((epoch_us(g.h) - epoch_us(s.lo)) // 3600000000)::BIGINT AS t
       |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span) g
       |  CROSS JOIN span s
       |), agg AS (
       |  SELECT date_trunc('hour', ts) AS h, event_type, count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), cells AS (
       |  SELECT ty.event_type, hours.t, coalesce(agg.y, 0)::BIGINT AS y
       |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
       |  LEFT JOIN agg ON agg.h = hours.h AND agg.event_type = ty.event_type
       |), hspan AS (
       |  SELECT max(t) + 1 AS h FROM cells
       |), paa AS MATERIALIZED (
       |  SELECT event_type, (t * $Frames) // (SELECT h FROM hspan) AS f,
       |         (sum(y) * 1000000) // count(*) AS paa_micro
       |  FROM cells GROUP BY 1, 2
       |), nstat AS (
       |  SELECT count(*)::BIGINT AS n FROM paa
       |), bps AS (
       |  SELECT DISTINCT paa_micro AS bp
       |  FROM (SELECT paa_micro, row_number() OVER (ORDER BY paa_micro,
       |          event_type, f) AS rk FROM paa)
       |  CROSS JOIN nstat
       |  WHERE ${(1 until Alphabet).map(k =>
      s"rk = (n * $k) // $Alphabet").mkString(" OR ")}
       |), syms AS (
       |  SELECT p.event_type, p.f,
       |         p.paa_micro,
       |         sum((p.paa_micro > b.bp)::BIGINT)::BIGINT AS sym
       |  FROM paa p CROSS JOIN bps b
       |  GROUP BY 1, 2, 3
       |)
       |SELECT event_type, count(*)::BIGINT AS n_frames,
       |       string_agg(substr('abcdefgh', sym::INT + 1, 1), '' ORDER BY f)
       |         AS sax_word,
       |       min(paa_micro)::BIGINT AS paa_min_micro,
       |       max(paa_micro)::BIGINT AS paa_max_micro
       |FROM syms GROUP BY event_type ORDER BY event_type""".stripMargin
}
