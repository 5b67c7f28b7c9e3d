package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Audience overlap matrix — exact pairwise user-set intersection and
  * Jaccard between event types: the segmentation question every
  * activation/targeting pipeline asks ("do purchasers overlap with
  * error-hitters; is signup reach disjoint from view reach"), and the
  * EXACT audit of the sketch answer the [[Hll]] family serves at
  * 100 TB (|A∩B| by inclusion–exclusion over mergeable registers —
  * cross-validated against this exact matrix in AudienceSpec, the
  * q_lift cross-operator-validation discipline).
  *
  * Determinism: everything is exact BIGINT set counting off one
  * distinct fold; Jaccard divides once, r6. The pair grid is DENSE
  * (a disjoint pair reports 0, not absence — disjointness IS the
  * finding).
  *
  * Scale: one distinct fold to (type, user) — partial-agg, map-side;
  * the pair intersection is a SELF-JOIN ON user_id (co-partitioned,
  * never |types|² corpus passes — each user contributes its own
  * ≤|types|² type pairs at the join row); sizes are a ≤|types|
  * broadcast; output ≤|types|²/2 rows. At 100 TB the (type, user)
  * frame buckets by user and the join is exchange-free.
  */
object Audience {

  /** Dense ordered-pair overlap matrix over any `(event_type,
    * user_id)` events frame: `(type_a, type_b, n_a, n_b, n_both,
    * jaccard)` for every type_a < type_b.
    */
  def overlap(ev: DataFrame): DataFrame = {
    val tu = ev.select(col("event_type"), col("user_id")).distinct()
      .persist() // barrier: sizes + both self-join sides
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = tu.as("a").join(tu.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val grid = sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))
      .join(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")),
        col("type_a") < col("type_b"))
    grid.join(inter, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
      .withColumn("jaccard",
        TextSim.r6(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both"))))
  }

  /** q_audience_overlap — [[overlap]] over the events table. */
  def audienceOverlap(s: SparkSession, d: String): DataFrame =
    overlap(Tables.events(s, d))

  val audienceOverlapSql: String =
    s"""WITH tu AS MATERIALIZED (
       |  SELECT DISTINCT event_type, user_id FROM events
       |), sizes AS (
       |  SELECT event_type, count(*)::BIGINT AS n FROM tu GROUP BY 1
       |), inter AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         count(*)::BIGINT AS n_both
       |  FROM tu a JOIN tu b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT sa.event_type AS type_a, sb.event_type AS type_b,
       |       sa.n AS n_a, sb.n AS n_b,
       |       coalesce(i.n_both, 0)::BIGINT AS n_both,
       |       ${TextSim.r6Sql(
      "coalesce(i.n_both, 0)::DOUBLE / (sa.n + sb.n - coalesce(i.n_both, 0))")} AS jaccard
       |FROM sizes sa
       |JOIN sizes sb ON sa.event_type < sb.event_type
       |LEFT JOIN inter i
       |  ON i.type_a = sa.event_type AND i.type_b = sb.event_type
       |ORDER BY type_a, type_b""".stripMargin
}
