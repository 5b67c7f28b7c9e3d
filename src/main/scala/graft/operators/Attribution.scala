package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-touch conversion attribution — the marketing-analytics
  * staple closing the events family: `q_funnel` counts stage
  * progressions, `q_session_paths` mines transitions, this answers
  * "which touchpoint gets CREDIT for each purchase" under the three
  * canonical models at once: first-touch, last-touch, and linear
  * (equal split across the journey). A purchase's journey is every
  * non-purchase event of the same user in the [[Paths.GapUs]]
  * lookback window strictly before it; a purchase with no journey
  * credits the `(direct)` channel.
  *
  * Determinism: first = min(struct(ts, event_id)), last =
  * max(struct(ts, event_id)) — event_id makes the order total, no
  * window; linear credit is INTEGER micro-credit: each touch gets
  * 1e6 div n and the division remainder goes to the LAST touch, so
  * Σ linear_micro = 1e6 · #purchases EXACTLY (the accounting
  * invariant AttributionSpec asserts — a double 1/n split would sum
  * in partition order and drift).
  *
  * Scale: one user-keyed equi-join (purchases ⋈ touches — both sides
  * bucket by user at 100 TB, the window predicate rides the join),
  * one persisted journey barrier read by the per-purchase fold and
  * the credit projection, two partial-agg folds to ≤|types| rows.
  */
object Attribution {

  val LookbackUs: Long = Paths.GapUs

  /** Per-channel attribution over any events frame:
    * `(event_type, first_n, last_n, linear_micro)`, `(direct)` row
    * for journey-less purchases.
    */
  def attribution(ev: DataFrame): DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_us"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("t_type"),
        col("event_id").as("t_id"), unix_micros(col("ts")).as("t_us"))
    // window predicate IN the join condition — filtering after the
    // left join would delete purchases whose user has only
    // out-of-window touches instead of crediting them (direct)
    val journeys = purchases.join(touches,
      purchases("user_id") === touches("user_id") &&
        col("t_us") < col("p_us") && col("t_us") >= col("p_us") - LookbackUs,
      "left")
      .select(col("p_id"), col("t_type"), col("t_id"), col("t_us"))
      .persist() // barrier: per-purchase stats AND credit projection
    val stats = journeys.groupBy(col("p_id"))
      .agg(count(col("t_id")).as("n"),
        min(struct(col("t_us"), col("t_id"), col("t_type"))).as("f"),
        max(struct(col("t_us"), col("t_id"), col("t_type"))).as("l"))
      .select(col("p_id"), col("n"),
        coalesce(col("f.t_type"), lit("(direct)")).as("first_type"),
        coalesce(col("l.t_type"), lit("(direct)")).as("last_type"),
        col("l.t_id").as("last_id"))
    val firstN = stats.groupBy(col("first_type").as("event_type"))
      .agg(count(lit(1)).as("first_n"))
    val lastN = stats.groupBy(col("last_type").as("event_type"))
      .agg(count(lit(1)).as("last_n"))
    // integer micro-credit: base = 1e6 div n per touch, remainder to
    // the last touch; journey-less purchases credit (direct) in full
    val credited = journeys.filter(col("t_id").isNotNull)
      .join(stats.select(col("p_id"), col("n"), col("last_id")), "p_id")
      .select(col("t_type").as("event_type"),
        (lit(1000000L) / col("n")).cast("long")
          .plus(when(col("t_id") === col("last_id"),
            lit(1000000L) - (lit(1000000L) / col("n")).cast("long") * col("n"))
            .otherwise(lit(0L))).as("credit"))
    val direct = stats.filter(col("n") === 0)
      .select(lit("(direct)").as("event_type"), lit(1000000L).as("credit"))
    val linear = credited.unionByName(direct)
      .groupBy(col("event_type"))
      .agg(sum(col("credit")).as("linear_micro"))
    firstN.join(lastN, Seq("event_type"), "full")
      .join(linear, Seq("event_type"), "full")
      .select(col("event_type"),
        coalesce(col("first_n"), lit(0L)).as("first_n"),
        coalesce(col("last_n"), lit(0L)).as("last_n"),
        coalesce(col("linear_micro"), lit(0L)).as("linear_micro"))
  }

  /** q_attribution — [[attribution]] over the events table. */
  def attributionQuery(s: SparkSession, d: String): DataFrame =
    attribution(Tables.events(s, d))

  val attributionSql: String =
    s"""WITH purchases AS (
       |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
       |  FROM events WHERE event_type = 'purchase'
       |), touches AS (
       |  SELECT user_id, event_type AS t_type, event_id AS t_id,
       |         epoch_us(ts) AS t_us
       |  FROM events WHERE event_type <> 'purchase'
       |), journeys AS MATERIALIZED (
       |  SELECT p.p_id, t.t_type, t.t_id, t.t_us
       |  FROM purchases p LEFT JOIN touches t
       |    ON t.user_id = p.user_id
       |   AND t.t_us < p.p_us AND t.t_us >= p.p_us - $LookbackUs
       |), stats AS MATERIALIZED (
       |  SELECT p_id, count(t_id)::BIGINT AS n,
       |         coalesce(min({'u': t_us, 'i': t_id, 'y': t_type}).y,
       |                  '(direct)') AS first_type,
       |         coalesce(max({'u': t_us, 'i': t_id, 'y': t_type}).y,
       |                  '(direct)') AS last_type,
       |         max({'u': t_us, 'i': t_id, 'y': t_type}).i AS last_id
       |  FROM journeys GROUP BY p_id
       |), first_n AS (
       |  SELECT first_type AS event_type, count(*)::BIGINT AS first_n
       |  FROM stats GROUP BY 1
       |), last_n AS (
       |  SELECT last_type AS event_type, count(*)::BIGINT AS last_n
       |  FROM stats GROUP BY 1
       |), credited AS (
       |  SELECT j.t_type AS event_type,
       |         (1000000 // s.n
       |          + CASE WHEN j.t_id = s.last_id
       |                 THEN 1000000 - (1000000 // s.n) * s.n
       |                 ELSE 0 END)::BIGINT AS credit
       |  FROM journeys j JOIN stats s ON s.p_id = j.p_id
       |  WHERE j.t_id IS NOT NULL
       |  UNION ALL
       |  SELECT '(direct)', 1000000::BIGINT FROM stats WHERE n = 0
       |), linear AS (
       |  SELECT event_type, sum(credit)::BIGINT AS linear_micro
       |  FROM credited GROUP BY event_type
       |)
       |SELECT event_type,
       |       coalesce(first_n, 0)::BIGINT AS first_n,
       |       coalesce(last_n, 0)::BIGINT AS last_n,
       |       coalesce(linear_micro, 0)::BIGINT AS linear_micro
       |FROM first_n
       |FULL JOIN last_n USING (event_type)
       |FULL JOIN linear USING (event_type)
       |ORDER BY event_type""".stripMargin
}
