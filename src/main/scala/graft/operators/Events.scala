// (q_abtest lives in this file with the other event-analytics queries)
package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Behavioral event analytics: funnel conversion, cohort retention,
  * hourly anomaly screening — the product-analytics face of the events
  * stream (the reference pipeline's activity log, observed instead of
  * crawled).
  *
  * Scale notes: every query here folds the event stream through ONE
  * user- or hour-keyed partial-agg groupBy into a bounded frame
  * (users, hour-grid, cohort-matrix) before any window/join — the
  * stream itself never shuffles twice.
  */
object Events {

  /** The funnel stages in order. Like [[Analytics.EventTypes]], part
    * of the report schema, not discovered from data.
    */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  /** q_funnel — ordered-stage conversion: a user reaches stage i when
    * every stage ≤ i has occurred AND their first occurrences are in
    * funnel order (first view ≤ first click ≤ first purchase — ties
    * count, the ≤ convention of [[TimeJoin.asOfPrior]]). One
    * conditional-min groupBy per user (map-side combine, the pivot
    * pattern), then the per-stage user counts + conversion rate off
    * the bounded per-user frame.
    */
  def funnelQuery(s: SparkSession, d: String): DataFrame =
    funnel(Tables.events(s, d))

  /** Frame-based [[funnelQuery]] over any `(user_id, event_type, ts)`
    * frame.
    */
  def funnel(ev: DataFrame): DataFrame = {
    val perUser = ev
      .filter(col("event_type").isin(FunnelStages: _*))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    val flags = perUser.select(
      col("t_view").isNotNull.as("s1"),
      (col("t_view").isNotNull && col("t_click").isNotNull &&
        col("t_view") <= col("t_click")).as("s2"),
      (col("t_view").isNotNull && col("t_click").isNotNull &&
        col("t_purchase").isNotNull && col("t_view") <= col("t_click") &&
        col("t_click") <= col("t_purchase")).as("s3"))
    val counts = flags.agg(
      sum(col("s1").cast("long")).as("n1"),
      sum(col("s2").cast("long")).as("n2"),
      sum(col("s3").cast("long")).as("n3"))
    counts.select(explode(array(
      struct(lit(1).as("stage"), lit("view").as("stage_name"),
        col("n1").as("n_users"), TextSim.r6(lit(1.0)).as("conversion")),
      struct(lit(2).as("stage"), lit("click").as("stage_name"),
        col("n2").as("n_users"), TextSim.r6(col("n2") / col("n1")).as("conversion")),
      struct(lit(3).as("stage"), lit("purchase").as("stage_name"),
        col("n3").as("n_users"), TextSim.r6(col("n3") / col("n1")).as("conversion"))))
      .as("r"))
      .select(col("r.stage"), col("r.stage_name"), col("r.n_users"), col("r.conversion"))
  }

  val funnelSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
       |         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
       |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
       |  FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase')
       |  GROUP BY user_id
       |), counts AS (
       |  SELECT sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n1,
       |         sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
       |                   AND t_view <= t_click THEN 1 ELSE 0 END)::BIGINT AS n2,
       |         sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
       |                   AND t_purchase IS NOT NULL AND t_view <= t_click
       |                   AND t_click <= t_purchase THEN 1 ELSE 0 END)::BIGINT AS n3
       |  FROM per_user
       |)
       |SELECT stage, stage_name, n_users, conversion FROM (
       |  SELECT 1 AS stage, 'view' AS stage_name, n1 AS n_users,
       |         ${TextSim.r6Sql("1.0")} AS conversion FROM counts
       |  UNION ALL
       |  SELECT 2, 'click', n2, ${TextSim.r6Sql("n2::DOUBLE / n1::DOUBLE")} FROM counts
       |  UNION ALL
       |  SELECT 3, 'purchase', n3, ${TextSim.r6Sql("n3::DOUBLE / n1::DOUBLE")} FROM counts
       |)
       |ORDER BY stage""".stripMargin

  val RetentionDays = 7

  /** q_retention — cohort retention matrix: users cohorted by their
    * FIRST event day; cell (cohort, offset) counts the cohort's users
    * active offset days later (0 ≤ offset ≤ [[RetentionDays]]), with
    * the rate against the cohort size. The first-day frame is one
    * user-keyed partial agg; the activity join is user-keyed
    * (co-partitioned with the cohort frame at scale — the manifest
    * bucketing story); the distinct-(user, day) collapse happens
    * BEFORE the matrix agg so a chatty user counts once per day.
    * Cohort sizes come off the offset-0 diagonal via a window over the
    * ≤|cohorts|·(days+1) matrix — never a second pass over events.
    */
  def retentionQuery(s: SparkSession, d: String): DataFrame =
    retention(Tables.events(s, d))

  /** Frame-based [[retentionQuery]] over any `(user_id, ts)` frame. */
  def retention(evRaw: DataFrame): DataFrame = {
    val ev = evRaw
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val active = ev.join(firstDay, Seq("user_id"))
      .select(col("user_id"), col("cohort"), datediff(col("day"), col("cohort")).as("off"))
      .filter(col("off").between(0, RetentionDays))
      .distinct()
    val matrix = active.groupBy(col("cohort"), col("off"))
      .agg(count(lit(1)).as("n_users"))
    val sized = matrix.withColumn("cohort_size",
      max(when(col("off") === 0, col("n_users")))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("cohort"))))
    sized.select(
      date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
      col("off"), col("n_users"),
      TextSim.r6(col("n_users") / col("cohort_size")).as("retention"))
  }

  val retentionSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts::DATE AS day FROM events
       |), first_day AS (
       |  SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id
       |), active AS (
       |  SELECT DISTINCT ev.user_id, cohort, (day - cohort)::INT AS off
       |  FROM ev JOIN first_day USING (user_id)
       |  WHERE day - cohort BETWEEN 0 AND $RetentionDays
       |), matrix AS (
       |  SELECT cohort, off, count(*)::BIGINT AS n_users
       |  FROM active GROUP BY cohort, off
       |)
       |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, off, n_users,
       |       ${TextSim.r6Sql("n_users::DOUBLE / (max(CASE WHEN off = 0 THEN n_users END) OVER (PARTITION BY cohort))::DOUBLE")} AS retention
       |FROM matrix
       |ORDER BY cohort, off""".stripMargin

  /** q_anomaly — hourly volume anomaly screen per event type: each
    * observed (type, hour) bucket z-scored against that type's
    * mean/stddev of hourly counts (sample stddev, computed from the
    * exact BIGINT sums n, Σc, Σc² — integer sums shuffle, doubles
    * never do, so the statistics are order-independent by
    * construction). |z| ≥ 2 flags the hour. Two partial apertures:
    * events → hour-grid counts (one groupBy), grid → ≤|types| stats
    * rows (second tiny agg) broadcast back onto the grid.
    */
  def anomalyQuery(s: SparkSession, d: String): DataFrame =
    anomaly(Tables.events(s, d))

  /** Frame-based [[anomalyQuery]] over any `(event_type, ts)` frame. */
  def anomaly(ev: DataFrame): DataFrame = {
    val hourly = ev
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n_events")).as("s1"),
        sum(col("n_events") * col("n_events")).as("s2"))
      .withColumn("mean", col("s1") / col("n_hours"))
      .withColumn("sd", sqrt((col("s2") - col("s1") * col("s1") / col("n_hours")) /
        (col("n_hours") - 1)))
    hourly.join(broadcast(stats.select(col("event_type"), col("mean"), col("sd"))),
      Seq("event_type"))
      .select(col("event_type"), col("hour"), col("n_events"),
        TextSim.r6((col("n_events") - col("mean")) / col("sd")).as("z"),
        (abs((col("n_events") - col("mean")) / col("sd")) >= 2).cast("int").as("is_anomaly"))
  }

  /** Modified-z constant 0.6745 in micro units and the Iglewicz–
    * Hoaglin flag threshold (3.5) in the same units.
    */
  val MadZMicro = 674500L
  val MadFlagMicro = 3500000L

  /** q_anomaly_mad — the ROBUST sibling of [[anomaly]]: median/MAD in
    * place of mean/sd (Iglewicz–Hoaglin modified z, M = 0.6745·(x −
    * med)/MAD, |M| ≥ 3.5 flags). The failure mode it exists for is
    * MASKING: one massive outlier hour inflates the sample sd enough
    * to hide a second, milder anomaly from the z-screen — the median
    * and MAD have a 50% breakdown point and do not move (asserted in
    * AnomalyMadSpec with exactly that planted pair). Median and MAD
    * are EXACT order statistics (rank ⌈n/2⌉ of the per-type hourly
    * counts, then of |x − med| — the q_quantiles discipline: integer
    * compares, no interpolation, engines cannot disagree), and the
    * modified z rides the integer lattice: M_micro = (674500·(x −
    * med)) div MAD — truncation toward zero, identical both engines;
    * MAD = 0 (a constant series) reports NULL M, flag 0.
    *
    * Scale: the rank windows partition by type over the HOURLY grid
    * (time-bounded, never the corpus) — two bounded windows + one
    * broadcast join back.
    */
  def anomalyMadQuery(s: SparkSession, d: String): DataFrame =
    anomalyMad(Tables.events(s, d))

  def anomalyMad(ev: DataFrame): DataFrame = {
    val hourly = Iterate.materialize(ev
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(count(lit(1)).as("n_events"))) // med, mad and the output all read it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("n_events"), col("hour"))
    val meds = hourly
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("n_events").as("med"))
    val devs = hourly.join(broadcast(meds), "event_type")
      .withColumn("dev", abs(col("n_events") - col("med")))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("dev"), col("hour"))
    val mads = devs
      .withColumn("rk", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad"))
    hourly.join(broadcast(meds), "event_type")
      .join(broadcast(mads), "event_type")
      .withColumn("m_micro", when(col("mad") > 0L,
        expr(s"($MadZMicro * (n_events - med)) div mad")))
      .select(col("event_type"), col("hour"), col("n_events"),
        col("med"), col("mad"), col("m_micro"),
        when(col("mad") > 0L,
          (abs(col("m_micro")) >= MadFlagMicro).cast("int"))
          .otherwise(lit(0)).as("is_anomaly"))
  }

  val anomalyMadSql: String =
    s"""WITH hourly AS MATERIALIZED (
       |  SELECT event_type,
       |         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       |         count(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1, 2
       |), meds AS (
       |  SELECT event_type, n_events AS med
       |  FROM (
       |    SELECT event_type, n_events,
       |           row_number() OVER (PARTITION BY event_type
       |             ORDER BY n_events, hour) AS rk,
       |           count(*) OVER (PARTITION BY event_type) AS n
       |    FROM hourly)
       |  WHERE rk = (n + 1) // 2
       |), mads AS (
       |  SELECT event_type, dev AS mad
       |  FROM (
       |    SELECT h.event_type, abs(h.n_events - m.med)::BIGINT AS dev,
       |           row_number() OVER (PARTITION BY h.event_type
       |             ORDER BY abs(h.n_events - m.med), h.hour) AS rk,
       |           count(*) OVER (PARTITION BY h.event_type) AS n
       |    FROM hourly h JOIN meds m USING (event_type))
       |  WHERE rk = (n + 1) // 2
       |)
       |SELECT h.event_type, h.hour, h.n_events, m.med, d.mad,
       |       CASE WHEN d.mad > 0
       |            THEN ($MadZMicro * (h.n_events - m.med)) // d.mad
       |            END AS m_micro,
       |       CASE WHEN d.mad > 0 THEN
       |         (CASE WHEN abs(($MadZMicro * (h.n_events - m.med)) // d.mad)
       |                    >= $MadFlagMicro THEN 1 ELSE 0 END)
       |       ELSE 0 END::INT AS is_anomaly
       |FROM hourly h JOIN meds m USING (event_type)
       |JOIN mads d USING (event_type)
       |ORDER BY h.event_type, h.hour""".stripMargin

  val anomalySql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       |         count(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1, 2
       |), stats AS (
       |  SELECT event_type, count(*)::BIGINT AS n_hours,
       |         sum(n_events)::BIGINT AS s1,
       |         sum(n_events * n_events)::BIGINT AS s2
       |  FROM hourly GROUP BY event_type
       |), enriched AS (
       |  SELECT event_type, n_hours,
       |         s1::DOUBLE / n_hours::DOUBLE AS mean,
       |         sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_hours::DOUBLE)
       |              / (n_hours::DOUBLE - 1.0)) AS sd
       |  FROM stats
       |)
       |SELECT hourly.event_type, hour, n_events,
       |       ${TextSim.r6Sql("(n_events::DOUBLE - mean) / sd")} AS z,
       |       (CASE WHEN abs((n_events::DOUBLE - mean) / sd) >= 2 THEN 1 ELSE 0 END)::INT AS is_anomaly
       |FROM hourly JOIN enriched ON hourly.event_type = enriched.event_type
       |ORDER BY hourly.event_type, hour""".stripMargin

  /** q_abtest — two-sample proportion z-test between experiment arms
    * (the experimentation-analytics primitive): variant = the user's
    * stable hash parity (a deterministic stand-in for an assignment
    * column), metric = did the user purchase. Per arm: exposed users,
    * converters, rate; then the pooled two-proportion z statistic and
    * the 95% verdict on the ROUNDED z (engine-identical decision).
    * All inputs are exact BIGINT counts; the only irrational op is
    * the one IEEE-correctly-rounded sqrt (the house sqrt-not-pow
    * rule), so the statistic hash-verifies.
    *
    * Scale shape: one per-user fold (partial-agg groupBy on user_id —
    * at 100 TB events bucket by user and the exchange disappears),
    * one ≤2-row arm fold, the z computed on a 1-row frame. The test
    * itself never sees row-level data again.
    */
  val AbConvertThreshold = 14

  /** χ²(1df) critical value at α = 0.001 in micro units — SRM checks
    * run at a TIGHT alpha because they gate every other readout
    * (a false SRM alarm discards a healthy experiment).
    */
  val SrmCritMicro = 10827566L

  /** q_srm — sample-ratio mismatch, the guardrail every experiment
    * platform runs BEFORE reading any metric (Fabijan et al. 2019,
    * "Diagnosing sample ratio mismatch"): if the md5 hash splits
    * users 50/50 by design, a realized split that a χ² test rejects
    * means the assignment or logging pipeline is broken — bots
    * filtered from one arm, a crash path dropping exposure events —
    * and every downstream readout (q_abtest, q_cuped, q_stratified)
    * is invalid regardless of its p-value. For an equal split the
    * 1-df statistic collapses to exact integers:
    * χ² = (n_A − n_B)²/(n_A + n_B), served here in micro units via
    * one `div` — no doubles, no libm. Verdict at α = 0.001 (the
    * published practice: SRM alarms must be near-certain).
    *
    * Scale: one per-user partial-agg fold (the abtest arm hash), a
    * 1-row readout.
    */
  def srm(s: SparkSession, d: String): DataFrame =
    srmOfUsers(Tables.events(s, d).select(col("user_id")).distinct())

  /** The check over any distinct `user_id` frame. */
  def srmOfUsers(users: DataFrame): DataFrame = {
    val arms = users
      .select(when(conv(substring(md5(concat(lit("arm:"),
        col("user_id").cast("string"))), 1, 7), 16, 10)
        .cast("long") % 2 === 0, 1L).otherwise(0L).as("a"))
      .agg(sum(col("a")).cast("long").as("na"),
        sum(lit(1L) - col("a")).cast("long").as("nb"))
    arms.select(col("na"), col("nb"),
      when(col("na") + col("nb") > 0L,
        expr("((na - nb) * (na - nb) * 1000000) div (na + nb)"))
        .as("chi2_micro"))
      .withColumn("srm_detected",
        when(col("chi2_micro").isNotNull,
          (col("chi2_micro") >= SrmCritMicro).cast("int")))
  }

  val srmSql: String =
    s"""WITH users AS (
       |  SELECT DISTINCT user_id FROM events
       |), arms AS (
       |  SELECT sum(CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0
       |                  THEN 1 ELSE 0 END)::BIGINT AS na,
       |         sum(CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0
       |                  THEN 0 ELSE 1 END)::BIGINT AS nb
       |  FROM users
       |)
       |SELECT na, nb,
       |       CASE WHEN na + nb > 0
       |            THEN ((na - nb) * (na - nb) * 1000000) // (na + nb)
       |            END::BIGINT AS chi2_micro,
       |       CASE WHEN na + nb > 0 THEN
       |         (CASE WHEN ((na - nb) * (na - nb) * 1000000) // (na + nb)
       |                    >= $SrmCritMicro THEN 1 ELSE 0 END)::INT
       |       END AS srm_detected
       |FROM arms""".stripMargin

  /** The experiment's 1-row moment frame `(na, ca, nb, cb)` — shared
    * by [[abtest]] (the realized z-test) and [[power]] (the design-
    * side MDE readout).
    */
  private def abWide(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= AbConvertThreshold).cast("long").as("converted"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("arm:"), col("user_id").cast("string"))), 1, 7),
          16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val arms = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
    arms.agg(
      sum(when(col("variant") === "A", col("n_users"))).as("na"),
      sum(when(col("variant") === "A", col("n_conv"))).as("ca"),
      sum(when(col("variant") === "B", col("n_users"))).as("nb"),
      sum(when(col("variant") === "B", col("n_conv"))).as("cb"))
  }

  def abtest(s: SparkSession, d: String): DataFrame = {
    val wide = abWide(s, d)
    // a degenerate pool (nobody or everybody converts) has zero pooled
    // variance — the test is undefined, report NULL rather than ±inf
    val zExpr = when(
      col("ca") + col("cb") > 0 && col("ca") + col("cb") < col("na") + col("nb"),
      TextSim.r6(
        (col("ca").cast("double") / col("na") - col("cb").cast("double") / col("nb")) /
          sqrt(((col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))) *
            (lit(1.0) - (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))) *
            (lit(1.0) / col("na") + lit(1.0) / col("nb")))))
    wide.select(
      col("na"), col("ca"), col("nb"), col("cb"),
      TextSim.r6(col("ca").cast("double") / col("na")).as("rate_a"),
      TextSim.r6(col("cb").cast("double") / col("nb")).as("rate_b"),
      zExpr.as("z"))
      .withColumn("significant_95", abs(col("z")) >= 1.959964)
  }

  /** q_cuped — CUPED variance reduction for the experiment readout
    * (Deng, Xu, Kohavi & Walker WSDM'13): adjust each user's metric by
    * their PRE-period behavior, Y_cv = Y − θ(X − X̄), θ = cov(X,Y)/
    * var(X) pooled — the industry-standard sensitivity lever on top of
    * [[abtest]]'s raw z-test (heavy users stay heavy across periods,
    * so the covariate soaks up between-user variance the treatment
    * never caused; the arm DIFFERENCE is unbiased because θ and X̄ are
    * arm-blind). Per arm: user count, raw and adjusted metric means,
    * raw and adjusted variances, and the realized variance reduction
    * 1 − var_adj/var_y (≈ ρ² by theory).
    *
    * X = the user's event count in the first half of the window, Y =
    * in the second half (the Ks split), arms = the [[abtest]] md5
    * parity. Determinism: all six moments per arm are exact BIGINTs
    * off one per-user fold; θ, means and variances run in double on
    * identical exact inputs with mirrored expression shapes, r6 at
    * the output. Zero pre-period variance (no covariate signal)
    * reports NULL adjusted columns — the degenerate guard.
    *
    * Scale shape: one per-user partial-agg fold (bucket by user at
    * 100 TB → exchange-free), one ≤2-row arm fold, pooled θ a 1-row
    * broadcast. The test never re-sees row-level data.
    */
  def cuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val users = ev.crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(sum((unix_micros(col("ts")) < col("mid")).cast("long")).as("x"),
        sum((unix_micros(col("ts")) >= col("mid")).cast("long")).as("y"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("arm:"), col("user_id").cast("string"))), 1, 7),
          16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val arms = users.groupBy(col("variant"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"),
        sum(col("x") * col("y")).cast("long").as("sxy"))
    val pooled = arms.agg(
      sum(col("n")).cast("long").as("pn"),
      sum(col("sx")).cast("long").as("psx"),
      sum(col("sy")).cast("long").as("psy"),
      sum(col("sxx")).cast("long").as("psxx"),
      sum(col("sxy")).cast("long").as("psxy"))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    val varXPooled = dbl(col("pn")) * dbl(col("psxx")) -
      dbl(col("psx")) * dbl(col("psx"))
    val theta = (dbl(col("pn")) * dbl(col("psxy")) -
      dbl(col("psx")) * dbl(col("psy"))) / varXPooled
    val xbar = dbl(col("psx")) / dbl(col("pn"))
    val meanY = dbl(col("sy")) / dbl(col("n"))
    val varY = (dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / dbl(col("n"))) /
      (dbl(col("n")) - 1.0)
    val varX = (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / dbl(col("n"))) /
      (dbl(col("n")) - 1.0)
    val covXY = (dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / dbl(col("n"))) /
      (dbl(col("n")) - 1.0)
    val varAdj = varY - theta * covXY * 2.0 + theta * theta * varX
    arms.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n").as("n_users"),
        TextSim.r6(meanY).as("mean_y"),
        when(varXPooled > 0d,
          TextSim.r6(meanY - theta * (dbl(col("sx")) / dbl(col("n")) - xbar)))
          .as("mean_adj"),
        TextSim.r6(varY).as("var_y"),
        when(varXPooled > 0d, TextSim.r6(varAdj)).as("var_adj"),
        when(varXPooled > 0d, TextSim.r6(lit(1.0) - varAdj / varY))
          .as("var_reduction"))
      .orderBy(col("variant"))
  }

  val cupedSql: String = {
    val theta = "(pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE) / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE)"
    val varXPooled = "pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE"
    val meanY = "sy::DOUBLE / n::DOUBLE"
    val varY = "(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0::DOUBLE)"
    val varX = "(sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0::DOUBLE)"
    val covXY = "(sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0::DOUBLE)"
    val varAdj = s"$varY - ($theta) * ($covXY) * 2.0::DOUBLE + ($theta) * ($theta) * ($varX)"
    s"""WITH span AS (
       |  SELECT ((min(epoch_us(ts)) + max(epoch_us(ts))) // 2)::BIGINT AS mid
       |  FROM events
       |), users AS (
       |  SELECT user_id,
       |         sum((epoch_us(ts) < span.mid)::BIGINT)::BIGINT AS x,
       |         sum((epoch_us(ts) >= span.mid)::BIGINT)::BIGINT AS y
       |  FROM events CROSS JOIN span
       |  GROUP BY user_id
       |), arms AS (
       |  SELECT CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0
       |              THEN 'A' ELSE 'B' END AS variant,
       |         count(*)::BIGINT AS n,
       |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
       |         sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
       |         sum(x * y)::BIGINT AS sxy
       |  FROM users GROUP BY 1
       |), pooled AS (
       |  SELECT sum(n)::BIGINT AS pn, sum(sx)::BIGINT AS psx,
       |         sum(sy)::BIGINT AS psy, sum(sxx)::BIGINT AS psxx,
       |         sum(sxy)::BIGINT AS psxy
       |  FROM arms
       |)
       |SELECT variant, n AS n_users,
       |       ${TextSim.r6Sql(meanY)} AS mean_y,
       |       CASE WHEN $varXPooled > 0 THEN
       |         ${TextSim.r6Sql(
      s"$meanY - ($theta) * (sx::DOUBLE / n::DOUBLE - psx::DOUBLE / pn::DOUBLE)")}
       |       END AS mean_adj,
       |       ${TextSim.r6Sql(varY)} AS var_y,
       |       CASE WHEN $varXPooled > 0 THEN ${TextSim.r6Sql(varAdj)} END AS var_adj,
       |       CASE WHEN $varXPooled > 0 THEN
       |         ${TextSim.r6Sql(s"1.0::DOUBLE - ($varAdj) / ($varY)")}
       |       END AS var_reduction
       |FROM arms CROSS JOIN pooled
       |ORDER BY variant""".stripMargin
  }

  /** q_power — statistical power analysis of the [[abtest]] design:
    * the minimum detectable effect (MDE) at α = 0.05 two-sided /
    * 80% power for the experiment's realized sample sizes and pooled
    * baseline rate — (z_{α/2} + z_β)·√(p(1−p)(1/nₐ + 1/n_b)) — plus
    * whether the REALIZED arm difference clears it. The design-side
    * complement of `q_abtest`'s verdict: a non-significant z with
    * |diff| ≪ MDE says "underpowered, keep collecting", not "no
    * effect" — the experiment-review distinction the raw test cannot
    * make.
    *
    * Determinism: all inputs are [[abWide]]'s exact BIGINT moments;
    * MDE/diff run in double with identical expression shapes, r6;
    * the powered verdict compares the ROUNDED pair; a degenerate
    * pool (nobody/everybody converts) reports NULLs (the abtest
    * guard). Scale: the same one per-user fold + 2-row arm fold;
    * the analysis frame is 1 row.
    */
  /** α = 0.05 two-sided and 80%-power normal quantiles. */
  val ZAlpha = 1.959964
  val ZPower = 0.841621

  def power(s: SparkSession, d: String): DataFrame = {
    val wide = abWide(s, d)
    val p = (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))
    val ok = col("ca") + col("cb") > 0 && col("ca") + col("cb") < col("na") + col("nb")
    val mde = TextSim.r6(lit(ZAlpha + ZPower) *
      sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
    val diff = TextSim.r6(abs(
      col("ca").cast("double") / col("na") - col("cb").cast("double") / col("nb")))
    wide.select(col("na"), col("nb"),
      when(ok, TextSim.r6(p)).as("pooled_rate"),
      when(ok, mde).as("mde_abs"),
      when(ok, TextSim.r6(mde / TextSim.r6(p))).as("mde_rel"),
      when(ok, diff).as("diff_abs"),
      when(ok, (diff >= mde).cast("int")).as("powered"))
  }

  val powerSql: String = {
    val p = "(ca + cb)::DOUBLE / (na + nb)"
    val mde = TextSim.r6Sql(
      s"${ZAlpha + ZPower} * sqrt(($p) * (1.0 - $p) * (1.0 / na + 1.0 / nb))")
    val diff = TextSim.r6Sql("abs(ca::DOUBLE / na - cb::DOUBLE / nb)")
    s"""WITH users AS (
       |  SELECT user_id,
       |         (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= $AbConvertThreshold)::BIGINT AS converted
       |  FROM events GROUP BY user_id
       |), arms AS (
       |  SELECT CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0
       |              THEN 'A' ELSE 'B' END AS variant,
       |         count(*)::BIGINT AS n_users, sum(converted)::BIGINT AS n_conv
       |  FROM users GROUP BY 1
       |), wide AS (
       |  SELECT sum(CASE WHEN variant = 'A' THEN n_users END)::BIGINT AS na,
       |         sum(CASE WHEN variant = 'A' THEN n_conv END)::BIGINT AS ca,
       |         sum(CASE WHEN variant = 'B' THEN n_users END)::BIGINT AS nb,
       |         sum(CASE WHEN variant = 'B' THEN n_conv END)::BIGINT AS cb
       |  FROM arms
       |)
       |SELECT na, nb,
       |       CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN ${TextSim.r6Sql(p)} END AS pooled_rate,
       |       CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN $mde END AS mde_abs,
       |       CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN ${TextSim.r6Sql(s"($mde) / (${TextSim.r6Sql(p)})")} END AS mde_rel,
       |       CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN $diff END AS diff_abs,
       |       CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN ($diff >= $mde)::INT END AS powered
       |FROM wide""".stripMargin
  }

  val abtestSql: String =
    s"""WITH users AS (
       |  SELECT user_id,
       |         (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= $AbConvertThreshold)::BIGINT AS converted
       |  FROM events GROUP BY user_id
       |), arms AS (
       |  SELECT CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0
       |              THEN 'A' ELSE 'B' END AS variant,
       |         count(*)::BIGINT AS n_users, sum(converted)::BIGINT AS n_conv
       |  FROM users GROUP BY 1
       |), wide AS (
       |  SELECT sum(CASE WHEN variant = 'A' THEN n_users END)::BIGINT AS na,
       |         sum(CASE WHEN variant = 'A' THEN n_conv END)::BIGINT AS ca,
       |         sum(CASE WHEN variant = 'B' THEN n_users END)::BIGINT AS nb,
       |         sum(CASE WHEN variant = 'B' THEN n_conv END)::BIGINT AS cb
       |  FROM arms
       |)
       |SELECT na, ca, nb, cb,
       |       ${TextSim.r6Sql("ca::DOUBLE / na")} AS rate_a,
       |       ${TextSim.r6Sql("cb::DOUBLE / nb")} AS rate_b,
       |       CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN
       |       ${TextSim.r6Sql(
         "(ca::DOUBLE / na - cb::DOUBLE / nb) / sqrt(((ca + cb)::DOUBLE / (na + nb)) * (1.0 - (ca + cb)::DOUBLE / (na + nb)) * (1.0 / na + 1.0 / nb))")} END AS z,
       |       abs(CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN
       |       ${TextSim.r6Sql(
         "(ca::DOUBLE / na - cb::DOUBLE / nb) / sqrt(((ca + cb)::DOUBLE / (na + nb)) * (1.0 - (ca + cb)::DOUBLE / (na + nb)) * (1.0 / na + 1.0 / nb))")} END) >= 1.959964 AS significant_95
       |FROM wide""".stripMargin
  /** q_burstiness — per-type dispersion of hourly volume as the Fano
    * factor var/mean over the DENSE hour grid (a Poisson-arrival
    * stream scores 1; >1 is bursty/clumped traffic, <1 is
    * regular/throttled): the dispersion CLASS next to `q_anomaly`'s
    * single-hour alarms (whose z-threshold silently assumes the
    * variance; this measures it), `q_trend_slope`'s direction and
    * `q_changepoint`'s regime cut. Missing hours are y=0 observations
    * (the gapfill lesson) — they enter through the exact algebra, not
    * a generated scan: with H grid hours and sparse Σy, Σy² BIGINTs,
    * fano = (H·Σy² − (Σy)²) / ((H−1)·Σy) — exact integers, ONE r6
    * division (mean = Σy/H, one more). H = 1 or Σy = 0 → NULL (the
    * degenerate guard).
    *
    * Scale: one events fold to sparse (type, hour) counts, one
    * ≤|types| moment fold, span a 1-row broadcast; the dense grid is
    * never materialized.
    */
  def burstiness(ev: DataFrame): DataFrame = {
    val span = ev.agg(
      ((unix_micros(date_trunc("hour", max(col("ts")))) -
        unix_micros(date_trunc("hour", min(col("ts"))))) / 3600000000L + 1)
        .cast("long").as("h_n"))
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("y"))
    hourly.groupBy(col("event_type"))
      .agg(sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
      .crossJoin(broadcast(span))
      .select(col("event_type"), col("h_n").as("n_hours"), col("sy").as("n_events"),
        when(col("h_n") > 0,
          TextSim.r6(col("sy").cast("double") / col("h_n"))).as("mean"),
        when(col("h_n") > 1 && col("sy") > 0,
          // variance product in decimal(38,0): sy² overflows BIGINT past
          // ~3e9 events of one type (Spark would wrap, DuckDB raises —
          // the Markov HUGEINT / embedOutliers pattern)
          TextSim.r6((col("h_n").cast("decimal(38,0)") * col("syy") -
            col("sy").cast("decimal(38,0)") * col("sy")).cast("double") /
            ((col("h_n") - 1).cast("double") * col("sy").cast("double"))))
          .as("fano"))
  }

  def burstinessQuery(s: SparkSession, d: String): DataFrame =
    burstiness(Tables.events(s, d))

  val burstinessSql: String =
    s"""WITH span AS (
       |  SELECT ((epoch_us(date_trunc('hour', max(ts)))
       |           - epoch_us(date_trunc('hour', min(ts)))) // 3600000000
       |          + 1)::BIGINT AS h_n
       |  FROM events
       |), hourly AS (
       |  SELECT date_trunc('hour', ts) AS h, event_type, count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT event_type, sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS syy
       |  FROM hourly GROUP BY event_type
       |)
       |SELECT event_type, h_n AS n_hours, sy AS n_events,
       |       CASE WHEN h_n > 0 THEN ${TextSim.r6Sql("sy::DOUBLE / h_n")} END AS mean,
       |       CASE WHEN h_n > 1 AND sy > 0 THEN
       |         ${TextSim.r6Sql("(h_n::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE / ((h_n - 1)::DOUBLE * sy::DOUBLE)")}
       |       END AS fano
       |FROM m CROSS JOIN span
       |ORDER BY event_type""".stripMargin

  /** q_time_to_convert — conversion-latency distribution: per
    * converting user (first view precedes first purchase — the
    * [[funnel]] ordering convention) the latency first-view →
    * first-purchase, reported as exact order statistics (p50/p90 at
    * ranks ceil(q·n), the `q_quantiles` convention) plus the exact
    * mean — the TIME face of the funnel ("how long does conversion
    * take", where the funnel says how often it happens). All
    * latencies are exact integer microseconds off one per-user
    * conditional-min fold; the rank runs over the |converting users|
    * frame with (lat, user_id) total order (user-bounded — the
    * exact-audit shape; partition the rank by cohort past local
    * scale, or serve [[Kmv]] bottom-k quantiles rescan-free);
    * seconds divide once each, r6; an empty converting set reports
    * 0/NULLs.
    */
  def timeToConvert(ev: DataFrame): DataFrame = {
    import graft.functions.GridWindow
    val lat = ev.filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", unix_micros(col("ts")))).as("v"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("p"))
      .filter(col("v").isNotNull && col("p").isNotNull && col("v") <= col("p"))
      .select(col("user_id"), (col("p") - col("v")).as("lat_us"))
    lat
      .withColumn("rn",
        row_number().over(GridWindow.ord(col("lat_us"), col("user_id"))))
      .withColumn("n", count(lit(1)).over(GridWindow.all))
      .agg(
        coalesce(max(col("n")), lit(0L)).cast("long").as("n_converted"),
        TextSim.r6(max(when(col("rn") === ceil(col("n") * lit(0.5)),
          col("lat_us"))).cast("double") / 1e6).as("p50_s"),
        TextSim.r6(max(when(col("rn") === ceil(col("n") * lit(0.9)),
          col("lat_us"))).cast("double") / 1e6).as("p90_s"),
        TextSim.r6(sum(col("lat_us")).cast("double") /
          max(col("n")).cast("double") / 1e6).as("mean_s"))
  }

  def timeToConvertQuery(s: SparkSession, d: String): DataFrame =
    timeToConvert(Tables.events(s, d))

  /** q_ttc_kmv — the sketch-served time-to-convert twin (third
    * promised [[Kmv]] rung): the exact form's GLOBAL rank window is a
    * single-partition sort of the per-user latency frame — at 10^9
    * converting users, the one non-distributable step. The serve
    * reads p50/p90 off a k = 128 bottom-k sample of the latencies
    * (one ObjectHashAggregate, no sort anywhere), keeps n and the
    * mean EXACT (plain folds — nothing about them needs a sort), and
    * stamps the DKW rank band: F(p̂q) ∈ q ± ε with
    * ε = √(ln(2/δ)/2m) at δ = 0.05 (micro-rounded [[Ks.Ln40Micro]],
    * zero runtime libm). TtcServedSpec asserts the band against the
    * exact CDF.
    */
  def timeToConvertServed(s: SparkSession, d: String): DataFrame = {
    val lat = Iterate.materialize(Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", unix_micros(col("ts")))).as("v"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("p"))
      .filter(col("v").isNotNull && col("p").isNotNull && col("v") <= col("p"))
      .select(col("user_id"), (col("p") - col("v")).as("lat_us")))
    val sk = Kmv.sketch(lat.withColumn("k", lit("all")), "k", "user_id", "lat_us")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val q = sk
      .withColumn("rv", row_number().over(w.orderBy(col("v"), col("h"))))
      .withColumn("m", count(lit(1)).over(w))
      .groupBy(col("key"))
      .agg(max(col("m")).cast("long").as("m_sample"),
        max(when(col("rv") === ceil(col("m") * lit(0.5)), col("v")))
          .as("p50_us"),
        max(when(col("rv") === ceil(col("m") * lit(0.9)), col("v")))
          .as("p90_us"))
    val ex = lat.agg(count(lit(1)).cast("long").as("n_converted"),
      sum(col("lat_us")).as("s_us"))
    ex.crossJoin(broadcast(q.drop("key")))
      .select(col("n_converted"), col("m_sample"),
        TextSim.r6(col("p50_us").cast("double") / 1e6).as("p50_est_s"),
        TextSim.r6(col("p90_us").cast("double") / 1e6).as("p90_est_s"),
        TextSim.r6(col("s_us").cast("double") /
          col("n_converted").cast("double") / 1e6).as("mean_s"),
        TextSim.r6(sqrt(lit(Ks.Ln40Micro) /
          (col("m_sample").cast("double") * 2.0))).as("rank_eps"))
  }

  val timeToConvertServedSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
       |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
       |  FROM events WHERE event_type IN ('view', 'purchase')
       |  GROUP BY user_id
       |), lat AS (
       |  SELECT user_id, (p - v)::BIGINT AS lat_us FROM per_user
       |  WHERE v IS NOT NULL AND p IS NOT NULL AND v <= p
       |), hashed AS (
       |  SELECT md5('all' || '|' || user_id::VARCHAR) AS h,
       |         lat_us::DOUBLE AS v
       |  FROM lat
       |), rankedh AS (
       |  SELECT *, row_number() OVER (ORDER BY h) AS rh FROM hashed
       |), kept AS (SELECT h, v FROM rankedh WHERE rh <= ${Kmv.K}),
       |r2 AS (
       |  SELECT *, row_number() OVER (ORDER BY v, h) AS rv,
       |         count(*) OVER () AS m
       |  FROM kept
       |), q AS (
       |  SELECT max(m)::BIGINT AS m_sample,
       |         max(CASE WHEN rv = ceil(m * 0.5) THEN v END) AS p50_us,
       |         max(CASE WHEN rv = ceil(m * 0.9) THEN v END) AS p90_us
       |  FROM r2
       |), ex AS (
       |  SELECT count(*)::BIGINT AS n_converted, sum(lat_us)::BIGINT AS s_us
       |  FROM lat
       |)
       |SELECT ex.n_converted, q.m_sample,
       |       ${TextSim.r6Sql("q.p50_us::DOUBLE / 1000000.0")} AS p50_est_s,
       |       ${TextSim.r6Sql("q.p90_us::DOUBLE / 1000000.0")} AS p90_est_s,
       |       ${TextSim.r6Sql("ex.s_us::DOUBLE / ex.n_converted::DOUBLE / 1000000.0")} AS mean_s,
       |       ${TextSim.r6Sql(
      s"sqrt(${Ks.Ln40Micro} / (q.m_sample::DOUBLE * 2.0))")} AS rank_eps
       |FROM ex CROSS JOIN q""".stripMargin

  val timeToConvertSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
       |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
       |  FROM events WHERE event_type IN ('view', 'purchase')
       |  GROUP BY user_id
       |), lat AS (
       |  SELECT user_id, (p - v)::BIGINT AS lat_us FROM per_user
       |  WHERE v IS NOT NULL AND p IS NOT NULL AND v <= p
       |), ranked AS (
       |  SELECT lat_us,
       |         row_number() OVER (ORDER BY lat_us, user_id) AS rn,
       |         count(*) OVER () AS n
       |  FROM lat
       |)
       |SELECT coalesce(max(n), 0)::BIGINT AS n_converted,
       |       ${TextSim.r6Sql("max(CASE WHEN rn = ceil(n * 0.5) THEN lat_us END)::DOUBLE / 1000000.0")} AS p50_s,
       |       ${TextSim.r6Sql("max(CASE WHEN rn = ceil(n * 0.9) THEN lat_us END)::DOUBLE / 1000000.0")} AS p90_s,
       |       ${TextSim.r6Sql("sum(lat_us)::DOUBLE / max(n)::DOUBLE / 1000000.0")} AS mean_s
       |FROM ranked""".stripMargin
}
