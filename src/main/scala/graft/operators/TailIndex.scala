package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q_tail_index — Hill tail-exponent estimate (Hill 1975) of the
  * per-user activity distribution, per event type: the SKEW-PLANNING
  * number beside [[JoinCard]]'s F₂. F₂ says how big a self-join IS;
  * the tail exponent α says how the distribution's tail DECAYS —
  * α ≤ 2 means infinite variance (one key can carry a constant
  * fraction of the mass at any scale: salting is mandatory, sampling
  * estimators lie), α > 2 means the tail thins fast enough that
  * per-key work concentrates predictably. The number a capacity
  * planner reads before sizing reducers for a power-law key.
  *
  * Estimator: with degrees x₍₁₎ ≥ … ≥ x₍ₙ₎ and k = max(1, n/10)
  * tail order statistics, α̂ = k / Σᵢ₌₁..k (ln x₍ᵢ₎ − ln x₍ₖ₊₁₎).
  * Determinism: degrees are exact BIGINTs; the rank is total
  * ((x desc, user_id) — the Winsorize convention); each ln FIXES to
  * r6 BEFORE the decimal sum (the libm rule), the denominator is the
  * exact decimal Σ minus k·r6(ln x₍ₖ₊₁₎), one r6 division at the
  * edge. Degenerate tails (all top-(k+1) degrees equal → zero
  * denominator, or n ≤ k) report NULL — never NaN/Inf.
  *
  * Scale: one partial-agg fold to ≤|users|·|types| degree rows; the
  * rank window partitions by type (the per-type exact-audit shape —
  * at extreme |users| serve the threshold from [[Kmv]] bottom-k and
  * fold only x ≥ x₍ₖ₊₁₎ rescan-free); the Hill fold is map-side to
  * ≤|types| rows.
  */
object TailIndex {

  /** Tail fraction denominator: k = n div 10. */
  val TailDen = 10L

  def tailIndexQuery(s: SparkSession, d: String): DataFrame =
    tailIndex(Tables.events(s, d), "event_type", "user_id")

  def tailIndex(ev: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val deg = ev.groupBy(col(keyCol), col(idCol))
      .agg(count(lit(1)).cast("long").as("x"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("x").desc, col(idCol))
    val ranked = deg.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .withColumn("k", greatest(lit(1L), expr(s"n div $TailDen")))
    val tailSum = ranked.filter(col("rn") <= col("k"))
      .groupBy(col(keyCol))
      .agg(TextSim.dsum(TextSim.r6(log(col("x").cast("double")))).as("slx"))
    val thresh = ranked.filter(col("rn") === col("k") + 1L)
      .select(col(keyCol), col("n"), col("k"), col("x").as("x_tail"),
        TextSim.r6(log(col("x").cast("double"))).as("lxk"))
    val denom = col("slx") - col("k").cast("double") * col("lxk")
    thresh.join(tailSum, Seq(keyCol))
      .select(col(keyCol), col("n").as("n_ids"), col("k"), col("x_tail"),
        when(denom > 0, TextSim.r6(col("k").cast("double") / denom))
          .as("alpha"),
        when(denom > 0,
          (TextSim.r6(col("k").cast("double") / denom) <= 2.0).cast("int"))
          .as("infinite_variance"))
  }

  val tailIndexSql: String =
    s"""WITH deg AS (
       |  SELECT event_type, user_id, count(*)::BIGINT AS x
       |  FROM events GROUP BY event_type, user_id
       |), ranked AS (
       |  SELECT event_type, user_id, x,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY x DESC, user_id)::BIGINT AS rn,
       |         count(*) OVER (PARTITION BY event_type)::BIGINT AS n
       |  FROM deg
       |), kk AS (
       |  SELECT *, greatest(1, n // $TailDen) AS k FROM ranked
       |), tail_sum AS (
       |  SELECT event_type, ${TextSim.dsumSql(TextSim.r6Sql("ln(x::DOUBLE)"))} AS slx
       |  FROM kk WHERE rn <= k GROUP BY event_type
       |), thresh AS (
       |  SELECT event_type, n, k, x AS x_tail,
       |         ${TextSim.r6Sql("ln(x::DOUBLE)")} AS lxk
       |  FROM kk WHERE rn = k + 1
       |)
       |SELECT t.event_type, t.n AS n_ids, t.k, t.x_tail,
       |       CASE WHEN s.slx - t.k * t.lxk > 0
       |            THEN ${TextSim.r6Sql("t.k::DOUBLE / (s.slx - t.k * t.lxk)")}
       |       END AS alpha,
       |       CASE WHEN s.slx - t.k * t.lxk > 0 THEN
       |         (${TextSim.r6Sql("t.k::DOUBLE / (s.slx - t.k * t.lxk)")} <= 2.0)::INT
       |       END AS infinite_variance
       |FROM thresh t JOIN tail_sum s ON s.event_type = t.event_type
       |ORDER BY t.event_type""".stripMargin
}
