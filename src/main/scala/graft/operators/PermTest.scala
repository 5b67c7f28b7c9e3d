package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Permutation test for the experiment readout — the assumption-free
  * benchmark (Fisher 1935 exact randomization logic, Monte-Carlo
  * form): [[Events.abtest]]'s z and [[RatioMetric]]'s delta method
  * both lean on normal approximations; the permutation test asks the
  * question directly — under the null, arm labels are exchangeable,
  * so re-randomize the labels B times and count how often the
  * re-randomized |difference| reaches the observed one. p = that
  * fraction. No variance formula to get wrong, correct at any n and
  * any metric distribution — the readout review teams use to settle
  * "is the z approximation trustworthy HERE".
  *
  * Determinism: pseudo-permutations are md5-KEYED, not sampled —
  * permutation i assigns user u by the parity of md5("perm:i:u")
  * (the house split discipline), so both engines enumerate the SAME
  * B = [[Perms]] label vectors; arm mean differences ride the
  * integer lattice ((Σy·1e6) div n per arm), and p is an exact
  * integer ratio — the VALID Monte-Carlo estimator
  * p = (1 + #{|diff| ≥ |obs|}) / (B + 1) (Phipson & Smyth 2010: the
  * observed labeling counts as one of its own permutations), so p
  * has a floor of 1/(B+1) and can never be exactly 0. Permutations
  * with an empty arm yield NULL diff and count only in the
  * denominator — conservative, never inflating significance.
  *
  * Scale: ONE per-user fold, then users × B — a bounded CONSTANT
  * multiplier (B is a design constant, never data) — folded straight
  * back per permutation by partial agg; the readout is 1 row. At
  * 100 TB the per-user frame is the only corpus-sized object and it
  * buckets by user.
  */
object PermTest {

  /** Monte-Carlo permutation count (p resolution = 1/Perms). */
  val Perms = 200

  def permTest(s: SparkSession, d: String): DataFrame =
    permTestOfUsers(Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("y")))

  /** The test over any per-user (user_id, y) frame. */
  def permTestOfUsers(usersRaw: DataFrame): DataFrame = {
    val users = Iterate.materialize(usersRaw)
    def diffMicro(df: DataFrame, arm: org.apache.spark.sql.Column,
      keys: Seq[String]): DataFrame =
      df.withColumn("a", arm)
        .groupBy(keys.map(col): _*)
        .agg(sum(when(col("a") === 1L, col("y"))).cast("long").as("sya"),
          sum(when(col("a") === 1L, 1L).otherwise(0L)).cast("long").as("na"),
          sum(when(col("a") === 0L, col("y"))).cast("long").as("syb"),
          sum(when(col("a") === 0L, 1L).otherwise(0L)).cast("long").as("nb"))
        .withColumn("diff_micro", when(col("na") > 0L && col("nb") > 0L,
          expr("(sya * 1000000) div na - (syb * 1000000) div nb")))
    val armOf = (key: org.apache.spark.sql.Column) =>
      when(conv(substring(md5(key), 1, 7), 16, 10).cast("long") % 2 === 0, 1L)
        .otherwise(0L)
    val obs = diffMicro(users,
      armOf(concat(lit("arm:"), col("user_id").cast("string"))), Seq.empty)
      .select(col("diff_micro").as("obs_micro"),
        (col("na") + col("nb")).as("n_users"))
    val perms = users.crossJoin(broadcast(
      users.sparkSession.range(Perms).select(col("id").as("pid"))))
    val permDiffs = diffMicro(perms,
      armOf(concat(lit("perm:"), col("pid").cast("string"), lit(":"),
        col("user_id").cast("string"))), Seq("pid"))
    permDiffs.crossJoin(broadcast(obs))
      .agg(max(col("n_users")).as("n_users"),
        max(col("obs_micro")).as("obs_diff_micro"),
        count(lit(1)).cast("long").as("n_perms"),
        sum(when(abs(col("diff_micro")) >= abs(col("obs_micro")), 1L)
          .otherwise(0L)).cast("long").as("n_ge"))
      .withColumn("p_micro", expr("((n_ge + 1) * 1000000) div (n_perms + 1)"))
      .withColumn("significant_05",
        when(col("obs_diff_micro").isNotNull,
          (col("p_micro") < 50000L).cast("int")))
  }

  val permTestSql: String = {
    def arm(key: String) =
      s"CASE WHEN ('0x' || substr(md5($key), 1, 7))::BIGINT % 2 = 0 THEN 1 ELSE 0 END"
    s"""WITH users AS MATERIALIZED (
       |  SELECT user_id, count(*)::BIGINT AS y FROM events GROUP BY user_id
       |), obs AS (
       |  SELECT CASE WHEN na > 0 AND nb > 0
       |              THEN (sya * 1000000) // na - (syb * 1000000) // nb
       |              END::BIGINT AS obs_micro,
       |         (na + nb)::BIGINT AS n_users
       |  FROM (
       |    SELECT sum(CASE WHEN a = 1 THEN y END)::BIGINT AS sya,
       |           sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)::BIGINT AS na,
       |           sum(CASE WHEN a = 0 THEN y END)::BIGINT AS syb,
       |           sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)::BIGINT AS nb
       |    FROM (SELECT y, ${arm("'arm:' || user_id")} AS a FROM users))
       |), perms AS (
       |  SELECT p.pid,
       |    CASE WHEN na > 0 AND nb > 0
       |         THEN (sya * 1000000) // na - (syb * 1000000) // nb
       |         END::BIGINT AS diff_micro
       |  FROM (
       |    SELECT pid,
       |           sum(CASE WHEN a = 1 THEN y END)::BIGINT AS sya,
       |           sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)::BIGINT AS na,
       |           sum(CASE WHEN a = 0 THEN y END)::BIGINT AS syb,
       |           sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)::BIGINT AS nb
       |    FROM (
       |      SELECT g.pid, u.y,
       |             ${arm("'perm:' || g.pid || ':' || u.user_id")} AS a
       |      FROM users u
       |      CROSS JOIN (SELECT unnest(range(0, $Perms)) AS pid) g)
       |    GROUP BY pid) p
       |)
       |SELECT max(o.n_users)::BIGINT AS n_users,
       |       max(o.obs_micro)::BIGINT AS obs_diff_micro,
       |       count(*)::BIGINT AS n_perms,
       |       sum(CASE WHEN abs(p.diff_micro) >= abs(o.obs_micro)
       |                THEN 1 ELSE 0 END)::BIGINT AS n_ge,
       |       ((sum(CASE WHEN abs(p.diff_micro) >= abs(o.obs_micro)
       |                  THEN 1 ELSE 0 END)::BIGINT + 1) * 1000000)
       |         // (count(*) + 1) AS p_micro,
       |       CASE WHEN max(o.obs_micro) IS NOT NULL THEN
       |         (CASE WHEN ((sum(CASE WHEN abs(p.diff_micro) >= abs(o.obs_micro)
       |                           THEN 1 ELSE 0 END)::BIGINT + 1) * 1000000)
       |                    // (count(*) + 1) < 50000 THEN 1 ELSE 0 END)::INT
       |       END AS significant_05
       |FROM perms p CROSS JOIN obs o""".stripMargin
  }
}
