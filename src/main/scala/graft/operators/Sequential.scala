package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q_sequential — group-sequential interim monitoring of the A/B
  * experiment (O'Brien–Fleming boundary): the PEEKING correction.
  * Reading `q_abtest`'s z at 1.96 after every week is the classic
  * false-positive machine (5 naive looks ≈ 14% type-I error); the
  * group-sequential design spends the α budget across K planned looks
  * with a boundary that starts brutal and relaxes to ≈ the fixed test
  * at the horizon — O'Brien–Fleming b_k = c(K,α)·√(K/k), c ≈ 2.040
  * for K = 5, α = 0.05 two-sided (Pocock 1982 tables). Per look: the
  * CUMULATIVE arm counts (a user exists at look k if their first
  * event precedes the checkpoint; converted if their purchases BY the
  * checkpoint clear the threshold), the pooled z, the boundary, and
  * whether the experiment may stop.
  *
  * Determinism: checkpoints are integer-µs span quantiles; all counts
  * exact BIGINTs off one (user, look) fold; the 5 boundary constants
  * micro-round ONCE here and inline as identical literals in both
  * engines (no runtime sqrt of k anywhere); z mirrors `q_abtest`'s
  * expression shape, r6, NULL on degenerate pools or an empty arm.
  *
  * Scale: the look explosion is a ×K projection riding the events
  * scan (K = 5, map-side combined to |users|·K partial rows → bucket
  * by user at 100 TB); the readout is a 2K-row fold.
  */
object Sequential {

  val Looks = 5

  /** O'Brien–Fleming two-sided α=0.05 boundary for K=5, micro-rounded
    * once and shared verbatim with the oracle SQL.
    */
  val Boundaries: Seq[Double] = {
    val c = 2.040
    (1 to Looks).map(k =>
      math.floor(c * math.sqrt(Looks.toDouble / k) * 1e6 + 0.5) / 1e6)
  }

  def sequentialQuery(s: SparkSession, d: String): DataFrame =
    sequential(Tables.events(s, d))

  /** Interim readouts over any `(user_id, event_type, ts)` frame. */
  def sequential(evRaw: DataFrame): DataFrame = {
    val ev = evRaw.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val span = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
    val perLook = ev.crossJoin(broadcast(span))
      .select(col("user_id"), col("event_type"), col("ts_us"),
        explode(sequence(lit(1), lit(Looks))).as("look"),
        col("lo"), col("hi"))
      .withColumn("t_k", expr(s"lo + ((hi - lo) * look) div $Looks"))
      .groupBy(col("user_id"), col("look"))
      .agg(min(col("ts_us")).as("first_us"), min(col("t_k")).as("t_k"),
        sum(when(col("event_type") === "purchase" &&
          col("ts_us") <= col("t_k"), 1L).otherwise(0L)).as("purch"))
      .filter(col("first_us") <= col("t_k"))
      .select(col("look"),
        when(conv(substring(md5(concat(lit("arm:"),
          col("user_id").cast("string"))), 1, 7), 16, 10).cast("long") % 2 === 0,
          "A").otherwise("B").as("variant"),
        (col("purch") >= Events.AbConvertThreshold).cast("long").as("converted"))
    val wide = perLook.groupBy(col("look"))
      .agg(sum(when(col("variant") === "A", 1L).otherwise(0L)).cast("long").as("na"),
        sum(when(col("variant") === "A", col("converted"))).cast("long").as("ca"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).cast("long").as("nb"),
        sum(when(col("variant") === "B", col("converted"))).cast("long").as("cb"))
    val bExpr = element_at(array(Boundaries.map(lit): _*), col("look").cast("int"))
    val zExpr = when(
      col("na") > 0 && col("nb") > 0 &&
        col("ca") + col("cb") > 0 && col("ca") + col("cb") < col("na") + col("nb"),
      TextSim.r6(
        (col("ca").cast("double") / col("na") - col("cb").cast("double") / col("nb")) /
          sqrt(((col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))) *
            (lit(1.0) - (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))) *
            (lit(1.0) / col("na") + lit(1.0) / col("nb")))))
    wide.select(col("look"), col("na"), col("ca"), col("nb"), col("cb"),
      zExpr.as("z"), bExpr.as("boundary"),
      coalesce(abs(zExpr) >= bExpr, lit(false)).as("may_stop"))
  }

  val sequentialSql: String = {
    val bCase = Boundaries.zipWithIndex.map { case (b, i) =>
      s"WHEN ${i + 1} THEN $b" }.mkString(" ")
    val z = "CASE WHEN na > 0 AND nb > 0 AND ca + cb > 0 AND ca + cb < na + nb THEN " +
      TextSim.r6Sql(
        "(ca::DOUBLE / na - cb::DOUBLE / nb) / sqrt(((ca + cb)::DOUBLE / (na + nb)) * (1.0 - (ca + cb)::DOUBLE / (na + nb)) * (1.0 / na + 1.0 / nb))") +
      " END"
    s"""WITH span AS (
       |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
       |), per_look AS (
       |  SELECT user_id, g.look,
       |         min(epoch_us(ts)) AS first_us,
       |         min(lo + ((hi - lo) * g.look) // $Looks) AS t_k,
       |         sum(CASE WHEN event_type = 'purchase'
       |                   AND epoch_us(ts) <= lo + ((hi - lo) * g.look) // $Looks
       |                  THEN 1 ELSE 0 END)::BIGINT AS purch
       |  FROM events CROSS JOIN span
       |  CROSS JOIN (SELECT unnest(generate_series(1, $Looks)) AS look) g
       |  GROUP BY user_id, g.look
       |), arms AS (
       |  SELECT look,
       |         CASE WHEN ('0x' || substr(md5('arm:' || user_id), 1, 7))::BIGINT % 2 = 0
       |              THEN 'A' ELSE 'B' END AS variant,
       |         (purch >= ${Events.AbConvertThreshold})::BIGINT AS converted
       |  FROM per_look WHERE first_us <= t_k
       |), wide AS (
       |  SELECT look,
       |         sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)::BIGINT AS na,
       |         sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END)::BIGINT AS ca,
       |         sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)::BIGINT AS nb,
       |         sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END)::BIGINT AS cb
       |  FROM arms GROUP BY look
       |)
       |SELECT look, na, ca, nb, cb,
       |       $z AS z,
       |       CASE look $bCase END AS boundary,
       |       coalesce(abs($z) >= CASE look $bCase END, false) AS may_stop
       |FROM wide
       |ORDER BY look""".stripMargin
  }
}
