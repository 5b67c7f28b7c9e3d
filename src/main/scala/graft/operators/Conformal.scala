package graft.operators

import graft.Tables
import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Risk-controlled selective classification (the reject option;
  * Geifman & El-Yaniv NeurIPS'17, split-calibration form): find the
  * smallest margin threshold τ whose CALIBRATION-slice accuracy among
  * accepted docs (margin ≥ τ) meets the risk target, then report the
  * held-out EVAL slice's realized coverage and accuracy at that τ —
  * the deployment contract for every routing decision the engine's
  * classifier feeds (`q_nb_classify` routes languages;
  * `q_nb_calibration` says whether the margin is honest in bands;
  * this turns it into an operating point: "auto-route at the target
  * accuracy, human-review the rest", the rest being exactly the
  * reported 1 − coverage). The oracle query runs at a 10% target —
  * the synthetic labels are noise by construction (≈15% global
  * accuracy, flat in margin), so the fixture's honest operating
  * point is full coverage; ConformalSpec plants a separable corpus
  * to exercise real partial-coverage selection at 95%.
  *
  * Determinism: the τ decision is ALL-INTEGER — per distinct margin
  * value, descending cumulative (n, n_correct) folds as BIGINTs and
  * the acceptance test is 100·cum_correct ≥ target·cum_n (no double
  * touches the decision); τ is the min qualifying margin via a
  * min-fold, coverage/accuracy divide once each (r6). No qualifying
  * τ (the classifier can't reach the target at any coverage) reports
  * a NULL row — the degenerate guard.
  *
  * Scale shape: scoring is the broadcast-LUT scan of
  * [[NaiveBayes.scoreWith]]; the cumulative runs over DISTINCT
  * calibration margins (per-value counts fold map-side first — state
  * is the margin-value frame, the q_quantiles exact-audit shape;
  * the rescan-free path reads τ off a [[Kmv]] bottom-k sketch of
  * margins at ±ε coverage); τ is a 1-row broadcast onto the eval
  * fold. Slices are doc_id-parity flags, not joins.
  */
object Conformal {

  /** Required accepted-accuracy percentage. */
  val TargetPct = 10L

  def conformalQuery(s: SparkSession, d: String): DataFrame =
    conformalOf(NaiveBayes.classify(Tables.documents(s, d)), TargetPct)

  /** [[conformalQuery]] over any scored `(doc_id, label, pred,
    * margin_micro)` frame with a caller-chosen risk target.
    */
  def conformalOf(classified: DataFrame, targetPct: Long): DataFrame = {
    val scored = classified
      .select(col("doc_id"), col("label"), col("pred"), col("margin_micro"),
        (col("pred") === col("label")).cast("long").as("ok"))
      .persist()
    val cal = scored.filter(col("doc_id") % 2 === 1)
    val eval_ = scored.filter(col("doc_id") % 2 === 0)
    val byM = cal.groupBy(col("margin_micro"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("ok")).as("c"))
    val wDesc = graft.functions.GridWindow.ord(col("margin_micro").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byM
      .withColumn("cn", sum(col("n")).over(wDesc))
      .withColumn("cc", sum(col("c")).over(wDesc))
    val calTot = cal.agg(count(lit(1)).cast("long").as("n_cal"))
    // the MOST PERMISSIVE qualifying threshold (max coverage at the
    // risk bound): min margin whose descending prefix meets the target
    val tau = cum
      .filter(col("cc") * 100L >= lit(targetPct) * col("cn"))
      .agg(min(struct(col("margin_micro").as("m"), col("cn").as("cn"),
        col("cc").as("cc"))).as("m"))
      .select(col("m.m").as("tau_micro"), col("m.cn").as("acc_n"),
        col("m.cc").as("acc_c"))
    val evalAt = eval_.crossJoin(broadcast(tau))
      .filter(col("margin_micro") >= col("tau_micro"))
      .agg(count(lit(1)).cast("long").as("e_n"), sum(col("ok")).as("e_c"))
    val evalTot = eval_.agg(count(lit(1)).cast("long").as("n_eval"))
    tau.crossJoin(broadcast(calTot))
      .crossJoin(broadcast(evalAt))
      .crossJoin(broadcast(evalTot))
      .select(col("tau_micro"),
        TextSim.r6(col("acc_n").cast("double") / col("n_cal").cast("double"))
          .as("cal_coverage"),
        TextSim.r6(col("acc_c").cast("double") / col("acc_n").cast("double"))
          .as("cal_accuracy"),
        TextSim.r6(col("e_n").cast("double") / col("n_eval").cast("double"))
          .as("eval_coverage"),
        when(col("e_n") > 0,
          TextSim.r6(col("e_c").cast("double") / col("e_n").cast("double")))
          .as("eval_accuracy"))
  }

  /** Nests [[NaiveBayes.nbClassifySql]] verbatim (the
    * nbCalibrationSql precedent) so the scored frame has exactly ONE
    * SQL definition.
    */
  lazy val conformalSql: String =
    s"""WITH flagged AS (
       |  SELECT doc_id, lang AS label, pred, margin_micro,
       |         (pred = lang)::BIGINT AS ok
       |  FROM (${NaiveBayes.nbClassifySql})
       |), cal AS (
       |  SELECT * FROM flagged WHERE doc_id % 2 = 1
       |), ev AS (
       |  SELECT * FROM flagged WHERE doc_id % 2 = 0
       |), by_m AS (
       |  SELECT margin_micro, count(*)::BIGINT AS n, sum(ok)::BIGINT AS c
       |  FROM cal GROUP BY margin_micro
       |), cum AS (
       |  SELECT margin_micro,
       |         sum(n) OVER (ORDER BY margin_micro DESC ROWS UNBOUNDED PRECEDING)::BIGINT AS cn,
       |         sum(c) OVER (ORDER BY margin_micro DESC ROWS UNBOUNDED PRECEDING)::BIGINT AS cc
       |  FROM by_m
       |), tau AS (
       |  SELECT m.mm AS tau_micro, m.cn AS acc_n, m.cc AS acc_c
       |  FROM (SELECT min({'mm': margin_micro, 'cn': cn, 'cc': cc}) AS m
       |        FROM cum WHERE cc * 100 >= $TargetPct * cn)
       |), cal_tot AS (
       |  SELECT count(*)::BIGINT AS n_cal FROM cal
       |), eval_at AS (
       |  SELECT count(*)::BIGINT AS e_n, coalesce(sum(ok), 0)::BIGINT AS e_c
       |  FROM ev CROSS JOIN tau WHERE ev.margin_micro >= tau.tau_micro
       |), eval_tot AS (
       |  SELECT count(*)::BIGINT AS n_eval FROM ev
       |)
       |SELECT tau_micro,
       |       ${TextSim.r6Sql("acc_n::DOUBLE / n_cal::DOUBLE")} AS cal_coverage,
       |       ${TextSim.r6Sql("acc_c::DOUBLE / acc_n::DOUBLE")} AS cal_accuracy,
       |       ${TextSim.r6Sql("e_n::DOUBLE / n_eval::DOUBLE")} AS eval_coverage,
       |       CASE WHEN e_n > 0 THEN ${TextSim.r6Sql("e_c::DOUBLE / e_n::DOUBLE")}
       |       END AS eval_accuracy
       |FROM tau CROSS JOIN cal_tot CROSS JOIN eval_at CROSS JOIN eval_tot""".stripMargin

  /** q_conformal_kmv — the sketch-served operating point (fourth and
    * last promised [[Kmv]] rung): the exact form's τ decision runs a
    * global descending window over the calibration margins — a
    * single-partition sort at 10^9 calibration docs. The serve makes
    * the SAME all-integer decision over a k = 128 bottom-k sample
    * of (margin, correct) pairs — the pair rides one packed value,
    * `margin_micro·2 + ok` (lossless in a double for any micro margin
    * < 2^51; the standard sketch payload-packing trick), so the
    * mergeable sketch state stays the plain [[Kmv]] (key, h, v)
    * frame — then evaluates the chosen τ̂ EXACTLY on the eval slice
    * via one broadcast filter fold (no sort anywhere). `cov_eps`
    * stamps the DKW coverage band: cal-coverage at τ̂ is within ±ε of
    * the sample's estimate w.p. 95%. ConformalServedSpec plants the
    * separable corpus and asserts the served operating point tracks
    * the exact one in coverage within the band, and realized eval
    * accuracy meets the target within binomial slack.
    */
  def conformalServed(s: SparkSession, d: String): DataFrame =
    conformalServedOf(NaiveBayes.classify(Tables.documents(s, d)), TargetPct)

  def conformalServedOf(classified: DataFrame, targetPct: Long): DataFrame = {
    val scored = Iterate.materialize(classified
      .select(col("doc_id"), col("margin_micro"),
        (col("pred") === col("label")).cast("long").as("ok")))
    val cal = scored.filter(col("doc_id") % 2 === 1)
    val eval_ = scored.filter(col("doc_id") % 2 === 0)
    val sk = Kmv.sketch(
      cal.withColumn("k", lit("cal"))
        .withColumn("pv", col("margin_micro") * 2L + col("ok")),
      "k", "doc_id", "pv")
    val sample = sk.select((col("v") % 2.0).cast("long").as("ok"),
      ((col("v") - col("v") % 2.0) / 2.0).cast("long").as("margin_micro"))
    val byM = sample.groupBy(col("margin_micro"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("ok")).as("c"))
    val wDesc = graft.functions.GridWindow.ord(col("margin_micro").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byM
      .withColumn("cn", sum(col("n")).over(wDesc))
      .withColumn("cc", sum(col("c")).over(wDesc))
    val mTot = sample.agg(count(lit(1)).cast("long").as("m_sample"))
    val tau = cum
      .filter(col("cc") * 100L >= lit(targetPct) * col("cn"))
      .agg(min(struct(col("margin_micro").as("m"), col("cn").as("cn")))
        .as("t"))
      .select(col("t.m").as("tau_micro"), col("t.cn").as("s_acc_n"))
    val evalAt = eval_.crossJoin(broadcast(tau))
      .filter(col("margin_micro") >= col("tau_micro"))
      .agg(count(lit(1)).cast("long").as("e_n"),
        coalesce(sum(col("ok")), lit(0L)).as("e_c"))
    val evalTot = eval_.agg(count(lit(1)).cast("long").as("n_eval"))
    tau.crossJoin(broadcast(mTot))
      .crossJoin(broadcast(evalAt))
      .crossJoin(broadcast(evalTot))
      .select(col("tau_micro"), col("m_sample"),
        TextSim.r6(col("s_acc_n").cast("double") / col("m_sample").cast("double"))
          .as("sample_coverage"),
        TextSim.r6(col("e_n").cast("double") / col("n_eval").cast("double"))
          .as("eval_coverage"),
        when(col("e_n") > 0,
          TextSim.r6(col("e_c").cast("double") / col("e_n").cast("double")))
          .as("eval_accuracy"),
        TextSim.r6(sqrt(lit(Ks.Ln40Micro) /
          (col("m_sample").cast("double") * 2.0))).as("cov_eps"))
  }

  lazy val conformalServedSql: String =
    s"""WITH flagged AS (
       |  SELECT doc_id, margin_micro, (pred = lang)::BIGINT AS ok
       |  FROM (${NaiveBayes.nbClassifySql})
       |), cal AS (
       |  SELECT * FROM flagged WHERE doc_id % 2 = 1
       |), ev AS (
       |  SELECT * FROM flagged WHERE doc_id % 2 = 0
       |), hashed AS (
       |  SELECT md5('cal' || '|' || doc_id::VARCHAR) AS h,
       |         (margin_micro * 2 + ok)::DOUBLE AS v
       |  FROM cal
       |), rankedh AS (
       |  SELECT *, row_number() OVER (ORDER BY h) AS rh FROM hashed
       |), sample AS (
       |  SELECT (v % 2.0)::BIGINT AS ok,
       |         ((v - v % 2.0) / 2.0)::BIGINT AS margin_micro
       |  FROM rankedh WHERE rh <= ${Kmv.K}
       |), by_m AS (
       |  SELECT margin_micro, count(*)::BIGINT AS n, sum(ok)::BIGINT AS c
       |  FROM sample GROUP BY margin_micro
       |), cum AS (
       |  SELECT margin_micro,
       |         sum(n) OVER (ORDER BY margin_micro DESC ROWS UNBOUNDED PRECEDING)::BIGINT AS cn,
       |         sum(c) OVER (ORDER BY margin_micro DESC ROWS UNBOUNDED PRECEDING)::BIGINT AS cc
       |  FROM by_m
       |), m_tot AS (SELECT count(*)::BIGINT AS m_sample FROM sample),
       |tau AS (
       |  SELECT t.m AS tau_micro, t.cn AS s_acc_n
       |  FROM (SELECT min({'m': margin_micro, 'cn': cn}) AS t
       |        FROM cum WHERE cc * 100 >= $targetSqlPct * cn)
       |), eval_at AS (
       |  SELECT count(*)::BIGINT AS e_n, coalesce(sum(ok), 0)::BIGINT AS e_c
       |  FROM ev CROSS JOIN tau WHERE ev.margin_micro >= tau.tau_micro
       |), eval_tot AS (SELECT count(*)::BIGINT AS n_eval FROM ev)
       |SELECT tau_micro, m_sample,
       |       ${TextSim.r6Sql("s_acc_n::DOUBLE / m_sample::DOUBLE")} AS sample_coverage,
       |       ${TextSim.r6Sql("e_n::DOUBLE / n_eval::DOUBLE")} AS eval_coverage,
       |       CASE WHEN e_n > 0 THEN ${TextSim.r6Sql("e_c::DOUBLE / e_n::DOUBLE")}
       |       END AS eval_accuracy,
       |       ${TextSim.r6Sql(
      s"sqrt(${Ks.Ln40Micro} / (m_sample::DOUBLE * 2.0))")} AS cov_eps
       |FROM tau CROSS JOIN m_tot CROSS JOIN eval_at CROSS JOIN eval_tot""".stripMargin

  private def targetSqlPct: Long = TargetPct
}
