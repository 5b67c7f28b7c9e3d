package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Capture–recapture estimate of the corpus's TRUE near-duplicate
  * count (Chapman 1951's bias-corrected Lincoln–Petersen, the
  * wildlife-census estimator epidemiology adopted for case-count
  * completeness): treat the MinHash screen and the SimHash screen as
  * two independent "trapping occasions" over the same dup-pair
  * population — from each screen's catch (n₁, n₂) and the overlap m,
  * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 estimates the pairs NEITHER caught.
  * The dedup-QA question no single screen can answer about itself:
  * "how many near-dups are we still shipping?" — est_missed = N̂
  * minus the union is the residual-contamination budget.
  *
  * Honesty note (documented, not hidden): the two screens are
  * POSITIVELY correlated captures (both key on token overlap), so N̂
  * is a LOWER bound on the true dup count — the standard ascertainment
  * caveat (Hook & Regal 1995). It still moves the right way: a
  * corpus whose screens overlap little has many unseen dups, and the
  * spec plants exactly that.
  *
  * Determinism: both catches are the oracle-green q_dedup_minhash /
  * q_dedup_simhash pair frames verbatim (canonical a<b pairs); n₁,
  * n₂, m are exact counts, the overlap an exact (a_id, b_id) join;
  * the Chapman estimate is one truncating div on decimal/HUGEINT
  * products. No doubles anywhere.
  *
  * Scale: the two pair pipelines are the existing banded-LSH paths
  * (salted self-joins, signature barriers); this readout adds one
  * pair-frame join and a 1-row fold on top.
  */
object CaptureRecapture {

  def captureRecapture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.docsAug(s, d)
    capOf(Dedup.minhashPairs(docs).select(col("a_id"), col("b_id")),
      Dedup.simhashPairs(docs).select(col("a_id"), col("b_id")))
  }

  /** Chapman readout over two canonical (a_id, b_id) catch frames.
    * Both catches are DISTINCT pair sets (their pipelines end in
    * `.distinct()`), so n₁, n₂ and the overlap m all read off ONE
    * union-tag fold: tag each side, collapse per pair, sum the flags.
    * The previous shape consumed each unpersisted catch twice (its
    * count + the overlap join), recomputing both LSH self-join
    * pipelines end to end — guide §1.2 step 1 (don't compute things
    * twice) and §2.3 (aggregate before shuffling: the tag fold ships
    * three ints per pair once, vs two full pair frames into a join
    * plus two more full recomputes for the counts).
    */
  private[graft] def capOf(catch1: DataFrame, catch2: DataFrame): DataFrame = {
    catch1.select(col("a_id"), col("b_id"), lit(1).as("t1"), lit(0).as("t2"))
      .unionByName(catch2.select(col("a_id"), col("b_id"),
        lit(0).as("t1"), lit(1).as("t2")))
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("t1")).as("in1"), max(col("t2")).as("in2"))
      .agg(coalesce(sum(col("in1")), lit(0)).cast("long").as("n_minhash"),
        coalesce(sum(col("in2")), lit(0)).cast("long").as("n_simhash"),
        coalesce(sum(col("in1") * col("in2")), lit(0)).cast("long").as("n_both"))
      .withColumn("n_union", col("n_minhash") + col("n_simhash") - col("n_both"))
      .withColumn("chapman_total", expr(
        """cast((cast(n_minhash + 1 as decimal(38,0)) * (n_simhash + 1))
          | div cast(n_both + 1 as decimal(38,0)) as long) - 1""".stripMargin))
      .withColumn("est_missed", col("chapman_total") - col("n_union"))
      .withColumn("cov_minhash_micro",
        when(col("n_simhash") > 0L, expr("(n_both * 1000000) div n_simhash")))
      .withColumn("cov_simhash_micro",
        when(col("n_minhash") > 0L, expr("(n_both * 1000000) div n_minhash")))
  }

  val captureRecaptureSql: String =
    s"""WITH mh AS (SELECT a_id, b_id FROM (
       |${Dedup.minhashSql.linesIterator.map("  " + _).mkString("\n")}
       |) x),
       |sh AS (SELECT a_id, b_id FROM (
       |${Dedup.simhashSql.linesIterator.map("  " + _).mkString("\n")}
       |) y),
       |counts AS (
       |  SELECT (SELECT count(*) FROM mh)::BIGINT AS n_minhash,
       |         (SELECT count(*) FROM sh)::BIGINT AS n_simhash,
       |         (SELECT count(*) FROM mh JOIN sh USING (a_id, b_id))::BIGINT
       |           AS n_both
       |)
       |SELECT n_minhash, n_simhash, n_both,
       |       (n_minhash + n_simhash - n_both)::BIGINT AS n_union,
       |       (((n_minhash + 1)::HUGEINT * (n_simhash + 1)) // (n_both + 1)::HUGEINT
       |        - 1)::BIGINT AS chapman_total,
       |       (((n_minhash + 1)::HUGEINT * (n_simhash + 1)) // (n_both + 1)::HUGEINT
       |        - 1 - (n_minhash + n_simhash - n_both))::BIGINT AS est_missed,
       |       CASE WHEN n_simhash > 0 THEN (n_both * 1000000) // n_simhash
       |            END::BIGINT AS cov_minhash_micro,
       |       CASE WHEN n_minhash > 0 THEN (n_both * 1000000) // n_minhash
       |            END::BIGINT AS cov_simhash_micro
       |FROM counts""".stripMargin
}
