package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Herfindahl–Hirschman concentration index (Herfindahl 1950,
  * Hirschman 1945 — the antitrust concentration standard) of SOURCE
  * shares within each language slice: HHI = Σ s_i² over source
  * shares, and its reciprocal — the EFFECTIVE NUMBER of sources
  * (Laakso–Taagepera 1979) — "this language's corpus behaves as if
  * it came from k.x equally-sized sources". The concentration face
  * of the mix-audit family: `q_domain_entropy` reports Shannon
  * diversity (sensitive to the tail), HHI weights the HEAD — a
  * language whose HHI spikes is one takedown away from losing its
  * corpus, whatever the entropy says.
  *
  * Determinism — exact integers only: HHI = Σc²/n² rides as
  * hhi_micro = (Σc²·1e6) div n² with both products on
  * decimal(38,0)/HUGEINT (c² ~ corpus² wraps int64), effective
  * sources as the mirrored reciprocal div; the DOJ thresholds
  * (0.15 / 0.25, micro-fixed) classify each slice
  * unconcentrated / moderate / concentrated — integer compares on
  * the lattice, identical both engines.
  *
  * Scale: one corpus fold to the |langs|·|sources| cell frame,
  * per-lang re-folds, ≤|langs| output rows.
  */
object Hhi {

  def hhi(s: SparkSession, d: String): DataFrame =
    hhiOf(Tables.documents(s, d).select(col("lang").as("slice"),
      col("source").as("holder")))

  /** Per-slice HHI over any (slice, holder) membership frame. */
  private[graft] def hhiOf(rows: DataFrame): DataFrame = {
    val cells = rows.groupBy(col("slice"), col("holder"))
      .agg(count(lit(1)).cast("long").as("c"))
    cells.groupBy(col("slice"))
      .agg(count(lit(1)).cast("long").as("n_holders"),
        sum(col("c")).cast("long").as("n"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
      .withColumn("hhi_micro", expr(
        "cast((sc2 * 1000000) div (cast(n as decimal(38,0)) * n) as long)"))
      .withColumn("eff_holders_micro", expr(
        "cast((cast(n as decimal(38,0)) * n * 1000000) div sc2 as long)"))
      .withColumn("band",
        when(col("hhi_micro") < 150000L, "unconcentrated")
          .when(col("hhi_micro") < 250000L, "moderate")
          .otherwise("concentrated"))
      .select(col("slice"), col("n"), col("n_holders"), col("hhi_micro"),
        col("eff_holders_micro"), col("band"))
  }

  val hhiSql: String =
    s"""WITH cells AS (
       |  SELECT lang AS slice, source AS holder, count(*)::BIGINT AS c
       |  FROM documents GROUP BY 1, 2
       |), folded AS (
       |  SELECT slice, count(*)::BIGINT AS n_holders, sum(c)::BIGINT AS n,
       |         sum(c::HUGEINT * c) AS sc2
       |  FROM cells GROUP BY slice
       |)
       |SELECT slice, n, n_holders,
       |       ((sc2 * 1000000) // (n::HUGEINT * n))::BIGINT AS hhi_micro,
       |       ((n::HUGEINT * n * 1000000) // sc2)::BIGINT AS eff_holders_micro,
       |       CASE WHEN (sc2 * 1000000) // (n::HUGEINT * n) < 150000 THEN 'unconcentrated'
       |            WHEN (sc2 * 1000000) // (n::HUGEINT * n) < 250000 THEN 'moderate'
       |            ELSE 'concentrated' END AS band
       |FROM folded ORDER BY slice""".stripMargin
}
