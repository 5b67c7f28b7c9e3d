package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar (int8) embedding quantization — the storage/bandwidth step
  * between embedding generation and ANN serving: per-dimension min/max
  * over the corpus, then each value mapped to [-127, 127].
  *
  * Scale shape: the stats pass is posexplode → groupBy(dim) — 64
  * groups, partial-agg friendly, one tiny shuffle; the quantize pass
  * is a per-row map against the broadcast 64-double stats arrays. At
  * 100 TB the stats frame is still 64 rows — the broadcast never
  * grows with the corpus (contrast a join on vec_id, which would
  * shuffle the full vector table).
  *
  * Determinism: min/max are order-free; float→double widening is
  * exact; the quantize formula is fixed-order IEEE arithmetic — the
  * oracle evaluates the identical expression.
  */
object Quantize {

  val Levels = 254 // [-127, 127]

  /** Per-dimension (mn, mx) stats as two array columns (one row). */
  def dimStats(vectors: DataFrame): DataFrame =
    vectors
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct(col("i"), col("mn"), col("mx")))).as("s"))
      .select(
        transform(col("s"), e => e.getField("mn")).as("mns"),
        transform(col("s"), e => e.getField("mx")).as("mxs"))

  /** Quantized corpus `(vec_id, quant)` — quant is the comma-joined
    * int8 codes (string identity, so the result is engine-comparable
    * without list-encoding concerns). A constant dimension (mx = mn)
    * quantizes to 0.
    */
  def quantize(vectors: DataFrame): DataFrame = {
    val stats = dimStats(vectors)
    vectors.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        concat_ws(",", transform(col("embedding"), (x, i) => {
          val mn = element_at(col("mns"), i + 1)
          val mx = element_at(col("mxs"), i + 1)
          when(mx > mn,
            floor((x.cast("double") - mn) / (mx - mn) * lit(254.0) + lit(0.5)) - 127)
            .otherwise(lit(0L)).cast("string")
        })).as("quant"))
  }

  /** q_vec_quant — [[quantize]] over the embeddings table. */
  def vecQuant(s: SparkSession, d: String): DataFrame =
    quantize(Tables.embeddings(s, d))

  val vecQuantSql: String =
    """WITH dims AS (
      |  SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
      |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      |  GROUP BY i
      |), stats AS (
      |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
      |)
      |SELECT vec_id,
      |       array_to_string([
      |         CASE WHEN mxs[i] > mns[i]
      |              THEN (floor((embedding[i]::DOUBLE - mns[i]) / (mxs[i] - mns[i]) * 254.0 + 0.5) - 127)::BIGINT
      |              ELSE 0 END::VARCHAR
      |         for i in range(1, 65)], ',') AS quant
      |FROM embeddings CROSS JOIN stats
      |ORDER BY vec_id""".stripMargin
}
