package graft.operators

import graft.Tables
import graft.functions.GridWindow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew tooling for the hot-key joins every 100 TB pipeline eventually
  * hits (a viral duplicate cluster in an LSH bucket, a mega-customer in
  * a fact join).
  *
  * AQE's skew-join handles storage-level skew for sort-merge joins;
  * salting is the explicit fallback when one logical key is hot enough
  * that even a split partition recomputes the same build row for
  * millions of probe rows, or when the join is broadcast-incompatible.
  */
object Skew {

  /** Salted inner equi-join: the big (skewed) side scatters each row
    * into one of `salt` sub-keys; the small side replicates `salt`×.
    * Same result as `big.join(small, keys)`, but a hot key's rows land
    * on `salt` reducers instead of one.
    *
    * The salt is derived from a hash of the whole row (deterministic,
    * no rand()): identical rows share a salt, which spreads real-world
    * hot keys (many *distinct* rows per key) evenly.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
    salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    val b = big.withColumn("__salt",
      pmod(hash(struct(big.columns.map(col): _*)), lit(salt)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    b.join(s, keys :+ "__salt").drop("__salt")
  }

  /** Salted LSH-bucket self-join: joins `df` (aliased `a`) against
    * itself (aliased `b`) on `keyCols` equality plus `a.idCol <
    * b.idCol`, with each bucket split `salt` ways — a viral bucket (one
    * hot band value holding a huge duplicate cluster) lands on `salt`
    * reducers instead of one straggler. Side `a` takes a deterministic
    * `pmod(hash(id), salt)`; side `b` replicates to every salt, so
    * every qualifying pair appears exactly once (at a's salt). Caller
    * selects from the `a.` / `b.` aliases.
    *
    * Cost model: replication multiplies only the band-key table (bare
    * ids + band values — the dedup operators never put payloads through
    * this join), in exchange for bounding the worst partition at
    * |bucket|/salt rows. The pair count is unchanged — salting fixes
    * stragglers, not quadratic blowup (cap bucket df upstream for that).
    */
  def saltedSelfJoin(df: DataFrame, idCol: String, keyCols: Seq[String],
    salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    val a = df.withColumn("__salt", pmod(hash(col(idCol)), lit(salt))).as("a")
    val b = df.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1)))).as("b")
    val cond = (keyCols :+ "__salt")
      .map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
      col(s"a.$idCol") < col(s"b.$idCol")
    a.join(b, cond)
  }

  /** How many heavy hitters to surface in [[report]]. */
  val ReportTopK = 10

  /** Join-key skew DIAGNOSIS — the measurement that decides whether
    * [[saltedJoin]] (or AQE's skew split) is needed at all, and with
    * what salt factor. Per distinct key: its row count; globally: key
    * cardinality, max/mean partition pressure, and the recommended
    * salt = ⌈max/mean⌉ (the factor that levels the hottest key down to
    * an average reducer's load). The report is the [[ReportTopK]]
    * heaviest keys with the global stats riding every row (the
    * [[FdProfile.chi2]] broadcast-scalar pattern).
    *
    * All ratios are integer micro-units (`1e6·a div b` — exact in both
    * engines); products go through decimal(38,0) so a 100 TB key count
    * (max_c·n_keys can pass 2^63 once both factors exceed ~3e9) never
    * silently wraps (the burstiness HUGEINT lesson).
    *
    * Scale shape: one partial-agg groupBy over the fact table (the
    * count fold is map-side combined), then a 1-row stats fold and a
    * partial top-k (`TakeOrderedAndProject` — per-partition heaps, no
    * global sort) over the ≤|keys| count frame. The fact table is
    * scanned once.
    */
  def report(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("c"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      max(col("c")).as("max_c"))
      .select(col("n_keys"), col("n_rows"), col("max_c"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_rows) div n_keys AS BIGINT)")
          .as("mean_micro"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * max_c * n_keys) div n_rows AS BIGINT)")
          .as("skew_micro"),
        expr("CAST((CAST(max_c AS DECIMAL(38,0)) * n_keys + n_rows - 1) div n_rows AS BIGINT)")
          .as("rec_salt"))
    val top = counts.orderBy(col("c").desc, col("k")).limit(ReportTopK)
      .withColumn("rank",
        row_number().over(GridWindow.ord(col("c").desc, col("k"))))
    top.crossJoin(broadcast(stats))
      .select(col("rank"), col("k").as("key"), col("c"),
        col("n_keys"), col("n_rows"), col("max_c"),
        col("mean_micro"), col("skew_micro"), col("rec_salt"))
  }

  /** q_skew_report — skew diagnosis of the events fact table on its
    * `user_id` join key (the key every user-grain enrichment join
    * shuffles on).
    */
  def skewReport(s: SparkSession, d: String): DataFrame =
    report(Tables.events(s, d), "user_id")

  val skewReportSql: String =
    s"""WITH counts AS (
       |  SELECT user_id AS k, count(*)::BIGINT AS c
       |  FROM events GROUP BY user_id
       |), stats AS (
       |  SELECT count(*)::BIGINT AS n_keys,
       |         sum(c)::BIGINT AS n_rows,
       |         max(c)::BIGINT AS max_c
       |  FROM counts
       |), stats2 AS (
       |  SELECT n_keys, n_rows, max_c,
       |         ((1000000::HUGEINT * n_rows) // n_keys)::BIGINT AS mean_micro,
       |         ((1000000::HUGEINT * max_c * n_keys) // n_rows)::BIGINT AS skew_micro,
       |         ((max_c::HUGEINT * n_keys + n_rows - 1) // n_rows)::BIGINT AS rec_salt
       |  FROM stats
       |), top AS (
       |  SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rank
       |  FROM counts ORDER BY c DESC, k LIMIT $ReportTopK
       |)
       |SELECT rank::BIGINT AS rank, k AS key, c,
       |       n_keys, n_rows, max_c, mean_micro, skew_micro, rec_salt
       |FROM top CROSS JOIN stats2
       |ORDER BY rank""".stripMargin
}
