package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Differentially-private histogram release — the NOISE rung the
  * privacy ladder was missing: [[Kanon]]'s k-anonymity / l-diversity /
  * t-closeness AUDIT re-identification risk in a release but the
  * released counts are still exact; this operator releases counts a
  * formal ε-DP mechanism has perturbed, completing
  * audit → generalize → noise.
  *
  * Mechanism: the geometric mechanism (Ghosh–Roughgarden–Sundararajan
  * 2009 — the discrete Laplace, universally utility-optimal for count
  * queries): released = count + X with P(X = k) ∝ α^|k|. α is fixed
  * at 1/2, i.e. **ε = ln 2 ≈ 0.693 per released histogram** (the
  * privacy ratio P(X=k)/P(X=k±1) = 2 = e^ε; unit-sensitivity
  * counting query — add/remove one document changes one cell by 1).
  * α = 1/2 is chosen because every tail probability is then DYADIC:
  * P(X=0) = 1/3, P(X=±k) = 2^−k/3, so the inverse CDF is EXACT
  * integer arithmetic on a 40-bit uniform — noise = f(bit length of
  * 3u) — with no libm call anywhere (ln/exp last-ulp divergence
  * between engines is the classic hash flake; here there is nothing
  * to diverge).
  *
  * Determinism: the uniform is md5-keyed per cell (the house
  * split/sample discipline) — "sticky noise": re-running the SAME
  * release (same cells, same counts, same seed) returns the SAME
  * noisy value, so repeated identical queries don't spend additional
  * ε budget (the memoized-noise practice; fresh randomness per run
  * would be 2ε, 3ε, … under composition). Sticky noise does NOT make
  * re-publishing EVOLVING counts free: releasing c_t + X at several
  * times with one fixed draw X reveals every inter-release delta
  * c_t − c_s exactly — unbounded loss for a record arriving between
  * two publications. A changing count published on a schedule needs
  * [[continualCounts]] (the tree mechanism), or a fresh seed + ε per
  * publication.
  *
  * Domain rule: cells are released over the FULL PUBLIC domain
  * (zero counts included, noise on every cell) — releasing only
  * non-empty cells would leak set membership exactly. The overloads
  * taking only `df` DERIVE the domain from the protected table's
  * distinct key values as a convenience: that is sound ONLY under the
  * assumption that every category value already appears publicly
  * (enumerable category codes, not data). A value contributed by a
  * single user appears in/disappears from a derived grid with
  * certainty — if the domain is not public knowledge, pass the
  * explicit enumeration via the `domain` parameter instead.
  *
  * Utility: E|X| = 4/3, P(|X| ≥ k) = 2^(1−k)/3 — released counts sit
  * within ±4 of truth with probability > 99.5% (asserted in
  * DpReleaseSpec). Negative releases are kept raw (clamping is valid
  * post-processing but biases sums; the consumer chooses).
  *
  * Scale: one partial-agg fold to the ≤|domain| cell frame; the dense
  * grid is bounded-×-bounded; noise is a per-row md5 expression. The
  * corpus is touched exactly once.
  */
object DpRelease {

  /** 40-bit uniform granularity. */
  private val T = 1L << 40

  /** ε = ln 2 in integer micro-nats — the release's privacy budget,
    * stamped on every row so downstream accounting can Σ it.
    */
  val EpsMicro = 693147L

  /** Discrete-Laplace(α=1/2) noise from a 40-bit uniform column —
    * exact integer inverse CDF: u < 1/3 → negative tail, u ≥ 2/3 →
    * positive tail, magnitude = 41 − bitlength(3·u′) (u′ the tail
    * offset), else 0.
    */
  def geometricNoise(u: Column): Column = {
    val n3 = u * 3
    when(n3 < T, -(lit(41) - length(bin(n3))).cast("long"))
      .when(n3 >= 2 * T, (lit(41) - length(bin((lit(T) - u) * 3))).cast("long"))
      .otherwise(0L)
  }

  /** SQL mirror of [[geometricNoise]]. */
  def geometricNoiseSql(u: String): String =
    s"""CASE WHEN ($u) * 3 < $T THEN -(41 - length(bin(($u) * 3)))::BIGINT
       |     WHEN ($u) * 3 >= ${2 * T} THEN (41 - length(bin(($T - ($u)) * 3)))::BIGINT
       |     ELSE 0::BIGINT END""".stripMargin.replace("\n", " ")

  /** ε-DP noisy counts of `df` per `keys` over the full domain
    * (cartesian of each key's distinct values, zero cells included).
    * `seed` namespaces the release — a DIFFERENT seed is a fresh
    * mechanism invocation and spends another ε. `domain`, when given,
    * is the caller-supplied PUBLIC enumeration frame (one column per
    * key); omitted, the domain is derived from `df` itself — see the
    * object doc's domain rule for when that derivation is sound.
    */
  def noisyCounts(df: DataFrame, keys: Seq[String], seed: String,
    domain: Option[DataFrame] = None): DataFrame =
    releaseCounts(df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c")),
      keys, seed, domain)

  /** Release over an ALREADY-MAINTAINED count-cell frame `(keys…, c)`.
    * Privacy scope — ONE publication: sticky noise means re-running
    * this release over UNCHANGED cells re-derives the identical
    * output for one ε, but publishing it again after the cells have
    * evolved is a fresh mechanism whose fixed noise cancels in the
    * difference (the published deltas are the exact true deltas —
    * StreamingDpSpec demonstrates the leak). A count published on
    * every trigger needs [[continualCounts]].
    */
  def releaseCounts(cellsRaw: DataFrame, keys: Seq[String],
    seed: String, domain: Option[DataFrame] = None): DataFrame = {
    // each branch re-aliases its columns through a fresh name and back
    // (new expression ids): the grid crosses and left-joins the SAME
    // input, and a streaming memory-sink VIEW referenced from several
    // branches otherwise trips Catalyst's conflicting-references check
    // (the house streaming self-join rule)
    def fresh(df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(cols.map(c => col(c).as(s"__f_$c")): _*)
        .select(cols.map(c => col(s"__f_$c").as(c)): _*)
    val cells = fresh(cellsRaw, keys :+ "c")
    val grid = domain.getOrElse(
      keys.map(k => fresh(cellsRaw, Seq(k)).distinct())
        .reduce(_.crossJoin(_)))
    val cellKey = concat(lit(s"dp:$seed:"),
      concat_ws("|", keys.map(k => col(k).cast("string")): _*))
    val u = conv(substring(md5(cellKey), 1, 10), 16, 10).cast("long")
    grid.join(cells, keys, "left_outer")
      .select(keys.map(col) :+ coalesce(col("c"), lit(0L)).as("c0"): _*)
      .select((keys.map(col) :+
        (col("c0") + geometricNoise(u)).as("n_released") :+
        lit(EpsMicro).as("eps_micro")): _*)
  }

  /** ε-DP noisy SUM release — the bounded-sensitivity rung above
    * [[noisyCounts]]: per-group Σ of `valueCents` CLAMPED to
    * [0, clamp] (clamping bounds one row's influence — without it a
    * sum has unbounded sensitivity and no finite ε exists), released
    * on the clamp lattice: clamp·(S div clamp + X). One row moves S
    * by ≤ clamp, hence the lattice point by ≤ 1 step, so the same
    * α = 1/2 noise gives ε = ln 2; the div-floor costs ≤ clamp of
    * rounding — the standard coarse-release trade (a per-unit
    * geometric would need α = 2^(1/clamp): non-dyadic, libm, flaky).
    * Clamp choice is the usual bias/noise dial: low clips honest
    * heavy spenders, high inflates noise clamp-proportionally.
    */
  def noisySum(df: DataFrame, keys: Seq[String], valueCents: Column,
    clamp: Long, seed: String, domain: Option[DataFrame] = None): DataFrame = {
    val cells = df.groupBy(keys.map(col): _*)
      .agg(sum(least(greatest(valueCents, lit(0L)), lit(clamp))).as("s"))
    val grid = domain.getOrElse(
      keys.map(k => df.select(col(k)).distinct())
        .reduce(_.crossJoin(_)))
    val cellKey = concat(lit(s"dpsum:$seed:"),
      concat_ws("|", keys.map(k => col(k).cast("string")): _*))
    val u = conv(substring(md5(cellKey), 1, 10), 16, 10).cast("long")
    grid.join(cells, keys, "left_outer")
      .select(keys.map(col) :+ coalesce(col("s"), lit(0L)).as("s0"): _*)
      .select((keys.map(col) :+
        ((expr(s"s0 div $clamp") + geometricNoise(u)) * clamp)
          .as("sum_released_cents") :+
        lit(clamp).as("clamp_cents") :+
        lit(EpsMicro).as("eps_micro")): _*)
  }

  /** q_dp_sum — the ε = ln 2 release of per-type revenue (Σ value in
    * cents, clamped at [[SumClampCents]] per event): the aggregate a
    * revenue-sharing report publishes when row-level amounts are
    * sensitive.
    */
  val SumClampCents = 10000L

  def dpSum(s: SparkSession, d: String): DataFrame =
    noisySum(Tables.events(s, d).filter(col("value").isNotNull),
      Seq("event_type"),
      floor(col("value") * 100 + 0.5).cast("long"),
      SumClampCents, "v1")
      .orderBy(col("event_type"))

  val dpSumSql: String = {
    val u = "('0x' || substr(md5('dpsum:v1:' || g.event_type), 1, 10))::BIGINT"
    s"""WITH cells AS (
       |  SELECT event_type,
       |         sum(least(greatest(CAST(floor(value * 100 + 0.5) AS BIGINT), 0),
       |                   $SumClampCents))::BIGINT AS s
       |  FROM events WHERE value IS NOT NULL GROUP BY event_type
       |), grid AS (SELECT DISTINCT event_type FROM events WHERE value IS NOT NULL)
       |SELECT g.event_type,
       |       ((coalesce(c.s, 0) // $SumClampCents + ${geometricNoiseSql(u)})
       |        * $SumClampCents)::BIGINT AS sum_released_cents,
       |       ${SumClampCents}::BIGINT AS clamp_cents,
       |       ${EpsMicro}::BIGINT AS eps_micro
       |FROM grid g LEFT JOIN cells c ON c.event_type = g.event_type
       |ORDER BY g.event_type""".stripMargin
  }

  /** USER-level ε-DP with contribution bounding — the rung row-level
    * DP silently skips: [[noisyCounts]] protects one ROW, but one
    * USER owns many rows, so removing a user can move a histogram
    * arbitrarily and row-level ε says nothing about them. Standard
    * fix (Wilson et al., "Differentially Private SQL", VLDB'20):
    * BOUND each user's contribution — here each user counts toward at
    * most [[UserCap]] cells (their md5-ranked first K distinct
    * groups; deterministic, so oracle-able), then release per-cell
    * counts with the α = 1/2 noise. Removing one user changes ≤ K
    * cells by ≤ 1 each, so by basic composition the release is
    * (K·ln 2)-DP at user level — `eps_micro` stamps K·693147, the
    * honest ledger (the per-cell mechanism is unchanged; the BUDGET
    * is what contribution width multiplies).
    */
  val UserCap = 2

  def noisyUserCounts(df: DataFrame, userCol: String, keyCol: String,
    seed: String, domain: Option[DataFrame] = None): DataFrame = {
    // each user's distinct groups, md5-rank-capped to UserCap via a
    // user-partitioned row_number (the contribution bound; partitioned
    // by user, so it scales — users bucket, no global sort)
    val contrib = df.select(col(userCol).as("u"), col(keyCol).as("k"))
      .distinct()
      .withColumn("rk", conv(substring(md5(
        concat(lit(s"cap:$seed:"), col("u").cast("string"), lit("|"),
          col("k").cast("string"))), 1, 10), 16, 10).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("rk"), col("k"))
    val capped = contrib.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= UserCap)
    val cells = capped.groupBy(col("k")).agg(count(lit(1)).as("c"))
    // release over the FULL key domain, noised zero cells included
    // (mirrors releaseCounts): capping can empty a cell entirely, and
    // releasing only cells with a surviving contribution would make
    // the output's SUPPORT data-dependent — one user's removal could
    // delete a key from the release, an event distinguishable with
    // certainty, outside any finite ε.
    val grid = domain.map(_.select(col(keyCol).as("k")))
      .getOrElse(df.select(col(keyCol).as("k")).distinct())
    val u = conv(substring(md5(concat(lit(s"dpu:$seed:"),
      col("k").cast("string"))), 1, 10), 16, 10).cast("long")
    grid.join(cells, Seq("k"), "left_outer")
      .select(col("k").as(keyCol),
        (coalesce(col("c"), lit(0L)) + geometricNoise(u)).as("n_released"),
        lit(EpsMicro * UserCap).as("eps_micro"))
  }

  /** q_dp_users — user-level release of the per-type active-user
    * histogram (each user counted in at most [[UserCap]] of the
    * event types they touched).
    */
  /** Top-k released cells. */
  val TopKCells = 5

  /** ε-DP top-k — the "most common categories" release (the query a
    * usage dashboard actually publishes): the k cells with the
    * LARGEST NOISY counts from one full-domain geometric release.
    * This is the one-shot noisy-top-k mechanism (the Laplace variant
    * of report-noisy-max, cf. Ding–Kifer–Machanavajjhala and
    * Durfee–Rogers 2019): a single noise draw per cell, select the k
    * largest. Privacy is immediate here because the WHOLE noisy
    * histogram ([[releaseCounts]], ε = ln 2) is the released object
    * and both the selection and the ranks are post-processing — no
    * per-candidate ε charge, no peeling composition (an iterative
    * peel with fresh noise per round would pay k·ε for strictly less
    * output). Ties break on the key — deterministic, and a function
    * of released values only, so still post-processing.
    *
    * Scale: the rank window runs on the BOUNDED released grid
    * (GridWindow — |domain| rows, never the corpus).
    */
  def dpTopK(df: DataFrame, keys: Seq[String], seed: String,
    k: Int = TopKCells): DataFrame = {
    val released = noisyCounts(df, keys, seed)
    released
      .withColumn("rank", row_number().over(graft.functions.GridWindow.ord(
        col("n_released").desc +: keys.map(col): _*)).cast("long"))
      .filter(col("rank") <= k)
      .select((col("rank") +: keys.map(col)) :+
        col("n_released") :+ col("eps_micro"): _*)
  }

  /** q_dp_topk — the 5 most common (source, lang) cells by noisy
    * count, post-processed from the SAME ε = ln 2 release as
    * `q_dp_counts` (same seed: zero additional budget — the sticky
    * noise means the two queries together still cost one ε).
    */
  def dpTopKQuery(s: SparkSession, d: String): DataFrame =
    dpTopK(Tables.documents(s, d), Seq("source", "lang"), "v1")
      .orderBy(col("rank"))

  val dpTopKSql: String = {
    val u = "('0x' || substr(md5('dp:v1:' || g.source || '|' || g.lang), 1, 10))::BIGINT"
    s"""WITH cells AS (
       |  SELECT source, lang, count(*)::BIGINT AS c
       |  FROM documents GROUP BY source, lang
       |), grid AS (
       |  SELECT s.source, l.lang
       |  FROM (SELECT DISTINCT source FROM documents) s
       |  CROSS JOIN (SELECT DISTINCT lang FROM documents) l
       |), released AS (
       |  SELECT g.source, g.lang,
       |         (coalesce(c.c, 0) + ${geometricNoiseSql(u)})::BIGINT AS n_released
       |  FROM grid g LEFT JOIN cells c
       |    ON c.source = g.source AND c.lang = g.lang
       |), ranked AS (
       |  SELECT row_number() OVER (ORDER BY n_released DESC, source, lang)::BIGINT
       |           AS rank,
       |         source, lang, n_released
       |  FROM released
       |)
       |SELECT rank, source, lang, n_released, ${EpsMicro}::BIGINT AS eps_micro
       |FROM ranked WHERE rank <= $TopKCells
       |ORDER BY rank""".stripMargin
  }

  def dpUsers(s: SparkSession, d: String): DataFrame =
    noisyUserCounts(Tables.events(s, d), "user_id", "event_type", "v1")
      .orderBy(col("event_type"))

  val dpUsersSql: String = {
    val u = "('0x' || substr(md5('dpu:v1:' || g.k), 1, 10))::BIGINT"
    s"""WITH contrib AS (
       |  SELECT DISTINCT user_id AS u, event_type AS k FROM events
       |), ranked AS (
       |  SELECT u, k,
       |         row_number() OVER (PARTITION BY u ORDER BY
       |           ('0x' || substr(md5('cap:v1:' || u || '|' || k), 1, 10))::BIGINT,
       |           k) AS rn
       |  FROM contrib
       |), cells AS (
       |  SELECT k, count(*)::BIGINT AS c FROM ranked WHERE rn <= $UserCap
       |  GROUP BY k
       |), grid AS (SELECT DISTINCT event_type AS k FROM events)
       |SELECT g.k AS event_type,
       |       (coalesce(c.c, 0) + ${geometricNoiseSql(u)})::BIGINT AS n_released,
       |       ${EpsMicro * UserCap}::BIGINT AS eps_micro
       |FROM grid g LEFT JOIN cells c ON c.k = g.k
       |ORDER BY event_type""".stripMargin
  }

  /** q_dp_counts — the ε = ln 2 release of the corpus composition
    * histogram (documents per source × lang): the number a data-
    * sharing agreement actually permits publishing when the exact
    * composition is sensitive.
    */
  def dpCounts(s: SparkSession, d: String): DataFrame =
    noisyCounts(Tables.documents(s, d), Seq("source", "lang"), "v1")
      .orderBy(col("source"), col("lang"))

  val dpCountsSql: String = {
    val u = "('0x' || substr(md5('dp:v1:' || g.source || '|' || g.lang), 1, 10))::BIGINT"
    s"""WITH cells AS (
       |  SELECT source, lang, count(*)::BIGINT AS c
       |  FROM documents GROUP BY source, lang
       |), grid AS (
       |  SELECT s.source, l.lang
       |  FROM (SELECT DISTINCT source FROM documents) s
       |  CROSS JOIN (SELECT DISTINCT lang FROM documents) l
       |)
       |SELECT g.source, g.lang,
       |       (coalesce(c.c, 0) + ${geometricNoiseSql(u)})::BIGINT AS n_released,
       |       ${EpsMicro}::BIGINT AS eps_micro
       |FROM grid g LEFT JOIN cells c
       |  ON c.source = g.source AND c.lang = g.lang
       |ORDER BY g.source, g.lang""".stripMargin
  }

  /** PUBLIC binning for the DP length-quantile release: the bin edges
    * are fixed constants, NOT data-derived (a data-derived min/max is
    * itself a sensitive statistic and would leak outside the budget).
    */
  val QBinWidth = 200L
  val QBins = 40
  val QuantilePcts = Seq(10L, 25L, 50L, 75L, 90L)

  /** q_dp_quantile — ε-DP quantiles of document length by the
    * noisy-histogram method (the standard DP quantile release, e.g.
    * Google's DP library's bounded-quantiles shape): ONE geometric-
    * mechanism histogram over the [[QBins]] public fixed-width bins
    * (ε = ln 2 total — unit sensitivity, one cell per document), then
    * the whole quantile ladder reads off the noisy CDF as pure
    * post-processing (free under DP). Negative noisy cells clamp to 0
    * for the CDF (valid post-processing); the estimate is the UPPER
    * edge of the first bin whose cumulative clears ⌈q·N̂/100⌉ —
    * conservative, resolution [[QBinWidth]] chars. A release whose
    * clamped histogram is all zero yields NULL estimates; note an
    * EMPTY corpus still releases noise-only quantiles — by design,
    * the mechanism cannot reveal emptiness (that is the privacy).
    *
    * Same dyadic-noise determinism as the whole ladder: md5-keyed
    * 40-bit uniforms, exact integer inverse CDF, zero libm. Scale:
    * one corpus fold to the [[QBins]]-row histogram; everything after
    * runs on the bounded grid.
    */
  def dpQuantile(s: SparkSession, d: String): DataFrame =
    dpQuantileOf(s, Tables.documents(s, d))

  /** The release over any frame carrying `n_chars`. */
  def dpQuantileOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.GridWindow
    val hist = docs
      .select(least(expr(s"cast(n_chars AS bigint) div $QBinWidth"),
        lit(QBins - 1L)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).cast("long").as("c"))
    val u = conv(substring(md5(concat(lit("dpq:v1:"),
      col("bin").cast("string"))), 1, 10), 16, 10).cast("long")
    val noisy = s.range(0, QBins.toLong).select(col("id").as("bin"))
      .join(hist, Seq("bin"), "left")
      .select(col("bin"),
        greatest(coalesce(col("c"), lit(0L)) + geometricNoise(u), lit(0L))
          .as("clamped"))
      .withColumn("cum", sum(col("clamped")).over(GridWindow.ord(col("bin"))))
      .withColumn("total", sum(col("clamped")).over(GridWindow.all))
    val qs = s.range(0, QuantilePcts.size.toLong)
      .select(element_at(
        array(QuantilePcts.map(lit): _*), (col("id") + 1).cast("int"))
        .as("q_pct"))
    qs.join(noisy,
      col("total") > 0 && col("cum") * 100 >= col("q_pct") * col("total"),
      "left")
      .groupBy(col("q_pct"))
      .agg(min(col("bin")).as("bin"), max(col("total")).as("n_released"))
      .select(col("q_pct"), col("bin"),
        when(col("bin").isNotNull, (col("bin") + 1) * QBinWidth)
          .as("est_chars_le"),
        col("n_released"), lit(EpsMicro).as("eps_micro"))
  }

  val dpQuantileSql: String = {
    val u = "('0x' || substr(md5('dpq:v1:' || g.bin), 1, 10))::BIGINT"
    s"""WITH hist AS (
       |  SELECT least(n_chars::BIGINT // $QBinWidth, ${QBins - 1}) AS bin,
       |         count(*)::BIGINT AS c
       |  FROM documents GROUP BY 1
       |), noisy AS (
       |  SELECT g.bin,
       |         greatest(coalesce(h.c, 0) + ${geometricNoiseSql(u)}, 0)
       |           AS clamped
       |  FROM (SELECT unnest(generate_series(0, ${QBins - 1})) AS bin) g
       |  LEFT JOIN hist h ON h.bin = g.bin
       |), cdf AS (
       |  SELECT bin, sum(clamped) OVER (ORDER BY bin)::BIGINT AS cum,
       |         sum(clamped) OVER ()::BIGINT AS total
       |  FROM noisy
       |), qs AS (
       |  SELECT unnest([${QuantilePcts.mkString(", ")}])::BIGINT AS q_pct
       |)
       |SELECT q.q_pct, min(c.bin) AS bin,
       |       CASE WHEN min(c.bin) IS NOT NULL
       |            THEN (min(c.bin) + 1) * $QBinWidth END AS est_chars_le,
       |       max(c.total) AS n_released,
       |       $EpsMicro::BIGINT AS eps_micro
       |FROM qs q LEFT JOIN cdf c
       |  ON c.total > 0 AND c.cum * 100 >= q.q_pct * c.total
       |GROUP BY q.q_pct
       |ORDER BY q.q_pct""".stripMargin
  }

  /** Continual-observation release — the mechanism a count published
    * on a SCHEDULE needs (Chan–Shi–Song 2011; Dwork–Naor–Pitassi–
    * Rothblum 2010, the binary/tree counter). [[releaseCounts]] with
    * sticky noise is one publication: re-published after the cells
    * evolve, the fixed draw cancels in the difference and every
    * inter-release delta leaks exactly. The tree counter fixes this
    * structurally: time is a dyadic hierarchy of [[ContinualLevels]]
    * levels over a PUBLIC `horizon` of epochs; each node (level l,
    * index i) covers epochs [i·2^l, (i+1)·2^l) and carries its own
    * sticky geometric noise; the released running count at epoch t is
    * the sum of the ≤ popcount(t+1) noisy nodes in the binary
    * decomposition of [0, t] (node membership is the closed form:
    * node (l, i) ∈ prefix(n = t+1) iff bit l of n is set and
    * i = (n >> (l+1))·2). One arriving record lands in exactly one
    * node per level — `levels` releases of an α = 1/2 mechanism — so
    * the WHOLE schedule of `horizon` publications is
    * (levels · ln 2)-DP, stamped in `eps_micro`. Error per release is
    * ≤ popcount(t+1) ≤ levels node noises (E|X| = 4/3 each): the
    * logarithmic-error/fixed-budget trade that makes per-trigger
    * publishing sound where naive re-release is not.
    *
    * Determinism: node noise is md5-keyed by (seed, cell, l, i) —
    * the same dyadic inverse CDF as the whole ladder, zero libm; the
    * streamed per-trigger release and the batch release of the same
    * prefix are bit-identical (StreamingDpSpec asserts it).
    *
    * Scale: ONE corpus fold to the (cell, epoch) delta frame; node
    * sums are a bounded |cells|·horizon·levels explode-fold;
    * everything after runs on bounded grids. The epoch grid and
    * horizon are release-schedule constants (public); the cell
    * domain follows the object doc's domain rule (`domain` for a
    * caller-supplied public enumeration).
    */
  def continualCounts(df: DataFrame, keys: Seq[String], epoch: Column,
    horizon: Int, seed: String, domain: Option[DataFrame] = None): DataFrame = {
    val s = df.sparkSession
    val levels = 64 - java.lang.Long.numberOfLeadingZeros(horizon.toLong)
    // the ONE corpus fold, materialized: three consumers reference it
    // (node sums, the cell grid, and — via both — the release), and
    // without a barrier each re-derives the whole scan (the
    // multi-reference-fold rule; a lineage cut so the printed plan
    // shows the corpus touched once — the Changepoint/Psi precedent)
    val deltas = Iterate.materialize(df
      .select((keys.map(col) :+ epoch.cast("long").as("t")): _*)
      .filter(col("t") >= 0 && col("t") < horizon)
      .groupBy((keys.map(col) :+ col("t")): _*)
      .agg(count(lit(1)).cast("long").as("d")))
    val lvls = s.range(0, levels).select(col("id").cast("int").as("l"))
    // each delta row lands in exactly one node per level: i = t >> l
    val nodeSums = deltas.crossJoin(lvls)
      .withColumn("i", expr("shiftright(t, l)"))
      .groupBy((keys.map(col) :+ col("l") :+ col("i")): _*)
      .agg(sum(col("d")).cast("long").as("nd"))
    // nodes referenced by each released prefix n = t + 1 (closed form)
    val refs = s.range(0, horizon).select(col("id").as("t"))
      .crossJoin(lvls)
      .withColumn("n", col("t") + 1)
      .filter(expr("(shiftright(n, l) % 2) = 1"))
      .withColumn("i", expr("shiftright(n, l + 1) * 2"))
      .select(col("t"), col("l"), col("i"))
    // cell domain derived from the DELTA frame, not df: the deltas
    // fold is the one corpus pass, and a second full scan just to
    // enumerate keys would double the 100 TB cost (the object doc's
    // domain rule applies either way — pass `domain` when the
    // enumeration must be public rather than data-derived)
    val cellGrid = domain.getOrElse(deltas.select(keys.map(col): _*).distinct())
    val u = conv(substring(md5(concat_ws(":",
      lit(s"dpc:$seed") +: keys.map(k => col(k).cast("string")) :+
        col("l").cast("string") :+ col("i").cast("string"): _*)),
      1, 10), 16, 10).cast("long")
    cellGrid.crossJoin(refs)
      .join(nodeSums, keys :+ "l" :+ "i", "left_outer")
      .select((keys.map(col) :+ col("t") :+
        (coalesce(col("nd"), lit(0L)) + geometricNoise(u)).as("node_rel")): _*)
      .groupBy((keys.map(col) :+ col("t")): _*)
      .agg(sum(col("node_rel")).cast("long").as("n_released_cum"),
        count(lit(1)).cast("long").as("n_nodes"))
      .withColumn("eps_micro", lit(EpsMicro * levels))
  }

  /** q_dp_continual — the per-type running event count published
    * daily over the January-2024 window ([[ContinualHorizon]] epochs,
    * a release-schedule constant) under the tree mechanism: the
    * dashboard [[dpCounts]] cannot soundly serve (its re-publication
    * leaks deltas), at (⌈log₂ horizon⌉ · ln 2) total for the whole
    * month of releases.
    */
  val ContinualHorizon = 30
  val ContinualEpoch0 = "2024-01-01"
  val ContinualLevels: Int =
    64 - java.lang.Long.numberOfLeadingZeros(ContinualHorizon.toLong)

  def dpContinual(s: SparkSession, d: String): DataFrame =
    continualCounts(Tables.events(s, d), Seq("event_type"),
      datediff(col("ts").cast("date"), to_date(lit(ContinualEpoch0))),
      ContinualHorizon, "v1")
      .select(col("event_type"), col("t").as("day"),
        col("n_released_cum"), col("n_nodes"), col("eps_micro"))
      .orderBy(col("event_type"), col("day"))

  val dpContinualSql: String = {
    val u = "('0x' || substr(md5('dpc:v1:' || g.event_type || ':' || r.l || ':' || r.i), 1, 10))::BIGINT"
    s"""WITH deltas AS (
       |  SELECT event_type,
       |         date_diff('day', DATE '$ContinualEpoch0', ts::DATE)::BIGINT AS t,
       |         count(*)::BIGINT AS d
       |  FROM events
       |  WHERE date_diff('day', DATE '$ContinualEpoch0', ts::DATE)
       |        BETWEEN 0 AND ${ContinualHorizon - 1}
       |  GROUP BY 1, 2
       |), lvls AS (SELECT unnest(range(0, $ContinualLevels)) AS l),
       |nodesums AS (
       |  SELECT event_type, l, (t >> l) AS i, sum(d)::BIGINT AS nd
       |  FROM deltas CROSS JOIN lvls GROUP BY 1, 2, 3
       |), refs AS (
       |  SELECT t, l, ((t + 1) >> (l + 1)) * 2 AS i
       |  FROM (SELECT unnest(range(0, $ContinualHorizon)) AS t)
       |  CROSS JOIN lvls
       |  WHERE (((t + 1) >> l) % 2) = 1
       |), grid AS (SELECT DISTINCT event_type FROM deltas)
       |SELECT g.event_type, r.t AS day,
       |       sum(coalesce(n.nd, 0) + ${geometricNoiseSql(u)})::BIGINT
       |         AS n_released_cum,
       |       count(*)::BIGINT AS n_nodes,
       |       ${EpsMicro * ContinualLevels}::BIGINT AS eps_micro
       |FROM grid g CROSS JOIN refs r
       |LEFT JOIN nodesums n
       |  ON n.event_type = g.event_type AND n.l = r.l AND n.i = r.i
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }
}
