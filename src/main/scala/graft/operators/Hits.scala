package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS (Kleinberg hubs & authorities) over the crawl link graph —
  * the directed-graph twin of [[Crawl.pageRank]]: authority mass
  * flows along in-links from hub scores, hub mass along out-links
  * from authority scores, each half-round L1-normalized. Crawl
  * schedulers use the pair (fetch high-authority pages, expand
  * high-hub pages); rank-vs-rank disagreement is a link-spam signal.
  *
  * Fixed-point integer arithmetic end-to-end (the [[Crawl.pageRank]]
  * discipline): scores are longs in [[HitsScale]] units, each
  * normalization is `raw · Scale div Σraw` (floor division — the
  * < n units lost per round are the documented rounding), so the
  * oracle can mirror every operation exactly with no float drift.
  * Overflow bound: `raw ≤ maxdeg · Scale`, so `raw · Scale` needs
  * `maxdeg · Scale² < 2^63` — Scale = 1e8 holds to maxdeg ≈ 900
  * (raise the bound by dropping Scale, not by widening the type).
  *
  * Scale shape: each half-round is one edge-join + one partial-agg
  * groupBy on the receiving node key (both sides bucket by node id at
  * 100 TB — identical to the PageRank contrib round); Σraw rides the
  * round's materialization as an `observe()` metric, so normalization
  * costs NO extra job — the [[Components]] fixpoint discipline. Every
  * round is lineage-cut via [[Iterate.materialize]].
  */
object Hits {

  val HitsScale = 100000000L // 1e8 fixed-point units
  val HitsIters = 3

  /** `(node, auth, hub)` after `iters` full rounds over
    * `edges(src, dst)`; hubs init at Scale each.
    */
  def hits(edges: DataFrame, iters: Int = HitsIters): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().persist()

    // one half-round: fold `score` over `from`-side matches onto the
    // `to` side, L1-normalize in Scale units. Σraw observes the same
    // materialization that cuts the round's lineage.
    //
    // Zero-score nodes are carried IMPLICITLY between rounds (guide
    // §2.4 — remove the shuffle outright): a node absent from `raw`
    // holds exactly 0 — it adds 0 to Σraw, normalizes to 0, and
    // contributes 0 through the next round's sum — so the node-set
    // left join that used to pad every half-round (an extra exchange
    // + join × 6 per query) is needed only on `pad` = the final
    // round of each score, where the output contract requires every
    // node to appear.
    def halfRound(score: DataFrame, scoreCol: String, from: String,
      to: String, outCol: String, pad: Boolean): DataFrame = {
      val contrib = score.join(e, score("node") === e(from))
        .select(e(to).as("node"), score(scoreCol).as("s"))
        .groupBy(col("node")).agg(sum(col("s")).as("raw"))
      val raw =
        if (pad) nodes.join(contrib, Seq("node"), "left")
          .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
        else contrib
      // an unpadded raw frame can be EMPTY (edgeless graph): Σraw
      // observes 0 and the normalizer floors at 1
      val (rawM, t) = Iterate.materialize(raw, sum(col("raw")))
      val total = math.max(1L, t)
      rawM.select(col("node"),
        expr(s"(raw * ${HitsScale}L) div ${total}L").as(outCol))
    }

    // the seed is materialized (the BFS-seed discipline): it derives
    // from `e`, so joining it straight back to `e` would be an
    // ambiguous self-join; later rounds are fresh by construction
    var hub = Iterate.materialize(
      nodes.select(col("node"), lit(HitsScale).as("hub")))
    var auth = nodes.select(col("node"), lit(0L).as("auth"))
    for (i <- 1 to iters) {
      auth = halfRound(hub, "hub", from = "src", to = "dst", outCol = "auth",
        pad = i == iters)
      hub = halfRound(auth, "auth", from = "dst", to = "src", outCol = "hub",
        pad = i == iters)
    }
    val out = auth.join(hub, "node")
    nodes.unpersist(); e.unpersist()
    out
  }

  /** q_hits — [[hits]] on the crawl edge graph, 3 rounds. */
  def hitsQuery(s: SparkSession, d: String): DataFrame =
    hits(Tables.edgesShared(s, d)).orderBy(col("node"))

  val hitsSql: String = {
    // unrolled rounds (the pageRankSql convention): DuckDB's recursive
    // CTE can't hold two working tables; `//` is DuckDB floor division
    // = Spark `div` on the nonnegative scores.
    def half(prev: String, from: String, to: String, rawName: String,
      outName: String, outCol: String, prevCol: String): String =
      s"""$rawName AS (
         |  SELECT n.node, coalesce(s.raw, 0)::BIGINT AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.$to AS node, sum(p.$prevCol)::BIGINT AS raw
         |    FROM $prev p JOIN edges e ON e.$from = p.node
         |    GROUP BY e.$to) s ON s.node = n.node
         |), $outName AS (
         |  SELECT node, (raw * $HitsScale) // greatest(t, 1) AS $outCol
         |  FROM $rawName CROSS JOIN (SELECT sum(raw)::BIGINT AS t FROM $rawName)
         |)""".stripMargin
    val rounds = (1 to HitsIters).map { i =>
      val prevHub = if (i == 1) "h0" else s"h${i - 1}"
      half(prevHub, "src", "dst", s"ar$i", s"a$i", "auth", "hub") + ",\n" +
        half(s"a$i", "dst", "src", s"hr$i", s"h$i", "hub", "auth")
    }.mkString(",\n")
    s"""WITH ${Tables.edgesSql},
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), h0 AS (
       |  SELECT node, $HitsScale::BIGINT AS hub FROM nodes
       |),
       |$rounds
       |SELECT a.node, a.auth, h.hub
       |FROM a$HitsIters a JOIN h$HitsIters h USING (node)
       |ORDER BY node""".stripMargin
  }
}
